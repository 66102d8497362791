"""The ``order_stream`` workload: raw order webhook bodies arrive as files
from an open-loop generator and are committed by resumable micro-batch
calls of ``streaming_order_pipeline`` over ``ingest_with_reason`` on a
file stream. Also the batch webhook pass (ingest -> order pipeline ->
every output written and merged -> process pipeline -> merge) that the
traced run uses to split the same order bodies, plus process events, by
layer."""

from __future__ import annotations

import json
import os
import random
import shutil
import threading
import time

from pyspark.sql import functions as F
from pyspark.sql import types as T

import gen
import replay
from common import DATA, copy_tree, fresh_dir

from data_transform_make_spark.plans.order_pipeline import order_webhook_pipeline
from data_transform_make_spark.plans.process_pipeline import process_webhook_pipeline
from data_transform_make_spark.sources.ingest import ingest_with_reason
from data_transform_make_spark.sources.sinks import merge_upsert_path
from data_transform_make_spark.streaming.pipelines import streaming_order_pipeline

N_SKUS = 2_000
ZIPF_S = 1.1  # SKU popularity skew
TICK_S = 0.25  # the generator publishes one order file per tick
PER_TICK = {"orders": 50, "events": 30}  # 200 order webhooks/s; events feed the batch pass
WARMUP_CALLS = 16  # warm-up: single-file calls, untimed, until the JIT levels off
PROBES = 8  # capacity probes after the open loop (with four, a brief host slowdown moved the median)
PROBE_TICKS = 12  # backlog files per capacity probe (600 webhooks)
STOCK = 10**8  # ample: no line is rejected, so micro-batches replay globally

ID = {"orders": "webhook_id", "events": "event_id"}
RAW = {kind: f"{col} long, raw_body string" for kind, col in ID.items()}
BODY = {
    "orders": T.StructType([
        T.StructField("status", T.StringType()),
        T.StructField("line_items", T.ArrayType(T.StructType([
            T.StructField("inventory_id", T.StringType()),
            T.StructField("bag_model_website", T.StringType()),
            T.StructField("qty_website", T.StringType()),
        ]))),
    ]),
    "events": T.StructType([
        T.StructField("status", T.StringType()),
        T.StructField("previous_status", T.StringType()),
        T.StructField("inventory_id", T.StringType()),
    ]),
}


def parsed(tagged, kind: str):
    """The parsed leg of an ingest frame, in the pipeline's input shape."""
    good = tagged.where(F.col("record").isNotNull())
    if kind == "orders":
        return good.select("webhook_id", "record.status", "record.line_items")
    return good.select("event_id", "record.*")


def tick_name(k: int) -> str:
    return f"part-{k:06d}.json"


def stream_data(seed: int, n_ticks: int) -> str:
    """Generate (or reuse) ``n_ticks`` pre-rendered tick files per kind and
    the starting inventory."""
    def build(d: str) -> None:
        rng = random.Random(f"order_stream:{seed}")
        bodies = {
            "orders": gen.order_bodies(rng, n_ticks * PER_TICK["orders"], 1,
                                       gen.Zipf(N_SKUS, ZIPF_S)),
            "events": gen.process_bodies(rng, n_ticks * PER_TICK["events"], N_SKUS, 1),
        }
        for kind, rows in bodies.items():
            gen.write_jsonl(os.path.join(d, kind), ID[kind], rows,
                            n_files=n_ticks, name=tick_name)
        gen.write_inventory(os.path.join(d, "inventory"),
                            gen.inventory_rows(rng, N_SKUS, STOCK))

    return gen.cached(DATA, f"order_stream-s{seed}-t{n_ticks}-{PER_TICK['orders']}"
                            f"-{PER_TICK['events']}-{N_SKUS}", build)


def read_ticks(data: str, kind: str, ticks) -> list[tuple[int, str]]:
    rows = []
    for k in ticks:
        with open(os.path.join(data, kind, tick_name(k)), encoding="utf-8") as fh:
            rows += [(d[ID[kind]], d["raw_body"]) for d in map(json.loads, fh)]
    return rows


def expected_state(data: str, ticks, events: bool) -> dict:
    """Replay of the given ticks' orders (and, with ``events``, their
    process events) over the starting inventory. Stock never runs out, so
    the result does not depend on how the ticks were split into
    micro-batches."""
    import pyarrow.parquet as pq

    inv = {r["inventory_id"]: r
           for r in pq.read_table(os.path.join(data, "inventory")).to_pylist()}
    lines = replay.order_lines(read_ticks(data, "orders", ticks))
    admitted, rejected = replay.admit(lines, {k: r["general_stock_qty"] for k, r in inv.items()})
    if rejected:
        raise ValueError("stream stock must admit every line")
    state = replay.apply_orders(inv, admitted)
    if events:
        state = replay.apply_process(state, replay.process_events(read_ticks(data, "events", ticks)))
    return state


def state_of(df) -> dict:
    return {r["inventory_id"]: r.asDict() for r in df.collect()}


class OrderStream:
    """A resumable order stream over a file source.

    ``call()`` runs ``streaming_order_pipeline`` in its resumable form —
    ``checkpoint_dir`` + ``state_dir``, previous post-state as
    ``inventory`` — over ``ingest_with_reason`` on the file stream, then
    drops state epochs the new post-state no longer reads.
    """

    def __init__(self, spark, data: str, work: str):
        self.spark, self.data = spark, data
        self.src = fresh_dir(os.path.join(work, "src"))
        self.checkpoint = os.path.join(work, "checkpoint")
        self.state = os.path.join(work, "state")
        self.inventory = spark.read.parquet(
            copy_tree(os.path.join(data, "inventory"), os.path.join(work, "inventory0")))

    def publish(self, k: int) -> None:
        """Atomically publish order tick ``k`` (write aside, then rename)."""
        with open(os.path.join(self.data, "orders", tick_name(k)), "rb") as fin:
            payload = fin.read()
        tmp = os.path.join(self.src, f".tmp-{k:06d}")
        with open(tmp, "wb") as fout:
            fout.write(payload)
        os.rename(tmp, os.path.join(self.src, tick_name(k)))

    def call(self) -> None:
        raw = self.spark.readStream.schema(RAW["orders"]).json(self.src)
        self.inventory = streaming_order_pipeline(
            self.spark, parsed(ingest_with_reason(raw, BODY["orders"]), "orders"),
            self.inventory, state_dir=self.state, checkpoint_dir=self.checkpoint)
        live = {os.path.dirname(p) for p in self.inventory.inputFiles()}
        for name in os.listdir(self.state):
            path = os.path.join(self.state, name)
            if name.startswith("epoch_") and not any(x.endswith(path) for x in live):
                shutil.rmtree(path, ignore_errors=True)

    def committed(self) -> dict[str, int]:
        """File name -> batch id, from the file source's metadata log."""
        out = {}
        log = os.path.join(self.checkpoint, "sources", "0")
        for name in os.listdir(log):
            if name.startswith("."):
                continue
            with open(os.path.join(log, name)) as fh:
                for line in fh:
                    if line.startswith("{"):
                        e = json.loads(line)
                        out[os.path.basename(e["path"])] = e["batchId"]
        return out

    def last_batch(self) -> int:
        commits = os.path.join(self.checkpoint, "commits")
        return max((int(n) for n in os.listdir(commits) if n.isdigit()), default=-1)


class TickGenerator(threading.Thread):
    """Open loop: publishes tick ``first + j`` at ``t0 + j * TICK_S``
    whatever the consumer is doing, and records when each was due and how
    late it was written."""

    def __init__(self, stream: OrderStream, first: int, n: int, t0: float):
        super().__init__(daemon=True)
        self.stream, self.first, self.n, self.t0 = stream, first, n, t0
        self.stop_evt = threading.Event()
        self.due: dict[int, float] = {}
        self.late: list[float] = []

    def run(self) -> None:
        for j in range(self.n):
            due = self.t0 + j * TICK_S
            if self.stop_evt.wait(max(0.0, due - time.time())):
                return
            self.stream.publish(self.first + j)
            self.late.append(time.time() - due)
            self.due[self.first + j] = due


# -------------------------------------------------------------- batch pass

def stage_batch(data: str, ticks, out: str) -> None:
    """Batch inputs for ``batch_pass``: the given ticks' raw files and a
    fresh copy of the starting store."""
    fresh_dir(out)
    for kind in RAW:
        os.makedirs(os.path.join(out, f"in_{kind}"))
        for k in ticks:
            shutil.copy(os.path.join(data, kind, tick_name(k)), os.path.join(out, f"in_{kind}"))
    copy_tree(os.path.join(data, "inventory"), os.path.join(out, "inventory"))


def batch_pass(spark, tr, out: str) -> dict:
    """The webhook ETL as one batch, split at every layer boundary: raw
    order bodies -> ingest -> order pipeline -> every output written and
    the post-state merged into the store; raw process bodies -> ingest ->
    process pipeline over that post-state -> dead letters written, merge.

    Each layer's output is persisted and counted inside its own span, so
    a span's self time is that layer's own work. Returns the parsed,
    admitted and rejected counts."""
    store = os.path.join(out, "inventory")
    held = []

    def cut(df):
        df = df.persist()
        df.count()
        held.append(df)
        return df

    counts: dict = {}
    try:
        raw = spark.read.schema(RAW["orders"]).json(os.path.join(out, "in_orders"))
        with tr.span("sources.ingest", "orders"):
            tagged = cut(ingest_with_reason(raw, BODY["orders"]))
        dead = tagged.where(F.col("reject_reason").isNotNull()).select("webhook_id", "reject_reason")
        with tr.span("plans.order_pipeline", "orders"):
            res = order_webhook_pipeline(parsed(tagged, "orders"), spark.read.parquet(store))
            rejects, applied, post = cut(res.rejects), cut(res.applied_lines), cut(res.updated_inventory)
        with tr.span("sources.sinks", "orders"):
            dead.write.parquet(os.path.join(out, "order_dead"))
            rejects.write.parquet(os.path.join(out, "rejects"))
            applied.write.parquet(os.path.join(out, "applied"))
            merge_upsert_path(spark, store, post, ["inventory_id"])

        raw_ev = spark.read.schema(RAW["events"]).json(os.path.join(out, "in_events"))
        with tr.span("sources.ingest", "events"):
            tagged_ev = cut(ingest_with_reason(raw_ev, BODY["events"]))
        ev_dead = tagged_ev.where(F.col("reject_reason").isNotNull()).select("event_id", "reject_reason")
        with tr.span("plans.process_pipeline", "events"):
            pres = process_webhook_pipeline(parsed(tagged_ev, "events"), spark.read.parquet(store))
            updated = cut(pres.updated_inventory)
            dead_all = cut(ev_dead.unionByName(pres.dead_letter.select("event_id", "reject_reason")))
        with tr.span("sources.sinks", "events"):
            dead_all.write.parquet(os.path.join(out, "event_dead"))
            merge_upsert_path(spark, store, updated, ["inventory_id"])

        with tr.span("bench", "counters"):
            counts["bodies"] = tagged.count() + tagged_ev.count()
            counts["parsed"] = (tagged.where(F.col("reject_reason").isNull()).count()
                                + tagged_ev.where(F.col("reject_reason").isNull()).count())
            counts["admitted"] = applied.count()
            counts["rejected"] = rejects.count()
    finally:
        for df in held:
            df.unpersist()
    return counts
