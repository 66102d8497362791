"""Benchmark for data_transform_make_spark: two workloads, end-to-end
metrics, and a traced run for per-layer metrics. See perfbench/README.md.

    python3 perfbench/run.py --workload order_stream --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Run:
    """State of one benchmark run: the session, the tracer, the pass log."""

    def __init__(self, args):
        from common import WORK, cpu_times, fresh_dir

        self.cpu0 = cpu_times()
        self.args = args
        self.dir = fresh_dir(os.path.join(WORK, f"run-{args.workload}-{os.getpid()}"))
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}
        self.spark = None
        self.tr = None

    def start(self) -> None:
        from common import Tracer, reset_peak_rss, start_session

        reset_peak_rss()
        t = time.time()
        self.spark = start_session(self.dir, eventlog=bool(self.args.trace))
        self.start_s = time.time() - t
        self.tr = Tracer(self.spark, f"{self.args.workload}-{self.args.seed}-{os.getpid()}",
                         enabled=bool(self.args.trace))

    def attempt(self, fn, *a) -> None:
        """Run one output check; a raise or a mismatch fails the operation."""
        self.attempted += 1
        try:
            bad = fn(*a)
        except Exception:  # a failing pass is a result, not a crash
            traceback.print_exc()
            bad = ["raised"]
        if bad:
            self.failed += 1
            log(f"check failed: {bad}")


def timed_passes(run: Run, one_pass, budget: float) -> list[float]:
    """Timed passes until the next one would overrun ``budget`` seconds of
    pass time (at least three, for a median)."""
    times: list[float] = []
    while len(times) < 3 or sum(times) + sorted(times)[len(times) // 2] <= budget:
        times.append(one_pass(len(times)))
    return times


# ------------------------------------------------------------------ stream

def run_order_stream(run: Run) -> dict:
    import webhooks as W
    from common import median, quantile

    secs = run.args.seconds
    warm = W.WARMUP_CALLS  # ticks 0..warm-1 warm up, one call each
    n_gen = int(secs / W.TICK_S) + 4  # at most this many open-loop ticks
    first_probe = warm + n_gen
    probe_ticks = [range(first_probe + i * W.PROBE_TICKS, first_probe + (i + 1) * W.PROBE_TICKS)
                   for i in range(W.PROBES)]
    data = W.stream_data(run.args.seed, probe_ticks[-1][-1] + 1)
    t = time.time()
    run.start()
    st = W.OrderStream(run.spark, data, os.path.join(run.dir, "stream"))
    with run.tr.span("session", "warmup", phase="warmup"):
        for k in range(warm):
            st.publish(k)
            with run.tr.span("streaming.pipelines", "call"):
                st.call()
    setup_s = time.time() - t
    run.layer["session.start_s"] = run.start_s
    run.layer["session.warmup_s"] = setup_s - run.start_s

    t0 = time.time() + 0.05
    gen_thread = W.TickGenerator(st, warm, n_gen, t0)
    calls: list[dict] = []  # start, end, last committed batch
    seen = 0  # ticks visible when the last call started
    idle = 0.0

    def call() -> None:
        c = {"start": time.time()}
        with run.tr.span("streaming.pipelines", "call", phase="timed"):
            st.call()
        c["end"], c["batch"] = time.time(), st.last_batch()
        calls.append(c)

    gen_thread.start()
    try:
        while time.time() < t0 + secs:
            visible = len(gen_thread.due)
            if visible == seen:
                now = time.time()
                time.sleep(0.005)
                idle += time.time() - now
                continue
            seen = visible
            call()
    finally:
        gen_thread.stop_evt.set()
        gen_thread.join(timeout=30)
    open_ticks = sorted(gen_thread.due)
    if len(open_ticks) > seen:  # commit what arrived during the last call
        call()

    # capacity: a backlog of PROBE_TICKS files committed by one call, PROBES times
    probes = []
    for ticks in probe_ticks:
        for k in ticks:
            st.publish(k)
        c0 = time.time()
        with run.tr.span("streaming.pipelines", "probe", phase="probe"):
            st.call()
        probes.append(time.time() - c0)
    committed_ticks = [*open_ticks, *(k for ticks in probe_ticks for k in ticks)]
    all_ticks = [*range(warm), *committed_ticks]

    per_tick = W.PER_TICK["orders"]
    committed = st.committed()
    lat: list[float] = []
    records: dict[int, int] = {}  # batch id -> webhooks, open loop only
    for k in committed_ticks:
        run.attempted += per_tick
        b = committed.get(W.tick_name(k))
        end = next((c["end"] for c in calls if b is not None and c["batch"] >= b), None)
        if b is None:
            run.failed += per_tick
        elif k in gen_thread.due:
            lat += [end - gen_thread.due[k]] * per_tick
            records[b] = records.get(b, 0) + per_tick
    try:
        if W.state_of(st.inventory) != W.expected_state(data, all_ticks, events=False):
            log("check failed: stream state")
            run.failed = run.attempted
    except Exception:  # a failing check is a result, not a crash
        traceback.print_exc()
        run.failed = run.attempted
    log(f"order_stream {len(calls)} calls {[round(c['end'] - c['start'], 2) for c in calls]}, "
        f"{len(lat)} latency samples, probes {[round(p, 2) for p in probes]}")

    if run.args.trace:
        points, last = [], 0
        for c in calls:
            n = sum(v for b, v in records.items() if last < b <= c["batch"])
            points.append((n, c["end"] - c["start"]))
            last = c["batch"]
        points += [(W.PROBE_TICKS * per_tick, p) for p in probes]
        fixed, slope = _fit(points)
        run.layer["streaming.pipelines.call_s"] = median([p[1] for p in points])
        run.layer["streaming.pipelines.fixed_s"] = fixed
        run.layer["streaming.pipelines.per_krecord_s"] = slope * 1000
        run.layer["streaming.pipelines.idle_share"] = idle / (calls[-1]["end"] - t0)
        run.layer["streaming.pipelines.latency_samples"] = len(lat)
        run.layer["streaming.generator_late_max_s"] = max(gen_thread.late, default=0.0)
        run.raw_input_bytes = sum(os.path.getsize(os.path.join(data, "orders", W.tick_name(k)))
                                  for k in open_ticks)
        run.layer["trace.records_per_s"] = W.PROBE_TICKS * per_tick / median(probes)

        # the same inputs through the batch layers, split at each boundary
        out = os.path.join(run.dir, "batch")
        W.stage_batch(data, all_ticks, out)
        with run.tr.span("pass", "materialized", phase="materialized"):
            counts = W.batch_pass(run.spark, run.tr, out)
        run.attempted += 1
        if W.state_of(run.spark.read.parquet(os.path.join(out, "inventory"))) != \
                W.expected_state(data, all_ticks, events=True):
            log("check failed: batch replay state")
            run.failed += 1
        run.layer["sources.ingest.parsed_ratio"] = counts["parsed"] / counts["bodies"]
        run.layer["plans.order_pipeline.admitted_ratio"] = (
            counts["admitted"] / max(1, counts["admitted"] + counts["rejected"]))
    return {"records_per_s": W.PROBE_TICKS * per_tick / median(probes),
            "latency_p50_s": median(lat), "latency_p90_s": quantile(lat, 0.9),
            "setup_s": setup_s}


def _fit(points):
    """Least-squares intercept and slope of call time on records per call."""
    n = len(points)
    mx = sum(p[0] for p in points) / n
    my = sum(p[1] for p in points) / n
    sxx = sum((p[0] - mx) ** 2 for p in points)
    if sxx == 0:
        return my, 0.0
    slope = sum((p[0] - mx) * (p[1] - my) for p in points) / sxx
    return my - slope * mx, slope


# ----------------------------------------------------------------- curation

def run_curation(run: Run) -> dict:
    import curation as C
    from common import median, quantile

    data = C.docs_data(run.args.seed)
    exp = C.expected(data)
    passes = os.path.join(run.dir, "passes")

    def staged(i):
        out = os.path.join(passes, f"p{i}")
        os.makedirs(out, exist_ok=True)
        C.stage_pass_inputs(data, out)
        return out

    warm = [staged(f"warmup{i}") for i in range(C.WARMUP_PASSES)]
    t = time.time()
    run.start()
    with run.tr.span("session", "warmup", phase="warmup"):
        for out in warm:
            C.curation_pass(run.spark, run.tr, out)
    setup_s = time.time() - t
    run.layer["session.start_s"] = run.start_s
    run.layer["session.warmup_s"] = setup_s - run.start_s
    for out in warm:
        run.attempt(C.check, run.spark, data, out)

    if run.args.trace:
        out = staged("materialized")
        with run.tr.span("pass", "materialized", phase="materialized"):
            counts = C.materialized_pass(run.spark, run.tr, out)
        run.layer["operators.dedup.candidate_pairs"] = counts["candidates"]
        run.layer["operators.dedup.pair_yield"] = counts["pairs"] / max(1, counts["candidates"])
        run.layer["operators.graph.cc_path"] = 0.0 if counts["pairs"] <= C.CC_GATE else 1.0

    def one(i):
        out = staged(i)
        t0 = time.time()
        with run.tr.span("pass", "timed", phase="timed"):
            C.curation_pass(run.spark, run.tr, out)
        dt = time.time() - t0
        run.attempt(C.check, run.spark, data, out)
        shutil.rmtree(out, ignore_errors=True)
        return dt

    times = timed_passes(run, one, run.args.seconds)
    rps = exp["docs"] / median(times)
    log(f"curation passes {[round(x, 3) for x in times]}")
    if run.args.trace:
        run.layer["trace.records_per_s"] = rps
        run.n_timed = len(times)
    return {"records_per_s": rps, "latency_p50_s": median(times),
            "latency_p90_s": quantile(times, 0.9), "setup_s": setup_s}


WORKLOADS = {"order_stream": run_order_stream, "curation": run_curation}


# ---------------------------------------------------------------- per layer

LAYERS = ("session", "sources.ingest", "sources.sinks", "plans.order_pipeline",
          "plans.process_pipeline", "plans.training_corpus", "operators.dedup",
          "operators.graph", "streaming.pipelines")


def layer_metrics(run: Run, ev_dir: str, names) -> dict[str, float]:
    """Per-layer metrics from the spans and the event log: busy (self)
    time from the materialized pass, counters from the timed passes."""
    from common import layer_counters, median, read_event_log

    log_ = read_event_log(ev_dir)
    spans = run.tr.spans
    out = dict(run.layer)
    busy = run.tr.self_times("materialized")
    out["sources.ingest.busy_s"] = busy.get("sources.ingest", 0.0)
    out["plans.order_pipeline.busy_s"] = busy.get("plans.order_pipeline", 0.0)
    out["plans.process_pipeline.busy_s"] = busy.get("plans.process_pipeline", 0.0)
    out["sources.sinks.busy_s"] = busy.get("sources.sinks", 0.0)
    tc = [s for s in spans if s["phase"] == "materialized" and s["layer"] == "plans.training_corpus"]
    out["plans.training_corpus.base_busy_s"] = sum(
        s["end"] - s["start"] for s in tc if s["action"] == "base")
    out["plans.training_corpus.decon_busy_s"] = sum(
        s["end"] - s["start"] for s in tc if s["action"] == "decon")
    out["operators.dedup.pairs_busy_s"] = busy.get("operators.dedup", 0.0)
    out["operators.graph.busy_s"] = busy.get("operators.graph", 0.0)

    mat = layer_counters(log_, spans, "materialized")
    timed = layer_counters(log_, spans, "timed")
    warm = layer_counters(log_, spans, "warmup")
    for layer in LAYERS:
        if layer == "session":  # everything the warm-up pass ran
            c = {k: sum(v.get(k, 0) for v in warm.values()) for k in ("tasks", "gc_ms", "spill_b")}
        else:
            c = (timed if layer == "streaming.pipelines" else mat).get(layer, {})
        out[f"{layer}.tasks"] = c.get("tasks", 0)
        out[f"{layer}.gc_s"] = c.get("gc_ms", 0) / 1000.0
        out[f"{layer}.spill_mb"] = c.get("spill_b", 0) / 1e6
    op = mat.get("plans.order_pipeline", {})
    out["plans.order_pipeline.shuffle_write_mb"] = op.get("shuffle_w_b", 0) / 1e6
    skews = []
    for stg in op.get("stages", []):
        if any(s == "Window" for s in stg["scopes"]) and stg["durations"]:
            d = sorted(stg["durations"])
            skews.append(d[-1] / max(1, median(d)))
    out["plans.order_pipeline.skew"] = max(skews, default=0.0)

    # raw-input bytes the timed calls read, per byte committed
    raw_read = sum(stg["input_b"] for c in timed.values() for stg in c["stages"]
                   if any(sc.startswith("Scan json") for sc in stg["scopes"]))
    raw_size = getattr(run, "raw_input_bytes", 0)
    out["sources.ingest.scans_per_pass"] = raw_read / raw_size if raw_size else 0.0
    # bytes the sinks layer wrote per pass
    if "sources.sinks" in mat:
        out["sources.sinks.written_mb"] = mat["sources.sinks"]["output_b"] / 1e6
    else:
        out["sources.sinks.written_mb"] = (timed.get("sources.sinks", {}).get("output_b", 0)
                                           / max(1, getattr(run, "n_timed", 1)) / 1e6)
    for name in names:  # a layer the workload does not run reads 0
        out.setdefault(name, 0.0)
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "data_transform_make_spark")):
        log(f"data_transform_make_spark not found under {ROOT}: run from a checkout root")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    sys.path[:0] = [HERE, ROOT]
    from common import cpu_times, peak_rss_mb, steal_share, stop_session

    # a termination signal unwinds through the session stop below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args)
    try:
        e2e = WORKLOADS[args.workload](run)
        e2e["peak_rss_mb"] = peak_rss_mb(run.spark)
        ev_dir = os.path.join(run.dir, "eventlog")
        if run.tr is not None:
            run.tr.dump(os.path.join(run.dir, "spans.json"))
    finally:
        stop_session(run.spark)
    run.layer["host.cpu_steal_share"] = steal_share(run.cpu0, cpu_times())
    if args.trace:
        metrics = {k: {"value": float(v), "unit": layer_units[k]}
                   for k, v in layer_metrics(run, ev_dir, layer_units).items() if k in layer_units}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in units.items()}
    for k, m in sorted(metrics.items()):
        print(f"{args.workload} {k} = {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} error_rate = {run.failed / max(1, run.attempted):.6g} "
          f"(failed {run.failed} of {run.attempted})")
    print(f"{args.workload} host cpu steal share = {run.layer['host.cpu_steal_share']:.3f}")
    # keep only a traced run's spans and event log
    for name in os.listdir(run.dir):
        if not (args.trace and name in ("spans.json", "eventlog")):
            path = os.path.join(run.dir, name)
            if os.path.isdir(path):
                shutil.rmtree(path)
            else:
                os.remove(path)
    if not args.trace:
        os.rmdir(run.dir)
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
