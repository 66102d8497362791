"""Streaming pipeline tests (SURVEY.md §2.8): windowed agg parity with the
batch twin, cross-batch idempotent dedup, and the §3.1 pipeline as a
foreachBatch stream over rate-limited micro-batches."""

import pyspark.sql.types as T
from pyspark.sql import functions as F

from data_transform_make_spark.sources.loader import load_table
from data_transform_make_spark.streaming.pipelines import (
    streaming_click_purchase_join,
    streaming_dedup_count,
    streaming_order_pipeline,
    streaming_counters_native,
    streaming_session_window,
    streaming_stateful_counters,
    streaming_window_agg,
)


def test_stream_window_matches_batch(spark, sf_dir):
    got = {
        (r.window_start, r.event_type): r.n
        for r in streaming_window_agg(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    want = {
        (r.window_start, r.event_type): r.n
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").cast("string").alias("window_start"),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_stream_session_window_matches_batch_sessionize(spark, sf_dir):
    """The streaming session_window agg equals the batch gaps-and-islands
    restatement (the st5 oracle shape) on the events fixture."""
    got = {
        (r.session_start_us, r.session_end_us, r.user_id): r.n_events
        for r in streaming_session_window(spark, sf_dir, gap="30 minutes").collect()
    }
    ev = load_table(spark, sf_dir, "events")
    w = F.expr(
        "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
    )
    # exact micros, not cast('long') seconds: the fixture timestamps have
    # sub-second parts, and a seconds-truncated diff can call a
    # (1800s, 1801s) gap equal to the 30-min boundary while session_window
    # (exact event time, strictly > gap splits) sees it as beyond.
    g = ev.withColumn(
        "is_new",
        F.when(
            w.isNull()
            | (F.unix_micros(F.col("ts")) - F.unix_micros(w) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    s = g.withColumn(
        "sid",
        F.expr(
            "sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS UNBOUNDED PRECEDING)"
        ),
    )
    want = {
        (r.session_start_us, r.session_end_us, r.user_id): r.n_events
        for r in s.groupBy("user_id", "sid")
        .agg(
            F.unix_micros(F.min("ts")).alias("session_start_us"),
            (F.unix_micros(F.max("ts")) + 30 * 60 * 1_000_000).alias("session_end_us"),
            F.count("*").alias("n_events"),
        )
        .collect()
    }
    assert got == want


def test_session_window_boundary_merges_at_exact_gap(spark, tmp_path):
    """An event exactly gap after its predecessor merges (adjacent
    [t, t+gap) ranges union); strictly beyond the gap splits — the `>`
    convention the st5/w3 oracles encode."""
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 0)),
        (1, dt.datetime(2024, 1, 1, 0, 30, 0)),  # exactly gap -> merges
        (2, dt.datetime(2024, 1, 1, 0, 0, 0)),
        (2, dt.datetime(2024, 1, 1, 0, 30, 0, 1)),  # 1 us beyond -> splits
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = (
        df.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select("user_id", "n")
    )
    counts = sorted((r.user_id, r.n) for r in out.collect())
    assert counts == [(1, 2), (2, 1), (2, 1)]


def test_stream_dedup_is_idempotent(spark, sf_dir):
    got = {r.event_type: r.n for r in streaming_dedup_count(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    want = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert got == want  # doubled stream deduped back to single-copy counts


def test_stream_stateful_counters_match_batch(spark, sf_dir):
    got = {
        r.user_id: (r.n, r.total_cents)
        for r in streaming_stateful_counters(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    want = {
        r.user_id: (r.n, r.total_cents)
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
        )
        .collect()
    }
    assert got == want  # final emitted state == batch aggregate


def test_native_counters_identical_to_arrow_fold(spark, sf_dir):
    """The r15 st3ab A/B's identity assert, made permanent (r15 verdict
    item 2): the shipped native update-mode fold
    (``streaming_counters_native`` — measured ×1.45–2.4 faster, the
    production default for expressible folds) emits EXACTLY the Arrow
    stateful form's counters on the full events fixture — every user,
    exact cents. This pins the rounding-parity argument (Spark ``round``
    HALF_UP on shortest-decimal == money_round_units on ties/near-ties)
    with data, not just the docstring."""
    arrow = {
        r.user_id: (r.n, r.total_cents)
        for r in streaming_stateful_counters(spark, sf_dir).collect()
    }
    native = {
        r.user_id: (r.n, r.total_cents)
        for r in streaming_counters_native(spark, sf_dir).collect()
    }
    assert native == arrow
    assert len(native) > 0


def test_pandas_money_fold_matches_sql_round_on_float_ties():
    """The pandas-side cents folds (st3's stateful counter, ga1's grouped
    agg) must round HALF AWAY FROM ZERO like their SQL twins — via the
    sign-aware functions/money.py fold — because pandas' own .round() is
    half-to-even and exact .5 float ties are REAL: 0.005 * 100 == 0.5
    exactly in float64. The fixture carries no tie values (which is why
    the old fold's driver rows were green); this pins the convention on
    the tie itself, against DuckDB (review, round 13). Negative ties are
    pinned separately in tests/test_money_round.py (round 14)."""
    import duckdb
    import pandas as pd

    from data_transform_make_spark.functions.money import money_round_units

    vals = [0.005, 0.015, 1.005, 12.34, 0.5, 2.675]
    s = pd.Series(vals, dtype="float64")
    engine = money_round_units(s, 100).tolist()
    # CAST to DOUBLE: the oracle columns are parquet doubles — a bare
    # SQL literal would be DECIMAL and round in decimal arithmetic
    # (1.005 * 100 = 100.500 exactly), which is not the comparison the
    # driver performs
    oracle = [
        duckdb.sql(
            f"SELECT CAST(round(CAST({v!r} AS DOUBLE) * 100) AS BIGINT)"
        ).fetchone()[0]
        for v in vals
    ]
    assert engine == oracle
    # the trap this replaces: pandas half-to-even disagrees on the tie
    assert (s * 100).round().astype("int64").tolist() != oracle


def test_stream_stream_join_matches_batch(spark, sf_dir):
    got = {
        (r.click_id, r.purchase_id)
        for r in streaming_click_purchase_join(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("cid"), F.col("ts").alias("cts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("pid"), F.col("ts").alias("pts")
    )
    want = {
        (r.cid, r.pid)
        for r in c.join(
            p,
            (F.col("cu") == F.col("pu"))
            & (F.col("pts") >= F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 10 MINUTES")),
        ).collect()
    }
    assert got == want


ITEM = T.StructType(
    [
        T.StructField("inventory_id", T.StringType()),
        T.StructField("bag_model_website", T.StringType()),
        T.StructField("qty_website", T.StringType()),
    ]
)
WEBHOOKS = T.StructType(
    [
        T.StructField("webhook_id", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("line_items", T.ArrayType(ITEM)),
    ]
)
INVENTORY = T.StructType(
    [
        T.StructField("inventory_id", T.StringType()),
        T.StructField("bag_model", T.StringType()),
        T.StructField("general_stock_qty", T.IntegerType()),
        T.StructField("qty_office", T.IntegerType()),
    ]
)


def test_streaming_order_pipeline(spark, tmp_path):
    rows = [
        (1, "Approved", [("I1", "Tote", "3")]),
        (2, "Approved", [("I1", "Tote", "4"), ("I2", "Duffel", "2")]),
    ]
    src = str(tmp_path / "webhooks")
    spark.createDataFrame(rows, WEBHOOKS).coalesce(1).write.parquet(src)
    inventory = spark.createDataFrame(
        [("I1", "Tote", 10, 0), ("I2", "Duffel", 5, 1)], INVENTORY
    )
    stream = spark.readStream.schema(WEBHOOKS).parquet(src)
    post = streaming_order_pipeline(spark, stream, inventory)
    state = {r.inventory_id: r for r in post.collect()}
    assert (state["I1"].general_stock_qty, state["I1"].qty_office) == (3, 7)
    assert (state["I2"].general_stock_qty, state["I2"].qty_office) == (3, 3)


def test_streaming_order_pipeline_multi_epoch(spark, tmp_path):
    """Two micro-batches (maxFilesPerTrigger=1): the post-state of epoch 0
    must feed epoch 1 through the parquet checkpoint, and only the final
    epoch's checkpoint may remain on disk (bounded state storage)."""
    src = str(tmp_path / "webhooks")
    spark.createDataFrame(
        [(1, "Approved", [("I1", "Tote", "3")])], WEBHOOKS
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(2, "Approved", [("I1", "Tote", "4"), ("I2", "Duffel", "2")])], WEBHOOKS
    ).coalesce(1).write.mode("append").parquet(src)
    inventory = spark.createDataFrame(
        [("I1", "Tote", 10, 0), ("I2", "Duffel", 5, 1)], INVENTORY
    )
    stream = (
        spark.readStream.schema(WEBHOOKS)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    state_dir = str(tmp_path / "state")
    post = streaming_order_pipeline(spark, stream, inventory, state_dir=state_dir)
    state = {r.inventory_id: r for r in post.collect()}
    assert (state["I1"].general_stock_qty, state["I1"].qty_office) == (3, 7)
    assert (state["I2"].general_stock_qty, state["I2"].qty_office) == (3, 3)
    import os

    epochs = [d for d in os.listdir(state_dir) if d.startswith("epoch_")]
    assert len(epochs) == 1, f"consumed epochs must be cleaned up, found {epochs}"


def _raw_order_stream(spark, src):
    """Raw order bodies -> ingest -> the parsed leg, one file per
    micro-batch in file-mtime order."""
    from data_transform_make_spark.sources.ingest import ingest_with_reason

    body = T.StructType([WEBHOOKS["status"], WEBHOOKS["line_items"]])
    raw = (
        spark.readStream.schema("webhook_id long, raw_body string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    return (
        ingest_with_reason(raw, body)
        .where(F.col("record").isNotNull())
        .select("webhook_id", "record.status", "record.line_items")
    )


def _write_bodies(src, name, rows, mtime):
    import json
    import os

    os.makedirs(src, exist_ok=True)
    path = os.path.join(src, name)
    with open(path, "w") as fh:
        for wid, body in rows:
            fh.write(json.dumps({"webhook_id": wid, "raw_body": body}) + "\n")
    os.utime(path, (mtime, mtime))


def test_streaming_order_all_dead_letter_batch_applies_nothing(spark, tmp_path):
    """A micro-batch whose bodies are all dead-lettered applies like any
    other batch: zero lines, counters read parseInt(x || 0). Before a
    normal batch it leaves the final state unchanged; on its own it only
    normalizes the NULL counter."""
    inventory = spark.createDataFrame(
        [("I1", "Tote", 10, None), ("I2", "Duffel", 5, 1)], INVENTORY
    )
    dead = [(1, "{bad"), (2, "[1, 2]"), (3, "not json")]
    good = [
        (4, '{"status": "Approved", "line_items": [{"inventory_id": "I1",'
            ' "bag_model_website": "Tote", "qty_website": "3"}]}'),
    ]

    def run(src, files):
        for i, (name, rows) in enumerate(files):
            _write_bodies(src, name, rows, 1_700_000_000 + 100 * i)
        post = streaming_order_pipeline(spark, _raw_order_stream(spark, src), inventory)
        return {r.inventory_id: (r.general_stock_qty, r.qty_office) for r in post.collect()}

    both = run(str(tmp_path / "both"), [("a.json", dead), ("b.json", good)])
    alone = run(str(tmp_path / "alone"), [("b.json", good)])
    assert both == alone == {"I1": (7, 3), "I2": (5, 1)}
    assert run(str(tmp_path / "dead"), [("a.json", dead)]) == {
        "I1": (10, 0),
        "I2": (5, 1),
    }


def test_streaming_order_pipeline_returns_the_written_schema(spark, tmp_path):
    """The post-state is read back with the schema of the frame that was
    written — ``order_webhook_pipeline(...).updated_inventory`` — not one
    inferred from the files. File sources read every field as nullable,
    so the comparison is on names and types."""
    from data_transform_make_spark.plans.order_pipeline import order_webhook_pipeline

    src = str(tmp_path / "webhooks")
    spark.createDataFrame(
        [(1, "Approved", [("I1", "Tote", "3")])], WEBHOOKS
    ).coalesce(1).write.parquet(src)
    inventory = spark.createDataFrame([("I1", "Tote", 10, 0)], INVENTORY)
    post = streaming_order_pipeline(
        spark, spark.readStream.schema(WEBHOOKS).parquet(src), inventory
    )
    want = order_webhook_pipeline(
        spark.read.schema(WEBHOOKS).parquet(src), inventory
    ).updated_inventory.schema

    def shape(schema):
        return [(f.name, f.dataType) for f in schema]

    assert shape(post.schema) == shape(want)


def test_streaming_process_pipeline(spark, tmp_path):
    from data_transform_make_spark.streaming.pipelines import streaming_process_pipeline

    EVENTS = T.StructType(
        [
            T.StructField("inventory_id", T.StringType()),
            T.StructField("status", T.StringType()),
            T.StructField("previous_status", T.StringType()),
        ]
    )
    INV = T.StructType(
        [
            T.StructField("inventory_id", T.StringType()),
            T.StructField("qty_office", T.IntegerType()),
            T.StructField("qty_warehouse", T.IntegerType()),
            T.StructField("qty_art", T.IntegerType()),
            T.StructField("qty_embroidery", T.IntegerType()),
            T.StructField("qty_sewer", T.IntegerType()),
            T.StructField("qty_completed", T.IntegerType()),
        ]
    )
    rows = [
        ("I1", "Warehouse", "Office"),   # office-1, warehouse+1
        ("I1", "Complete", "Warehouse"), # warehouse-1, completed+1
    ]
    src = str(tmp_path / "events")
    spark.createDataFrame(rows, EVENTS).coalesce(1).write.parquet(src)
    inventory = spark.createDataFrame([("I1", 5, 0, 0, 0, 0, 0)], INV)
    stream = spark.readStream.schema(EVENTS).parquet(src)
    post = {r.inventory_id: r for r in streaming_process_pipeline(spark, stream, inventory).collect()}
    assert post["I1"].qty_office == 4
    assert post["I1"].qty_warehouse == 0
    assert post["I1"].qty_completed == 1


def test_stream_ingest_routing_matches_batch(spark, sf_dir):
    # The streaming dead-letter chain over a static source must reproduce
    # the batch i1 answer exactly (same synthesis grid, same single-pass
    # tagged routing, availableNow catch-up).
    from data_transform_make_spark import corpus

    got = {
        r["leg"]: (r["n"], r["k_sum"])
        for r in corpus.st6_stream_ingest_routing(spark, sf_dir).collect()
    }
    want = {
        r["leg"]: (r["n"], r["k_sum"])
        for r in corpus.i1_ingest_dead_letter(spark, sf_dir).collect()
    }
    assert got == want
    assert set(got) == {"parsed", "invalid_json", "payload_too_large"}
    assert got["payload_too_large"][0] == 0  # grid plants no oversize bodies


def test_stream_static_join_matches_batch(spark, sf_dir):
    """st7: availableNow stream-static broadcast enrichment must equal the
    plain batch join (no streaming state involved)."""
    from data_transform_make_spark.streaming.pipelines import (
        streaming_static_enrichment,
    )

    got = {
        (r.event_id, r.segment, r.value_cents)
        for r in streaming_static_enrichment(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    want = {
        (r.event_id, r.c_mktsegment, r.cents)
        for r in ev.join(cust, "user_id")
        .select(
            "event_id",
            "c_mktsegment",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_stream_hopping_window_matches_batch_expansion(spark, sf_dir):
    """st8: hopping windows (1h width, 30m slide) — every event lands in
    exactly width/slide = 2 windows, and the streamed counts equal the
    batch F.window expansion."""
    from data_transform_make_spark.streaming.pipelines import (
        streaming_window_agg,
    )

    got = {
        (r.window_start, r.event_type, r.n)
        for r in streaming_window_agg(
            spark, sf_dir, window="1 hour", slide="30 minutes"
        ).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    want = {
        (r.window_start, r.event_type, r.n)
        for r in ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n",
        )
        .collect()
    }
    assert got == want and len(got) > 0
    assert sum(n for _, _, n in got) == 2 * ev.count()


def test_streaming_order_pipeline_restart_exactly_once(spark, tmp_path):
    """Exactly-once across a RESTART: with a Structured Streaming
    checkpointLocation, a second run over the same source (resuming from
    the first run's post-state) processes only files that arrived since —
    the already-consumed webhook is never double-applied."""
    src = str(tmp_path / "webhooks")
    cp = str(tmp_path / "cp")

    def stream():
        return (
            spark.readStream.schema(WEBHOOKS)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    inventory = spark.createDataFrame([("I1", "Tote", 10, 0)], INVENTORY)

    spark.createDataFrame(
        [(1, "Approved", [("I1", "Tote", "3")])], WEBHOOKS
    ).coalesce(1).write.mode("append").parquet(src)
    post1 = streaming_order_pipeline(
        spark,
        stream(),
        inventory,
        state_dir=str(tmp_path / "s1"),
        checkpoint_dir=cp,
    )
    r1 = {r.inventory_id: r for r in post1.collect()}
    assert (r1["I1"].general_stock_qty, r1["I1"].qty_office) == (7, 3)

    spark.createDataFrame(
        [(2, "Approved", [("I1", "Tote", "4")])], WEBHOOKS
    ).coalesce(1).write.mode("append").parquet(src)
    post2 = streaming_order_pipeline(
        spark,
        stream(),
        post1,
        state_dir=str(tmp_path / "s2"),
        checkpoint_dir=cp,
    )
    r2 = {r.inventory_id: r for r in post2.collect()}
    # order 1 must NOT re-apply: 7-4=3 / 3+4=7 (a double-apply would
    # give 4-4=0 / 6+4=10)
    assert (r2["I1"].general_stock_qty, r2["I1"].qty_office) == (3, 7)


def test_streaming_order_pipeline_crash_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: after a crash between the state
    write and the offset commit, the SAME batch replays under the SAME
    epoch id. The epoch-keyed _SUCCESS guard must load the committed
    post-state instead of re-applying — simulated FAITHFULLY (advice,
    round 7): the batch's entry is deleted from the checkpoint's commit
    log (offsets/0 stays, commits/0 goes — exactly the on-disk state a
    crash in that window leaves) and the run restarts on the SAME
    checkpoint, so Spark itself re-delivers epoch 0. The earlier
    fresh-checkpoint simulation is now refused by the lineage stamp
    (see test_replay_guard_refuses_fresh_lineage)."""
    import os

    src = str(tmp_path / "webhooks")
    state_dir = str(tmp_path / "state")
    cp = str(tmp_path / "cp")
    spark.createDataFrame(
        [(1, "Approved", [("I1", "Tote", "3")])], WEBHOOKS
    ).coalesce(1).write.mode("append").parquet(src)
    inventory = spark.createDataFrame([("I1", "Tote", 10, 0)], INVENTORY)

    def stream():
        return spark.readStream.schema(WEBHOOKS).parquet(src)

    post1 = streaming_order_pipeline(
        spark, stream(), inventory,
        state_dir=state_dir, checkpoint_dir=cp,
    )
    r1 = {r.inventory_id: r for r in post1.collect()}
    assert (r1["I1"].general_stock_qty, r1["I1"].qty_office) == (7, 3)

    # crash window: state written + offsets/0 recorded, commits/0 never
    # landed — on restart Spark re-delivers the same file as epoch 0
    os.remove(os.path.join(cp, "commits", "0"))
    # ChecksumFs keeps a sibling .crc; a stale one fails the rewrite's
    # rename with a spurious concurrent-modification error
    crc = os.path.join(cp, "commits", ".0.crc")
    if os.path.exists(crc):
        os.remove(crc)
    # resumed caller passes the stored post-state. Without the guard the
    # order re-applies (7-3=4 / 3+3=6); with it the state is unchanged.
    post2 = streaming_order_pipeline(
        spark, stream(), post1,
        state_dir=state_dir, checkpoint_dir=cp,
    )
    r2 = {r.inventory_id: r for r in post2.collect()}
    assert (r2["I1"].general_stock_qty, r2["I1"].qty_office) == (7, 3)


def test_replay_guard_refuses_fresh_lineage(spark, tmp_path):
    """A NEW checkpoint lineage over a SURVIVING state_dir restarts epoch
    ids at 0, so the old lineage's epoch_0/_SUCCESS would be silently
    loaded in place of the new run's first batch. The lineage stamp must
    refuse the combination loudly (advice, round 7)."""
    import pytest

    src = str(tmp_path / "webhooks")
    state_dir = str(tmp_path / "state")
    spark.createDataFrame(
        [(1, "Approved", [("I1", "Tote", "3")])], WEBHOOKS
    ).coalesce(1).write.parquet(src)
    inventory = spark.createDataFrame([("I1", "Tote", 10, 0)], INVENTORY)

    def stream():
        return spark.readStream.schema(WEBHOOKS).parquet(src)

    streaming_order_pipeline(
        spark, stream(), inventory,
        state_dir=state_dir, checkpoint_dir=str(tmp_path / "cp1"),
    )
    with pytest.raises(ValueError, match="bound to checkpoint lineage"):
        streaming_order_pipeline(
            spark, stream(), inventory,
            state_dir=state_dir, checkpoint_dir=str(tmp_path / "cp2"),
        )


def test_replay_guard_refuses_unstamped_epoch_state(spark, tmp_path):
    """Epoch dirs without a lineage stamp (left by an uncheckpointed run)
    carry the same silent-swallow hazard when a checkpointed run adopts
    the state_dir — refused up front."""
    import pytest

    src = str(tmp_path / "webhooks")
    state_dir = str(tmp_path / "state")
    spark.createDataFrame(
        [(1, "Approved", [("I1", "Tote", "3")])], WEBHOOKS
    ).coalesce(1).write.parquet(src)
    inventory = spark.createDataFrame([("I1", "Tote", 10, 0)], INVENTORY)

    def stream():
        return spark.readStream.schema(WEBHOOKS).parquet(src)

    # uncheckpointed run leaves epoch dirs, no _lineage marker
    streaming_order_pipeline(spark, stream(), inventory, state_dir=state_dir)
    with pytest.raises(ValueError, match="unstamped epoch state"):
        streaming_order_pipeline(
            spark, stream(), inventory,
            state_dir=state_dir, checkpoint_dir=str(tmp_path / "cp"),
        )


def test_replay_guard_rebinds_empty_stamped_state_dir(spark, tmp_path):
    """A state_dir stamped to a lineage but holding NO epoch dirs (a run
    that died before its first batch committed) carries no replay hazard
    — pairing it with a NEW checkpoint must rebind, not refuse (advice,
    round 7)."""
    import os

    src = str(tmp_path / "webhooks")
    state_dir = str(tmp_path / "state")
    spark.createDataFrame(
        [(1, "Approved", [("I1", "Tote", "3")])], WEBHOOKS
    ).coalesce(1).write.parquet(src)
    inventory = spark.createDataFrame([("I1", "Tote", 10, 0)], INVENTORY)

    # pre-first-batch death: marker written, no epoch dirs ever landed
    os.makedirs(state_dir)
    with open(os.path.join(state_dir, "_lineage"), "w") as fh:
        fh.write(os.path.realpath(str(tmp_path / "dead_cp")))

    def stream():
        return spark.readStream.schema(WEBHOOKS).parquet(src)

    post = streaming_order_pipeline(
        spark, stream(), inventory,
        state_dir=state_dir, checkpoint_dir=str(tmp_path / "cp_new"),
    )
    r = {row.inventory_id: row for row in post.collect()}
    assert (r["I1"].general_stock_qty, r["I1"].qty_office) == (7, 3)
    # and the stamp now names the new lineage
    with open(os.path.join(state_dir, "_lineage")) as fh:
        assert fh.read().strip() == os.path.realpath(str(tmp_path / "cp_new"))


def test_state_dir_deleted_rebuilds_from_checkpoint(spark, tmp_path):
    """Lineage-stamp recovery in anger (verdict, round 7): the checkpoint
    SURVIVES but the state_dir is wiped. The operator must rebuild from
    the checkpoint — committed offsets dedupe the already-consumed file,
    only new arrivals are processed against the caller-carried post-state
    — and must NOT refuse (the wiped dir has no stamp and no epochs, so
    it is a legitimate fresh binding to the surviving lineage)."""
    import shutil

    src = str(tmp_path / "webhooks")
    state_dir = str(tmp_path / "state")
    cp = str(tmp_path / "cp")
    inventory = spark.createDataFrame([("I1", "Tote", 10, 0)], INVENTORY)

    def stream():
        return spark.readStream.schema(WEBHOOKS).parquet(src)

    spark.createDataFrame(
        [(1, "Approved", [("I1", "Tote", "3")])], WEBHOOKS
    ).coalesce(1).write.mode("append").parquet(src)
    post1 = streaming_order_pipeline(
        spark, stream(), inventory, state_dir=state_dir, checkpoint_dir=cp
    )
    rows1 = post1.collect()
    r1 = {r.inventory_id: r for r in rows1}
    assert (r1["I1"].general_stock_qty, r1["I1"].qty_office) == (7, 3)

    # disaster: the state_dir is wiped; the post-state the caller carries
    # survives elsewhere (here: materialized off the doomed scan — post1
    # itself is a lazy scan OF the state_dir), and the streaming
    # checkpoint survives
    carried = spark.createDataFrame(rows1, post1.schema)
    shutil.rmtree(state_dir)

    spark.createDataFrame(
        [(2, "Approved", [("I1", "Tote", "4")])], WEBHOOKS
    ).coalesce(1).write.mode("append").parquet(src)
    post2 = streaming_order_pipeline(
        spark, stream(), carried, state_dir=state_dir, checkpoint_dir=cp
    )
    r2 = {r.inventory_id: r for r in post2.collect()}
    # order 1 is deduped by the checkpoint's committed offsets; only
    # order 2 applies (a double-apply would give 0/10)
    assert (r2["I1"].general_stock_qty, r2["I1"].qty_office) == (3, 7)


def test_replay_guard_accepts_symlinked_checkpoint_respelling(spark, tmp_path):
    """The SAME logical checkpoint reached via a symlink (or another
    spelling) across restarts is one lineage, not a foreign one — the
    stamp compares realpaths (advice, round 7)."""
    import os

    src = str(tmp_path / "webhooks")
    state_dir = str(tmp_path / "state")
    cp = str(tmp_path / "cp")
    link = str(tmp_path / "cp_link")
    inventory = spark.createDataFrame([("I1", "Tote", 10, 0)], INVENTORY)
    spark.createDataFrame(
        [(1, "Approved", [("I1", "Tote", "3")])], WEBHOOKS
    ).coalesce(1).write.parquet(src)

    def stream():
        return spark.readStream.schema(WEBHOOKS).parquet(src)

    streaming_order_pipeline(
        spark, stream(), inventory, state_dir=state_dir, checkpoint_dir=cp
    )
    os.symlink(cp, link)
    # restart via the symlink: same lineage, must not refuse; offsets
    # dedupe the consumed file so the state is unchanged
    post = streaming_order_pipeline(
        spark, stream(), inventory, state_dir=state_dir, checkpoint_dir=link
    )
    r = {row.inventory_id: row for row in post.collect()}
    assert (r["I1"].general_stock_qty, r["I1"].qty_office) == (10, 0)


def test_replay_guard_migrates_pre_realpath_marker(spark, tmp_path):
    """ADVICE r8: markers written BEFORE the abspath→realpath switch hold
    the abspath spelling; through a symlinked checkpoint path that
    differs from the realpath, so a legitimate restart of an IN-FLIGHT
    job (epoch dirs present — the empty-rebind path cannot save it) was
    refused on upgrade. An old-format marker that abspath-matches the
    checkpoint is accepted and rewritten in place in the new format."""
    import os

    src = str(tmp_path / "webhooks")
    state_dir = str(tmp_path / "state")
    cp = str(tmp_path / "cp")
    link = str(tmp_path / "cp_link")
    os.makedirs(cp)
    os.symlink(cp, link)
    inventory = spark.createDataFrame([("I1", "Tote", 10, 0)], INVENTORY)
    spark.createDataFrame(
        [(1, "Approved", [("I1", "Tote", "3")])], WEBHOOKS
    ).coalesce(1).write.parquet(src)

    def stream():
        return spark.readStream.schema(WEBHOOKS).parquet(src)

    # first run via the SYMLINK spelling commits an epoch (in-flight job)
    streaming_order_pipeline(
        spark, stream(), inventory, state_dir=state_dir, checkpoint_dir=link
    )
    assert any(d.startswith("epoch_") for d in os.listdir(state_dir))
    # simulate the pre-r8 marker format: abspath of the symlink spelling
    marker = os.path.join(state_dir, "_lineage")
    legacy = os.path.abspath(link)
    assert legacy != os.path.realpath(link)  # the upgrade trap is real
    with open(marker, "w") as fh:
        fh.write(legacy)

    # restart via the same spelling: same lineage — must not refuse
    post = streaming_order_pipeline(
        spark, stream(), inventory, state_dir=state_dir, checkpoint_dir=link
    )
    r = {row.inventory_id: row for row in post.collect()}
    assert (r["I1"].general_stock_qty, r["I1"].qty_office) == (10, 0)
    # and the marker is migrated to the new (realpath) format in place
    with open(marker) as fh:
        assert fh.read().strip() == os.path.realpath(link)


def test_replay_guard_migration_refuses_retargeted_symlink(spark, tmp_path):
    """ADVICE r9: the pre-realpath migration shim matches on abspath
    alone, so a symlink RETARGETED to a different real checkpoint
    between runs would pass once and rebind a foreign lineage over
    replayable epoch state. The shim now requires the realpath'd target
    to cover the committed epochs (commits/<id> present for every one
    but the newest) before rewriting — a retargeted link fails that and
    falls through to the loud lineage refusal."""
    import os

    import pytest

    src1 = str(tmp_path / "w1")
    src2 = str(tmp_path / "w2")
    state_dir = str(tmp_path / "state")
    cp_a = str(tmp_path / "cp_a")
    cp_b = str(tmp_path / "cp_b")
    link = str(tmp_path / "cp_link")
    os.makedirs(cp_a)
    os.makedirs(cp_b)
    os.symlink(cp_a, link)
    inventory = spark.createDataFrame([("I1", "Tote", 10, 0)], INVENTORY)
    spark.createDataFrame(
        [(1, "Approved", [("I1", "Tote", "3")])], WEBHOOKS
    ).coalesce(1).write.parquet(src1)
    spark.createDataFrame(
        [(2, "Approved", [("I1", "Tote", "4")])], WEBHOOKS
    ).coalesce(1).write.parquet(src2)

    # two runs via the link against checkpoint A: >=2 committed epochs,
    # so the epochs[:-1] coverage check has teeth
    streaming_order_pipeline(
        spark,
        spark.readStream.schema(WEBHOOKS).parquet(src1),
        inventory,
        state_dir=state_dir,
        checkpoint_dir=link,
    )
    spark.read.parquet(src2).write.mode("append").parquet(src1)
    streaming_order_pipeline(
        spark,
        spark.readStream.schema(WEBHOOKS).parquet(src1),
        inventory,
        state_dir=state_dir,
        checkpoint_dir=link,
    )
    committed = [
        d
        for d in os.listdir(state_dir)
        if d.startswith("epoch_")
        and os.path.exists(os.path.join(state_dir, d, "_SUCCESS"))
    ]
    assert len(committed) >= 2, committed

    # downgrade the marker to the pre-r8 abspath format, then retarget
    # the symlink at a DIFFERENT real checkpoint
    marker = os.path.join(state_dir, "_lineage")
    with open(marker, "w") as fh:
        fh.write(os.path.abspath(link))
    os.remove(link)
    os.symlink(cp_b, link)

    with pytest.raises(ValueError, match="bound to checkpoint lineage"):
        streaming_order_pipeline(
            spark,
            spark.readStream.schema(WEBHOOKS).parquet(src1),
            inventory,
            state_dir=state_dir,
            checkpoint_dir=link,
        )
    # the marker was NOT rewritten — the original lineage is recoverable
    with open(marker) as fh:
        assert fh.read().strip() == os.path.abspath(link)


def test_replay_guard_inert_without_checkpoint(spark, tmp_path):
    """Without a checkpoint, every run restarts at epoch 0 — the replay
    guard must NOT fire off a leftover state_dir, or a second run's new
    webhooks would be silently swallowed (review, late r6)."""
    src1 = str(tmp_path / "w1")
    src2 = str(tmp_path / "w2")
    state_dir = str(tmp_path / "state")
    inventory = spark.createDataFrame([("I1", "Tote", 10, 0)], INVENTORY)
    spark.createDataFrame(
        [(1, "Approved", [("I1", "Tote", "3")])], WEBHOOKS
    ).coalesce(1).write.parquet(src1)
    spark.createDataFrame(
        [(2, "Approved", [("I1", "Tote", "4")])], WEBHOOKS
    ).coalesce(1).write.parquet(src2)

    post1 = streaming_order_pipeline(
        spark,
        spark.readStream.schema(WEBHOOKS).parquet(src1),
        inventory,
        state_dir=state_dir,
    )
    r1 = {r.inventory_id: r for r in post1.collect()}
    assert (r1["I1"].general_stock_qty, r1["I1"].qty_office) == (7, 3)

    # second, UNCHECKPOINTED run over DIFFERENT data reuses the state_dir:
    # its batch is also epoch 0, but it must be APPLIED, not skipped
    post2 = streaming_order_pipeline(
        spark,
        spark.readStream.schema(WEBHOOKS).parquet(src2),
        post1,
        state_dir=state_dir,
    )
    r2 = {r.inventory_id: r for r in post2.collect()}
    assert (r2["I1"].general_stock_qty, r2["I1"].qty_office) == (3, 7)


def test_replay_guard_migration_single_epoch_residual_documented(
    spark, tmp_path
):
    """ADVICE r10, the DOCUMENTED residual of the retarget guard: with
    only ONE committed epoch the epochs[:-1] coverage check is vacuously
    true (the newest epoch is excluded because a same-lineage crash
    legitimately leaves it commit-less), so a retargeted symlink still
    rebinds. This is the accepted crash-window tradeoff — closing it
    would refuse legitimate crash restarts (streaming/pipelines.py
    migration shim). This test PINS the boundary: if the behavior ever
    changes, the crash-restart semantics changed with it and both this
    test and the >=2-epoch refusal test above must be revisited
    together."""
    import os

    src1 = str(tmp_path / "w1")
    state_dir = str(tmp_path / "state")
    cp_a = str(tmp_path / "cp_a")
    cp_b = str(tmp_path / "cp_b")
    link = str(tmp_path / "cp_link")
    os.makedirs(cp_a)
    os.makedirs(cp_b)
    os.symlink(cp_a, link)
    inventory = spark.createDataFrame([("I1", "Tote", 10, 0)], INVENTORY)
    spark.createDataFrame(
        [(1, "Approved", [("I1", "Tote", "3")])], WEBHOOKS
    ).coalesce(1).write.parquet(src1)

    # ONE run via the link: exactly one committed epoch
    streaming_order_pipeline(
        spark,
        spark.readStream.schema(WEBHOOKS).parquet(src1),
        inventory,
        state_dir=state_dir,
        checkpoint_dir=link,
    )
    committed = [
        d
        for d in os.listdir(state_dir)
        if d.startswith("epoch_")
        and os.path.exists(os.path.join(state_dir, d, "_SUCCESS"))
    ]
    assert len(committed) == 1, committed

    marker = os.path.join(state_dir, "_lineage")
    with open(marker, "w") as fh:
        fh.write(os.path.abspath(link))
    os.remove(link)
    os.symlink(cp_b, link)

    # the vacuous check rebinds: the run proceeds and the marker now
    # points at the retargeted realpath — the documented single-epoch gap
    streaming_order_pipeline(
        spark,
        spark.readStream.schema(WEBHOOKS).parquet(src1),
        inventory,
        state_dir=state_dir,
        checkpoint_dir=link,
    )
    with open(marker) as fh:
        assert fh.read().strip() == os.path.realpath(cp_b)
