"""MERGE-upsert sink semantics + skew-salting equivalence tests."""

from pyspark.sql import functions as F

from data_transform_make_spark.operators.skew import hot_keys, salted_join, salted_sum
from data_transform_make_spark.sources.sinks import merge_upsert


def test_merge_upsert_semantics(spark):
    target = spark.createDataFrame(
        [("I1", 10, "Tote"), ("I2", 5, "Duffel"), ("I3", 7, "Mini")],
        "inventory_id string, stock int, bag_model string",
    )
    source = spark.createDataFrame(
        [("I1", 8), ("I4", 99)], "inventory_id string, stock int"
    )
    out = {
        r.inventory_id: (r.stock, r.bag_model)
        for r in merge_upsert(target, source, ["inventory_id"]).collect()
    }
    assert out["I1"] == (8, "Tote")    # matched: updated, untouched cols kept
    assert out["I2"] == (5, "Duffel")  # unmatched target: passthrough
    assert out["I3"] == (7, "Mini")
    assert out["I4"] == (99, None)     # unmatched source: inserted


def test_merge_upsert_no_insert(spark):
    target = spark.createDataFrame([("I1", 1)], "k string, v int")
    source = spark.createDataFrame([("I1", 2), ("I9", 9)], "k string, v int")
    out = {r.k: r.v for r in merge_upsert(target, source, ["k"], insert_unmatched=False).collect()}
    assert out == {"I1": 2}


def test_merge_upsert_path_parquet_fallback(spark, tmp_path):
    from data_transform_make_spark.sources.sinks import merge_upsert_path

    path = str(tmp_path / "inv")
    spark.createDataFrame(
        [("I1", 10, "Tote"), ("I2", 5, "Duffel"), ("I3", 7, "Mini")],
        "inventory_id string, stock int, bag_model string",
    ).write.parquet(path)
    source = spark.createDataFrame(
        [("I1", 8), ("I4", 99)], "inventory_id string, stock int"
    )
    merge_upsert_path(spark, path, source, ["inventory_id"])
    out = {
        r.inventory_id: (r.stock, r.bag_model)
        for r in spark.read.parquet(path).collect()
    }
    assert out == {
        "I1": (8, "Tote"),
        "I2": (5, "Duffel"),
        "I3": (7, "Mini"),
        "I4": (99, None),
    }


def test_swap_parquet_leaves_no_residue_on_success(spark, tmp_path):
    import glob
    import os

    from data_transform_make_spark.sources.sinks import _swap_parquet

    path = str(tmp_path / "t")
    spark.range(0, 10).write.parquet(path)
    _swap_parquet(spark.range(100, 105), path, "__tmp")
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == list(
        range(100, 105)
    )
    assert not os.path.exists(path + "__old") and not glob.glob(path + "__tmp")


def test_swap_parquet_crash_window_keeps_a_recoverable_copy(
    spark, tmp_path, monkeypatch
):
    """A crash mid-swap must never leave ZERO copies of the table
    (advice, round 6: the old rmtree-then-rename order did). The old
    data is renamed aside BEFORE the new data lands, so a failure of the
    second rename leaves the original complete under ``<path>__old`` and
    the new data under the tmp name — both predictable, both whole."""
    import os

    import pytest

    from data_transform_make_spark.sources.sinks import _swap_parquet

    path = str(tmp_path / "t")
    spark.range(0, 10).write.parquet(path)

    real_rename = os.rename
    calls = {"n": 0}

    def failing_second_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError("simulated crash between the two renames")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_second_rename)
    with pytest.raises(OSError, match="simulated crash"):
        _swap_parquet(spark.range(100, 105), path, "__tmp")
    monkeypatch.undo()
    # the original table is complete and recoverable at the aside name
    assert sorted(r.id for r in spark.read.parquet(path + "__old").collect()) == list(
        range(10)
    )
    # the new data survived too, under the tmp name
    assert sorted(
        r.id for r in spark.read.parquet(path + "__tmp").collect()
    ) == list(range(100, 105))
    # and a rerun of the swap after manual recovery succeeds: a stranded
    # __old must not wedge the next attempt
    os.rename(path + "__old", path)
    import shutil

    shutil.rmtree(path + "__tmp")
    _swap_parquet(spark.range(7, 9), path, "__tmp")
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == [7, 8]


def test_swap_parquet_retry_auto_recovers_sole_surviving_copy(
    spark, tmp_path
):
    """A crash BETWEEN the two renames leaves base missing and the only
    surviving copy at ``<path>__old``. A blind retry used to rmtree that
    survivor unconditionally and then fail the rename anyway — total
    loss (advice, round 7). Now: when base is missing and __old exists,
    the survivor is renamed back into place and the swap proceeds."""
    import glob
    import os

    from data_transform_make_spark.sources.sinks import _swap_parquet

    path = str(tmp_path / "t")
    spark.range(0, 10).write.parquet(path)
    # simulate the crash window's on-disk state: base renamed aside,
    # new data never landed
    os.rename(path, path + "__old")

    _swap_parquet(spark.range(100, 105), path, "__tmp")
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == list(
        range(100, 105)
    )
    assert not os.path.exists(path + "__old") and not glob.glob(path + "__tmp")


def test_merge_upsert_path_recovers_mid_swap_crash_state(spark, tmp_path):
    """ADVICE r8: the __old→base auto-recovery used to run only inside
    _swap_parquet AFTER df.write — but merge_upsert_path's own
    ``spark.read.parquet(path)`` fails at ANALYSIS when base is missing,
    so the advertised retry-after-mid-swap-crash never engaged for it.
    The recovery is now hoisted to the entry of merge_upsert_path."""
    import os

    from data_transform_make_spark.sources.sinks import merge_upsert_path

    path = str(tmp_path / "inv")
    spark.createDataFrame(
        [("I1", 10), ("I2", 5)], "inventory_id string, stock int"
    ).write.parquet(path)
    # the mid-swap crash window's on-disk state
    os.rename(path, path + "__old")

    source = spark.createDataFrame([("I1", 8)], "inventory_id string, stock int")
    merge_upsert_path(spark, path, source, ["inventory_id"])
    out = {r.inventory_id: r.stock for r in spark.read.parquet(path).collect()}
    assert out == {"I1": 8, "I2": 5}
    assert not os.path.exists(path + "__old")


def test_recovery_interleaved_with_concurrent_writer_fresh_tmp(spark, tmp_path):
    """R9 verdict item 6 — the last unprobed ordering: crash recovery
    running WHILE a concurrent writer's fresh ``__tmp`` is already on
    disk. Recovery must restore the ``__old`` survivor to base without
    touching the foreign tmp (it belongs to the in-flight writer), and
    the writer's subsequent swap must then complete normally. Plain
    parquet has no transaction log, so two SIMULTANEOUS swaps on one
    path remain the caller's race (documented in _swap_parquet); this
    pins the recovery/writer interleaving, which IS in our contract."""
    import glob
    import os

    from data_transform_make_spark.sources.sinks import (
        _recover_swap_debris,
        _swap_parquet,
        merge_upsert_path,
    )

    path = str(tmp_path / "t")
    spark.range(0, 10).write.parquet(path)
    # process A crashed between its two renames: base missing, survivor
    # aside — and process B (the concurrent writer) has ALREADY landed
    # its fresh tmp but not yet swapped
    os.rename(path, path + "__old")
    spark.range(100, 105).write.parquet(path + "__tmp")

    # recovery fires (any of the three entry points) mid-interleave
    assert _recover_swap_debris(path) is True
    # base restored from the survivor...
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == list(range(10))
    # ...and the foreign tmp is untouched — recovery never consumes or
    # deletes another writer's in-flight data
    assert sorted(
        r.id for r in spark.read.parquet(path + "__tmp").collect()
    ) == list(range(100, 105))

    # the concurrent writer proceeds: its swap completes cleanly over the
    # recovered base (its own overwrite-mode write refreshes the tmp)
    _swap_parquet(spark.range(100, 105), path, "__tmp")
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == list(
        range(100, 105)
    )
    assert not os.path.exists(path + "__old") and not glob.glob(path + "__tmp")

    # same interleaving through the merge entry point: a foreign __tmp on
    # disk while merge_upsert_path's hoisted recovery runs — the merge
    # uses its own __merge_tmp namespace and leaves the foreign tmp alone
    path2 = str(tmp_path / "inv")
    spark.createDataFrame(
        [("I1", 10), ("I2", 5)], "inventory_id string, stock int"
    ).write.parquet(path2)
    os.rename(path2, path2 + "__old")
    spark.createDataFrame(
        [("ZZ", 1)], "inventory_id string, stock int"
    ).write.parquet(path2 + "__tmp")
    source = spark.createDataFrame([("I1", 8)], "inventory_id string, stock int")
    merge_upsert_path(spark, path2, source, ["inventory_id"])
    out = {r.inventory_id: r.stock for r in spark.read.parquet(path2).collect()}
    assert out == {"I1": 8, "I2": 5}
    assert {r.inventory_id for r in spark.read.parquet(path2 + "__tmp").collect()} == {
        "ZZ"
    }


def test_compact_small_files_recovers_mid_swap_crash_state(spark, tmp_path):
    """Same ADVICE r8 boundary for the other lineage-reads-base caller:
    compact_small_files sizes and reads the path before swapping, so it
    must restore the survivor first."""
    import os

    from data_transform_make_spark.sources.sinks import compact_small_files

    path = str(tmp_path / "t")
    spark.range(0, 10).repartition(8).write.parquet(path)
    os.rename(path, path + "__old")

    n = compact_small_files(spark, path)
    assert n == 1  # tiny table compacts to one file
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == list(range(10))
    assert not os.path.exists(path + "__old")


def test_salted_sum_equals_plain(spark, sf_dir):
    from data_transform_make_spark.sources.loader import load_table

    li = load_table(spark, sf_dir, "lineitem")
    plain = {
        r.l_returnflag: r.s
        for r in li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s")).collect()
    }
    salted = {
        r.l_returnflag: r.sum_l_quantity
        for r in salted_sum(li, ["l_returnflag"], "l_quantity", n_salt=8).collect()
    }
    assert plain.keys() == salted.keys()
    for k in plain:
        assert abs(plain[k] - salted[k]) < 1e-6


def test_salted_join_equals_plain(spark):
    large = spark.createDataFrame(
        [(i, "hot" if i % 3 == 0 else f"k{i}") for i in range(300)], "row_id long, k string"
    )
    small = spark.createDataFrame(
        [("hot", 1.0)] + [(f"k{i}", float(i)) for i in range(300)], "k string, w double"
    )
    hot = hot_keys(large, "k", min_count=50)
    assert hot == ["hot"]
    plain = {(r.row_id, r.w) for r in large.join(small, "k").collect()}
    salted = {(r.row_id, r.w) for r in salted_join(large, small, "k", hot, n_salt=4).collect()}
    assert plain == salted


def test_hot_keys_unbounded_min_count_rejected(spark):
    """Round-10 review: hot_keys is a sanctioned bounded .collect() —
    bounded BY min_count. min_count <= 0 collects EVERY distinct key
    (unbounded driver transfer at scale) and is refused."""
    import pytest

    df = spark.createDataFrame([(1, "a")], "row_id long, k string")
    with pytest.raises(ValueError, match="min_count"):
        hot_keys(df, "k", min_count=0)


def test_salted_join_left_anti_equals_plain(spark):
    large = spark.createDataFrame(
        [(i, "hot" if i % 3 == 0 else f"k{i}") for i in range(300)], "row_id long, k string"
    )
    small = spark.createDataFrame(
        [("hot", 1.0), ("k1", 1.0)], "k string, w double"
    )
    plain = {r.row_id for r in large.join(small, "k", "left_anti").collect()}
    salted = {
        r.row_id
        for r in salted_join(large, small, "k", ["hot"], n_salt=4, how="left_anti").collect()
    }
    assert plain == salted


def test_salted_join_null_keys_take_cold_path(spark):
    """NULL join keys must survive the hot/cold split exactly as a plain
    join treats them: preserved (with NULL payload) under left and
    left_anti, absent under inner. `isin` yields NULL for NULL keys, which
    an un-coalesced filter would drop from BOTH legs."""
    large = spark.createDataFrame(
        [(1, "hot"), (2, "hot"), (3, None), (4, "cold"), (5, None)],
        "row_id long, k string",
    )
    small = spark.createDataFrame([("hot", 1.0), ("cold", 2.0)], "k string, w double")
    for how in ("left", "left_anti", "inner"):
        plain = {
            tuple(r) for r in large.join(small, "k", how).select("row_id").collect()
        }
        salted = {
            tuple(r)
            for r in salted_join(large, small, "k", ["hot"], n_salt=4, how=how)
            .select("row_id")
            .collect()
        }
        assert salted == plain, f"{how}: {sorted(salted)} != {sorted(plain)}"
    # a None smuggled into the hot list must not poison the split either
    withnone = {
        tuple(r)
        for r in salted_join(large, small, "k", ["hot", None], n_salt=4, how="left")
        .select("row_id")
        .collect()
    }
    assert withnone == {(i,) for i in range(1, 6)}


def test_salted_join_rejects_outer_modes(spark):
    import pytest

    large = spark.createDataFrame([(1, "a")], "row_id long, k string")
    small = spark.createDataFrame([("a", 1.0)], "k string, w double")
    for how in ("right", "full_outer", "outer"):
        with pytest.raises(ValueError):
            salted_join(large, small, "k", ["a"], how=how)


def test_salted_helpers_reject_nonpositive_salt(spark):
    """n_salt=0 would silently DROP every hot-key row in salted_join
    (empty salt-array explode on the small side) and hit %0 in
    salted_sum — both refused at the call boundary (review, round 8)."""
    import pytest

    from data_transform_make_spark.operators.skew import (
        salted_join,
        salted_sum,
    )

    df = spark.createDataFrame([("k", 1)], "key string, v long")
    with pytest.raises(ValueError, match="n_salt"):
        salted_join(df, df, "key", hot=["k"], n_salt=0)
    with pytest.raises(ValueError, match="n_salt"):
        salted_sum(df, ["key"], "v", n_salt=0)


def test_write_sorted_rowgroup_stats(spark, tmp_path):
    from data_transform_make_spark.sources.sinks import write_sorted

    df = spark.range(0, 10000).withColumn("v", (F.col("id") * 7919) % 10000)
    path = str(tmp_path / "sorted")
    write_sorted(df, path, ["v"], n_files=4)
    import glob

    import pyarrow.parquet as pq

    ranges = []
    for f in glob.glob(path + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        col = [md.schema.column(i).name for i in range(md.num_columns)].index("v")
        st = md.row_group(0).column(col).statistics
        ranges.append((st.min, st.max))
    ranges.sort()
    # files hold disjoint v-ranges -> min/max stats can skip whole files
    for (lo_a, hi_a), (lo_b, hi_b) in zip(ranges, ranges[1:]):
        assert hi_a < lo_b
    # and the data round-trips intact
    assert spark.read.parquet(path).count() == 10000


def test_write_zordered_tightens_stats_on_both_columns(spark, tmp_path):
    """Z-order write: per-file min/max ranges are much tighter than global
    on BOTH interleaved columns — a lexicographic sort only tightens the
    leading column (the trailing one stays near-global per file)."""
    from data_transform_make_spark.sources.sinks import write_sorted, write_zordered

    n = 20000
    # two independent dimensions (decorrelated via multiplicative hashing)
    df = (
        spark.range(0, n)
        .withColumn("x", (F.col("id") * 7919) % 1000)
        .withColumn("y", (F.col("id") * 104729) % 1000)
    )

    def per_file_ranges(path, col_name):
        import glob

        import pyarrow.parquet as pq

        spans = []
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = [md.schema.column(i).name for i in range(md.num_columns)].index(
                col_name
            )
            mn, mx = None, None
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(idx).statistics
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
            spans.append(mx - mn)
        return spans

    zpath = str(tmp_path / "zordered")
    write_zordered(df, zpath, ["x", "y"], bits=10, n_files=16)
    spath = str(tmp_path / "lexsorted")
    write_sorted(df, spath, ["x", "y"], n_files=16)

    # both dimensions tighten under z-order (files cover ~1/sqrt(16)=1/4
    # of each axis; allow slack for boundary files)
    for c in ("x", "y"):
        z_avg = sum(per_file_ranges(zpath, c)) / 16
        assert z_avg < 1000 * 0.6, f"{c}: avg z-file span {z_avg}"
    # the lexicographic sort leaves the trailing column near-global...
    lex_y = sum(per_file_ranges(spath, "y")) / 16
    assert lex_y > 1000 * 0.7
    # ...which is exactly what z-order fixes
    assert sum(per_file_ranges(zpath, "y")) / 16 < lex_y

    # and the data round-trips intact
    assert spark.read.parquet(zpath).count() == n


def test_write_zordered_empty_input(spark, tmp_path):
    from data_transform_make_spark.sources.sinks import write_zordered

    df = spark.createDataFrame([], "x long, y long")
    path = str(tmp_path / "zempty")
    write_zordered(df, path, ["x", "y"])  # must not crash on None min/max
    assert spark.read.parquet(path).count() == 0


def test_compact_small_files(spark, tmp_path):
    from data_transform_make_spark.sources.sinks import compact_small_files

    path = str(tmp_path / "frag")
    spark.range(0, 5000).repartition(40).write.parquet(path)
    import glob

    assert len(glob.glob(path + "/*.parquet")) == 40
    n = compact_small_files(spark, path, target_file_bytes=1 << 30)
    assert n == 1
    assert len(glob.glob(path + "/*.parquet")) == 1
    assert spark.read.parquet(path).count() == 5000


def test_write_zordered_many_columns_fit_signed_long(spark, tmp_path):
    # With the former fixed bits=16, 4 columns put a bit at position 63
    # (sign bit: those rows sort FIRST as negatives) and 5+ columns
    # wrapped Java's shiftleft (shift & 63), aliasing high bits into low
    # positions — silently degraded clustering. bits must auto-reduce so
    # bits * k <= 63.
    from data_transform_make_spark.sources.sinks import write_zordered

    df = spark.range(4096).selectExpr(
        "id % 16 as a", "cast(id / 16 as long) % 16 as b",
        "cast(id / 256 as long) % 16 as c", "id % 7 as d", "id % 11 as e",
    )
    path = str(tmp_path / "z5")
    write_zordered(df, path, ["a", "b", "c", "d", "e"], n_files=8)
    back = spark.read.parquet(path)
    assert back.count() == 4096
    # Round-trip content must be unchanged (ordering is the only effect).
    assert back.groupBy().sum("a", "b", "c", "d", "e").collect() == (
        df.groupBy().sum("a", "b", "c", "d", "e").collect()
    )


def test_write_zordered_4col_high_values_sort_last(spark, tmp_path):
    # Sign-bit regression check: with 4 columns the top bit of the
    # interleave used to land on bit 63, making the LARGEST values sort
    # first (negative keys). After auto-reduction the max-everything rows
    # must land in the last file, not the first.
    from data_transform_make_spark.sources.sinks import write_zordered

    df = spark.range(10000).selectExpr(
        "id % 10 as a", "cast(id / 10 as long) % 10 as b",
        "cast(id / 100 as long) % 10 as c", "cast(id / 1000 as long) % 10 as d",
    )
    path = str(tmp_path / "z4")
    write_zordered(df, path, ["a", "b", "c", "d"], n_files=4)
    from pyspark.sql import functions as F

    back = spark.read.parquet(path).withColumn("f", F.input_file_name())
    files = sorted({r["f"] for r in back.select("f").distinct().collect()})
    lo = {r["f"] for r in
          back.filter("a=0 and b=0 and c=0 and d=0").select("f").distinct().collect()}
    hi = {r["f"] for r in
          back.filter("a=9 and b=9 and c=9 and d=9").select("f").distinct().collect()}
    # part files sort in range-partition order: all-min rows belong in the
    # first file, all-max rows in the last (they'd swap under the sign bug)
    assert lo == {files[0]}
    assert hi == {files[-1]}


def test_write_jsonl_round_trip(spark, tmp_path):
    import glob
    import gzip
    import json

    from data_transform_make_spark.sources.sinks import write_jsonl

    df = spark.createDataFrame(
        [(1, "alpha", ["a", "b"]), (2, "beta", [])],
        "doc_id long, text string, tags array<string>",
    )
    path = str(tmp_path / "export")
    write_jsonl(df, path, n_files=1)
    files = glob.glob(path + "/*.json.gz")
    assert len(files) == 1  # shard-count control honored
    with gzip.open(files[0], "rt") as f:
        rows = [json.loads(line) for line in f]
    assert sorted(r["doc_id"] for r in rows) == [1, 2]
    back = spark.read.json(path)
    assert back.count() == 2
    assert {r["text"] for r in back.collect()} == {"alpha", "beta"}
