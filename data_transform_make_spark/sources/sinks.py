"""Sink-side primitives: MERGE-shaped upsert + layout-aware writers
(SURVEY.md §2.1 S6; §4 'transactionality').

The reference PUTs partial records back to Kintone one row at a time
(makeRouter.js:120-124, 198-202). The engine's set-oriented equivalent is a
MERGE: with Delta Lake available this is ``MERGE INTO target USING source``;
this module provides the pure-DataFrame emulation (used by the pipelines and
tests in this jar-less environment) with the same semantics, plus writers
that bake the at-scale layout decisions (partition columns for pruning,
bucketing for shuffle-free joins) into the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cols import claim_scratch


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    update_cols: list[str] | None = None,
    insert_unmatched: bool = True,
) -> DataFrame:
    """MERGE emulation: WHEN MATCHED update, WHEN NOT MATCHED (optionally)
    insert, unmatched target rows pass through.

    One full-outer join keyed on ``keys`` (hash shuffle both sides; with the
    target bucketed on the keys only the source side shuffles). Column
    values: matched rows take the source's ``update_cols`` (default: every
    non-key source column), keeping target values for columns the source
    lacks; source-only rows insert with nulls for target-only columns.

    This is the semantic (not transactional) core — swap in Delta's MERGE on
    a cluster for ACID + file-level conflict detection; the call shape is
    identical.
    """
    if update_cols is None:
        update_cols = [c for c in source.columns if c not in keys]
    missing = [c for c in update_cols if c not in target.columns]
    if missing:
        raise ValueError(f"update_cols not in target: {missing}")
    # __tgt_present would be silently REPLACED then swallowed by the
    # output-column loop; a target column named like a __src_ alias would
    # make the post-join F.col references ambiguous (a cryptic
    # AnalysisException at best) — refuse both up front.
    claim_scratch(
        target,
        "merge_upsert(target)",
        "__tgt_present",
        *[f"__src_{c}" for c in {*keys, *update_cols}],
    )

    src = source.select(
        *[F.col(k).alias(f"__src_{k}") for k in keys],
        *[F.col(c).alias(f"__src_{c}") for c in update_cols],
        F.lit(True).alias("__src_present"),
    )
    cond = [target[k] == src[f"__src_{k}"] for k in keys]
    how = "full_outer" if insert_unmatched else "left_outer"
    joined = target.withColumn("__tgt_present", F.lit(True)).join(src, cond, how)

    out_cols = []
    for c in target.columns:
        if c == "__tgt_present":
            continue
        if c in keys:
            expr = F.coalesce(target[c], F.col(f"__src_{c}"))
        elif c in update_cols:
            expr = F.when(
                F.col("__src_present").isNotNull(), F.col(f"__src_{c}")
            ).otherwise(target[c])
        else:
            expr = target[c]
        out_cols.append(expr.alias(c))
    return joined.select(*out_cols)


def merge_upsert_path(
    spark,
    path: str,
    source: DataFrame,
    keys: list[str],
    update_cols: list[str] | None = None,
    insert_unmatched: bool = True,
) -> None:
    """MERGE a source frame into a STORED parquet table at ``path``: read
    the table, apply the :func:`merge_upsert` emulation (same WHEN MATCHED
    / NOT MATCHED semantics, no ACID), write to a sibling tmp dir and
    swap. The rename window is the caller's race to manage; on a cluster,
    Delta's ``MERGE INTO`` replaces this read-merge-swap with one
    transactional statement (makeRouter.js:120-124/198-202's
    read-modify-write PUTs, made transactional).
    """
    # before ANY read of the path: restore the sole surviving copy of a
    # mid-swap crash, else the spark.read below fails before
    # _swap_parquet's own recovery can run
    _recover_swap_debris(path)
    target = spark.read.parquet(path)
    merged = merge_upsert(target, source, keys, update_cols, insert_unmatched)
    _swap_parquet(merged, path, "__merge_tmp")


def _recover_swap_debris(path: str) -> bool:
    """If a previous :func:`_swap_parquet` died between its two renames —
    base MISSING, the only surviving copy at ``<path>__old`` — rename the
    survivor back into place. Returns True when a recovery happened.

    Idempotent and safe to call at any time; callers whose DATAFRAME
    LINEAGE reads ``path`` (merge_upsert_path, compact_small_files) must
    call this BEFORE ``spark.read.parquet(path)`` (advice, round 8): the
    recovery inside _swap_parquet runs after ``df.write``, which is too
    late when the read itself fails at analysis on the missing base."""
    import os

    base = path.rstrip("/")
    old = base + "__old"
    if not os.path.exists(base) and os.path.exists(old):
        os.rename(old, base)
        return True
    return False


def _swap_parquet(df, path: str, tmp_suffix: str) -> None:
    """Write ``df`` beside ``path`` then swap it in — the shared
    read-modify-replace tail of merge_upsert_path and
    compact_small_files. NOT atomic: plain parquet has no transaction
    log, so the swap window is the caller's race to manage
    (Delta/Iceberg remove it). A failed write leaves no stranded tmp
    dir and never touches the original.

    Swap order is delete-LAST (advice, round 6): the old table is
    renamed aside to ``<path>__old``, the new data renamed into place,
    and only then is the old copy deleted — a crash anywhere in the
    window leaves a complete copy of the data under a predictable name
    (``__old`` before the final delete, ``<tmp_suffix>`` before the
    swap) instead of the previous rmtree-then-rename sequence, whose
    crash window held NO copy at ``path`` and no recoverable one
    either. Renames are same-directory, so the cross-filesystem
    EXDEV failure mode cannot split the pair.

    Crash recovery is hoisted to the TOP (advice, round 8; supersedes
    the round-7 post-write placement): a previous swap that died between
    its renames left base missing and the survivor at ``__old`` —
    renaming it back BEFORE ``df.write`` means a ``df`` whose lineage
    reads ``path`` lazily still resolves against the recovered table."""
    import os
    import shutil

    base = path.rstrip("/")
    tmp = base + tmp_suffix
    old = base + "__old"
    _recover_swap_debris(base)
    try:
        df.write.mode("overwrite").parquet(tmp)
    except Exception:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    if not os.path.exists(base):
        # fresh target (no previous table, no survivor): nothing to swap
        # aside — the write IS the table
        os.rename(tmp, base)
        return
    # a stranded __old from a previous COMPLETED-then-crashed swap (died
    # before its final delete) would fail the rename below; base exists,
    # so __old is genuinely debris here
    shutil.rmtree(old, ignore_errors=True)
    os.rename(base, old)
    os.rename(tmp, base)
    shutil.rmtree(old)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Write with partition columns so equality/IN predicates on them become
    partition pruning at the scan (e.g. the IVF cluster id,
    `partitionBy('ivf_cluster')` — see operators/similarity.py).

    Guard against small-file explosion: repartition on the partition columns
    first so each partition directory is written by one task.
    """
    df.repartition(*[F.col(c) for c in partition_cols]).write.mode(mode).partitionBy(
        *partition_cols
    ).parquet(path)


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered on ``sort_cols``: range-partition across files
    then sort within each, so the per-file/rowgroup min-max stats on those
    columns become tight, disjoint ranges — range predicates skip whole
    files at scan time (the poor-man's single-dimension Z-order). Use for
    the dominant range-filter column (event time, ship date).
    """
    out = df.repartitionByRange(*([n_files] if n_files else []), *sort_cols)
    out.sortWithinPartitions(*sort_cols).write.mode(mode).parquet(path)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered on a Morton (Z-order) interleave of several
    numeric columns, so per-file min/max stats are tight on EVERY listed
    column at once — range predicates on any of them skip files at scan
    time. ``write_sorted`` gives this for one dominant column; a plain
    multi-column sort gives it only for the leading column (the trailing
    columns' per-file ranges stay global). Z-order trades a little
    per-column tightness for locality on all of them — the plain-parquet
    equivalent of Delta/Iceberg ``OPTIMIZE ZORDER BY``.

    Mechanics: each column is linearly scaled to ``bits``-bit integers
    using global min/max (one small eager agg job), the bit patterns are
    interleaved into one long sort key (codegen'd shift/mask expressions,
    map-only), and the frame is range-partitioned + sorted on that key.
    Columns must be numeric (cast timestamps via ``unix_micros`` at the
    call site). Linear scaling assumes value ranges without extreme
    outliers; rank-based scaling (ntile) is the robust variant at the
    cost of an extra shuffle.
    """
    k = len(cols)
    if k < 2:
        raise ValueError("z-order needs >= 2 columns; use write_sorted for 1")
    # the sink is the worst home for the scratch-collision class: a
    # caller __z column would be replaced, used as the sort key's name,
    # and DROPPED FROM THE DATA WRITTEN TO DISK
    claim_scratch(df, "write_zordered", "__z")
    # the interleave must fit a SIGNED long: bit position 63 is the sign
    # (those rows would sort first as negatives) and Java shiftleft wraps
    # its shift amount mod 64 (aliasing high bits into low positions) —
    # either silently degrades clustering. Auto-reduce per-column bits so
    # bits * k <= 63 always holds; 63 // k still gives >= 15 bits/column
    # for the realistic 2-4 column case.
    bits = min(bits, 63 // k)
    if bits < 1:
        raise ValueError(f"z-order over {k} columns cannot fit a signed long")
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"mn_{i}") for i, c in enumerate(cols)],
        *[F.max(c).cast("double").alias(f"mx_{i}") for i, c in enumerate(cols)],
    ).first()
    if stats is None or any(stats[f"mn_{i}"] is None for i in range(k)):
        # empty input (or an all-NULL column): nothing to order — write
        # the frame as-is instead of crashing on None arithmetic
        df.write.mode(mode).parquet(path)
        return
    max_bucket = (1 << bits) - 1
    scaled = []
    for i, c in enumerate(cols):
        mn, mx = stats[f"mn_{i}"], stats[f"mx_{i}"]
        rng = (mx - mn) or 1.0
        s = ((F.col(c).cast("double") - F.lit(mn)) / F.lit(rng) * max_bucket).cast(
            "long"
        )
        scaled.append(s)
    z = F.lit(0).cast("long")
    for bit in range(bits):
        for j, s in enumerate(scaled):
            b = F.shiftright(s, bit).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(b, bit * k + j))
    out = df.withColumn("__z", z)
    out = out.repartitionByRange(*([n_files] if n_files else []), "__z")
    out.sortWithinPartitions("__z").drop("__z").write.mode(mode).parquet(path)


def compact_small_files(
    spark, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """Rewrite a parquet directory into ~``target_file_bytes`` files.

    Streaming micro-batch sinks and fine-grained partitionBy writes
    accumulate small files; at 100 TB that multiplies scan-task scheduling
    and footer overhead until listing dominates. Returns the file count
    written. (Delta/Iceberg expose this as OPTIMIZE; this is the plain-
    parquet equivalent, run it on cold partitions.)
    """
    import glob
    import os

    # restore a mid-swap crash survivor BEFORE sizing/reading the path
    # (see _recover_swap_debris) — otherwise the glob sees nothing and
    # the read fails at analysis
    _recover_swap_debris(path)
    total = sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    n = max(1, round(total / target_file_bytes))
    df = spark.read.parquet(path)
    # swap semantics (and its non-atomicity caveat): see _swap_parquet —
    # on a cluster use Delta OPTIMIZE instead
    _swap_parquet(df.repartition(n), path, "__compact_tmp")
    return n


def write_bucketed(
    df: DataFrame, table: str, bucket_cols: list[str], n_buckets: int, mode: str = "overwrite"
) -> None:
    """Save as a bucketed table: joins/aggregations keyed on ``bucket_cols``
    between tables bucketed the same way skip the shuffle entirely — the
    co-located-join layout for repeated fact-fact joins at 100 TB.
    (Bucketing requires the table catalog, hence saveAsTable, not a path.)
    """
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
        .saveAsTable(table)
    )


def write_jsonl(
    df: DataFrame,
    path: str,
    n_files: int | None = None,
    compression: str = "gzip",
    mode: str = "overwrite",
) -> None:
    """Export a frame as compressed JSON-Lines — the interchange format
    LLM training stacks actually ingest (one JSON object per line,
    .jsonl.gz shards).

    Spark's native json writer already IS jsonl (one object per line per
    file); this wrapper bakes in the export-shaped decisions: shard-count
    control (``n_files`` repartition — training loaders want a few large
    shards, not one file per shuffle partition), gzip (splittability does
    not matter for a terminal export; size does), and a stable column
    order (select in the frame's declared order so re-exports diff
    cleanly). Round-trips through ``spark.read.json`` / any jsonl loader.
    """
    out = df.repartition(n_files) if n_files else df
    out.select(*df.columns).write.mode(mode).option(
        "compression", compression
    ).json(path)
