"""Table loader for the driver-generated Parquet fixtures (TESTDATA.md).

Parquet scans are the engine's default source: columnar, predicate-pushdown,
column-pruned by Catalyst. Loading is lazy — a ``load_table`` is just a scan
node until an action runs, so queries that project 2 columns read 2 columns
(``.explain`` shows ReadSchema), which is the behavior that matters at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Schema memo for :func:`load_table` — METADATA only, never data or
# results (r20 optimization). Parquet schema inference re-reads the file
# footer through a fresh DataSource resolution on EVERY ``read.parquet``
# call (~100 ms of driver-side py4j + footer IO per call in this
# environment, measured vs ~20 ms with an explicit schema), and the
# engine's queries call load_table 1-6 times each INSIDE the timed
# region. Production engines do not re-infer table schemas per query —
# they read them from a catalog/manifest (the same argument the
# optimization guide makes for table formats at §6). The memo is the
# in-process catalog: keyed by (path, size, mtime_ns) so a rewritten
# fixture re-infers, holding only the StructType. A fresh process (each
# bench pass is its own subprocess) starts empty and pays one inference
# per table — nothing is reused ACROSS runs, every invocation still
# computes from the parquet inputs.
#
# Layout assumption (advice, round 20): the key os.stat()s the TOP-LEVEL
# path, which is exact for the flat single-file fixtures this loader
# serves and for Spark-style overwrite of a directory dataset (overwrite
# recreates the directory, changing its mtime). An in-place rewrite of a
# part file INSIDE a directory-style dataset that preserves the
# directory's entry list would leave dir size/mtime unchanged and serve
# a stale schema — if this loader ever grows a directory-dataset caller
# with in-place part rewrites, fold the max part-file mtime into the key.
_SCHEMA_MEMO: dict[tuple, object] = {}

# The runtime invariants every load_table caller relies on, pinned here
# because the driver owns the session: UTC session TZ (the DuckDB oracle
# sees the same instants), AQE on (skew/coalesce), legacy nanos-as-long
# parquet read and NTZ inference off (the ``ts`` normalization below).
_PINNED_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def _repair_conf(spark: SparkSession) -> None:
    """Verify the four invariants and ``set`` only the ones that differ, so
    a caller who mutated one between queries is repaired on the next
    ``load_table`` while an already-pinned session pays reads only.

    Four ``conf.get`` reads rather than one ``conf.getAll``: getAll builds
    its dict over a py4j map proxy, one round-trip per entry (measured
    ~18 ms per call against ~0.3 ms for the four reads on a 4-vCPU VM)."""
    for key, value in _PINNED_CONF.items():
        if spark.conf.get(key, None) != value:
            spark.conf.set(key, value)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy Parquet scan of one fixture table.

    ``events.ts`` normalizes to TIMESTAMP (LTZ — watermarks and event-time
    windows require it) regardless of how the fixture was written:
    TIMESTAMP(NANOS) parquet (unsupported natively) is read as raw nanos
    (legacy long mode) and truncated to micros — byte-identical to DuckDB's
    truncating read — while a plain ``timestamp[us]`` file is read with NTZ
    inference disabled, so the stored micros land directly as LTZ instants
    **at scan time, with no session-TZ dependence**: under the pinned-UTC
    session this is bit-identical to the previous NTZ→LTZ cast, but a
    caller mutating ``spark.sql.session.timeZone`` between load and action
    can no longer shift the instants (the cast path remains only as a
    fallback for frames built before the conf applies).

    The inferred schema is memoized per (path, size, mtime) — see
    ``_SCHEMA_MEMO`` above; every call first verifies and repairs the
    four pinned confs (:func:`_repair_conf`), so a memoized schema is
    decoded under exactly the conf it was inferred under.
    """
    _repair_conf(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        key = (path, st.st_size, st.st_mtime_ns)
    except OSError:
        # non-local / unstat-able path: skip the memo, infer as before
        key = None
    if key is not None and key in _SCHEMA_MEMO:
        df = spark.read.schema(_SCHEMA_MEMO[key]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMA_MEMO[key] = df.schema
    from pyspark.sql import functions as F  # local import keeps module load light
    from pyspark.sql import types as T

    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif field.name == "ts" and isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> None:
    """Register fixture tables as temp views so callers can query the
    engine in plain SQL (``spark.sql(...)``) — the same names the DuckDB
    oracle registers, so dialect-common SQL runs verbatim on both engines.
    Pass ``tables`` to register only what the query touches (skips the
    other parquet footer reads on hot paths)."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}
