"""Pins for the verify-and-repair conf step in sources.loader.

Every ``load_table`` call reads the four runtime invariants (UTC TZ, AQE
on, nanosAsLong, NTZ inference off) and sets only the ones that differ,
so a caller who mutates one between queries is repaired by the next call
instead of having memoized schemas decoded under a different conf.
"""

from data_transform_make_spark.sources.loader import _PINNED_CONF, load_table

SF_DIR = "/root/testdata/sf0.001"


def test_load_table_repairs_mutated_session_conf(spark):
    load_table(spark, SF_DIR, "region")
    for key, value in _PINNED_CONF.items():
        assert spark.conf.get(key) == value
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        load_table(spark, SF_DIR, "region")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert (
            spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
            == "false"
        )
    finally:
        for key, value in _PINNED_CONF.items():
            spark.conf.set(key, value)
