"""The ``curation`` workload: the LLM training-corpus job over a seeded
×10 document overlay — ``build_training_corpus_clustered(max_df=5)`` and
``decontamination_report``, both written — checked against the DuckDB
oracle twins of ``corpus.oracle_sql()`` (ll3, dec1)."""

from __future__ import annotations

import json
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

import gen
from common import DATA, copy_tree

from data_transform_make_spark.functions.text import doc_fingerprint, quality_score
from data_transform_make_spark.operators.dedup import keep_min_by, ngram_jaccard_pairs
from data_transform_make_spark.operators.graph import connected_components
from data_transform_make_spark.plans.training_corpus import (
    build_training_corpus_clustered,
    decontamination_report,
)

BASE_DOCS = 500
REPLICAS = 10
WARMUP_PASSES = 3  # with fewer, the first timed pass still runs colder
MAX_DF = 5  # the ll3 production posture
THRESHOLD = 0.2  # build_training_corpus_clustered's default near-dup cut
CC_GATE = 100_000 // 2  # connected_components' driver path holds <= this many pairs
ORACLES = {"ll3": "ll3_training_corpus_capped", "dec1": "dec1_decontamination"}


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    return v


def rows_of(table) -> list:
    """Order-free, type-normalised rows, as ``tools/driver_sim.py`` compares."""
    return sorted((tuple(_norm(v) for v in r) for r in table), key=repr)


def docs_data(seed: int) -> str:
    """The seeded overlay plus the oracle's answers on it (computed once
    per seed, outside every run's timing)."""
    def build(d: str) -> None:
        rng = random.Random(f"curation:{seed}")
        docs = gen.overlay_documents(rng, gen.base_documents(rng, BASE_DOCS), REPLICAS)
        os.makedirs(os.path.join(d, "documents"))
        pq.write_table(pa.Table.from_pylist(docs, schema=gen.DOC_SCHEMA),
                       os.path.join(d, "documents", "part-0000.parquet"))
        import duckdb

        from data_transform_make_spark import corpus

        con = duckdb.connect()
        con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet('"
                    + os.path.join(d, "documents", "*.parquet") + "')")
        sql = corpus.oracle_sql()
        expected = {}
        for key, name in ORACLES.items():
            # materialize ll3's edge list once: DuckDB otherwise re-derives
            # it on every step of the recursive reachability CTE (a plan
            # hint only — the query and its result are unchanged)
            res = con.execute(sql[name].replace("edges AS (", "edges AS MATERIALIZED ("))
            expected[key] = {"cols": [c[0].lower() for c in res.description],
                             "rows": rows_of(res.fetchall())}
        con.close()
        with open(os.path.join(d, "expected.json"), "w") as fh:
            json.dump({"docs": len(docs), **expected}, fh)

    return gen.cached(DATA, f"curation-s{seed}-b{BASE_DOCS}x{REPLICAS}", build)


def expected(data: str) -> dict:
    with open(os.path.join(data, "expected.json")) as fh:
        return json.load(fh)


def stage_pass_inputs(data: str, out: str) -> str:
    """A distinct-path copy of the same docs for each pass: the one-slot
    decontamination memo matches on the analyzed plan, so no pass can be
    served by an earlier pass's result."""
    return copy_tree(os.path.join(data, "documents"), os.path.join(out, "documents"))


def curation_pass(spark, tr, out: str) -> None:
    """One timed pass: both jobs over the pass's own copy, both written."""
    docs = spark.read.parquet(os.path.join(out, "documents"))
    with tr.span("plans.training_corpus", "ll3"):
        stats = build_training_corpus_clustered(docs, max_df=MAX_DF)
    with tr.span("plans.training_corpus", "decon"):
        report = decontamination_report(docs)
    with tr.span("sources.sinks", "curation"):
        stats.write.parquet(os.path.join(out, "ll3"))
        report.write.parquet(os.path.join(out, "dec1"))


def materialized_pass(spark, tr, out: str) -> dict:
    """The traced breakdown: the same work split at public layer
    boundaries, each piece materialized inside its own span.

    * ``operators.dedup``: ``ngram_jaccard_pairs`` over the quality-gated,
      fingerprint-deduped docs (rebuilt from the public ``quality_score``,
      ``doc_fingerprint`` and ``keep_min_by`` in an uncounted ``bench``
      span), with the ll3 cap and threshold;
    * ``operators.graph``: ``connected_components`` over those pairs;
    * ``plans.training_corpus`` base: ``build_training_corpus_clustered``
      with an empty injected pair frame — quality gate, exact dedup, token counts, cuts, stats —
      and the decontamination report over a second copy.
    """
    held = []

    def cut(df):
        df = df.persist()
        n = df.count()
        held.append(df)
        return df, n

    counts = {}
    try:
        docs = spark.read.parquet(os.path.join(out, "documents"))
        with tr.span("bench", "prep"):
            exact, _ = cut(keep_min_by(docs.filter(quality_score("text") >= 0.66),
                                       [doc_fingerprint("text").alias("__fp")], ["doc_id"]))
        with tr.span("operators.dedup", "pairs"):
            pairs, counts["pairs"] = cut(ngram_jaccard_pairs(
                exact, "doc_id", "text", 3, threshold=THRESHOLD, max_df=MAX_DF))
        with tr.span("operators.graph", "cc"):
            cut(connected_components(pairs, src="id_a", dst="id_b"))
        no_pairs = spark.createDataFrame([], "id_a long, id_b long")
        with tr.span("plans.training_corpus", "base"):
            build_training_corpus_clustered(docs, max_df=MAX_DF, pairs=no_pairs).count()
        docs2 = spark.read.parquet(copy_tree(os.path.join(out, "documents"),
                                             os.path.join(out, "documents_decon")))
        with tr.span("plans.training_corpus", "decon"):
            decontamination_report(docs2).count()
        with tr.span("bench", "counters"):
            counts["candidates"] = ngram_jaccard_pairs(
                exact, "doc_id", "text", 3, threshold=0.0, max_df=MAX_DF).count()
    finally:
        for df in held:
            df.unpersist()
    return counts


def check(spark, data: str, out: str) -> list[str]:
    exp = expected(data)
    bad = []
    for key in ORACLES:
        df = spark.read.parquet(os.path.join(out, key))
        cols = [c.lower() for c in df.columns]
        got = {"cols": cols, "rows": json.loads(json.dumps(rows_of(df.collect())))}
        if got != exp[key]:
            bad.append(key)
    return bad
