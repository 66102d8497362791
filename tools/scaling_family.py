"""Extend the round-8 sf0.1 -> sf1.0 scaling evidence beyond ll1/ll2/ll3
to the dedup/curation family the 100 TB posture leans on. Same corpus
(tools/gen_scale_docs.py), same protocol (one session, one warmup,
min-of-3 steady-state per cell).

Prints one JSON line prefixed SCALING_FAMILY_RESULT:.

Layout mode (round 14, closing the r13 layout question for good): the
driver fixtures ship documents.parquet as a SINGLE file, which the r13
probe (tools/r13_evidence.py) showed distorts every documents-family
growth cell — the same plans scale at ×0.9–1.9 on a realistic 32-file
layout vs ×2.2–3.0 on the 1-file one (scan-parallelism artifact, not a
plan cost). ``--layout=split32`` (or env SPARK_GRAFT_LAYOUT=split32)
rebuilds documents.parquet as a 32-file dataset in a temp overlay dir
(all other tables symlinked) and stamps ``"layout": "split32"`` on the
output line so a split-layout series can NEVER be silently compared
against a 1-file series. Default output is stamped ``"layout":
"single_file"`` — future ledger tables must match layouts before
comparing.

dec1's cells pay the projection's checkpoint write every run, and
the write cost swings ~3x with the
box's disk state: three clean sessions read the sf0.1 cell at
1.23 / 3.63 / 1.40 s while sf1.0 stayed flat (SCALE.md round 12 —
the retracted r11 drift alarm). Its cells are therefore only
comparable WITHIN one session's output line; the tool now stamps
them ``"session_only": true`` so a cross-round read of two ledger
tables cannot re-raise that alarm without tripping over the marker.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_transform_make_spark import corpus  # noqa: E402
from data_transform_make_spark.session import get_spark  # noqa: E402

SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scale_sf1")
LAYOUT = (
    "split32"
    if (
        "--layout=split32" in sys.argv
        or os.environ.get("SPARK_GRAFT_LAYOUT") == "split32"
    )
    else "single_file"
)
QUERIES = [a for a in sys.argv[1:] if not a.startswith("--layout")] or [
    "d1_exact_dedup",
    "d2_ngram_jaccard",
    "d3_minhash_lsh",
    "dc1_dedup_clusters",
    "dec1_decontamination",
    "par1_paragraph_dedup",
]


def _split32_overlay(spark, src: str, workdir: str) -> str:
    """Overlay of ``src`` with documents.parquet rewritten as 32 files.

    Every other table is symlinked, so load_table paths are unchanged;
    the rewrite preserves rows exactly (same parquet data repartitioned
    round-robin — certified by the r13 probe's cross-arm checksums)."""
    dst = os.path.join(workdir, os.path.basename(src.rstrip("/")))
    os.makedirs(dst)
    for entry in os.listdir(src):
        if entry == "documents.parquet":
            (
                spark.read.parquet(os.path.join(src, entry))
                .repartition(32)
                .write.parquet(os.path.join(dst, entry))
            )
        else:
            os.symlink(os.path.join(src, entry), os.path.join(dst, entry))
    return dst


def main() -> None:
    spark = get_spark("scaling-family")
    global SF01, SF1
    if LAYOUT == "split32":
        import atexit
        import shutil
        import tempfile

        workdir = tempfile.mkdtemp(prefix="sgraft_split32_")
        # r14 ADVICE: clean the multi-GB overlay on EVERY exit path — a
        # failed timed run or a bad query name must not leak it in /tmp
        atexit.register(shutil.rmtree, workdir, ignore_errors=True)
        SF01 = _split32_overlay(spark, SF01, workdir)
        SF1 = _split32_overlay(spark, SF1, workdir)
    qs = corpus.queries()
    qs["p1_status_gate"](spark, SF01).count()

    def run_min3(name, sf_dir):
        def f():
            qs[name](spark, sf_dir).count()

        f()  # warmup
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            f()
            runs.append(time.perf_counter() - t0)
        return round(min(runs), 3)

    # Cells whose absolute values are NOT comparable across sessions:
    # dec1 measures its cold checkpoint write (disk-state-dependent,
    # ~3x swing across clean sessions — see module docstring). The
    # within-line ratio is still meaningful; the sf-cells are not.
    SESSION_ONLY = {"dec1_decontamination"}

    out = {"layout": LAYOUT}
    for name in QUERIES:
        t01 = run_min3(name, SF01)
        t1 = run_min3(name, SF1)
        out[name] = {"sf0.1": t01, "sf1.0": t1, "ratio": round(t1 / t01, 2)}
        if name in SESSION_ONLY:
            out[name]["session_only"] = True
    print("SCALING_FAMILY_RESULT:" + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
