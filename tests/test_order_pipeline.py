"""Golden end-to-end test for the order-approval pipeline (SURVEY.md §3.1),
hand-computed expected inventory post-state covering: P1 status gate, P3
falsiness skips, P4 first-wins dedup, A3 insufficient-stock rejection,
A1/A2 stock/office counters, NULL-counter parseInt(x||0) semantics; a
hypothesis property test against a pure-Python per-request reference; and
a plan pin that the dedup stays row-local.
"""

import re

import pyspark.sql.types as T
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from data_transform_make_spark.functions.expr import executed_plan, optimized_plan
from data_transform_make_spark.functions.js_compat import JS_WS
from data_transform_make_spark.plans.order_pipeline import order_webhook_pipeline

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


@pytest.fixture(scope="module")
def fixture_dfs(spark):
    webhooks = spark.createDataFrame(
        [
            # wh1: normal + dup id (first wins: qty 3 not 5) + invalid rows
            (1, "Approved", [
                ("I1", "Tote", "3"),
                ("I1", "Tote", "5"),        # dup inventory_id -> skipped (P4)
                ("", "Tote", "2"),          # falsy inventory_id (P3)
                ("I2", "", "2"),            # falsy bag_model (P3)
                ("I2", "Duffel", "0"),      # qty 0 falsy (P3)
                ("I2", "Duffel", "abc"),    # parseInt NaN (P3)
                ("I2", "Duffel", "2x"),     # parseInt -> 2, valid (T7)
            ]),
            # wh2: not approved -> fully skipped (P1)
            (2, "Pending", [("I1", "Tote", "9")]),
            # wh3: insufficient stock on I3 (stock 1 < qty 4) -> rejected (A3)
            (3, "Approved", [("I3", "Roller", "4"), ("I4", "Mini", "1")]),
        ],
        WEBHOOKS,
    )
    inventory = spark.createDataFrame(
        [
            ("I1", "Tote", 10, 1),
            ("I2", "Duffel", 7, None),  # NULL office counter -> parseInt(x||0)
            ("I3", "Roller", 1, 0),
            ("I4", "Mini", 5, 2),
            ("I5", "Untouched", 8, 3),
        ],
        INVENTORY,
    )
    return webhooks, inventory


def test_order_pipeline_post_state(fixture_dfs):
    webhooks, inventory = fixture_dfs
    result = order_webhook_pipeline(webhooks, inventory)
    post = {r.inventory_id: r for r in result.updated_inventory.collect()}
    # I1: 10-3=7 stock, office 1+3=4 (dup line skipped)
    assert (post["I1"].general_stock_qty, post["I1"].qty_office) == (7, 4)
    # I2: only the '2x' line is valid -> 7-2=5, office 0+2=2
    assert (post["I2"].general_stock_qty, post["I2"].qty_office) == (5, 2)
    # I3: rejected (insufficient), untouched
    assert (post["I3"].general_stock_qty, post["I3"].qty_office) == (1, 0)
    # I4: 5-1=4, office 2+1=3
    assert (post["I4"].general_stock_qty, post["I4"].qty_office) == (4, 3)
    # I5 untouched
    assert (post["I5"].general_stock_qty, post["I5"].qty_office) == (8, 3)


def test_order_pipeline_rejects(fixture_dfs):
    webhooks, inventory = fixture_dfs
    result = order_webhook_pipeline(webhooks, inventory)
    rejects = result.rejects.collect()
    assert len(rejects) == 1
    assert rejects[0].inventory_id == "I3"
    assert rejects[0].reject_reason == "insufficient_stock"


def test_running_stock_admission(spark):
    """Two webhooks draining one inventory: the running-sum window admits
    greedily in (webhook, line) order — wh1 takes 6 of 10, wh2's 5 no longer
    fits and is rejected (the reference's sequential GET-PUT chain)."""
    webhooks = spark.createDataFrame(
        [
            (1, "Approved", [("I1", "Tote", "6")]),
            (2, "Approved", [("I1", "Tote", "5")]),
            (3, "Approved", [("I1", "Tote", "4")]),
        ],
        WEBHOOKS,
    )
    inventory = spark.createDataFrame([("I1", "Tote", 10, 0)], INVENTORY)
    result = order_webhook_pipeline(webhooks, inventory)
    post = result.updated_inventory.collect()[0]
    # wh1 (6) admitted; wh2 (6+5=11>10) rejected; wh3 (6+4=10<=10) admitted
    # under prefix-running-sum: running sums are 6, 11, 15 -> only wh1 fits.
    # Document: strict prefix rule admits while cumulative fits -> 6 only?
    # running: wh1=6 ok; wh2=11 reject; wh3=15 reject.
    assert post.general_stock_qty == 4
    assert post.qty_office == 6
    assert result.rejects.count() == 2


# ---------------------------------------------------------------------------
# Property test against a pure-Python, per-request restatement of §3.1.

_LEAD = re.compile("^[" + re.escape(JS_WS) + r"]*([+-]?[0-9]+)")


def _parse_int(s):
    m = _LEAD.match(s) if s is not None else None
    return int(m.group(1)) if m else None


def reference_pipeline(webhooks, inventory):
    """-> (post {id: (stock, office)}, applied lines, rejected lines).

    One row is one request: the first-wins set is per row (makeRouter.js:86),
    so two rows sharing a webhook_id dedup independently. Lines are
    admitted per inventory_id in (webhook_id, line_no, qty) order while the
    running qty stays within the starting stock; counters read
    ``parseInt(x || 0)``."""
    lines = []
    for wid, status, items in webhooks:
        if status != "Approved":
            continue
        seen = set()
        for pos, (inv, model, qty_raw) in enumerate(items or []):
            qty = _parse_int(qty_raw)
            if not inv or not model or not qty or inv in seen:
                continue
            seen.add(inv)
            lines.append((wid, pos, inv, model, qty))
    stock = {inv: s or 0 for inv, _, s, _ in inventory}
    running, applied, rejected = {}, [], []
    for line in sorted(lines, key=lambda r: (r[0], r[1], r[4])):
        inv, qty = line[2], line[4]
        running[inv] = running.get(inv, 0) + qty
        (applied if running[inv] <= stock.get(inv, 0) else rejected).append(line)
    delta = {}
    for line in applied:
        delta[line[2]] = delta.get(line[2], 0) + line[4]
    post = {
        inv: ((s or 0) - delta.get(inv, 0), (office or 0) + delta.get(inv, 0))
        for inv, _, s, office in inventory
    }
    return post, sorted(applied), sorted(rejected)


def run_pipeline(spark, webhooks, inventory):
    result = order_webhook_pipeline(
        spark.createDataFrame(webhooks, WEBHOOKS),
        spark.createDataFrame(inventory, INVENTORY),
    )
    post = {
        r.inventory_id: (r.general_stock_qty, r.qty_office)
        for r in result.updated_inventory.collect()
    }
    applied = sorted(tuple(r) for r in result.applied_lines.collect())
    rejected = []
    for r in result.rejects.collect():
        assert r.reject_reason == "insufficient_stock"
        rejected.append(tuple(r)[:-1])
    return post, applied, sorted(rejected)


# Duplicate SKUs, falsy ids and models, and qty strings that parseInt reads
# as NaN, 0, a leading-digit prefix, a negative, or an NBSP-padded number.
# One truthy bag model only: rows that tie on (webhook_id, line_no, qty)
# under a shared webhook_id are then identical, so the multiset of applied
# lines does not depend on which tied row the running sum reaches first.
_LINE = st.tuples(
    st.sampled_from(["I1", "I2", "I3", "I9", "", None]),
    st.sampled_from(["Tote", "", None]),
    st.sampled_from(
        ["1", "2", "3", "2x", "abc", "0", "\u00a04\u00a0", "\u30005", "-1", "", None]
    ),
)
_WEBHOOK = st.tuples(
    st.integers(min_value=1, max_value=5),
    st.sampled_from(["Approved", "Approved", "Pending", None]),
    st.one_of(st.none(), st.lists(_LINE, max_size=50)),
)
_COUNTER = st.one_of(st.none(), st.integers(min_value=0, max_value=12))


@settings(max_examples=20, deadline=None)
@given(
    webhooks=st.lists(_WEBHOOK, max_size=6),
    counters=st.lists(st.tuples(_COUNTER, _COUNTER), min_size=3, max_size=3),
)
def test_order_pipeline_matches_per_request_reference(spark, webhooks, counters):
    inventory = [
        (inv, "Tote", s, office)
        for inv, (s, office) in zip(["I1", "I2", "I3"], counters)
    ]
    assert run_pipeline(spark, webhooks, inventory) == reference_pipeline(
        webhooks, inventory
    )


def test_shared_webhook_id_rows_dedup_independently(spark):
    """Two rows with one webhook_id are two requests: each keeps its own
    first I1 line (the Set is per request, makeRouter.js:86), and
    ``line_no`` stays each line's position in its own array."""
    webhooks = [
        (7, "Approved", [("I1", "Tote", "2"), ("I1", "Tote", "9")]),
        (7, "Approved", [("", "Tote", "1"), ("I1", "Tote", "3"), ("I1", "Tote", "8")]),
    ]
    inventory = [("I1", "Tote", 10, None)]
    got = run_pipeline(spark, webhooks, inventory)
    assert got == reference_pipeline(webhooks, inventory)
    post, applied, rejected = got
    assert post == {"I1": (5, 5)}
    assert applied == [(7, 0, "I1", "Tote", 2), (7, 1, "I1", "Tote", 3)]
    assert rejected == []


def test_dedup_is_row_local_in_the_executed_plan(spark, fixture_dfs):
    """First-wins runs inside each row's array: the executed plan has no
    SortAggregate (the old ``min_by(struct)`` dedup) and no exchange keyed
    on webhook_id. The sorted line array is ``let``-bound, so the
    optimized plan sorts once per row, not once per element."""
    webhooks, inventory = fixture_dfs
    post = order_webhook_pipeline(webhooks, inventory).updated_inventory
    post.collect()
    plan = executed_plan(post)
    assert "SortAggregate" not in plan
    assert not re.search(r"hashpartitioning\([^)]*webhook_id", plan), plan
    assert optimized_plan(post).count("array_sort(") == 1
