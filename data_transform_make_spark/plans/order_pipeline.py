"""Order-approval pipeline — the Spark restatement of the reference's
``POST /wattsbags/order-webhook`` handler (makeRouter.js:77-134; SURVEY.md §3.1).

Reference shape (per webhook, sequential, 2 HTTP round-trips per line item):
    filter Status=='Approved' → iterate subtable → skip invalid/duplicate
    rows → GET inventory → throw if stock < qty → PUT {stock-qty, office+qty}

Spark restatement (per micro-batch, set-oriented, zero per-row I/O):
    status filter → per-row line array: tag each line with its array
    position, drop invalid lines, sort by (inventory_id, position), keep
    the first line per inventory_id → explode → running-stock admission →
    aggregate deltas → merge into inventory

One row is one request (FIXTURES.md A2), and the reference's first-wins
``Set`` covers one request (makeRouter.js:86). So validity and dedup run
inside each row's ``line_items`` array, before the explode: O(L log L)
per row, no exchange. The one shuffle left is the admission window's,
keyed by inventory_id; the delta aggregate reuses its partitioning.

Semantics preserved exactly:
  * P1 status gate (makeRouter.js:81)
  * P3 JS-falsy row validity: inventory_id/bag_model empty-or-null, qty
    parseInt-NaN-or-0 (makeRouter.js:89-96) via functions.js_compat
  * P4 first-wins dedup per (request row, inventory_id) in subtable array
    order (makeRouter.js:86,99-101) — the array position is the order, and
    ``applied_lines.line_no`` keeps it. Two rows that share a webhook_id
    are two requests and dedup independently, as the reference does.
  * A3 sufficiency: a line is admitted iff the running sum of admitted qty
    for its inventory_id (in webhook/line order) stays within the starting
    stock — identical to the reference's sequential read-modify-write chain
    for every admitted line.

Documented deviation (SURVEY.md §7.4.5): on an insufficient-stock line the
reference throws, aborting the REST of that webhook while keeping earlier
PUTs; the engine instead rejects exactly the insufficient lines (to the
``rejects`` output) and admits the rest — all-or-nothing per batch,
transactional, and order-independent across webhooks.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.js_compat import js_parse_int_sql


class OrderPipelineResult(NamedTuple):
    updated_inventory: DataFrame  # full post-state of the inventory table
    rejects: DataFrame  # insufficient-stock lines + reason
    applied_lines: DataFrame  # the admitted, deduped line items


# Every stage is one SQL-text projection: building it costs one py4j call,
# where the same expression through the Column API costs hundreds, and the
# pipeline is rebuilt for every micro-batch.
_LINE_COLS = ("webhook_id", "line_no", "inventory_id", "bag_model", "qty")

# P3 + P4 inside one request's ``line_items`` array. Each element becomes
# (inventory_id, line_no = original array position, bag_model, qty =
# parseInt). JS-falsy lines go (``!inventoryId || !bagModel || !qty``,
# makeRouter.js:94-96: a string is falsy when NULL or '', qty when parseInt
# is NaN or 0). The rest are sorted by (inventory_id, line_no), and element
# j is kept iff element j-1 has another inventory_id, so the first line per
# id in array order wins: O(L log L) per row. The sorted array is bound
# once through the ``transform(array(v), s -> ...)[0]`` form of
# functions.expr.let, so the keep test reads it without re-sorting per
# element.
_FIRST_VALID_LINES = f"""
transform(
  array(array_sort(filter(
    transform(line_items, (x, i) -> named_struct(
      'inventory_id', x.inventory_id,
      'line_no', i,
      'bag_model', x.bag_model_website,
      'qty', {js_parse_int_sql("x.qty_website")})),
    x -> x.inventory_id IS NOT NULL AND x.inventory_id <> ''
         AND x.bag_model IS NOT NULL AND x.bag_model <> ''
         AND x.qty IS NOT NULL AND x.qty <> 0))),
  s -> filter(s, (x, j) -> NOT get(s, j - 1).inventory_id <=> x.inventory_id)
)[0]
"""

# A3: running admitted qty per inventory_id, in (webhook_id, line_no, qty)
# order, against the starting stock.
_FITS = """
sum(qty) OVER (PARTITION BY inventory_id ORDER BY webhook_id, line_no, qty
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
  <= coalesce(__stock, 0) AS __fits
"""


def order_webhook_pipeline(webhooks: DataFrame, inventory: DataFrame) -> OrderPipelineResult:
    """Full §3.1 pipeline: webhooks + inventory -> (post-state, rejects, lines).

    ``webhooks``: (webhook_id, status, line_items array<struct<...>>) — the
    flattened A2 fixture shape (FIXTURES.md); the `{value}` envelope unwrap
    happens at JSON parse time (sources.ingest + an envelope-aware schema).

    A3 admission: a line is admitted iff the running sum of qty for its
    inventory_id, in (webhook_id, line_no, qty) order, stays within the
    starting ``general_stock_qty`` (NULL or missing stock reads 0). One
    broadcast join + one window shuffle keyed by inventory_id. The
    reference aborts the rest of a webhook on its first failure; the
    prefix rule here is exact whenever at most one webhook per
    inventory_id fails, and strictly more permissive otherwise (SURVEY.md
    §7.4.5). ``qty`` breaks ties between rows that share a webhook_id.

    A1 + A2 as one merge: per inventory_id, stock -= Σqty and office +=
    Σqty over the admitted lines, joined onto the inventory with the
    deltas broadcast (at most one row per inventory_id, like the stock
    side), so the inventory is not shuffled. Every row's two counters read
    ``parseInt(x || 0)``, so NULL counters become 0 even when no line
    touches them.
    """
    lines = webhooks.where("status = 'Approved'").selectExpr(
        "webhook_id", f"inline({_FIRST_VALID_LINES})"
    )
    stock = inventory.selectExpr(
        "inventory_id", "coalesce(general_stock_qty, 0) AS __stock"
    )
    staged = lines.join(F.broadcast(stock), "inventory_id", "left").selectExpr(
        *_LINE_COLS, _FITS
    )
    admitted = staged.where("__fits").selectExpr(*_LINE_COLS)
    rejected = staged.where("NOT __fits").selectExpr(
        *_LINE_COLS, "'insufficient_stock' AS reject_reason"
    )

    deltas = admitted.groupBy("inventory_id").agg(F.expr("sum(qty) AS __delta"))
    moved = {
        "general_stock_qty": "coalesce(general_stock_qty, 0) - coalesce(__delta, 0)",
        "qty_office": "coalesce(qty_office, 0) + coalesce(__delta, 0)",
    }
    post = inventory.join(F.broadcast(deltas), "inventory_id", "left").selectExpr(
        "inventory_id",
        *[
            f"{moved[c]} AS {c}" if c in moved else f"`{c}`"
            for c in inventory.columns
            if c != "inventory_id"
        ],
    )
    return OrderPipelineResult(updated_inventory=post, rejects=rejected, applied_lines=admitted)
