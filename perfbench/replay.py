"""Pure-Python replay of the engine's documented webhook semantics
(SURVEY.md §3.1 / §3.2), used only to check outputs — never timed.

* ingest: NUL strip, JS ``trim``, blank -> ``'{}'``, JSON parse; a body
  that does not parse to an object is dead-lettered as ``invalid_json``;
* orders: ``Status == 'Approved'``; JS-falsy lines dropped
  (``!inventoryId || !bagModel || !parseInt(qty)``); first line per
  (webhook, inventory id) wins in array order; per SKU, lines in
  (webhook, line) order are admitted while the running quantity stays
  within the starting stock (prefix admission); admitted quantity moves
  from ``general_stock_qty`` to ``qty_office``;
* process events: no-op and falsy-previous transitions skipped, a missing
  inventory id dead-letters, and the stale-read clobber rule (a same-
  column transition nets +1).

Counters read ``parseInt(x || 0)``: NULL is 0.
"""

from __future__ import annotations

import json
import re

# functions/js_compat.JS_WS: the whitespace JS trim/parseInt skip
JS_WS = (
    "\t\n\x0b\x0c\r "
    "\u00a0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000\ufeff"
)
_LEADING_INT = re.compile("^[" + JS_WS + "]*([+-]?[0-9]+)")

STATUS_MAP = {
    "Office": "qty_office", "Warehouse": "qty_warehouse", "Art": "qty_art",
    "Cutting": "qty_embroidery", "Need Sewer Assigned": "qty_sewer",
    "Sewer Assigned": "qty_sewer", "Sewer Pickup": "qty_sewer",
    "With Sewer": "qty_sewer", "Embroidery": "qty_embroidery",
}
COUNTERS = ("qty_office", "qty_warehouse", "qty_art", "qty_embroidery",
            "qty_sewer", "qty_completed")


def js_parse_int(s):
    if s is None:
        return None
    m = _LEADING_INT.match(s)
    return int(m.group(1)) if m else None


def falsy(s) -> bool:
    return s is None or s == ""


def ingest(body):
    """-> (record dict, None) or (None, 'invalid_json')."""
    text = (body or "").replace("\x00", "").strip(JS_WS)
    if not text:
        text = "{}"
    try:
        rec = json.loads(text)
    except ValueError:
        return None, "invalid_json"
    if not isinstance(rec, dict):
        return None, "invalid_json"
    return rec, None


def order_lines(bodies):
    """Candidate lines ``(webhook_id, line_no, sku, qty)`` after the status
    gate, validity filter and first-wins dedup."""
    lines = []
    for wid, body in bodies:
        rec, reason = ingest(body)
        if reason:
            continue
        if rec.get("status") != "Approved":
            continue
        seen = set()
        for pos, item in enumerate(rec.get("line_items") or []):
            inv = item.get("inventory_id")
            qty = js_parse_int(item.get("qty_website"))
            if falsy(inv) or falsy(item.get("bag_model_website")) or not qty:
                continue
            if inv in seen:
                continue
            seen.add(inv)
            lines.append((wid, pos, inv, qty))
    return lines


def admit(lines, stock: dict):
    """Prefix admission per SKU -> (admitted, rejected) line lists."""
    running: dict = {}
    admitted, rejected = [], []
    for line in sorted(lines):
        _, _, inv, qty = line
        running[inv] = running.get(inv, 0) + qty
        (admitted if running[inv] <= (stock.get(inv) or 0) else rejected).append(line)
    return admitted, rejected


def apply_orders(inventory: dict, admitted) -> dict:
    delta: dict = {}
    for _, _, inv, qty in admitted:
        delta[inv] = delta.get(inv, 0) + qty
    out = {}
    for inv, row in inventory.items():
        d = delta.get(inv, 0)
        row = dict(row)
        row["general_stock_qty"] = (row["general_stock_qty"] or 0) - d
        row["qty_office"] = (row["qty_office"] or 0) + d
        out[inv] = row
    return out


def process_events(bodies) -> dict:
    """Per-SKU counter deltas of the events that reach the pipeline."""
    deltas: dict = {}
    for _, body in bodies:
        rec, reason = ingest(body)
        if reason:
            continue
        prev, status, inv = rec.get("previous_status"), rec.get("status"), rec.get("inventory_id")
        if falsy(prev) or status is None or prev == status:
            continue
        if falsy(inv):  # dead-lettered as missing_inventory_id
            continue
        d = deltas.setdefault(inv, {})
        prev_col, curr_col = STATUS_MAP.get(prev), STATUS_MAP.get(status)
        if prev_col is not None and prev_col != curr_col:
            d[prev_col] = d.get(prev_col, 0) - 1
        if curr_col is not None:
            d[curr_col] = d.get(curr_col, 0) + 1
        if status == "Complete":
            d["qty_completed"] = d.get("qty_completed", 0) + 1
    return deltas


def apply_process(inventory: dict, deltas: dict) -> dict:
    out = {}
    for inv, row in inventory.items():
        d = deltas.get(inv, {})
        row = dict(row)
        for c in COUNTERS:
            row[c] = (row[c] or 0) + d.get(c, 0)
        out[inv] = row
    return out

