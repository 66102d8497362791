"""Seeded input generators for the three workloads.

Every input is a pure function of ``(seed, size)``: the same seed gives
byte-identical files. Generated data lives under the benchmark's work
directory (``.perfbench/data`` at the checkout root, git-ignored) and is
cached by seed and size, so generation never falls inside a timed region
or inside ``setup_s``.

Raw webhook bodies are stored as JSON lines of ``{id, raw_body}``: the
body is the request text exactly as received (NUL padding, Unicode
whitespace, malformed JSON and all), and JSON escaping keeps every byte
of it intact.
"""

from __future__ import annotations

import bisect
import itertools
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

# makeRouter.js status vocabulary (plans/process_pipeline.STATUS_MAP keys)
PROCESS_STATUSES = (
    "Office", "Warehouse", "Art", "Cutting", "Need Sewer Assigned",
    "Sewer Assigned", "Sewer Pickup", "With Sewer", "Embroidery", "Complete",
)
BAG_MODELS = ("Tote", "Duffel", "Roller", "Mini", "Backpack", "Sling")
# JS String.prototype.trim whitespace the ingest must strip (a sample)
UNICODE_WS = (" ", "\u00a0", "\u3000", "\ufeff", "\u2003", "\u2028", "\t", "\n", "\u202f")
COUNTERS = ("qty_office", "qty_warehouse", "qty_art", "qty_embroidery",
            "qty_sewer", "qty_completed")


def sku(i: int) -> str:
    return f"SKU{i:05d}"


def _pad_blank(rng: random.Random) -> str:
    """A blank body: NUL bytes and Unicode whitespace only."""
    return "".join(rng.choice(("\x00",) + UNICODE_WS) for _ in range(rng.randint(0, 6)))


def _malformed(rng: random.Random, body: str) -> str:
    kind = rng.randrange(3)
    if kind == 0:
        return body[: max(1, len(body) // 2)]  # truncated mid-document
    if kind == 1:
        return "{bad"
    return "status=Approved&items=3"


def _maybe_pad(rng: random.Random, body: str) -> str:
    """One body in ten arrives wrapped in NUL/whitespace padding."""
    if rng.random() < 0.10:
        return _pad_blank(rng) + body + _pad_blank(rng)
    return body


class Zipf:
    """Zipf(s) sampler over ``0..n-1``."""

    def __init__(self, n: int, s: float):
        w = [1.0 / (k ** s) for k in range(1, n + 1)]
        self.cum = list(itertools.accumulate(w))
        self.total = self.cum[-1]

    def draw(self, rng: random.Random) -> int:
        return bisect.bisect_left(self.cum, rng.random() * self.total)


def _falsy_line(rng: random.Random, sk: str) -> dict:
    kind = rng.randrange(5)
    line = {"inventory_id": sk, "bag_model_website": rng.choice(BAG_MODELS),
            "qty_website": str(rng.randint(1, 4))}
    if kind == 0:
        line["inventory_id"] = ""
    elif kind == 1:
        line["bag_model_website"] = None
    elif kind == 2:
        line["qty_website"] = "0"
    elif kind == 3:
        line["qty_website"] = "abc"
    else:
        line["qty_website"] = ""
    return line


def _qty_text(rng: random.Random) -> str:
    q = rng.randint(1, 4)
    r = rng.random()
    if r < 0.05:
        return f"{q}x"  # parseInt reads the leading integer
    if r < 0.10:
        return f" {q}"  # parseInt skips leading JS whitespace
    return str(q)


def order_bodies(rng: random.Random, n: int, first_id: int, zipf: Zipf) -> list[tuple[int, str]]:
    """``n`` raw order-webhook bodies with ids ``first_id..``, SKUs drawn
    from ``zipf``.

    Mix: ~70 % Approved, 1-8 lines each, ~5 % of lines repeat an earlier
    SKU of the same webhook (first wins), ~5 % JS-falsy lines, ~2 %
    malformed JSON, ~1 % blank bodies of NUL and Unicode whitespace, and
    one body in ten padded with the same.
    """
    out = []
    for wid in range(first_id, first_id + n):
        r = rng.random()
        if r < 0.01:
            out.append((wid, _pad_blank(rng)))
            continue
        status = "Approved" if rng.random() < 0.70 else rng.choice(
            ("Pending", "Cancelled", "approved", None))
        lines: list[dict] = []
        for _ in range(rng.randint(1, 8)):
            x = rng.random()
            if lines and x < 0.05:
                prev = rng.choice(lines)
                sk = prev["inventory_id"] or sku(0)
            else:
                sk = sku(zipf.draw(rng))
            if rng.random() < 0.05:
                lines.append(_falsy_line(rng, sk))
            else:
                lines.append({"inventory_id": sk,
                              "bag_model_website": rng.choice(BAG_MODELS),
                              "qty_website": _qty_text(rng)})
        doc: dict = {"line_items": lines}
        if status is not None:
            doc["status"] = status
        body = json.dumps(doc, ensure_ascii=False)
        if r < 0.03:
            body = _malformed(rng, body)
        out.append((wid, _maybe_pad(rng, body)))
    return out


def process_bodies(rng: random.Random, n: int, n_skus: int, first_id: int) -> list[tuple[int, str]]:
    """``n`` raw process-event bodies: stage transitions (including the
    same-column clobber pairs and Complete), ~5 % no-op, ~3 % falsy
    previous status, ~2 % missing inventory id, ~2 % malformed JSON,
    ~1 % blank padded bodies."""
    out = []
    for eid in range(first_id, first_id + n):
        r = rng.random()
        if r < 0.01:
            out.append((eid, _pad_blank(rng)))
            continue
        status = rng.choice(PROCESS_STATUSES + ("Unknown Stage",))
        prev = rng.choice(PROCESS_STATUSES)
        x = rng.random()
        if x < 0.05:
            prev = status
        elif x < 0.08:
            prev = rng.choice(("", None))
        inv = sku(rng.randrange(n_skus))
        if rng.random() < 0.02:
            inv = rng.choice(("", None))
        doc = {"status": status, "previous_status": prev, "inventory_id": inv}
        body = json.dumps(doc, ensure_ascii=False)
        if r < 0.03:
            body = _malformed(rng, body)
        out.append((eid, _maybe_pad(rng, body)))
    return out


INVENTORY_SCHEMA = pa.schema(
    [("inventory_id", pa.string()), ("bag_model", pa.string()),
     ("general_stock_qty", pa.int32())] + [(c, pa.int32()) for c in COUNTERS]
)


def inventory_rows(rng: random.Random, n_skus: int, stock: int) -> list[dict]:
    rows = []
    for i in range(n_skus):
        row = {"inventory_id": sku(i), "bag_model": rng.choice(BAG_MODELS),
               "general_stock_qty": stock}
        for c in COUNTERS:
            # parseInt(x || 0): a NULL counter reads as 0
            row[c] = None if rng.random() < 0.05 else rng.randint(0, 20)
        rows.append(row)
    return rows


def write_jsonl(path: str, id_name: str, rows: list[tuple[int, str]], n_files: int,
                name) -> None:
    """Raw rows as ``n_files`` equal JSON-lines files named ``name(k)``."""
    os.makedirs(path, exist_ok=True)
    per = -(-len(rows) // n_files)
    for k in range(n_files):
        chunk = rows[k * per:(k + 1) * per]
        with open(os.path.join(path, name(k)), "w", encoding="utf-8") as fh:
            for i, body in chunk:
                fh.write(json.dumps({id_name: i, "raw_body": body}) + "\n")


def write_inventory(path: str, rows: list[dict]) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=INVENTORY_SCHEMA),
                   os.path.join(path, "part-0000.parquet"))


# ---------------------------------------------------------------- documents

_STOP = ("the", "a", "an", "of", "and", "to", "in", "is", "it", "that")
_LANGS = (("en", ("the", "a", "of", "and", "to")),
          ("de", ("der", "die", "das", "und", "ist")),
          ("es", ("el", "la", "de", "que", "y")),
          ("fr", ("le", "la", "les", "et", "est")))
_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _word(rng: random.Random) -> str:
    return "".join(rng.choice(_LETTERS) for _ in range(rng.randint(3, 9)))


def _doc_text(rng: random.Random, vocab: list[str], lang_words: tuple[str, ...]) -> str:
    n = rng.randint(12, 90)
    words = []
    for _ in range(n):
        x = rng.random()
        if x < 0.12:
            words.append(rng.choice(_STOP))
        elif x < 0.17:
            words.append(rng.choice(lang_words))
        else:
            words.append(rng.choice(vocab))
    text = " ".join(words)
    if rng.random() < 0.3:
        text = text.replace(" ", ". ", 1) + "."
    return text


def _mutate(rng: random.Random, text: str, vocab: list[str], rate: float) -> str:
    toks = text.split(" ")
    return " ".join(rng.choice(vocab) if rng.random() < rate else t for t in toks)


def base_documents(rng: random.Random, n: int) -> list[dict]:
    """A synthetic base corpus with the curation-relevant shape:
    near-duplicate chains of 2-3 docs (so clustering merges more than
    pairs do), exact duplicates up to case/whitespace, and low-quality
    docs (too short, punctuation-heavy, stopword-free)."""
    vocab = [_word(rng) for _ in range(4000)]
    docs: list[dict] = []
    while len(docs) < n:
        lang, lw = rng.choice(_LANGS)
        src = rng.choice(("web", "books", "code", "forum"))
        x = rng.random()
        text = _doc_text(rng, vocab, lw)
        family = [text]
        if x < 0.25:  # near-dup family; members mutate the previous one
            for _ in range(rng.randint(1, 2)):
                family.append(_mutate(rng, family[-1], vocab, 0.12))
        elif x < 0.30:  # exact duplicate modulo case and spacing
            family.append("  " + text.upper().replace(" ", "  "))
        elif x < 0.34:  # too short
            family = [" ".join(rng.choice(vocab) for _ in range(3))]
        elif x < 0.38:  # punctuation-heavy and stopword-free
            family = [" ".join(rng.choice(vocab) + "!?;" for _ in range(20))]
        for t in family:
            docs.append({"text": t, "lang": lang, "source": src})
    rng.shuffle(docs)
    return docs[:n]


DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])


def overlay_documents(rng: random.Random, base: list[dict], replicas: int) -> list[dict]:
    """The ×``replicas`` overlay, built like ``tools/gen_scale_docs.py``:
    replica 0 is the base verbatim; replica i suffixes every non-stopword
    token with its own letters-only tag and shifts doc ids into a disjoint
    range. The seed picks each tag and the id offset; the overlay keeps
    the base's duplicate, quality and skew profile per replica."""
    tags = set()
    while len(tags) < replicas - 1:
        tags.add("xq" + "".join(rng.choice(_LETTERS) for _ in range(3)))
    tags = sorted(tags)
    rng.shuffle(tags)
    offset = rng.randrange(1, 1000) * 1_000_000
    stop = set(_STOP)
    out = []
    for i in range(replicas):
        for j, d in enumerate(base):
            if i == 0:
                text = d["text"]
            else:
                text = " ".join(t if t.lower() in stop else t + tags[i - 1]
                                for t in d["text"].split(" "))
            out.append({"doc_id": offset + i * 1_000_000 + j, "text": text,
                        "lang": d["lang"], "source": d["source"],
                        "n_chars": len(text)})
    return out


# ------------------------------------------------------------------ caching

def cached(root: str, key: str, build) -> str:
    """Directory ``root/key``, built once by ``build(tmpdir)`` and
    published by rename, so a cut-off generation is never reused."""
    final = os.path.join(root, key)
    if os.path.exists(os.path.join(final, "_DONE")):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(final, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    os.rename(tmp, final)
    return final
