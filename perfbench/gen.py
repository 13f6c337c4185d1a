"""Seeded input generation for the benchmark.

Everything a workload reads is made here from the workload seed, so the
same seed gives byte-identical inputs and the engine never sees a file
it did not get from this module:

- ``docx_corpus``: Word manuals with headings, captioned tables and a
  fixed share of repeated or lightly edited sections (so dedup and the
  quality gates have work).
- ``questions``: RAG questions quoting the manuals.
- ``documents`` and ``deltas``: a text corpus in the engine's
  ``documents`` shape and the CDC change batches applied to it.
- ``sql_tables``: the ``customer``, ``orders``, ``lineitem`` and
  ``events`` tables the relational queries read, in the engine's
  testdata schema.
"""
import io
import json
import os
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("query row stream the spark line small fast group customer part "
         "column order scan a slow agg key window table merge vector join "
         "batch sort value hash filter big data dup").split()
LANGS = ["en", "fr", "de", "es", "zh"]

# a readable English register for the manuals, so the language and
# quality gates keep most sections
MANUAL_WORDS = (
    "the system reads each file and writes a new record to the table when "
    "a user opens the form you can search by name date or status and the "
    "result list shows the best match first to add a field press the "
    "button on the right side of the screen then enter a value and save "
    "every change is stored with the time and the author so that an "
    "earlier version can be restored if needed the report groups orders "
    "by region and month and sums the amount for each group before export "
    "check that the import rules match the source format otherwise rows "
    "are rejected and listed in the error log with a short reason").split()


def _write(table, path):
    pq.write_table(table, path, row_group_size=1 << 20)


def _texts(rng, n, lo, hi):
    lens = rng.integers(lo, hi, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    vocab = np.array(VOCAB, dtype=object)
    for ln in lens:
        out.append(" ".join(vocab[words[pos:pos + ln]]))
        pos += ln
    return out


# ---------------------------------------------------------------- DOCX

def _esc(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _para(text, style=None):
    ppr = f'<w:pPr><w:pStyle w:val="{style}"/></w:pPr>' if style else ""
    return f'<w:p>{ppr}<w:r><w:t xml:space="preserve">{_esc(text)}</w:t></w:r></w:p>'


def _table(rows):
    cells = "".join(
        "<w:tr>" + "".join(f"<w:tc>{_para(c)}</w:tc>" for c in row) + "</w:tr>"
        for row in rows)
    return f"<w:tbl>{cells}</w:tbl>"


_CT = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
       '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
       '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
       '<Default Extension="xml" ContentType="application/xml"/>'
       '<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-'
       'officedocument.wordprocessingml.document.main+xml"/></Types>')
_RELS = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
         '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
         '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/'
         'relationships/officeDocument" Target="word/document.xml"/></Relationships>')
_DOC_RELS = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
             '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"/>')


def _docx_bytes(body):
    xml = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
           '<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
           f'<w:body>{body}</w:body></w:document>')
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in (("[Content_Types].xml", _CT), ("_rels/.rels", _RELS),
                           ("word/_rels/document.xml.rels", _DOC_RELS),
                           ("word/document.xml", xml)):
            info = zipfile.ZipInfo(name, date_time=(2024, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, data)
    return buf.getvalue()


def _sentence(rng, lo=8, hi=22):
    words = np.array(MANUAL_WORDS, dtype=object)[rng.integers(0, len(MANUAL_WORDS), rng.integers(lo, hi))]
    s = " ".join(words)
    return s[0].upper() + s[1:] + "."


def docx_corpus(out_dir, seed, n_docs, sections_per_doc, paras_per_section,
                repeat_share=0.15):
    """Write ``n_docs`` manuals as ``manual_<i>.docx`` into ``out_dir``
    and return their distinct sections as ``(title, paragraphs)``.

    A ``repeat_share`` of sections is copied from an earlier manual,
    half verbatim and half with one sentence changed (near duplicates)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    pool = []
    for d in range(n_docs):
        body = [_para(f"Manual {d}", "Title")]
        for s in range(sections_per_doc):
            r = rng.random()
            if pool and r < repeat_share:
                title, paras = pool[rng.integers(0, len(pool))]
                if r < repeat_share / 2:
                    paras = list(paras)
                    paras[rng.integers(0, len(paras))] = _sentence(rng)
            else:
                title = f"Section {s + 1}: {VOCAB[rng.integers(0, len(VOCAB))]} " \
                        f"{VOCAB[rng.integers(0, len(VOCAB))]}"
                paras = [" ".join(_sentence(rng) for _ in range(rng.integers(3, 8)))
                         for _ in range(paras_per_section)]
                pool.append((title, paras))
            body.append(_para(title, "Heading1"))
            body.extend(_para(p) for p in paras)
            if rng.random() < 0.3:
                body.append(_para(f"Table {s + 1}. Field limits", "Caption"))
                body.append(_table([["field", "max", "unit"]] + [
                    [VOCAB[rng.integers(0, len(VOCAB))], str(rng.integers(1, 999)), "chars"]
                    for _ in range(rng.integers(2, 5))]))
        with open(f"{out_dir}/manual_{d:04d}.docx", "wb") as f:
            f.write(_docx_bytes("".join(body)))
    return pool


def questions(sections, n, seed, width=240):
    """``n`` RAG questions, asked in the returned order, each once. Each
    is a ``width``-character window of a paragraph of ``sections`` (as
    ``docx_corpus`` returns them), so it has a close match in the index.

    There is no repeat skew: the reference's own evaluation
    (``make_ragas_dataset.py``) asks each question of its golden set
    once, and no query log exists to take a popularity skew from."""
    rng = np.random.default_rng(seed)
    paras = [p for _, ps in sections for p in ps if len(p) > width]
    out = []
    for _ in range(n):
        p = paras[rng.integers(0, len(paras))]
        at = rng.integers(0, len(p) - width)
        out.append(p[at:at + width])
    return out


def documents(out_path, seed, n_docs):
    """Only the ``documents`` table: ``n_docs`` rows in the engine's shape."""
    rng = np.random.default_rng(seed)
    text = _texts(rng, n_docs, 8, 100)
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": text,
        "lang": np.array(LANGS, dtype=object)[rng.integers(0, 5, n_docs)],
        "n_chars": pa.array([len(t) for t in text], pa.int64())}), out_path)


def deltas(out_dir, seed, n_docs, n_batches, size):
    """CDC change batches over a corpus of ids ``0..n_docs-1``: 40%
    rewrites and 20% deletes of live ids, 40% inserts of fresh ids, as
    JSON lines ``b<k>.json``. Returns the live row count after each
    batch and, per batch, the texts of the rows it inserted (point-lookup
    keys that exist once)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    live = list(range(n_docs))
    next_id = n_docs
    counts, inserted = [], []
    n_up, n_del = size * 2 // 5, size // 5
    n_ins = size - n_up - n_del
    for b in range(n_batches):
        pick = rng.choice(len(live), n_up + n_del, replace=False)
        ids = [live[i] for i in pick]
        texts = _texts(rng, n_up + n_ins, 8, 60)
        lines = []
        for i, doc in enumerate(ids[:n_up]):
            t = f"rewrite {b} of {doc} " + texts[i]
            lines.append({"doc_id": doc, "text": t, "lang": LANGS[doc % 5],
                          "n_chars": len(t), "_del": False})
        for doc in ids[n_up:]:
            lines.append({"doc_id": doc, "text": "", "lang": LANGS[doc % 5],
                          "n_chars": 0, "_del": True})
        dead = set(ids[n_up:])
        live = [d for d in live if d not in dead]
        for j in range(n_ins):
            t = f"insert {b} row {next_id} " + texts[n_up + j]
            lines.append({"doc_id": next_id, "text": t, "lang": LANGS[next_id % 5],
                          "n_chars": len(t), "_del": False})
            live.append(next_id)
            next_id += 1
        inserted.append([x["text"] for x in lines[n_up + n_del:]])
        counts.append(len(live))
        with open(f"{out_dir}/b{b:03d}.json", "w") as f:
            f.write("\n".join(json.dumps(x) for x in lines))
    return counts, inserted


# ---------------------------------------------------------------- SQL

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["view", "click", "purchase", "signup"]


def shuffled(items, seed):
    """``items`` in an order drawn from ``seed``."""
    return [items[i] for i in np.random.default_rng(seed).permutation(len(items))]


def sql_tables(out_dir, seed, n_cust=150, n_orders=1500, n_lines=6000, n_events=2000):
    """The tables of the relational queries, at about a thousandth of the
    engine's bench scale. Prices carry two decimals and quantities are
    whole, so sums are exact in any engine; event times are distinct, so
    as-of matches are unique."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    cents = lambda lo, hi, n: np.round(rng.integers(lo * 100, hi * 100, n) / 100.0, 2)
    _write(pa.table({
        "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": cents(-999, 9999, n_cust),
        "c_mktsegment": np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)],
    }), f"{out_dir}/customer.parquet")
    day0 = np.datetime64("1995-01-01T00:00:00", "us")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(1, n_orders + 1), pa.int64()),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_orders), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"], dtype=object)[rng.integers(0, 3, n_orders)],
        "o_totalprice": cents(900, 400000, n_orders),
        "o_orderdate": pa.array(day0 + rng.integers(0, 2400, n_orders) * 86400_000000,
                                pa.timestamp("us")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                                    dtype=object)[rng.integers(0, 5, n_orders)],
    }), f"{out_dir}/orders.parquet")
    orderkeys = np.sort(rng.integers(1, n_orders + 1, n_lines))
    _write(pa.table({
        "l_orderkey": pa.array(orderkeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 201, n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 11, n_lines), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": cents(900, 100000, n_lines),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_lines)],
        "l_linestatus": np.array(["O", "F"], dtype=object)[rng.integers(0, 2, n_lines)],
        "l_shipdate": pa.array(day0 + rng.integers(0, 2500, n_lines) * 86400_000000,
                               pa.timestamp("us")),
    }), f"{out_dir}/lineitem.parquet")
    # distinct seconds over three days
    secs = np.sort(rng.choice(3 * 86400, n_events, replace=False))
    users = rng.integers(1, n_cust + 1, n_events)
    _write(pa.table({
        "event_id": pa.array(np.arange(1, n_events + 1), pa.int64()),
        "ts": pa.array(np.datetime64("2024-03-01T00:00:00", "us") + secs * 1_000000,
                       pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": np.array(EVENT_TYPES, dtype=object)[
            rng.choice(4, n_events, p=[0.45, 0.35, 0.15, 0.05])],
        "value": cents(0, 500, n_events),
        "props": [json.dumps({"device": ["web", "ios", "android"][u % 3], "v": int(u % 7)})
                  for u in users],
    }), f"{out_dir}/events.parquet")
