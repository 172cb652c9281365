"""Seeded input generator for the three workloads.

The same seed gives byte-identical inputs. Sizes are module constants so
the printed sizes and BENCHMARK.json agree.

pos_ingest     POS raw reports written as .xlsx workbooks with a 'Paid order
               list' sheet. Orders and order lines are TPC-H shaped; the raw
               report rows come from the pipeline oracle's own synthesis SQL
               (the DuckDB mirror of etl.Pos.rawReport), so the checker can
               replay the drops through the same oracle.
cdc_medallion  A statement schedule over an orders-keyed snapshot table.
llm_curation   Document shards, embedding shards and top-k query batches.
"""
import json
import os
import zipfile
from xml.sax.saxutils import escape

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

POS = dict(history_orders=1000, drops=3, orders_per_drop=8000, workbooks_per_drop=4,
           redelivered=0.1)
CDC = dict(initial_rows=20000, initial_files=8, cycles=60, keep_versions=12,
           merge_update=200, delete_width=40, append_rows=300,
           read_width=1500, optimize_every=2, optimize_target=262144)
LLM = dict(shards=2, docs=500, vectors=500, batches=5, batch=6, k=10, dim=64)
# query ids of llm_curation: batch j holds QUERY_ID0 + j * batch + [0, batch)
QUERY_ID0 = 1_000_000_000


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


# --------------------------------------------------------------- pos_ingest

def raw_report_sql(oracle_sql):
    """The raw-report CTEs of the pipeline oracle, ending in `raw`."""
    cut = oracle_sql.index("raw_items AS (")
    head = oracle_sql[:cut].rstrip().rstrip(",")
    assert head.startswith("WITH li0 AS (") and head.endswith("o_orderkey = l_orderkey)")
    return head + "\nSELECT * FROM raw"


def _orders(seed, n):
    r = _rng(seed, 1)
    keys = np.sort(r.choice(np.arange(1, 60 * n, dtype=np.int64), n, replace=False))
    r.shuffle(keys)
    start = np.datetime64("1992-01-01")
    orders = pa.table({
        "o_orderkey": keys,
        "o_orderstatus": r.choice(np.array(["F", "O", "P"]), n, p=[0.49, 0.49, 0.02]),
        "o_totalprice": np.round(r.uniform(850.0, 520000.0, n), 2),
        "o_orderdate": (start + r.integers(0, 2405, n).astype("timedelta64[D]"))
        .astype("datetime64[us]"),
    })
    nlines = r.integers(1, 8, n)
    lk = np.repeat(keys, nlines)
    ln = np.concatenate([np.arange(1, m + 1) for m in nlines]).astype(np.int32)
    lineitem = pa.table({
        "l_orderkey": lk,
        "l_partkey": r.integers(1, 20001, len(lk)).astype(np.int64),
        "l_suppkey": r.integers(1, 1001, len(lk)).astype(np.int64),
        "l_linenumber": ln,
        "l_quantity": r.integers(1, 51, len(lk)).astype(np.float64),
    })
    return orders, lineitem


_WORKBOOK = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" \
xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">\
<sheets><sheet name="Summary" sheetId="1" r:id="rId1"/>\
<sheet name="Paid order list" sheetId="2" r:id="rId2"/></sheets></workbook>"""
_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">\
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" \
Target="worksheets/sheet1.xml"/>\
<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" \
Target="worksheets/sheet2.xml"/></Relationships>"""
_TYPES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>"""
_SUMMARY = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>\
<row r="1"><c r="A1" t="inlineStr"><is><t>Daily summary</t></is></c></row></sheetData></worksheet>"""
HEADER = ["Order ID", "Products", "Product amount", "Received amount",
          "Payment time", "Cash", "Gcash", "Type/Channel"]


def _col(i):
    return "ABCDEFGH"[i]


def workbook_bytes(rows):
    """A SpreadsheetML package (the zip structure Excel writes): a decoy
    'Summary' sheet and the 'Paid order list' sheet, text in the shared
    string table, the order id as a numeric cell."""
    shared, index = [], {}

    def sst(v):
        if v not in index:
            index[v] = len(shared)
            shared.append(v)
        return index[v]

    out = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
           '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>']
    for r, row in enumerate([HEADER] + rows, start=1):
        cells = []
        for i, v in enumerate(row):
            ref = f"{_col(i)}{r}"
            if r > 1 and i == 0:
                cells.append(f'<c r="{ref}"><v>{v}</v></c>')
            else:
                cells.append(f'<c r="{ref}" t="s"><v>{sst(v)}</v></c>')
        out.append(f'<row r="{r}">' + "".join(cells) + "</row>")
    out.append("</sheetData></worksheet>")
    strings = "".join(f"<si><t>{escape(s)}</t></si>" for s in shared)
    sst_xml = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
               '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
               f'count="{len(shared)}" uniqueCount="{len(shared)}">{strings}</sst>')
    parts = [("[Content_Types].xml", _TYPES), ("xl/workbook.xml", _WORKBOOK),
             ("xl/_rels/workbook.xml.rels", _RELS), ("xl/sharedStrings.xml", sst_xml),
             ("xl/worksheets/sheet1.xml", _SUMMARY), ("xl/worksheets/sheet2.xml", "".join(out))]
    import io
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, text in parts:
            info = zipfile.ZipInfo(name, date_time=(2026, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, text.encode("utf-8"))
    return buf.getvalue()


def gen_pos(out, seed, oracles):
    d = os.path.join(out, "pos")
    os.makedirs(d)
    n_new = POS["orders_per_drop"]
    n_hist = POS["history_orders"]
    orders, lineitem = _orders(seed, n_hist + (POS["drops"] - 1) * n_new)
    pq.write_table(orders, os.path.join(d, "orders.parquet"))
    pq.write_table(lineitem, os.path.join(d, "lineitem.parquet"))
    con = duckdb.connect()
    con.register("orders", orders)
    con.register("lineitem", lineitem)
    raw = con.sql(raw_report_sql(oracles["pos_quarantine"])).fetchall()
    by_key = {int(row[0]): [str(row[0])] + list(row[1:]) for row in raw}
    lines = dict(con.sql("SELECT l_orderkey, count(*) FROM lineitem GROUP BY 1").fetchall())
    keys = orders.column("o_orderkey").to_numpy()
    r = _rng(seed, 2)
    manifest, drops = [], {}
    per = POS["workbooks_per_drop"]
    # drop 0 is the fact table's history; each later drop carries fresh
    # orders plus re-deliveries of earlier ones
    for i in range(POS["drops"]):
        lo = 0 if i == 0 else n_hist + (i - 1) * n_new
        hi = n_hist if i == 0 else lo + n_new
        fresh = keys[lo:hi]
        again = (r.choice(keys[:lo], int(n_new * POS["redelivered"]), replace=False)
                 if i else np.array([], dtype=np.int64))
        drop = [int(k) for k in np.concatenate([fresh, again])]
        names, size = [], 0
        for w in range(per):  # one workbook per register, orders dealt round robin
            name = f"drop_{i:04d}_{w}.xlsx"
            body = workbook_bytes([by_key[k] for k in drop[w::per]])
            with open(os.path.join(d, name), "wb") as f:
                f.write(body)
            names.append(name)
            size += len(body)
        manifest.append(f"drop_{i:04d}\t{sum(lines[k] for k in drop)}\t{size}\t{','.join(names)}")
        drops[f"drop_{i:04d}"] = drop
    with open(os.path.join(d, "manifest.tsv"), "w") as f:
        f.write("\n".join(manifest) + "\n")
    with open(os.path.join(d, "drops.json"), "w") as f:
        json.dump(drops, f)


# ------------------------------------------------------------ cdc_medallion

def gen_cdc(out, seed):
    d = os.path.join(out, "cdc")
    os.makedirs(d)
    c = CDC
    r = _rng(seed, 3)
    next_key = c["initial_rows"] + 1
    salt = 0
    lines = [f"init\t{c['initial_rows']}\t{c['initial_files']}"]

    block = c["initial_rows"] // c["initial_files"]

    def window(width):
        lo = int(r.integers(1, max(2, next_key - width)))
        return lo, lo + width - 1

    def file_window(f, width):
        """A key range inside initial file f: whatever the seed, a
        statement's rows sit in one file of each table."""
        lo = f * block + 1 + int(r.integers(0, block - width + 1))
        return lo, lo + width - 1

    for cyc in range(1, c["cycles"] + 1):
        def emit(*f):
            lines.append("\t".join(str(x) for x in (cyc,) + f))

        # the merge and the delete hit two different files
        hot = int(r.integers(0, c["initial_files"]))
        salt += 1
        emit("merge", salt, file_window(hot, c["merge_update"])[0], c["merge_update"])
        emit("read_pruned", *window(c["read_width"]))
        emit("delete", *file_window((hot + c["initial_files"] // 2) % c["initial_files"],
                                    c["delete_width"]))
        emit("read_changes")
        emit("apply")
        salt += 1
        emit("append", salt, next_key, c["append_rows"])
        next_key += c["append_rows"]
        emit("read_sql", *window(c["read_width"]))
        emit("read_travel", *window(c["read_width"]), f"{r.random():.6f}")
        if cyc % c["optimize_every"] == 1:
            emit("optimize", c["optimize_target"])
        emit("vacuum", c["keep_versions"])
    with open(os.path.join(d, "schedule.tsv"), "w") as f:
        f.write("\n".join(lines) + "\n")


# ------------------------------------------------------------- llm_curation

VOCAB = ("a the data spark table stream query value key row column batch scan "
         "filter join group sort hash merge window vector order line part customer "
         "small big fast slow agg index shard token model train eval corpus text "
         "clean dedup cluster embed rank score label split sample weight mix pack "
         "write read log commit file page cache plan cost time").split()
LANGS = (["en", "de", "es", "fr", "zh"], [0.4, 0.15, 0.15, 0.15, 0.15])


def _docs(r, n):
    zipf = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.8
    zipf /= zipf.sum()
    texts, originals = [], []
    for i in range(n):
        u = r.random()
        if originals and u < 0.04:  # exact duplicate of an earlier original
            texts.append(texts[originals[int(r.integers(0, len(originals)))]])
            continue
        if originals and u < 0.10:  # near duplicate: one or two words changed
            words = texts[originals[int(r.integers(0, len(originals)))]].split(" ")
            for _ in range(int(r.integers(1, 3))):
                words[int(r.integers(0, len(words)))] = VOCAB[int(r.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
            continue
        originals.append(i)
        length = int(r.integers(6, 140))
        if u > 0.95:  # low quality: few distinct words
            words = list(r.choice(VOCAB[:3], length))
        else:
            words = list(r.choice(VOCAB, length, p=zipf))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": list(r.choice(LANGS[0], n, p=LANGS[1])),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _vectors(r, n, dim, centers):
    which = r.integers(0, len(centers), n)
    v = centers[which] + r.normal(0.0, 0.35, (n, dim))
    copies = r.random(n) < 0.05  # near copies of an earlier vector
    for i in np.nonzero(copies)[0]:
        if i > 0:
            v[i] = v[int(r.integers(0, i))] + r.normal(0.0, 0.01, dim)
    return v.astype(np.float32), which.astype(np.int32)


def _emb_table(ids, v, labels=None):
    cols = {"vec_id": ids, "embedding": pa.array(list(v), type=pa.list_(pa.float32()))}
    if labels is not None:
        cols["label"] = labels
    return pa.table(cols)


def _shard(d, r, docs, vectors, batches, centers):
    c = LLM
    os.makedirs(d)
    pq.write_table(_docs(r, docs), os.path.join(d, "documents.parquet"))
    v, lab = _vectors(r, vectors, c["dim"], centers)
    pq.write_table(_emb_table(np.arange(vectors, dtype=np.int64), v, lab),
                   os.path.join(d, "embeddings.parquet"))
    for j in range(batches):
        pick = r.integers(0, vectors, c["batch"])
        q = v[pick] + r.normal(0.0, 0.2, (c["batch"], c["dim"])).astype(np.float32)
        ids = np.arange(c["batch"], dtype=np.int64) + QUERY_ID0 + j * c["batch"]
        pq.write_table(_emb_table(ids, q.astype(np.float32)),
                       os.path.join(d, f"queries_{j}.parquet"))


def gen_llm(out, seed):
    c = LLM
    r = _rng(seed, 4)
    base = os.path.join(out, "llm")
    centers = r.normal(0.0, 1.0, (32, c["dim"]))
    for s in range(c["shards"]):
        _shard(os.path.join(base, f"shard_{s}"), r, c["docs"], c["vectors"], c["batches"], centers)
    with open(os.path.join(base, "manifest.tsv"), "w") as f:
        f.write("\t".join(f"{k}\t{c[k]}" for k in
                          ("shards", "docs", "vectors", "batches", "batch", "k")) + "\n")


def generate(workload, out, seed, oracles):
    if workload == "pos_ingest":
        gen_pos(out, seed, oracles)
    elif workload == "cdc_medallion":
        gen_cdc(out, seed)
    elif workload == "llm_curation":
        gen_llm(out, seed)
    else:
        raise ValueError(f"unknown workload {workload}")
