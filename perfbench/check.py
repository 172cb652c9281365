"""Output checks: each workload's outputs against a DuckDB replay.

Each check returns (checked, mismatches): how many items it compared and a
list of one-line descriptions of the ones that differ.
"""
import glob
import json
import math
import os
from collections import Counter

import duckdb


def _parquet(path):
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    return f"read_parquet({files!r}, hive_partitioning = false)" if files else None


def _r(x):
    return round(x, 2) if isinstance(x, float) else x


def _rows(rows):
    return [tuple(_r(v) for v in row) for row in rows]


# --------------------------------------------------------------- pos_ingest

FACT_COLS = ("order_id, items, payment_time, sub_category, category, quantity, "
             "total_order_amount, payment_type, order_type")
QUAR_COLS = "order_id, items, sub_category, category, quantity, total_order_amount"


def check_pos(inputs, out, oracle_sql):
    """Fact, quarantine, star and the last dashboard read against the
    pipeline oracle (the q37/q38 DuckDB mirror) over the ingested orders.

    The fact table is keyed on (order_id, items, payment_time): lines of
    one order that map to the same item collapse to one row, and any of
    them may win. So the fact must hold exactly the oracle's keys, and each
    of its rows must be one of the oracle's rows for that key."""
    drops = json.load(open(os.path.join(inputs, "pos", "drops.json")))
    ingested = [drops[d] for d in out["drops"]]
    keys = sorted({k for d in ingested for k in d})
    con = duckdb.connect()
    con.execute("CREATE TABLE ingested AS SELECT unnest(?::BIGINT[]) AS k", [keys])
    pos = os.path.join(inputs, "pos")
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{pos}/orders.parquet' "
                "WHERE o_orderkey IN (SELECT k FROM ingested)")
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{pos}/lineitem.parquet' "
                "WHERE l_orderkey IN (SELECT k FROM ingested)")
    pipeline = oracle_sql[:oracle_sql.rindex("\nSELECT ")]
    con.execute(f"CREATE TABLE expected AS {pipeline}\n"
                f"SELECT {FACT_COLS}, valid FROM flagged")
    bad = []
    d = out["dir"]

    fact = _rows(con.sql(f"SELECT {FACT_COLS} FROM {_parquet(d + '/fact')}").fetchall())
    want = {}
    for row in _rows(con.sql(f"SELECT {FACT_COLS} FROM expected WHERE valid").fetchall()):
        want.setdefault(row[:3], set()).add(row)
    got_keys = Counter(r[:3] for r in fact)
    if set(got_keys) != set(want) or max(got_keys.values(), default=1) > 1:
        bad.append(f"fact keys: {len(got_keys)} distinct of {len(fact)} rows, "
                   f"oracle {len(want)}")
    wrong = [r for r in fact if r not in want.get(r[:3], ())]
    if wrong:
        bad.append(f"fact rows unlike the oracle: {len(wrong)}, e.g. {wrong[0]}")

    # quarantine appends once per ingest of an order, re-deliveries included
    per_order = {}
    for row in _rows(con.sql(f"SELECT {QUAR_COLS} FROM expected WHERE NOT valid").fetchall()):
        per_order.setdefault(int(row[0]), []).append(row)
    want_q = Counter(r for d in ingested for k in d for r in per_order.get(k, []))
    q = _parquet(d + "/quarantine")
    got_q = Counter(_rows(con.sql(f"SELECT {QUAR_COLS} FROM {q}").fetchall())) if q else Counter()
    if got_q != want_q:
        bad.append(f"quarantine: {sum(got_q.values())} rows, oracle {sum(want_q.values())}")

    star = {t: _parquet(f"{d}/star/{t}") for t in
            ("fact", "dim_item", "dim_payment", "dim_order_type")}
    n_star, n_items, n_pay, n_ot = con.sql(
        f"SELECT count(*), count(DISTINCT i.items), count(DISTINCT p.payment_type), "
        f"count(DISTINCT o.order_type) FROM {star['fact']} f "
        f"JOIN {star['dim_item']} i USING (item_id) "
        f"JOIN {star['dim_payment']} p USING (payment_type_id) "
        f"JOIN {star['dim_order_type']} o USING (order_type_id)").fetchone()
    exp = con.sql("SELECT count(DISTINCT items), count(DISTINCT payment_type), "
                  "count(DISTINCT order_type) FROM expected WHERE valid").fetchone()
    if (n_star, n_items, n_pay, n_ot) != (len(fact),) + tuple(exp):
        bad.append(f"star (rows, items, payment types, order types) "
                   f"{(n_star, n_items, n_pay, n_ot)} != {(len(fact),) + tuple(exp)}")

    for dim, (key, name) in {"dim_item": ("item_id", "items"),
                             "dim_payment": ("payment_type_id", "payment_type"),
                             "dim_order_type": ("order_type_id", "order_type")}.items():
        read = sorted(tuple(r) for r in out["read"][dim])
        want_read = sorted(con.sql(
            f"SELECT d.{name}, count(*), sum(quantity), sum(total_order_amount) "
            f"FROM {star['fact']} f JOIN {star[dim]} d USING ({key}) "
            f"GROUP BY d.{name}").fetchall())
        if len(read) != len(want_read) or any(
                a[:2] != b[:2] or not all(math.isclose(x, y, rel_tol=1e-9)
                                          for x, y in zip(a[2:], b[2:]))
                for a, b in zip(read, want_read)):
            bad.append(f"dashboard read by {name}: {len(read)} groups, replay {len(want_read)}")
    return 6, bad


def pos_input_bytes(inputs, out):
    """Workbook bytes of the measured drops (the first drop is the set-up
    backfill)."""
    sizes = {}
    for line in open(os.path.join(inputs, "pos", "manifest.tsv")):
        f = line.rstrip("\n").split("\t")
        sizes[f[0]] = int(f[2])
    return sum(sizes[d] for d in out["drops"][1:])


# ------------------------------------------------------------ cdc_medallion

def rows_sql(lo, n, salt):
    """The statement rows for keys [lo, lo + n): the formulas of
    CdcMedallion.rows."""
    return (f"SELECT k AS o_orderkey, (k * 7919 + {salt} * 104729) % 150000 + 1 AS o_custkey, "
            f"['F', 'O', 'P'][((k + {salt}) % 3) + 1] AS o_status, "
            f"(k * 48271 + {salt} * 69621) % 49999999 + 100 AS o_totalcents, "
            f"CAST((k + {salt}) % 2400 AS INTEGER) AS o_shipday, "
            f"'c' || CAST((k * 31 + {salt}) % 9973 AS VARCHAR) AS o_comment "
            f"FROM range({lo}, {lo + n}) t(k)")


DIGEST = ("SELECT count(*), coalesce(sum(o_orderkey), 0), coalesce(sum(o_custkey), 0), "
          "coalesce(sum(o_totalcents), 0), coalesce(sum(o_shipday), 0), "
          "coalesce(sum(length(o_comment)), 0) FROM ")


def check_cdc(inputs, out):
    """Replay the statement log; every read's digest must match the replay
    at the version it read, and the final source and downstream tables the
    replay at the source's last and last-applied versions."""
    con = duckdb.connect()
    header = open(os.path.join(inputs, "cdc", "schedule.tsv")).readline().split("\t")
    table = {}  # version -> state table
    cur = 1
    con.execute(f"CREATE TABLE s1 AS {rows_sql(1, int(header[1]), 0)}")
    table[1] = "s1"
    applied = 1
    bad, checked = [], 0
    input_bytes = 0

    def digest(sql):
        return [int(x) for x in con.sql(DIGEST + f"({sql})").fetchone()]

    for entry in out["log"]:
        kind, line, v = entry[0], entry[1].split("\t"), entry[2]
        a = [x for x in line[2:]]
        if kind == "write":
            op = line[1]
            prev = table[cur]
            if op in ("merge", "append"):
                salt, lo, n = map(int, a)
                src = f"({rows_sql(lo, n, salt)})"
                keep = (f"SELECT * FROM {prev} WHERE o_orderkey NOT IN (SELECT o_orderkey FROM {src})"
                        if op == "merge" else f"SELECT * FROM {prev}")
                new = f"{keep} UNION ALL SELECT * FROM {src}"
                # input bytes: 8-byte integers, a 4-byte day, a 1-byte status, the comment
                input_bytes += con.sql(
                    f"SELECT sum(29 + length(o_comment)) FROM {src}").fetchone()[0]
            elif op == "delete":
                lo, hi = map(int, a)
                new = f"SELECT * FROM {prev} WHERE NOT (o_orderkey BETWEEN {lo} AND {hi})"
            else:  # optimize: same rows, new layout
                new = f"SELECT * FROM {prev}"
            checked += 1
            if v == cur:
                if digest(new) != digest(f"SELECT * FROM {prev}"):
                    bad.append(f"{op} published no version but changes rows")
            elif v != cur + 1:
                bad.append(f"{op} published version {v} after {cur}")
            else:
                con.execute(f"CREATE TABLE s{v} AS {new}")
                table[v] = f"s{v}"
            cur = v
        elif kind == "apply":
            applied = v
        elif kind in ("read_pruned", "read_travel", "read_sql"):
            lo, hi = int(a[0]), int(a[1])
            want = digest(f"SELECT * FROM {table[v]} WHERE o_orderkey BETWEEN {lo} AND {hi}")
            checked += 1
            if entry[3] != want:
                bad.append(f"{kind} at v{v} [{lo}, {hi}]: {entry[3]} != {want}")
        elif kind == "read_changes":
            old, new = table[v - 1], table[v]
            want = (digest(f"SELECT * FROM {new} EXCEPT ALL SELECT * FROM {old}") +
                    digest(f"SELECT * FROM {old} EXCEPT ALL SELECT * FROM {new}"))
            checked += 1
            if entry[3] != want:
                bad.append(f"changes at v{v}: {entry[3]} != {want}")
    for name, v, got in (("source", cur, out["src"]), ("downstream", applied, out["dst"])):
        checked += 1
        want = digest(f"SELECT * FROM {table[v]}")
        if got != want:
            bad.append(f"{name} table at v{v}: {got} != {want}")
    if out["latest"] != cur:
        bad.append(f"latest version {out['latest']} != replayed {cur}")
    return checked, bad, input_bytes


# ------------------------------------------------------------- llm_curation

def check_llm(inputs, out, oracle_sql):
    """Each curation pass against the funnel oracle over its shard, and
    each query batch returns k neighbours per query (and, in traced runs,
    the exact top-k has as many)."""
    manifest = open(os.path.join(inputs, "llm", "manifest.tsv")).read().split()
    m = dict(zip(manifest[::2], map(int, manifest[1::2])))
    want = {}
    bad, checked = [], 0
    for p in out["passes"]:
        shard, funnel = p[0], _rows([tuple(r) for r in p[1]])
        if shard not in want:
            con = duckdb.connect()
            con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                        f"'{inputs}/llm/shard_{shard}/documents.parquet'")
            want[shard] = _rows(con.sql(oracle_sql).fetchall())
        checked += 1
        if funnel != want[shard]:
            bad.append(f"curation pass on shard {shard}: {len(funnel)} shards out, "
                       f"oracle {len(want[shard])}")
    for s, j, hits, exact, got in out["recall"]:
        checked += 1
        if got != m["k"] * m["batch"] or exact not in (0, got):
            bad.append(f"query batch {s}/{j}: {got} answers, {exact} exact")
    return checked, bad


def llm_input_bytes(inputs, out):
    total = 0
    for p in out["passes"]:
        d = os.path.join(inputs, "llm", f"shard_{p[0]}")
        total += os.path.getsize(f"{d}/documents.parquet") + os.path.getsize(f"{d}/embeddings.parquet")
    return total
