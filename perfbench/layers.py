"""Pure helpers: percentiles, span self time, call-site attribution and the
per-layer aggregation of a traced run.

A traced run yields spans (the benchmark's own, around each call into a
module's public function) and Spark jobs. Each job carries the id of the
innermost open span and its call site. The job is attributed to the module
of the innermost `graft.` frame of its call site; a job whose call site has
no engine frame (a lazy frame the benchmark itself collected) belongs to the
module of its span.
"""
import math
import re

NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")

MODULES = [
    "sources.xlsx", "etl.transform", "etl.load", "streaming.ingest",
    "etl.snapshots.merge", "etl.snapshots.delete", "etl.snapshots.append",
    "etl.snapshots.optimize", "etl.snapshots.vacuum", "etl.snapshots.read",
    "etl.snapshots.changes", "etl.stats_index", "plans.snapshot_sql",
    "llm.dedup", "llm.semdedup", "llm.pq",
]
MEASURES = ["wall_ms", "self_ms", "jobs", "task_ms", "driver_gap_ms",
            "shuffle_bytes", "spill_bytes", "rows_out", "bytes_written"]

# engine class (without the `graft.` prefix and `$` suffixes) -> module
CLASS_MODULE = {
    "sources.Xlsx": "sources.xlsx",
    "sources.FileSources": "sources.xlsx",
    "etl.Transform": "etl.transform", "etl.Extract": "etl.transform",
    "etl.Categorize": "etl.transform", "etl.ExplodeItems": "etl.transform",
    "etl.Sanitize": "etl.transform", "etl.Validate": "etl.transform",
    "etl.PaymentType": "etl.transform",
    "etl.Load": "etl.load", "etl.ParquetUpsertSink": "etl.load",
    "streaming.Ingest": "streaming.ingest",
    "etl.StatsIndex": "etl.stats_index",
    "plans.SnapshotSql": "plans.snapshot_sql",
    "plans.ResolveSnapshotTable": "plans.snapshot_sql",
    "plans.SnapshotFileIndex": "plans.snapshot_sql",
    "llm.Dedup": "llm.dedup", "llm.Cluster": "llm.dedup",
    "llm.Decontaminate": "llm.dedup", "operators.SetSimJoin": "llm.dedup",
    "llm.SemDedup": "llm.semdedup",
    "llm.Pq": "llm.pq", "llm.Similarity": "llm.pq",
}

# public entry point of etl.Snapshots -> operation module
SNAPSHOT_OPS = {
    "merge": "merge", "mergeClauses": "merge",
    "deleteWhere": "delete", "deleteRange": "delete",
    "append": "append", "commit": "append", "commitWithStats": "append",
    "optimize": "optimize",
    "vacuum": "vacuum", "vacuumRetainMs": "vacuum",
    "read": "read", "readPruned": "read", "sqlScan": "read",
    "changes": "changes", "changesKeyed": "changes",
}


def percentile(values, p):
    """Nearest-rank percentile of `values` (p in 0..100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_percentile(n, beyond=10):
    """The highest whole percentile with at least `beyond` of `n` samples
    above it, or None when the sample is too small to have one."""
    if n <= beyond:
        return None
    p = math.floor(100.0 * (n - beyond) / n)
    while p > 0 and n - math.ceil(p / 100.0 * n) < beyond:
        p -= 1
    return p if p > 0 else None


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover; children
    may nest, overlap or stick out of the span."""
    return (end - start) - union_length(children, start, end)


def _frame(line):
    """'graft.etl.Snapshots$.$anonfun$merge$3(Snapshots.scala:1)' ->
    ('etl.Snapshots', 'merge')."""
    name = line.split("(", 1)[0]
    cls, _, method = name.rpartition(".")
    cls = cls[len("graft."):].split("$", 1)[0]
    if method.startswith("$anonfun$"):
        method = method[len("$anonfun$"):]
    method = method.split("$", 1)[0]
    return cls, method


def module_of_site(site):
    """Module of a job's long-form call site: the innermost engine frame's
    class. For etl.Snapshots the operation is the outermost of the
    contiguous Snapshots frames, i.e. the public entry point. None when no
    engine frame precedes the benchmark's own frames."""
    frames = []
    for line in site.split("\n")[1:]:
        if line.startswith("perfbench."):
            break
        if line.startswith("graft."):
            frames.append(_frame(line))
        elif frames:
            if not line.startswith(("scala.", "java.")):
                break
    if not frames:
        return None
    cls = frames[0][0]
    if cls == "etl.Snapshots":
        op = None
        for c, m in frames:
            if c != "etl.Snapshots":
                break
            op = SNAPSHOT_OPS.get(m, op)
        return f"etl.snapshots.{op}" if op else "etl.snapshots.read"
    return CLASS_MODULE.get(cls)


def job_module(job, span_names):
    """Module of a job: its own call site, else its SQL execution's call
    site, else the span it ran under."""
    for site in (job["site"], job["exec_site"]):
        m = module_of_site(site)
        if m:
            return m
    return span_names.get(job["span"])


def layer_metrics(spans, jobs, cycles):
    """Per-module totals divided by the number of cycles run.

    spans: dicts with id, parent, name, start, end (ms).
    jobs:  dicts with span (id or None), start, end (ms), site, exec_site,
           task_ms, shuffle_bytes, spill_bytes, bytes_written, rows_out.
    """
    by_id = {s["id"]: s for s in spans}
    names = {s["id"]: s["name"] for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    for j in jobs:
        j["module"] = job_module(j, names)
    jobs_of = {}
    for j in jobs:
        jobs_of.setdefault(j["span"], []).append(j)

    def subtree_jobs(sid):
        out = list(jobs_of.get(sid, []))
        for k in kids.get(sid, []):
            out += subtree_jobs(k["id"])
        return out

    def has_ancestor_named(s, name):
        p = by_id.get(s["parent"])
        while p is not None:
            if p["name"] == name:
                return True
            p = by_id.get(p["parent"])
        return False

    out = {m: dict.fromkeys(MEASURES, 0.0) for m in MODULES}
    for j in jobs:
        m = out.get(j["module"])
        if m is None:
            continue
        m["jobs"] += 1
        for k in ("task_ms", "shuffle_bytes", "spill_bytes", "bytes_written", "rows_out"):
            m[k] += j[k]
    for s in spans:
        m = out.get(s["name"])
        if m is None or has_ancestor_named(s, s["name"]):
            continue
        sub = subtree_jobs(s["id"])
        # children: nested spans, and jobs that another module did
        children = [(k["start"], k["end"]) for k in kids.get(s["id"], [])]
        children += [(j["start"], j["end"]) for j in jobs_of.get(s["id"], [])
                     if j["module"] != s["name"]]
        m["wall_ms"] += s["end"] - s["start"]
        m["self_ms"] += self_time(s["start"], s["end"], children)
        m["driver_gap_ms"] += self_time(s["start"], s["end"],
                                        [(j["start"], j["end"]) for j in sub])
        # work of other modules inside this span counts as their wall time
        for other in {j["module"] for j in sub} - {s["name"]}:
            if other in out:
                t = union_length([(j["start"], j["end"]) for j in sub if j["module"] == other],
                                 s["start"], s["end"])
                out[other]["wall_ms"] += t
                out[other]["self_ms"] += t
    n = max(cycles, 1)
    return {f"{m}.{k}": v / n for m, vals in out.items() for k, v in vals.items()}


def valid_name(name):
    return bool(NAME_RE.match(name)) and len(name) <= 64 and name[0].isalnum()
