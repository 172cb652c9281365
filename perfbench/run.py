#!/usr/bin/env python3
"""Pipeline benchmark: POS workbook ingest, snapshot CDC and LLM curation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
driver from source into $CARGO_TARGET_DIR (default .bench_build) with the
Scala compiler that ships in the Spark distribution ($SPARK_HOME, or the
one whose spark-submit is on the PATH), and archives the classes a Spark
session loads for the runs' JVMs (class data sharing). Each run generates its inputs from the seed, drives the engine
as one closed-loop client on Spark local[n] (n = half the cores, at most 2), checks the
outputs against DuckDB replays and prints the metrics; the last line of
standard output is the JSON result. --trace 1 adds spans and a job listener
and prints the per-layer metrics instead of the end-to-end ones.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("pos_ingest", "cdc_medallion", "llm_curation")
RUN_LIMIT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# flags of every JVM that runs Spark: the driver and the build's warm-up
JVM_FLAGS = (["-Xmx2g", "-Xms2g", "-Xss4m", "-XX:-UsePerfData",
              "-Dspark.ui.enabled=false", "-Dlog4j2.level=ERROR",
              "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS)
JAR = "perfbench.jar"
ARCHIVE = "perfbench.jsa"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    """The jars of a Spark distribution that ships the Scala compiler:
    $SPARK_HOME, else the first whose spark-submit is on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    fail("no Spark distribution with a Scala compiler: set SPARK_HOME")


def class_path(classes, jars):
    return f"{os.path.join(classes, JAR)}{os.pathsep}{os.path.join(jars, '*')}"


def build(root, out, jars):
    """Compile the engine (src/main/scala) and the driver (perfbench/src)
    into out/classes/perfbench.jar unless the sources are unchanged since
    the last build, export the oracle SQL and archive the classes a Spark
    session loads."""
    sources = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    if not sources:
        fail("no engine sources under src/main/scala (run from the repository root)")
    sources += sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    h = hashlib.sha256()
    for f in sources:
        h.update(os.path.relpath(f, root).encode())
        h.update(open(f, "rb").read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(classes, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".new"
    shutil.rmtree(tmp, ignore_errors=True)
    obj = os.path.join(tmp, "obj")
    os.makedirs(obj)
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    res = subprocess.run(["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={out}",
                          "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
                          "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", obj,
                          f"@{argfile}"],
                         capture_output=True, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:] + res.stderr[-4000:])
        fail("build failed")
    # a jar, not a class directory: class data sharing refuses non-empty
    # directories on the class path
    with zipfile.ZipFile(os.path.join(tmp, JAR), "w") as z:
        for d, _, files in os.walk(obj):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), obj))
    shutil.rmtree(obj)
    # the archive names the jar by its path, so it is made in place
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    cp = class_path(classes, jars)
    res = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.Oracles",
                          os.path.join(classes, "oracles.json")],
                         capture_output=True, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stderr[-4000:])
        fail("oracle export failed")
    archive(out, classes, cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def archive(out, classes, cp):
    """Class data sharing: run a short Spark session (perfbench.Warmup)
    and archive the classes it loaded, so each run's JVM maps them from
    the archive instead of loading and verifying them from the jars.
    Without an archive, runs load classes the usual way."""
    warm = os.path.join(out, "warmup")
    shutil.rmtree(warm, ignore_errors=True)
    os.makedirs(warm)
    res = subprocess.run(["java", f"-XX:ArchiveClassesAtExit={os.path.join(classes, ARCHIVE)}"]
                         + JVM_FLAGS + [f"-Djava.io.tmpdir={warm}", "-cp", cp,
                                        "perfbench.Warmup", warm],
                         capture_output=True, text=True)
    shutil.rmtree(warm, ignore_errors=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-2000:] + res.stderr[-2000:])
        print("perfbench: class archive not made; runs load classes from the jars",
              file=sys.stderr)


def drive(args, classes, jars, work, deadline):
    """Run the JVM driver; returns its result dict."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result = os.path.join(work, "result.json")
    # half the cores, at most 4: the rest run the driver thread, JIT
    # compilation and GC, which a cold start leans on (on 4 vCPUs,
    # local[2] ran the curation pass faster than local[4])
    cores = max(1, min(4, os.cpu_count() or 1) // 2)
    jsa = os.path.join(classes, ARCHIVE)
    cmd = (["java"] + ([f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else [])
           + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}"]
           + (["-Dspark.callstack.depth=200"] if args.trace else [])
           + ["-cp", class_path(classes, jars), "perfbench.Main",
              "--workload", args.workload, "--inputs", os.path.join(work, "inputs"),
              "--work", os.path.join(work, "state"), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--out", result, "--cores", str(cores)])
    log_path = os.path.join(work, "driver.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(10.0, deadline - time.monotonic()))
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write("".join(open(log_path).readlines()[-40:]))
        fail(f"driver exited with {rc}")
    return json.load(open(result))


def metric(value, unit):
    return {"value": value, "unit": unit}


def tail(values):
    """(percentile, value) of the tail; the maximum when fewer than 11
    samples leave no percentile with ten samples beyond it."""
    p = layers.tail_percentile(len(values))
    if p is None:
        return 100, max(values)
    return p, layers.percentile(values, p)


def write_trace(path, res, spans, jobs):
    """Spans (with the number of jobs each ran directly) and attributed
    jobs, for comparing two traced runs (perfbench/trace_diff.py)."""
    direct = {}
    for j in jobs:
        direct[j["span"]] = direct.get(j["span"], 0) + 1
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({
            "workload": res["workload"],
            "spans": [[s["id"], s["parent"], s["name"], s["op"], s["start"], s["end"],
                       direct.get(s["id"], 0)] for s in spans],
            "jobs": [[j["id"], j["span"], j["module"], j["start"], j["end"], j["task_ms"],
                      j["shuffle_bytes"], j["spill_bytes"], j["bytes_written"], j["rows_out"]]
                     for j in jobs]}, f)


def end_to_end(res, input_bytes):
    by = {}
    for kind, ms, _, _ in res["ops"]:
        by.setdefault(kind, []).append(ms)
    rows = sum(r for _, _, r, _ in res["ops"])
    disk_all, disk_live = res["out"]["disk"]
    return {
        "setup_s": metric(statistics.median(res["setup_s"]), "s"),
        "rows_per_s": metric(rows / (res["busy_ms"] / 1000.0), "rows/s"),
        "batch_p50_ms": metric(statistics.median(by["batch"]), "ms"),
        "write_p50_ms": metric(statistics.median(by["write"]), "ms"),
        "read_p50_ms": metric(statistics.median(by["read"]), "ms"),
        "write_amp": metric(res["bytes_written"] / input_bytes, "ratio"),
        "space_amp": metric(disk_all / disk_live, "ratio"),
        "live_heap_mb": metric(res["live_heap_mb"], "MB"),
    }, by


def per_layer(res, by, e2e, trace_path):
    spans = [dict(zip(("id", "parent", "name", "op", "start", "end"), s)) for s in res["spans"]]
    jobs = [dict(zip(("id", "span", "start", "end", "site", "exec_site", "tasks", "task_ms",
                      "shuffle_bytes", "spill_bytes", "bytes_written", "rows_out"), j))
            for j in res["jobs"]]
    for j in jobs:
        j["span"] = int(j["span"]) if j["span"] not in ("", None) else None
    cycles = res["cycles"]
    raw = layers.layer_metrics(spans, jobs, cycles)
    write_trace(trace_path, res, spans, jobs)
    units = {"wall_ms": "ms", "self_ms": "ms", "jobs": "count", "task_ms": "ms",
             "driver_gap_ms": "ms", "shuffle_bytes": "bytes", "spill_bytes": "bytes",
             "rows_out": "rows", "bytes_written": "bytes"}
    out = {k: metric(raw[k], units[k.rsplit(".", 1)[1]]) for k in LAYER_KEYS if k in raw}
    o = res["out"]
    mean = lambda xs: sum(xs) / len(xs) if xs else 0.0  # noqa: E731
    names = {s["id"]: s["name"] for s in spans}
    parent_op = {s["id"]: names.get(s["parent"]) for s in spans}
    pq_ms = {k: [s["end"] - s["start"] for s in spans
                 if s["name"] == "llm.pq" and parent_op[s["id"]] == k]
             for k in ("op.write", "op.read")}
    recall = o.get("recall", [])
    extra = {
        "etl.load.buckets_rewritten": metric(mean([b[0] for b in o.get("buckets", [])]), "count"),
        "etl.load.buckets_total": metric(mean([b[1] for b in o.get("buckets", [])]), "count"),
        "etl.snapshots.merge.files_rewritten": metric(mean([c[0] for c in o.get("cow", [])]), "count"),
        "etl.snapshots.merge.files_total": metric(mean([c[1] for c in o.get("cow", [])]), "count"),
        "etl.snapshots.read.files_read": metric(mean([p[0] for p in o.get("pruned", [])]), "count"),
        "etl.snapshots.read.files_total": metric(mean([p[1] for p in o.get("pruned", [])]), "count"),
        "llm.pq.build_ms": metric(mean(pq_ms["op.write"]), "ms"),
        "llm.pq.query_ms": metric(mean(pq_ms["op.read"]), "ms"),
        "llm.pq.ann_recall": metric(sum(r[2] for r in recall) / sum(r[3] for r in recall)
                                    if recall else 0.0, "ratio"),
        "jvm.gc_ms": metric(res["gc_ms"] / max(cycles, 1), "ms"),
        "client.traced_rows_per_s": e2e["rows_per_s"],
    }
    for kind in ("batch", "write", "read"):
        extra[f"client.{kind}_tail_ms"] = metric(tail(by[kind])[1], "ms")
    assert list(extra) == EXTRA_LAYER_KEYS
    out.update(extra)
    return out


# Per-layer metrics kept in the result: the six time and job measures for
# every module; bytes, rows and spills only where the module writes or can
# spill. The layers give 16 x 9 numbers; BENCHMARK.json allows 128 metrics.
LAYER_KEYS = (
    [f"{m}.{k}" for m in layers.MODULES for k in
     ("wall_ms", "self_ms", "jobs", "task_ms", "driver_gap_ms", "shuffle_bytes")]
    + [f"{m}.bytes_written" for m in (
        "etl.load", "etl.snapshots.merge", "etl.snapshots.delete", "etl.snapshots.append",
        "etl.snapshots.optimize", "etl.stats_index", "streaming.ingest", "llm.pq")]
    + [f"{m}.rows_out" for m in ("etl.load", "etl.snapshots.merge", "etl.snapshots.append")]
    + [f"{m}.spill_bytes" for m in ("sources.xlsx", "etl.load", "llm.dedup", "llm.semdedup")])


EXTRA_LAYER_KEYS = [
    "etl.load.buckets_rewritten", "etl.load.buckets_total",
    "etl.snapshots.merge.files_rewritten", "etl.snapshots.merge.files_total",
    "etl.snapshots.read.files_read", "etl.snapshots.read.files_total",
    "llm.pq.build_ms", "llm.pq.query_ms", "llm.pq.ann_recall",
    "jvm.gc_ms", "client.traced_rows_per_s",
    "client.batch_tail_ms", "client.write_tail_ms", "client.read_tail_ms"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run stops its driver JVM too (see drive)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out, exist_ok=True)
    jars = spark_jars()
    classes = build(root, out, jars)
    started = time.monotonic()
    deadline = started + RUN_LIMIT_S

    work = os.path.join(out, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "inputs"))
    oracles = json.load(open(os.path.join(classes, "oracles.json")))
    gen.generate(args.workload, os.path.join(work, "inputs"), args.seed, oracles)
    generated = time.monotonic()
    res = drive(args, classes, jars, work, deadline)
    driven = time.monotonic()

    inputs = os.path.join(work, "inputs")
    o = res["out"]
    if args.workload == "pos_ingest":
        checked, bad = check.check_pos(inputs, o, oracles["pos_quarantine"])
        input_bytes = check.pos_input_bytes(inputs, o)
    elif args.workload == "cdc_medallion":
        checked, bad, input_bytes = check.check_cdc(inputs, o)
    else:
        checked, bad = check.check_llm(inputs, o, oracles["curation_funnel"])
        input_bytes = check.llm_input_bytes(inputs, o)
    shutil.rmtree(work, ignore_errors=True)
    checked_at = time.monotonic()

    e2e, by = end_to_end(res, input_bytes)
    failed = len(res["failures"]) + len(bad)
    attempted = res["attempted"] + checked
    for line in res["failures"] + bad:
        print(f"FAILED {line}")
    print(f"workload {args.workload} seed {args.seed}: {res['cycles']} cycles in "
          f"{res['wall_s']:.1f} s, sizes {json.dumps(res['sizes'])}, "
          f"input bytes {input_bytes}, setups {[round(s, 3) for s in res['setup_s']]}")
    print(f"  phases: generate {generated - started:.1f} s, driver {driven - generated:.1f} s "
          f"(preparation {res['prepare_s']:.1f} s, cycles {res['wall_s']:.1f} s), "
          f"checks {checked_at - driven:.1f} s")
    for kind, ms in sorted(by.items()):
        p, v = tail(ms)
        print(f"  {kind}: n={len(ms)} p50={statistics.median(ms):.1f} ms "
              f"p{p}={v:.1f} ms")
    trace_path = os.path.join(out, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
    metrics = per_layer(res, by, e2e, trace_path) if args.trace else e2e
    if args.trace:
        print(f"trace written to {os.path.relpath(trace_path, root)}")
    for k, v in metrics.items():
        assert layers.valid_name(k), k
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
