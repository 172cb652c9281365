#!/usr/bin/env python3
"""Compare the per-span job counts of two traced runs of one workload.

    python3 perfbench/trace_diff.py <trace-a.json> <trace-b.json>

Traces are written by `run.py --trace 1` under $CARGO_TARGET_DIR/traces.
Operations both runs completed are compared span by span; exits 1 when a
span's name or job count differs.
"""
import json
import sys


def spans_by_op(path):
    t = json.load(open(path))
    out = {}
    for _id, _parent, name, op, _start, _end, jobs in t["spans"]:
        out.setdefault(op, []).append((name, jobs))
    return out


def main():
    a, b = (spans_by_op(p) for p in sys.argv[1:3])
    common = sorted(set(a) & set(b))
    diffs = [(op, a[op], b[op]) for op in common if a[op] != b[op]]
    for op, x, y in diffs:
        print(f"operation {op}: {x} != {y}")
    print(f"{len(common)} operations compared, {sum(len(a[o]) for o in common)} spans, "
          f"{len(diffs)} differ")
    sys.exit(1 if diffs else 0)


if __name__ == "__main__":
    main()
