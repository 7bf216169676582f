#!/usr/bin/env python3
"""Per-op-class summary of perfbench span files.

A traced perfbench run (`python3 perfbench/run.py ... --trace 1`) writes one
JSON line per op to `perfbench/target/traces/<workload>-seed<N>.jsonl`. This
groups the ops by class and prints, per class:

  n        ops in the class
  wall     median op wall seconds
  jobs     mean Spark jobs per op
  stages   mean stages per op (the sum of each job's stage count at job
           start, skipped stages included)
  cover    median seconds of the op covered by its Spark jobs (overlaps once)
  driver   median driver remainder: wall minus job coverage, probe calls and
           Catalyst phases, floored at 0 (perfbench's `self.driver_s` per op)

Usage:
  python3 tools/trace_classes.py <trace.jsonl>
  python3 tools/trace_classes.py <before.jsonl> <after.jsonl>

With two files it prints both figures per class and the after/before ratio.
"""
import json
import statistics
import sys

FIELDS = ("n", "wall", "jobs", "stages", "cover", "driver")


def covered_ms(intervals, lo, hi):
    """Milliseconds of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def op_figures(span):
    lo, hi = span["start_ms"], span["end_ms"]
    kids = span["children"]
    jobs = [k for k in kids if k["kind"] == "job"]
    cover = covered_ms([(j["start_ms"], j["end_ms"]) for j in jobs], lo, hi) / 1000.0
    probes = sum(k["s"] for k in kids if k["kind"] == "probe")
    catalyst = sum(sum(k["phases_ms"].values()) for k in kids if k["kind"] == "sql") / 1000.0
    wall = (hi - lo) / 1000.0
    return {
        "wall": wall,
        "jobs": len(jobs),
        "stages": sum(j["stages"] for j in jobs),
        "cover": cover,
        "driver": max(0.0, wall - cover - probes - catalyst),
    }


def summarize(path):
    by_class = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                span = json.loads(line)
                by_class.setdefault(span["class"], []).append(op_figures(span))
    out = {}
    for cls, ops in by_class.items():
        out[cls] = {
            "n": len(ops),
            "wall": statistics.median(o["wall"] for o in ops),
            "jobs": float(statistics.mean(o["jobs"] for o in ops)),
            "stages": float(statistics.mean(o["stages"] for o in ops)),
            "cover": statistics.median(o["cover"] for o in ops),
            "driver": statistics.median(o["driver"] for o in ops),
        }
    return out


def fmt(v):
    return str(v) if isinstance(v, int) else f"{v:.3f}"


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    runs = [summarize(p) for p in sys.argv[1:]]
    classes = sorted(set().union(*runs))
    if len(runs) == 1:
        print("class".ljust(10) + "".join(f.rjust(9) for f in FIELDS))
        for cls in classes:
            s = runs[0][cls]
            print(cls.ljust(10) + "".join(fmt(s[f]).rjust(9) for f in FIELDS))
        return
    print("class".ljust(10) + "field".ljust(8) + "before".rjust(9)
          + "after".rjust(9) + "ratio".rjust(8))
    for cls in classes:
        before, after = runs[0].get(cls), runs[1].get(cls)
        for f in FIELDS:
            b = fmt(before[f]) if before else "-"
            a = fmt(after[f]) if after else "-"
            r = (f"{after[f] / before[f]:.2f}" if before and after and before[f]
                 else "-")
            print(cls.ljust(10) + f.ljust(8) + b.rjust(9) + a.rjust(9) + r.rjust(8))


if __name__ == "__main__":
    main()
