#!/usr/bin/env python3
"""Where a traced ingest run's sink time goes.

    python3 tools/sinkspans.py RESULT.json [RESULT.json ...]

Reads the result record of a traced `ingestbench` run (`--trace 1`, under
`.bench_build/ingestbench/results/`) and splits every `sink.apply` span
(one `IdempotentSink.apply` call) into the driver time before its first
Spark job, the time its jobs run and the time after the last one. For
each apply it also sums its jobs' stages: task count, executor run time
and executor CPU time. Prints the p50 and the sum of each column over the
run's applies, then the same numbers as one JSON line.

Spans are parented as `ingestbench/metrics.py` parents them: a Spark job
belongs to the `sink.apply` span it overlaps most.
"""

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", "ingestbench"))
import metrics  # noqa: E402

COLUMNS = [("apply_ms", "ms"), ("before_job_ms", "ms"), ("job_ms", "ms"),
           ("after_job_ms", "ms"), ("jobs", "count"), ("tasks", "count"),
           ("task_run_ms", "ms"), ("task_cpu_ms", "ms")]


def split(spans):
    """One dict of COLUMNS per sink.apply span."""
    spans = metrics.resolve_parents([dict(s) for s in spans])
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    rows = []
    for a in (s for s in spans if s["name"] == "sink.apply"):
        jobs = [j for j in kids.get(a["id"], []) if j["name"] == "spark.job"]
        stages = [st["attrs"] for j in jobs for st in kids.get(j["id"], [])
                  if st["name"] == "spark.stage"]
        lo, hi = a["start_us"], a["end_us"]
        first = min((j["start_us"] for j in jobs), default=hi)
        last = max((j["end_us"] for j in jobs), default=hi)
        rows.append({
            "apply_ms": (hi - lo) / 1000.0,
            "before_job_ms": max(first - lo, 0) / 1000.0,
            "job_ms": metrics.union_ms([(j["start_us"], j["end_us"]) for j in jobs], lo, hi),
            "after_job_ms": max(hi - last, 0) / 1000.0 if jobs else 0.0,
            "jobs": len(jobs),
            "tasks": sum(x["tasks"] for x in stages),
            "task_run_ms": float(sum(x["run_ms"] for x in stages)),
            "task_cpu_ms": sum(x["cpu_ns"] for x in stages) / 1e6,
        })
    return rows


def summary(rows):
    return {f"{c}.{k}": f(r[c] for r in rows)
            for c, _ in COLUMNS
            for k, f in (("p50", lambda xs: statistics.median(list(xs))),
                         ("sum", sum))}


def main(paths):
    if not paths:
        print(__doc__.strip().split("\n\n")[1], file=sys.stderr)
        return 2
    out = {}
    for path in paths:
        with open(path) as f:
            record = json.load(f)
        rows = split(record.get("spans", []))
        if not rows:
            print(f"{path}: no sink.apply spans (run with --trace 1 on tail or drain)")
            continue
        s = summary(rows)
        print(f"{path}: {len(rows)} applies")
        for c, unit in COLUMNS:
            print(f"  {c:14s} p50 {s[c + '.p50']:10.1f}  sum {s[c + '.sum']:12.1f}  {unit}")
        out[path] = dict(s, applies=len(rows))
    print(json.dumps(out, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
