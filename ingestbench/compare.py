#!/usr/bin/env python3
"""Compare two sets of ingest-benchmark results.

    python3 ingestbench/compare.py BASE NEW

BASE and NEW are result files or directories of them (run.py keeps one per
run under .bench_build/ingestbench/results/). For each workload in both it
prints, per end-to-end metric, each side's median and quartiles over its
runs and the change of the medians. When one side holds traced runs and the
other untraced runs of the same source, the change is the tracing overhead.
It refuses (exit 2) to compare runs whose basis (nproc, local[N], heap,
input scale) differs.
"""

import json
import os
import statistics
import sys

from run import basis
import metrics


def load(path):
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".json")]
             if os.path.isdir(path) else [path])
    out = []
    for f in files:
        with open(f) as fh:
            out.append(json.load(fh))
    return out


def value(record, name):
    if record["provenance"]["trace"] and name != "setup_s":
        return record["per_layer"][f"traced.{name}"]
    return record["metrics"][name]["value"]


def summary(xs):
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return q[1], q[0], q[2]


def main(argv):
    if len(argv) != 3:
        print(__doc__)
        return 2
    base, new = load(argv[1]), load(argv[2])
    for wl in sorted({r["workload"] for r in base} & {r["workload"] for r in new}):
        a = [r for r in base if r["workload"] == wl]
        b = [r for r in new if r["workload"] == wl]
        keys = {tuple(basis(r["provenance"])) for r in a + b}
        if len(keys) > 1:
            print(f"{wl}: refusing to compare runs on different bases "
                  f"(nproc, local[N], heap, scale): {sorted(keys)}")
            return 2
        print(f"{wl}: {len(a)} base runs, {len(b)} new runs, basis {list(keys.pop())}")
        for name, unit in metrics.END_TO_END:
            ma, qa1, qa3 = summary([value(r, name) for r in a])
            mb, qb1, qb3 = summary([value(r, name) for r in b])
            print(f"  {name:18s} base {ma:12.4f} [{qa1:.4f}, {qa3:.4f}]  "
                  f"new {mb:12.4f} [{qb1:.4f}, {qb3:.4f}] {unit:4s} "
                  f"change {(mb / ma - 1) * 100:+6.1f}%")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
