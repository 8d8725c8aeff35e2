#!/usr/bin/env python3
"""Ingest benchmark: one command for the `drain`, `tail` and `query_mix`
workloads.

    python3 ingestbench/run.py --workload tail --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline) into .bench_build/; later runs
reuse that build while the sources are unchanged. Each run starts one JVM,
measures for --seconds, checks that every output is correct, prints a
report, and prints one JSON object as its last line. It exits non-zero
when any check fails. `--selftest` runs the helpers' unit tests instead.
See ingestbench/README.md.
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "ingestbench")
CORES = 4
HEAP = "3g"
JVM_TIMEOUT_S = 160
WORKLOADS = ("drain", "tail", "query_mix")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[ingestbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
            os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(x for x in subdirs if x not in ("target", "project"))
            files += [os.path.join(base, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    return env


def sbt(*tasks):
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-J-XX:-UsePerfData",
           "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}", *tasks]
    return subprocess.run(cmd, cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)


def build():
    """Compile once per source state; returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_hash()
    cp_file = os.path.join(BUILD, "classpath.txt")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        try:
            with open(cp_file) as f:
                got, cp = f.read().split("\n", 1)
            classes = cp.split(os.pathsep)[0]
            if got == stamp and os.path.exists(os.path.join(classes, "ingestbench", "Main.class")):
                return cp.strip()
        except (OSError, ValueError):
            pass
        log("building the engine and the benchmark with sbt")
        t0 = time.time()
        p = sbt("compile", "export Runtime/fullClasspath")
        if p.returncode != 0:
            sys.stderr.write(p.stdout[-4000:])
            raise SystemExit("ingestbench: build failed")
        cp = p.stdout.strip().splitlines()[-1]
        with open(cp_file, "w") as f:
            f.write(stamp + "\n" + cp)
        log(f"built in {time.time() - t0:.0f} s")
        return cp


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, args, work):
    """Run the workload JVM in its own process group, and wait for it."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    raw = os.path.join(work, "raw.json")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{HEAP}", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-cp", cp, "ingestbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(CORES), "--work", work, "--out", raw])
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"ingestbench: workload JVM exceeded {JVM_TIMEOUT_S} s")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"ingestbench: workload JVM failed with code {rc}")
    with open(raw) as f:
        return json.load(f)


def check_ingest(raw):
    """drain/tail: each billed record exactly once with the generator's
    checksum, and the expected number of producer retries."""
    _, billed = metrics.warm_and_billed(raw["result"])
    attempted = sum(r["attempted"] for r in billed)
    failed = sum(r["failed"] for r in billed)
    problems = []
    for r in metrics.warm_and_billed(raw["result"])[0] + billed:
        tag = f"{raw['workload']} iteration {r['iteration']}"
        if r["failed"]:
            problems.append(f"{tag}: {r['failed']} records missing or duplicated")
        if not r["checksum_ok"]:
            problems.append(f"{tag}: payload checksum differs from the generator's")
        if r["retries"] != r["expected_retries"]:
            problems.append(f"{tag}: {r['retries']} producer retries "
                            f"{r['retry_classes']}, expected {r['expected_retries']}")
        if not r["ok"]:
            problems.append(f"{tag}: producer run did not end cleanly")
        _, orphans = metrics.latency_join(r["stamps"], {int(b): t for b, t in r["commits"].items()})
        if orphans:
            problems.append(f"{tag}: {orphans} stored rows without a batch commit")
    return attempted, failed, problems


def check_mix(raw):
    """query_mix: every billed query ran, and every result of dataset A has
    the order-insensitive hash of its DuckDB oracle answer."""
    import duckdb
    res = raw["result"]
    queries = [q for p in res["passes"] for q in p]
    problems = [f"{q['query']}: billed run failed: {q['error']}" for q in queries if q["error"]]
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute("SET TimeZone = 'UTC'")
    for t in ("events", "documents", "embeddings"):
        path = os.path.join(res["tables_dir"], f"{t}.parquet", "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    wrong = 0
    for name in metrics.MIX_MEMBERS:
        err = res["checked_errors"].get(name)
        sql = res["oracle"].get(name)
        if err or sql is None:
            problems.append(f"{name}: checked run failed: {err or 'no oracle SQL'}")
            wrong += 1
            continue
        got = con.execute("SELECT * FROM read_parquet(?)", [
            os.path.join(res["results_dir"], name, "*.parquet")])
        got_hash = metrics.table_hash([d[0] for d in got.description], got.fetchall())
        want = con.execute(sql)
        want_hash = metrics.table_hash([d[0] for d in want.description], want.fetchall())
        if got_hash != want_hash:
            problems.append(f"{name}: result hash {got_hash} != oracle {want_hash}")
            wrong += 1
    attempted = len(queries) + len(metrics.MIX_MEMBERS)
    failed = sum(1 for q in queries if q["error"]) + wrong
    return attempted, failed, problems


def provenance(raw, args):
    p = dict(raw["provenance"])
    p.update(seed=args.seed, seconds=args.seconds, trace=args.trace,
             sf=raw["result"]["scale"], heap=HEAP,
             git_commit=git_commit(), source_hash=source_hash())
    return p


def basis(prov):
    """Runs are comparable only on the same (nproc, local[N], heap, scale)."""
    return [prov["nproc"], prov["master"], prov["heap"], prov["sf"]]


def results_dir():
    d = os.path.join(BUILD, "results")
    os.makedirs(d, exist_ok=True)
    return d


def report_overhead(record):
    """Traced run: compare its end-to-end numbers with the untraced runs of
    the same workload and basis kept in the results directory."""
    base = []
    for name in os.listdir(results_dir()):
        with open(os.path.join(results_dir(), name)) as f:
            r = json.load(f)
        prov = r["provenance"]
        if (r["workload"] == record["workload"] and not prov["trace"]
                and basis(prov) == basis(record["provenance"])
                and prov["source_hash"] == record["provenance"]["source_hash"]):
            base.append(r)
    if not base:
        print("tracing overhead: no untraced run of this workload and source on this "
              "basis yet; run with --trace 0 first")
        return
    for n, _ in metrics.END_TO_END:
        if n == "setup_s":
            continue
        untraced = statistics.median(r["metrics"][n]["value"] for r in base)
        traced = record["per_layer"][f"traced.{n}"]
        print(f"tracing overhead {n}: traced {traced:.4g} vs untraced median "
              f"{untraced:.4g} over {len(base)} runs ({(traced / untraced - 1) * 100:+.1f}%)")


def selftest():
    rc = subprocess.run([sys.executable, "-m", "unittest", "discover", "-s", HERE,
                         "-p", "test_*.py"]).returncode
    p = sbt("test")
    print(p.stdout[-3000:])
    return 1 if rc or p.returncode else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no engine sources under {ROOT}/src/main/scala/graft; "
            "run from the root of a full checkout")
        return 2
    if args.selftest:
        return selftest()
    if not args.workload:
        ap.error("--workload is required")

    cp = build()
    work = os.path.join(BUILD, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        raw = run_jvm(cp, args, work)
        if args.workload == "query_mix":
            attempted, failed, problems = check_mix(raw)
        else:
            attempted, failed, problems = check_ingest(raw)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = metrics.end_to_end(raw)
    prov = provenance(raw, args)
    e2e["failed_share"] = (failed / attempted, "fraction", attempted)
    record = {"workload": args.workload, "provenance": prov, "correct": not problems,
              "attempted": attempted, "failed": failed, "problems": problems,
              "metrics": {n: {"value": e2e[n][0], "unit": u} for n, u in metrics.END_TO_END},
              "reported": {n: list(v) for n, v in e2e.items()}}
    if args.trace:
        record["per_layer"] = metrics.per_layer(raw)
        record["spans"] = [dict(s, run_id=raw["run_id"]) for s in raw["spans"]]

    print("provenance: " + json.dumps(prov, sort_keys=True))
    for n, (v, unit, samples) in e2e.items():
        print(f"{n:32s} {v:14.4f} {unit:10s} n={samples}")
    for p in problems:
        print(f"CHECK FAILED: {p}")
    stamp = time.strftime("%Y%m%dT%H%M%S")
    out = os.path.join(results_dir(), f"{stamp}-{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    if args.trace:
        report_overhead(record)
        units = {n: u for n, u, _ in metrics.PER_LAYER}
        shown = {n: {"value": v, "unit": units[n]} for n, v in record["per_layer"].items()}
    else:
        shown = record["metrics"]
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": shown}))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
