"""Turns what one benchmark JVM recorded (raw.json) into the benchmark's
metrics, and holds the helpers the correctness checks use.

End-to-end metrics come from the billed work of a run. Per-layer metrics
come from Spark's own progress reports and, in a traced run, from the
span tree the run recorded.
"""

import hashlib
import math
import statistics

# The end-to-end metrics, in BENCHMARK.json order: (name, unit).
END_TO_END = [
    ("setup_s", "s"),
    ("throughput_per_s", "1/s"),
    ("latency_p50_ms", "ms"),
    ("latency_p99_ms", "ms"),
]

MIX_MEMBERS = [
    "q36_stream_join", "q45_stream_dedup_bounded", "d02_dedup_minhash_lsh",
    "s17_pq_train",
]

# Span layers from outer to inner; a span whose parent the recorder could
# not know is put under the innermost enclosing span of an outer layer.
LAYER_RANK = {
    "workload": 0, "producer.run": 1, "query": 1, "stream.batch": 2,
    "stream.latestOffset": 3, "stream.walCommit": 3, "stream.getBatch": 3,
    "stream.queryPlanning": 3, "stream.addBatch": 3,
    "stream.commitOffsets": 3, "sink.apply": 4, "spark.job": 5,
    "spark.stage": 6,
}
SELF_LAYERS = list(LAYER_RANK)

# (name, unit, better) of every per-layer metric, in BENCHMARK.json order.
PER_LAYER = (
    [("framing.decode_ns_per_record", "ns", "lower"),
     ("framing.bytes_per_record", "B", "lower"),
     ("log.meta_scan_ms", "ms", "lower"),
     ("log.torn_probe.scans", "count", "higher"),
     ("log.torn_probe.failures", "count", "lower"),
     ("source.latest_offset_ms.sum", "ms", "lower"),
     ("source.latest_offset_ms.max", "ms", "lower"),
     ("engine.batches", "count", "lower"),
     ("engine.rows_per_batch.p50", "count", "higher"),
     ("engine.query_planning_ms.sum", "ms", "lower"),
     ("engine.wal_commit_ms.sum", "ms", "lower"),
     ("engine.commit_offsets_ms.sum", "ms", "lower"),
     ("engine.add_batch_ms.p50", "ms", "lower"),
     ("engine.add_batch_ms.max", "ms", "lower"),
     ("engine.trigger_ms.p50", "ms", "lower"),
     ("sink.apply_ms.sum", "ms", "lower"),
     ("sink.apply_ms.p50", "ms", "lower"),
     ("sink.apply_ms.max", "ms", "lower"),
     ("sink.files_per_batch", "count", "lower"),
     ("sink.bytes_per_record", "B", "lower"),
     ("producer.retries", "count", "lower"),
     ("producer.resubscribe_ms", "ms", "lower"),
     ("producer.time_to_ready_ms", "ms", "lower"),
     ("exec.cpu_s", "s", "lower"),
     ("exec.run_s", "s", "lower"),
     ("exec.gc_s", "s", "lower"),
     ("exec.shuffle_read_bytes", "B", "lower"),
     ("exec.shuffle_write_bytes", "B", "lower"),
     ("exec.spill_bytes", "B", "lower"),
     ("exec.tasks", "count", "lower"),
     ("driver.gap_s", "s", "lower"),
     ("mix.stream_s", "s", "lower"),
     ("mix.batch_s", "s", "lower"),
     ("tail.generator_lag_ms.max", "ms", "lower")]
    + [(f"mix.{q}.{m}", u, "lower") for q in MIX_MEMBERS
       for m, u in [("wall_s", "s"), ("exec_cpu_s", "s"), ("gc_s", "s"),
                    ("shuffle_bytes", "B"), ("driver_gap_s", "s")]]
    + [(f"self_ms.{layer}", "ms", "lower") for layer in SELF_LAYERS]
    + [(f"traced.{n}", u, "higher" if n == "throughput_per_s" else "lower")
       for n, u in END_TO_END if n != "setup_s"]
)


# ---------------------------------------------------------------- helpers

def percentile(samples, q):
    """Nearest-rank percentile of weighted samples [(value, weight), ...]:
    the smallest value with at least q percent of the total weight at or
    below it. Returns (value, total weight)."""
    pts = sorted((v, w) for v, w in samples if w > 0)
    total = sum(w for _, w in pts)
    if not pts:
        raise ValueError("no samples")
    need = math.ceil(q / 100.0 * total)
    seen = 0
    for v, w in pts:
        seen += w
        if seen >= max(need, 1):
            return v, total
    return pts[-1][0], total


def latency_join(stamps, commits):
    """Join rows to the commit instant of their batch.

    stamps: [(batch_id, stamp_us, count)], commits: {batch_id: commit_us}.
    Returns ([(latency_ms, count)], rows whose batch never committed)."""
    out, orphans = [], 0
    for batch, stamp, count in stamps:
        commit = commits.get(batch)
        if commit is None:
            orphans += count
        else:
            out.append(((commit - stamp) / 1000.0, count))
    return out, orphans


def canon(v):
    """Engine-neutral text of one result value: numbers at ten significant
    digits (Spark and DuckDB may differ in the last bit), times as UTC."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int) and abs(v) >= 2 ** 53:
        return str(v)
    if isinstance(v, (int, float)) or type(v).__name__ == "Decimal":
        f = float(v)
        if math.isnan(f):
            return "nan"
        return format(f, ".10g")
    if hasattr(v, "isoformat"):
        if getattr(v, "tzinfo", None) is not None:
            import datetime
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def table_hash(columns, rows):
    """Order-insensitive hash of a result: columns compared by name, rows
    as a multiset (sum of per-row hashes mod 2^64, plus the row count)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    acc = 0
    for row in rows:
        text = "\x1f".join(canon(row[i]) for i in order)
        acc = (acc + int.from_bytes(
            hashlib.sha1(text.encode()).digest()[:8], "big")) % (1 << 64)
    return f"{','.join(sorted(columns))}|{len(rows)}|{acc:016x}"


def union_ms(intervals, lo, hi):
    """Length in ms of the union of [a, b) µs intervals clipped to [lo, hi)."""
    pts = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0, None, None
    for a, b in pts:
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
    return total / 1000.0


def layer_of(name):
    return "query" if name.startswith("query.") else name


def resolve_parents(spans):
    """Give every span without a known parent the span of an outer layer it
    overlaps most: the innermost such layer, at least half of the child
    inside it. Spark reports job times in whole milliseconds and a batch's
    phases carry lengths only, so exact containment is too strict."""
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["parent"] in by_id or s["name"] == "workload":
            continue
        rank = LAYER_RANK[layer_of(s["name"])]
        length = max(s["end_us"] - s["start_us"], 1)
        best = None
        for p in spans:
            pr = LAYER_RANK[layer_of(p["name"])]
            if pr >= rank:
                continue
            overlap = min(s["end_us"], p["end_us"]) - max(s["start_us"], p["start_us"])
            inside = p["start_us"] <= s["start_us"] and s["end_us"] <= p["end_us"]
            if inside or overlap * 2 >= length:
                key = (pr, overlap, -(p["end_us"] - p["start_us"]))
                if best is None or key > best[0]:
                    best = (key, p)
        s["parent"] = best[1]["id"] if best else 0
    return spans


def self_times(spans):
    """Self time per layer in ms: each span's duration minus the part of
    it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {layer: 0.0 for layer in SELF_LAYERS}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        covered = union_ms([(c["start_us"], c["end_us"])
                            for c in kids.get(s["id"], [])], lo, hi)
        out[layer_of(s["name"])] += max(0.0, (hi - lo) / 1000.0 - covered)
    return out


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


# ---------------------------------------------------------------- metrics

def warm_and_billed(res):
    return res.get("warm", []), res.get("billed", [])


def setups(raw):
    res = raw["result"]
    if "setups_s" in res:
        return res["setups_s"]
    warm, billed = warm_and_billed(res)
    return [r["setup_s"] for r in warm + billed]


def end_to_end(raw):
    """The end-to-end metrics of one run, plus the same numbers under their
    workload-specific names, each as {name: (value, unit, samples)}."""
    res, wl = raw["result"], raw["workload"]
    su = setups(raw)
    out = {"setup_s": (median(su), "s", len(su))}
    if wl == "query_mix":
        passes = res["passes"]
        walls = [(q["end_us"] - q["start_us"]) / 1000.0
                 for p in passes for q in p]
        # A query's latency is its median over passes, so one pass that a
        # busy neighbour slowed does not set the slowest query's number.
        per_query = [median((q["end_us"] - q["start_us"]) / 1000.0
                            for p in passes for q in p if q["query"] == name)
                     for name in MIX_MEMBERS]
        p50, n = percentile([(w, 1) for w in per_query], 50)
        p99, _ = percentile([(w, 1) for w in per_query], 99)
        # Queries per second of a pass made of each query's median run.
        out["throughput_per_s"] = (len(per_query) / sum(per_query) * 1000.0, "1/s",
                                   len(walls))
        out["latency_p50_ms"] = (p50, "ms", n)
        out["latency_p99_ms"] = (p99, "ms", n)
        for kind, flag in (("mix_stream_s", True), ("mix_batch_s", False)):
            per_pass = [sum((q["end_us"] - q["start_us"]) / 1e6 for q in p
                            if q["stream"] == flag) for p in passes]
            out[kind] = (median(per_pass), "s", len(per_pass))
        return out
    _, billed = warm_and_billed(res)
    lats = [latency_join(r["stamps"], {int(b): t for b, t in r["commits"].items()})[0]
            for r in billed]
    n = sum(w for lat in lats for _, w in lat)
    if wl == "drain":
        # Each billed drain is one sample; the median shrugs off one that a
        # busy neighbour or a collection slowed.
        rate = median(r["records"] / ((r["end_us"] - r["start_us"]) / 1e6) for r in billed)
        p50 = median(percentile(lat, 50)[0] for lat in lats)
        p99 = median(percentile(lat, 99)[0] for lat in lats)
        out["drain_records_per_s"] = (rate, "records/s", len(billed))
    else:
        r = billed[0]
        last = max(int(t) for t in r["commits"].values())
        rate = r["records"] / ((last - r["start_us"]) / 1e6)
        p50 = percentile(lats[0], 50)[0]
        p99 = percentile(lats[0], 99)[0]
        out["tail_latency_p50_ms"] = (p50, "ms", n)
        out["tail_latency_p99_ms"] = (p99, "ms", n)
        out["tail_committed_records_per_s"] = (rate, "records/s", 1)
    out["throughput_per_s"] = (rate, "1/s", len(billed))
    out["latency_p50_ms"] = (p50, "ms", n)
    out["latency_p99_ms"] = (p99, "ms", n)
    return out


def per_layer(raw):
    """Every per-layer metric of a traced run; a layer the workload does not
    reach reads 0."""
    res, layers = raw["result"], raw["layers"]
    m = {name: 0.0 for name, _, _ in PER_LAYER}
    rec = layers.get("framing.records", 0)
    if rec:
        m["framing.decode_ns_per_record"] = layers["framing.ns"] / rec
        m["framing.bytes_per_record"] = layers["framing.bytes"] / rec
    m["log.meta_scan_ms"] = layers.get("log.meta_scan_ms", 0.0)
    m["log.torn_probe.scans"] = layers.get("log.torn_probe.scans", 0)
    m["log.torn_probe.failures"] = layers.get("log.torn_probe.failures", 0)

    prog = raw["progress"]
    lo = [p["ms"].get("latestOffset", 0) for p in prog]
    if lo:
        m["source.latest_offset_ms.sum"] = sum(lo)
        m["source.latest_offset_ms.max"] = max(lo)
    batches = [p for p in prog if "addBatch" in p["ms"]]
    if batches:
        def ms(key):
            return [p["ms"].get(key, 0) for p in batches]
        m["engine.batches"] = len(batches)
        m["engine.rows_per_batch.p50"] = median(p["rows"] for p in batches)
        m["engine.query_planning_ms.sum"] = sum(ms("queryPlanning"))
        m["engine.wal_commit_ms.sum"] = sum(ms("walCommit"))
        m["engine.commit_offsets_ms.sum"] = sum(ms("commitOffsets"))
        m["engine.add_batch_ms.p50"] = median(ms("addBatch"))
        m["engine.add_batch_ms.max"] = max(ms("addBatch"))
        m["engine.trigger_ms.p50"] = median(ms("triggerExecution"))

    _, billed = warm_and_billed(res)
    if raw["workload"] != "query_mix":
        applies = [(e - a) / 1000.0 for r in billed for _, a, e in r["applies"]]
        nbatches = sum(len(r["commits"]) for r in billed)
        records = sum(r["records"] for r in billed)
        m["sink.apply_ms.sum"] = sum(applies)
        m["sink.apply_ms.p50"] = median(applies)
        m["sink.apply_ms.max"] = max(applies, default=0.0)
        m["sink.files_per_batch"] = sum(r["sink_files"] for r in billed) / max(nbatches, 1)
        m["sink.bytes_per_record"] = sum(r["sink_bytes"] for r in billed) / max(records, 1)
        m["producer.retries"] = sum(r["retries"] for r in billed)
        m["producer.resubscribe_ms"] = median(x for r in billed for x in r["resubscribe_ms"])
        m["producer.time_to_ready_ms"] = median(x for r in billed for x in r["time_to_ready_ms"])
        lags = [x for r in billed for x in r.get("generator_lag_ms", [])]
        m["tail.generator_lag_ms.max"] = max(lags, default=0.0)

    spans = resolve_parents([dict(s) for s in raw["spans"]])
    by_id = {s["id"]: s for s in spans}
    stages = [s for s in spans if s["name"] == "spark.stage"]
    jobs = [s for s in spans if s["name"] == "spark.job"]
    a = [s["attrs"] for s in stages]
    m["exec.cpu_s"] = sum(x["cpu_ns"] for x in a) / 1e9
    m["exec.run_s"] = sum(x["run_ms"] for x in a) / 1e3
    m["exec.gc_s"] = sum(x["gc_ms"] for x in a) / 1e3
    m["exec.shuffle_read_bytes"] = sum(x["shuffle_read_bytes"] for x in a)
    m["exec.shuffle_write_bytes"] = sum(x["shuffle_write_bytes"] for x in a)
    m["exec.spill_bytes"] = sum(x["spill_bytes"] for x in a)
    m["exec.tasks"] = sum(x["tasks"] for x in a)

    def inside(span, s):
        return span["start_us"] - 2000 <= s["start_us"] and s["end_us"] <= span["end_us"] + 2000

    def gap_s(span):
        busy = union_ms([(j["start_us"], j["end_us"]) for j in jobs if inside(span, j)],
                        span["start_us"], span["end_us"])
        return ((span["end_us"] - span["start_us"]) / 1000.0 - busy) / 1000.0

    def stage_sum(span, *keys):
        return sum(st["attrs"][k] for st in stages for k in keys
                   if st["parent"] in by_id and inside(span, by_id[st["parent"]]))

    tops = [s for s in spans if layer_of(s["name"]) in ("producer.run", "query")]
    m["driver.gap_s"] = sum(gap_s(s) for s in tops)

    e2e = end_to_end(raw)
    if raw["workload"] == "query_mix":
        m["mix.stream_s"] = e2e["mix_stream_s"][0]
        m["mix.batch_s"] = e2e["mix_batch_s"][0]
        per_query = {
            "wall_s": lambda s: (s["end_us"] - s["start_us"]) / 1e6,
            "exec_cpu_s": lambda s: stage_sum(s, "cpu_ns") / 1e9,
            "gc_s": lambda s: stage_sum(s, "gc_ms") / 1e3,
            "shuffle_bytes": lambda s: stage_sum(s, "shuffle_read_bytes", "shuffle_write_bytes"),
            "driver_gap_s": gap_s,
        }
        for q in MIX_MEMBERS:
            runs = [s for s in spans if s["name"] == f"query.{q}"]
            for key, f in per_query.items():
                m[f"mix.{q}.{key}"] = median(f(s) for s in runs)

    for layer, v in self_times(spans).items():
        m[f"self_ms.{layer}"] = v
    for n, _ in END_TO_END:
        if n != "setup_s":
            m[f"traced.{n}"] = e2e[n][0]
    return m
