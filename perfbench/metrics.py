"""Arithmetic that turns one run record into metrics.

Kept free of I/O so tests/test_metrics.py can pin every rule.
"""
import math
import statistics

OPERATOR_FAMILIES = ["DedupQueries", "CurationQueries"]
CHAIN_QUERIES = ["q112_curate_full", "q84_cluster_survivor",
                 "q48_near_dup_components", "q46_lsh_verified_dedup",
                 "q89_incremental_dedup"]
TABLE_WRITES = ["sinks.ManifestTable.append", "sinks.ManifestDml.merge",
                "sinks.ManifestDml.deleteWhere", "sinks.ManifestDml.updateWhere",
                "sinks.ManifestDml.deleteKeys", "catalog.sql_dml"]
TABLE_READS = ["read", "readPruned", "readChanges", "readVersion"]
STREAM_SINKS = ["manifestSinkWriter"]


def tail_percentile(values, min_beyond=10):
    """Highest whole percentile (50 to 99) of `values` with at least
    `min_beyond` samples above it, by nearest rank. Returns
    (value, percentile, n); with too few samples for any such
    percentile the maximum is returned as percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None, None, 0
    for p in range(99, 49, -1):
        rank = math.ceil(p * n / 100)
        if n - rank >= min_beyond:
            return xs[rank - 1], p, n
    return xs[-1], 100, n


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` (start, end), clipped to
    [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover."""
    dur = span["end_ms"] - span["start_ms"]
    return dur - union_length([(c["start_ms"], c["end_ms"]) for c in children],
                              span["start_ms"], span["end_ms"])


def driver_gap(span, jobs):
    """Span time during which no Spark job was running."""
    dur = span["end_ms"] - span["start_ms"]
    return dur - union_length([(j["start_ms"], j["end_ms"]) for j in jobs],
                              span["start_ms"], span["end_ms"])


def files_read_frac(files_read, files_total):
    """Files a read opened over the files of the snapshot it read from."""
    return files_read / files_total if files_total else 0.0


def growth_ratio(batch_seconds):
    """Late/early mean of per-batch seconds, batch 0 excluded (it pays
    the cold start)."""
    steady = batch_seconds[1:]
    half = len(steady) // 2
    if half == 0:
        return 1.0
    return statistics.mean(steady[half:]) / statistics.mean(steady[:half])


def median(xs):
    return statistics.median(xs) if xs else None


def end_to_end(record):
    """Every end-to-end figure that applies to the record's workload,
    from its untraced passes."""
    passes = [p for p in record["passes"] if not p["traced"]]
    ops = [o for p in passes for o in p["ops"]]
    out = {"setup_s": median(record["setup_s"]),
           "run_s": median([p["wall_s"] for p in passes]),
           "run_cpu_s": median([p["cpu_s"] for p in passes]),
           "heap_after_gc_mb": record["heap_after_gc_mb"]}
    tails = {}
    for kind in ("read", "write"):
        lat = [o[3] for o in ops if o[0] == kind and o[4]]
        if lat:
            out[f"{kind}_p50_s"] = median(lat)
            v, p, n = tail_percentile(lat)
            out[f"{kind}_tail_s"] = v
            tails[kind] = {"percentile": p, "n": n}
    extras = record.get("extras", {})
    for k in ("bytes_per_row",):
        if k in extras:
            out[k] = extras[k]
    return out, tails


def _in(t, span):
    return span["start_ms"] <= t <= span["end_ms"]


def per_layer(record, names):
    """Per-layer metrics from the traced pass. Every name in `names` is
    reported; a layer the workload never calls reads 0."""
    trace = record["trace"]
    spans = trace["spans"]
    jobs = [j for j in trace["jobs"] if j["end_ms"] >= 0]
    qes = trace["query_executions"]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    wname = record["workload"]
    traced_pass = [s for s in spans if s["name"] == f"{wname}.pass"][-1]
    pass_jobs = [j for j in jobs if _in(j["start_ms"], traced_pass)]
    pass_qes = [q for q in qes if _in(q["end_ms"], traced_pass)]

    def stats(sel):
        r = {"wall_s": 0.0, "build_s": 0.0, "jobs": 0, "driver_gap_s": 0.0,
             "task_cpu_s": 0.0, "files_written": 0,
             "bytes_written": 0, "files_read": 0.0, "files_total": 0.0}
        for s in sel:
            js = [j for j in jobs if _in(j["start_ms"], s)]
            qs = [q for q in qes if _in(q["end_ms"], s)]
            r["wall_s"] += self_time(s, children.get(s["id"], [])) / 1e3
            if s.get("build_end_ms") is not None:
                r["build_s"] += (s["build_end_ms"] - s["start_ms"]) / 1e3
            r["jobs"] += len(js)
            r["driver_gap_s"] += driver_gap(s, js) / 1e3
            r["task_cpu_s"] += sum(j["cpu_s"] for j in js)
            r["files_written"] += sum(q["files_written"] for q in qs)
            r["bytes_written"] += sum(q["bytes_written"] for q in qs)
            r["files_read"] += s["attrs"].get("files_read", 0)
            r["files_total"] += s["attrs"].get("files_total", 0)
        r["files_read_frac"] = files_read_frac(r["files_read"], r["files_total"])
        return r

    in_pass = [s for s in spans if _in(s["start_ms"], traced_pass)]
    by_name = {}
    for s in in_pass:
        by_name.setdefault(s["name"], []).append(s)
    out = {}
    for f in OPERATOR_FAMILIES:
        st = stats(by_name.get(f"operators.{f}", []))
        for k in ("wall_s", "build_s", "jobs", "driver_gap_s", "task_cpu_s"):
            out[f"operators.{f}.{k}"] = st[k]
    for q in CHAIN_QUERIES:
        st = stats([s for s in in_pass if s["op"] == q])
        out[f"operators.{q}.wall_s"] = st["wall_s"]
        out[f"operators.{q}.jobs"] = st["jobs"]
    for k in ("analysis_s", "optimization_s", "planning_s"):
        out[f"plans.{k}"] = sum(q[k] for q in pass_qes)
    for w in TABLE_WRITES:
        st = stats(by_name.get(w, []))
        for k in ("wall_s", "jobs", "files_written", "bytes_written"):
            out[f"{w}.{k}"] = st[k]
    for rd in TABLE_READS:
        st = stats(by_name.get(f"sinks.ManifestTable.{rd}", []))
        for k in ("wall_s", "jobs", "files_read_frac"):
            out[f"sinks.ManifestTable.{rd}.{k}"] = st[k]
    progress = trace["stream_progress"]
    for sink in STREAM_SINKS:
        ps = sorted((p for p in progress
                     if p["name"] == f"streaming.{sink}" and p["rows"] > 0),
                    key=lambda p: p["batch"])
        out[f"streaming.{sink}.add_batch_s"] = sum(p["add_batch_s"] for p in ps)
        out[f"streaming.{sink}.planning_s"] = sum(p["planning_s"] for p in ps)
        out[f"streaming.{sink}.wal_commit_s"] = sum(p["wal_commit_s"] for p in ps)
        out[f"streaming.{sink}.rows_out"] = sum(p["rows"] for p in ps)
        out[f"streaming.{sink}.batch_growth_ratio"] = (
            growth_ratio([p["trigger_s"] for p in ps]) if ps else 0.0)
    out["shuffle_bytes"] = sum(j["shuffle_write_bytes"] for j in pass_jobs)
    out["task_cpu_s"] = sum(j["cpu_s"] for j in pass_jobs)
    out["driver_gap_s"] = driver_gap(traced_pass, pass_jobs) / 1e3
    untraced = [p for p in record["passes"] if not p["traced"]]
    out["jobs_per_pass"] = median([p["jobs"] for p in untraced])
    traced_wall = [p["wall_s"] for p in record["passes"] if p["traced"]][-1]
    out["tracing_overhead"] = traced_wall / median([p["wall_s"] for p in untraced])
    missing = [n for n in names if n not in out]
    if missing:
        raise KeyError(f"per-layer metrics not computed: {missing}")
    return {n: out[n] for n in names}


def spread(values):
    """Distance between the first and third quartile as a share of the
    median, as statistics.quantiles(values, n=4) gives the quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
