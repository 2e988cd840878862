"""Turns a raw run record (written by perfbench.Main) into the benchmark's
metrics. Pure functions over dicts, so they are tested without Spark.

Rules used throughout:
- A percentile is the nearest-rank value: the ceil(p/100 * n)-th smallest.
- A span's self time is its duration minus the length of the UNION of its
  children's intervals clipped to it. Jobs overlap (concurrent cuts), so a
  sum of child durations can exceed the parent's wall time.
- A batch query's latency is its median wall time over the timed passes;
  latency percentiles are taken over the workload's queries.
- Stream latency percentiles are taken in each of STREAM_CHUNKS equal
  slices of the measured window; the median slice is reported, so a single
  stall does not decide the run.
- Batch per-layer values are taken per timed pass; the median pass is
  reported. Stream per-layer values cover the measured window.
- A failed operation is never a timing: a query that threw is left out of
  the latencies, and a pass that holds one is left out of `pass_s` and of
  the per-layer values. A stream query that died counts as a failure.
"""
import math
import statistics


def percentile(values, p):
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals`, each clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, children):
    return (end - start) - union_length(children, start, end)


def check_batch(checks, expected):
    """Compares the correctness pass with the recorded expected values.
    Returns (attempted, failed, mismatch messages)."""
    failed, notes = 0, []
    for c in checks:
        name = c["query"]
        exp = expected.get(name)
        if "error" in c:
            why = "threw " + c["error"]
        elif exp is None:
            why = "no expected value recorded"
        elif c["rows"] != exp["rows"]:
            why = "rows %d, expected %d" % (c["rows"], exp["rows"])
        elif exp.get("digest") is not None and c["digest"] != exp["digest"]:
            why = "digest %s, expected %s" % (c["digest"], exp["digest"])
        else:
            continue
        failed += 1
        notes.append("%s: %s" % (name, why))
    return len(checks), failed, notes


def _spans(record, kind):
    return [s for s in record["spans"] if s["kind"] == kind]


def _dur(s):
    return s["end"] - s["start"]


def setup_s(record):
    return statistics.median(s["setup_s"] for s in record["setups"])


def clean_passes(record):
    """The timed passes in which no query threw."""
    failed = {e["span"] for e in record["errors"]}
    dirty = {q["parent"] for q in _spans(record, "query") if q["id"] in failed}
    clean = [p for p in _spans(record, "pass") if p["id"] not in dirty]
    if not clean:
        raise ValueError("every timed pass has a failed query; nothing to time")
    return clean


def batch_end_to_end(record, expected):
    attempted, failed, notes = check_batch(record["checks"], expected)
    queries = _spans(record, "query")
    attempted += len(queries)
    failed += len(record["errors"])
    notes += ["%s: %s" % (e["query"], e["error"]) for e in record["errors"]]
    threw = {e["span"] for e in record["errors"]}
    per_query = {}
    for q in queries:
        if q["id"] not in threw:
            per_query.setdefault(q["name"], []).append(_dur(q) * 1e3)
    lat = [statistics.median(v) for v in per_query.values()]
    metrics = {
        "setup_s": (setup_s(record), "s"),
        "pass_s": (statistics.median(_dur(p) for p in clean_passes(record)), "s"),
        "latency_p50_ms": (percentile(lat, 50), "ms"),
        "latency_p99_ms": (percentile(lat, 99), "ms"),
    }
    return metrics, attempted, failed, notes


def _in_window(progress, lo, hi):
    out = []
    for p in progress:
        t = _epoch(p["timestamp"])
        if lo <= t <= hi and p["numInputRows"] > 0:
            out.append(p)
    return out


def _epoch(iso):
    from datetime import datetime
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


STREAM_CHUNKS = 5


def chunked_percentile(samples, p, chunks=STREAM_CHUNKS):
    """Median over `chunks` consecutive slices (by time) of each slice's
    p-th percentile; `samples` are (time, value) pairs."""
    xs = [v for _, v in sorted(samples)]
    n = len(xs)
    return statistics.median(
        percentile(xs[i * n // chunks:(i + 1) * n // chunks], p)
        for i in range(chunks))


def stream_end_to_end(record):
    s = record["stream"]
    lo, hi = s["window"]
    batches = _in_window(s["progress"]["stateless"], lo, hi)
    lost = s["missing"] + s["duplicated"] + s["stray"]
    notes = []
    if lost:
        notes.append("%d missing, %d duplicated, %d stray events" %
                     (s["missing"], s["duplicated"], s["stray"]))
    notes += s["query_errors"]
    failed = lost + len(s["query_errors"])
    metrics = {
        "setup_s": (setup_s(record), "s"),
        "pass_s": (statistics.median(
            b["durationMs"]["triggerExecution"] for b in batches) / 1e3, "s"),
        "latency_p50_ms": (chunked_percentile(s["latency_ms"], 50), "ms"),
        "latency_p99_ms": (chunked_percentile(s["latency_ms"], 99), "ms"),
    }
    # Attempted operations: every generated event and every stream query.
    return metrics, s["generated"] + len(s["progress"]), failed, notes


# --- per-layer ------------------------------------------------------------

LAYER_NAMES = ("operators", "graph")
LAYER_METRICS = ("build_s", "plan_s", "exec_s", "jobs", "build_jobs", "driver_gap_s")
STREAM_DURATIONS = {"latest_offset_ms": "latestOffset",
                    "query_planning_ms": "queryPlanning",
                    "add_batch_ms": "addBatch",
                    "wal_commit_ms": "walCommit"}


def jobs_of(record):
    ends = {e["job"]: e["end"] for e in record["job_ends"]}
    return [dict(j, end=ends.get(j["job"], j["start"])) for j in record["jobs"]]


def exec_layer(record, jobs, lo, hi, cpus):
    """exec.* over the jobs that started in [lo, hi]."""
    mine = [j for j in jobs if lo <= j["start"] <= hi]
    stage_ids = {s for j in mine for s in j["stages"]}
    planned = sum(len(j["stages"]) for j in mine)
    ran = [s for s in record["stages"] if s["stage"] in stage_ids]
    run_s = sum(s["run_s"] for s in ran)
    return {
        "exec.jobs": len(mine),
        "exec.stages": len(ran),
        "exec.tasks": sum(s["tasks"] for s in ran),
        "exec.stage_skip_ratio": (planned - len(ran)) / planned if planned else 0.0,
        "exec.task_run_s": run_s,
        "exec.task_cpu_s": sum(s["cpu_s"] for s in ran),
        "exec.gc_s": sum(s["gc_s"] for s in ran),
        "exec.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in ran),
        "exec.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in ran),
        "exec.spill_bytes": sum(s["spill_bytes"] for s in ran),
        "exec.slot_busy_ratio": run_s / (cpus * (hi - lo)) if hi > lo else 0.0,
        "sources.input_bytes": sum(s["input_bytes"] for s in ran),
    }


def storage_peak(record, lo, hi):
    """Largest RDD storage total in [lo, hi], counting the level at lo."""
    level, peak = 0.0, 0.0
    for t, total in record["storage"]:
        if t > hi:
            break
        level = total
        if t >= lo:
            peak = max(peak, total)
    return max(peak, level)


def _plan_seconds(record, lo, hi):
    total = 0.0
    for p in record["plans"]:
        for ph in p["phases"].values():
            if lo <= ph["start"] <= hi:
                total += ph["end"] - ph["start"]
    return total


def zero_layers():
    return {"%s.%s" % (l, m): 0.0 for l in LAYER_NAMES for m in LAYER_METRICS}


def pass_layers(record, pass_span, jobs):
    """operators.* and graph.* for one timed pass."""
    by_parent = {}
    for s in record["spans"]:
        by_parent.setdefault(s["parent"], []).append(s)
    out = zero_layers()
    for q in by_parent.get(pass_span["id"], []):
        q_jobs = [(j["start"], j["end"]) for j in jobs
                  if q["start"] <= j["start"] <= q["end"]]
        layer = None
        for ph in by_parent.get(q["id"], []):
            layer = ph["name"]
            key = "%s.%s_s" % (layer, ph["kind"])
            out[key] += _dur(ph)
            if ph["kind"] == "build":
                out[layer + ".build_jobs"] += sum(
                    1 for s, _ in q_jobs if ph["start"] <= s <= ph["end"])
        if layer is None:
            continue
        out[layer + ".jobs"] += len(q_jobs)
        out[layer + ".plan_s"] += _plan_seconds(record, q["start"], q["end"])
        out[layer + ".driver_gap_s"] += self_time(q["start"], q["end"], q_jobs)
    return out


def query_table(record, jobs):
    """Per query, median over timed passes: wall, jobs, summed job time,
    union of job time, overlap (sum / union) and time outside any job."""
    rows = {}
    for q in _spans(record, "query"):
        q_jobs = [(j["start"], j["end"]) for j in jobs
                  if q["start"] <= j["start"] <= q["end"]]
        union = union_length(q_jobs, q["start"], q["end"])
        summed = sum(min(e, q["end"]) - s for s, e in q_jobs)
        rows.setdefault(q["name"], []).append({
            "wall_s": _dur(q), "jobs": len(q_jobs), "job_sum_s": summed,
            "job_union_s": union, "overlap": summed / union if union else 0.0,
            "outside_jobs_s": _dur(q) - union})
    return {name: {k: statistics.median(r[k] for r in rs) for k in rs[0]}
            for name, rs in sorted(rows.items())}


def zero_stream():
    keys = ["batches", "batch_p50_ms", "state_rows", "state_bytes",
            "state_commit_ms", "backlog_max_events", "gen_late_ms"]
    return {"streaming." + k: 0.0 for k in keys + list(STREAM_DURATIONS)}


def stream_layer(record):
    s = record["stream"]
    lo, hi = s["window"]
    batches = {q: _in_window(ps, lo, hi) for q, ps in s["progress"].items()}
    every = [b for bs in batches.values() for b in bs]
    out = {
        "streaming.batches": len(batches["stateless"]),
        "streaming.batch_p50_ms": statistics.median(
            b["durationMs"]["triggerExecution"] for b in every),
        "streaming.backlog_max_events": max(
            (b for t, b in s["backlog"] if lo <= t <= hi), default=0.0),
        "streaming.gen_late_ms": max(
            (x for t, x in s["gen_late_ms"] if lo <= t <= hi), default=0.0),
    }
    for name, key in STREAM_DURATIONS.items():
        out["streaming." + name] = statistics.median(
            b["durationMs"].get(key, 0) for b in every)
    ops = [op for b in batches["windowed"] for op in b.get("stateOperators", [])]
    out["streaming.state_rows"] = max((op["numRowsTotal"] for op in ops), default=0)
    out["streaming.state_bytes"] = max((op["memoryUsedBytes"] for op in ops), default=0)
    out["streaming.state_commit_ms"] = statistics.median(
        [op["commitTimeMs"] for op in ops] or [0])
    return out


def stream_warmup_s(record):
    """Query start plus the micro-batches run before the measured window."""
    lo = record["stream"]["window"][0]
    early = [p["durationMs"]["triggerExecution"]
             for ps in record["stream"]["progress"].values() for p in ps
             if _epoch(p["timestamp"]) < lo]
    start = [_dur(s) for s in _spans(record, "stream") if s["name"] == "start"]
    return sum(start) + sum(early) / 1e3


def per_layer(record):
    jobs = jobs_of(record)
    cpus = record["cpus"]
    base = {
        "sources.warmup_s": statistics.median(s["warmscan_s"] for s in record["setups"]),
        "setup.cold_s": record["setups"][0]["setup_s"],
    }
    if "stream" in record:
        lo, hi = record["stream"]["window"]
        out = dict(base, **exec_layer(record, jobs, lo, hi, cpus))
        out.update(zero_layers())
        out["caches.storage_peak_bytes"] = storage_peak(record, lo, hi)
        out["setup.warmup_s"] = stream_warmup_s(record)
        out.update(stream_layer(record))
        return out
    per_pass = []
    for p in clean_passes(record):
        m = exec_layer(record, jobs, p["start"], p["end"], cpus)
        m.update(pass_layers(record, p, jobs))
        m["caches.storage_peak_bytes"] = storage_peak(record, p["start"], p["end"])
        per_pass.append(m)
    out = dict(base)
    for k in per_pass[0]:
        out[k] = statistics.median(m[k] for m in per_pass)
    out["setup.warmup_s"] = sum(_dur(s) for s in _spans(record, "warmup"))
    out.update(zero_stream())
    return out


def layer_unit(name):
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_bytes", "bytes"),
                         ("_ratio", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"
