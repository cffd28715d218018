"""Pure parts of the benchmark: percentiles, open-loop latency, failure
counting, per-layer aggregation and the metric-name rules. No I/O here, so
`test_stats.py` covers all of it without a JVM."""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
TAIL_BEYOND = 10
TAIL_MIN_PERCENTILE = 90.0
OPS = ("ingest", "get", "multifetch", "list", "tx")
PHASES = ("queryPlanning", "walCommit", "addBatch", "commitOffsets", "latestOffset")
COUNTERS = ("graft.elements.appended", "graft.randomaccess.lookups",
            "graft.transactions.committed")


def valid_name(name):
    return bool(NAME_RE.match(name))


def valid_unit(unit):
    return bool(UNIT_RE.match(unit))


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """The highest percentile with at least ten samples beyond it.

    Returns (value, percentile, n). With n samples sorted, the value at
    index n - 11 has exactly ten after it, and it sits at percentile
    100 * (n - 10) / n. Below the 90th percentile (fewer than 100 samples)
    that is no tail, so the tail is unresolved: value and percentile are
    None.
    """
    s = sorted(xs)
    n = len(s)
    pct = 100.0 * (n - TAIL_BEYOND) / n if n else 0.0
    if pct < TAIL_MIN_PERCENTILE:
        return None, None, n
    return s[n - TAIL_BEYOND - 1], pct, n


def open_loop_latency_ms(done):
    """Latency of each completed request, timed from when it was due.

    `done` rows are (kind, due_ms, sent_ms, end_ms, ok). A request that
    waited behind a stall is charged the wait. Returns {kind: [ms]} over
    the successful requests only."""
    out = {}
    for kind, due, _sent, end, ok in done:
        if ok:
            out.setdefault(kind, []).append(end - due)
    return out


def lateness_ms(handed):
    """How late an open-loop generator handed each request over, from
    (due_ms, handed_ms) pairs; early hand-overs count as on time."""
    return [max(0, h - d) for d, h in handed]


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def failures(raw):
    """(attempted, failed, reasons) over every checked operation of a run.

    Analytics: each row execution counts once; a row fails on an error, on
    a fingerprint that changes between passes, or on an oracle mismatch.
    Serve: each request counts once; it fails when not acknowledged or, for
    a get, when it did not return an acknowledged write for its cell.
    Pipeline: each generated element counts once; a lost or duplicated
    element in the target fails."""
    reasons = []
    a = raw["analytics"]
    attempted = 0
    failed = 0
    for name, r in sorted(a["rows"].items()):
        runs = a["passes"] + a["warm_reps"]
        attempted += runs
        if r.get("error"):
            failed += runs
            reasons.append(f"{name}: {r['error']}")
        elif len(r["fingerprints"]) != 1:
            failed += runs
            reasons.append(f"{name}: output differs between passes {r['fingerprints']}")
        elif r["oracle"] not in ("match", "none"):
            failed += runs
            reasons.append(f"{name}: oracle {r['oracle']}")
    s = raw["serve"]
    ops = s["open"] + s["closed"]
    attempted += len(ops) + s["warm_ops"]
    not_ok = sum(1 for o in ops if not o[4])
    failed += not_ok + s["bad_reads"] + s["warm_failed"]
    if not_ok:
        reasons.append(f"serve: {not_ok} requests not acknowledged")
    if s["warm_failed"]:
        reasons.append(f"warm-up: {s['warm_failed']} requests or appends failed")
    if s["bad_reads"]:
        reasons.append(f"serve: {s['bad_reads']} gets missed the last acknowledged write")
    p = raw["pipeline"]
    attempted += p["expected"]
    failed += p["lost"] + p["duplicated"]
    if p["lost"] or p["duplicated"]:
        reasons.append(f"pipeline: {p['lost']} lost, {p['duplicated']} duplicated")
    return attempted, min(failed, attempted), reasons


def end_to_end(raw, maxrss_kb):
    """Every end-to-end metric of one untraced run, with the tails (see
    `tail`) as detail: a run has too few samples to resolve them."""
    a = raw["analytics"]["rows"]
    med = {n: median(r["times_s"]) for n, r in a.items()}
    s = raw["serve"]
    lat = open_loop_latency_ms(s["open"])
    ing, get = lat.get("ingest", []), lat.get("get", [])
    p = raw["pipeline"]
    metrics = {
        "setup_s": (raw["warmup_s"] + median(raw["setup_reps_s"]), "s"),
        "rss_peak_mb": (maxrss_kb / 1024.0, "MB"),
        "query_total_s": (sum(med.values()), "s"),
        "query_geomean_s": (geomean(list(med.values())), "s"),
        "ingest_p50_ms": (median(ing), "ms"),
        "get_p50_ms": (median(get), "ms"),
        "serve_ops_s": (s["closed_ops"] / s["closed_s"], "1/s"),
        "lag_p50_ms": (median(p["lag_ms"]), "ms"),
    }
    detail = {f"{k}_tail_ms": dict(zip(("value", "percentile", "n"), tail(xs)))
              for k, xs in (("ingest", ing), ("get", get), ("lag", p["batch_lag_ms"]))}
    return metrics, detail


def per_layer(raw):
    """Every per-layer metric of one traced run."""
    t = raw["trace"]
    a = raw["analytics"]
    passes = a["passes"]
    cores = t["cores"]
    out = {}
    sets = {}
    for name, r in a["rows"].items():
        sets.setdefault(r["set"], []).append(median(r["times_s"]))
    for qs, ts in sorted(sets.items()):
        out[f"queries.{qs}_s"] = (sum(ts), "s")
    rows = t["rows"]
    wall_s = sum(r["wall_ms"] for r in rows) / 1000.0
    task_s = sum(r["task_ms"] for r in rows) / 1000.0
    out["trace.query_total_s"] = (sum(median(r["times_s"]) for r in a["rows"].values()), "s")
    out["spark.jobs"] = (sum(r["jobs"] for r in rows) / passes, "count")
    out["spark.stages"] = (sum(r["stages"] for r in rows) / passes, "count")
    out["spark.tasks"] = (sum(r["tasks"] for r in rows) / passes, "count")
    out["spark.driver_gap_s"] = (
        sum(r["wall_ms"] - r["job_union_ms"] for r in rows) / 1000.0 / passes, "s")
    out["spark.task_s"] = (task_s / passes, "s")
    out["spark.util"] = (task_s / (wall_s * cores) if wall_s else 0.0, "ratio")
    out["spark.shuffle_read_mb"] = (sum(r["shuffle_read"] for r in rows) / 1e6 / passes, "MB")
    out["spark.shuffle_write_mb"] = (sum(r["shuffle_write"] for r in rows) / 1e6 / passes, "MB")
    out["spark.input_mb"] = (sum(r["input"] for r in rows) / 1e6 / passes, "MB")
    out["jvm.gc_s"] = (a["gc_ms"] / 1000.0 / passes, "s")
    row_names = set(a["rows"])
    row_batches = [b for b in t["batches"] if b["owner"] in row_names]
    pipe_batches = [b for b in t["batches"] if b["owner"] == "pipeline" and b["steady"]]
    out["streaming.batches"] = (len(row_batches) / (passes + a["warm_reps"]), "count")
    every = row_batches + [b for b in t["batches"] if b["owner"] == "pipeline"]
    for ph in PHASES:
        vals = [b["durations"].get(ph, 0) for b in every]
        out[f"streaming.{ph}_ms"] = (sum(vals) / len(vals) if vals else 0.0, "ms")
    stateful = [b for b in every if b["state_rows"] > 0]
    out["streaming.state_rows"] = (
        sum(b["state_rows"] for b in stateful) / len(stateful) if stateful else 0.0, "count")
    out["streaming.state_commit_ms"] = (
        sum(b["state_commit_ms"] for b in stateful) / len(stateful) if stateful else 0.0, "ms")
    by_op = {}
    for o in t["ops"]:
        by_op.setdefault(o["op"], []).append(o)
    for op in OPS:
        os_ = by_op.get(op, [])
        n = max(len(os_), 1)
        out[f"service.{op}_p50_ms"] = (median([o["wall_ms"] for o in os_]) if os_ else 0.0, "ms")
        out[f"spark.jobs_per_op.{op}"] = (sum(o["jobs"] for o in os_) / n, "count")
        out[f"spark.task_ms_per_op.{op}"] = (sum(o["task_ms"] for o in os_) / n, "ms")
        out[f"spark.driver_ms_per_op.{op}"] = (
            sum(o["wall_ms"] - o["job_union_ms"] for o in os_) / n, "ms")
    gets = by_op.get("get", [])
    out["core.commitlog_files"] = (raw["serve"]["files"], "count")
    out["randomaccess.input_mb_per_get"] = (
        sum(o["input"] for o in gets) / 1e6 / max(len(gets), 1), "MB")
    for c in COUNTERS:
        out[c] = (raw["counters"].get(c, 0), "count")
    p = raw["pipeline"]
    out["core.append_ms"] = (median(p["append_ms"]), "ms")
    out["pipeline.rows_per_batch"] = (
        sum(b["rows"] for b in pipe_batches) / max(len(pipe_batches), 1), "count")
    out["pipeline.jobs_per_batch"] = (t["pipeline_jobs"] / max(len(pipe_batches), 1), "count")
    out["pipeline.drain_eps"] = (raw["backlog"] / max(raw["drain_s"], 1e-3), "1/s")
    out["pipeline.batches"] = (len(pipe_batches), "count")
    out["serve.gen_late_ms"] = (max(lateness_ms(raw["serve"]["generator"]), default=0), "ms")
    out["pipeline.gen_late_ms"] = (max(lateness_ms(p["generator"]), default=0), "ms")
    return out


def streaming_rows_without_batches(raw):
    """Streaming rows that the traced run saw no micro-batch for."""
    owners = {b["owner"] for b in raw["trace"]["batches"]}
    return sorted(n for n, r in raw["analytics"]["rows"].items()
                  if r["streaming"] and n not in owners)
