"""Turns a benchmark JVM report into end-to-end and per-layer metrics."""
import statistics

from stats import (beyond, freshness_ms, geomean, offsets, percentile,
                   self_time_us, slope, slope_se, tail_ok)

E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "live_heap_mb": "MB",
             "p50_ms": "ms", "p90_ms": "ms",
             "per_s": "1/s", "read_ms": "ms"}
# the end-to-end metrics BENCHMARK.json gates. peak_rss_mb is reported
# only: with the heap grown on demand it follows the collector's sizing
# more than the program's demand (see NOTES.md)
GATED = ("setup_s", "live_heap_mb", "p50_ms", "p90_ms", "per_s", "read_ms")

LAYERS = ("ops", "spark", "streaming", "sources", "ingest", "storage", "gen", "jvm")

PER_LAYER_UNITS = {
    "ops.build_ms": "ms", "ops.exec_ms": "ms", "ops.jobs": "count",
    "ops.stages": "count", "ops.tasks": "count", "ops.empty_task_ratio": "ratio",
    "ops.slot_busy_ratio": "ratio", "ops.task_wait_ms": "ms",
    "ops.shuffle_write_bytes": "B", "ops.shuffle_read_bytes": "B",
    "ops.spill_bytes": "B", "ops.peak_exec_mem_bytes": "B", "ops.gc_ms": "ms",
    "streaming.triggers": "count", "streaming.trigger_ms": "ms",
    "streaming.planning_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.wal_ms": "ms", "streaming.commit_ms": "ms",
    "streaming.rows_per_trigger": "count", "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "B", "streaming.state_commit_ms": "ms",
    "sources.stage_orders_per_s": "1/s", "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms", "sources.segments": "count",
    "sources.backlog_max": "count", "sources.backlog_slope": "1/s",
    "ingest.rows": "count", "ingest.empty_ids": "count",
    "ingest.dead_letter_rows": "count", "ingest.ns_per_order": "ns",
    "storage.files_written": "count", "storage.bytes_written": "B",
    "storage.bytes_per_order": "B", "storage.files_read": "count",
    "storage.read_ms": "ms", "storage.read_retries": "count",
    "gen.lag_p99_ms": "ms",
    "jvm.gc_ms": "ms", "jvm.heap_peak_mb": "MB",
    **{f"self.{layer}_ms": "ms" for layer in LAYERS},
    "trace.spans": "count", "trace.overhead_pct": "%",
}

# a live phase is valid only if the generator kept its schedule (its p99
# publish lag stays under one tick, so no segment is published after the
# next one was due) and the engine kept up with it (the backlog does not grow
# by more than this share of the publish rate, beyond twice the slope's
# standard error: one slow trigger near the end of the phase tilts a
# 10-point fit by tens of records/s)
MAX_BACKLOG_SLOPE_SHARE = 0.1
SLOPE_NOISE_SE = 2.0


def _mean(xs, default=0.0):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else default


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def timed_execs(report):
    return [e for e in report["execs"] if e["cycle"] >= 0]


def latency_ms(e):
    return e["buildMs"] + e["execMs"]


def query_e2e(report):
    """Latency percentiles are taken per cycle (each cycle runs every query
    once, so each holds the same mix) and reported as their median over
    cycles; the pooled tail's sample count is reported beside them."""
    execs = [e for e in timed_execs(report) if e["ok"]]
    by_q, by_cycle = {}, {}
    for e in execs:
        by_q.setdefault(e["query"], []).append(latency_ms(e))
        by_cycle.setdefault(e["cycle"], []).append(latency_ms(e))
    n = len(execs)
    return {
        "p50_ms": statistics.median(percentile(v, 0.5) for v in by_cycle.values()),
        "p90_ms": statistics.median(percentile(v, 0.9) for v in by_cycle.values()),
        "per_s": len(timed_execs(report)) / report["window_s"],
        "read_ms": geomean(statistics.median(v) for v in by_q.values()),
    }, {"latency": n, "cycles": len(by_cycle), "queries": len(by_q),
        "cycle_s": report["cycles_s"],
        "p90_beyond": beyond(n, 0.9), "p90_tail_ok": tail_ok(n)}


def live(report):
    return report["live_us"]


def role_of(report, p):
    return report["roles"].get(p["queryId"], p["query"])


def triggers(report, role, lo_us=None, hi_us=None):
    out = []
    for p in report["progress"]:
        if role_of(report, p) != role:
            continue
        c = p["startMs"] * 1000 + p["durations"].get("triggerExecution", 0) * 1000
        if lo_us is not None and c < lo_us:
            continue
        if hi_us is not None and c > hi_us:
            continue
        out.append(dict(p, commitUs=c))
    return out


def fresh_samples(report):
    """Freshness of every live event, from the hourly-partials triggers."""
    segs = [s for s in report["segments"] if s["phase"] == "live"]
    return freshness_ms(segs, triggers(report, "partials"))


def backlog_series(report):
    """(seconds into the live phase, records published but not yet
    consumed by the hourly-partials query) at each of its commits."""
    lo, hi = live(report)
    segs = sorted(report["segments"], key=lambda s: s["publishedUs"])
    staged = sum(report["backfill"]["end_offsets"]) - sum(
        s["end"] - s["start"] for s in segs if s["phase"] == "backfill")
    out = []
    for t in triggers(report, "partials", lo, None):
        published = staged + sum(s["end"] - s["start"] for s in segs
                                 if s["publishedUs"] <= t["commitUs"])
        consumed = sum(offsets(t["endOffset"]).values())
        out.append(((t["commitUs"] - lo) / 1e6, published - consumed))
    return out, (hi - lo) / 1e6


def validity(report):
    lo, _ = live(report)
    lags = [(s["publishedUs"] - s["scheduledUs"]) / 1000.0
            for s in report["segments"] if s["phase"] == "live"]
    lag99 = percentile(lags, 0.99)
    series, live_s = backlog_series(report)
    second_half = [(x, y) for x, y in series if x >= live_s / 2]
    rate = report["live_rate_per_s"]
    slope_, se = slope(second_half), slope_se(second_half)
    problems = []
    if lag99 >= report["tick_ms"]:
        problems.append(f"generator lag p99 {lag99:.1f} ms >= one {report['tick_ms']} ms tick")
    if slope_ > MAX_BACKLOG_SLOPE_SHARE * rate and slope_ > SLOPE_NOISE_SE * se:
        problems.append(f"backlog grows {slope_:.1f} +- {se:.1f} records/s in the live phase")
    return {"gen_lag_p99_ms": lag99, "backlog_slope": slope_, "backlog_slope_se": se,
            "backlog_max": max((y for _, y in series), default=0),
            "problems": problems}


def pipeline_e2e(report):
    fresh = fresh_samples(report)
    bf = report["backfill"]
    lo, hi = live(report)
    reads = [r["ms"] for r in report["reads"]]
    n_trig = len(triggers(report, "partials", lo, hi))
    return {
        "p50_ms": percentile(fresh, 0.5),
        "p90_ms": percentile(fresh, 0.9),
        "per_s": bf["orders"] / ((bf["done_ms"] - bf["start_ms"]) / 1000.0),
        "read_ms": _median(reads),
    }, {"fresh_events": len(fresh), "fresh_triggers": n_trig,
        "p90_beyond_triggers": beyond(n_trig, 0.9), "p90_tail_ok": tail_ok(n_trig),
        "reads": len(reads)}


def e2e(report, spawn_ms):
    common = {"setup_s": (report["setup_done_ms"] - spawn_ms) / 1000.0,
              "peak_rss_mb": report["vm_hwm_kb"] / 1024.0,
              "live_heap_mb": report["jvm"]["live_heap_mb"]}
    if report["workload"] == "pipeline":
        vals, counts = pipeline_e2e(report)
    else:
        vals, counts = query_e2e(report)
    return {**common, **vals}, counts


def _spans_in_window(report):
    lo, hi = report["window_us"]
    return [s for s in report["spans"] if s["start"] >= lo and s["start"] <= hi]


def ops_layer(rows, wall_ms, cpus, build_ms=0.0, exec_ms=0.0, per=1):
    tot = {k: sum(r.get(k, 0) for r in rows) for k in
           ("jobs", "stages", "tasks", "empty_tasks", "run_time_ms", "task_wait_ms",
            "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "gc_ms")}
    n = max(per, 1)
    return {
        "ops.build_ms": build_ms, "ops.exec_ms": exec_ms,
        "ops.jobs": tot["jobs"] / n, "ops.stages": tot["stages"] / n,
        "ops.tasks": tot["tasks"] / n,
        "ops.empty_task_ratio": tot["empty_tasks"] / max(tot["tasks"], 1),
        "ops.slot_busy_ratio": tot["run_time_ms"] / max(wall_ms * cpus, 1e-9),
        "ops.task_wait_ms": tot["task_wait_ms"] / max(tot["tasks"], 1),
        "ops.shuffle_write_bytes": tot["shuffle_write_bytes"] / n,
        "ops.shuffle_read_bytes": tot["shuffle_read_bytes"] / n,
        "ops.spill_bytes": tot["spill_bytes"] / n,
        "ops.peak_exec_mem_bytes": max((r.get("peak_exec_mem_bytes", 0) for r in rows), default=0),
        "ops.gc_ms": tot["gc_ms"] / n,
    }


def streaming_layer(progress):
    def d(p, k):
        return p["durations"].get(k, 0)
    stateful = [p for p in progress if p["stateRows"] or p["stateCommitMs"]]
    return {
        "streaming.triggers": len(progress),
        "streaming.trigger_ms": _mean(d(p, "triggerExecution") for p in progress),
        "streaming.planning_ms": _mean(d(p, "queryPlanning") for p in progress),
        "streaming.add_batch_ms": _mean(d(p, "addBatch") for p in progress),
        "streaming.wal_ms": _mean(d(p, "walCommit") for p in progress),
        "streaming.commit_ms": _mean(d(p, "commitOffsets") for p in progress),
        "streaming.rows_per_trigger": _mean(p["inputRows"] for p in progress),
        "streaming.state_rows": max((p["stateRows"] for p in progress), default=0),
        "streaming.state_mem_bytes": max((p["stateMemBytes"] for p in progress), default=0),
        "streaming.state_commit_ms": _mean(p["stateCommitMs"] for p in stateful),
        "sources.latest_offset_ms": _mean(d(p, "latestOffset") for p in progress),
        "sources.get_batch_ms": _mean(d(p, "getBatch") for p in progress),
    }


def per_layer(report, overhead_pct):
    """Every per-layer metric; a layer a workload never reaches reads 0."""
    m = {k: 0.0 for k in PER_LAYER_UNITS}
    lo, hi = report["window_us"]
    wall_ms = (hi - lo) / 1000.0
    cpus = report["cpus"]
    breakdown = {}
    if report["workload"] == "dashboard":
        execs = timed_execs(report)
        m.update(ops_layer([e["ops"] for e in execs], wall_ms, cpus,
                           _mean(e["buildMs"] for e in execs),
                           _mean(e["execMs"] for e in execs), per=len(execs)))
        for e in execs:
            b = breakdown.setdefault(e["query"], {"ms": [], "ops": []})
            b["ms"].append(latency_ms(e))
            b["ops"].append(e["ops"])
        breakdown = {q: {"median_ms": statistics.median(b["ms"]), "runs": len(b["ms"]),
                         **{k: v for k, v in ops_layer(b["ops"], sum(b["ms"]), cpus,
                                                       per=len(b["ms"])).items()
                            if k not in ("ops.build_ms", "ops.exec_ms")}}
                     for q, b in sorted(breakdown.items())}
    else:
        prog = triggers(report, "raw", lo, hi) + triggers(report, "partials", lo, hi) + \
            triggers(report, "daily", lo, hi)
        ops = report.get("ops") or {}
        m.update(ops_layer(list(ops.values()), wall_ms, cpus, per=len(prog)))
        m.update(streaming_layer(prog))
        v = validity(report)
        checks = report["checks"]
        st = report.get("storage", {})
        good = checks["raw_rows"]["want"]
        reads = report["reads"]
        bi = report.get("batch_ingest", {})
        m.update({
            "sources.stage_orders_per_s": report["stage"]["orders"] / report["stage"]["seconds"],
            "sources.segments": report.get("topic_segments", 0),
            "sources.backlog_max": v["backlog_max"],
            "sources.backlog_slope": v["backlog_slope"],
            "ingest.rows": sum(p["observed"].get("rows", 0) for p in triggers(report, "partials", lo, hi)),
            "ingest.empty_ids": sum(p["observed"].get("empty_ids", 0) for p in triggers(report, "partials", lo, hi)),
            "ingest.dead_letter_rows": checks["dead_letter_rows"]["got"],
            "ingest.ns_per_order": bi.get("ns", 0) / max(bi.get("orders", 1), 1),
            "storage.files_written": st.get("files_written", 0),
            "storage.bytes_written": st.get("bytes_written", 0),
            "storage.bytes_per_order": st.get("raw_bytes", 0) / max(good, 1),
            "storage.files_read": _mean(r["files"] for r in reads),
            "storage.read_ms": _mean(r["ms"] for r in reads),
            "storage.read_retries": report["read_retries"],
            "gen.lag_p99_ms": v["gen_lag_p99_ms"],
        })
    m["jvm.gc_ms"] = report["jvm"]["gc_ms"]
    m["jvm.heap_peak_mb"] = report["jvm"]["heap_peak_mb"]
    spans = _spans_in_window(report)
    for layer, us in self_time_us(spans).items():
        if f"self.{layer}_ms" in m:
            m[f"self.{layer}_ms"] = us / 1000.0
    m["trace.spans"] = len(report["spans"])
    m["trace.overhead_pct"] = overhead_pct
    layers = sorted({s["layer"] for s in report["spans"]})
    return m, {"span_layers": layers, "per_query": breakdown}
