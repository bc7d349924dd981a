"""End-to-end and per-layer metrics from a run's raw measurements.

`raw.json` is what the harness measured; `spans.jsonl` holds the traced
run's spans (harness spans around each layer call, plus Spark listener
jobs, stages and Catalyst phases, parented by time). Batch per-layer sums
are per timed pass, so runs with different pass counts compare.
"""
import json
import math
import statistics

import numpy as np


TAIL_PCT = 90  # stream latency_tail_ms


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------------ batch

def batch_end_to_end(raw, verdict):
    """A query fails on a wrong warm-pass result or any engine error; a
    failed query gets no time.
    """
    failed = {q: v for q, v in verdict.items() if v}
    for s in raw["timed"]:
        if s.get("error"):
            failed.setdefault(s["q"], s["error"])
    per_q = {}
    for s in raw["timed"]:
        if s["q"] not in failed:
            per_q.setdefault(s["q"], []).append(s["s"])
    medians = {q: median(v) for q, v in per_q.items()}
    samples = [x for v in per_q.values() for x in v]
    # a dozen queries support no high percentile: the tail is the mean of
    # the slowest quarter of them (3 of 12), steadier than the maximum
    ranked = sorted(medians.items(), key=lambda kv: -kv[1])
    slowest = ranked[:max(1, len(ranked) // 4)]
    return {
        "wall_s": sum(medians.values()),
        "latency_p50_ms": median(samples) * 1e3,
        "latency_tail_ms": sum(t for _, t in slowest) / len(slowest) * 1e3 if slowest else 0.0,
        "setup_s": median([s["setup_s"] for s in raw["setups"]]),
        "retained_heap_mb": raw["retained_heap_mb"],
    }, {"attempted": len(raw["queries"]), "failed": len(failed),
        "failed_queries": failed, "slowest_quarter": [q for q, _ in slowest],
        "samples": len(samples), "passes": raw["passes"], "per_query_s": medians,
        # persistent RDDs and extra non-daemon threads after each query
        "left_behind": {s["q"]: [s["leaked_rdds"], s["leaked_threads"]]
                        for s in raw["timed"] if not s.get("error")}}


def _load_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _union(intervals):
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Per span name: total duration minus the time its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        covered = _union([(max(a, s["start_ms"]), min(b, s["end_ms"]))
                          for a, b in kids.get(s["id"], []) if b > a])
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end_ms"] - s["start_ms"] - covered)
    return {k: v / 1e3 for k, v in out.items()}


def _stage_sums(stages):
    a = lambda k: sum(s["attrs"].get(k, 0) for s in stages)  # noqa: E731
    mb = 1024.0 * 1024.0
    return {"tasks": a("tasks"), "task_s": a("task_ms") / 1e3, "cpu_s": a("cpu_ns") / 1e9,
            "gc_s": a("gc_ms") / 1e3, "shuffle_read_mb": a("shuffle_read_b") / mb,
            "shuffle_write_mb": a("shuffle_write_b") / mb, "spill_mb": a("spill_b") / mb,
            "read_mb": a("input_b") / mb, "records_read": a("input_rec")}


def _zero_layers():
    keys = ["peak_rss_mb", "session.build_s", "setup.cold_s", "operators.build_s", "operators.build_jobs",
            "operators.build_share", "operators.leaked_rdds", "operators.leaked_threads",
            "plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms",
            "plans.codegen_compile_ms", "plans.codegen_classes",
            "exec.jobs", "exec.stages", "exec.tasks", "exec.job_span_s", "exec.driver_gap_s",
            "exec.ms_per_stage", "exec.task_s", "exec.task_cpu_s", "exec.gc_s",
            "exec.core_util", "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb",
            "exec.serial_ratio", "sources.read_mb", "sources.records_read",
            "connector.ingest_wait_ms.p50", "connector.ingest_wait_ms.p99",
            "connector.backlog_max", "connector.credit_stall_ms", "generator.late_ms.p99",
            "stream.batches", "stream.rows_per_batch", "stream.trigger_ms",
            "state.rows_total", "state.memory_mb", "state.commit_ms",
            "state.rows_dropped_by_watermark", "sink.write_ms", "sink.rows",
            "stream.sustainable_eps", "self_s.query", "self_s.operators_build",
            "self_s.exec_action", "self_s.exec_job", "self_s.stream_sink", "trace.wall_s"]
    for phase in PHASES:
        keys += [f"stream.{phase}_ms.p50", f"stream.{phase}_ms.total"]
    for rate in ("low", "mid", "high"):
        keys += [f"stream.latency_p50_ms.{rate}", f"stream.latency_p99_ms.{rate}"]
    return {k: 0.0 for k in keys}


PHASES = ["latest_offset", "get_batch", "query_planning", "add_batch", "wal_commit",
          "commit_offsets"]
SPARK_PHASES = {"latest_offset": "latestOffset", "get_batch": "getBatch",
                "query_planning": "queryPlanning", "add_batch": "addBatch",
                "wal_commit": "walCommit", "commit_offsets": "commitOffsets"}
def layer_unit(name):
    base = name.removesuffix(".p50").removesuffix(".p99").removesuffix(".total")
    for rate in (".low", ".mid", ".high"):
        base = base.removesuffix(rate)
    if base.endswith("_ms") or ".ms_per_" in base:
        return "ms"
    if base.startswith("self_s."):
        return "s"
    if base.endswith("_s"):
        return "s"
    if base.endswith("_mb"):
        return "MB"
    if base.endswith("_eps"):
        return "1/s"
    if base.endswith(("share", "util", "ratio")):
        return "ratio"
    return "count"


def _ancestor(spans_by_id, s, names):
    p = spans_by_id.get(s["parent"])
    while p is not None:
        if p["name"] in names:
            return p
        p = spans_by_id.get(p["parent"])
    return None


def batch_layers(raw, spans_path, e2e):
    m = _zero_layers()
    m["peak_rss_mb"] = raw["peak_rss_mb"]
    spans = _load_spans(spans_path)
    by_id = {s["id"]: s for s in spans}
    passes = max(raw["passes"], 1)
    timed = [s for s in raw["timed"] if not s.get("error")]
    queries = [s for s in spans if s["name"] == "query"]
    wall = sum(s["end_ms"] - s["start_ms"] for s in queries) / 1e3
    under_query = lambda s: _ancestor(by_id, s, {"query"}) is not None  # noqa: E731
    jobs = [s for s in spans if s["name"] == "exec.job" and under_query(s)]
    stages = [s for s in spans if s["name"] == "exec.stage" and under_query(s)]
    build_jobs = [s for s in jobs if _ancestor(by_id, s, {"operators.build"})]
    job_span = 0.0
    for q in queries:
        job_span += _union([(j["start_ms"], j["end_ms"]) for j in jobs
                            if _ancestor(by_id, j, {"query"}) is q]) / 1e3
    st = _stage_sums(stages)
    build_s = sum(s["build_s"] for s in timed)
    m.update({
        "session.build_s": median([s["session_build_s"] for s in raw["setups"]]),
        "setup.cold_s": raw["setups"][0]["setup_s"],
        "operators.build_s": build_s / passes,
        "operators.build_jobs": len(build_jobs) / passes,
        "operators.build_share": build_s / wall if wall else 0.0,
        "operators.leaked_rdds": max([s["leaked_rdds"] for s in timed], default=0),
        "operators.leaked_threads": max([s["leaked_threads"] for s in timed], default=0),
        "plans.codegen_compile_ms": sum(s["codegen_ms"] for s in timed) / passes,
        "plans.codegen_classes": sum(s["codegen_classes"] for s in timed) / passes,
        "exec.jobs": len(jobs) / passes, "exec.stages": len(stages) / passes,
        "exec.tasks": st["tasks"] / passes, "exec.job_span_s": job_span / passes,
        "exec.driver_gap_s": (wall - job_span) / passes,
        "exec.ms_per_stage": wall * 1e3 / len(stages) if stages else 0.0,
        "exec.task_s": st["task_s"] / passes, "exec.task_cpu_s": st["cpu_s"] / passes,
        "exec.gc_s": st["gc_s"] / passes,
        "exec.core_util": st["task_s"] / (wall * raw["cpus"]) if wall else 0.0,
        "exec.shuffle_read_mb": st["shuffle_read_mb"] / passes,
        "exec.shuffle_write_mb": st["shuffle_write_mb"] / passes,
        "exec.spill_mb": st["spill_mb"] / passes,
        "sources.read_mb": st["read_mb"] / passes,
        "sources.records_read": st["records_read"] / passes,
        "trace.wall_s": e2e["wall_s"],
    })
    for phase in ("analysis", "optimization", "planning"):
        ph = [s for s in spans if s["name"] == f"plans.{phase}" and under_query(s)]
        m[f"plans.{phase}_ms"] = sum(s["end_ms"] - s["start_ms"] for s in ph) / passes
    selfs = self_times([s for s in spans if under_query(s) or s["name"] == "query"])
    for name in ("query", "operators.build", "exec.action", "exec.job"):
        m["self_s." + name.replace(".", "_")] = selfs.get(name, 0.0) / passes
    serial = {s["q"]: s["s"] for s in raw["serial"] if not s.get("error")}
    if serial:
        par = {}
        for s in timed:
            par.setdefault(s["q"], []).append(s["s"])
        base = sum(median(par[q]) for q in serial if q in par)
        m["exec.serial_ratio"] = sum(serial.values()) / base if base else 0.0
    return m


# ----------------------------------------------------------------- stream

def load_progress(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _epoch_ms(ts):
    return np.datetime64(ts.rstrip("Z"), "ms").astype(np.int64).astype(float)


def _stream_por(offset):
    """The generator stream's position in a progress event's offset."""
    return int((offset or {}).get("7", 0))


def stream_frames(raw, gen, sink):
    """Window results with their commit time, latency and rate step (-1:
    the burst).
    """
    commit = {c["batch"]: c["commit_ms"] for c in raw["commits"]}
    sink = sink[sink["user"] >= 0].copy()
    sink["commit_ms"] = sink["batch"].map(commit)
    sink["latency_ms"] = sink["commit_ms"] - sink["max_created"]
    segs = gen["segments"]
    sink["segment"] = -1
    for i, s in enumerate(segs):
        inside = (sink["max_created"] >= s["start_ms"]) & (sink["max_created"] < s["end_ms"])
        sink.loc[inside, "segment"] = i
    return sink


def stream_end_to_end(raw, gen, sink, check):
    # latency end to end is read below the ceiling: the highest rate step
    # sits near it on purpose, where latency grows as 1 / (1 - load) and
    # swings with any contention; it is reported per layer instead
    rated = sink[(sink["segment"] >= 0) & (sink["segment"] < len(gen["segments"]) - 1)]
    lat = rated["latency_ms"].to_numpy()
    burst_w = int(gen["burst_ms"] // 1000)
    burst = sink[(sink["w"] == burst_w)]
    wall = (burst["commit_ms"].max() - gen["burst_ms"]) / 1e3 if len(burst) else 0.0
    # windows commit together, one micro-batch at a time, so the ~8k
    # windows are ~20 correlated groups: p90 rests on the slowest few
    # batches, p99 on the slowest one alone
    tail_v = float(np.percentile(lat, TAIL_PCT)) if len(lat) else 0.0
    failed = check["events_wrong"] + check["windows_wrong"]
    if not gen.get("all_acked"):
        failed += max(1, gen["events"] + 1 - gen.get("acked", 0))
    return {
        "wall_s": float(wall),
        "latency_p50_ms": float(np.median(lat)) if len(lat) else 0.0,
        "latency_tail_ms": tail_v,
        "setup_s": median([s["setup_s"] for s in raw["setups"]]),
        "retained_heap_mb": raw["retained_heap_mb"],
    }, {"attempted": check["events"] + check["windows"], "failed": int(failed),
        "tail_percentile": TAIL_PCT, "tail_windows": int(len(lat)),
        "tail_batches": int(rated["batch"].nunique()),
        "windows": int(len(sink)),
        "burst_windows": int(len(burst))}


def stream_layers(raw, gen, events, sink, progress, spans_path, cfg):
    m = _zero_layers()
    m["peak_rss_mb"] = raw["peak_rss_mb"]
    m["session.build_s"] = median([s["session_build_s"] for s in raw["setups"]])
    m["setup.cold_s"] = raw["setups"][0]["setup_s"]
    t0 = raw["generator_start_ms"]
    prog = [p for p in progress if _epoch_ms(p["timestamp"]) >= t0]
    rows = [p["numInputRows"] for p in prog]
    m["stream.batches"] = len(prog)
    m["stream.rows_per_batch"] = float(np.mean(rows)) if rows else 0.0
    m["stream.trigger_ms"] = median([p["durationMs"].get("triggerExecution", 0) for p in prog])
    for phase, key in SPARK_PHASES.items():
        v = [p["durationMs"].get(key, 0) for p in prog]
        m[f"stream.{phase}_ms.p50"] = median(v)
        m[f"stream.{phase}_ms.total"] = float(sum(v))
    ops = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    m["state.rows_total"] = max([o["numRowsTotal"] for o in ops], default=0)
    m["state.memory_mb"] = max([o["memoryUsedBytes"] for o in ops], default=0) / 2 ** 20
    m["state.commit_ms"] = float(sum(o.get("commitTimeMs", 0) for o in ops))
    m["state.rows_dropped_by_watermark"] = sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
    m["sink.write_ms"] = float(sum(c["write_ms"] for c in raw["commits"]))
    m["sink.rows"] = int(len(sink))
    m["connector.credit_stall_ms"] = gen["credit_stall_ms"]
    m["generator.late_ms.p99"] = gen["late_ms_p99"]

    # batch b holds pors (start, end]; an event waits from its creation
    # to the start of the batch that reads it
    starts = np.array([_epoch_ms(p["timestamp"]) for p in prog])
    ends = np.array([_stream_por(p["sources"][0].get("endOffset")) for p in prog])
    order = np.argsort(ends, kind="stable")
    starts, ends = starts[order], ends[order]
    rated = events[events["segment"] < len(gen["segments"])]
    if len(ends):
        k = np.searchsorted(ends, rated["por"].to_numpy(), side="left")
        found = k < len(ends)
        wait = starts[k[found]] - rated["created"].to_numpy()[found]
        if len(wait):
            m["connector.ingest_wait_ms.p50"] = float(np.percentile(wait, 50))
            m["connector.ingest_wait_ms.p99"] = float(np.percentile(wait, 99))
        batch_end = starts + np.array([p["durationMs"].get("triggerExecution", 0)
                                       for p in prog])[order]
        created = np.sort(events["created"].to_numpy())
        sent = np.searchsorted(created, batch_end, side="right")
        backlog = sent - ends
        rate_steps = batch_end < gen["segments"][-1]["end_ms"]
        m["connector.backlog_max"] = float(backlog[rate_steps].max()) if rate_steps.any() else 0.0
    best = 0
    for i, seg in enumerate(gen["segments"]):
        lat = sink[sink["segment"] == i]["latency_ms"].to_numpy()
        name = seg["name"]
        p99 = float(np.percentile(lat, 99)) if len(lat) else math.inf
        m[f"stream.latency_p50_ms.{name}"] = float(np.median(lat)) if len(lat) else 0.0
        m[f"stream.latency_p99_ms.{name}"] = p99 if len(lat) else 0.0
        grows = True
        if len(ends):
            inside = (batch_end >= seg["start_ms"]) & (batch_end < seg["end_ms"])
            if inside.sum() >= 3:
                slope = np.polyfit(batch_end[inside] / 1e3, backlog[inside], 1)[0]
                grows = slope > cfg["backlog_growth_limit"] * seg["rate"]
        if not grows and p99 <= cfg["latency_limit_ms"]:
            best = max(best, seg["rate"])
    m["stream.sustainable_eps"] = best
    if spans_path:
        spans = _load_spans(spans_path)
        selfs = self_times(spans)
        jobs = [s for s in spans if s["name"] == "exec.job" and s["start_ms"] >= t0]
        stages = [s for s in spans if s["name"] == "exec.stage" and s["start_ms"] >= t0]
        st = _stage_sums(stages)
        span_s = (raw["generator_end_ms"] - t0) / 1e3
        m.update({
            "exec.jobs": len(jobs), "exec.stages": len(stages), "exec.tasks": st["tasks"],
            "exec.job_span_s": _union([(j["start_ms"], j["end_ms"]) for j in jobs]) / 1e3,
            "exec.task_s": st["task_s"], "exec.task_cpu_s": st["cpu_s"], "exec.gc_s": st["gc_s"],
            "exec.core_util": st["task_s"] / (span_s * raw["cpus"]) if span_s else 0.0,
            "exec.shuffle_read_mb": st["shuffle_read_mb"],
            "exec.shuffle_write_mb": st["shuffle_write_mb"], "exec.spill_mb": st["spill_mb"],
            "sources.read_mb": st["read_mb"], "sources.records_read": st["records_read"],
            "self_s.stream_sink": selfs.get("stream.sink", 0.0),
            "self_s.exec_job": selfs.get("exec.job", 0.0),
        })
        m["exec.driver_gap_s"] = span_s - m["exec.job_span_s"]
        m["exec.ms_per_stage"] = span_s * 1e3 / len(stages) if stages else 0.0
        for phase in ("analysis", "optimization", "planning"):
            ph = [s for s in spans if s["name"] == f"plans.{phase}" and s["start_ms"] >= t0]
            m[f"plans.{phase}_ms"] = sum(s["end_ms"] - s["start_ms"] for s in ph)
    return m
