"""Workload definitions and the metrics computed from a run record."""
import math
import statistics

import stats

# The paper's window queries (CM, SG, LRB, YSB, ME, NBQ5) as repo fixtures.
PAPER11 = [
    "q_cm1_sliding_sum", "q_cm2_filter_sliding_sum", "q_sg1_sliding_global_avg",
    "q_sg2_sliding_avg_3keys", "q_sg3_filter_sliding_avg", "q_sg3_join_of_aggs",
    "q_lrb1_having", "q_lrb2_agg_to_count_window", "q_ysb_static_join_tumbling",
    "q_me1_multi_avg", "q_nbq5_hot_items",
]

CORES = 4
SAT_TRIGGERS = 4  # saturation triggers whose counts a traced stream run reports

WORKLOADS = {
    # The sf0.01 events table (10k rows): fixed per-query cost dominates.
    "paper_batch_small": dict(kind="batch", sf="sf0.01", replicas=1, heap="2g",
                              jvm_args={"warmup": 1}),
    # The sf0.1 events table (100k rows): per-tuple work dominates. Warm-up
    # runs on the small workload's input (scale factor, replicas).
    "paper_batch_large": dict(kind="batch", sf="sf0.1", replicas=1, heap="3g",
                              jvm_args={"warmup": 1}, warm=("sf0.01", 1)),
    # 8 replicas of sf0.1 (800k rows). Open loop at a fixed offered rate, then
    # closed-loop saturation. 10k rows/s is about a quarter of saturation, so
    # latency reflects per-trigger cost rather than queueing, which a briefly
    # slower host would amplify.
    "stream_sliding": dict(kind="stream", sf="sf0.1", replicas=8, heap="3g",
                           jvm_args={"rate": 10_000, "tick_ms": 50, "trigger_rows": 50_000,
                                     "warmup": 3, "open_share": 0.7,
                                     "min_triggers": SAT_TRIGGERS}),
}


def metric(value, unit):
    return {"value": value, "unit": unit}


def _latency(samples):
    return {name: metric(stats.percentile(samples, q), "ms")
            for name, q in (("latency_ms_p50", 0.5), ("latency_ms_p90", 0.9))}


def summarize(workload, rec):
    """End-to-end metrics, op counts and correctness of one untraced run."""
    w = WORKLOADS[workload]
    notes = []
    setup_s = (rec["first_op_ms"] - rec["setup_start_ms"]) / 1000
    notes.append("setup ms: inputs and references " +
                 f"{rec['jvm_start_ms'] - rec['setup_start_ms']:.0f}, " +
                 ", ".join(f"{k} {v:.0f}" for k, v in rec.get("setup_ms", {}).items()))
    if w["kind"] == "batch":
        ops = rec["ops"]
        attempted = len(ops)
        failed = sum(not o["ok"] for o in ops)
        correct = rec["warmup_ok"] and not any("mismatch" in o.get("error", "") for o in ops)
        walls = [o["wall_ms"] for o in ops if "wall_ms" in o]
        missing = [q for q in PAPER11 if not any(o["name"] == q and "wall_ms" in o for o in ops)]
        if missing:
            raise ValueError(f"no completed sample of {', '.join(missing)}")
        per_query = {q: statistics.median(o["wall_ms"] for o in ops if o["name"] == q and "wall_ms" in o)
                     for q in PAPER11}
        tps = len(PAPER11) * rec["input_rows"] / (sum(per_query.values()) / 1000)
        pass_ms = [sum(o["wall_ms"] for o in ops if o["pass"] == p and "wall_ms" in o)
                   for p in range(math.ceil(rec["passes"]))]
        notes.append(f"measured {(rec['measure_end_ms'] - rec['first_op_ms']) / 1000:.1f} s; "
                     "query ms per pass " + ", ".join(f"{x:.0f}" for x in pass_ms))
        notes.append(f"{rec['passes']:.2f} passes, {len(walls)} query samples, {failed} failed; "
                     "median ms " + ", ".join(f"{q}={v:.0f}" for q, v in per_query.items()))
        # A run holds a few samples per query, so the percentiles are taken
        # over the per-query medians: p50 is the typical query, p90 the
        # second slowest of the eleven.
        latency = _latency(list(per_query.values()))
    else:
        chunks, batches = rec["chunks"], rec["batches"]
        lat, uncommitted = stats.event_latencies(chunks, batches)
        tick = rec["tick_ms"]
        late = sum(c["add_start_ms"] - c["due_ms"] > tick for c in chunks)
        chk = rec["check"]
        bad = chk["missing"] + chk["extra"] + chk["wrong"] + chk["duplicates"]
        attempted = len(chunks) + len(rec["saturation"])
        failed = uncommitted + late + (1 if bad else 0)
        correct = bad == 0 and chk["emitted_windows"] > 0
        sat = rec["saturation"]
        sat_rows = sum(s["rows"] for s in sat)
        tps = sat_rows / ((sat[-1]["end_ms"] - sat[0]["start_ms"]) / 1000)
        notes.append(f"{len(chunks)} chunks, {uncommitted} uncommitted, {late} late; "
                     f"{len(sat)} saturation triggers; windows {chk}")
        if not stats.supported(len(lat), 0.9):
            notes.append(f"latency_ms_p90: only {stats.beyond(len(lat), 0.9)} chunks beyond it")
        latency = _latency(lat)
    metrics = {
        "setup_s": metric(setup_s, "s"),
        "throughput_tps": metric(tps, "rows/s"),
        **latency,
        "peak_rss_mb": metric(rec["peak_rss_mb"], "MB"),
    }
    notes.append(f"failed_ops_ratio {failed / max(1, attempted):.4f} ({failed}/{attempted})")
    info = {"per_query_ms": per_query, "input_rows": rec["input_rows"]} \
        if w["kind"] == "batch" else {}
    return {"correct": bool(correct), "attempted": attempted, "failed": failed,
            "metrics": metrics, "notes": notes, "info": info}


# ---------------------------------------------------------------- per layer

# Per-layer metrics of a traced run: name -> (unit, which direction is better).
LAYERS = {
    "queries.build_ms": ("ms", "lower"),
    "catalyst.analysis_ms": ("ms", "lower"),
    "catalyst.optimization_ms": ("ms", "lower"),
    "catalyst.planning_ms": ("ms", "lower"),
    "catalyst.exchanges": ("count", "lower"),
    "scheduler.jobs": ("count", "lower"),
    "scheduler.stages": ("count", "lower"),
    "scheduler.tasks": ("count", "lower"),
    "scheduler.task_run_ms": ("ms", "lower"),
    "scheduler.task_cpu_ms": ("ms", "lower"),
    "scheduler.gc_ms": ("ms", "lower"),
    "scheduler.task_overhead_ms": ("ms", "lower"),
    "scheduler.core_util": ("ratio", "higher"),
    "tables.scan_rows": ("count", "lower"),
    "tables.scan_bytes": ("bytes", "lower"),
    "operators.window_expand_ratio": ("ratio", "lower"),
    "operators.partial_rows": ("count", "lower"),
    "operators.agg_build_ms": ("ms", "lower"),
    "operators.agg_peak_mem_bytes": ("bytes", "lower"),
    "shuffle.write_bytes": ("bytes", "lower"),
    "shuffle.write_records": ("count", "lower"),
    "shuffle.read_bytes": ("bytes", "lower"),
    "shuffle.fetch_wait_ms": ("ms", "lower"),
    "shuffle.skew": ("ratio", "lower"),
    "shuffle.spill_disk_bytes": ("bytes", "lower"),
    "shuffle.spill_mem_bytes": ("bytes", "lower"),
    "streaming.triggers": ("count", "higher"),
    "streaming.rows_per_trigger": ("count", "lower"),
    "streaming.trigger_ms_p50": ("ms", "lower"),
    "streaming.add_batch_ms": ("ms", "lower"),
    "streaming.query_planning_ms": ("ms", "lower"),
    "streaming.wal_commit_ms": ("ms", "lower"),
    "streaming.commit_offsets_ms": ("ms", "lower"),
    "streaming.latest_offset_ms": ("ms", "lower"),
    "streaming.jobs_per_trigger": ("count", "lower"),
    "state.rows_total": ("count", "lower"),
    "state.rows_updated": ("count", "lower"),
    "state.rows_removed": ("count", "lower"),
    "state.update_ms": ("ms", "lower"),
    "state.removal_ms": ("ms", "lower"),
    "state.commit_ms": ("ms", "lower"),
    "state.memory_bytes": ("bytes", "lower"),
    "state.partitions": ("count", "lower"),
    "state.late_rows_dropped": ("count", "lower"),
    "sources.add_ms": ("ms", "lower"),
    "sources.backlog_chunks_max": ("count", "lower"),
    "sources.backlog_chunks_end": ("count", "lower"),
    "sources.generator_late_ms": ("ms", "lower"),
    "sink.rows": ("count", "higher"),
    "sink.ms": ("ms", "lower"),
    "jvm.gc_ms": ("ms", "lower"),
    "jvm.heap_peak_mb": ("MB", "lower"),
}

_SHUFFLE_COUNTERS = {
    "shuffle.write_bytes": "shuffle_write_bytes", "shuffle.write_records": "shuffle_write_records",
    "shuffle.read_bytes": "shuffle_read_bytes", "shuffle.spill_disk_bytes": "spill_disk_bytes",
    "shuffle.spill_mem_bytes": "spill_mem_bytes",
}


def _batch_layers(rec):
    """Per Paper11 pass: counts from each query's first measured op (they
    repeat exactly), times as each query's median, both summed over queries."""
    ops = [o for o in rec["ops"] if o["ok"]]
    by_q = {q: [o for o in ops if o["name"] == q] for q in PAPER11}
    self_ms = stats.self_times(rec["spans"])
    collect_self = {s["trace"]: self_ms[s["id"]] for s in rec["spans"] if s["name"] == "sink.collect"}

    def count(f):
        return sum(f(os_[0]) for os_ in by_q.values())

    def timed(f):
        return sum(statistics.median(f(o) for o in os_) for os_ in by_q.values())

    def ctr(k):
        return lambda o: o["counters"][k]

    scan_rows = count(ctr("input_records"))
    partial = count(lambda o: o["partial_rows"])
    run_ms = timed(ctr("task_run_ms"))
    wall_ms = timed(lambda o: o["wall_ms"])
    out = {
        "queries.build_ms": timed(lambda o: o["build_ms"]),
        "catalyst.analysis_ms": timed(lambda o: o["catalyst_ms"]["analysis"]),
        "catalyst.optimization_ms": timed(lambda o: o["catalyst_ms"]["optimization"]),
        "catalyst.planning_ms": timed(lambda o: o["catalyst_ms"]["planning"]),
        "catalyst.exchanges": count(lambda o: o["exchanges"]),
        "scheduler.jobs": count(ctr("jobs")),
        "scheduler.stages": count(ctr("stages")),
        "scheduler.tasks": count(ctr("tasks")),
        "scheduler.task_run_ms": run_ms,
        "scheduler.task_cpu_ms": timed(ctr("task_cpu_ms")),
        "scheduler.gc_ms": timed(ctr("task_gc_ms")),
        "scheduler.task_overhead_ms": timed(
            lambda o: o["counters"]["task_duration_ms"] - o["counters"]["task_run_ms"]),
        "scheduler.core_util": run_ms / (wall_ms * CORES),
        "tables.scan_rows": scan_rows,
        "tables.scan_bytes": count(ctr("input_bytes")),
        "operators.window_expand_ratio": partial / scan_rows if scan_rows else 0.0,
        "operators.partial_rows": partial,
        "operators.agg_build_ms": timed(lambda o: o["agg_build_ms"]),
        "operators.agg_peak_mem_bytes": max(os_[0]["agg_peak_mem_bytes"] for os_ in by_q.values()),
        "shuffle.fetch_wait_ms": timed(ctr("fetch_wait_ms")),
        "shuffle.skew": max([x for os_ in by_q.values() for x in os_[0]["counters"]["stage_skew"]],
                            default=0.0),
        "sink.rows": count(lambda o: o["result_rows"]),
        "sink.ms": timed(lambda o: collect_self[f"op-{o['op']}"]),
        "jvm.gc_ms": rec["jvm_gc_ms"] / rec["passes"],
    }
    out.update({k: count(ctr(c)) for k, c in _SHUFFLE_COUNTERS.items()})
    return out


def _stream_layers(rec):
    """Counts over the first SAT_TRIGGERS saturation triggers (fixed rows, so
    they repeat exactly for a seed); times as medians over all saturation
    triggers; source and sink figures from the open-loop phase."""
    batches = sorted(rec["batches"], key=lambda b: b["batch_id"])
    sat_offsets = {s["offset"] for s in rec["saturation"]}
    sat = [b for b in batches if b["end_offset"] in sat_offsets and b["input_rows"] > 0]
    first = sat[:SAT_TRIGGERS]
    open_end = rec["open_end_ms"]
    measured = [b for b in batches if rec["first_op_ms"] <= b["start_ms"] <= rec["measure_end_ms"]]
    open_data = [b for b in measured if b["start_ms"] < open_end and b["input_rows"] > 0]

    def med(f, bs=sat):
        return statistics.median(f(b) for b in bs) if bs else 0.0

    def dur(k):
        return lambda b: b["duration_ms"].get(k, 0)

    def ctr(k):
        return sum(b["counters"][k] for b in first)

    def st(k):
        return [b["state"][k] for b in first if b.get("state")]

    chunks = rec["chunks"]
    bmax, bend = stats.backlog(chunks, batches)
    sink_calls = [s for s in rec["sink"] if s["batch_id"] in {b["batch_id"] for b in sat}]
    run_ms = ctr("task_run_ms")
    trig_ms = sum(b["duration_ms"].get("triggerExecution", 0) for b in first)
    out = {
        "scheduler.jobs": ctr("jobs"), "scheduler.stages": ctr("stages"),
        "scheduler.tasks": ctr("tasks"), "scheduler.task_run_ms": run_ms,
        "scheduler.task_cpu_ms": ctr("task_cpu_ms"), "scheduler.gc_ms": ctr("task_gc_ms"),
        "scheduler.task_overhead_ms": ctr("task_duration_ms") - run_ms,
        "scheduler.core_util": run_ms / (trig_ms * CORES) if trig_ms else 0.0,
        "shuffle.fetch_wait_ms": ctr("fetch_wait_ms"),
        "shuffle.skew": max([x for b in first for x in b["counters"]["stage_skew"]], default=0.0),
        "streaming.triggers": len(open_data),
        "streaming.rows_per_trigger": med(lambda b: b["input_rows"], open_data),
        "streaming.trigger_ms_p50": med(dur("triggerExecution")),
        "streaming.add_batch_ms": med(dur("addBatch")),
        "streaming.query_planning_ms": med(dur("queryPlanning")),
        "streaming.wal_commit_ms": med(dur("walCommit")),
        "streaming.commit_offsets_ms": med(dur("commitOffsets")),
        "streaming.latest_offset_ms": med(dur("latestOffset")),
        "streaming.jobs_per_trigger": ctr("jobs") / len(first) if first else 0.0,
        "state.rows_total": st("rows_total")[-1] if st("rows_total") else 0,
        "state.rows_updated": sum(st("rows_updated")),
        "state.rows_removed": sum(st("rows_removed")),
        "state.update_ms": med(lambda b: b["state"]["update_ms"]),
        "state.removal_ms": med(lambda b: b["state"]["removal_ms"]),
        "state.commit_ms": med(lambda b: b["state"]["commit_ms"]),
        "state.memory_bytes": max(st("memory_bytes"), default=0),
        "state.partitions": max(st("partitions"), default=0),
        "state.late_rows_dropped": sum((b.get("state") or {}).get("late_rows_dropped", 0)
                                       for b in batches),
        "sources.add_ms": statistics.median(c["add_end_ms"] - c["add_start_ms"] for c in chunks),
        "sources.backlog_chunks_max": bmax,
        "sources.backlog_chunks_end": bend,
        "sources.generator_late_ms": max(c["add_start_ms"] - c["due_ms"] for c in chunks),
        "sink.rows": sum(s["rows"] for s in rec["sink"]),
        "sink.ms": statistics.median(s["end_ms"] - s["start_ms"] for s in sink_calls)
        if sink_calls else 0.0,
        "jvm.gc_ms": rec["jvm_gc_ms"],
    }
    out.update({k: ctr(c) for k, c in _SHUFFLE_COUNTERS.items()})
    return out


def layer_metrics(workload, rec):
    """Per-layer metrics of a traced run; layers a workload does not load
    report 0."""
    kind = WORKLOADS[workload]["kind"]
    values = _batch_layers(rec) if kind == "batch" else _stream_layers(rec)
    values["jvm.heap_peak_mb"] = rec["heap_peak_mb"]
    return {k: metric(values.get(k, 0), unit) for k, (unit, _) in LAYERS.items()}
