"""Arithmetic of the benchmark: percentiles, span self time, scheduler
ratios, and the derivation of end-to-end and per-layer metrics from the
raw record the JVM harness writes.

Per-layer metrics are normalised to one unit of work: one pass over the
query list on batch workloads, one micro-batch on stream workloads.
Ratios (`*_frac`, `shuffle.skew_max`) are taken over the whole timed
region; `state.rows` and `state.mem_bytes` are the last micro-batch's.
"""
import math
import statistics

# Task record columns, as the harness's SchedRecorder writes them.
T_JOB, T_STAGE, T_LAUNCH, T_FINISH, T_RUN, T_CPU_NS, T_GC, T_IN_REC, T_IN_BYTES, \
    T_SR_REC, T_SR_BYTES, T_FETCH_WAIT, T_SW_BYTES, T_SPILL = range(14)

PROGRESS_PHASES = {
    "streaming.latest_offset_ms": "latestOffset",
    "streaming.get_batch_ms": "getBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.add_batch_ms": "addBatch",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
}


def percentile(values, q, min_beyond=10):
    """Nearest-rank percentile `q` (0 < q < 100) of `values`.

    Returns (value, n, beyond, ok): `beyond` is the number of samples
    ranked above the percentile's rank, and `ok` says whether at least
    `min_beyond` of them exist (100 samples leave 10 beyond p90)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(q / 100.0 * n))
    beyond = n - rank
    return xs[rank - 1], n, beyond, beyond >= min_beyond


def self_times(spans):
    """Self time (ns) per span id: its duration minus the durations of
    its direct children."""
    total = {s["id"]: s["end_ns"] - s["start_ns"] for s in spans}
    own = dict(total)
    for s in spans:
        if s["parent"] in own:
            own[s["parent"]] -= total[s["id"]]
    return own


def busy_frac(run_ms, wall_ms, cores):
    """Share of the region's core-time that executors spent running tasks."""
    return sum(run_ms) / (wall_ms * cores) if wall_ms > 0 and cores > 0 else 0.0


def empty_task_frac(tasks):
    """Share of tasks that read no record, from input or from a shuffle."""
    if not tasks:
        return 0.0
    return sum(1 for t in tasks if t[T_IN_REC] + t[T_SR_REC] == 0) / len(tasks)


def gap_ms(intervals, start, end):
    """Time in [start, end] covered by no interval: the driver-side gaps
    between (possibly overlapping) job intervals."""
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted((max(lo, start), min(hi, end)) for lo, hi in intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (end - start) - covered


def skew_max(tasks):
    """Largest ratio, over stages that read a shuffle with two or more
    tasks, of the biggest task's shuffle-read bytes to the stage mean."""
    by_stage = {}
    for t in tasks:
        by_stage.setdefault(t[T_STAGE], []).append(t[T_SR_BYTES])
    worst = 0.0
    for xs in by_stage.values():
        mean = sum(xs) / len(xs)
        if len(xs) >= 2 and mean > 0:
            worst = max(worst, max(xs) / mean)
    return worst


# ---- end-to-end -----------------------------------------------------------

def _ns_s(u):
    return (u["end_ns"] - u["start_ns"]) / 1e9


def drain_batches(raw):
    """Non-empty progress events of the timed drains."""
    ids = {u["id"] for u in raw["units"]}
    return [p for p in raw["progress"] if p["id"] in ids and p["numInputRows"] > 0]


def timed_batches(raw):
    """The timed drains' non-empty micro-batches after each drain's first.

    Every drain is a fresh query, and a query's first batch also pays its
    start (source listing, state store and broadcast set-up, first plan):
    a cost a long-running stream pays once, which the benchmark's repeated
    drains would otherwise count once per drain."""
    return [p for p in drain_batches(raw) if p["batchId"] > 0]


def end_to_end(raw, setup_start_ms):
    """The end-to-end metrics of the run's workload kind, as
    {name: (value, unit)}, plus notes (sample counts, raw latencies).

    All workloads: setup_s, peak_rss_mb. Streams: rows_per_s,
    batch_ms_p50, batch_ms_p90. Batch query families: wall_s, query_s_p50.
    """
    m, notes = {}, {"units": len(raw["units"])}
    m["setup_s"] = ((raw["t_first_timed_ms"] - setup_start_ms) / 1000.0, "s")
    m["peak_rss_mb"] = (raw["vm_hwm_kb"] / 1024.0, "MB")
    if "progress" in raw:
        lat = [p["durationMs"]["triggerExecution"] for p in timed_batches(raw)]
        rows = sum(p["numInputRows"] for p in drain_batches(raw))
        m["rows_per_s"] = (rows / sum(_ns_s(u) for u in raw["units"]), "rows/s")
        m["batch_ms_p50"] = (float(statistics.median(lat)), "ms")
        value, n, beyond, ok = percentile(lat, 90)
        m["batch_ms_p90"] = (float(value), "ms")
        notes["batch_ms_p90"] = {"samples": n, "beyond": beyond, "enough_beyond": ok}
        notes["batch_ms"] = lat
        notes["first_batch_ms"] = [p["durationMs"]["triggerExecution"]
                                   for p in drain_batches(raw) if p["batchId"] == 0]
    else:
        lat = [(e["end_ns"] - e["start_ns"]) / 1e9 for u in raw["units"] for e in u["execs"]]
        m["wall_s"] = (statistics.median(_ns_s(u) for u in raw["units"]), "s")
        m["query_s_p50"] = (statistics.median(lat), "s")
        notes["query_s_p50"] = {"samples": len(lat)}
        notes["query_s"] = [round(x, 4) for x in lat]
    return m, notes


# ---- per-layer --------------------------------------------------------------

PER_LAYER = [
    ("sources.load_ms", "ms"), ("sources.scan_rows", "rows"), ("sources.scan_bytes", "bytes"),
    ("ops.build_ms", "ms"), ("ops.eager_jobs", "count"),
    ("plan.analysis_ms", "ms"), ("plan.optimization_ms", "ms"), ("plan.planning_ms", "ms"),
    ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
    ("sched.empty_task_frac", "ratio"), ("driver.gap_ms", "ms"),
    ("exec.run_ms", "ms"), ("exec.cpu_ms", "ms"), ("exec.gc_ms", "ms"), ("exec.busy_frac", "ratio"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_ms", "ms"), ("shuffle.skew_max", "ratio"), ("spill.bytes", "bytes"),
    ("streaming.batches", "count"), ("streaming.rows_per_batch", "rows"),
    ("streaming.tasks_per_batch", "count"),
    ("streaming.latest_offset_ms", "ms"), ("streaming.get_batch_ms", "ms"),
    ("streaming.query_planning_ms", "ms"), ("streaming.add_batch_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"), ("streaming.commit_offsets_ms", "ms"),
    ("state.rows", "rows"), ("state.rows_updated", "rows"), ("state.mem_bytes", "bytes"),
    ("state.update_ms", "ms"), ("state.commit_ms", "ms"),
    ("sink.main_ms", "ms"), ("sink.suspicious_ms", "ms"), ("sink.main_rows", "rows"),
    ("sink.suspicious_rows", "rows"), ("sink.fanout_other_ms", "ms"),
    ("observe.publishes", "count"), ("observe.publish_ms", "ms"),
    ("observe.callback_ms", "ms"), ("observe.extract_ms", "ms"),
]


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(raw, spans):
    """Every per-layer metric, as {name: (value, unit)}, and {name: why}
    for each metric that does not apply to the workload (reported as 0)."""
    stream = "progress" in raw
    lo_ns, hi_ns = raw["region_start_ns"], raw["region_end_ns"]
    lo_ms = raw["t_first_timed_ms"]
    hi_ms = raw["region_end_ms"]
    wall_ms = (hi_ns - lo_ns) / 1e6
    to_ms = lambda ns: lo_ms + (ns - lo_ns) / 1e6
    timed = [s for s in spans if lo_ns <= s["start_ns"] <= hi_ns]
    own = self_times(spans)
    v, absent = {}, {}

    def span_ms(name, self_only=False):
        return sum((own[s["id"]] if self_only else s["end_ns"] - s["start_ns"]) / 1e6
                   for s in timed if s["name"] == name)

    sched = raw["sched"]
    tasks, jobs = sched["tasks"], sched["jobs"]
    if stream:
        batches = timed_batches(raw)
        per = float(max(1, len(batches)))
    else:
        batches = []
        per = float(len(raw["units"]))

    # graft.sources
    if stream:
        # the stream workloads call Tables once, in set-up, to build slices
        v["sources.load_ms"] = sum((s["end_ns"] - s["start_ns"]) / 1e6
                                   for s in spans if s["name"] == "sources.load")
    else:
        v["sources.load_ms"] = span_ms("sources.load") / per
    v["sources.scan_rows"] = sum(t[T_IN_REC] for t in tasks) / per
    v["sources.scan_bytes"] = sum(t[T_IN_BYTES] for t in tasks) / per

    # graft.ops: builder calls, and the jobs they run eagerly
    builds = [s for s in timed if s["name"] == "ops.build"]
    v["ops.build_ms"] = span_ms("ops.build") / per
    v["ops.eager_jobs"] = sum(1 for j in jobs for b in builds
                              if to_ms(b["start_ns"]) <= j["start_ms"] <= to_ms(b["end_ns"])) / per

    # Catalyst
    ph = [p for p in raw["phases"] if lo_ms <= p["end_ms"] <= hi_ms + 1000]
    for k in ("analysis", "optimization", "planning"):
        v[f"plan.{k}_ms"] = sum(p[k] for p in ph) / per

    # scheduler / executors / shuffle
    v["sched.jobs"] = len(jobs) / per
    v["sched.stages"] = sched["stages"] / per
    v["sched.tasks"] = len(tasks) / per
    v["sched.empty_task_frac"] = empty_task_frac(tasks)
    v["driver.gap_ms"] = gap_ms([(j["start_ms"], j["end_ms"]) for j in jobs], lo_ms, hi_ms) / per
    v["exec.run_ms"] = sum(t[T_RUN] for t in tasks) / per
    v["exec.cpu_ms"] = sum(t[T_CPU_NS] for t in tasks) / 1e6 / per
    v["exec.gc_ms"] = sum(t[T_GC] for t in tasks) / per
    v["exec.busy_frac"] = busy_frac([t[T_RUN] for t in tasks], wall_ms, raw["nproc"])
    v["shuffle.write_bytes"] = sum(t[T_SW_BYTES] for t in tasks) / per
    v["shuffle.read_bytes"] = sum(t[T_SR_BYTES] for t in tasks) / per
    v["shuffle.fetch_wait_ms"] = sum(t[T_FETCH_WAIT] for t in tasks) / per
    v["shuffle.skew_max"] = skew_max(tasks)
    v["spill.bytes"] = sum(t[T_SPILL] for t in tasks) / per

    streaming = [k for k, _ in PER_LAYER if k.split(".")[0] in ("streaming", "state", "sink", "observe")]
    if not stream:
        for k in streaming:
            v[k] = 0.0
            absent[k] = "batch workloads run no streaming query"
        return {k: (v[k], u) for k, u in PER_LAYER}, absent

    # micro-batch engine
    v["streaming.batches"] = len(drain_batches(raw)) / float(len(raw["units"]))
    v["streaming.rows_per_batch"] = _mean(p["numInputRows"] for p in batches)
    jobs_by_batch = {}
    job_key = {j["job"]: (j["query"], j["batch"]) for j in jobs if j["batch"]}
    for t in tasks:
        if t[T_JOB] in job_key:
            jobs_by_batch[job_key[t[T_JOB]]] = jobs_by_batch.get(job_key[t[T_JOB]], 0) + 1
    v["streaming.tasks_per_batch"] = _mean(
        jobs_by_batch.get((p["id"], str(p["batchId"])), 0) for p in batches)
    for k, phase in PROGRESS_PHASES.items():
        v[k] = _mean(p["durationMs"].get(phase, 0) for p in batches)

    # state store
    ops = [p.get("stateOperators") or [] for p in batches]
    if any(ops):
        v["state.rows"] = float(sum(o["numRowsTotal"] for o in ops[-1]))
        v["state.rows_updated"] = _mean(sum(o["numRowsUpdated"] for o in x) for x in ops)
        v["state.mem_bytes"] = float(sum(o["memoryUsedBytes"] for o in ops[-1]))
        v["state.update_ms"] = _mean(sum(o["allUpdatesTimeMs"] for o in x) for x in ops)
        v["state.commit_ms"] = _mean(sum(o["commitTimeMs"] for o in x) for x in ops)
    else:
        for k in ("state.rows", "state.rows_updated", "state.mem_bytes", "state.update_ms",
                  "state.commit_ms"):
            v[k] = 0.0
            absent[k] = "the pipeline keeps no state"

    # paymentsFanout sinks, joined to their micro-batch by (drain, batch)
    sink_spans = {}
    for s in timed:
        if s["name"] in ("sink.main", "sink.suspicious"):
            key = (s["name"], s["tag"])
            sink_spans[key] = sink_spans.get(key, 0.0) + (s["end_ns"] - s["start_ns"]) / 1e6
    if sink_spans:
        drain_of = {u["id"]: u["drain"] for u in raw["units"]}
        rows = {(r["sink"], f"drain={r['drain']};batch={r['batch']}"): r["rows"]
                for r in raw["sink_rows"]}
        tags = [f"drain={drain_of[p['id']]};batch={p['batchId']}" for p in batches]
        for name in ("main", "suspicious"):
            v[f"sink.{name}_ms"] = _mean(sink_spans.get((f"sink.{name}", t), 0.0) for t in tags)
            v[f"sink.{name}_rows"] = _mean(rows.get((name, t), 0) for t in tags)
        v["sink.fanout_other_ms"] = _mean(
            p["durationMs"]["addBatch"] - sink_spans.get(("sink.main", t), 0.0)
            - sink_spans.get(("sink.suspicious", t), 0.0) for p, t in zip(batches, tags))
    else:
        for k in ("sink.main_ms", "sink.suspicious_ms", "sink.main_rows", "sink.suspicious_rows",
                  "sink.fanout_other_ms"):
            v[k] = 0.0
            absent[k] = "the pipeline has no paymentsFanout sinks"

    # observability: TopologyMetricsListener callbacks and MetricsSink publishes
    v["observe.publishes"] = sum(1 for s in timed if s["name"] == "observe.publish") / per
    v["observe.publish_ms"] = span_ms("observe.publish") / per
    v["observe.callback_ms"] = span_ms("observe.callback", self_only=True) / per
    v["observe.extract_ms"] = span_ms("observe.extract", self_only=True) / per
    return {k: (v[k], u) for k, u in PER_LAYER}, absent
