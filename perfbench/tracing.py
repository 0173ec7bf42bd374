"""The traced run: per-layer metrics and a span trace.

A traced run turns on Spark's event log (through ``get_spark``'s
``extra_conf``) and gives each call its own job group; streaming queries
run their jobs under their run id, which the progress listener ties to
the call that started them.  After the session stops, the event log is
read back and every Spark job is attached to the call that issued it.
The trace is a list of spans — workload, call, Spark job — each with a
name, start, end (epoch seconds) and parent, and the counters of the
call's jobs attached to the call span.

Two paths are checked against each other: the number of Spark jobs of
each call in the event log equals the status tracker's count taken
right after the call, and the rows the readers' scans report equal the
rows the generator wrote.
"""

from __future__ import annotations

import json
import os
import statistics

# per-layer metric -> unit; a metric a workload does not exercise is 0
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.parse_s": "s",
    "sources.input_rows": "count",
    "sources.input_bytes": "bytes",
    **{f"jobs.{j}_s": "s" for j in (
        "hot_items", "network_flow", "page_view", "unique_visitor", "uv_bloom",
        "app_marketing", "app_marketing_by_channel", "ad_statistics", "login_fail",
        "order_timeout", "tx_match_join", "tx_reconcile")},
    "streaming.page_view_s": "s",
    "streaming.login_fail_s": "s",
    "registry.corpus_screen_s": "s",
    "registry.pre_stream_s": "s",
    "registry.sink_bytes_written": "bytes",
    "registry.sink_files_written": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.state_rows_total": "count",
    "streaming.state_rows_updated": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.stateful_keys_per_s": "keys/s",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.jobs_per_batch": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.python_worker_cpu_s": "s",
}

COUNTERS = ("tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "input_rows", "input_bytes")


class EventLog:
    """Jobs of one application's event log, with their task counters."""

    def __init__(self, eventlog_dir: str):
        (name,) = os.listdir(eventlog_dir)
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        with open(os.path.join(eventlog_dir, name)) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    self.jobs[e["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": e["Submission Time"] / 1000.0, "end": None,
                        **{c: 0 for c in COUNTERS},
                    }
                    for s in e["Stage IDs"]:
                        stage_job.setdefault(s, e["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = self.jobs.get(stage_job.get(e["Stage ID"]))
                    m = e.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["tasks"] += 1
                    job["executor_run_ms"] += m["Executor Run Time"]
                    job["executor_cpu_ms"] += m["Executor CPU Time"] / 1e6
                    job["gc_ms"] += m["JVM GC Time"]
                    sr = m["Shuffle Read Metrics"]
                    job["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                    job["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    job["spill_bytes"] += m["Disk Bytes Spilled"]
                    job["input_rows"] += m["Input Metrics"]["Records Read"]
                    job["input_bytes"] += m["Input Metrics"]["Bytes Read"]


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(workload, eventlog_dir, manifest, warm, timed, rounds, session, py_cpu_s,
              window, trace_path):
    """(metrics, check errors) of a traced run; writes the span trace."""
    log = EventLog(eventlog_dir)
    by_group: dict[str, list[int]] = {}
    for jid, j in log.jobs.items():
        by_group.setdefault(j["group"], []).append(jid)
    errors: list[str] = []
    spans = [
        {"id": "w", "name": workload, "start": window[0], "end": window[1], "parent": None},
        {"id": "warmup", "name": f"{workload} warm-up", "start": warm[0].t0,
         "end": warm[-1].t0 + warm[-1].wall, "parent": None},
    ]
    call_jobs: dict[int, list[dict]] = {}
    for i, rec in enumerate(warm + timed):
        jids = sorted(j for g in [rec.group, *rec.runs] for j in by_group.get(g, []))
        if len(jids) != rec.jobs_tracker:
            errors.append(f"{rec.group}: {len(jids)} jobs in the event log, "
                          f"{rec.jobs_tracker} in the status tracker")
        call_jobs[i] = [log.jobs[j] for j in jids]
        counters = {c: sum(log.jobs[j][c] for j in jids) for c in COUNTERS}
        spans.append({"id": f"c{i}", "name": rec.group, "start": rec.t0,
                      "end": rec.t0 + rec.wall, "parent": "w" if rec.round else "warmup",
                      "jobs": len(jids), **counters})
        spans += [{"id": f"j{j}", "name": f"job {j}", "start": log.jobs[j]["start"],
                   "end": log.jobs[j]["end"], "parent": f"c{i}"} for j in jids]
    with open(trace_path, "w") as f:
        json.dump(spans, f)

    n_warm = len(warm)
    timed_idx = range(n_warm, n_warm + len(timed))

    def per_round(pred, key) -> float:
        return sum(j[key] for i in timed_idx if pred(timed[i - n_warm])
                   for j in call_jobs[i]) / rounds

    def wall(layer, name) -> float:
        return _med([r.wall for r in timed if r.call.layer == layer and r.call.name == name])

    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = session["start_s"]
    m["session.warmup_s"] = session["warmup_s"]
    for rec in timed:
        key = f"{rec.call.layer}.{rec.call.name}_s"
        if key in m:
            m[key] = wall(rec.call.layer, rec.call.name)

    reg = [r for r in timed if r.call.layer == "registry"]
    if reg:
        # from the call to the start of its streaming query
        m["registry.pre_stream_s"] = _med([min(r.query_started) - r.t0 for r in reg])
        sinks = [r.output["_sink"]["bytes"] for r in reg]
        m["registry.sink_files_written"] = sum(len(b) for b in sinks) / rounds
        m["registry.sink_bytes_written"] = sum(int(b.sum()) for b in sinks) / rounds

    parse = lambda r: r.call.layer == "sources"  # noqa: E731
    if any(parse(r) for r in timed):
        m["sources.parse_s"] = sum(r.wall for r in timed if parse(r)) / rounds
        m["sources.input_rows"] = per_round(parse, "input_rows")
        m["sources.input_bytes"] = per_round(parse, "input_bytes")
        written = sum(f["rows"] for f in manifest["files"].values())
        if m["sources.input_rows"] != written:
            errors.append(f"sources.input_rows {m['sources.input_rows']} != {written} rows written")

    progress = [p for r in timed for p in r.progress]
    if progress:
        d = lambda k: [p["durationMs"].get(k, 0) for p in progress]  # noqa: E731
        stream_runs = [g for r in timed for g in r.runs]
        m["streaming.batches"] = len(progress) / rounds
        m["streaming.trigger_ms"] = _med(d("triggerExecution"))
        m["streaming.add_batch_ms"] = _med(d("addBatch"))
        m["streaming.latest_offset_ms"] = _med(d("latestOffset"))
        m["streaming.query_planning_ms"] = _med(d("queryPlanning"))
        m["streaming.wal_commit_ms"] = _med(d("walCommit"))
        m["streaming.commit_offsets_ms"] = _med(d("commitOffsets"))
        m["streaming.jobs_per_batch"] = (
            sum(len(by_group.get(g, [])) for g in stream_runs) / len(progress))
        ops = [op for p in progress for op in p["stateOperators"]]
        m["streaming.state_rows_updated"] = sum(op["numRowsUpdated"] for op in ops) / rounds
        last = [r.progress[-1] for r in timed if r.progress]
        m["streaming.state_rows_total"] = sum(
            op["numRowsTotal"] for p in last for op in p["stateOperators"]) / rounds
        m["streaming.state_memory_bytes"] = max((op["memoryUsedBytes"] for op in ops), default=0)
        # keys the pandas state function is called for: the distinct users
        # of each data batch, over the time of those batches
        users = [f["users"] for k, f in sorted(manifest["files"].items()) if k.startswith("batch_")]
        keys = secs = 0.0
        for r in timed:
            if r.call.name == "login_fail":
                for p in r.progress:
                    if p["numInputRows"]:
                        keys += users[p["batchId"]]
                        secs += p["durationMs"]["triggerExecution"] / 1000.0
        m["streaming.stateful_keys_per_s"] = keys / secs if secs else 0.0

    timed_e2e = lambda r: r.call.timed  # noqa: E731
    m["spark.jobs"] = sum(len(call_jobs[i]) for i in timed_idx if timed[i - n_warm].call.timed) / rounds
    m["spark.tasks"] = per_round(timed_e2e, "tasks")
    for k in ("executor_run_ms", "executor_cpu_ms", "gc_ms", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{k}"] = per_round(timed_e2e, k)
    m["spark.python_worker_cpu_s"] = py_cpu_s
    return m, errors
