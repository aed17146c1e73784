"""Turn one run's raw timings and spans into the metric values.

End-to-end metrics come from the untraced timed loop. Per-layer metrics
are summed over the operations of each traced pass and reported as the
median over traced passes (their counts repeat exactly from pass to pass).
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench.report import median, tail

#: Per-layer metrics summed over the operations of one traced pass.
PASS_METRICS = (
    "build.wall_s", "build.jobs", "build.stages", "build.tasks",
    "build.executor_cpu_ms", "build.shuffle_bytes", "build.py4j_calls",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "exec.wall_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.executor_run_ms",
    "exec.executor_cpu_ms", "exec.gc_ms", "exec.input_bytes", "exec.input_records",
    "exec.shuffle_read_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "exec.slot_busy_frac",
    "sources.passes", "sink.wall_s", "sink.output_bytes", "sink.files_written",
    "streaming.batches", "streaming.batch_p50_ms", "streaming.addbatch_ms",
    "streaming.walcommit_ms",
    "ann.search_input_records", "ann.search_jobs",
)

#: Spark counters copied unchanged from an exec span into ``exec.<name>``.
_EXEC_COUNTERS = (
    "jobs", "stages", "tasks", "gc_ms", "input_bytes", "input_records",
    "shuffle_read_bytes", "shuffle_write_bytes", "executor_run_ms",
)


def _by_op(latencies) -> dict[str, list[float]]:
    out = defaultdict(list)
    for name, s in latencies:
        out[name].append(s)
    return dict(out)


def end_to_end(res: dict) -> tuple[dict, dict]:
    """(end-to-end metric values, extra record fields) of a run."""
    lat = [s for _, s in res["latencies"]]
    by_op = _by_op(res["latencies"])
    pct, tail_s = tail(lat)
    values = {
        "setup_s": median(s["total_s"] for s in res["setups"]) + res["warmup_s"],
        "pass_s": median(res["passes"]),
        "op_gmean_s": statistics.geometric_mean([median(v) for v in by_op.values()]),
    }
    record = {
        "calib_ms": res["calib_ms"],
        "passes": len(res["passes"]),
        "samples": len(lat),
        "query_p50_s": median(lat),
        "query_tail_pct": pct,
        "query_tail_s": tail_s,
        "op_s": by_op,
        "setups": res["setups"],
        "warmup_s": res["warmup_s"],
        "gen_s": res["gen_s"],
        "index_build_s": res["index_build_s"],
    }
    return values, record


def per_layer(bench, res: dict, cores: int) -> dict:
    """Per-layer metric values of a traced run (see BENCHMARK.json)."""
    spans = res["recorder"].spans
    by_id = {s["id"]: s for s in spans}
    n_passes = 1 + max((s["attrs"].get("traced_pass", 0) for s in spans), default=0)
    passes = [dict.fromkeys(PASS_METRICS, 0.0) for _ in range(n_passes)]
    triggers = [[] for _ in passes]
    roots = [0.0 for _ in passes]
    feed_rows = bench.manifest.get("events", {}).get("rows", 0)

    for s in spans:
        if s["layer"] == "op":
            roots[s["attrs"]["traced_pass"]] += s["end"] - s["start"]
        if s["parent"] is None:
            continue
        root = by_id[s["parent"]]
        kind, i = root["attrs"]["kind"], root["attrs"]["traced_pass"]
        m, a, c = passes[i], s["attrs"], s.get("counters")
        wall = s["end"] - s["start"]
        if s["name"] == "build":
            m["build.wall_s"] += wall
            m["build.py4j_calls"] += a["py4j_calls"]
            for k in ("jobs", "stages", "tasks"):
                m[f"build.{k}"] += c[k]
            m["build.executor_cpu_ms"] += c["executor_cpu_ns"] / 1e6
            m["build.shuffle_bytes"] += c["shuffle_read_bytes"] + c["shuffle_write_bytes"]
        elif s["name"] == "catalyst":
            for phase in ("analysis", "optimization", "planning"):
                m[f"catalyst.{phase}_ms"] += a[f"{phase}_ms"]
        elif s["name"] == "exec":
            m["exec.wall_s"] += wall
            for k in _EXEC_COUNTERS:
                m[f"exec.{k}"] += c[k]
            m["exec.executor_cpu_ms"] += c["executor_cpu_ns"] / 1e6
            m["exec.spill_bytes"] += c["memory_spill_bytes"] + c["disk_spill_bytes"]
            if kind == "search":
                m["ann.search_input_records"] += c["input_records"]
        elif kind == "batch":
            m["sources.passes"] += c["input_records"] / feed_rows
            m["sink.wall_s"] += c["output_job_s"]
            m["sink.files_written"] += a["files"]
            m["sink.output_bytes"] += a["bytes"]
        elif kind == "stream":
            m["streaming.batches"] += a["batches"]
            m["streaming.addbatch_ms"] += a["addbatch_ms"]
            m["streaming.walcommit_ms"] += a["walcommit_ms"]
            triggers[i].extend(a["trigger_ms"])
        if kind == "search" and c is not None:
            m["ann.search_jobs"] += c["jobs"]

    for m, t in zip(passes, triggers):
        m["streaming.batch_p50_ms"] = median(t)
        busy = m["exec.wall_s"] * 1000.0 * cores
        m["exec.slot_busy_frac"] = m["exec.executor_run_ms"] / busy if busy else 0.0

    out = {k: median(p[k] for p in passes) for k in PASS_METRICS}
    index = [s for s in spans if s["name"] == "ivfpq_build"]
    by_op = _by_op(res["latencies"])
    events = bench.manifest.get("events", {})

    def rate(rows, op_name):
        return rows / median(by_op[op_name]) if rows and by_op.get(op_name) else 0.0

    out.update({
        "setup.session_s": median(s["session_s"] for s in res["setups"]),
        "setup.load_all_s": median(s["load_all_s"] for s in res["setups"]),
        "setup.warmup_s": res["warmup_s"],
        "setup.gen_s": res["gen_s"],
        "ann.index_build_s": res["index_build_s"],
        "ann.index_build_jobs": index[0]["counters"]["jobs"] if index else 0,
        "ann.search_p50_s": median(by_op.get("ivfpq_search", [])),
        "ingest.batch_rows_per_s": rate(events.get("valid"), "run_batch"),
        "ingest.stream_rows_per_s": rate(events.get("rows"), "run_streaming"),
        # against the last timed passes: passes keep speeding up as the JIT
        # warms, so earlier ones would bias the difference
        "trace.overhead_s": median(roots) - median(res["passes"][-len(roots):]),
        "ambient.calib_ms": median(res["calib_ms"]),
    })
    return out


def per_key(recorder) -> dict:
    """Per operation, summed over traced passes: wall, jobs and executor
    run time of each span kind (build, exec, call), for the run record."""
    by_id = {s["id"]: s for s in recorder.spans}
    out: dict = defaultdict(lambda: defaultdict(float))
    for s in recorder.spans:
        if s["parent"] is None or "counters" not in s:
            continue
        row = out[by_id[s["parent"]]["name"]]
        row[f"{s['name']}_s"] += s["end"] - s["start"]
        row[f"{s['name']}_jobs"] += s["counters"]["jobs"]
        row[f"{s['name']}_executor_run_ms"] += s["counters"]["executor_run_ms"]
    return {k: dict(v) for k, v in out.items()}
