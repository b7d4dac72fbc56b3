"""Per-layer metrics of a traced window.

Every metric is a per-op mean over the traced ops (so it does not depend
on how many ops a window held), except ``session.*`` (once per run),
``sources.short_page_misreads`` (a count over a fixed probe set),
``warehouse_tx.write_amp`` (a ratio of totals) and the ``trace.*``
overhead figures. Layers a workload never calls read 0.
"""

from __future__ import annotations

import statistics

from spans import attribute_jobs, covered
from workloads import READ_QUERIES

MB = float(1 << 20)
# span name → metric prefix for the "<prefix>_s" / "<prefix>_jobs" pair
_CALL_METRICS = {
    "sources": "sources.call",
    "operators": "operators.call",
    "warehouse": "warehouse.call",
    "io.write": "io.write",
    "io.read": "io.read",
    "warehouse_tx.merge": "warehouse_tx.merge",
    "warehouse_tx.snapshot": "warehouse_tx.snapshot",
    "warehouse_tx.read_action": "warehouse_tx.read_action",
    "plans.build": "plans.build",
}


def layer_metrics(spans, jobs, stages, traced, untraced, start_s, warmup_s, misreads) -> dict:
    attribute_jobs(spans, jobs)
    job_by_id = {j["jobId"]: j for j in jobs}
    n = len(traced)

    def stage_ids(job_ids):
        return {s for j in job_ids for s in job_by_id[j]["stageIds"] if s in stages}

    def stage_sum(job_ids, key):
        return sum(stages[s].get(key, 0) for s in stage_ids(job_ids))

    out: dict[str, tuple[float, str]] = {}
    walls = {p: 0.0 for p in _CALL_METRICS.values()}
    njobs = {p: 0 for p in _CALL_METRICS.values()}
    sources_tasks = sources_task_ms = merge_gap = 0.0
    for s in spans:
        prefix = _CALL_METRICS.get(s.name)
        if prefix is None:
            continue
        walls[prefix] += s.end - s.start
        njobs[prefix] += len(s.jobs)
        if s.name == "sources":
            sources_tasks += stage_sum(s.jobs, "numTasks")
            sources_task_ms += stage_sum(s.jobs, "executorRunTime")
        if s.name == "warehouse_tx.merge":
            merge_gap += (s.end - s.start) - covered(
                [job_by_id[j] for j in s.jobs], s.start, s.end
            )

    out["session.start_s"] = (start_s, "s")
    out["session.warmup_s"] = (warmup_s, "s")
    out["sources.tasks"] = (sources_tasks / n, "count")
    out["sources.call_s"] = (walls["sources.call"] / n, "s")
    out["sources.jobs"] = (njobs["sources.call"] / n, "count")
    out["sources.task_s"] = (sources_task_ms / 1e3 / n, "s")
    out["sources.short_page_misreads"] = (misreads, "count")
    out["operators.call_s"] = (walls["operators.call"] / n, "s")
    out["warehouse.call_s"] = (walls["warehouse.call"] / n, "s")
    out["io.write_s"] = (walls["io.write"] / n, "s")
    out["io.write_jobs"] = (njobs["io.write"] / n, "count")
    probes = [r.probe for r in traced if r.probe]
    out["io.files_written"] = (sum(p["files_written"] for p in probes) / n, "count")
    out["io.mb_written"] = (sum(p["bytes_written"] for p in probes) / MB / n, "MB")
    out["io.read_s"] = (walls["io.read"] / n, "s")
    out["warehouse_tx.merge_s"] = (walls["warehouse_tx.merge"] / n, "s")
    out["warehouse_tx.merge_jobs"] = (njobs["warehouse_tx.merge"] / n, "count")
    out["warehouse_tx.merge_gap_s"] = (merge_gap / n, "s")
    incoming = sum(p["bytes_written"] for p in probes)
    written = sum(p["table_bytes_written"] for p in probes)
    out["warehouse_tx.write_amp"] = (written / incoming if incoming else 0.0, "ratio")
    out["warehouse_tx.live_files"] = (
        statistics.mean(p["live_files"] for p in probes) if probes else 0.0, "count"
    )
    out["warehouse_tx.snapshot_s"] = (walls["warehouse_tx.snapshot"] / n, "s")
    out["warehouse_tx.snapshot_jobs"] = (njobs["warehouse_tx.snapshot"] / n, "count")
    out["warehouse_tx.read_action_s"] = (walls["warehouse_tx.read_action"] / n, "s")
    out["plans.build_s"] = (walls["plans.build"] / n, "s")
    out["plans.build_jobs"] = (njobs["plans.build"] / n, "count")

    # whole ops: every job any span of the op submitted
    roots = [s for s in spans if s.parent is None]
    op_jobs = {r.op_id: [] for r in roots}
    for s in spans:
        op_jobs[s.op_id].extend(s.jobs)
    all_jobs = [j for js in op_jobs.values() for j in js]
    action = sum(
        covered([job_by_id[j] for j in op_jobs[r.op_id]], r.start, r.end) for r in roots
    )
    wall = sum(r.end - r.start for r in roots)
    out["spark.action_s"] = (action / n, "s")
    out["spark.driver_gap_s"] = ((wall - action) / n, "s")
    out["spark.jobs"] = (len(all_jobs) / n, "count")
    out["spark.stages"] = (len(stage_ids(all_jobs)) / n, "count")
    out["spark.tasks"] = (stage_sum(all_jobs, "numTasks") / n, "count")
    out["spark.task_s"] = (stage_sum(all_jobs, "executorRunTime") / 1e3 / n, "s")
    out["spark.cpu_s"] = (stage_sum(all_jobs, "executorCpuTime") / 1e9 / n, "s")
    out["spark.gc_s"] = (stage_sum(all_jobs, "jvmGcTime") / 1e3 / n, "s")
    out["spark.shuffle_read_mb"] = (stage_sum(all_jobs, "shuffleReadBytes") / MB / n, "MB")
    out["spark.shuffle_write_mb"] = (stage_sum(all_jobs, "shuffleWriteBytes") / MB / n, "MB")
    out["spark.spill_mb"] = (
        (stage_sum(all_jobs, "memoryBytesSpilled") + stage_sum(all_jobs, "diskBytesSpilled"))
        / MB / n, "MB",
    )
    out["spark.input_mb"] = (stage_sum(all_jobs, "inputBytes") / MB / n, "MB")

    for q in READ_QUERIES:
        runs = [r for r in roots if r.name == f"op.{q}"]
        lat = [r.end - r.start for r in runs]
        out[f"q.{q}.p50_s"] = (statistics.median(lat) if lat else 0.0, "s")
        out[f"q.{q}.jobs"] = (
            sum(len(op_jobs[r.op_id]) for r in runs) / len(runs) if runs else 0.0, "count"
        )

    # tracing overhead: the same ops, traced against untraced, where the
    # host slowed neither run of the op
    pairs = [(t, u) for t, u in zip(traced, untraced) if not (t.contended or u.contended)]
    pairs = pairs or list(zip(traced, untraced))
    k = len(pairs)
    t_traced = sum(t.latency for t, _ in pairs)
    t_plain = sum(u.latency for _, u in pairs)
    out["trace.ops_per_s"] = (k / t_traced, "1/s")
    out["trace.ops_per_s_untraced"] = (k / t_plain, "1/s")
    out["trace.overhead_frac"] = (t_traced / t_plain - 1.0, "frac")
    return {name: {"value": v, "unit": u} for name, (v, u) in out.items()}
