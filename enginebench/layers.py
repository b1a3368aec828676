"""Per-layer metrics of a traced run.

Every traced op runs under an ``op`` span whose children wrap the calls
into one engine module each (see ``workloads``). Jobs are attributed to
a span through its job group; stages are classified by the physical
operators Spark names in their RDD scopes:

* bookkeeper kernel stages run ``MapInPandas`` (and do not merely read
  its cached output through ``InMemoryTableScan``);
* summarize stages run the drawdown ``Window``;
* scan stages read ``Scan parquet``.

A layer a workload does not call reports 0 on that workload.
"""

from __future__ import annotations

import statistics

from .trace import EventLog, Stage, Tracer, skew, tasks_of, union_seconds

PER_LAYER = {
    "session.start_s": "s",
    "session.first_op_s": "s",
    "session.jvm_rss_mb": "MB",
    "session.python_rss_mb": "MB",
    "runner.jobs_per_call": "count",
    "runner.stages_per_call": "count",
    "runner.tasks_per_call": "count",
    "runner.empty_task_ratio": "ratio",
    "runner.driver_ms_per_call": "ms",
    "runner.job_ms_per_call": "ms",
    "bookkeeper.sweep_s": "s",
    "bookkeeper.summarize_s": "s",
    "bookkeeper.executor_run_s": "s",
    "bookkeeper.executor_cpu_s": "s",
    "bookkeeper.shuffle_write_bytes": "bytes",
    "bookkeeper.spill_bytes": "bytes",
    "bookkeeper.task_skew": "ratio",
    "bookkeeper.kernel_bars_per_s": "bar-configs/s",
    "bookkeeper.kernel_share": "ratio",
    "sources.scan_s": "s",
    "sinks.write_s": "s",
    "sinks.bytes_written": "bytes",
    "dedup.pairs_s": "s",
    "dedup.cc_s": "s",
    "dedup.jobs_per_op": "count",
    "dedup.stages_per_op": "count",
    "dedup.tasks_per_op": "count",
    "dedup.driver_share": "ratio",
    "dedup.shuffle_write_bytes": "bytes",
    "dedup.candidate_yield": "ratio",
    "trace.overhead_ratio": "ratio",
}


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _wall(stages: list[Stage]) -> float:
    return sum(s.end - s.start for s in stages)


def _is_kernel(s: Stage) -> bool:
    return "MapInPandas" in s.scopes and "InMemoryTableScan" not in s.scopes


def per_layer(ev: EventLog, tracer: Tracer, run: dict) -> dict[str, float]:
    """``run`` carries what the event log cannot: session timings, peak
    memory, op latencies, the Spark-free kernel time and the LSH
    candidate count."""
    out = {
        "session.start_s": run["start_s"],
        "session.first_op_s": run["first_op_s"],
        "session.jvm_rss_mb": run["rss_mb"]["jvm"],
        "session.python_rss_mb": run["rss_mb"]["python"],
    }

    calls = []
    for c in tracer.named("runner.calculate"):
        jobs = ev.jobs_of({c.group})
        stages = ev.stages_of(jobs)
        tasks = tasks_of(stages)
        busy = union_seconds([(j.start, j.end) for j in jobs], c.start, c.end)
        idle = sum(1 for t in tasks if t["read"] == 0 and t["written"] == 0)
        calls.append(
            {
                "jobs": len(jobs),
                "stages": len(stages),
                "tasks": len(tasks),
                "empty": idle / len(tasks) if tasks else 0.0,
                "driver_ms": (c.seconds - busy) * 1e3,
                "job_ms": busy * 1e3,
            }
        )
    for key, col in (
        ("jobs_per_call", "jobs"),
        ("stages_per_call", "stages"),
        ("tasks_per_call", "tasks"),
        ("empty_task_ratio", "empty"),
        ("driver_ms_per_call", "driver_ms"),
        ("job_ms_per_call", "job_ms"),
    ):
        out[f"runner.{key}"] = _median(c[col] for c in calls)

    ops = []
    for op in tracer.named("op"):
        children = [s for s in tracer.spans if s.parent == op.group]
        jobs = ev.jobs_of(tracer.groups_under(op))
        stages = ev.stages_of(jobs)
        kernel = [s for s in stages if _is_kernel(s)]
        ktasks = tasks_of(kernel)
        summ = [s for s in stages if "Window" in s.scopes and not _is_kernel(s)]
        scans = [s for s in stages if "Scan parquet" in s.scopes and not _is_kernel(s)]
        writes = [s for s in children if s.name.startswith("sinks.")]
        intervals = [(s.start, s.end) for s in stages]
        tasks = tasks_of(stages)
        dedup = any(s.name.startswith("dedup.") for s in children)
        ops.append(
            {
                "sweep_s": _wall(kernel),
                "summarize_s": _wall(summ),
                "executor_run_s": sum(t["run_ms"] for t in ktasks) / 1e3,
                "executor_cpu_s": sum(t["cpu_ns"] for t in ktasks) / 1e9,
                "bk_shuffle": sum(t["shuffle_write_bytes"] for t in ktasks),
                "spill": sum(t["spill_bytes"] for t in ktasks),
                "skew": skew(kernel),
                "scan_s": _wall(scans)
                + sum(s.seconds for s in children if s.name == "sources.load_table"),
                "write_s": sum(
                    s.seconds - union_seconds(intervals, s.start, s.end) for s in writes
                ),
                "bytes_written": sum(t["output_bytes"] for t in tasks) if writes else 0,
                "pairs_s": sum(s.seconds for s in children if s.name == "dedup.pairs"),
                "cc_s": sum(s.seconds for s in children if s.name == "dedup.cc"),
                "jobs": len(jobs) if dedup else 0,
                "stages": len(stages) if dedup else 0,
                "tasks": len(tasks) if dedup else 0,
                "driver_share": (
                    1.0
                    - union_seconds([(j.start, j.end) for j in jobs], op.start, op.end)
                    / op.seconds
                )
                if dedup
                else 0.0,
                "dd_shuffle": sum(t["shuffle_write_bytes"] for t in tasks) if dedup else 0,
            }
        )

    def per_op(col):
        return _median(o[col] for o in ops)

    out.update(
        {
            "bookkeeper.sweep_s": per_op("sweep_s"),
            "bookkeeper.summarize_s": per_op("summarize_s"),
            "bookkeeper.executor_run_s": per_op("executor_run_s"),
            "bookkeeper.executor_cpu_s": per_op("executor_cpu_s"),
            "bookkeeper.shuffle_write_bytes": per_op("bk_shuffle"),
            "bookkeeper.spill_bytes": per_op("spill"),
            "bookkeeper.task_skew": per_op("skew"),
        }
    )
    kernel_s, op_s = run["kernel_s"], run["untraced_p50_s"]
    out["bookkeeper.kernel_bars_per_s"] = run["kernel_units"] / kernel_s if kernel_s else 0.0
    out["bookkeeper.kernel_share"] = kernel_s / run["nproc"] / op_s if kernel_s else 0.0
    out["sources.scan_s"] = per_op("scan_s")
    out["sinks.write_s"] = per_op("write_s")
    out["sinks.bytes_written"] = per_op("bytes_written")
    out.update(
        {
            "dedup.pairs_s": per_op("pairs_s"),
            "dedup.cc_s": per_op("cc_s"),
            "dedup.jobs_per_op": per_op("jobs"),
            "dedup.stages_per_op": per_op("stages"),
            "dedup.tasks_per_op": per_op("tasks"),
            "dedup.driver_share": per_op("driver_share"),
            "dedup.shuffle_write_bytes": per_op("dd_shuffle"),
            "dedup.candidate_yield": run["candidate_yield"],
        }
    )
    out["trace.overhead_ratio"] = run["traced_p50_s"] / op_s
    return out
