"""Engine benchmark: one workload per invocation, one closed-loop client.

    python3 enginebench/run.py --workload hyperopt_calls --seed 1 --seconds 3 --trace 0

Run from the repository root. The run starts a Spark session on
``local[<cores>]`` through the engine's ``session.get_spark``, builds the
workload's seeded inputs and engine-independent references, runs one op
cold (set-up), warms up, then measures back-to-back ops for
``--seconds`` and at least the workload's ``measured_ops``. Every op's
output is checked; a mismatch counts in ``failed``. With ``--trace 1``
the run records spans and Spark's event log instead and reports
per-layer metrics. The last line of standard output is the JSON result.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shlex
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "tradesignal_mtm_runner_spark"


def process_start() -> float:
    """This process's start time on the ``time.perf_counter`` clock."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.perf_counter() - age


T_PROCESS = process_start()


def parse_args(argv):
    from enginebench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(workdir: str, nproc: int, event_dir: str | None) -> None:
    """Point the engine and Spark at this checkout before the JVM starts:
    all scratch files stay under ``workdir``."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["TMPDIR"] = tmp
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if event_dir:
        os.makedirs(event_dir)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"
    )


def host_info(spark, nproc: int) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "cores": nproc,
        "master": spark.sparkContext.master,
        "heap": spark.conf.get("spark.driver.memory"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
    }


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten ops beyond it; a short
    run needs a quarter of its ops beyond it instead, so the tail stays
    above the median, and a run of fewer than four ops takes its slowest.
    Returns (value, percentile, ops beyond)."""
    n = len(latencies)
    beyond = min(10, n // 4)
    return sorted(latencies)[n - beyond - 1], 100.0 * (n - beyond) / n, beyond


def kernel_seconds(cells) -> float:
    """Spark-free single-thread time of the bookkeeper kernel over one
    op's (bars, config) cells, repeated for at least half a second."""
    import numpy as np

    from tradesignal_mtm_runner_spark.operators.bookkeeper import simulate_symbol

    arrays = [
        (
            b["timestamp"].to_numpy().astype("datetime64[us]").astype(np.int64) / 1e6,
            b["close"].to_numpy(dtype=np.float64),
            b["buy"].to_numpy(dtype=np.int64),
            b["sell"].to_numpy(dtype=np.int64),
            cfg,
        )
        for b, cfg in cells
    ]
    reps, t0 = 0, time.perf_counter()
    while reps == 0 or time.perf_counter() - t0 < 0.5:
        for ts, close, buy, sell, cfg in arrays:
            simulate_symbol(ts, close, buy, sell, cfg)
        reps += 1
    return (time.perf_counter() - t0) / reps


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: {PACKAGE}/ not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    nproc = len(os.sched_getaffinity(0))
    workdir = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    event_dir = os.path.join(workdir, "events") if args.trace else None
    configure_env(workdir, nproc, event_dir)
    try:
        return run(args, nproc, workdir, event_dir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(workdir))


def run(args, nproc: int, workdir: str, event_dir: str | None) -> int:
    import numpy as np

    from enginebench import procs
    from enginebench.workloads import WORKLOADS, no_span
    from tradesignal_mtm_runner_spark.session import get_spark

    spark = get_spark()
    start_s = time.perf_counter() - T_PROCESS
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = None
        if args.trace:
            from enginebench.trace import Tracer

            tracer = Tracer(spark)
        w = WORKLOADS[args.workload](spark, np.random.default_rng(args.seed), workdir)
        attempted = failed = 0

        def one_op(span=no_span):
            nonlocal attempted, failed
            inp = w.next_input()
            t0 = time.perf_counter()
            try:
                with span("op"):
                    out = w.op(inp, span)
                dt = time.perf_counter() - t0
                bad = w.check(inp, out)
            except Exception as err:  # the loop goes on; the op counts as failed
                traceback.print_exc()
                dt, bad = time.perf_counter() - t0, [f"raised {err!r}"]
            checked = time.perf_counter() - t0
            attempted += 1
            if bad:
                failed += 1
                print(f"op {attempted} FAILED: " + "; ".join(bad[:5]), flush=True)
            return dt, checked

        # set-up ends with the first checked result; the op's input and
        # reference are built before its clock starts
        first_op_s = one_op()[1]
        print(f"setup: session start {start_s:.2f} s + first op {first_op_s:.2f} s")
        print(f"host: {json.dumps(host_info(spark, nproc))}")
        print(f"shape: {json.dumps(w.shape())}", flush=True)

        warm = [one_op()[0] for _ in range(w.warmup_ops)]

        # every measured op starts from a collected heap and its own peak
        # reset (both untimed): the JVM's adaptive heap growth then
        # depends on the op, not on how the previous ops left the heap
        jvm = spark.sparkContext._jvm
        traced, untraced, peaks = [], [], []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < args.seconds or len(untraced) < w.measured_ops:
            jvm.System.gc()
            procs.reset_peaks()
            if tracer is not None and len(untraced) > len(traced):
                traced.append(one_op(tracer.span)[0])
            else:
                untraced.append(one_op()[0])
            peaks.append(procs.peak_mb())
        rss = {k: statistics.median(p[k] for p in peaks) for k in ("jvm", "python")}
        rss["total"] = statistics.median(p["jvm"] + p["python"] for p in peaks)
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()

        third = max(1, len(untraced) // 3)
        warm_ms = f"median {statistics.median(warm) * 1e3:.1f} ms" if warm else "none"
        print(
            f"warm-up: {len(warm)} ops, {warm_ms}; "
            f"measured: {len(untraced)} ops, median of first third "
            f"{statistics.median(untraced[:third]) * 1e3:.1f} ms, of last third "
            f"{statistics.median(untraced[-third:]) * 1e3:.1f} ms",
        )
        print("measured op ms: " + " ".join(f"{x * 1e3:.0f}" for x in untraced))
        print(
            "op peak rss MB: " + " ".join(f"{p['jvm'] + p['python']:.0f}" for p in peaks)
        )
        print(
            f"peak rss (median op): jvm {rss['jvm']:.0f} MB, python {rss['python']:.0f} MB; "
            f"jvm heap at loop end: committed {heap.getCommitted() / 2**20:.0f} MB, "
            f"used {heap.getUsed() / 2**20:.0f} MB",
            flush=True,
        )
        if tracer is None:
            p50 = statistics.median(untraced)
            tail_s, pct, beyond = tail(untraced)
            print(f"op_tail_ms is p{pct:.0f} over {len(untraced)} ops ({beyond} beyond it)")
            print(f"throughput counts {w.unit} per second of the median op's time")
            metrics = {
                "op_p50_ms": (p50 * 1e3, "ms"),
                "op_tail_ms": (tail_s * 1e3, "ms"),
                # over the median op, not the mean: the first measured op
                # sits highest on the warm-up curve and would dominate a mean
                "throughput": (w.units / p50, "units/s"),
                "setup_s": (start_s + first_op_s, "s"),
                "peak_rss_mb": (rss["total"], "MB"),
            }
        else:
            shape = w.shape()
            cells = w.kernel_cells()
            candidates = w.candidate_pairs()
            if candidates:
                print(f"LSH candidate pairs: {candidates}")
            run_info = {
                "start_s": start_s,
                "first_op_s": first_op_s,
                "rss_mb": rss,
                "untraced_p50_s": statistics.median(untraced),
                "traced_p50_s": statistics.median(traced),
                "kernel_s": kernel_seconds(cells) if cells else 0.0,
                "kernel_units": sum(len(b) for b, _ in cells),
                "nproc": nproc,
                "candidate_yield": shape.get("verified_pairs", 0) / candidates
                if candidates
                else 0.0,
            }
    finally:
        procs.stop_spark(spark)

    if tracer is not None:
        from enginebench.layers import PER_LAYER, per_layer
        from enginebench.trace import EventLog

        values = per_layer(EventLog.read(event_dir), tracer, run_info)
        metrics = {k: (v, PER_LAYER[k]) for k, v in values.items()}
    for k, (v, unit) in metrics.items():
        print(f"{k} = {v:.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
