"""One measured process: set up, run the passes, record, check.

Started by ``run.py`` as a fresh interpreter per measurement. It imports the
program, starts the session through ``session.get_spark``, runs one cold pass,
``workloads.WARMUP_PASSES`` untimed warm-up passes and then exactly
``workloads.TIMED_PASSES`` timed passes,
reads its own peak resident memory, and runs further passes, recorded apart,
until ``--seconds`` have gone by since the first timed pass. Only then,
untimed, it runs the traced extras and the output checks. An operation that
raises is counted as failed and left out of the checks.
The result is written as JSON to ``--result``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import sys
import time

SCAN_REPEATS = 3


def _cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far: the share the hypervisor
    gave to others while a pass ran explains timings no code change made."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _run_pass(workload, spark, tree, out_dir, rec):
    import workloads as W

    if workload == "season":
        return W.season_pass(spark, tree, out_dir, rec)
    return W.registry_pass(spark, tree, W.OPS[workload], rec)


def _trace_extras(args, spark, timed_passes) -> dict:
    """Per-layer figures that need the live session: job counts per
    operation, the bare scan and (season) the serial kernel replay."""
    import layers as T
    import workloads as W

    ops = W.OPS[args.workload]
    last = timed_passes[-1]
    counts = {op: T.job_counts(spark.sparkContext, W.job_group(last, op)) for op in ops}
    scan = []
    for _ in range(SCAN_REPEATS):
        t0 = time.perf_counter()
        W.scan_inputs(spark, args.workload, args.inputs)
        scan.append(time.perf_counter() - t0)
    out = {
        "scan_s": statistics.median(scan),
        "counts": counts,
        "write_bytes": sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(args.out) for f in fs
        ),
    }
    if args.workload == "season":
        out["kernel"] = W.replay_kernel(args.inputs)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--eventlog")
    ap.add_argument("--spawned", type=float, required=True, help="time.monotonic() at spawn")
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    sys.path.insert(0, os.getcwd())
    from nfl_big_data_bowl_2024_spark.plans import all_queries
    from nfl_big_data_bowl_2024_spark.session import get_spark

    import workloads as W

    all_queries()  # every plan module is imported during set-up, on every workload
    t0 = time.monotonic()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.monotonic() - t0
    if not os.path.isdir(args.inputs):
        raise FileNotFoundError(args.inputs)
    setup_s = time.monotonic() - args.spawned

    rec = W.TraceRecorder(spark) if args.trace else W.Recorder()
    ops = W.OPS[args.workload]
    attempted = 0
    errors: dict[str, str] = {}  # first error of each failed operation
    failed = 0

    steal = []  # the host's steal share per pass, to explain outliers

    def one_pass(i):
        nonlocal attempted, failed
        rec.pass_idx = i
        attempted += len(ops)
        s0 = _cpu_steal()
        t = time.perf_counter()
        out, fails = _run_pass(args.workload, spark, args.inputs, args.out, rec)
        dt = time.perf_counter() - t
        s1 = _cpu_steal()
        steal.append((s1[0] - s0[0]) / max(1, s1[1] - s0[1]))
        failed += len(fails)
        for op, msg in fails.items():
            errors.setdefault(op, msg)
        return dt, out, fails

    cold_s, _, _ = one_pass(0)
    for i in range(1, W.WARMUP_PASSES + 1):
        one_pass(i)
    warm, timed_passes = [], []
    t_start = time.monotonic()
    for i in range(W.WARMUP_PASSES + 1, W.WARMUP_PASSES + W.TIMED_PASSES + 1):
        dt, outputs, last_fails = one_pass(i)
        warm.append(dt)
        timed_passes.append(i)
    rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    extra = []  # passes --seconds adds after the timed ones; not in any metric
    while time.monotonic() - t_start < args.seconds:
        dt, outputs, last_fails = one_pass(timed_passes[-1] + len(extra) + 1)
        extra.append(dt)

    result = {
        "setup_child_s": setup_s,
        "session_s": session_s,
        "cold_pass_s": cold_s,
        "warm_passes_s": warm,
        "warm_pass_s": statistics.median(warm),
        "py_rss_mb": rss_mb,
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "env": {
            "nproc": len(os.sched_getaffinity(0)),
            "task_slots": spark.sparkContext.defaultParallelism,
            "master": spark.sparkContext.master,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "spark": spark.version,
            "python": sys.version.split()[0],
            "heap": spark.sparkContext.getConf().get("spark.driver.memory"),
            "steal_share_per_pass": steal,
            "extra_passes_s": extra,
        },
    }
    if args.trace:
        result.update(_trace_extras(args, spark, timed_passes))
        result["spans"] = rec.spans
        result["timed_passes"] = timed_passes
    spark.stop()

    if args.trace:
        import layers as T

        last = timed_passes[-1]
        op_spans = [s for s in rec.spans if s["layer"] == "op" and s["pass"] == last]
        job_ids = {j for c in result["counts"].values() for j in c["job_ids"]}
        result["operators"] = T.operator_metrics(T.read_eventlog(args.eventlog), op_spans, job_ids)

    import checks as C

    # The last pass's outputs, without the operations that failed in it.
    if args.workload == "season":
        stage1 = [op for op in ("e1_max_params", "e2_yap") if op not in last_fails]
        outputs.update({op: C.read_stage1(args.out, op) for op in stage1})
        fails = C.check_season(args.inputs, args.out, outputs)
    else:
        fails = C.check_registry(args.inputs, outputs)
    result["check_failures"] = fails
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
