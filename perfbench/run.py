"""Benchmark entry point: one measured run of one workload.

    python3 perfbench/run.py --workload {season,fixpoint} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout of the engine. For ``season`` the run
generates the inputs from ``--seed`` under ``perfbench/.work/``;
``fixpoint`` reads the testdata copy under ``perfbench/data/``, checked first
against its SHA-256 sums. Then the run starts a fresh interpreter
(``worker.py``) on ``local[nproc/2]`` that sets up, runs the passes and checks
the outputs. With ``--trace 1`` it first runs the same
untraced process, then a traced one with the Spark event log on, and reports
the per-layer figures plus the tracing overhead (traced minus untraced
``warm_pass_s``); the full trace document is kept as
``perfbench/.work/trace-<workload>-seed<N>.json``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The line before it
records the environment (nproc, task slots, Java, Spark and Python versions, heap, load
average, input generation time). An operation that raises is counted in
``failed``; its error goes to standard error. When the run itself cannot
finish, nothing is printed and the exit code is non-zero.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import workloads as W  # noqa: E402

PACKAGE = "nfl_big_data_bowl_2024_spark"
HEAP = "2g"  # explicit: the session default (16g) exceeds small hosts' memory
RUN_TIMEOUT_S = 165  # the whole run, children included, ends within 180 s

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "py_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, for every workload."""
    units = {
        "session.start_s": "s",
        "sources.scan_s": "s",
        "sources.write_s": "s",
        "sources.write_bytes": "bytes",
    }
    for op in W.ALL_OPS:
        units[f"plans.build_s.{op}"] = "s"
        units[f"plans.action_s.{op}"] = "s"
    for op in W.ALL_OPS:
        units[f"operators.jobs.{op}"] = "count"
    units.update({
        "operators.stages": "count",
        "operators.tasks": "count",
        "operators.between_jobs_s": "s",
        "operators.executor_run_s": "s",
        "operators.executor_cpu_s": "s",
        "operators.gc_s": "s",
        "operators.shuffle_write_bytes": "bytes",
        "operators.spill_bytes": "bytes",
        "kernels.play_ms": "ms",
        "kernels.lqr_solves": "count",
        "kernels.serial_s": "s",
        "kernels.parallel_efficiency": "ratio",
        "kernels.boundary_rows": "count",
        "trace.overhead_s": "s",
    })
    return units


def _inputs(workload: str, seed: int, work: str) -> tuple[str, float]:
    """The workload's input tree and the seconds spent generating it. The
    benchmark's own generator is not the program, so its time is recorded
    in the environment line and kept out of ``setup_s``."""
    if workload != "season":
        import copy_testdata

        bad = copy_testdata.check()
        if bad:
            raise RuntimeError(f"testdata copy differs from its SHA256SUMS: {bad}")
        return W.TREE, 0.0
    from gen_season import generate

    tree = os.path.join(work, "inputs")
    t0 = time.perf_counter()
    generate(seed, tree)
    return tree, time.perf_counter() - t0


def _task_slots() -> int:
    """Half the cores, so the JVM's JIT and GC threads and the Python driver
    run beside the tasks instead of in a task's place: with every core a task
    slot, any of them delays the last task of a stage."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _session_members(sid: int) -> list[int]:
    """Live processes of one session: the worker, its JVM, and the PySpark
    daemon and workers (which leave the process group but not the session)."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[3]) == sid:
            pids.append(int(d))
    return pids


def _end_session(proc: subprocess.Popen) -> None:
    """Kill whatever the worker left running and wait until all of it ended."""
    for _ in range(200):
        members = _session_members(proc.pid)
        if not members:
            break
        for pid in members:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if proc.poll() is None:
            proc.wait()
        time.sleep(0.05)
    proc.wait()


def _child(args, work: str, tree: str, traced: bool, deadline: float) -> dict:
    """One fresh measured process; returns its result document."""
    tag = "traced" if traced else "plain"
    run_dir = os.path.join(work, tag)
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    result = os.path.join(run_dir, "result.json")
    eventlog = os.path.join(run_dir, "eventlog")
    tmp = os.path.join(run_dir, "tmp")
    submit = ["--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"]
    if traced:
        os.makedirs(eventlog, exist_ok=True)
        submit += layers.eventlog_conf(eventlog)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [os.getcwd(), os.environ.get("PYTHONPATH")])),
        SPARK_GRAFT_CPUS=str(_task_slots()),
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=" ".join(shlex.quote(a) for a in submit + ["pyspark-shell"]),
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--inputs", tree,
        "--out", os.path.join(run_dir, "out"), "--seconds", str(args.seconds),
        "--trace", str(int(traced)), "--eventlog", eventlog, "--result", result,
    ]
    with open(os.path.join(run_dir, "worker.log"), "w") as log:
        spawned = time.monotonic()
        proc = subprocess.Popen(
            cmd + ["--spawned", repr(spawned)], stdout=log, stderr=subprocess.STDOUT,
            env=env, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - spawned))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _end_session(proc)
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(run_dir, "worker.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError(f"{tag} worker exited with {code}")
    with open(result) as fh:
        return json.load(fh)


def layer_metrics(workload: str, traced: dict, plain: dict) -> dict[str, float]:
    """Every per-layer metric; layers a workload does not use read 0."""
    values = dict.fromkeys(per_layer_units(), 0.0)
    spans = traced["spans"]
    timed = set(traced["timed_passes"])
    values["session.start_s"] = traced["session_s"]
    values["sources.scan_s"] = traced["scan_s"]
    ops = W.OPS[workload]
    for op in ops:
        values[f"plans.build_s.{op}"] = layers.median_by(spans, "plans.build", op, timed)
        values[f"plans.action_s.{op}"] = layers.median_by(spans, "plans.action", op, timed)
        values[f"operators.jobs.{op}"] = traced["counts"][op]["jobs"]
        values["sources.write_s"] += layers.median_by(spans, "sources.write", op, timed)
    values["operators.stages"] = sum(c["stages"] for c in traced["counts"].values())
    values["operators.tasks"] = sum(c["tasks"] for c in traced["counts"].values())
    ops_figures = dict(traced["operators"])
    values["kernels.boundary_rows"] = ops_figures.pop("grouped_map_rows", 0)
    for k, v in ops_figures.items():
        values[f"operators.{k}"] = v
    values["sources.write_bytes"] = traced.get("write_bytes", 0)
    if "kernel" in traced:
        k = traced["kernel"]
        for name in ("play_ms", "lqr_solves", "serial_s"):
            values[f"kernels.{name}"] = k[name]
        e2_wall = values["plans.action_s.e2_yap"]
        values["kernels.parallel_efficiency"] = k["serial_s"] / (e2_wall * traced["env"]["task_slots"])
    values["trace.overhead_s"] = traced["warm_pass_s"] - plain["warm_pass_s"]
    return values


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark: one run of one workload")
    ap.add_argument("--workload", required=True, choices=sorted(W.OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "session.py")):
        sys.stderr.write(f"no {PACKAGE}/ in {root}: run from the root of a checkout\n")
        return 2
    deadline = time.monotonic() + RUN_TIMEOUT_S
    load = os.getloadavg()
    work = os.path.join(HERE, ".work", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    try:
        tree, gen_s = _inputs(args.workload, args.seed, work)
        children = [_child(args, work, tree, False, deadline)]
        if args.trace:
            children.append(_child(args, work, tree, True, deadline))
    except RuntimeError as exc:
        sys.stderr.write(f"{exc}\n")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    plain = children[0]

    if args.trace:
        traced = children[1]
        units = per_layer_units()
        values = layer_metrics(args.workload, traced, plain)
        doc = os.path.join(HERE, ".work", f"trace-{args.workload}-seed{args.seed}.json")
        with open(doc, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "metrics": values,
                       "untraced": plain, "traced": traced}, fh, indent=1)
    else:
        units = END_TO_END
        values = {
            "setup_s": plain["setup_child_s"],
            "cold_pass_s": plain["cold_pass_s"],
            "warm_pass_s": plain["warm_pass_s"],
            "py_rss_mb": plain["py_rss_mb"],
        }
    fails = [f for c in children for f in c["check_failures"]]
    env = dict(plain["env"], load_avg=load, gen_s=gen_s, warm_passes_s=plain["warm_passes_s"])
    print("env " + json.dumps(env))
    for f in fails:
        print("check failed: " + f)
    for c in children:
        for op, msg in c["errors"].items():
            sys.stderr.write(f"failed: {op}: {msg}\n")
    print(json.dumps({
        "correct": not fails,
        "attempted": sum(c["attempted"] for c in children),
        "failed": sum(c["failed"] for c in children),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
