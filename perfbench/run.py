"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Starts a Spark session on local[<nproc>] with the engine's own session
factory, runs the workload (see workloads.py), checks its outputs and prints
one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics, measured with no
tracing. With --trace 1 the same workload runs with spans on and the
metrics are the per-layer ones (layers.py); spans are written to
.perfbench_out/. Lines before the last one give the host context and the
workload's named metrics. The exit code is 0 only when every output check
passed.

Everything the run writes stays under the checkout: .perfbench_work/
(warehouses, Spark scratch; removed at exit) and .perfbench_out/ (spans).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
DRIVER_MEM = "3g"


def host_context() -> dict:
    """Load average, core count and the pinned single-thread CPU probe
    (tools/host_probe.py; ~0.20 s on a quiet host)."""
    probe = None
    try:
        res = subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "host_probe.py")],
            capture_output=True, text=True, timeout=60, cwd=ROOT,
        )
        probe = float(res.stdout.strip().splitlines()[-1])
    except (OSError, ValueError, IndexError, subprocess.TimeoutExpired):
        pass
    return {"host_probe_s": probe, "loadavg": list(os.getloadavg()),
            "nproc": len(os.sched_getaffinity(0))}


def _environment() -> None:
    """Make the engine importable on the Python workers from any launch
    directory, and keep Spark's scratch files inside the checkout."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM


def start_session(cores: int):
    from cie_spark.session import get_spark

    spark = get_spark(
        app="cie_perfbench", master=f"local[{cores}]",
        extra_conf={
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            # no hsperfdata file under /tmp; temp files in the checkout
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads job/stage info back after the run
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit (the
    Python workers are its children and exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = SparkContext._jvm = None


def traced(run, workload: str, t0: float, session_s: float) -> tuple[dict, dict]:
    """The workload with spans on, then its replays; returns the workload's
    result and the per-layer metrics, and writes the spans out."""
    from pyspark import SparkContext

    from perfbench import layers, workloads

    tracer = run.tracer
    sampler = layers.RssSampler(SparkContext._gateway.proc.pid).start()
    tracer.add("setup.session", t0, t0 + session_s)
    with layers.instrument(tracer):
        res = workloads.WORKLOADS[workload](run)
    replay = (layers.replay_near_dup(run) if workload == "near_dup"
              else layers.replay_kg(run))
    peak = sampler.stop()
    jobs = tracer.resolve_jobs()
    metrics = layers.metrics(run, replay, peak, jobs)
    # compared with the untraced run's step_s, this is the tracing overhead
    metrics["trace.step_s"] = res["step_s"]
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"spans-{workload}-seed{run.seed}.json"), "w") as f:
        json.dump({"workload": workload, "seed": run.seed, "jobs": jobs,
                   "spans": tracer.dump()}, f)
    return res, metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["kg", "near_dup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import cie_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import workloads
    from perfbench.spans import Tracer

    shutil.rmtree(WORK, ignore_errors=True)
    _environment()
    host_before = host_context()

    t0 = time.perf_counter()
    spark = start_session(host_before["nproc"])
    session_s = time.perf_counter() - t0
    try:
        run = workloads.Run(spark, Tracer(spark.sparkContext, enabled=bool(a.trace)),
                            a.seed, a.seconds, WORK)
        if a.trace:
            res, metrics = traced(run, a.workload, t0, session_s)
        else:
            res = workloads.WORKLOADS[a.workload](run)
    finally:
        stop_session(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    host_after = host_context()

    if not a.trace:
        metrics = {
            "setup_s": session_s + run.setup_s,
            "throughput_per_s": res["throughput"],
            "step_s": res["step_s"],
            "call_p50_ms": 1e3 * statistics.median(res["call_s"]),
            "recall": res["recall"],
        }
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        cfg = json.load(f)
    unit_of = {m["name"]: m["unit"] for m in cfg["end_to_end"] + cfg["per_layer"]}
    named = dict(res["named"])
    named["op_failure_ratio"] = (run.failed / run.attempted, "ratio")
    print(json.dumps({"host": {"before": host_before, "after": host_after},
                      "workload": a.workload, "seed": a.seed,
                      "samples": res["samples"], "problems": run.problems[:20]}))
    for name, (value, unit) in named.items():
        print(f"metric {name} {value:.6g} {unit}")
    correct = run.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": unit_of[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
