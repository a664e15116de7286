"""spark-munge pipeline benchmark.

    python3 perfbench/run.py --workload munge_corpus --seed 1 --seconds 5 --trace 0

Runs one workload (see workloads.py) on one process with
``local[$(nproc)]``, checks its output against the oracle, and prints as
its last stdout line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are the per-layer ones from
layers.py. The line before it is a report with the per-call samples,
host noise, environment and any failing docs.

Must run from the root of a checkout holding ``datamunging_spark``;
everything it writes goes under ``.perfbench/`` there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent

END_TO_END = {
    "run_s": "s",
    "pages_per_s": "1/s",
    "cpu_s": "s",
    "setup_s": "s",
    "output_bytes_per_input_byte": "ratio",
}
SETUP_REPEATS = 3


def pin_environment(work: Path) -> dict:
    """Environment for the engine, set before pyspark is imported."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # the session default (16g) is above the RAM of a small host
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1024, min(4096, mem_mb // 4))}m",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(env)
    env["host_mem_mb"] = str(mem_mb)
    return env


def stop_processes() -> None:
    """Stop what the run started and wait for it to end: the Spark
    session, the JVM behind py4j (it exits on EOF of its stdin) and the
    resource tracker the oracle's spawned pool started."""
    from multiprocessing import resource_tracker

    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    resource_tracker._resource_tracker._stop()


def untraced(ctx) -> tuple[dict, dict]:
    from datamunging_spark.session import get_spark
    from probes import HostWindow, calib_spark_s
    from workloads import check, measure_calls, spark_conf, timed, warm_up_calls

    wl, work = ctx["wl"], ctx["work"]

    setups = []
    spark = None
    for _ in range(SETUP_REPEATS):
        if spark is not None:
            spark.stop()  # the JVM stays up: later set-ups start warm
        t0 = time.perf_counter()
        spark = get_spark(extra_conf=spark_conf(work))
        wl.setup(spark)
        setups.append(time.perf_counter() - t0)
    t = ctx["report"]["phase_s"]
    t["warm"] = timed(warm_up_calls, spark, wl)[1]
    ctx["report"]["setup_s"] = setups
    calib0 = calib_spark_s(spark)
    host = HostWindow()
    calls, t["window"] = timed(measure_calls, spark, wl, ctx["seconds"])
    ctx["report"]["host"] = host.close()
    calib1 = calib_spark_s(spark)
    verdict, t["check"] = timed(check, spark, wl, calls)
    spark.stop()

    med = statistics.median
    metrics = {
        "run_s": med(c["run_s"] for c in calls),
        "pages_per_s": med(c["units"] / c["run_s"] for c in calls),
        "cpu_s": med(c["cpu_s"] for c in calls),
        "setup_s": med(setups),
        "output_bytes_per_input_byte": med(
            c["written_bytes"] / wl.corpus.input_bytes for c in calls
        ),
    }
    ctx["report"].update(calls=calls, calib_spark_s=[calib0, calib1])
    return metrics, verdict


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (tests)")
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not (root / "datamunging_spark" / "pipeline.py").is_file():
        print(f"perfbench: {root} holds no datamunging_spark package", file=sys.stderr)
        return 2
    sys.path[:0] = [str(root), str(HERE)]
    work = root / ".perfbench" / "runs" / str(os.getpid())
    env = pin_environment(work)

    import inputs
    import probes
    from workloads import WORKLOADS, timed

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    alu0 = probes.calib_alu_s()
    kind = WORKLOADS[args.workload].kind
    corpus, t_inputs = timed(
        inputs.load_corpus, kind, args.seed, args.scale, root, root / ".perfbench" / "cache"
    )
    expected, t_oracle = timed(inputs.expected_outputs, corpus, int(env["SPARK_GRAFT_CPUS"]))
    wl = WORKLOADS[args.workload](corpus, expected, work)
    report = {"workload": args.workload, "seed": args.seed, "env": env,
              "corpus": inputs.describe(corpus),
              "phase_s": {"inputs": t_inputs, "oracle": t_oracle}}
    ctx = {"wl": wl, "work": work, "seconds": args.seconds, "report": report}
    try:
        if args.trace:
            import layers

            metrics, verdict = layers.traced(ctx)
            units = layers.PER_LAYER
        else:
            metrics, verdict = untraced(ctx)
            units = END_TO_END
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    report["calib_alu_s"] = [alu0, probes.calib_alu_s()]
    report.update(failures=verdict.pop("failures"))
    report["error_rate"] = verdict["failed"] / verdict["attempted"]
    for f in report["failures"][:20]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(json.dumps({"report": report}, default=str))
    verdict["metrics"] = {k: {"value": metrics[k], "unit": units[k]} for k in units}
    print(json.dumps(verdict), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
