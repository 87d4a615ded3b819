"""The repository benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload analytics_batch --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run sets up a local Spark session
with SPARK_GRAFT_CPUS = the cores this process may use, builds its
inputs from the seed, measures for `--seconds` of warm passes (after
one cold pass, and at least two warm passes), checks the outputs, and
prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics; with
`--trace 1` the library's layer boundaries are wrapped in spans and the
metrics are the per-layer ones (see perfbench/README.md).  The line
before it is a JSON detail record: run conditions, sample counts and
every failure by name.  Scratch files live under `.perfbench_work/` in
the repository and are removed at exit, except the traced run's span
file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
REQUIRED = ("classic_fcd_spark", "bench.py", os.path.join("scripts", "check_correctness.py"))
# A small, fixed driver budget: the inputs are a few MB, and the host is
# shared.
DRIVER_MEM = "3g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _env(work: str, cores: int) -> None:
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["DUCKDB_SPILL"] = os.path.join(work, "duckdb")
    os.environ["DUCKDB_MEM"] = "1GB"
    # Python workers import the library by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )


def _start_spark(work: str, trace: bool):
    from classic_fcd_spark.session import _DEFAULTS, get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": _DEFAULTS["spark.driver.extraJavaOptions"]
        + " -XX:-UsePerfData"  # no hsperfdata file outside the checkout
        + f" -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        + f" -Dderby.system.home={os.path.join(work, 'derby')}",
    }
    if trace:
        # keep every job and stage of the run readable in the status store
        conf["spark.ui.retainedJobs"] = "1000000"
        conf["spark.ui.retainedStages"] = "1000000"
    return get_spark("perfbench", extra_conf=conf)


def _stop_spark(spark) -> None:
    """Stop the session and the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - TimeoutExpired: make sure it dies
            proc.kill()
            proc.wait(timeout=30)


def _cpu_probe_ms() -> float:
    """Wall time of a fixed single-threaded loop: how fast this host runs
    one thread right now, so a slow run can be told from a slow engine."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i
    return (time.perf_counter() - t) * 1e3


def run(args) -> tuple[dict, dict]:
    from workloads import WORKLOADS, Run

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _env(work, cores)
    cwd = os.getcwd()
    os.chdir(work)  # anything Spark drops in the working directory stays here
    spark = None
    try:
        sys.path.insert(0, ROOT)
        import bench

        wl = WORKLOADS[args.workload]()
        # taken before Spark starts, so they describe the host and not
        # this run; the inputs are not written yet, so their signature is
        # added by the set-up
        r_cond = bench._run_conditions(os.path.join(work, wl.INPUT))
        r_cond.update(nproc=cores, SPARK_GRAFT_CPUS=os.environ["SPARK_GRAFT_CPUS"],
                      cpu_probe_ms=_cpu_probe_ms())
        t0 = time.perf_counter()
        spark = _start_spark(work, bool(args.trace))
        tracer = None
        if args.trace:
            import layers
            from spans import Tracer

            tracer = Tracer(spark)
            layers.install(tracer)
        r = Run(spark=spark, seed=args.seed, seconds=args.seconds, work=work,
                cores=cores, tracer=tracer)
        r.detail["run_conditions"] = r_cond
        wl.setup(r)
        setup_s = time.perf_counter() - t0
        wl.measure(r)
        r.set_traced(False)
        t_check = time.perf_counter()
        wl.check(r)
        r.detail["check_s"] = time.perf_counter() - t_check
        if args.trace:
            units = layers.metric_units()
            values = layers.per_layer(r, wl)
            os.makedirs(WORK_ROOT, exist_ok=True)
            tracer.write(os.path.join(WORK_ROOT, f"spans-{args.workload}-{args.seed}.json"))
            tracer.restore()
        else:
            m = wl.metrics(r)
            units = {"setup_s": "s", **{k: u for k, (_v, u) in m.items()}}
            values = {"setup_s": setup_s, **{k: v for k, (v, _u) in m.items()}}
        result = {
            "correct": not r.failures,
            "attempted": r.attempted,
            "failed": len(r.failed_ops),
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        }
        detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "failures": r.failures, **r.detail,
                  "wall_s": time.perf_counter() - t0}
        return result, detail
    finally:
        if spark is not None:
            _stop_spark(spark)
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    result, detail = run(args)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
