"""Benchmark of the engine, driven from outside through its public functions.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One closed-loop client on local[N]
(N = nproc, at most 4): the next operation starts when the previous one
returns. Inputs are generated from the seed under ``.perfbench_work/``
inside the checkout, which is removed at the end. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. A
``# detail`` line before it carries sample counts, nproc and the host
canary. See perfbench/README.md for the workloads and metrics.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
REQUIRED = [
    os.path.join(ROOT, "gcp_datalake_pipeline_spark", "__init__.py"),
    os.path.join(ROOT, "tests", "fixtures", "empresas_20251001.csv"),
]
MAX_CPUS = 4
HEAP = "2g"
# The range-sum kernel of the engine's bench harness: no I/O, no shuffle,
# no engine code, so it tracks only the host's speed window.
CANARY_ROWS = 500_000_000


def _pin_host(work: str) -> int:
    """Size the local master to the host and keep every file the run
    writes inside ``work``. Must run before pyspark is imported."""
    nproc = len(os.sched_getaffinity(0))
    cpus = min(nproc, MAX_CPUS)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_SHUFFLE_PARTITIONS=str(cpus),
        SPARK_DRIVER_MEMORY=HEAP,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # Python workers import the engine too, whatever the cwd.
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)
    return nproc


def _start_spark(work: str):
    from gcp_datalake_pipeline_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed-size heap: no resizing while timing
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Djava.io.tmpdir="
            + os.path.join(work, "tmp"),
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def canary(spark, rows: int = CANARY_ROWS) -> float:
    t0 = time.perf_counter()
    spark.range(rows).selectExpr("sum(id * 3 + 7)").collect()
    return time.perf_counter() - t0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.isfile(p)]
    if missing:
        print(f"perfbench: engine sources not found: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(
            f"perfbench: unknown workload {args.workload!r}; "
            f"choose from {sorted(workloads.WORKLOADS)}",
            file=sys.stderr,
        )
        return 2

    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        nproc = _pin_host(work)
        t0 = time.perf_counter()
        spark = _start_spark(work)
        try:
            spark.range(1).collect()
            session_s = time.perf_counter() - t0
            canary(spark, rows=10**7)  # compile the kernel before timing it
            canary_start = canary(spark)
            wl = workloads.WORKLOADS[args.workload](spark, args.seed, work)
            result = wl.run(args.seconds, bool(args.trace))
            canary_end = canary(spark)
        finally:
            _stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(WORK) and not os.listdir(WORK):
            os.rmdir(WORK)

    metrics = {}
    for name, (value, unit) in result.metrics(session_s).items():
        metrics[name] = {"value": value, "unit": unit}
    if args.trace:
        metrics["host.canary_s"] = {
            "value": statistics.mean([canary_start, canary_end]), "unit": "s"
        }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": nproc,
        "local_cpus": min(nproc, MAX_CPUS),
        "canary_s": [canary_start, canary_end],
        "session_s": session_s,
        **result.detail,
    }
    print("# detail " + json.dumps(detail, default=str))
    failures = result.failures
    for f in failures[:20]:
        print(f"# failure {f}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": result.attempted,
                "failed": len(failures),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
