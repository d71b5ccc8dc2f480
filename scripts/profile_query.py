"""Per-query profiling harness for the optimization rounds.

Runs named registry queries against $SPARK_GRAFT_SF_DIR with the noop
sink (guide §1.4), labelled via setJobDescription (guide §1.5), and
reports per run the build seconds (the builder call, including any
Spark jobs it runs eagerly) and execute seconds (the noop write), the
jobs each layer started, and the stage/task counts the run scheduled
(from the status tracker), so both the hidden build layer and
shuffle-heavy shapes are visible without the UI. Jobs are counted by
job-id delta, which no retention limit truncates. Optionally dumps
.explain("formatted") to a file.

Usage:
  python scripts/profile_query.py q1_pricing_summary dedup_minhash_lsh \
      [--runs 3] [--explain-dir plans/r13] [--suffix before]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gcp_datalake_pipeline_spark.plans import QUERIES
from gcp_datalake_pipeline_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    spark = get_spark(app_name="profile")
    sc = spark.sparkContext
    spark.range(1000).selectExpr("sum(id)").collect()  # JVM warmup
    tracker = sc.statusTracker()
    dag = sc._jsc.sc().dagScheduler()

    out: dict[str, dict] = {}
    for name in args.names:
        if name not in QUERIES:
            print(f"!! unknown query: {name}", file=sys.stderr)
            continue
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = QUERIES[name].fn(spark, args.sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(
                args.explain_dir, f"{name}_{args.suffix}.txt"
            )
            with open(path, "w") as f:
                f.write(plan)
        build, execute, build_jobs, exec_jobs = [], [], [], []
        n_stages = n_tasks = 0
        for i in range(args.runs):
            sc.setJobDescription(f"profile:{name}#{i}")
            j0, t0 = dag.nextJobId(), time.perf_counter()
            df = QUERIES[name].fn(spark, args.sf_dir)
            j1, t1 = dag.nextJobId(), time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            j2, t2 = dag.nextJobId(), time.perf_counter()
            build.append(round(t1 - t0, 3))
            execute.append(round(t2 - t1, 3))
            build_jobs.append(j1 - j0)
            exec_jobs.append(j2 - j1)
            for j in range(j0, j2):
                ji = tracker.getJobInfo(j)
                if ji is None:
                    continue
                for s in ji.stageIds:
                    si = tracker.getStageInfo(s)
                    if si is not None:
                        n_stages += 1
                        n_tasks += si.numTasks
        sc.setJobDescription(None)
        times = [round(b + e, 3) for b, e in zip(build, execute)]
        runs = args.runs
        out[name] = {
            "times": times,
            "best": min(times),
            "build_s": build,
            "exec_s": execute,
            "build_jobs": build_jobs,
            "exec_jobs": exec_jobs,
            "stages/run": round(n_stages / runs, 1),
            "tasks/run": round(n_tasks / runs, 1),
        }
        print(f"{name}: {out[name]}", flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
