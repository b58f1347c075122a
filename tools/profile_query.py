"""Per-query stage profiler: attribute a registered query's wall time to
physical stages (guide §1/§7) using the Spark UI REST API.

Usage:
    SPARK_GRAFT_UI=1 python tools/profile_query.py q1_pricing_summary [more...]
        [--sf-dir SF_DIR] [--reps 2] [--explain-dir PLAN_DIR]

For each query: warm the tables, run the query through the noop sink
`--reps` times (first run is reported separately — it pays any in-query
store warmup), then print the stages that executed during the LAST run
with task time, shuffle read/write bytes and input bytes, so the
expensive exchange/scan is identifiable without the UI. SF_DIR
defaults to $SPARK_GRAFT_SF_DIR, else the sf0.1 test data; with
`--explain-dir` each query's plan is written to PLAN_DIR/<name>.txt.

Requires SPARK_GRAFT_UI=1 (the session factory leaves the UI off
otherwise, and there is no REST endpoint to read).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from disco_spark import registry  # noqa: E402
from disco_spark.session import get_spark, load_tables  # noqa: E402


def _api(spark, path: str):
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}{path}") as r:
        return json.load(r)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--top", type=int, default=14, help="stages to print")
    args = ap.parse_args()

    registry.load_all()
    spark = get_spark("disco_spark_profile")
    if not spark.sparkContext.uiWebUrl:
        sys.exit("run with SPARK_GRAFT_UI=1 (UI REST API needed)")
    for tdf in load_tables(spark, args.sf_dir).values():
        tdf.count()

    for name in args.names:
        fn = registry.QUERIES[name]
        walls = []
        for rep in range(args.reps):
            # stage ids present BEFORE this rep, so we can diff
            before = {s["stageId"] for s in _api(spark, "/stages")}
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.perf_counter()
            df = fn(spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            walls.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        print(f"\n=== {name}: walls={walls}")
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            with open(os.path.join(args.explain_dir, f"{name}.txt"), "w") as f:
                f.write(fn(spark, args.sf_dir)._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                ))
        stages = [
            s
            for s in _api(spark, "/stages?status=complete")
            if s["stageId"] not in before
        ]
        stages.sort(key=lambda s: -s.get("executorRunTime", 0))
        tot_run = sum(s.get("executorRunTime", 0) for s in stages)
        print(
            f"  last-rep stages: n={len(stages)} "
            f"sum(executorRunTime)={tot_run/1000:.2f}s (core-seconds)"
        )
        for s in stages[: args.top]:
            nm = s.get("name", "")[:70]
            print(
                f"  run={s.get('executorRunTime',0)/1000:7.2f}s "
                f"tasks={s.get('numCompleteTasks',0):4d} "
                f"in={s.get('inputBytes',0)/1e6:8.1f}MB "
                f"sr={s.get('shuffleReadBytes',0)/1e6:8.1f}MB "
                f"sw={s.get('shuffleWriteBytes',0)/1e6:8.1f}MB  {nm}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
