"""Solo-query measurement harness (guide §1): time one registry query
through the noop sink N times in a fresh session, print per-run walls
and the jobs and stages each run launched (counted from its job group
with the status tracker; a skipped stage runs no task and does not
count), and
optionally dump .explain("formatted").

Usage: python scripts/solo_query.py QUERY [runs] [--explain OUT.txt]
"""

from __future__ import annotations

import argparse
import gc
import os
import sys
import time

sys.path.insert(0, ".")

from ipes_data_pipeline_spark.queries import REGISTRY, load_all
from ipes_data_pipeline_spark.session import get_session


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("query", help="registry query name")
    ap.add_argument("runs", nargs="?", type=int, default=5)
    ap.add_argument("--explain", metavar="OUT.txt", default=None)
    ns = ap.parse_args()
    explain_out = ns.explain
    name = ns.query
    runs = ns.runs
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    load_all()
    spark = get_session("solo")
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    spec = REGISTRY[name]
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    walls, jobs, stages = [], [], []
    for r in range(runs):
        group = f"solo {name} run {r}"
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        df = spec.spark(spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        walls.append(time.perf_counter() - t0)
        del df
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.3)  # also lets the listener bus record the run
        ids = tracker.getJobIdsForGroup(group)
        infos = [tracker.getStageInfo(s) for j in ids for s in tracker.getJobInfo(j).stageIds]
        jobs.append(len(ids))
        stages.append(sum(i is not None and i.numCompletedTasks > 0 for i in infos))
    walls_s = " ".join(f"{w:.2f}" for w in walls)
    med = sorted(walls)[len(walls) // 2]
    print(f"SOLO {name}: median {med:.2f}  runs [{walls_s}]  jobs {jobs}  stages {stages}")
    if explain_out:
        df = spec.spark(spark, sf_dir)
        with open(explain_out, "w") as f:
            f.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
        print(f"explain -> {explain_out}")


if __name__ == "__main__":
    main()
