"""Per-query measurement harness.

Times individual registered queries in isolation at a given sf dir,
with BOTH terminal actions: the bench's count() (series-comparable) and
the guide-§1.4 noop sink (computes every column, the honest
full-materialization cost). Prints per-query min/median over N runs
and the number of Spark jobs one run schedules.

Usage:
  python3 tools/measure_queries.py q1 q2 ...            # sf0.1, count+noop
  SPARK_GRAFT_SF_DIR=... N_RUNS=3 ACTION=count python3 tools/measure_queries.py q1

Also dumps .explain("formatted") to plans/measure/<query>_<tag>.txt when
PLAN_TAG is set (e.g. PLAN_TAG=before).
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from helium_etl_lite_spark import registry
from helium_etl_lite_spark.plans.explain_tools import formatted_plan
from helium_etl_lite_spark.session import get_spark


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = int(os.environ.get("N_RUNS", "5"))
    action = os.environ.get("ACTION", "both")  # count | noop | both
    plan_tag = os.environ.get("PLAN_TAG", "")
    registry.load_all()
    spark = get_spark("measure_queries")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        # warm parquet footers
        for table in (
            "region nation customer supplier part orders lineitem "
            "events documents embeddings"
        ).split():
            spark.read.parquet(f"{sf_dir}/{table}.parquet").count()
        for name in names:
            fn = registry.QUERIES[name]
            if plan_tag:
                os.makedirs(os.path.join(repo, "plans", "measure"), exist_ok=True)
                plan = formatted_plan(fn(spark, sf_dir))
                with open(
                    os.path.join(repo, "plans", "measure", f"{name}_{plan_tag}.txt"), "w"
                ) as f:
                    f.write(plan)
            acts = {"count": lambda d: d.count(), "noop": _noop}
            for aname, act in acts.items():
                if action != "both" and action != aname:
                    continue
                if n_runs <= 0:
                    continue
                runs = []
                tracker = spark.sparkContext.statusTracker()
                for ri in range(n_runs):
                    group = f"{name}:{aname}:{ri}"
                    spark.sparkContext.setJobGroup(group, group)
                    t0 = time.perf_counter()
                    act(fn(spark, sf_dir))
                    runs.append(time.perf_counter() - t0)
                njobs = len(tracker.getJobIdsForGroup(f"{name}:{aname}:{n_runs - 1}"))
                print(
                    f"{name} [{aname}] min {min(runs):.3f}s "
                    f"median {statistics.median(runs):.3f}s "
                    f"jobs/run {njobs} "
                    f"runs {', '.join(f'{r:.3f}' for r in runs)}",
                    flush=True,
                )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
