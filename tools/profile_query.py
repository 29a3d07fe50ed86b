"""Per-query optimization profiler (round-11 measurement harness).

For each named query: one untimed warm-up (codegen + memoized index
builds, the bench methodology), then N timed runs — reporting wall
seconds AND the number of Spark jobs each run launched (via a
per-run job group), which is the local[32] proxy for driver
round-trips / eager materializations: a query whose steady-state
wall is flat across SFs is overhead-bound, and the job count says
where the overhead lives.

Optionally dumps ``explain("formatted")`` to <DIR>/<name>.txt.

Usage:
    python tools/profile_query.py [--plans DIR] [--runs N] q163_ann_recall ...
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from dataflow_python_etl_spark.queries import QUERIES
from dataflow_python_etl_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", default=None, help="dump explain to DIR/<name>.txt")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    spark = get_spark(app_name="profile", extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    # global warm-up: JVM, Python worker pool (the round-8 lesson)
    QUERIES["q01_pricing_summary"].fn(spark, args.sf_dir).count()
    spark.range(32).groupBy((F.col("id") % 4).alias("g")).applyInPandas(
        lambda pdf: pdf[["id"]].head(1), "id long"
    ).count()

    from dataflow_python_etl_spark.operators.dedup import unpersist_all

    for name in args.names:
        fn = QUERIES[name].fn
        # warm-up run (untimed: codegen javac + memoized index builds)
        fn(spark, args.sf_dir).count()
        unpersist_all()
        if args.plans:
            plans_dir = Path(args.plans)
            plans_dir.mkdir(parents=True, exist_ok=True)
            from dataflow_python_etl_spark.plans.checks import explain_str

            df = fn(spark, args.sf_dir)
            (plans_dir / f"{name}.txt").write_text(explain_str(df))
            unpersist_all()
        walls, jobs = [], []
        for i in range(args.runs):
            group = f"prof_{name}_{i}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).count()
            walls.append(round(time.perf_counter() - t0, 3))
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            sc.setJobGroup("", "")
            unpersist_all()
        med = sorted(walls)[len(walls) // 2]
        print(f"{name}: median {med:.3f}s  walls={walls}  jobs/run={jobs}", flush=True)


if __name__ == "__main__":
    main()
