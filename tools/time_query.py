"""Standalone single-query timer: warm once, then median/min of N timed
noop-sink executions — the fast inner loop for optimization work
(a dev tool; perfbench/ is the benchmark).

Usage: python tools/time_query.py <query> [<query> ...]
       SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS / SPARK_GRAFT_TQ_RUNS
       honored; --explain dumps the formatted plan instead of timing.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    explain = "--explain" in sys.argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    runs = int(os.environ.get("SPARK_GRAFT_TQ_RUNS", "5"))

    from modeltracking_spark.session import get_spark

    spark = get_spark(app_name="modeltracking-timequery", cpus=cpus,
                      extra_conf={"spark.driver.memory": "16g"})
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for name in names:
        fn = qs[name]
        if explain:
            print(f"===== {name}")
            print(fn(spark, sf_dir)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")))
            continue
        spark.sparkContext.setJobDescription(f"tq:{name}")
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        ts = []
        for _ in range(runs):
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            ts.append(time.time() - t0)
        print(f"{name}: median={statistics.median(ts):.3f} "
              f"min={min(ts):.3f} max={max(ts):.3f} runs={runs}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
