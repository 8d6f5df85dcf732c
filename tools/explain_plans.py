"""Print physical plans for the engine's key query shapes and assert the
plan properties the 100TB design depends on (run manually; output is
summarized in PLANS.md):

  * parquet scan shows PushedFilters + pruned ReadSchema,
  * the small-dimension join picks broadcast,
  * the extraction pipeline has exactly one exchange before the kernel,
  * whole-stage codegen spans the relational glue.

Usage: python tools/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import functions as F

    from eynollah_spark.corpus import corpus_flat_spark
    from eynollah_spark.pipeline import extract_flat_input
    from eynollah_spark.queries import load_views
    from eynollah_spark.session import build_session

    spark = build_session(cpus=4, shuffle_partitions=8)
    load_views(spark, sf_dir, "lineitem", "orders", "customer", "nation", "region")
    checks = []

    # 1. predicate pushdown + column pruning
    q = spark.sql("""
        SELECT l_orderkey, l_quantity FROM lineitem
        WHERE l_shipdate < TIMESTAMP '1996-01-01' AND l_quantity > 30
    """)
    plan = q._jdf.queryExecution().executedPlan().toString()
    print("== pushdown/pruning ==")
    print("\n".join(l for l in plan.splitlines() if "PushedFilters" in l or "ReadSchema" in l))
    checks.append(("filter pushdown", "PushedFilters: [" in plan and "IsNotNull" in plan))
    checks.append(("column pruning", "l_extendedprice" not in plan))

    # 2. broadcast join for small dims
    j = (spark.table("customer")
         .join(spark.table("nation"), F.col("c_nationkey") == F.col("n_nationkey"))
         .join(spark.table("region"), F.col("n_regionkey") == F.col("r_regionkey"))
         .groupBy("r_name").count())
    jplan = j._jdf.queryExecution().executedPlan().toString()
    checks.append(("broadcast dim join", "BroadcastHashJoin" in jplan))
    print("== dim join ==", "BroadcastHashJoin" if "BroadcastHashJoin" in jplan else "NO BROADCAST")

    # 3. extraction pipeline: exactly one exchange feeding the kernel
    flat = corpus_flat_spark(spark, 200)
    out = extract_flat_input(flat.drop("expected_kind", "expected_rank"), partitions=8)
    eplan = out._jdf.queryExecution().executedPlan().toString()
    n_exchange = eplan.count("Exchange")
    print(f"== extraction == exchanges in plan: {n_exchange}")
    # the doc_id repartition; corpus generation and the kernel add none
    checks.append(("single kernel-side exchange", n_exchange == 1))
    checks.append(("whole-stage codegen present", "*(1)" in plan))  # Spark 4 marks codegen stages with *(n)

    print("\n== summary ==")
    ok = True
    for name, passed in checks:
        print(("PASS " if passed else "FAIL ") + name)
        ok &= passed
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
