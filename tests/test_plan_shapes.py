"""Plan-shape regression gates: the physical-plan properties the 100TB
design depends on (SURVEY.md §4 'what Catalyst gives us for free' must
actually be happening)."""

from pyspark.sql import functions as F

from eynollah_spark.queries import load_views

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_pushdown_and_pruning(spark):
    load_views(spark, SF_DIR, "lineitem")
    q = spark.sql("""
        SELECT l_orderkey, l_quantity FROM lineitem
        WHERE l_shipdate < TIMESTAMP '1996-01-01' AND l_quantity > 30
    """)
    p = _plan(q)
    # toString truncates long filter lists — presence of the pushed-filter
    # section with a concrete filter is the gate
    assert "PushedFilters: [IsNotNull" in p
    assert "l_extendedprice" not in p  # column pruning reached the scan


def test_small_dim_join_broadcasts(spark):
    load_views(spark, SF_DIR, "customer", "nation", "region")
    j = (spark.table("customer")
         .join(spark.table("nation"), F.col("c_nationkey") == F.col("n_nationkey"))
         .join(spark.table("region"), F.col("n_regionkey") == F.col("r_regionkey"))
         .groupBy("r_name").count())
    assert "BroadcastHashJoin" in _plan(j)


def test_extraction_plan_has_single_shuffle(spark, tmp_path):
    from eynollah_spark.cli import layout_rows
    from eynollah_spark.corpus import corpus_flat_spark
    from eynollah_spark.pagexml import to_pagexml_df
    from eynollah_spark.pipeline import extract_flat_input
    from eynollah_spark.plot import to_svg_df

    flat = corpus_flat_spark(spark, 50).drop("expected_kind", "expected_rank")
    src = str(tmp_path / "flat.parquet")
    flat.write.parquet(src)
    # the doc_id repartition is the plan's one exchange beyond the
    # input's; the payload and the geometry ride through the kernel, so
    # there is no join: in extract_flat_input's rows, in the rows
    # `cli page-xml` writes (either frame) and `cli plot` writes, and in
    # the pages and SVGs rendered from them in the same partitions
    for inp, outj in ((flat, extract_flat_input(flat, partitions=4)),
                      (spark.read.parquet(src), layout_rows(spark, src, "original")),
                      (spark.read.parquet(src), layout_rows(spark, src, "deskewed")),
                      (spark.read.parquet(src), layout_rows(spark, src)),
                      (spark.read.parquet(src),
                       to_pagexml_df(layout_rows(spark, src, "original"))),
                      (spark.read.parquet(src),
                       to_pagexml_df(layout_rows(spark, src, "deskewed"))),
                      (spark.read.parquet(src), to_svg_df(layout_rows(spark, src)))):
        pj = _plan(outj)
        assert pj.count("Exchange") == _plan(inp).count("Exchange") + 1
        assert "MapInArrow" in pj
        assert "Join" not in pj and "CartesianProduct" not in pj


def test_whole_stage_codegen_active(spark):
    load_views(spark, SF_DIR, "lineitem")
    # aggregations sit under AdaptiveSparkPlan pre-execution; the stable
    # codegen witness is the scan+filter stage
    q = spark.sql("SELECT l_orderkey FROM lineitem WHERE l_quantity > 30")
    assert "*(" in _plan(q)  # Spark marks codegen'd stages with *(n)


def test_ngram_jaccard_no_unbounded_shingle_selfjoin(spark):
    """VERDICT r1 item 2 'done' criterion: candidate pairs must come from
    capped MinHash band buckets — the plan must contain NO exchange
    hash-partitioned on the shingle hash alone (the signature of the old
    `ds a JOIN ds b ON a.sh = b.sh` scale-killer; one hot shingle shared
    by 10^6 docs would make that join quadratic)."""
    import re

    from eynollah_spark.queries import load_views, registry

    load_views(spark, SF_DIR, "documents")
    q = registry()["dedup_ngram_jaccard"]
    # r4: the Spark side is a spark_fn (materialized shingle checkpoint);
    # audit the actual DataFrame it builds
    df = q["spark_fn"](spark, SF_DIR)
    p = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("extended"))
    assert re.search(r"hashpartitioning\(sh#\d+[LstringbigN ]*, \d+\)", p) is None, \
        "found an exchange keyed on the raw shingle hash alone"
    # and the SQL itself draws candidates from the capped band buckets
    assert "pairs" in q["duck_sql"] and "BETWEEN 2 AND" in q["duck_sql"]


def test_full_layout_plan_no_pathological_joins(spark):
    """extract_full_layout composes 4 operators; none of its joins may
    degrade to a cartesian/nested-loop product, and the only python
    stages are the kernel + the two batch scorer passes."""
    from eynollah_spark.corpus import corpus_flat_spark
    from eynollah_spark.pipeline import extract_full_layout

    flat = corpus_flat_spark(spark, 30).drop("expected_kind", "expected_rank")
    p = _plan(extract_full_layout(flat, partitions=4))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p


def test_ann_probe_side_bucket_cap(spark):
    """r2 VERDICT item 2 'done' criterion: sim_ann_topk's probe joins must
    pass through the bucket-size cap (counts CTE joined with n <= CAP) so
    one hot bucket at 10^9 vectors can never make a query scan it
    linearly — the cap bounds per-query work to
    (1 + bits) * tables * CAP exact cosines."""
    from eynollah_spark.queries import _ANN_PROBE_CAP, load_views, registry

    load_views(spark, SF_DIR, "embeddings")
    q = registry()["sim_ann_topk"]
    # r6: the Spark side became a materialize-once fn — assert the cap
    # and the distance-1 multi-probe (xor) on the PHYSICAL plan the fn
    # actually executes, which is the stronger form of the r2 check
    p = _plan(q["spark_fn"](spark, SF_DIR))
    assert f"<= {_ANN_PROBE_CAP}" in p
    assert "^" in p
    # ...and no cartesian fallback anywhere
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    # the frozen DuckDB oracle still carries the identical cap
    assert f"c.n <= {_ANN_PROBE_CAP}" in q["duck_sql"]


def _unpartitioned_windows(plan: str) -> list[str]:
    """Lines whose WindowExec has NO partition spec — the single-task
    funnel Spark itself warns about ('No Partition Defined ... Moving all
    data to a single partition'). A Window line prints as
    `Window [exprs], [partitionSpec], [orderSpec]` with empty specs
    omitted: 3 top-level bracket groups = partitioned+ordered (OK);
    2 groups whose LAST is an order spec (contains ASC/DESC) =
    unpartitioned+ordered (flag); 2 groups ending in a bare attribute
    list = partitioned, no order (OK); 1 group = whole-relation window
    (flag)."""
    flagged = []
    for line in plan.splitlines():
        i = line.find("Window [")
        if i < 0:
            continue
        groups, depth, start = [], 0, None
        for j, ch in enumerate(line[i:], i):
            if ch == "[":
                if depth == 0:
                    start = j
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append(line[start:j + 1])
        if len(groups) >= 3:
            continue
        if len(groups) == 2 and not (" ASC" in groups[-1] or " DESC" in groups[-1]):
            continue  # partitioned, no order spec
        flagged.append(line.strip())
    return flagged


def test_no_query_plans_a_cartesian_or_row_python(spark):
    """Sweeping audit over EVERY registry query at sf0.001: no
    CartesianProduct anywhere, no row-at-a-time Python evaluation
    (BatchEvalPython) — Python is allowed only in Arrow/pandas form —
    and (VERDICT r4 item 1) no single-partition WindowExec: a window
    with no PARTITION BY funnels the entire relation through one task
    at 10^9 rows. BroadcastNestedLoopJoin is allowed only for the
    labeled brute-force baseline (sim_topk_cosine broadcasts 5 query
    rows on purpose)."""
    import __spark_entry__ as entrymod

    BNLJ_OK = {"sim_topk_cosine"}
    offenders = {}
    for name, fn in entrymod.queries().items():
        df = fn(spark, SF_DIR)
        p = _plan(df)
        bad = []
        if "CartesianProduct" in p:
            bad.append("CartesianProduct")
        if "BatchEvalPython" in p:
            bad.append("BatchEvalPython")
        if "BroadcastNestedLoopJoin" in p and name not in BNLJ_OK:
            bad.append("BroadcastNestedLoopJoin")
        unp = _unpartitioned_windows(p)
        if unp:
            bad.append(f"unpartitioned Window: {unp[0][:120]}")
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_topk_users_plans_take_ordered(spark):
    """events_topk_users must plan TakeOrderedAndProject (parallel
    partial top-k per partition, k*P-row driver merge), never a
    single-partition row_number window (VERDICT r4 item 1)."""
    from eynollah_spark.queries import load_views, registry

    load_views(spark, SF_DIR, "events")
    p = _plan(spark.sql(registry()["events_topk_users"]["spark_sql"]))
    assert "TakeOrderedAndProject" in p, p
    assert not _unpartitioned_windows(p)


def test_registry_fits_driver_cap_and_orders_unchecked_first():
    """The driver's CORRECTNESS file records at most 50 queries (observed
    r2+r3); the registry must never exceed that or trailing queries
    silently lose their correctness evidence, and the entries with the
    shortest driver history must enumerate first."""
    from eynollah_spark.queries import _DRIVER_FIRST, registry

    r = registry()
    assert len(r) <= 50, len(r)
    names = list(r)
    for i, n in enumerate(_DRIVER_FIRST):
        assert names[i] == n, (i, names[i], n)
    # every entry still has an oracle (duck_sql) or is a documented
    # rows-only fn — currently all 50 carry a duck_sql
    assert all(q.get("duck_sql") for q in r.values())
