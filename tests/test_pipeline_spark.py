"""End-to-end Spark pipeline gate: distributed corpus -> nested documents
table -> extract -> span-sequence equality vs the by-construction oracle."""

import shutil
import sys

import pytest
from pyspark.sql import functions as F

from eynollah_spark.corpus import corpus_flat_spark, expected_spark, nest_corpus
from eynollah_spark.pipeline import extract, extract_flat_input

N_DOCS = 200


@pytest.fixture(scope="module")
def corpus(spark):
    flat = corpus_flat_spark(spark, N_DOCS, partitions=8).cache()
    flat.count()
    yield flat
    flat.unpersist()


def _mismatches(out, exp):
    j = out.alias("g").join(exp.alias("e"), ["doc_id", "ord"], "full_outer")
    return j.filter(
        F.col("g.kind").isNull() | F.col("e.kind").isNull()
        | (F.col("g.kind") != F.col("e.kind"))
        | (F.coalesce(F.col("g.text"), F.lit("")) != F.coalesce(F.col("e.text"), F.lit("")))
        | (F.coalesce(F.col("g.media_ref"), F.lit("")) != F.coalesce(F.col("e.media_ref"), F.lit("")))
        | (F.col("g.offset") != F.col("e.offset"))
    ).count()


def test_extract_matches_oracle(spark, corpus):
    docs = nest_corpus(corpus)
    out = extract(docs, partitions=8, nested=False)
    assert _mismatches(out, expected_spark(corpus)) == 0


def test_extract_flat_input_matches(spark, corpus):
    out = extract_flat_input(corpus.drop("expected_kind", "expected_rank"), partitions=8)
    assert _mismatches(out, expected_spark(corpus)) == 0


def test_nested_output_preserves_empty_docs(spark, corpus):
    docs = nest_corpus(corpus)
    nested = extract(docs, partitions=8, nested=True)
    assert nested.count() == N_DOCS
    n_empty_in = docs.filter(F.size("spans") == 0).count()
    assert nested.filter(F.size("out_spans") == 0).count() == n_empty_in
    # out_spans echo input offsets: per doc, offsets are a permutation
    chk = nested.select(
        "doc_id",
        F.size("out_spans").alias("n"),
        F.size(F.array_distinct("out_spans.offset")).alias("nd"),
    ).filter(F.col("n") != F.col("nd"))
    assert chk.count() == 0


def test_manifest_resume(spark, corpus, tmp_path_factory):
    from eynollah_spark.manifest import completed_parts, run_extraction

    out_dir = str(tmp_path_factory.mktemp("ckpt"))
    docs = nest_corpus(corpus).cache()
    s1 = run_extraction(docs, out_dir, n_parts=4, partitions=8, parts_per_batch=2)
    assert s1["processed"] == 4 and s1["skipped"] == 0
    assert completed_parts(out_dir) == {0, 1, 2, 3}
    # resume: nothing left to do
    s2 = run_extraction(docs, out_dir, n_parts=4, partitions=8)
    assert s2["processed"] == 0 and s2["skipped"] == 4
    # output complete & correct despite two separate snapshot commits
    from eynollah_spark.manifest import read_as_of

    got = read_as_of(spark, out_dir)
    assert _mismatches(got.drop("part"), expected_spark(corpus)) == 0
    docs.unpersist()
    shutil.rmtree(out_dir, ignore_errors=True)


def test_filter_printspace(spark):
    """B9: spans outside the page frame are dropped before the kernel."""
    from eynollah_spark.corpus import corpus_flat_spark
    from eynollah_spark.pipeline import filter_printspace

    flat = corpus_flat_spark(spark, 40).drop("expected_kind", "expected_rank") \
        .filter(F.col("offset") >= 0).cache()
    n0 = flat.count()
    # default margins: everything the generator lays out is inside
    assert filter_printspace(flat).count() == n0
    # a tight explicit frame drops border spans
    kept = filter_printspace(flat, frame=(200, 900, 150, 800)).count()
    assert 0 < kept < n0
    # the plan is a pure scan+filter (no exchange, no python)
    plan = filter_printspace(flat, frame=(200, 900, 150, 800)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan
    # keep_null_spans: a doc whose EVERY span falls outside the frame
    # must re-enter as one null-span row — the one-row-per-doc contract
    # (ADVICE r4). An impossible frame empties every doc; each must
    # survive as exactly one row with null span fields.
    all_docs = flat.select("doc_id").distinct().count()
    k = filter_printspace(flat, frame=(-10, -5, -10, -5), keep_null_spans=True)
    assert k.count() == all_docs
    assert k.filter(F.col("kind").isNull()).count() == all_docs
    assert k.select("doc_id").distinct().count() == all_docs
    flat.unpersist()


def test_extract_full_layout_chain(spark):
    """F1 --full-layout parity: table split + extraction + kind
    refinement + drop-capital adhesion compose into ordered rows with
    geometry, ord a clean 0..n-1 per doc."""
    from eynollah_spark.corpus import corpus_flat_spark
    from eynollah_spark.pipeline import extract_full_layout

    flat = corpus_flat_spark(spark, 30).drop("expected_kind", "expected_rank")
    out = extract_full_layout(flat, partitions=4).cache()
    assert out.count() > 0
    assert {"doc_id", "ord", "kind", "text", "offset", "x0", "y1"} <= set(out.columns)
    from pyspark.sql import Window as W
    bad = (out.withColumn(
        "rk", F.row_number().over(W.partitionBy("doc_id").orderBy("ord")) - 1)
        .filter(F.col("rk") != F.col("ord")).count())
    assert bad == 0
    kinds = {r["kind"] for r in out.select("kind").distinct().collect()}
    assert kinds <= {"text", "heading", "drop-capital", "marginalia",
                     "image", "separator", "table"}
    out.unpersist()


def test_task_side_scan_and_write_match_standard_path(spark, tmp_path):
    """The task-side columnar scan path (extract_from_parquet_files) and
    its task-side write sink must reproduce the standard shuffled path's
    output row for row, and stats_only counts must reconcile."""
    from pyspark.sql import functions as F

    from eynollah_spark.corpus import corpus_flat_spark
    from eynollah_spark.pipeline import extract_flat_input, extract_from_parquet_files

    corpus_dir = str(tmp_path / "corpus")
    (corpus_flat_spark(spark, 80, partitions=4)
     .drop("expected_kind", "expected_rank")
     .repartition(6, F.xxhash64("doc_id"))
     .write.parquet(corpus_dir))
    import glob
    files = sorted(glob.glob(corpus_dir + "/*.parquet"))
    flat = spark.read.parquet(corpus_dir)

    std = extract_flat_input(flat, partitions=4)
    fast = extract_from_parquet_files(spark, files, partitions=4)
    cols = ["doc_id", "ord", "kind", "text", "media_ref", "offset"]
    a = sorted(map(tuple, std.select(cols).collect()))
    b = sorted(map(tuple, fast.select(cols).collect()))
    assert a == b

    out_dir = str(tmp_path / "written")
    import os
    os.makedirs(out_dir, exist_ok=True)
    stats = extract_from_parquet_files(spark, files, partitions=4,
                                       include_payload=False,
                                       write_dir=out_dir, stats_only=True)
    n = stats.agg(F.sum("n_rows").alias("n")).first()["n"]
    written = spark.read.parquet(out_dir)
    assert written.count() == n == len(a)
    c = sorted(map(tuple, written.select(cols).collect()))
    assert c == a


def test_task_side_scan_empty_file_list(spark):
    """A fully-resumed manifest (or a wrong glob) yields no input files;
    the task-side scan must return an empty frame, not a JVM error."""
    from eynollah_spark.pipeline import extract_from_parquet_files

    out = extract_from_parquet_files(spark, [], partitions=4)
    assert out.count() == 0
    assert "doc_id" in out.columns


_CHECK_COLS = ["doc_id", "width", "height", "rtl", "kind", "offset",
               "x0", "x1", "y0", "y1", "expected_kind", "expected_rank",
               "expected_n"]


def test_expected_check_kernel_equals_join_check(spark, corpus):
    """r6: extract_reading_order's self-check moved inside the kernel
    (make_partition_arrow_kernel(output="check")). The per-doc mismatch
    count must equal the r5 full-outer-join formulation exactly — zero on the clean
    corpus, and the same nonzero counts under injected corruption."""
    from eynollah_spark.pipeline import make_partition_arrow_kernel

    def kernel_bad(flat):
        return (flat.select(*_CHECK_COLS)
                .mapInArrow(make_partition_arrow_kernel(output="check"),
                            schema="doc_id string, n_bad long"))

    def join_bad(flat):
        out = extract_flat_input(flat.drop("expected_kind", "expected_rank"),
                                 partitions=8)
        exp = expected_spark(flat)
        g = out.select("doc_id", "offset", F.col("ord").alias("g_ord"),
                       F.col("kind").alias("g_kind"))
        e = exp.select("doc_id", "offset", F.col("ord").alias("e_ord"),
                       F.col("kind").alias("e_kind"))
        j = g.join(e, ["doc_id", "offset"], "full_outer")
        bad = (F.col("g_ord").isNull() | F.col("e_ord").isNull()
               | (F.col("g_ord") != F.col("e_ord"))
               | (F.col("g_kind") != F.col("e_kind")))
        return j.groupBy("doc_id").agg(F.sum(bad.cast("int")).alias("n_bad"))

    def totals(df):
        rows = df.collect()
        return sum(r["n_bad"] for r in rows), {r["doc_id"]: r["n_bad"]
                                               for r in rows if r["n_bad"]}

    # clean corpus: both formulations report zero everywhere
    k_tot, k_map = totals(kernel_bad(corpus))
    j_tot, j_map = totals(join_bad(corpus))
    assert k_tot == 0 and j_tot == 0

    # corrupt the expected ranks (swap 0 <-> 1) and kinds of rank-0 spans:
    # the kernel check must flag exactly the same per-doc counts as the
    # join check (sensitivity: a vacuous check would stay zero)
    corrupted = corpus.withColumn(
        "expected_rank",
        F.when(F.col("expected_rank") == 0, 1)
         .when(F.col("expected_rank") == 1, 0)
         .otherwise(F.col("expected_rank"))
    ).withColumn(
        "expected_kind",
        F.when(F.col("expected_rank") == 1, F.lit("__corrupt__"))
         .otherwise(F.col("expected_kind")))
    k_tot, k_map = totals(kernel_bad(corrupted))
    j_tot, j_map = totals(join_bad(corrupted))
    assert k_tot > 0
    assert k_tot == j_tot
    assert k_map == j_map


def test_extract_repartition_is_one_hash_exchange(spark, corpus):
    """extract() repartitions once, on the wide xxhash64(doc_id)
    keyspace and on nothing else: no size(spans) evaluation in the plan,
    exactly ONE exchange beyond the input's, and every document lands in
    the partition an explicit repartition(2p, pmod(xxhash64(doc_id), 64p))
    gives it (flatten and mapInArrow are narrow)."""
    from eynollah_spark.corpus import nest_corpus

    docs = nest_corpus(corpus)
    out = extract(docs, partitions=8, nested=True)
    p_out = out._jdf.queryExecution().executedPlan().toString()
    p_in = docs._jdf.queryExecution().executedPlan().toString()
    assert "size(spans" not in p_out
    assert p_out.count("Exchange") == p_in.count("Exchange") + 1
    ref = docs.repartition(16, F.pmod(F.xxhash64("doc_id"), F.lit(512)).cast("int"))
    a = (out.select("doc_id", F.spark_partition_id().alias("p"))
         .orderBy("doc_id").collect())
    b = (ref.select("doc_id", F.spark_partition_id().alias("p"))
         .orderBy("doc_id").collect())
    assert len(a) == N_DOCS
    assert a == b


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="3.13's zipimport reads the directory lazily")
def test_workers_run_the_stat_keyed_zipimport_cache(spark):
    """The package init replaces zipimport's per-task directory re-read in
    every Python worker that runs our code: each of 16 tasks that imports
    from eynollah_spark reports the package's invalidate_caches."""
    from eynollah_spark.packaging import ensure_distributed

    ensure_distributed(spark)

    def probe(batches):
        import zipimport

        import pyarrow as pa

        from eynollah_spark import KERNEL_VERSION  # noqa: F401

        for _ in batches:
            yield pa.RecordBatch.from_pydict(
                {"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    rows = (spark.range(16, numPartitions=16)
            .mapInArrow(probe, "m string").collect())
    assert [r["m"] for r in rows] == ["eynollah_spark"] * 16


def test_ensure_distributed_survives_unbuildable_zip(spark, monkeypatch):
    """An unwritable zip cache dir must not fail the job: shipping falls
    back to nothing, with one warning."""
    from eynollah_spark import packaging

    def unwritable(cache_dir=None):
        raise PermissionError("read-only cache dir")

    monkeypatch.setattr(packaging, "_shipped", set())
    monkeypatch.setattr(packaging, "build_zip", unwritable)
    with pytest.warns(UserWarning, match="package zip not shipped"):
        packaging.ensure_distributed(spark)
    assert id(spark.sparkContext) in packaging._shipped
