"""End-to-end Spark pipeline gate: distributed corpus -> extraction ->
span-sequence equality vs the by-construction oracle."""

import shutil
import sys

import pytest
from pyspark.sql import functions as F

from eynollah_spark.corpus import corpus_flat_spark, expected_spark, nest_corpus
from eynollah_spark.pipeline import _kernel_input, extract_flat_input

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


def test_extract_flat_input_matches(spark, corpus):
    out = extract_flat_input(corpus.drop("expected_kind", "expected_rank"), partitions=8)
    assert _mismatches(out, expected_spark(corpus)) == 0


def test_extract_flat_input_emits_the_input_geometry(corpus):
    """Every output row carries its input span's page size and box: the
    emitted (width, height, x0..y1) equal the input row's, matched on
    (doc_id, offset), for every span of the 200 generated documents."""
    geom = ["width", "height", "x0", "x1", "y0", "y1"]
    flat = corpus.filter(F.col("offset") >= 0)
    out = extract_flat_input(flat, partitions=8)
    j = (flat.select("doc_id", "offset", *(F.col(c).alias(f"i_{c}") for c in geom))
         .join(out, ["doc_id", "offset"], "full_outer"))
    assert j.count() == flat.count() > 0
    assert j.filter(~F.coalesce(F.expr(" AND ".join(f"{c} = i_{c}" for c in geom)),
                                F.lit(False))).count() == 0


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


def test_task_side_scan_writes_one_file_per_input_file(spark, tmp_path, monkeypatch):
    """The fast path writes one output file per input file with output,
    named after the input's index in the sorted path list, holding the
    rows the kernel gives that file alone, also when a small row budget
    splits every task into several chunks (each of the 2 tasks holds 3
    or 4 files, and any two non-empty files exceed the budget). An empty
    input file has no output."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from eynollah_spark import pipeline

    corpus_dir = str(tmp_path / "corpus")
    (corpus_flat_spark(spark, 80, partitions=4)
     .drop("expected_kind", "expected_rank")
     .repartition(6, F.xxhash64("doc_id"))
     .write.parquet(corpus_dir))
    files = sorted(glob.glob(corpus_dir + "/*.parquet"))
    pq.write_table(pq.read_table(files[0]).slice(0, 0), corpus_dir + "/zz-empty.parquet")
    files = sorted(glob.glob(corpus_dir + "/*.parquet"))
    rows = [pq.read_metadata(f).num_rows for f in files]
    assert len(files) == 7 and sorted(rows)[0] == 0 < sorted(rows)[1]
    monkeypatch.setattr(pipeline, "_CHUNK_ROWS", sorted(rows)[1])

    kern, alone = pipeline.make_partition_arrow_kernel(), {}
    for i, f in enumerate(files):
        outs = list(kern(iter(pq.read_table(f).to_batches())))
        if outs:
            alone[f"part-{i:05d}.parquet"] = pa.Table.from_batches(outs)
    assert len(alone) == 6

    out_dir = str(tmp_path / "written")
    got = pipeline.extract_from_parquet_files(spark, files, partitions=2,
                                              include_payload=False,
                                              write_dir=out_dir)
    cols = ["doc_id", "ord", "kind", "offset"]
    assert sorted(map(tuple, got.collect())) == sorted(
        r for t in alone.values() for r in zip(*t.select(cols).to_pydict().values()))
    assert sorted(os.listdir(out_dir)) == sorted(alone)
    for name, want in alone.items():
        assert pq.read_table(os.path.join(out_dir, name)).equals(want), name


def test_task_side_scan_counts_quarantined_docs(spark, tmp_path):
    """With fail_fast=False the fast path quarantines a document the
    kernel fails on (here a zero page width): it is written in offset
    order, and the stats_only rows count it once."""
    import glob

    victim = "doc00000003"
    corpus_dir = str(tmp_path / "corpus")
    flat = corpus_flat_spark(spark, 40, partitions=2)
    (flat.withColumn("width", F.when(F.col("doc_id") == victim, 0)
                     .otherwise(F.col("width")))
     .drop("expected_kind", "expected_rank")
     .repartition(4, F.xxhash64("doc_id"))
     .write.parquet(corpus_dir))
    from eynollah_spark.pipeline import extract_from_parquet_files

    out_dir = str(tmp_path / "written")
    stats = extract_from_parquet_files(
        spark, sorted(glob.glob(corpus_dir + "/*.parquet")), partitions=2,
        include_payload=False, write_dir=out_dir, stats_only=True,
        fail_fast=False).collect()
    assert sum(r["quarantined"] for r in stats) == 1
    written = spark.read.parquet(out_dir)
    assert written.count() == sum(r["n_rows"] for r in stats)
    rows = written.filter(F.col("doc_id") == victim).orderBy("ord").collect()
    assert len(rows) > 1
    assert [r["offset"] for r in rows] == sorted(r["offset"] for r in rows)


def test_worker_heap_is_frozen_only_in_spark_tasks(spark, corpus):
    """layout_partition freezes the heap of a Spark Python worker from its
    first kernel call on, and never the heap of the driver (or any
    process outside a Spark task)."""
    import gc

    from eynollah_spark.packaging import ensure_distributed
    from eynollah_spark.pipeline import layout_partition
    from eynollah_spark.schemas import FLAT_IN_FIELDS

    flat = corpus.select(*FLAT_IN_FIELDS)
    assert layout_partition(flat.limit(300).toArrow().to_batches()) is not None
    assert gc.get_freeze_count() == 0

    def probe(batches):
        import gc

        import pyarrow as pa

        from eynollah_spark.pipeline import layout_partition

        layout_partition(batches)
        yield pa.RecordBatch.from_pydict({"frozen": [gc.get_freeze_count()]})

    ensure_distributed(spark)
    rows = flat.repartition(4).mapInArrow(probe, "frozen long").collect()
    assert len(rows) == 4 and all(r["frozen"] > 0 for r in rows)


def test_worker_heap_refreezes_after_new_imports(monkeypatch):
    """Inside a task, the heap is frozen at the first kernel call and
    again only at a call that finds modules imported since (PySpark's
    worker imports pandas after the first task's kernel)."""
    import gc
    import types

    from pyspark import TaskContext

    from eynollah_spark import pipeline

    freezes = []
    monkeypatch.setattr(TaskContext, "get", classmethod(lambda cls: cls))
    monkeypatch.setattr(gc, "freeze", lambda: freezes.append(len(sys.modules)))
    monkeypatch.setattr(pipeline, "_frozen_modules", 0)
    pipeline._freeze_worker_heap()
    pipeline._freeze_worker_heap()
    assert freezes == [len(sys.modules)]
    monkeypatch.setitem(sys.modules, "_imported_after_freeze", types.ModuleType("m"))
    pipeline._freeze_worker_heap()
    pipeline._freeze_worker_heap()
    assert freezes == [len(sys.modules) - 1, len(sys.modules)]


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


def test_reading_order_check_sees_lost_and_duplicated_rows(corpus):
    """extract_reading_order's plan (generation -> self-checking kernel
    -> bucket sums) over rows corrupted after corpus_flat_spark, inside
    their own partitions: a document's dropped last-rank row, or one
    duplicated row, gives n_bad > 0; the clean rows give 0."""
    from eynollah_spark.queries import _reading_order_check

    victim = F.col("doc_id") == "doc00000003"
    last = victim & (F.col("expected_rank") == F.col("expected_n") - 1)
    dup = (corpus.withColumn("_n", F.explode(F.sequence(
        F.lit(1), F.when(victim & (F.col("expected_rank") == 0), 2).otherwise(1))))
        .drop("_n"))
    assert dup.count() == corpus.count() + 1

    def n_bad(flat):
        return sum(r["n_bad"] for r in _reading_order_check(flat).collect())

    assert n_bad(corpus) == 0
    assert n_bad(corpus.filter(~last)) > 0
    assert n_bad(dup) > 0


def _exchanges_beyond_input(out, inp) -> int:
    def count(df):
        return df._jdf.queryExecution().executedPlan().toString().count("Exchange")
    return count(out) - count(inp)


def test_extract_repartition_is_one_hash_exchange(spark, corpus):
    """Both shuffled entries, extract_flat_input and run_extraction's
    _kernel_input, repartition once, on the wide xxhash64(doc_id)
    keyspace and on nothing else: no size(spans) evaluation in the plan,
    exactly ONE exchange beyond the input's, and every document lands in
    the partition an explicit repartition(2p, pmod(xxhash64(doc_id), 64p))
    gives it (flatten and mapInArrow are narrow)."""
    docs = nest_corpus(corpus)
    ref = corpus.repartition(16, F.pmod(F.xxhash64("doc_id"), F.lit(512)).cast("int"))
    want = {r["doc_id"]: r["p"] for r in ref.select(
        "doc_id", F.spark_partition_id().alias("p")).distinct().collect()}
    n_with_spans = corpus.filter(F.col("kind").isNotNull()).select("doc_id").distinct().count()
    for inp, out in ((docs, _kernel_input(docs, 8, 0.0)),
                     (corpus, extract_flat_input(corpus, partitions=8))):
        assert "size(spans" not in out._jdf.queryExecution().executedPlan().toString()
        assert _exchanges_beyond_input(out, inp) == 1
        got = {r["doc_id"]: r["p"] for r in out.select(
            "doc_id", F.spark_partition_id().alias("p")).distinct().collect()}
        assert len(got) == n_with_spans
        assert got == {d: want[d] for d in got}


def test_printspace_filter_adds_no_exchange(corpus):
    """run_extraction's plan with the printspace filter on is the same
    single exchange as without it: the filter is a narrow predicate on
    the flat rows, with no per-document re-emit of emptied documents."""
    docs = nest_corpus(corpus)
    assert _exchanges_beyond_input(_kernel_input(docs, 8, 0.05), docs) == 1


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
