"""Checkpoint/lineage integration (r2 VERDICT item 4).

run_extraction stages its input once as doc-complete files per bucket,
then commits each bucket batch as a snapshot: its extraction tasks
write the data files and return the per-file lineage (docs, spans,
kind histogram, input rows) the manifest sums per bucket, with no
re-read of what they wrote. These tests cover the manifest lineage,
idempotent resume, time travel and rollback, sparse and deleted
buckets, two writers that pick the same snapshot id, the one
bucketize job and its staging dir."""

import json
import os

import pytest
from pyspark.sql import functions as F

from eynollah_spark.corpus import corpus_flat_spark, nest_corpus
from eynollah_spark.manifest import completed_parts, run_extraction


def test_manifest_lineage_and_resume(spark, tmp_path):
    """Snapshot-per-batch emulation: each commit's manifest records
    lineage (kernel version, parent id, ts) + per-bucket metrics (docs,
    spans, kind histogram) computed from the COMMITTED files; a re-run
    skips completed buckets; metrics reconcile with the table exactly."""
    from eynollah_spark.manifest import read_as_of, snapshots

    out = str(tmp_path / "out")
    docs = nest_corpus(corpus_flat_spark(spark, 60, partitions=2))
    s1 = run_extraction(docs, out, n_parts=4, partitions=2, parts_per_batch=2)
    assert s1["processed"] == 4 and s1["skipped"] == 0
    assert s1["snapshot_ids"] == [1, 2]
    assert completed_parts(out) == {0, 1, 2, 3}

    # lineage + metrics reconcile with committed data
    written = read_as_of(spark, out)
    per_part = {r["part"]: (r["docs"], r["spans"]) for r in
                written.groupBy("part")
                .agg(F.countDistinct("doc_id").alias("docs"),
                     F.count("*").alias("spans")).collect()}
    snaps = snapshots(out)
    assert [s["snapshot_id"] for s in snaps] == [1, 2]
    assert snaps[0]["parent_id"] is None and snaps[1]["parent_id"] == 1
    seen = {}
    for s in snaps:
        assert s["kernel_version"] and s["ts"]
        for p, m in s["parts"].items():
            seen[int(p)] = m
            hist = json.loads(m["kind_hist"])
            assert sum(hist.values()) == m["spans"]
    assert set(seen) == {0, 1, 2, 3}
    for p in range(4):
        assert (seen[p]["docs"], seen[p]["spans"]) == per_part.get(p, (0, 0))

    # idempotent resume: nothing left to do, no new snapshot
    s2 = run_extraction(docs, out, n_parts=4, partitions=2)
    assert s2["processed"] == 0 and s2["skipped"] == 4
    assert [s["snapshot_id"] for s in snapshots(out)] == [1, 2]

    # partial resume: roll back the second snapshot -> exactly its two
    # buckets reprocess into a FRESH snapshot id (never reusing the
    # rolled-back data dir), and the table contents converge again
    from eynollah_spark.manifest import rollback

    before = written.count()
    assert rollback(out, 1) == 1
    assert completed_parts(out) == set(_assignment_parts(out, 1))
    s3 = run_extraction(docs, out, n_parts=4, partitions=2)
    assert s3["processed"] == 2 and s3["skipped"] == 2
    assert s3["snapshot_ids"] == [3]
    assert read_as_of(spark, out).count() == before


def _assignment_parts(out, sid):
    from eynollah_spark.manifest import _assignment
    return set(_assignment(out, as_of=sid))


def test_snapshot_time_travel_and_rollback(spark, tmp_path):
    """The Iceberg contract SURVEY §7 promises, without the jar
    (VERDICT r4 item 5): monotonic snapshot ids, VERSION AS OF reads at
    every historical id, rollback to an id, and idempotent resume after
    rollback."""
    from eynollah_spark.manifest import (
        current_snapshot_id,
        read_as_of,
        rollback,
        snapshots,
    )

    out = str(tmp_path / "snap")
    docs = nest_corpus(corpus_flat_spark(spark, 40, partitions=2))
    # two snapshots: buckets {0,1} then {2,3}
    run_extraction(docs, out, n_parts=4, partitions=2, parts_per_batch=2)
    assert current_snapshot_id(out) == 2

    v1 = read_as_of(spark, out, snapshot_id=1)
    v2 = read_as_of(spark, out, snapshot_id=2)
    cur = read_as_of(spark, out)
    assert set(r["part"] for r in v1.select("part").distinct().collect()) == {0, 1}
    assert set(r["part"] for r in v2.select("part").distinct().collect()) == {0, 1, 2, 3}
    assert v2.count() == cur.count() > v1.count() > 0
    # as-of is stable across later commits: snapshot 1 still readable
    # byte-for-byte after the table moved on
    n_v1 = v1.count()

    # rollback to snapshot 1: table state rewinds, history ahead is gone
    assert rollback(out, 1) == 1
    assert current_snapshot_id(out) == 1
    assert read_as_of(spark, out).count() == n_v1
    with pytest.raises(ValueError):
        read_as_of(spark, out, snapshot_id=0)  # before the first commit

    # resume after rollback reprocesses exactly the rolled-back buckets
    # into a fresh id (3 — ids never rewind), converging to v2's content
    s = run_extraction(docs, out, n_parts=4, partitions=2)
    assert s["processed"] == 2 and s["snapshot_ids"] == [3]
    assert current_snapshot_id(out) == 3
    v3 = read_as_of(spark, out)
    assert v3.count() == v2.count()
    # and the old snapshot is STILL time-travel-readable
    assert read_as_of(spark, out, snapshot_id=1).count() == n_v1
    assert [s_["snapshot_id"] for s_ in snapshots(out)] == [1, 3]


def test_read_as_of_tolerates_empty_buckets(spark, tmp_path):
    """ADVICE r5 (medium): run_extraction records every bucket of a batch
    in the manifest, but its writer materializes no part=<p> directory
    for a bucket that received zero docs — with 3 docs over n_parts=8
    most buckets are empty and read_as_of used to throw PATH_NOT_FOUND.
    Empty bucket == empty relation; an ALL-empty table reads as an empty
    DataFrame with the flat sink schema."""
    from eynollah_spark.manifest import read_as_of, run_extraction

    out = str(tmp_path / "sparse")
    docs = nest_corpus(corpus_flat_spark(spark, 3, partitions=2))
    s = run_extraction(docs, out, n_parts=8, partitions=4)
    assert s["processed"] == 8
    df = read_as_of(spark, out)
    n_docs = df.select("doc_id").distinct().count()
    assert n_docs == docs.count()
    # all-empty table: zero docs still commits snapshots that read back
    # as an empty relation with the table schema
    out2 = str(tmp_path / "empty")
    run_extraction(docs.limit(0), out2, n_parts=4, partitions=4)
    empty = read_as_of(spark, out2)
    assert empty.count() == 0
    assert "doc_id" in empty.columns and "part" in empty.columns


def test_read_as_of_raises_on_deleted_nonempty_part(spark, tmp_path):
    """A part=<p> dir the manifest recorded with docs > 0 that is gone
    from disk is data loss, not an empty bucket: read_as_of names the
    missing path instead of serving a smaller table. Snapshots that do
    not serve that part still read."""
    import re
    import shutil

    from eynollah_spark.manifest import _snap_dir, read_as_of, snapshots

    out = str(tmp_path / "lost")
    docs = nest_corpus(corpus_flat_spark(spark, 40, partitions=2))
    run_extraction(docs, out, n_parts=4, partitions=2, parts_per_batch=2)
    n_v1 = read_as_of(spark, out, snapshot_id=1).count()
    last = snapshots(out)[-1]
    p = next(int(p) for p, m in last["parts"].items() if m["docs"] > 0)
    lost = os.path.join(_snap_dir(out, last["snapshot_id"]), f"part={p}")
    shutil.rmtree(lost)
    with pytest.raises(FileNotFoundError, match=re.escape(lost)):
        read_as_of(spark, out)
    assert read_as_of(spark, out, snapshot_id=1).count() == n_v1


def test_snapshot_id_taken_by_another_writer(spark, tmp_path, monkeypatch):
    """Two writers that pick the same snapshot id must not mix their
    files: run_extraction claims its data dir and, when the dir is taken,
    commits under the next free id, leaving the other writer's dir as
    it was."""
    from eynollah_spark import manifest
    from eynollah_spark.manifest import _snap_dir, read_as_of, snapshots

    out = str(tmp_path / "race")
    taken = _snap_dir(out, 1)
    os.makedirs(taken)
    with open(os.path.join(taken, "marker"), "w") as f:
        f.write("other writer")
    monkeypatch.setattr(manifest, "_next_snapshot_id", lambda _out: 1)
    docs = nest_corpus(corpus_flat_spark(spark, 20, partitions=2))
    s = run_extraction(docs, out, n_parts=2, partitions=2)
    assert s["snapshot_ids"] == [2]
    assert [sn["snapshot_id"] for sn in snapshots(out)] == [2]
    assert os.listdir(taken) == ["marker"]
    with open(os.path.join(taken, "marker")) as f:
        assert f.read() == "other writer"
    assert read_as_of(spark, out).select("doc_id").distinct().count() == s["docs"]


def test_run_extraction_reads_nothing_it_wrote(spark, tmp_path, monkeypatch):
    """The lineage comes from the writing tasks: run_extraction reads none
    of the data it committed (its tasks read the staged input with
    pyarrow, not through Spark), and each part=<p> dir holds only
    committed part-NNNNN.parquet files (no temp-file leftovers)."""
    import re

    from pyspark.sql.readwriter import DataFrameReader

    from eynollah_spark.manifest import _data_path

    out = str(tmp_path / "noreread")
    docs = nest_corpus(corpus_flat_spark(spark, 40, partitions=2))
    real = DataFrameReader.parquet

    def guarded(self, *paths, **kw):
        hit = [p for p in paths if str(p).startswith(out)]
        assert not hit, f"run_extraction re-read its output: {hit}"
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", guarded)
    s = run_extraction(docs, out, n_parts=4, partitions=2, parts_per_batch=2)
    monkeypatch.setattr(DataFrameReader, "parquet", real)
    assert s["processed"] == 4 and s["docs"] > 0
    part_dirs = [os.path.join(r, d) for r, ds, _ in os.walk(_data_path(out))
                 for d in ds if d.startswith("part=")]
    assert part_dirs
    for d in part_dirs:
        names = os.listdir(d)
        assert names and all(re.fullmatch(r"part-\d{5}\.parquet", n)
                             for n in names), names


def test_quarantined_docs_are_counted(spark, tmp_path):
    """run_extraction runs the kernel with fail_fast=False: a document it
    fails on (here a zero page width) is written in offset order and
    counted, with the class of the exception that quarantined it, in the
    summary and in its bucket's manifest entry; a clean run counts
    none."""
    from eynollah_spark.manifest import read_as_of, snapshots

    victim = "doc00000003"
    flat = corpus_flat_spark(spark, 40, partitions=2)
    bad = flat.withColumn("width", F.when(F.col("doc_id") == victim, 0)
                          .otherwise(F.col("width")))
    victim_part = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(victim)), F.lit(4))).first()[0]
    for name, frame, want in (("clean", flat, 0), ("bad", bad, 1)):
        out = str(tmp_path / name)
        s = run_extraction(nest_corpus(frame), out, n_parts=4, partitions=2,
                           parts_per_batch=4)
        assert s["quarantined"] == want
        assert s["quarantine_causes"] == ({"PageSizeError": 1} if want else {})
        parts = snapshots(out)[0]["parts"]
        assert {int(p): m["quarantined"] for p, m in parts.items()} == {
            p: want * (p == victim_part) for p in range(4)}
        assert {int(p): m["quarantine_causes"] for p, m in parts.items()} == {
            p: {"PageSizeError": want} if want and p == victim_part else {}
            for p in range(4)}
    rows = (read_as_of(spark, out).filter(F.col("doc_id") == victim)
            .orderBy("ord").collect())
    assert len(rows) > 1
    assert [r["offset"] for r in rows] == sorted(r["offset"] for r in rows)


def _staging_left(out):
    stage = os.path.join(out, "_staging")
    return os.listdir(stage) if os.path.isdir(stage) else []


def test_run_extraction_bucketizes_once(spark, tmp_path, monkeypatch):
    """One bucketize job per call: over 4 buckets in batches of 2,
    run_extraction builds pipeline._kernel_input's plan once, every
    staged document lies in exactly one staged file, and the staging dir
    is gone afterwards. The manifest's partition load: each part's
    rows_in, summed over the parts, is the staged row count, and each
    snapshot's load_max_mean (max / mean of the tasks' input rows) is at
    least 1."""
    import pyarrow.parquet as pq

    from eynollah_spark import manifest
    from eynollah_spark.manifest import snapshots

    calls, staged = [], []
    real_input, real_job = manifest._kernel_input, manifest._file_job

    def kernel_input(*a, **kw):
        calls.append(a)
        return real_input(*a, **kw)

    def file_job(spark_, paths, *a, **kw):
        staged.extend(pq.read_table(p, columns=["doc_id"]) for p in paths)
        return real_job(spark_, paths, *a, **kw)

    monkeypatch.setattr(manifest, "_kernel_input", kernel_input)
    monkeypatch.setattr(manifest, "_file_job", file_job)
    out = str(tmp_path / "once")
    docs = nest_corpus(corpus_flat_spark(spark, 60, partitions=2))
    s = run_extraction(docs, out, n_parts=4, partitions=2, parts_per_batch=2)
    assert s["processed"] == 4 and s["snapshot_ids"] == [1, 2]
    assert len(calls) == 1 and s["bucketize_s"] > 0
    assert _staging_left(out) == []
    owners = {}
    for i, t in enumerate(staged):
        for d in set(t.column("doc_id").to_pylist()):
            owners.setdefault(d, set()).add(i)
    assert owners and all(len(files) == 1 for files in owners.values())
    snaps = snapshots(out)
    assert sum(m["rows_in"] for sn in snaps for m in sn["parts"].values()) == sum(
        t.num_rows for t in staged) > 0
    assert all(sn["load_max_mean"] >= 1 for sn in snaps)


def test_failed_batch_leaves_no_staging_and_resumes(spark, tmp_path, monkeypatch):
    """A run whose second batch job raises leaves its staging dir empty
    and its first snapshot committed and readable; a re-run completes
    only the missing buckets and gives the table a clean run gives."""
    from eynollah_spark import manifest
    from eynollah_spark.manifest import read_as_of, snapshots

    docs = nest_corpus(corpus_flat_spark(spark, 40, partitions=2))
    clean = str(tmp_path / "clean")
    run_extraction(docs, clean, n_parts=4, partitions=2, parts_per_batch=2)
    want = sorted(map(tuple, read_as_of(spark, clean).collect()))

    real_job, jobs = manifest._file_job, []

    def failing_job(*a, **kw):
        jobs.append(1)
        if len(jobs) == 2:
            raise RuntimeError("batch job failed")
        return real_job(*a, **kw)

    out = str(tmp_path / "failed")
    monkeypatch.setattr(manifest, "_file_job", failing_job)
    with pytest.raises(RuntimeError, match="batch job failed"):
        run_extraction(docs, out, n_parts=4, partitions=2, parts_per_batch=2)
    monkeypatch.setattr(manifest, "_file_job", real_job)
    assert _staging_left(out) == []
    assert [sn["snapshot_id"] for sn in snapshots(out)] == [1]
    assert completed_parts(out) == {0, 1}
    assert read_as_of(spark, out).count() == read_as_of(spark, clean, 1).count() > 0
    s = run_extraction(docs, out, n_parts=4, partitions=2, parts_per_batch=2)
    assert s["processed"] == 2 and s["skipped"] == 2
    assert _staging_left(out) == []
    assert sorted(map(tuple, read_as_of(spark, out).collect())) == want
