"""Per-partition checkpointing with lineage manifests + idempotent resume.

North-rule requirement (BASELINE.json): the job checkpoints
per-partition with lineage manifests and span-count/region-histogram
metrics so any failed partition resumes idempotently. This replaces the
reference's skip-if-output-exists check (eynollah.py:2074-2079) with an
anti-join against a manifest table (SURVEY.md A4).

The unit of checkpointing is a *partition bucket*: part =
pmod(xxhash64(doc_id), n_parts). Each run processes the buckets absent
from the manifest, a batch at a time, and commits each batch as a
SNAPSHOT (VERDICT r4 item 5 — the Iceberg contract emulated without the
catalog jar):

  {out}/data/snap-<id>/part=<p>/*.parquet   append-only data files
  {out}/_manifests/snap-<id>.json           the commit point (atomic
                                            tmp+rename; written AFTER
                                            the data, so a crash leaves
                                            an ignored orphan data dir,
                                            never a torn table — the
                                            same metadata-swap commit
                                            Iceberg uses)

Each run first stages the buckets still to do, in ONE bucketize job:
pipeline._kernel_input's plan (the one doc_id hash exchange, flatten,
the optional printspace filter), whose tasks write their rows of each
bucket to {out}/_staging/<run id>/part=<p>/part-<task>.parquet. Every
staged file is doc-complete, the contract of the task-side scan. Each
batch is then one task-side scan job over the batch's staged files
(pipeline._file_job, the job extract_from_parquet_files runs): it
writes data file part-<i>.parquet for the i-th staged file of the batch
and returns one lineage row per file (docs, spans, kind histogram,
quarantined docs and their exception classes, input rows and task),
which the Spark driver process sums per bucket into the manifest. As in
Iceberg's manifests, file stats are recorded at commit time, with no
re-read. The staging dir is removed when the run ends, however it ends.

Snapshot ids are monotonically increasing; the table state at any id is
reconstructed by replaying the manifest log: each part is served by the
LATEST snapshot <= id that wrote it (read_as_of). rollback(id) drops
manifests > id — their data dirs become unreferenced, the affected
parts fall out of completed_parts, and the next run_extraction
reprocesses exactly those buckets into a fresh snapshot (ids never
reuse an existing data dir, so rollback + resume is idempotent).
Reads prune at the directory level: only the part=<p> dirs the
assignment references are listed, so as-of reads stay partition-pruned
at any snapshot count.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession, functions as F

from eynollah_spark import KERNEL_VERSION
from eynollah_spark.pipeline import _file_job, _kernel_input, write_parquet_atomic


def _manifest_path(out_path: str) -> str:
    return os.path.join(out_path, "_manifests")


def _data_path(out_path: str) -> str:
    return os.path.join(out_path, "data")


def _snap_dir(out_path: str, sid: int) -> str:
    return os.path.join(_data_path(out_path), f"snap-{sid:06d}")


def snapshots(out_path: str) -> list[dict]:
    """The committed snapshot log, ascending by id. Pure metadata read —
    one small JSON per commit, no Spark."""
    mp = _manifest_path(out_path)
    out = []
    if not os.path.isdir(mp):
        return out
    for fname in os.listdir(mp):
        if fname.startswith("snap-") and fname.endswith(".json"):
            with open(os.path.join(mp, fname)) as f:
                out.append(json.loads(f.read()))
    out.sort(key=lambda s: s["snapshot_id"])
    return out


def current_snapshot_id(out_path: str) -> int | None:
    snaps = snapshots(out_path)
    return snaps[-1]["snapshot_id"] if snaps else None


def _next_snapshot_id(out_path: str) -> int:
    """1 + max over BOTH the manifest log and the data dirs: a rolled-back
    (or crash-orphaned) data dir must never be reused by a new commit."""
    ids = [s["snapshot_id"] for s in snapshots(out_path)]
    dp = _data_path(out_path)
    if os.path.isdir(dp):
        for d in os.listdir(dp):
            if d.startswith("snap-"):
                try:
                    ids.append(int(d.split("-", 1)[1]))
                except ValueError:
                    pass
    return max(ids, default=0) + 1


def _assignment(out_path: str, as_of: int | None = None) -> dict[int, int]:
    """part -> serving snapshot id at snapshot `as_of` (None = current):
    replay the log in id order, last writer <= as_of wins."""
    assign: dict[int, int] = {}
    for s in snapshots(out_path):
        if as_of is not None and s["snapshot_id"] > as_of:
            break
        for p in s["parts"]:
            assign[int(p)] = s["snapshot_id"]
    return assign


def read_as_of(spark: SparkSession, out_path: str,
               snapshot_id: int | None = None) -> DataFrame:
    """Time-travel read (Iceberg VERSION AS OF contract): the table state
    at `snapshot_id` (None = current). One directory-pruned parquet read
    per serving snapshot — only the part=<p> dirs the assignment
    references are listed — unioned JVM-side."""
    from functools import reduce

    assign = _assignment(out_path, as_of=snapshot_id)
    if not assign:
        raise ValueError(f"no snapshots at or before {snapshot_id!r} in {out_path}")
    recorded = {s["snapshot_id"]: s["parts"] for s in snapshots(out_path)}
    by_sid: dict[int, list[int]] = {}
    for p, sid in assign.items():
        by_sid.setdefault(sid, []).append(p)
    frames = []
    for sid, parts in sorted(by_sid.items()):
        # run_extraction records EVERY bucket of a batch in the manifest,
        # but its tasks create no directory for a bucket that got no
        # rows — a missing part dir the manifest recorded as empty is
        # an EMPTY relation. One it recorded docs for was lost out of
        # band: raise instead of silently serving a smaller table.
        paths = []
        for p in sorted(parts):
            pp = os.path.join(_snap_dir(out_path, sid), f"part={p}")
            if os.path.isdir(pp):
                paths.append(pp)
            elif (n := recorded[sid][str(p)]["docs"]) > 0:
                raise FileNotFoundError(
                    f"snapshot {sid} recorded {n} docs in part {p}, "
                    f"but {pp} is missing")
        if paths:
            frames.append(
                spark.read.option("basePath", _snap_dir(out_path, sid))
                .parquet(*paths))
    if not frames:
        # every referenced bucket was empty: an empty table with the
        # documented flat sink schema (+ the part column of the part=<p> dirs)
        from pyspark.sql import types as T

        from eynollah_spark.schemas import FLAT_OUT_SCHEMA

        schema = T.StructType(
            FLAT_OUT_SCHEMA.fields + [T.StructField("part", T.IntegerType())])
        return spark.createDataFrame([], schema=schema)
    return reduce(lambda a, b: a.unionByName(b), frames)


def rollback(out_path: str, snapshot_id: int) -> int:
    """Drop every snapshot with id > snapshot_id from the log (Iceberg
    rollback-to-snapshot contract). Metadata-only: the dropped snapshots'
    data dirs stay on disk as unreferenced orphans (expire/vacuum is a
    separate concern, as in Iceberg), and ids are never reused, so a
    subsequent run_extraction reprocesses the uncovered buckets into a
    fresh snapshot. Returns the number of snapshots dropped."""
    dropped = 0
    for s in snapshots(out_path):
        if s["snapshot_id"] > snapshot_id:
            os.remove(os.path.join(_manifest_path(out_path),
                                   f"snap-{s['snapshot_id']:06d}.json"))
            dropped += 1
    return dropped


def completed_parts(out_path: str, as_of: int | None = None) -> set[int]:
    """Buckets covered by the (replayed) manifest log."""
    return set(_assignment(out_path, as_of=as_of))


def _reserve_snapshot_dir(out_path: str) -> int:
    """A snapshot id whose data dir this call created: creating a dir
    another writer holds fails, and the id moves on to the next."""
    sid = _next_snapshot_id(out_path)
    while True:
        try:
            os.makedirs(_snap_dir(out_path, sid))
            return sid
        except FileExistsError:
            sid += 1


def _stage_writer(stage: str):
    """The bucketize job's mapInArrow function: write the task's rows of
    each bucket, doc-complete, to stage/part=<p>/part-<task>.parquet (the
    bucket is in the path only) and yield each file's (path, part)."""

    def write(batches):
        batches = list(batches)
        if not batches:
            return
        t = pa.Table.from_batches(batches)
        task = TaskContext.get().partitionId()
        for p in pc.unique(t["part"]).to_pylist():
            path = os.path.join(stage, f"part={p}", f"part-{task:05d}.parquet")
            write_parquet_atomic(t.filter(pc.equal(t["part"], p)).drop_columns(["part"]), path)
            yield pa.RecordBatch.from_pylist([{"path": path, "part": p}])

    return write


def run_extraction(docs: DataFrame, out_path: str, n_parts: int = 8,
                   partitions: int | None = None, parts_per_batch: int = 4,
                   extract_kwargs: dict | None = None) -> dict:
    """Extract with per-bucket checkpointing; resumable.

    Returns summary metrics (``quarantined``: documents the kernel failed
    on, emitted in offset order; ``quarantine_causes``: their count by
    exception class, as in each manifest part entry; ``bucketize_s``: the
    bucketize job's wall). Re-running after a failure skips buckets
    already recorded in the manifest. One bucketize job, over
    pipeline._kernel_input's plan (one doc_id hash exchange, flatten,
    the optional printspace filter; `partitions`), stages the buckets
    still to do; each batch of `parts_per_batch` buckets is then one
    pipeline._file_job over the batch's staged files (fail_fast=False;
    `extract_kwargs`: num_col_lower, num_col_upper, printspace_margin),
    whose tasks write the snapshot's data files and return the lineage
    the manifest commits. A document without spans has no output rows
    and is not counted in `docs`.
    """
    kw = dict(extract_kwargs or {})
    margin = kw.pop("printspace_margin", 0.0)
    done = completed_parts(out_path)
    todo = [p for p in range(n_parts) if p not in done]
    summary = {"n_parts": n_parts, "skipped": len(done), "processed": 0,
               "docs": 0, "spans": 0, "quarantined": 0, "quarantine_causes": Counter(),
               "bucketize_s": 0.0}
    os.makedirs(_manifest_path(out_path), exist_ok=True)
    os.makedirs(os.path.join(out_path, "_staging"), exist_ok=True)
    staged = []
    with tempfile.TemporaryDirectory(dir=os.path.join(out_path, "_staging")) as stage:
        if todo:
            t0 = time.time()
            bucket = F.pmod(F.xxhash64("doc_id"), F.lit(n_parts)).cast("int")
            plan = (_kernel_input(docs.filter(bucket.isin(todo)), partitions, margin)
                    .withColumn("part", bucket))
            staged = sorted(map(tuple, plan.mapInArrow(_stage_writer(stage),
                                                       "path string, part long").collect()))
            summary["bucketize_s"] = round(time.time() - t0, 3)
        for i in range(0, len(todo), parts_per_batch):
            batch = todo[i:i + parts_per_batch]
            t0 = time.time()
            sid = _reserve_snapshot_dir(out_path)
            files = [(f, p) for f, p in staged if p in batch]
            rows = _file_job(docs.sparkSession, [f for f, _ in files],
                             [os.path.join(_snap_dir(out_path, sid), f"part={p}",
                                           f"part-{j:05d}.parquet")
                              for j, (_, p) in enumerate(files)],
                             partitions, stats_only=True, fail_fast=False, **kw).collect()
            parts_meta = {p: {"docs": 0, "spans": 0, "kind_hist": Counter(), "quarantined": 0,
                              "quarantine_causes": Counter(), "rows_in": 0}
                          for p in batch}
            load = Counter()
            for r in rows:
                m = parts_meta[files[r["file"]][1]]
                m["spans"] += r["n_rows"]
                for k in ("docs", "quarantined", "rows_in"):
                    m[k] += r[k]
                m["kind_hist"].update(json.loads(r["kind_hist"]))
                m["quarantine_causes"].update(json.loads(r["quarantine_causes"]))
                load[r["task"]] += r["rows_in"]
            wall = time.time() - t0
            for m in parts_meta.values():
                m["kind_hist"] = json.dumps(dict(sorted(m["kind_hist"].items())),
                                            separators=(",", ":"))
                m["wall_sec"] = round(wall / len(batch), 3)
                for k in ("docs", "spans", "quarantined", "quarantine_causes"):
                    summary[k] += m[k]
                m["quarantine_causes"] = dict(sorted(m["quarantine_causes"].items()))
            summary["processed"] += len(batch)
            manifest = {
                "snapshot_id": sid,
                "parent_id": current_snapshot_id(out_path),
                "kernel_version": KERNEL_VERSION,
                "n_parts": n_parts,
                "parts": {str(p): m for p, m in parts_meta.items()},
                # max / mean of the tasks' input rows (None: no input)
                "load_max_mean": (round(max(load.values()) * len(load) / sum(load.values()), 3)
                                  if sum(load.values()) else None),
                "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
            tmp = os.path.join(_manifest_path(out_path), f".snap-{sid:06d}.json.tmp")
            with open(tmp, "w") as f:
                f.write(json.dumps(manifest) + "\n")
            os.rename(tmp, os.path.join(_manifest_path(out_path), f"snap-{sid:06d}.json"))
            summary.setdefault("snapshot_ids", []).append(sid)
    summary["quarantine_causes"] = dict(sorted(summary["quarantine_causes"].items()))
    return summary
