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

A batch is one Spark job whose tasks run pipeline._keyed_outputs (the
fast path's task body) with rows keyed by bucket, write one file per
(task, bucket) and return its lineage row (docs, spans, kind histogram,
quarantined docs and their exception classes); the Spark driver process
sums these into the manifest.
As in Iceberg's manifests, file stats are recorded at commit time, with
no re-read.

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
import time
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession, functions as F

from eynollah_spark import KERNEL_VERSION
from eynollah_spark.pipeline import _KEY, _keyed_outputs, _kernel_input, write_parquet_atomic


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


def _bucket_writer(snap_dir: str, kernel_kwargs: dict):
    """The mapInArrow function of one batch: pipeline._keyed_outputs
    (fail_fast=False, ``kernel_kwargs``) over the task's doc-complete
    partition, its rows keyed by bucket; write each bucket's rows to
    snap_dir/part=<p>/part-<task>.parquet (the flat sink columns; the
    bucket is in the path only) and yield one lineage row per bucket."""

    def write(batches):
        task = TaskContext.get().partitionId()
        lineage = []
        for p, rows, causes in _keyed_outputs(batches, include_payload=True,
                                               fail_fast=False, **kernel_kwargs):
            write_parquet_atomic(pa.Table.from_batches([rows]), os.path.join(
                snap_dir, f"part={p}", f"part-{task:05d}.parquet"))
            hist = pc.value_counts(rows.column("kind"))
            lineage.append({
                "part": p, "spans": rows.num_rows,
                "docs": pc.count_distinct(rows.column("doc_id")).as_py(),
                "kind_hist": json.dumps(dict(zip(
                    hist.field("values").to_pylist(),
                    hist.field("counts").to_pylist()))),
                "quarantined": sum(causes.values()),
                "quarantine_causes": json.dumps(dict(causes))})
        if lineage:
            yield pa.RecordBatch.from_pylist(lineage)

    return write


def run_extraction(docs: DataFrame, out_path: str, n_parts: int = 8,
                   partitions: int | None = None, parts_per_batch: int = 4,
                   extract_kwargs: dict | None = None) -> dict:
    """Extract with per-bucket checkpointing; resumable.

    Returns summary metrics (``quarantined``: documents the kernel failed
    on, emitted in offset order; ``quarantine_causes``: their count by
    exception class, as in each manifest part entry). Re-running after a
    failure skips buckets already recorded in the manifest. Each batch of
    `parts_per_batch` buckets is one Spark job over pipeline._kernel_input's
    plan (one doc_id hash exchange, flatten, the optional printspace
    filter) and the flat kernel (`partitions`; `extract_kwargs`:
    num_col_lower, num_col_upper, printspace_margin) with fail_fast=False,
    whose tasks write the snapshot's data files and return the lineage
    the manifest commits. A document without spans has no output rows
    and is not counted in `docs`.
    """
    kw = dict(extract_kwargs or {})
    margin = kw.pop("printspace_margin", 0.0)
    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(n_parts)).cast("int")
    done = completed_parts(out_path)
    todo = [p for p in range(n_parts) if p not in done]
    summary = {"n_parts": n_parts, "skipped": len(done), "processed": 0,
               "docs": 0, "spans": 0, "quarantined": 0, "quarantine_causes": Counter()}
    os.makedirs(_manifest_path(out_path), exist_ok=True)
    for i in range(0, len(todo), parts_per_batch):
        batch = todo[i:i + parts_per_batch]
        t0 = time.time()
        sid = _reserve_snapshot_dir(out_path)
        flat = _kernel_input(docs.filter(bucket.isin(batch)), partitions, margin)
        rows = (flat.withColumn(_KEY, bucket)
                .mapInArrow(_bucket_writer(_snap_dir(out_path, sid), kw),
                            "part long, spans long, docs long, kind_hist string, "
                            "quarantined long, quarantine_causes string")
                .collect())
        parts_meta = {p: {"docs": 0, "spans": 0, "kind_hist": Counter(),
                          "quarantined": 0, "quarantine_causes": Counter()}
                      for p in batch}
        for r in rows:
            m = parts_meta[r["part"]]
            for k in ("docs", "spans", "quarantined"):
                m[k] += r[k]
            m["kind_hist"].update(json.loads(r["kind_hist"]))
            m["quarantine_causes"].update(json.loads(r["quarantine_causes"]))
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
            "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        tmp = os.path.join(_manifest_path(out_path), f".snap-{sid:06d}.json.tmp")
        with open(tmp, "w") as f:
            f.write(json.dumps(manifest) + "\n")
        os.rename(tmp, os.path.join(_manifest_path(out_path), f"snap-{sid:06d}.json"))
        summary.setdefault("snapshot_ids", []).append(sid)
    summary["quarantine_causes"] = dict(sorted(summary["quarantine_causes"].items()))
    return summary
