"""The Spark extraction pipeline: documents -> ordered flat span rows.

Every DataFrame entry runs one plan (SURVEY.md §3.1 lifecycle):

  input (flat span rows, or the nested documents table)
    -> repartition(2p, pmod(xxhash64(doc_id), 64p)) (_repartition_by_doc):
       the plan's one exchange, over a keyspace 64x wider than the
       partition count, so every partition fills (AQE skew handling does
       not apply to UDF stages); every document lands in one partition
    -> nested input only: flatten (posexplode, narrow — preserves
       partitioning) and the optional printspace filter (_kernel_input)
    -> mapInArrow(make_partition_arrow_kernel)  (the task holds its whole
       partition and sorts it ONCE by (doc_id, offset) with an Arrow C++
       sort — canonical order, so the output is bitwise-deterministic
       however the rows were ordered or batched, with no Spark sort
       stage and no carry-over between batches; each document is then
       a contiguous run of rows; payload strings are permuted C++-side
       and never materialize in Python)
         - the kernel's input is one flat span table
           (kernels.layout.Spans): the partition's valid (non-null kind)
           rows, each column gathered into numpy once, kinds as codes of
           the Arrow dictionary's entries, plus the document bounds and
           each document's page size, direction and num_col bounds;
         - ranges of 64 documents of that table (slices, no copy):
           kernels.layout.analyze_pages (the page stage: deskew angle
           scores, page-level projection profiles, smoothing and
           valleys), then kernels.layout.layout_permutations (the rest,
           phase by phase, each phase one numpy pass over the batch with
           the documents as segments). It returns the batch's output
           spans in reading order as rows of the table, which map to
           the partition's rows with one gather. Each document's result
           is bit-identical to running it alone;
         - a batch that raises anywhere is re-run one document at a
           time, as one-document slices of the same table, and a
           document that still raises is quarantined: it falls back to
           offset order and its exception class is counted (the manifest
           records the count per bucket and class).
    -> sink: flat rows (doc_id, ord, kind, text, media_ref, offset), one
       per output span; `ord` is the reading order. A document without
       spans has no rows. extract_flat_input's rows also carry the span's
       input geometry (width, height, x0..y1) and its document's applied
       deskew angle (angle_deg), so no consumer joins the input back.

The entries: extract_flat_input (flat span rows) and
extract_from_parquet_files, the zero-shuffle task-side scan over
doc-complete files and the product path: manifest.run_extraction stages
nested documents as such files in one bucketize job (_kernel_input's
plan above), then runs the same job (_file_job) on each bucket batch.
Its task body is _keyed_outputs: one kernel call over rows keyed by
input file, its output and quarantine counts split by key. Its unit of
work is the task, not the file:

  sorted file list -> packed onto tasks by byte size, largest first onto
  the lightest task (_pack_files)
    -> per task: read its files in order; run _keyed_outputs once per
       chunk of consecutive files of at most _CHUNK_ROWS rows (a bigger
       file is a chunk of its own), keyed by the file's index, so a task
       holds at most one chunk plus one file:
    -> one output file per input file with output spans, named after the
       input's index in the sorted list (part-<index:05d>.parquet), so a
       retry or another packing rewrites the same names, and one lineage
       row per input file (_lineage).

Every Spark Python worker freezes its heap at its first kernel call,
and again after new imports (_freeze_worker_heap): the daemon's full
gc.collect() after each task then skips the imported modules' objects.

The kernel itself is eynollah_spark.kernels.layout.layout_permutations
— see that module for reference-semantics citations.
"""

from __future__ import annotations

import gc
import json
import sys
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

# layout_permutation is bound here for perfbench's kernel tracing, which
# patches this module's attribute
from eynollah_spark.kernels.layout import (  # noqa: F401
    Spans, analyze_pages, kind_codes, layout_permutation, layout_permutations)
from eynollah_spark.schemas import FLAT_GEOM_OUT_SCHEMA, FLAT_IN_FIELDS, FLAT_OUT_SCHEMA


def filter_printspace(flat: DataFrame, frame=None,
                      margin_frac: float = 0.02) -> DataFrame:
    """B9 page-frame / printspace filter (extract_text_regions page-frame
    model + crop, eynollah.py:318-401): drop spans whose center falls
    outside the printspace box. `frame` is (x0, x1, y0, y1) absolute, or
    None to derive it per page from the page dims shrunk by margin_frac
    (the model-free default). Pure column predicates — evaluated inside
    the scan stage's codegen filter, no shuffle, no Python."""
    cx = (F.col("x0") + F.col("x1")) / 2
    cy = (F.col("y0") + F.col("y1")) / 2
    if frame is not None:
        fx0, fx1, fy0, fy1 = (F.lit(float(v)) for v in frame)
    else:
        fx0 = margin_frac * F.col("width")
        fx1 = (1 - margin_frac) * F.col("width")
        fy0 = margin_frac * F.col("height")
        fy1 = (1 - margin_frac) * F.col("height")
    return flat.filter((cx >= fx0) & (cx <= fx1) & (cy >= fy0) & (cy <= fy1))


def flatten(df: DataFrame) -> DataFrame:
    """Nested documents -> one row per span (narrow op). Keeps doc meta on
    every row; a document without spans has no rows, as it has no
    output."""
    return df.select(
        "doc_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.coalesce(F.col("meta.rtl"), F.lit(False)).alias("rtl"),
        F.posexplode(F.arrays_zip("spans", "geom")).alias("_i", "z"),
    ).select(
        "doc_id", "width", "height", "rtl",
        F.col("z.spans.kind").alias("kind"),
        F.col("z.spans.text").alias("text"),
        F.col("z.spans.media_ref").alias("media_ref"),
        F.col("z.spans.offset").alias("offset"),
        F.col("z.geom.x0").alias("x0"),
        F.col("z.geom.x1").alias("x1"),
        F.col("z.geom.y0").alias("y0"),
        F.col("z.geom.y1").alias("y1"),
    )


#: documents per layout_permutations batch: large enough to amortize
#: numpy dispatch, small enough that the batch's [docs x 1024] profile
#: matrices stay in cache, and the re-run after a failed batch stays short
_PAGE_BATCH = 64

#: the key column of _keyed_outputs' input rows: a document boundary and
#: the kernel's first sort key
_KEY = "_key"


def _safe_permutations(spans: Spans, a: int, b: int, fail_fast: bool):
    """The layout kernel over documents ``[a, b)`` of the span table, with
    per-document failure quarantine: at 10^12 docs a single pathological
    page must not kill the job (the reference's halt_fail global abort,
    eynollah.py:2023-2028, is replaced by degrade-and-continue). If the
    batch raises, in analyze_pages or layout_permutations, each document
    is re-run alone; one that still raises falls back to input-offset
    order, unrotated (total, kinds unchanged). Returns (take, marg,
    counts, angle, failed): the documents' output spans in reading order
    as rows of ``spans``, their marginalia flags, each document's number
    of output spans and applied deskew angle, and {document: the class
    name of the exception that quarantined it}. fail_fast=True (tests/CI)
    re-raises instead."""
    batch = spans[a:b]
    try:
        pages = analyze_pages(batch)
        order = layout_permutations(batch, pages)
        return order.perm + spans.bounds[a], order.marg, order.counts, pages.ang, {}
    except Exception as e:
        if fail_fast:
            raise
        if b - a > 1:
            *res, failed = zip(*(_safe_permutations(spans, d, d + 1, fail_fast)
                                 for d in range(a, b)))
            return (*map(np.concatenate, res),
                    {d: cls for f in failed for d, cls in f.items()})
        s, n = spans.bounds[a], len(batch.off)
        return (s + np.argsort(batch.off, kind="stable"), np.zeros(n, dtype=bool),
                np.array([n]), np.zeros(1), {a: type(e).__name__})


def _np(col, fill=0, dtype=np.float64) -> np.ndarray:
    return pc.fill_null(col, fill).to_numpy(zero_copy_only=False).astype(dtype)


def _permutations(col: dict, fail_fast: bool, num_col_lower: int, num_col_upper: int):
    """The layout kernel over a partition sorted by (doc_id, offset),
    where every document is a contiguous run of rows, _PAGE_BATCH
    documents at a time. Returns (starts, counts, take, marg, angle,
    status): each document's first row, its number of output spans (0
    for an empty document: null-kind rows only), for all output spans in
    reading order their row index and marginalia flag, each document's
    applied deskew angle (0 for an empty or quarantined one), and the
    documents _safe_permutations quarantined ({document: exception class
    name})."""
    ids = col["doc_id"]
    change = pc.not_equal(ids[1:], ids[:-1])
    if _KEY in col:
        # _keyed_outputs' rows: a document never spans keys
        change = pc.or_(change, pc.not_equal(col[_KEY][1:], col[_KEY][:-1]))
    change = change.to_numpy(zero_copy_only=False).nonzero()[0] + 1
    starts = np.concatenate(([0], change))
    counts, angle = np.zeros(len(starts), dtype=np.int64), np.zeros(len(starts))
    # the kernel's span table: the valid rows, each column gathered once,
    # of the documents that have any; kinds as codes of the dictionary
    # entries, with no Python str per row
    valid = pc.is_valid(col["kind"]).to_numpy(zero_copy_only=False)
    rows = valid.nonzero()[0]
    nvalid = np.add.reduceat(valid, starts, dtype=np.int64)
    docs = nvalid.nonzero()[0]
    if not len(docs):
        return starts, counts, rows, np.zeros(0, dtype=bool), angle, {}
    first, D = starts[docs], len(docs)
    kd = pc.dictionary_encode(col["kind"])
    spans = Spans(
        np.concatenate(([0], np.cumsum(nvalid[docs]))),
        kind_codes(kd.dictionary.to_pylist())[_np(kd.indices, 0, np.int64)[rows]],
        _np(col["offset"], -1, np.int64)[rows],
        *(_np(col[c])[rows] for c in ("x0", "x1", "y0", "y1")),
        _np(col["width"], 1, np.int64)[first].astype(float),
        _np(col["height"], 1, np.int64)[first].astype(float),
        _np(col["rtl"], False, np.bool_)[first],
        np.full(D, num_col_lower), np.full(D, num_col_upper))
    take, marg, cnt, ang, failed = zip(*(
        _safe_permutations(spans, a, min(a + _PAGE_BATCH, D), fail_fast)
        for a in range(0, D, _PAGE_BATCH)))
    counts[docs], angle[docs] = np.concatenate(cnt), np.concatenate(ang)
    return (starts, counts, rows[np.concatenate(take)], np.concatenate(marg), angle,
            {int(docs[d]): cls for f in failed for d, cls in f.items()})


def _ords(counts: np.ndarray) -> np.ndarray:
    """Reading-order rank of every output span: 0..count-1 per document."""
    return np.arange(counts.sum()) - np.repeat(np.cumsum(counts) - counts, counts)


def _out_kind(col: dict, take: pa.Array, marg: pa.Array) -> pa.Array:
    return pc.if_else(marg, pa.scalar("marginalia"),
                      pc.cast(pc.take(col["kind"], take), pa.string()))


#: the Arrow types of FLAT_GEOM_OUT_SCHEMA's columns
_OUT_TYPES = to_arrow_schema(FLAT_GEOM_OUT_SCHEMA)


def _flat_output(col, counts, take, marg, angle, names):
    """The columns ``names`` of FLAT_GEOM_OUT_SCHEMA, one row per output
    span: its reading-order rank (ord), its kind with the marginalia
    refinement, its document's applied deskew angle (angle_deg), and every
    other column gathered from the input row, cast to the schema's type."""
    def column(c):
        if c == "ord":
            return pa.array(_ords(counts), type=pa.int32())
        if c == "kind":
            return _out_kind(col, take, marg)
        if c == "angle_deg":
            return pa.array(np.repeat(angle, counts))
        return pc.cast(pc.take(col[c], take), _OUT_TYPES.field(c).type)

    return pa.RecordBatch.from_arrays([column(c) for c in names], names=names)


def _check_output(col, starts, counts, take, marg):
    """(doc_id, n_bad) per document with spans: the number of spans whose
    (ord, kind) differs from the input's (expected_rank, expected_kind),
    plus how far its span count is from the generator's expected_n (rows
    lost or duplicated on the way to the kernel)."""
    gkind = _out_kind(col, take, marg).to_numpy(zero_copy_only=False)
    ekind = pc.take(col["expected_kind"], take).to_numpy(zero_copy_only=False)
    erank = _np(pc.take(col["expected_rank"], take), -1, np.int64)
    bad = (_ords(counts) != erank) | (gkind != ekind)
    n_bad = np.bincount(np.repeat(np.arange(len(counts)), counts),
                        weights=bad, minlength=len(counts)).astype(np.int64)
    n_bad += np.abs(counts - _np(col["expected_n"], 0, np.int64)[starts])
    keep = np.flatnonzero(counts | n_bad)
    return pa.RecordBatch.from_arrays(
        [pc.take(col["doc_id"], pa.array(starts[keep])), pa.array(n_bad[keep])],
        names=["doc_id", "n_bad"])


#: the columns of make_partition_arrow_kernel's outputs ('check' builds
#: its own)
_OUTPUTS = {"flat": FLAT_OUT_SCHEMA.names, "geometry": FLAT_GEOM_OUT_SCHEMA.names, "check": None}


def make_partition_arrow_kernel(include_payload: bool = True, fail_fast: bool = True,
                                num_col_lower: int = 0, num_col_upper: int = 0,
                                output: str = "flat"):
    """The mapInArrow layout kernel (iterator of RecordBatch -> iterator of
    RecordBatch): accumulate the partition, establish the canonical
    (doc_id, offset) row order with ONE Arrow C++ sort, compute every
    document's reading-order permutation, and build the output columnwise
    (C++ pc.take / pc.if_else — payload strings never become Python
    objects).

    output: 'flat' -> FLAT_OUT_SCHEMA rows; 'geometry' ->
    FLAT_GEOM_OUT_SCHEMA rows (each span's input geometry and page size,
    and its document's applied deskew angle); both carry text / media_ref
    only if include_payload. 'check' -> (doc_id, n_bad) for the
    extract_reading_order self-check, with the input carrying
    expected_kind / expected_rank / expected_n. The check is the
    in-kernel equivalent of a full-outer join of the flat output with the
    expected rows on (doc_id, offset): offsets are unique per doc and the
    output is always a permutation of the valid input spans (kind IS NULL
    <=> the offset = -1 empty-doc marker rows), so the join's per-row
    test reduces to (ord != expected_rank) | (kind != expected_kind) per
    span, and the expected rows the input lacks (or holds twice) are
    |spans - expected_n| per doc.

    The in-kernel sort replaces a Spark sort-within-partitions stage (a
    Tungsten sort of 10^7 UnsafeRows costs seconds per level and scales
    poorly on one box, profiled r3; pc.sort_indices + pc.take costs ~0.1 s
    per 300k-row partition), and input only needs to be doc-complete per
    partition: neither sorted nor batched at doc boundaries. Memory: one
    partition resident per task, bounded by the repartition. (The
    task-side scan runs _keyed_outputs instead, on chunks of its files:
    _CHUNK_ROWS rows plus one file.)"""
    names = _OUTPUTS[output]
    if names is not None:
        names = [c for c in names if include_payload or c not in ("text", "media_ref")]

    def kernel(batches):
        res = layout_partition(batches, fail_fast, num_col_lower, num_col_upper)
        if res is None:
            return
        col, starts, counts, take, marg, angle, _ = res
        take, marg = pa.array(take), pa.array(marg)
        out = (_check_output(col, starts, counts, take, marg) if names is None
               else _flat_output(col, counts, take, marg, angle, names))
        if out.num_rows:
            yield out

    return kernel


#: the number of modules this process had imported when it last froze
#: its heap (_freeze_worker_heap)
_frozen_modules = 0


def _freeze_worker_heap() -> None:
    """In a Spark Python worker, move every object alive now (chiefly the
    imported modules: ~74k tracked objects) to the collector's permanent
    generation: at the first kernel call, and again at a call that finds
    modules imported since (PySpark's worker imports pandas after the
    first task's kernel). A reused worker's daemon runs a full
    gc.collect() after every task (pyspark/daemon.py), which otherwise
    re-traverses them all: 27-36 ms per task. Outside a Spark task (the
    driver, tests, in-process callers) the heap is never frozen."""
    global _frozen_modules
    if len(sys.modules) == _frozen_modules:
        return
    from pyspark import TaskContext

    if TaskContext.get() is None:
        return
    gc.collect()
    gc.freeze()
    _frozen_modules = len(sys.modules)


def layout_partition(batches, fail_fast: bool = True, num_col_lower: int = 0,
                     num_col_upper: int = 0):
    """The body of the partition kernel, for callers that build their own
    output: the partition's columns in canonical (doc_id, offset) order
    (preceded by the key, when the rows carry a _KEY column) and
    _permutations' (starts, counts, take, marg, angle, status) — or None
    for an empty partition."""
    _freeze_worker_heap()
    batches = list(batches)
    if not batches:
        return None
    t = pa.Table.from_batches(batches).combine_chunks()
    del batches
    if t.num_rows == 0:
        return None
    keys = [("doc_id", "ascending"), ("offset", "ascending")]
    if _KEY in t.column_names:
        keys.insert(0, (_KEY, "ascending"))
    t = t.take(pc.sort_indices(t, sort_keys=keys))
    col = {name: t.column(name).combine_chunks() for name in t.column_names}
    return (col, *_permutations(col, fail_fast, num_col_lower, num_col_upper))


def _keyed_outputs(batches, fail_fast: bool, **kernel_kwargs):
    """The task-side scan's kernel call (_task_outputs, keyed by input
    file): run the kernel once over rows that carry a _KEY column and
    yield (key, FLAT_OUT_SCHEMA rows, Counter of the quarantined documents'
    exception classes) for every key with output. The rows are ordered by key
    first, so each key's documents are one slice of the output, in the
    order the key's rows alone would give."""
    res = layout_partition(batches, fail_fast, **kernel_kwargs)
    if res is None:
        return
    col, starts, counts, take, marg, angle, failed = res
    out = _flat_output(col, counts, pa.array(take), pa.array(marg), angle,
                       FLAT_OUT_SCHEMA.names)
    # each document's key (non-decreasing) -> each key's output rows
    doc_key = col[_KEY].to_numpy()[starts]
    keys, first = np.unique(doc_key, return_index=True)
    causes = {}
    for d, cls in failed.items():
        causes.setdefault(doc_key[d], Counter())[cls] += 1
    off = np.concatenate(([0], np.cumsum(counts)))
    for k, a, b in zip(keys.tolist(), off[first].tolist(),
                       off[np.append(first[1:], len(starts))].tolist()):
        if b > a:
            yield k, out.slice(a, b - a), causes.get(k, Counter())


def _ship(spark, partitions: int | None) -> int:
    """Ship the package to the executors; returns ``partitions``, by
    default spark.sql.shuffle.partitions."""
    from eynollah_spark.packaging import ensure_distributed

    ensure_distributed(spark)
    return int(spark.conf.get("spark.sql.shuffle.partitions")) if partitions is None else partitions


def _repartition_by_doc(df: DataFrame, partitions: int | None) -> DataFrame:
    """The shuffled entries' one exchange: ship the package, then hash df's
    rows on doc_id into 2 * partitions (default
    spark.sql.shuffle.partitions) doc-complete partitions."""
    partitions = _ship(df.sparkSession, partitions)
    # bucket ids span 64x the partition count: hashing only `partitions`
    # distinct ids into 2*partitions partitions left ~1/e of them empty
    # by balls-in-bins (r6). The media-heavy tail is not salted into its
    # own hash space: that measured +22% executor CPU on one box, as the
    # heavy kernels are memory-bandwidth-bound.
    return df.repartition(
        2 * partitions,
        F.pmod(F.xxhash64("doc_id"), F.lit(64 * partitions)).cast("int"))


def _kernel_input(df: DataFrame, partitions: int | None,
                  printspace_margin: float) -> DataFrame:
    """run_extraction's bucketize plan: nested documents -> flat span rows
    in doc-complete hash partitions, with the optional printspace filter."""
    flat = flatten(_repartition_by_doc(df, partitions))
    if printspace_margin > 0:
        # B9 page-frame filter as a pre-kernel codegen predicate (the
        # CLI's page-extraction step; --ignore-page-extraction skips it)
        flat = filter_printspace(flat, margin_frac=printspace_margin)
    return flat


def extract_flat_input(flat: DataFrame, partitions: int | None = None,
                       fail_fast: bool = True,
                       num_col_lower: int = 0, num_col_upper: int = 0) -> DataFrame:
    """Flat span rows (doc_id, width, height, rtl, kind, text, media_ref,
    offset, x0..y1; other columns are dropped) -> FLAT_GEOM_OUT_SCHEMA
    rows: one hash exchange on doc_id, then the partition kernel, which
    carries the payload and the geometry to the output with pc.take and
    adds each document's applied deskew angle (0 for a quarantined
    document, which is emitted unrotated). The rows are ready for the
    PAGE-XML and SVG writers and pagexml.rotate_geometry. For input that
    is already doc-complete per file (a table bucketed by doc_id) use
    extract_from_parquet_files, which needs no shuffle at all.
    """
    kern = make_partition_arrow_kernel(fail_fast=fail_fast,
                                       num_col_lower=num_col_lower,
                                       num_col_upper=num_col_upper, output="geometry")
    return _repartition_by_doc(flat.select(*FLAT_IN_FIELDS), partitions).mapInArrow(
        kern, schema=FLAT_GEOM_OUT_SCHEMA)


def write_parquet_atomic(table: pa.Table, final: str) -> None:
    """Task-side parquet write, committed by os.replace of an
    attempt-unique hidden temp file (ADVICE r3): a killed or speculative
    attempt never leaves a truncated `final`, and a crashed one's '.'
    leftover is skipped by Spark's file listing. Callers name `final`
    after its input, so a retried attempt rewrites the same doc-complete
    bytes. On an object store: PUT to a temp key + a manifest commit."""
    import os
    import uuid

    import pyarrow.parquet as pq

    head, name = os.path.split(final)
    os.makedirs(head, exist_ok=True)
    tmp = os.path.join(head, f".{name}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    pq.write_table(table, tmp)
    os.replace(tmp, final)


#: row budget of one kernel call of the task-side scan: a task closes its
#: chunk of consecutive files before the file that would take it past this
_CHUNK_ROWS = 1 << 18


def _file_sizes(paths: list[str]) -> list[int]:
    """The byte size of every file, local or on an object store."""
    import os

    from pyarrow import fs

    sizes = []
    for p in paths:
        try:
            filesystem, path = fs.FileSystem.from_uri(p)
        except pa.ArrowInvalid:  # a plain local path
            filesystem, path = fs.LocalFileSystem(), os.path.abspath(p)
        sizes.append(filesystem.get_file_info(path).size or 0)
    return sizes


def _pack_files(sizes: list[int], ntasks: int) -> list[list[int]]:
    """The file indices of each of ntasks tasks, each in increasing order:
    files packed by size, largest first onto the lightest task (ties to
    the lower index), so every task gets a near-equal share of rows."""
    import heapq

    tasks = [[] for _ in range(ntasks)]
    load = [(0, t) for t in range(ntasks)]
    for i in sorted(range(len(sizes)), key=lambda i: (-sizes[i], i)):
        total, t = heapq.heappop(load)
        tasks[t].append(i)
        heapq.heappush(load, (total + sizes[i], t))
    return [sorted(t) for t in tasks]


def _task_outputs(paths: list[str], files: list[int], cols: list[str],
                  fail_fast: bool, budget: int,
                  rows_in: dict | None = None, **kernel_kwargs):
    """One task's body: read its files in order, run _keyed_outputs once
    per chunk of consecutive files (at most ``budget`` rows; a bigger
    file is a chunk of its own), its rows keyed by file index, and yield
    (file index, output rows, quarantine causes) per input file with
    output. A task holds at most one chunk plus one file. ``rows_in``,
    if given, receives each file's input row count."""
    import pyarrow.parquet as pq

    def run(chunk):
        return _keyed_outputs(pa.concat_tables(chunk, promote_options="permissive")
                              .to_batches(), fail_fast, **kernel_kwargs)

    chunk, rows = [], 0
    for i in files:
        t = pq.read_table(paths[i], columns=cols)
        if rows_in is not None:
            rows_in[i] = t.num_rows
        if chunk and rows + t.num_rows > budget:
            yield from run(chunk)
            chunk, rows = [], 0
        chunk.append(t.append_column(_KEY, pa.array(np.full(t.num_rows, i, dtype=np.int32))))
        rows += t.num_rows
    if chunk:
        yield from run(chunk)


#: the lineage of a file without output
_NO_OUTPUT = dict(n_rows=0, docs=0, kind_hist="{}", quarantined=0, quarantine_causes="{}")


def _lineage(out: pa.RecordBatch, causes: Counter) -> dict:
    """A file's output lineage: its output rows, documents, kind
    histogram (JSON) and quarantined documents by exception class (JSON)."""
    hist = pc.value_counts(out.column("kind"))
    return {"n_rows": out.num_rows,
            "docs": pc.count_distinct(out.column("doc_id")).as_py(),
            "kind_hist": json.dumps(dict(zip(hist.field("values").to_pylist(),
                                             hist.field("counts").to_pylist()))),
            "quarantined": sum(causes.values()),
            "quarantine_causes": json.dumps(dict(causes))}


def _file_job(spark, paths: list[str], outputs: list[str] | None,
              partitions: int | None, include_payload: bool = True,
              stats_only: bool = False, fail_fast: bool = True,
              **kernel_kwargs) -> DataFrame:
    """extract_from_parquet_files over the files ``paths`` in this order,
    each file's output written to its path in ``outputs`` (if given), and
    the kernel run with ``kernel_kwargs`` (num_col_lower, num_col_upper)."""
    ntasks = min(len(paths), max(_ship(spark, partitions), 1))
    tasks = _pack_files(_file_sizes(paths), ntasks)
    budget = _CHUNK_ROWS  # read on the driver: the tasks run with its value

    def gen(batches):
        for b in batches:
            for tid in b.column(0).to_pylist():
                rows_in, lineage = {}, {}
                for i, out, causes in _task_outputs(paths, tasks[tid], FLAT_IN_FIELDS, fail_fast,
                                                    budget, rows_in, **kernel_kwargs):
                    if outputs is not None:
                        write_parquet_atomic(pa.Table.from_batches([out]), outputs[i])
                    if stats_only:
                        lineage[i] = _lineage(out, causes)
                    elif include_payload:
                        yield out
                    else:
                        yield out.select(["doc_id", "ord", "kind", "offset"])
                if stats_only and rows_in:
                    yield pa.RecordBatch.from_pylist([
                        {"file": i, "task": tid, "rows_in": n, **lineage.get(i, _NO_OUTPUT)}
                        for i, n in rows_in.items()])

    if stats_only:
        out_schema = ("file long, task long, rows_in long, n_rows long, docs long, "
                      "kind_hist string, quarantined long, quarantine_causes string")
    elif include_payload:
        out_schema = FLAT_OUT_SCHEMA
    else:
        out_schema = "doc_id string, ord int, kind string, offset int"
    if ntasks == 0:
        # empty file list (wrong glob, or a fully-resumed manifest):
        # an empty result, not spark.range(...)'s opaque JVM error
        return spark.createDataFrame([], schema=out_schema)
    ids = spark.range(0, ntasks, 1, ntasks)
    return ids.mapInArrow(gen, schema=out_schema)


def extract_from_parquet_files(spark, paths: list[str], partitions: int | None = None,
                               include_payload: bool = True,
                               write_dir: str | None = None,
                               stats_only: bool = False,
                               fail_fast: bool = True) -> DataFrame:
    """Task-side columnar scan extraction — the product path:
    manifest.run_extraction (`cli layout`) stages its input as
    doc-complete files and runs this job (_file_job) on each bucket batch.

    The input is the bucketed table's FILE MANIFEST (an Iceberg snapshot's
    data-file list). The driver sorts the paths and packs the files onto
    min(len(paths), partitions) tasks by byte size, largest first onto
    the lightest task. Each task opens its doc-complete parquet files in
    order with pyarrow (column-projected to the kernel's needs) and runs
    the whole-partition kernel once per chunk of consecutive files: a
    chunk closes before the file that would take it past _CHUNK_ROWS
    rows, and a bigger file is a chunk of its own, so a task holds at
    most one chunk plus one file.
    Each file's rows carry its index through the kernel as the key of
    _keyed_outputs, and the output is split by it: with write_dir, every
    input file with output spans gets one doc-complete output file, named
    after the input's index in the sorted path list
    (write_dir/part-<index:05d>.parquet), so a retried task, or another
    packing, rewrites the same names. stats_only returns one lineage row
    per input file instead: its index (file), task, input rows (rows_in),
    output rows (n_rows), docs, kind histogram, and the documents it
    quarantined (quarantined; fail_fast=False) with their causes. Input
    bytes go parquet -> Arrow -> numpy with no InternalRow/ArrowEvalPython
    re-encode hop, which profiling shows is the bulk of the JVM-scan
    path's fixed cost; only the (narrow) OUTPUT crosses the JVM boundary.

    Distribution story at 100 TB: identical to the DataFrame path — tasks
    read their files from the object store (pyarrow reads s3://... the
    same way the JVM scan would), locality and retries come from the
    Spark scheduler. The caller guarantees what the bucketed contract
    already required: every file is doc-complete. Files need not be
    sorted (in-kernel sort).

    Correctness equivalence with extract_flat_input is pinned by the bench
    checksum and tests/test_pipeline_spark.py."""
    paths = sorted(paths)
    outputs = (None if write_dir is None
               else [f"{write_dir}/part-{i:05d}.parquet" for i in range(len(paths))])
    return _file_job(spark, paths, outputs, partitions, include_payload, stats_only, fail_fast)


def extract_full_layout(flat: DataFrame, partitions: int | None = None,
                        scorer=None, fail_fast: bool = True,
                        headers_off: bool = False,
                        num_col_lower: int = 0, num_col_upper: int = 0) -> DataFrame:
    """F1 `--full-layout` mode parity: the complete post-kernel chain —
    XY-cut extraction (its rows carry their geometry and deskew angle) ->
    scorer kind refinement (headings, drop capitals; B12/C12/C13) -> C14
    drop-capital adhesion.
    C15 table splitting (tables.split_wide_tables) runs BEFORE extraction
    since it rewrites input spans.

    Returns ordered flat rows WITH geometry (ready for the PAGE-XML
    writer). Every stage is a relational plan or an Arrow-batched kernel;
    shuffles stay on doc_id-derived keys throughout."""
    from eynollah_spark.scorer import adhere_drop_capitals, refine_kinds
    from eynollah_spark.tables import split_wide_tables

    flat = split_wide_tables(flat)
    rows = extract_flat_input(flat, partitions=partitions, fail_fast=fail_fast,
                              num_col_lower=num_col_lower, num_col_upper=num_col_upper)
    # headers_off (cli_layout.py:111-115): ignore the headers role only —
    # refine_kinds still runs so drop-capital reclassification (and the
    # C14 adhesion below, which needs it) is unaffected, matching the
    # reference where headers_off merely drops headers from reading-order
    # treatment (eynollah.py:2420-2446)
    refined = refine_kinds(rows, scorer=scorer, headers_off=headers_off)
    return adhere_drop_capitals(refined)
