"""The Spark extraction pipeline: documents -> ordered out_spans.

Stage plan (explicit shuffle boundaries, SURVEY.md §3.1 lifecycle):

  scan (nested documents table; column-pruned: media payloads never read)
    -> repartition on pmod(xxhash64(doc_id), 64 * partitions): one hash
       exchange over a keyspace 64x wider than the partition count, so
       every partition fills (AQE skew handling does not apply to UDF
       stages)
    -> flatten (posexplode, narrow — preserves partitioning)
    -> mapInArrow(make_partition_arrow_kernel)  (the task holds its whole
       partition and sorts it ONCE by (doc_id, offset) with an Arrow C++
       sort — canonical order, so the output is bitwise-deterministic
       however the rows were ordered or batched, with no Spark sort
       stage and no carry-over between batches; each document is then
       a contiguous run for the per-document kernel; numerics reach
       numpy once per partition, payload strings are permuted C++-side
       and never materialize in Python)
         - batches of 64 documents: kernels.layout.analyze_pages (the
           page stage: deskew angle scores, page-level projection
           profiles, smoothing and valleys), then
           kernels.layout.layout_permutations (the rest, phase by
           phase: per-document glue in Python loops, and band gutters,
           region clustering, in-region and in-box order as one numpy
           pass per batch). Each document's result is bit-identical to
           running it alone;
         - a batch that raises anywhere is re-run one document at a
           time, and a document that still raises is quarantined: it
           falls back to offset order and its status is counted (the
           manifest records the count per bucket).
    -> sink (flat rows, or nested out_spans lists built in-kernel from
       the same permutation)

extract_flat_input keeps the payload out of the kernel stage entirely and
joins it back JVM-side; extract_from_parquet_files is the zero-shuffle
path over doc-complete bucketed files.

The kernel itself is eynollah_spark.kernels.layout.layout_permutations
— see that module for reference-semantics citations.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

# layout_permutation is bound here for perfbench's kernel tracing, which
# patches this module's attribute
from eynollah_spark.kernels.layout import (  # noqa: F401
    DocSpans, analyze_pages, layout_permutation, layout_permutations)
from eynollah_spark.schemas import FLAT_OUT_SCHEMA, OUT_SCHEMA


def filter_printspace(flat: DataFrame, frame=None,
                      margin_frac: float = 0.02,
                      keep_null_spans: bool = False) -> DataFrame:
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
    keep = (cx >= fx0) & (cx <= fx1) & (cy >= fy0) & (cy <= fy1)
    if not keep_null_spans:
        return flat.filter(keep)
    # posexplode_outer null-span rows (empty documents) must survive so
    # nested mode still emits their empty out_spans row — and (ADVICE r4)
    # a document whose EVERY span fell outside the printspace must not
    # vanish either: it re-enters as one synthetic null-span row,
    # preserving the one-row-per-doc contract resume/count logic relies
    # on. The re-emit costs one per-doc distinct + anti-join on doc_id —
    # keyed shuffles only, and only on the keep_null_spans path.
    kept = flat.filter(F.col("kind").isNull() | keep)
    span_cols = {"kind", "text", "media_ref", "offset", "x0", "x1", "y0", "y1"}
    lost = (flat.join(kept.select("doc_id").distinct(), "doc_id", "left_anti")
            .dropDuplicates(["doc_id"])
            .select(*[
                F.lit(None).cast(flat.schema[c].dataType).alias(c)
                if c in span_cols else F.col(c)
                for c in flat.columns
            ]))
    return kept.unionByName(lost)


def flatten(df: DataFrame) -> DataFrame:
    """Nested documents -> one row per span (narrow op). Keeps doc meta on
    every row; empty documents keep a single null-span row
    (posexplode_outer) so they still emit an empty out_spans row."""
    return df.select(
        "doc_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.coalesce(F.col("meta.rtl"), F.lit(False)).alias("rtl"),
        F.posexplode_outer(F.arrays_zip("spans", "geom")).alias("_i", "z"),
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


def _safe_permutations(docs: list[DocSpans], fail_fast: bool):
    """The layout kernel over one batch of documents, with per-document
    failure quarantine: at 10^12 docs a single pathological page must not
    kill the job (the reference's halt_fail global abort,
    eynollah.py:2023-2028, is replaced by degrade-and-continue). If the
    batch raises, in analyze_pages or layout_permutations, each document
    is re-run alone; one that still raises falls back to input-offset
    order (total, kinds unchanged). Returns ((perm, marg) per document,
    status per document: None, or the class name of the exception that
    quarantined it). fail_fast=True (tests/CI) re-raises instead."""
    try:
        return layout_permutations(docs, analyze_pages(docs)), [None] * len(docs)
    except Exception as e:
        if fail_fast:
            raise
        if len(docs) > 1:
            alone = [_safe_permutations([d], fail_fast) for d in docs]
            return [r[0][0] for r in alone], [r[1][0] for r in alone]
        perm = np.argsort(docs[0].offset, kind="stable").astype(np.int64)
        return [(perm, np.zeros(len(perm), dtype=bool))], [type(e).__name__]


def _np(col, fill=0, dtype=np.float64) -> np.ndarray:
    return pc.fill_null(col, fill).to_numpy(zero_copy_only=False).astype(dtype)


def _permutations(col: dict, fail_fast: bool, num_col_lower: int, num_col_upper: int):
    """The layout kernel over a partition sorted by (doc_id, offset),
    where every document is a contiguous run of rows, _PAGE_BATCH
    documents at a time. Returns (starts, counts, take, marg, status):
    each document's first row, its number of output spans (0 for an
    empty document: null-kind rows only), for all output spans in reading
    order their row index and marginalia flag, and each document's
    _safe_permutations status (None unless quarantined)."""
    ids = col["doc_id"]
    n = len(ids)
    change = pc.not_equal(ids[1:], ids[:-1]).to_numpy(zero_copy_only=False).nonzero()[0] + 1
    starts = np.concatenate(([0], change))
    ends = np.concatenate((change, [n]))
    # kinds as dictionary codes: one Python str per distinct kind, not per row
    kd = pc.dictionary_encode(col["kind"])
    kind = np.asarray(kd.dictionary.to_pylist() or [""], dtype=object)[
        _np(kd.indices, 0, np.int64)]
    valid = pc.is_valid(col["kind"]).to_numpy(zero_copy_only=False)
    offs = _np(col["offset"], -1, np.int64)
    x0, x1, y0, y1 = (_np(col[c]) for c in ("x0", "x1", "y0", "y1"))
    width = _np(col["width"], 1, np.int64)[starts].tolist()
    height = _np(col["height"], 1, np.int64)[starts].tolist()
    rtl = _np(col["rtl"], False, np.bool_)[starts].tolist()
    # rows of each document's spans (a slice unless it has null-kind rows)
    nvalid = np.add.reduceat(valid, starts, dtype=np.int64)
    rows = [(k, slice(s, e) if nv == e - s else s + valid[s:e].nonzero()[0])
            for k, (s, e, nv) in enumerate(zip(starts.tolist(), ends.tolist(),
                                                nvalid.tolist())) if nv]
    counts = np.zeros(len(starts), dtype=np.int64)
    status = [None] * len(starts)
    take_l, marg_l = [np.empty(0, np.int64)], [np.empty(0, bool)]
    for b in range(0, len(rows), _PAGE_BATCH):
        batch = rows[b:b + _PAGE_BATCH]
        docs = [DocSpans(
            kind=kind[idx], text=None, media_ref=None,
            offset=offs[idx], x0=x0[idx], x1=x1[idx], y0=y0[idx], y1=y1[idx],
            width=width[k], height=height[k], rtl=rtl[k],
            num_col_lower=num_col_lower, num_col_upper=num_col_upper,
        ) for k, idx in batch]
        perms, st = _safe_permutations(docs, fail_fast)
        for (k, idx), (perm, marg), st_k in zip(batch, perms, st):
            take_l.append(perm + idx.start if isinstance(idx, slice) else idx[perm])
            marg_l.append(marg)
            counts[k] = len(perm)
            status[k] = st_k
    return starts, counts, np.concatenate(take_l), np.concatenate(marg_l), status


def _ords(counts: np.ndarray) -> np.ndarray:
    """Reading-order rank of every output span: 0..count-1 per document."""
    return np.arange(counts.sum()) - np.repeat(np.cumsum(counts) - counts, counts)


def _out_kind(col: dict, take: pa.Array, marg: pa.Array) -> pa.Array:
    return pc.if_else(marg, pa.scalar("marginalia"),
                      pc.cast(pc.take(col["kind"], take), pa.string()))


def _flat_output(col, starts, counts, take, marg, include_payload):
    """FLAT_OUT_SCHEMA rows (without text / media_ref unless
    include_payload), one per output span."""
    payload = ["text", "media_ref"] if include_payload else []
    return pa.RecordBatch.from_arrays(
        [pc.take(col["doc_id"], take), pa.array(_ords(counts), type=pa.int32()),
         _out_kind(col, take, marg)]
        + [pc.take(col[c], take) for c in payload]
        + [pc.cast(pc.take(col["offset"], take), pa.int32())],
        names=["doc_id", "ord", "kind", *payload, "offset"])


def _nested_output(col, starts, counts, take, marg, include_payload):
    """OUT_SCHEMA rows, one per document: out_spans lists the spans in
    reading order ([] for an empty document)."""
    spans = pa.StructArray.from_arrays(
        [_out_kind(col, take, marg), pc.take(col["text"], take),
         pc.take(col["media_ref"], take),
         pc.cast(pc.take(col["offset"], take), pa.int32())],
        names=["kind", "text", "media_ref", "offset"])
    offsets = pa.array(np.concatenate(([0], np.cumsum(counts))), type=pa.int32())
    return pa.RecordBatch.from_arrays(
        [pc.take(col["doc_id"], pa.array(starts)),
         pa.ListArray.from_arrays(offsets, spans)],
        names=["doc_id", "out_spans"])


def _check_output(col, starts, counts, take, marg, include_payload):
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


_OUTPUTS = {"flat": _flat_output, "nested": _nested_output, "check": _check_output}


def make_partition_arrow_kernel(include_payload: bool = True, fail_fast: bool = True,
                                num_col_lower: int = 0, num_col_upper: int = 0,
                                output: str = "flat"):
    """The mapInArrow layout kernel (iterator of RecordBatch -> iterator of
    RecordBatch): accumulate the partition, establish the canonical
    (doc_id, offset) row order with ONE Arrow C++ sort, compute every
    document's reading-order permutation, and build the output columnwise
    (C++ pc.take / pc.if_else — payload strings never become Python
    objects).

    output: 'flat' -> FLAT_OUT_SCHEMA rows (text / media_ref only if
    include_payload); 'nested' -> OUT_SCHEMA rows; 'check' -> (doc_id,
    n_bad) for the extract_reading_order self-check, with the input
    carrying expected_kind / expected_rank / expected_n. The check is the
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
    partition resident per task — bounded by the repartition (shuffled
    paths) or by the file size (bucketed scan path)."""
    build = _OUTPUTS[output]

    def kernel(batches):
        res = layout_partition(batches, fail_fast, num_col_lower, num_col_upper)
        if res is None:
            return
        col, starts, counts, take, marg, _ = res
        out = build(col, starts, counts, pa.array(take), pa.array(marg),
                    include_payload)
        if out.num_rows:
            yield out

    return kernel


def layout_partition(batches, fail_fast: bool = True, num_col_lower: int = 0,
                     num_col_upper: int = 0):
    """The body of the partition kernel, for callers that build their own
    output: the partition's columns in canonical (doc_id, offset) order
    and _permutations' (starts, counts, take, marg, status) — or None for
    an empty partition."""
    batches = list(batches)
    if not batches:
        return None
    t = pa.Table.from_batches(batches).combine_chunks()
    del batches
    if t.num_rows == 0:
        return None
    t = t.take(pc.sort_indices(
        t, sort_keys=[("doc_id", "ascending"), ("offset", "ascending")]))
    col = {name: t.column(name).combine_chunks() for name in t.column_names}
    return (col, *_permutations(col, fail_fast, num_col_lower, num_col_upper))


def _kernel_input(df: DataFrame, partitions: int | None,
                  printspace_margin: float) -> DataFrame:
    """extract()'s pre-kernel plan: nested documents -> flat span rows in
    doc-complete hash partitions, with the optional printspace filter."""
    from eynollah_spark.packaging import ensure_distributed

    spark = df.sparkSession
    ensure_distributed(spark)
    if partitions is None:
        partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # bucket ids span 64x the partition count: hashing only `partitions`
    # distinct ids into 2*partitions partitions left ~1/e of them empty
    # by balls-in-bins (r6). The media-heavy tail is not salted into its
    # own hash space: that measured +22% executor CPU on one box, as the
    # heavy kernels are memory-bandwidth-bound.
    df = df.repartition(
        2 * partitions,
        F.pmod(F.xxhash64("doc_id"), F.lit(64 * partitions)).cast("int"))
    flat = flatten(df)
    if printspace_margin > 0:
        # B9 page-frame filter as a pre-kernel codegen predicate (the
        # CLI's page-extraction step; --ignore-page-extraction skips it)
        flat = filter_printspace(flat, margin_frac=printspace_margin,
                                 keep_null_spans=True)
    return flat


def extract(df: DataFrame, partitions: int | None = None, nested: bool = True,
            fail_fast: bool = True,
            num_col_lower: int = 0, num_col_upper: int = 0,
            printspace_margin: float = 0.0) -> DataFrame:
    """documents (nested) -> ordered out_spans.

    ``nested=True`` returns FIXTURES.md §2 rows (doc_id, out_spans);
    ``nested=False`` returns the flat sink shape (doc_id, ord, kind,
    text, media_ref, offset) — preferable at scale.
    """
    kern = make_partition_arrow_kernel(
        fail_fast=fail_fast, num_col_lower=num_col_lower,
        num_col_upper=num_col_upper, output="nested" if nested else "flat")
    return _kernel_input(df, partitions, printspace_margin).mapInArrow(
        kern, schema=OUT_SCHEMA if nested else FLAT_OUT_SCHEMA)


def extract_flat_input(flat: DataFrame, partitions: int | None = None,
                       fail_fast: bool = True,
                       num_col_lower: int = 0, num_col_upper: int = 0) -> DataFrame:
    """Same pipeline for already-flat span rows (doc_id, width, height,
    rtl, kind, text, media_ref, offset, x0..y1) — used when the corpus is
    generated distributed, skipping the nest/flatten round-trip.

    Permutation join: the kernel sees only the narrow numeric projection
    and emits (doc_id, ord, kind, offset); the text / media_ref payload
    joins back JVM-side (shuffled hash join — both sides hash-shuffle on
    the keys, no sort) on (doc_id, offset) and never crosses into Python
    at all — the wide-payload plan for 100 TB inputs. For input that is
    already doc-complete per file (a table bucketed by doc_id) use
    extract_from_parquet_files, which needs no shuffle at all.
    """
    from eynollah_spark.packaging import ensure_distributed

    spark = flat.sparkSession
    ensure_distributed(spark)
    if partitions is None:
        partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    narrow = flat.select("doc_id", "width", "height", "rtl", "kind",
                         "offset", "x0", "x1", "y0", "y1")
    perm = narrow.repartition(partitions, F.xxhash64("doc_id")).mapInArrow(
        make_partition_arrow_kernel(include_payload=False, fail_fast=fail_fast,
                                    num_col_lower=num_col_lower,
                                    num_col_upper=num_col_upper),
        schema="doc_id string, ord int, kind string, offset int")
    payload = flat.select("doc_id", "offset", "text", "media_ref")
    # shuffle_hash: build a hash map per partition instead of sorting
    # BOTH 10^9-row sides (sort-merge); measured ~20% faster here and
    # strictly less work at scale. Spark >=3.1 hash joins can spill.
    return perm.join(payload.hint("shuffle_hash"),
                     ["doc_id", "offset"], "left").select(
        "doc_id", "ord", "kind", "text", "media_ref", "offset")


def write_parquet_atomic(table: pa.Table, final: str) -> None:
    """Task-side parquet write, committed by os.replace of an
    attempt-unique hidden temp file (ADVICE r3): a killed or speculative
    attempt never leaves a truncated `final`, and a crashed one's '.'
    leftover is skipped by Spark's file listing. Callers name `final`
    after the task, so a retried attempt rewrites the same doc-complete
    bytes. On an object store: PUT to a temp key + a manifest commit."""
    import os
    import uuid

    import pyarrow.parquet as pq

    head, name = os.path.split(final)
    os.makedirs(head, exist_ok=True)
    tmp = os.path.join(head, f".{name}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    pq.write_table(table, tmp)
    os.replace(tmp, final)


#: input columns the kernel needs (column projection for the task-side scan)
_SCAN_COLS_NARROW = ["doc_id", "width", "height", "rtl", "kind",
                     "offset", "x0", "x1", "y0", "y1"]


def extract_from_parquet_files(spark, paths: list[str], partitions: int | None = None,
                               include_payload: bool = True,
                               write_dir: str | None = None,
                               stats_only: bool = False,
                               fail_fast: bool = True) -> DataFrame:
    """Task-side columnar scan extraction — the bucketed-table fast path
    taken to its logical end (zero JVM row conversion on the input side).

    The input is the bucketed table's FILE MANIFEST (an Iceberg snapshot's
    data-file list): Spark schedules one task per file slice; each task
    opens its doc-complete parquet files with pyarrow (column-projected to
    the kernel's needs) and streams them through the whole-partition
    kernel. Input bytes go parquet -> Arrow -> numpy with no
    InternalRow/ArrowEvalPython re-encode hop, which profiling shows is
    the bulk of the JVM-scan path's fixed cost; only the (narrow) OUTPUT
    crosses the JVM boundary.

    Distribution story at 100 TB: identical to the DataFrame path — tasks
    read their files from the object store (pyarrow reads s3://... the
    same way the JVM scan would), locality and retries come from the
    Spark scheduler, resume anti-joins the output manifest per file. The
    caller guarantees what the bucketed contract already required: every
    file is doc-complete. Files need not be sorted (in-kernel sort).

    Correctness equivalence with extract_flat_input is pinned by the bench
    checksum and tests/test_pipeline_spark.py."""
    from eynollah_spark.packaging import ensure_distributed

    ensure_distributed(spark)
    paths = sorted(paths)
    if partitions is None:
        partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ntasks = min(len(paths), max(partitions, 1))
    full = include_payload or write_dir is not None
    cols = _SCAN_COLS_NARROW + (["text", "media_ref"] if full else [])
    narrow_names = ["doc_id", "ord", "kind", "offset"]

    def gen(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq

        kern = make_partition_arrow_kernel(include_payload=full,
                                           fail_fast=fail_fast)
        for b in batches:
            for tid in b.column(0).to_pylist():
                n_task = 0
                for k, fp in enumerate(paths[int(tid)::ntasks]):
                    t = pq.read_table(fp, columns=cols)
                    outs = list(kern(iter(t.to_batches())))
                    if write_dir is not None and outs:
                        # one doc-complete output file per input file
                        write_parquet_atomic(
                            pa.Table.from_batches(outs),
                            f"{write_dir}/part-{int(tid)}-{k}.parquet")
                    if stats_only:
                        n_task += sum(ob.num_rows for ob in outs)
                    elif write_dir is not None and not include_payload:
                        for ob in outs:
                            yield ob.select(narrow_names)
                    else:
                        yield from outs
                if stats_only:
                    yield pa.RecordBatch.from_arrays(
                        [pa.array([n_task], type=pa.int64())], names=["n_rows"])

    if stats_only:
        out_schema = "n_rows long"
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


def extract_full_layout(flat: DataFrame, partitions: int | None = None,
                        scorer=None, fail_fast: bool = True,
                        headers_off: bool = False,
                        num_col_lower: int = 0, num_col_upper: int = 0) -> DataFrame:
    """F1 `--full-layout` mode parity: the complete post-kernel chain —
    XY-cut extraction -> geometry re-attach -> scorer kind refinement
    (headings, drop capitals; B12/C12/C13) -> C14 drop-capital adhesion.
    C15 table splitting (tables.split_wide_tables) runs BEFORE extraction
    since it rewrites input spans.

    Returns ordered flat rows WITH geometry (ready for the PAGE-XML
    writer). Every stage is a relational plan or an Arrow-batched kernel;
    shuffles stay on doc_id-derived keys throughout."""
    from eynollah_spark.pagexml import attach_geometry
    from eynollah_spark.scorer import adhere_drop_capitals, refine_kinds
    from eynollah_spark.tables import split_wide_tables

    flat = split_wide_tables(flat)
    out = extract_flat_input(flat, partitions=partitions, fail_fast=fail_fast,
                             num_col_lower=num_col_lower, num_col_upper=num_col_upper)
    rows = attach_geometry(out, flat)
    # headers_off (cli_layout.py:111-115): ignore the headers role only —
    # refine_kinds still runs so drop-capital reclassification (and the
    # C14 adhesion below, which needs it) is unaffected, matching the
    # reference where headers_off merely drops headers from reading-order
    # treatment (eynollah.py:2420-2446)
    refined = refine_kinds(rows, scorer=scorer, headers_off=headers_off)
    return adhere_drop_capitals(refined)
