"""Spark-free gates on the whole-partition Arrow kernel
(pipeline.make_partition_arrow_kernel): the pinned 3000-doc permutation
hashes, and independence from how a partition arrives in batches and
from which documents share it."""

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from eynollah_spark.corpus import gen_doc
from eynollah_spark.pipeline import make_partition_arrow_kernel

#: sha256 over the flat output of docs 0..2999 (seed 42), see _digest
GOLDEN_ROWS = 279117
GOLDEN_SHA256 = "0cb0f2a8fc7a6236a0e877339ed6623c6b6167ea8b3e8c75cde8db8f17a27bd4"
#: the same over docs 0..2999 at seed 7, computed with the per-document
#: kernel of commit 2794a0d, before the page stage was batched
GOLDEN7_ROWS = 290825
GOLDEN7_SHA256 = "703874dbc531726a20c96a1ab1f6f40b8beb6e1da4698a6688a37ab3c7729094"
#: docs 0..2999 at seed 42 under num_col_upper=3, computed with the
#: kernel of commit 638366f, before the per-document remainder was batched
GOLDEN_NC3_ROWS = 279117
GOLDEN_NC3_SHA256 = "86374ee1c33001ee291ddbff30f0ba1610379fb58aefa5a22f486a44f59dbcb4"

_INT = ("offset", "x0", "x1", "y0", "y1")
_STR = ("kind", "text", "media_ref")


def _partition(n_docs: int, seed: int = 42) -> pa.Table:
    """Flat span rows of docs 0..n_docs-1, each doc's rows in generator
    (shuffled) order; an empty doc is one null-kind row with offset -1."""
    cols = {k: [] for k in ("doc_id", "width", "height", "rtl",
                            *_STR, *_INT)}
    for i in range(n_docs):
        arrs, meta = gen_doc(i, seed)
        n = len(arrs["kind"])
        if n == 0:
            n = 1
            arrs = {k: np.array([None], dtype=object) for k in _STR}
            arrs.update({k: np.zeros(1, dtype=np.int64) for k in _INT})
            arrs["offset"] = np.array([-1])
        cols["doc_id"].append(np.full(n, meta["doc_id"], dtype=object))
        for k in ("width", "height", "rtl"):
            cols[k].append(np.full(n, meta[k]))
        for k in (*_STR, *_INT):
            cols[k].append(arrs[k])
    cat = {k: np.concatenate(v) for k, v in cols.items()}
    types = {"doc_id": pa.string(), "rtl": pa.bool_(),
             **{k: pa.string() for k in _STR},
             **{k: pa.int32() for k in ("width", "height", *_INT)}}
    return pa.table({k: pa.array(v, type=types[k]) for k, v in cat.items()})


def _first_docs(t: pa.Table, n_docs: int) -> pa.Table:
    ids = t.column("doc_id").to_numpy(zero_copy_only=False)
    return t.slice(0, int(np.searchsorted(ids, f"doc{n_docs:08d}")))


def _run(batches, **kw) -> pa.Table:
    return pa.Table.from_batches(list(make_partition_arrow_kernel(**kw)(iter(batches))))


def _digest(out: pa.Table) -> str:
    out = out.sort_by([("doc_id", "ascending"), ("ord", "ascending")])
    h = hashlib.sha256()
    for r in out.to_pylist():
        h.update(f"{r['doc_id']}\t{r['ord']}\t{r['kind']}\t{r['text']}\t"
                 f"{r['media_ref']}\t{r['offset']}\n".encode())
    return h.hexdigest()


@pytest.fixture(scope="module")
def partition():
    return _partition(3000)


def test_permutation_hash_pinned(partition):
    """The deletion contract: the reading order of 3000 generated docs is
    bit-identical to the pinned value."""
    out = _run(partition.to_batches(), include_payload=True)
    assert out.num_rows == GOLDEN_ROWS
    assert _digest(out) == GOLDEN_SHA256


def test_permutation_hash_pinned_seed7():
    """A second pinned corpus, holding pages the kernel deskews (their
    rotated geometry is not integer-valued) and right-to-left pages."""
    from eynollah_spark.kernels.deskew import estimate_skews

    part = _partition(3000, seed=7)
    assert pc.any(part["rtl"]).as_py()
    t = part.filter(pc.equal(part["kind"], "text")).sort_by(
        [("doc_id", "ascending"), ("offset", "ascending")])
    ids = t["doc_id"].to_numpy(zero_copy_only=False)
    bounds = np.flatnonzero(np.concatenate(([True], ids[1:] != ids[:-1], [True])))
    x0, x1, y0, y1 = (t[c].to_numpy().astype(float) for c in ("x0", "x1", "y0", "y1"))
    first = bounds[:-1]
    ang = estimate_skews((x0 + x1) / 2.0, (y0 + y1) / 2.0, np.maximum(x1 - x0, 1.0),
                         np.maximum(y1 - y0, 1.0), bounds,
                         t["width"].to_numpy()[first], t["height"].to_numpy()[first])
    assert (np.abs(ang) >= 0.75).sum() >= 50  # the kernel's rotation gate
    out = _run(part.to_batches(), include_payload=True)
    assert out.num_rows == GOLDEN7_ROWS
    assert _digest(out) == GOLDEN7_SHA256


def test_permutation_hash_pinned_num_col(partition):
    """A third pinned run: a column count pinned to 3 turns the marginal
    split off on every page, so marginal lines join the body (300 of the
    3000 documents order differently). The pins (1, 2) would pin nothing
    new: they leave every document of this corpus as it is."""
    out = _run(partition.to_batches(), include_payload=True, num_col_upper=3)
    assert out.num_rows == GOLDEN_NC3_ROWS
    assert _digest(out) == GOLDEN_NC3_SHA256


def test_check_output_counts_lost_and_extra_rows():
    """output='check' counts a document's rows lost or duplicated before
    the kernel, wherever they sit in reading order: a dropped last-rank
    row leaves every remaining rank right, and only expected_n sees it."""
    from eynollah_spark.corpus import gen_corpus_flat

    flat, _ = gen_corpus_flat(30)
    cols = ("doc_id", "width", "height", "rtl", "kind", "offset", "x0", "x1",
            "y0", "y1", "expected_kind", "expected_rank", "expected_n")
    t = pa.table({c: flat[c] for c in cols})

    def n_bad(table):
        out = _run(table.to_batches(max_chunksize=500), output="check")
        return dict(zip(out["doc_id"].to_pylist(), out["n_bad"].to_pylist()))

    clean = n_bad(t)
    assert len(clean) >= 29 and not any(clean.values())
    victim = "doc00000001"
    rows = np.flatnonzero(flat["doc_id"] == victim)
    rank = flat["expected_rank"][rows]
    keep = np.ones(t.num_rows, dtype=bool)
    cases = {}
    for name, r in (("mid", rank.max() // 2), ("last", rank.max())):
        k = keep.copy()
        k[rows[rank == r]] = False
        cases[name] = t.filter(pa.array(k))
    cases["dup"] = pa.concat_tables([t, t.slice(int(rows[0]), 1)])
    for name, table in cases.items():
        got = n_bad(table)
        assert got.pop(victim) > 0, name
        assert not any(got.values()), name


def test_neighbours_do_not_matter(partition):
    """The partition run whole, as 13-doc sub-partitions and one doc at a
    time gives the same output: nothing a document computes depends on
    the documents batched with it."""
    ids = partition.column("doc_id").to_numpy(zero_copy_only=False)
    starts = np.flatnonzero(np.concatenate(([True], ids[1:] != ids[:-1])))
    assert len(starts) == 3000
    kern = make_partition_arrow_kernel()
    whole = pa.Table.from_batches(list(kern(iter(partition.to_batches()))))
    for k in (13, 1):
        cuts = np.append(starts[::k], len(ids))
        outs = [b for s, e in zip(cuts[:-1], cuts[1:])
                for b in kern(iter(partition.slice(s, e - s).to_batches()))]
        assert whole.equals(pa.Table.from_batches(outs))


def test_batch_boundaries_do_not_matter(partition):
    """One batch, 7-row batches that split documents, and shuffled rows
    all give the same output (docs 99, 198 and 399 are empty)."""
    t = _first_docs(partition, 400)
    whole = _run(t.combine_chunks().to_batches())
    split = _run(t.to_batches(max_chunksize=7))
    shuffled = _run(t.take(np.random.default_rng(0).permutation(t.num_rows))
                    .to_batches(max_chunksize=1000))
    assert whole.num_rows > 0
    assert whole.equals(split)
    assert whole.equals(shuffled)



def test_pack_files_places_every_file_once_and_balances():
    """The fast path's packing is deterministic, places every file on
    exactly one task (each task's files in index order), and on skewed
    sizes its heaviest task is no heavier than round-robin's."""
    from eynollah_spark.pipeline import _pack_files

    rng = np.random.default_rng(5)
    for sizes, ntasks in ((rng.pareto(1.5, 64) * 1e5 + 1e4, 8),
                          (rng.integers(1, 10**6, 37), 5),
                          ([7] * 12, 4), ([3, 1, 2], 3), ([], 2)):
        sizes = [int(s) for s in sizes]
        tasks = _pack_files(sizes, ntasks)
        assert tasks == _pack_files(sizes, ntasks)
        assert len(tasks) == ntasks
        assert sorted(i for t in tasks for i in t) == list(range(len(sizes)))
        assert all(t == sorted(t) for t in tasks)
        if sizes:
            packed = max(sum(sizes[i] for i in t) for t in tasks)
            robin = max(sum(sizes[tid::ntasks]) for tid in range(ntasks))
            assert packed <= robin


def _write_files(tmp_path, t: pa.Table, n_files: int) -> list[str]:
    """t's documents split by doc_id hash into n_files doc-complete
    parquet files (sorted paths), plus one empty file."""
    ids = t.column("doc_id").to_numpy(zero_copy_only=False)
    h = np.array([int(hashlib.md5(x.encode()).hexdigest(), 16) % n_files for x in ids])
    paths = []
    for k in range(n_files):
        paths.append(str(tmp_path / f"f{k:02d}.parquet"))
        pq.write_table(t.filter(pa.array(h == k)), paths[-1])
    paths.append(str(tmp_path / f"f{n_files:02d}.parquet"))
    pq.write_table(t.slice(0, 0), paths[-1])
    return sorted(paths)


def test_task_chunks_equal_per_file_runs(partition, tmp_path, monkeypatch):
    """A task's chunks close at the row budget (a file over it is a chunk
    of its own), and each file's output from its chunk equals running the
    kernel on that file alone, in the same row order; an empty file has
    no output. File sizes are read for absolute and relative paths."""
    from eynollah_spark import pipeline

    paths = _write_files(tmp_path, _first_docs(partition, 400), 5)
    sizes = [os.path.getsize(p) for p in paths]
    assert pipeline._file_sizes(paths) == sizes
    monkeypatch.chdir(tmp_path)
    assert pipeline._file_sizes([os.path.basename(p) for p in paths]) == sizes
    cols = pq.read_schema(paths[0]).names
    rows = [pq.read_metadata(p).num_rows for p in paths]
    kern, alone = make_partition_arrow_kernel(), {}
    for i, p in enumerate(paths):
        outs = list(kern(iter(pq.read_table(p).to_batches())))
        if outs:
            alone[i] = pa.Table.from_batches(outs)
    assert len(alone) == 5 and rows[5] == 0
    chunks = []
    run_chunk = pipeline._keyed_outputs

    def record(batches, *a, **kw):
        # the keys of the chunk's rows: the empty file 5 has none
        chunks.append(sorted({k for b in batches
                              for k in b.column(pipeline._KEY).to_pylist()}))
        return run_chunk(batches, *a, **kw)

    monkeypatch.setattr(pipeline, "_keyed_outputs", record)
    everything = list(range(6))
    for files, budget, want in (
            (everything, 10**9, [everything]),
            (everything, 1, [[0], [1], [2], [3], [4], [5]]),
            ([0, 1, 2], rows[0] + rows[1], [[0, 1], [2]]),
            ([1, 3, 5], rows[1] + rows[3], [[1, 3, 5]])):
        chunks.clear()
        got = {i: pa.Table.from_batches([o]) for i, o, _ in pipeline._task_outputs(
            paths, files, cols, True, budget)}
        assert chunks == [[i for i in c if rows[i]] for c in want]
        assert got.keys() == {i for i in files if i in alone}
        for i, out in got.items():
            assert out.equals(alone[i]), i


def test_keyed_outputs_equal_per_key_runs(partition):
    """The writers' task body: over rows keyed so that consecutive doc_ids
    fall under different keys, with one document of key 1 poisoned (a
    zero page width) and fail_fast=False, each key's output equals the
    kernel run on that key's rows alone, and quarantine causes appear
    under the poisoned key only."""
    from eynollah_spark import pipeline

    t = _first_docs(partition, 120)
    ids = t.column("doc_id").to_numpy(zero_copy_only=False)
    key = np.array([int(d[3:]) % 3 for d in ids], dtype=np.int32)
    victim = next(d for d in ids[pc.is_valid(t["kind"]).to_numpy(zero_copy_only=False)]
                  if int(d[3:]) % 3 == 1)
    t = t.set_column(t.schema.get_field_index("width"), "width", pc.if_else(
        pc.equal(t["doc_id"], victim), pa.scalar(0, pa.int32()), t["width"]))
    got = {k: (pa.Table.from_batches([rows]), causes)
           for k, rows, causes in pipeline._keyed_outputs(
               t.append_column(pipeline._KEY, pa.array(key)).to_batches(max_chunksize=1000),
               False)}
    assert sorted(got) == [0, 1, 2]
    for k, (rows, causes) in got.items():
        alone = _run(t.filter(pa.array(key == k)).to_batches(), fail_fast=False)
        assert rows.equals(alone), k
        assert causes == ({"PageSizeError": 1} if k == 1 else {}), k
