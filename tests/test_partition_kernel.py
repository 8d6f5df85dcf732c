"""Spark-free gates on the whole-partition Arrow kernel
(pipeline.make_partition_arrow_kernel): the pinned 3000-doc permutation
hashes, independence from how a partition arrives in batches and from
which documents share it, and the nested output agreeing with the flat
one."""

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
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


def test_nested_output_regroups_flat_output(partition):
    """output='nested' is the flat output grouped per doc in ord order,
    with an empty out_spans list for each empty doc."""
    t = _first_docs(partition, 200)
    flat = _run(t.to_batches()).to_pylist()
    nested = _run(t.to_batches(), output="nested").to_pylist()
    ids = list(dict.fromkeys(t.column("doc_id").to_pylist()))
    assert [r["doc_id"] for r in nested] == ids
    by_doc = {d: [] for d in ids}
    for r in flat:
        by_doc[r["doc_id"]].append(
            {k: r[k] for k in ("kind", "text", "media_ref", "offset")})
    assert {r["doc_id"]: r["out_spans"] for r in nested} == by_doc
    assert sum(not r["out_spans"] for r in nested) == 2  # docs 99 and 198

