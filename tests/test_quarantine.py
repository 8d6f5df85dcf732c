"""Failure quarantine: a pathological document degrades to offset order
instead of killing the job (fail_fast=False, the production mode used by
manifest.run_extraction — the scale replacement for the reference's
halt_fail global abort, eynollah.py:2023-2028)."""

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest

import eynollah_spark.pipeline as pl
from eynollah_spark.corpus import gen_corpus_flat
from eynollah_spark.kernels import layout
from eynollah_spark.kernels.layout import DocSpans, span_table

#: the failing document carries this page width (no generated page has it)
_MARK = 7777
_VICTIM = "doc00000013"


def _doc():
    return DocSpans(
        kind=np.array(["text", "text"], dtype=object),
        text=np.array(["a", "b"], dtype=object),
        media_ref=np.array([None, None], dtype=object),
        offset=np.array([1, 0], dtype=np.int64),
        x0=np.array([10.0, 10.0]), x1=np.array([500.0, 500.0]),
        y0=np.array([100.0, 10.0]), y1=np.array([130.0, 40.0]),
        width=600, height=400,
    )


def test_safe_permutation_falls_back(monkeypatch):
    def boom(spans, pages=None):
        raise ValueError("kernel bug")

    monkeypatch.setattr(pl, "layout_permutations", boom)
    # the failing document is the second of the table: its fallback
    # indexes the table's rows
    spans = span_table([_doc(), _doc()])
    perm, marg, counts, angle, failed = pl._safe_permutations(spans, 1, 2, fail_fast=False)
    # degraded but total: input-offset order, unrotated
    assert perm.tolist() == [3, 2] and not marg.any() and counts.tolist() == [2]
    assert angle.tolist() == [0.0]
    assert failed == {1: "ValueError"}
    with pytest.raises(ValueError):
        pl._safe_permutations(spans, 1, 2, fail_fast=True)


def _partition() -> pa.Table:
    """Flat span rows of 30 generated docs, the victim's width marked."""
    flat, _ = gen_corpus_flat(30)
    cols = ("doc_id", "width", "height", "rtl", "kind", "text", "media_ref",
            "offset", "x0", "x1", "y0", "y1")
    t = pa.table({c: flat[c] for c in cols})
    victim = pc.equal(t["doc_id"], _VICTIM)
    assert pc.any(victim).as_py()
    return t.set_column(1, "width", pc.if_else(victim, _MARK, t["width"]))


def _run(t: pa.Table, fail_fast: bool) -> pa.Table:
    kern = pl.make_partition_arrow_kernel(fail_fast=fail_fast)
    return pa.Table.from_batches(list(kern(iter(t.to_batches(max_chunksize=500)))))


def _check_quarantined(t: pa.Table, out: pa.Table, ref: pa.Table):
    """The victim comes out in offset order with its kinds unchanged; the
    other 29 docs equal the fail_fast=True output."""
    mine = pc.equal(out["doc_id"], _VICTIM)
    v = out.filter(mine).sort_by("ord")
    src = t.filter(pc.equal(t["doc_id"], _VICTIM)).sort_by("offset")
    assert v["offset"].to_pylist() == src["offset"].to_pylist()
    assert v["kind"].to_pylist() == src["kind"].to_pylist()
    others = out.filter(pc.invert(mine))
    assert others.num_rows > 0
    assert others.equals(ref.filter(pc.not_equal(ref["doc_id"], _VICTIM)))


def test_quarantined_doc_does_not_poison_batch(monkeypatch):
    """One document raising inside layout_permutations."""
    t = _partition()
    ref = _run(t, fail_fast=True)
    real = pl.layout_permutations

    def flaky(spans, pages=None):
        if (spans.W == _MARK).any():
            raise ValueError("kernel bug")
        return real(spans, pages)

    monkeypatch.setattr(pl, "layout_permutations", flaky)
    _check_quarantined(t, _run(t, fail_fast=False), ref)
    with pytest.raises(ValueError):
        _run(t, fail_fast=True)


def test_page_stage_failure_quarantines_one_doc(monkeypatch):
    """One document raising inside the batched page stage: its batch is
    re-run one document at a time, so only that document degrades."""
    t = _partition()
    ref = _run(t, fail_fast=True)
    real = layout.analyze_pages
    sizes = []

    def flaky(spans):
        sizes.append(len(spans))
        if (spans.W == _MARK).any():
            raise ValueError("page stage bug")
        return real(spans)

    monkeypatch.setattr(pl, "analyze_pages", flaky)
    monkeypatch.setattr(layout, "analyze_pages", flaky)
    _check_quarantined(t, _run(t, fail_fast=False), ref)
    # one batch of all 30 docs, then each doc's page stage alone
    assert sizes == [30] + [1] * 30
    with pytest.raises(ValueError):
        _run(t, fail_fast=True)
