"""Property-based kernel tests (hypothesis): structural invariants that
must hold for ANY geometry, mirroring the reference's own assertion that
every region is indexed exactly once (utils/__init__.py:1139-1143)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from eynollah_spark.kernels.layout import DocSpans, layout_document

KINDS = ["text", "image", "separator", "table"]


@st.composite
def random_doc(draw):
    n = draw(st.integers(0, 60))
    W = draw(st.integers(400, 2400))
    H = draw(st.integers(400, 3000))
    rtl = draw(st.booleans())
    kinds, x0, x1, y0, y1 = [], [], [], [], []
    for _ in range(n):
        kinds.append(draw(st.sampled_from(KINDS)))
        a = draw(st.integers(0, W - 2))
        b = draw(st.integers(a + 1, W))
        c = draw(st.integers(0, H - 2))
        d = draw(st.integers(c + 1, H))
        x0.append(a), x1.append(b), y0.append(c), y1.append(d)
    return DocSpans(
        kind=np.array(kinds, dtype=object),
        text=np.array([f"t{i}" for i in range(n)], dtype=object),
        media_ref=np.array([None] * n, dtype=object),
        offset=np.arange(n, dtype=np.int64),
        x0=np.array(x0, float), x1=np.array(x1, float),
        y0=np.array(y0, float), y1=np.array(y1, float),
        width=W, height=H, rtl=rtl,
    )


@settings(max_examples=120, deadline=None)
@given(random_doc())
def test_permutation_total_and_kinds_sane(doc):
    perm, kinds = layout_document(doc)
    # every span emitted exactly once
    assert sorted(perm.tolist()) == list(range(doc.n))
    # kinds only refine text -> marginalia; media kinds pass through
    for p, i in enumerate(perm):
        if doc.kind[i] != "text":
            assert kinds[p] == doc.kind[i]
        else:
            assert kinds[p] in ("text", "marginalia")
    # D8: all non-text tail kinds come after all text/marginalia
    tail = [kinds[p] for p in range(doc.n) if kinds[p] in ("image", "separator", "table")]
    head_end = doc.n - len(tail)
    assert all(k in ("text", "marginalia") for k in kinds[:head_end])


@settings(max_examples=60, deadline=None)
@given(random_doc(), st.randoms(use_true_random=False))
def test_input_order_invariance(doc, rnd):
    """The kernel must depend on geometry only: shuffling the input spans
    yields the same output sequence (keyed by offset provenance)."""
    perm1, kinds1 = layout_document(doc)
    seq1 = [(kinds1[p], int(doc.offset[i])) for p, i in enumerate(perm1)]
    idx = list(range(doc.n))
    rnd.shuffle(idx)
    idx = np.array(idx, dtype=np.int64)
    shuffled = DocSpans(
        kind=doc.kind[idx], text=doc.text[idx], media_ref=doc.media_ref[idx],
        offset=doc.offset[idx], x0=doc.x0[idx], x1=doc.x1[idx],
        y0=doc.y0[idx], y1=doc.y1[idx],
        width=doc.width, height=doc.height, rtl=doc.rtl,
    )
    perm2, kinds2 = layout_document(shuffled)
    seq2 = [(kinds2[p], int(shuffled.offset[i])) for p, i in enumerate(perm2)]
    assert seq1 == seq2


@settings(max_examples=200, deadline=None)
@given(st.lists(st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
                min_size=1, max_size=60))
def test_fast_median_equals_numpy(xs):
    """_seg_median must be bit-identical to np.median per segment (it
    replaced np.median in the kernel hot path for speed; any semantic
    drift silently changes row clustering thresholds)."""
    from eynollah_spark.kernels.layout import _seg_median

    a = np.array(xs, dtype=float)
    bounds = np.array(sorted({0, len(a) // 3, len(a)}))
    seg = np.repeat(np.arange(len(bounds) - 1), np.diff(bounds))
    assert _seg_median(a, seg, bounds).tolist() == [
        float(np.median(a[s:e])) for s, e in zip(bounds[:-1], bounds[1:])]


@settings(max_examples=100, deadline=None)
@given(st.integers(1, 40), st.integers(100, 2400), st.randoms(use_true_random=False))
def test_coverage_profile_matches_add_at(n, width, rnd):
    """The bincount difference-array rewrite must match the original
    np.add.at formulation bit-for-bit on integer-valued weights (all
    corpus/fixture geometry) and to float tolerance otherwise."""
    from eynollah_spark.kernels.layout import coverage_profile

    x0 = np.array([rnd.uniform(0, width - 2) for _ in range(n)])
    x1 = x0 + np.array([rnd.uniform(1, width / 3) for _ in range(n)])
    w = np.array([float(rnd.randint(1, 40)) for _ in range(n)])
    p, scale = coverage_profile(x0, x1, w, width)
    bins = int(min(max(int(width), 8), 1024))
    lo = np.clip((x0 * scale).astype(np.int64), 0, bins - 1)
    hi = np.clip((x1 * scale).astype(np.int64) + 1, 1, bins)
    d = np.zeros(bins + 1)
    np.add.at(d, lo, w)
    np.add.at(d, hi, -w)
    ref = np.cumsum(d)[:-1]
    assert np.array_equal(p, ref)
