"""Span-sequence equality gate (BASELINE.json input_hint): the layout
kernel must reproduce the reference's PAGE-XML reading order on its own
ground-truth test pages, span for span on (kind, text, media_ref, order).
"""

import numpy as np
import pytest

from eynollah_spark.fixtures import FIXTURE_FILES, load_fixture
from eynollah_spark.kernels.layout import (
    DocSpans,
    cluster_lines_into_regions,
    find_gutters,
    layout_document,
    order_lines_in_region,
    split_main_and_marginal,
)


def doc_to_arrays(doc):
    arr = lambda i, dt=object: np.array([s[i] for s in doc.spans], dtype=dt)
    return DocSpans(
        kind=arr(0), text=arr(1), media_ref=arr(2), offset=arr(3, np.int64),
        x0=arr(4, float), x1=arr(5, float), y0=arr(6, float), y1=arr(7, float),
        width=doc.width, height=doc.height,
    )


@pytest.mark.parametrize("doc_id", list(FIXTURE_FILES))
def test_reference_fixture_span_sequence(doc_id):
    doc = load_fixture(doc_id)
    d = doc_to_arrays(doc)
    perm, kinds = layout_document(d)
    got = [
        (kinds[p], d.text[i], d.media_ref[i], int(d.offset[i]))
        for p, i in enumerate(perm)
    ]
    assert got == doc.expected


def test_every_span_emitted_exactly_once():
    # property mirrored from the reference's own assertion
    # (utils/__init__.py:1139-1143: every region indexed exactly once)
    for doc_id in FIXTURE_FILES:
        d = doc_to_arrays(load_fixture(doc_id))
        perm, _ = layout_document(d)
        assert sorted(perm.tolist()) == list(range(d.n))


def test_empty_and_degenerate_docs():
    empty = DocSpans(*(np.array([], dtype=object),) * 3,
                     offset=np.array([], dtype=np.int64),
                     x0=np.array([]), x1=np.array([]), y0=np.array([]), y1=np.array([]),
                     width=1000, height=1000)
    perm, kinds = layout_document(empty)
    assert len(perm) == 0
    one = DocSpans(
        kind=np.array(["text"], dtype=object),
        text=np.array(["hello"], dtype=object),
        media_ref=np.array([None], dtype=object),
        offset=np.array([0], dtype=np.int64),
        x0=np.array([10.0]), x1=np.array([500.0]),
        y0=np.array([10.0]), y1=np.array([40.0]),
        width=1000, height=1000,
    )
    perm, kinds = layout_document(one)
    assert perm.tolist() == [0] and kinds[0] == "text"


def test_single_num_col_bound_pins_not_clamps():
    """Reference branch structure (eynollah.py:322-335, 391-416): with
    only ONE of num_col_lower/upper set, num_col is FORCED to that bound
    (the classifier is skipped entirely) — not merely clamped. Observable
    here: pinning to 3 disables the marginalia channel (which only runs
    for num_col <= 2) even on a page whose auto-estimate is 1-2 columns,
    where a mere upper-clamp would leave the estimate (and the
    marginalia) unchanged."""
    import dataclasses

    base = None
    for doc_id in FIXTURE_FILES:
        d = doc_to_arrays(load_fixture(doc_id))
        _, kinds = layout_document(d)
        if "marginalia" in set(kinds):
            base = d
            break
    assert base is not None, "no fixture page with marginalia"
    # upper-only pins num_col to 3 -> marginalia channel off
    _, k_up = layout_document(dataclasses.replace(base, num_col_upper=3))
    assert "marginalia" not in set(k_up)
    # lower-only pins likewise
    _, k_lo = layout_document(dataclasses.replace(base, num_col_lower=3))
    assert "marginalia" not in set(k_lo)
    # both set and UNEQUAL -> clamp only; a [1,2] clamp spans the
    # auto-estimate so the page is unchanged, marginalia survives
    _, k_cl = layout_document(dataclasses.replace(base, num_col_lower=1,
                                                  num_col_upper=2))
    assert "marginalia" in set(k_cl)


def test_line_sort_rows_then_x():
    # two rows, two lines each (D1, eynollah.py:891-944)
    cx = np.array([500.0, 100.0, 500.0, 100.0])
    cy = np.array([100.0, 100.0, 200.0, 200.0])
    order = order_lines_in_region(cx, cy, rtl=False)
    assert order.tolist() == [1, 0, 3, 2]
    order = order_lines_in_region(cx, cy, rtl=True)
    assert order.tolist() == [0, 1, 2, 3]


def test_find_gutters_two_columns():
    # 20 lines in each of two columns -> one gutter in the gap
    y0 = np.arange(20, dtype=float) * 30
    y1 = y0 + 20
    x0 = np.concatenate([np.full(20, 100.0), np.full(20, 600.0)])
    x1 = np.concatenate([np.full(20, 450.0), np.full(20, 950.0)])
    g = find_gutters(x0, x1, np.tile(y0, 2), np.tile(y1, 2), 1000)
    assert len(g) == 1 and 450 < g[0] < 600


def test_find_gutters_single_column():
    y0 = np.arange(20, dtype=float) * 30
    g = find_gutters(np.full(20, 100.0), np.full(20, 900.0), y0, y0 + 20, 1000)
    assert g == []


def test_marginalia_split_guards():
    # a narrow low-mass side column is marginalia; a balanced second
    # column is not (C10 guards, marginals.py:42,62,83-95)
    n_main, n_marg = 30, 12
    y0m = np.arange(n_main, dtype=float) * 40 + 50
    y0g = np.arange(n_marg, dtype=float) * 100 + 60
    x0 = np.concatenate([np.full(n_main, 300.0), np.full(n_marg, 40.0)])
    x1 = np.concatenate([np.full(n_main, 1100.0), np.full(n_marg, 160.0)])
    y0 = np.concatenate([y0m, y0g])
    y1 = y0 + 30
    marg, lo, hi = split_main_and_marginal(x0, x1, y0, y1, 1200, 1400, num_col=1)
    assert marg[n_main:].all() and not marg[:n_main].any()
    # balanced two columns: nothing is marginalia (num_col=2 rule keeps
    # the gutter valley inside mid±1/3)
    x0b = np.concatenate([np.full(n_main, 100.0), np.full(n_main, 640.0)])
    x1b = np.concatenate([np.full(n_main, 540.0), np.full(n_main, 1080.0)])
    y0b = np.tile(y0m, 2)
    margb, _, _ = split_main_and_marginal(x0b, x1b, y0b, y0b + 30, 1200, 1400, num_col=2)
    assert not margb.any()


def test_region_clustering_band_and_edge_rules():
    # two stacked aligned lines merge; a line across a band boundary
    # doesn't; misaligned edges don't
    x0 = np.array([100.0, 100.0, 100.0, 400.0])
    x1 = np.array([500.0, 480.0, 500.0, 500.0])
    y0 = np.array([0.0, 30.0, 60.0, 90.0])
    y1 = y0 + 25
    band = np.array([0, 0, 1, 1])
    lab = cluster_lines_into_regions(x0, x1, y0, y1, band=band)
    assert lab[0] == lab[1]          # aligned, same band
    assert lab[1] != lab[2]          # band boundary
    assert lab[2] != lab[3]          # left edges misaligned


def test_d4_partial_width_separator_per_column_recursion():
    """VERDICT r1 item 5 adversarial fixture: 3 columns, one horizontal
    separator spanning columns 1-2 only, mid-band. The reference's
    per-column walk (utils/__init__.py:1794-1864) emits: col1-above,
    col2-above, col3-full, col1-below, col2-below."""
    cols_x = [(100, 400), (500, 800), (900, 1160)]
    kinds, x0, x1, y0, y1 = [], [], [], [], []
    ids = {}
    off = 0
    for ci, (cx0, cx1) in enumerate(cols_x):
        for r in range(14):
            ids[(ci, r)] = off
            kinds.append("text")
            x0.append(cx0), x1.append(cx1)
            y0.append(100 + 45 * r), y1.append(120 + 45 * r)
            off += 1
    # separator spanning columns 1-2 between rows 6 and 7
    sep_off = off
    kinds.append("separator")
    x0.append(100), x1.append(800), y0.append(400), y1.append(406)
    off += 1

    doc = DocSpans(
        kind=np.array(kinds, dtype=object),
        text=np.array([f"t{i}" for i in range(off)], dtype=object),
        media_ref=np.array([None] * off, dtype=object),
        offset=np.arange(off, dtype=np.int64),
        x0=np.array(x0, float), x1=np.array(x1, float),
        y0=np.array(y0, float), y1=np.array(y1, float),
        width=1260, height=1000, rtl=False,
    )
    perm, _k = layout_document(doc)
    got = [int(doc.offset[i]) for i in perm]
    expect = (
        [ids[(0, r)] for r in range(7)]      # col1 above the separator
        + [ids[(1, r)] for r in range(7)]    # col2 above
        + [ids[(2, r)] for r in range(14)]   # col3 full height
        + [ids[(0, r)] for r in range(7, 14)]  # col1 below
        + [ids[(1, r)] for r in range(7, 14)]  # col2 below
        + [sep_off]                          # separator in the D8 tail
    )
    assert got == expect


def _mk_doc(rows, W=1500, H=2000):
    arr = lambda i, dt=object: np.array([r[i] for r in rows], dtype=dt)
    n = len(rows)
    return DocSpans(
        kind=arr(0), text=arr(1), media_ref=np.array([None] * n, dtype=object),
        offset=np.arange(n, dtype=np.int64),
        x0=arr(2, float), x1=arr(3, float), y0=arr(4, float), y1=arr(5, float),
        width=W, height=H)


def test_d4_get_span_column_merge():
    """VERDICT r2 item 5: the constructed page that forces the reference's
    get_span column-merge walk (utils/__init__.py:1794-1864) — 3 columns,
    a separator under column 2 only, and below it a region overhanging
    from column 2 into column 3 by LESS than the spanning-band margin (so
    find_splitters pass 2 does not band it, the big-parts path). The box
    below the separator must widen through column 3; the overhanging
    region must order AFTER all of column 3 (the reference walk emits the
    full-height column-3 box before the merged below-separator box),
    never interleaved into column 3's flow."""
    rows = []

    def line(tag, x0, x1, y, h=20):
        rows.append(("text", tag, x0, x1, y, y + h))

    for i in range(30):
        line(f"c1_{i:02d}", 100, 400, 100 + i * 45)
    for i in range(26):
        line(f"c2a_{i:02d}", 500, 800, 100 + i * 45)
    for i in range(4):
        line(f"c2b_{i:02d}", 500, 800, 1330 + i * 45)
    for i in range(27):
        line(f"c3a_{i:02d}", 900, 1200, 100 + i * 45)
    # overhang into col2: x0=800 is ~50 px left of the ~850 gutter, under
    # the 0.04*W = 60 px banding margin -> stays in the column structure
    # (the wide-spanning big-parts path would band it instead)
    for i in range(2):
        line(f"sp_{i}", 800, 1150, 1350 + i * 30)
    for i in range(3):
        line(f"c3b_{i}", 900, 1200, 1530 + i * 45)
    rows.append(("separator", None, 500, 800, 1295, 1303))    # cut of col2
    rows.append(("separator", None, 100, 1200, 1500, 1506))   # band splitter

    d = _mk_doc(rows)
    perm, kinds = layout_document(d)
    got = [d.text[i] for i in perm if d.text[i] is not None]
    groups = [t.split("_")[0] for t in got]

    def block(tag):
        idx = [k for k, g in enumerate(groups) if g == tag]
        assert idx, f"missing group {tag}"
        assert idx == list(range(idx[0], idx[0] + len(idx))), \
            f"group {tag} not contiguous: {idx}"
        return idx[0]

    order = sorted(["c1", "c2a", "c2b", "c3a", "c3b", "sp"], key=block)
    # reference walk: col1, col2-above, col3 full height, then the widened
    # below-separator box (col2-below, then the overhanging region), then
    # the next band. Without get_span the overhanging region instead lands
    # in column 3's box (center fallback) and precedes c2b.
    assert order == ["c1", "c2a", "c3a", "c2b", "sp", "c3b"], order
    # within each group, generation (top-down) order
    for tag in ("c1", "c2a", "c2b", "c3a", "c3b", "sp"):
        sub = [t for t in got if t.startswith(tag + "_")]
        assert sub == sorted(sub), sub


def test_d4_fixture_actually_diverges(monkeypatch):
    """The fixture above must genuinely exercise get_span: with the
    extension disabled (pre-r3 behavior), the overhanging region lands in
    column 3's box and the sequence differs — proving the fixture hunts
    the divergence rather than passing vacuously."""
    import eynollah_spark.kernels.layout as L

    monkeypatch.setattr(L, "_extend_box_span",
                        lambda edges, trail, *a, **k: trail)
    rows = []

    def line(tag, x0, x1, y, h=20):
        rows.append(("text", tag, x0, x1, y, y + h))

    for i in range(30):
        line(f"c1_{i:02d}", 100, 400, 100 + i * 45)
    for i in range(26):
        line(f"c2a_{i:02d}", 500, 800, 100 + i * 45)
    for i in range(4):
        line(f"c2b_{i:02d}", 500, 800, 1330 + i * 45)
    for i in range(27):
        line(f"c3a_{i:02d}", 900, 1200, 100 + i * 45)
    for i in range(2):
        line(f"sp_{i}", 800, 1150, 1350 + i * 30)
    for i in range(3):
        line(f"c3b_{i}", 900, 1200, 1530 + i * 45)
    rows.append(("separator", None, 500, 800, 1295, 1303))
    rows.append(("separator", None, 100, 1200, 1500, 1506))

    d = _mk_doc(rows)
    perm, _ = layout_document(d)
    got = [d.text[i] for i in perm if d.text[i] is not None]
    first = {}
    for k, t in enumerate(got):
        first.setdefault(t.split("_")[0], k)
    order = sorted(first, key=first.get)
    assert order != ["c1", "c2a", "c3a", "c2b", "sp", "c3b"], \
        "fixture no longer exercises the get_span walk"


def test_cc_labels_matches_bruteforce_and_incremental():
    """_cc_labels: min-index component labels, one-shot == chunked
    incremental (init=) == brute-force propagation. Guards the DSU
    root-merge invariant the chunked pair sweep relies on (an
    endpoint-only merge silently detaches a pulled-down representative
    from its members once satisfied edges are dropped — r5 bug)."""
    from eynollah_spark.kernels.layout import _cc_labels

    rng = np.random.default_rng(7)
    for _ in range(120):
        n = int(rng.integers(1, 50))
        ne = int(rng.integers(0, 100))
        a = rng.integers(0, n, ne)
        b = rng.integers(0, n, ne)
        lab = _cc_labels(n, a, b)
        ref = np.arange(n)
        for _ in range(n):
            for x, y in zip(a, b):
                m = min(ref[x], ref[y])
                ref[ref == ref[x]] = m
                ref[ref == ref[y]] = m
        assert (lab == ref).all()
        if ne > 3:
            half = ne // 2
            inc = _cc_labels(n, a[:half], b[:half])
            inc = _cc_labels(n, a[half:], b[half:], init=inc)
            assert (inc == lab).all()


def test_dense_blob_page_bounded():
    """A 10^4-span page whose replicated lines wrap within ONE page
    height (the skew-stress corpus shape) produces ~3e6 candidate
    pairs. The chunked pair sweep must keep this page near-linear —
    the unchunked sweep materialized ~400 MB of predicate temporaries
    and took 8-31 s/doc, which (x32 concurrent workers) was the real
    cause of the r5 skew-bench pathology, not salting itself."""
    import time

    from eynollah_spark.corpus import gen_doc
    from eynollah_spark.kernels.layout import layout_permutation

    arrs, meta = gen_doc(3)
    n0 = len(arrs["kind"])
    rep = int(np.ceil(10000 / n0))
    tile = lambda a: np.concatenate([a.copy() for _ in range(rep)])
    reps = np.repeat(np.arange(1, rep + 1), n0)
    y0 = (tile(arrs["y0"]).astype(float) + reps * 37) % (meta["height"] - 40)
    d = DocSpans(
        kind=tile(arrs["kind"]), text=tile(arrs["text"]),
        media_ref=tile(arrs["media_ref"]),
        offset=np.arange(n0 * rep, dtype=np.int64),
        x0=tile(arrs["x0"]).astype(float), x1=tile(arrs["x1"]).astype(float),
        y0=y0, y1=y0 + 24, width=meta["width"], height=meta["height"],
        rtl=meta["rtl"])
    # calibrate against THIS machine in THIS process: time the base page
    # and bound the 10^4-span blob as a multiple of it, instead of an
    # absolute wall that flakes on loaded/slow CI hardware (ADVICE r5).
    # A superlinear regression (the unchunked sweep was ~100x the base
    # cost per span) still fails by orders of magnitude.
    base = DocSpans(
        kind=arrs["kind"], text=arrs["text"], media_ref=arrs["media_ref"],
        offset=np.arange(n0, dtype=np.int64),
        x0=arrs["x0"].astype(float), x1=arrs["x1"].astype(float),
        y0=arrs["y0"].astype(float), y1=arrs["y1"].astype(float),
        width=meta["width"], height=meta["height"], rtl=meta["rtl"])
    t0 = time.perf_counter()
    layout_permutation(base)
    base_wall = max(time.perf_counter() - t0, 1e-4)
    t0 = time.perf_counter()
    perm, _ = layout_permutation(d)
    wall = time.perf_counter() - t0
    assert len(perm) == d.n
    assert sorted(perm) == list(range(d.n))  # total permutation
    # near-linear bound: rep x the base page's cost, with generous slack
    # for the O(pairs) chunked sweep (measured ~60x base at rep~100;
    # the unchunked pathology was >1000x)
    assert wall < 400 * rep / 100 * base_wall + 2.0, (
        f"dense-blob page took {wall:.1f}s (base {base_wall*1000:.0f}ms)")


def _gen_docs(n, seed):
    from eynollah_spark.corpus import gen_doc

    docs = []
    for i in range(n):
        a, m = gen_doc(i, seed)
        if len(a["kind"]):
            docs.append(DocSpans(
                kind=a["kind"], text=None, media_ref=None, offset=a["offset"],
                x0=a["x0"].astype(float), x1=a["x1"].astype(float),
                y0=a["y0"].astype(float), y1=a["y1"].astype(float),
                width=m["width"], height=m["height"], rtl=m["rtl"]))
    return docs


def test_page_stage_batch_equals_single_pages():
    """analyze_pages over a batch gives every document exactly the Page
    it gets alone: geometry, valleys and marginal projection."""
    from eynollah_spark.kernels.layout import analyze_pages

    docs = _gen_docs(150, seed=11)
    for d, got in zip(docs, analyze_pages(docs)):
        want = analyze_pages([d])[0]
        for f in ("x0", "x1", "y0", "y1", "cx", "cy", "is_sep", "tix"):
            assert np.array_equal(getattr(got, f), getattr(want, f)), f
        assert (got.valleys, got.lo, got.hi) == (want.valleys, want.lo, want.hi)
        assert (got.margins is None) == (want.margins is None)
        if got.margins is not None:
            assert np.array_equal(got.margins[0], want.margins[0])
            assert got.margins[1:] == want.margins[1:]


@pytest.fixture(scope="module")
def mixed_docs():
    """~150 generated documents — LTR and RTL, rotated pages,
    marginalia, multi-band pages, media, one-line and all-separator
    pages — plus the empty ones, as DocSpans."""
    from eynollah_spark.corpus import gen_doc

    docs = []
    for i in range(150):
        a, m = gen_doc(i, 42)
        docs.append(DocSpans(
            kind=a["kind"], text=None, media_ref=None, offset=a["offset"],
            x0=a["x0"].astype(float), x1=a["x1"].astype(float),
            y0=a["y0"].astype(float), y1=a["y1"].astype(float),
            width=m["width"], height=m["height"], rtl=m["rtl"]))
    assert any(d.rtl for d in docs) and any(d.n == 0 for d in docs)
    return docs


def _stage_calls(monkeypatch, name, docs):
    """Run layout_permutations over ``docs`` as one batch, recording
    each call of its stage function ``name``. Returns (the unrecorded
    function, [(args, kwargs, result) per call])."""
    from eynollah_spark.kernels import layout

    real = getattr(layout, name)
    calls = []

    def rec(*a, **kw):
        out = real(*a, **kw)
        calls.append((a, kw, out))
        return out

    monkeypatch.setattr(layout, name, rec)
    layout.layout_permutations(docs)
    monkeypatch.setattr(layout, name, real)
    return real, calls


def test_band_gutters_batch_equals_single(monkeypatch, mixed_docs):
    """The batch's band gutters (find_splitters pass 2 and the D4 bands,
    one gutter_sets call each) equal each band's gutters alone."""
    real, calls = _stage_calls(monkeypatch, "gutter_sets", mixed_docs)
    assert len(calls) == 2
    widths = set()
    for (x0, x1, y0, y1, bounds, width, vseps), _, got in calls:
        assert len(got) == len(vseps) > 1
        for k, (s, e) in enumerate(zip(bounds[:-1], bounds[1:])):
            assert got[k] == real(x0[s:e], x1[s:e], y0[s:e], y1[s:e], [0, e - s],
                                  width[k], [vseps[k]])[0]
        widths |= set(width)
    assert len(widths) > 20  # bands of many documents


def test_region_clustering_batch_equals_single(monkeypatch, mixed_docs):
    """One clustering call for every document's body and marginal lines;
    each segment's labels, less its start, are the labels of clustering
    it alone."""
    real, calls = _stage_calls(monkeypatch, "cluster_lines_into_regions", mixed_docs)
    [((x0, x1, y0, y1), kw, got)] = calls
    bounds, band, rtl = kw["bounds"], kw["band"], kw["rtl"]
    assert rtl.any() and not rtl.all()
    merged = 0
    for k, (s, e) in enumerate(zip(bounds[:-1], bounds[1:])):
        want = real(x0[s:e], x1[s:e], y0[s:e], y1[s:e], band=band[s:e], rtl=rtl[k])
        assert np.array_equal(got[s:e] - s, want), k
        merged += len(np.unique(want)) < e - s
    assert merged > 100


def test_in_region_order_batch_equals_single(monkeypatch, mixed_docs):
    """D1 over every region of the batch in one pass equals ordering each
    region alone (its own pitch, its own direction)."""
    real, calls = _stage_calls(monkeypatch, "order_lines_in_region", mixed_docs)
    [((cx, cy, rtl, off), kw, got)] = calls
    bounds = kw["bounds"]
    multi = 0
    for k, (s, e) in enumerate(zip(bounds[:-1], bounds[1:])):
        assert np.array_equal(got[s:e] - s, real(cx[s:e], cy[s:e], rtl[k], off[s:e])), k
        multi += e - s > 2
    assert multi > 100 and rtl.any()


def test_in_box_order_batch_equals_single(monkeypatch, mixed_docs):
    """D6 over every box of the batch in one pass equals ordering each
    box's regions alone."""
    real, calls = _stage_calls(monkeypatch, "_order_in_boxes", mixed_docs)
    [((rcx, rcy, rh, roff, rtl, bounds), _, got)] = calls
    multi = 0
    for k, (s, e) in enumerate(zip(bounds[:-1], bounds[1:])):
        want = real(rcx[s:e], rcy[s:e], rh[s:e], roff[s:e], rtl[k:k + 1], [0, e - s])
        assert np.array_equal(got[s:e] - s, want), k
        multi += e - s > 1
    assert multi >= 10  # most boxes of this corpus hold one region
