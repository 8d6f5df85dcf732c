"""Span-sequence equality gate (BASELINE.json input_hint): the layout
kernel must reproduce the reference's PAGE-XML reading order on its own
ground-truth test pages, span for span on (kind, text, media_ref, order).
"""

import dataclasses

import numpy as np
import pytest
from page_helpers import (corpus_page, reading_order, reference_page,
                          require_reference_pages)

from eynollah_spark.fixtures import FIXTURE_FILES
from eynollah_spark.kernels.layout import (
    DocSpans,
    cluster_lines_into_regions,
    find_gutters,
    order_lines_in_region,
    span_table,
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
    doc = reference_page(doc_id)
    d = doc_to_arrays(doc)
    perm, kinds = reading_order(d)
    got = [
        (kinds[p], d.text[i], d.media_ref[i], int(d.offset[i]))
        for p, i in enumerate(perm)
    ]
    assert got == doc.expected


def test_every_span_emitted_exactly_once():
    # property mirrored from the reference's own assertion
    # (utils/__init__.py:1139-1143: every region indexed exactly once)
    require_reference_pages()
    for doc_id in FIXTURE_FILES:
        d = doc_to_arrays(reference_page(doc_id))
        perm, _ = reading_order(d)
        assert sorted(perm.tolist()) == list(range(d.n))


#: generated pages, one per archetype (corpus.py): single column, its
#: skewed and RTL variants, two columns, columns + marginalia, multi-
#: column bands, text + media, the media-heavy tail, an all-separator
#: page and a one-line page
_ARCHETYPES = [0, 3, 7, 40, 66, 80, 85, 93, 98, 199]


@pytest.mark.parametrize("doc_index", _ARCHETYPES)
def test_every_span_emitted_exactly_once_generated(doc_index):
    d, _ = corpus_page(doc_index)
    perm, _ = reading_order(d)
    assert d.n and sorted(perm.tolist()) == list(range(d.n))


def test_empty_and_degenerate_docs():
    empty = DocSpans(*(np.array([], dtype=object),) * 3,
                     offset=np.array([], dtype=np.int64),
                     x0=np.array([]), x1=np.array([]), y0=np.array([]), y1=np.array([]),
                     width=1000, height=1000)
    perm, kinds = reading_order(empty)
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
    perm, kinds = reading_order(one)
    assert perm.tolist() == [0] and kinds[0] == "text"


def test_single_num_col_bound_pins_not_clamps():
    """Reference branch structure (eynollah.py:322-335, 391-416): with
    only ONE of num_col_lower/upper set, num_col is FORCED to that bound
    (the classifier is skipped entirely) — not merely clamped. Observable
    here: pinning to 3 disables the marginalia channel (which only runs
    for num_col <= 2) even on a page whose auto-estimate is 1-2 columns,
    where a mere upper-clamp would leave the estimate (and the
    marginalia) unchanged."""
    require_reference_pages()
    base = None
    for doc_id in FIXTURE_FILES:
        d = doc_to_arrays(reference_page(doc_id))
        _, kinds = reading_order(d)
        if "marginalia" in set(kinds):
            base = d
            break
    assert base is not None, "no fixture page with marginalia"
    _check_single_bound_pins(base)


def _check_single_bound_pins(base):
    # upper-only pins num_col to 3 -> marginalia channel off
    _, k_up = reading_order(dataclasses.replace(base, num_col_upper=3))
    assert "marginalia" not in set(k_up)
    # lower-only pins likewise
    _, k_lo = reading_order(dataclasses.replace(base, num_col_lower=3))
    assert "marginalia" not in set(k_lo)
    # both set and UNEQUAL -> clamp only; a [1,2] clamp spans the
    # auto-estimate so the page is unchanged, marginalia survives
    _, k_cl = reading_order(dataclasses.replace(base, num_col_lower=1,
                                                num_col_upper=2))
    assert "marginalia" in set(k_cl)


def test_single_num_col_bound_pins_not_clamps_generated():
    """The same on a generated two-column page with marginalia, whose
    auto-estimate is 2 columns: its marginalia are found as generated."""
    from eynollah_spark.kernels import layout

    base, a = corpus_page(66)
    assert layout._layout_batch(layout.analyze_pages(span_table([base]))).num_col[0] == 2
    perm, kinds = reading_order(base)
    assert (kinds == a["expected_kind"][perm]).all() and "marginalia" in set(kinds)
    _check_single_bound_pins(base)


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
    perm, _k = reading_order(doc)
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
    perm, kinds = reading_order(d)
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
    perm, _ = reading_order(d)
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
    """The non-empty ones of generated documents 0..n-1, as DocSpans."""
    return [d for d in (corpus_page(i, seed)[0] for i in range(n)) if d.n]


def test_kernel_leaves_its_input_unchanged(mixed_docs):
    """Deskew rotates the geometry of skewed pages, but not in the span
    table it was given: the pipeline re-runs a failed batch's documents
    from the same table."""
    from eynollah_spark.kernels.layout import analyze_pages, layout_permutations

    before = {c: getattr(mixed_docs, c).copy() for c in ("x0", "x1", "y0", "y1")}
    pages = analyze_pages(mixed_docs)
    assert any(not np.array_equal(getattr(pages, c), v) for c, v in before.items())
    layout_permutations(mixed_docs, pages)
    for c, v in before.items():
        assert np.array_equal(getattr(mixed_docs, c), v), c


def test_page_stage_batch_equals_single_pages():
    """analyze_pages over a batch gives every document exactly the part
    of the Pages it gets alone: geometry, valleys and marginal profile."""
    from eynollah_spark.kernels.layout import analyze_pages

    docs = _gen_docs(150, seed=11)
    got = analyze_pages(span_table(docs))
    vx, vdoc, vok = got.valleys
    mdoc, P, bins, *rest = got.margins
    for d, doc in enumerate(docs):
        want = analyze_pages(span_table([doc]))
        s, e = got.bounds[d], got.bounds[d + 1]
        for f in ("code", "x0", "x1", "y0", "y1", "cx", "cy"):
            assert np.array_equal(getattr(got, f)[s:e], getattr(want, f)), f
        assert np.array_equal(got.ti[got.tb[d]:got.tb[d + 1]] - s, want.ti)
        assert (got.lo[d], got.hi[d], vok[d]) == (want.lo[0], want.hi[0], want.valleys[2][0])
        assert np.array_equal(vx[vdoc == d], want.valleys[0])
        k, (_, P1, bins1, *rest1) = np.flatnonzero(mdoc == d), want.margins
        assert len(k) == len(bins1) <= 1
        if len(k):
            assert np.array_equal(P[k[0], :bins[k[0]]], P1[0, :bins1[0]])
            for v, w in zip(rest, rest1):
                assert np.array_equal(v[k[0]], w[0])


@pytest.fixture(scope="module")
def mixed_list():
    """~150 generated documents — LTR and RTL, rotated pages,
    marginalia, multi-band pages, media, one-line and all-separator
    pages — plus the empty ones, as DocSpans."""
    docs = [corpus_page(i)[0] for i in range(150)]
    assert any(d.rtl for d in docs) and any(d.n == 0 for d in docs)
    return docs


@pytest.fixture(scope="module")
def mixed_docs(mixed_list):
    """The mixed documents as one span table."""
    return span_table(mixed_list)


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


# ---- the per-document phases, segmented: every one of them over the
# batch gives each document exactly what it gets alone

@pytest.fixture(scope="module")
def phase_docs(mixed_list):
    """The mixed documents, then the first 100 again with num_col pinned
    to 1 (their column gutters become marginal-split candidates, which
    runs the C10 side guards on many pages), as one span table."""
    return span_table(mixed_list + [dataclasses.replace(d, num_col_lower=1, num_col_upper=1)
                                    for d in mixed_list[:100]])


@pytest.fixture(scope="module")
def phase_states(phase_docs):
    """(batch, [single per document]): analyze_pages and _layout_batch
    state of the phase documents as one batch and of each alone."""
    from eynollah_spark.kernels import layout

    def state(docs):
        pages = layout.analyze_pages(docs)
        return pages, layout._layout_batch(pages)

    return state(phase_docs), [state(phase_docs[d:d + 1]) for d in range(len(phase_docs))]


def test_marginal_split_batch_equals_single(phase_states):
    """C10 (_marginal_split over the [docs x bins] profiles): each
    document's marginal flags and main-text extent."""
    (pages, st), singles = phase_states
    marg_docs = 0
    for d, (p1, s1) in enumerate(singles):
        a, b = pages.tb[d], pages.tb[d + 1]
        assert np.array_equal(st.tmarg[a:b], s1.tmarg), d
        assert (st.main_lo[d], st.main_hi[d]) == (s1.main_lo[0], s1.main_hi[0]), d
        marg_docs += bool(s1.tmarg.any())
    assert marg_docs >= 10


def _peaks_by_samples(y, min_distance):
    """Reference for one profile: local maxima of equal-value runs,
    min-distance suppression keeping higher peaks, and each kept peak's
    prominence from the walk over samples."""
    n = len(y)
    change = np.flatnonzero(y[1:] != y[:-1]) + 1
    starts, ends = np.concatenate(([0], change)), np.concatenate((change, [n]))
    v = y[starts]
    inner = [k for k in range(1, len(v) - 1) if v[k] > v[k - 1] and v[k] > v[k + 1]]
    peaks = [(starts[k] + ends[k] - 1) // 2 for k in inner]
    keep = [True] * len(peaks)
    for oi in sorted(range(len(peaks)), key=lambda i: -y[peaks[i]]):
        if keep[oi]:
            for j, p in enumerate(peaks):
                if j != oi and abs(p - peaks[oi]) < min_distance and y[p] <= y[peaks[oi]]:
                    keep[j] = False
    peaks = [p for p, k in zip(peaks, keep) if k]
    prom = []
    for p in peaks:
        lv = y[p]
        left = max([i + 1 for i in range(p) if y[i] > lv], default=0)
        right = min([i for i in range(p + 1, n) if y[i] > lv], default=n)
        prom.append(lv - max(min([lv, *y[left:p]]), min([lv, *y[p + 1:right]])))
    return peaks, prom


def test_find_peaks_batch_equals_single():
    """C10's peak search over a matrix of profiles, each row with its own
    length and min_distance, equals each row alone and the walk over
    samples — on rows dense in close peaks, which the generated corpus
    never suppresses."""
    from eynollah_spark.kernels.layout import _BINS, _find_peaks, _prominences

    rng = np.random.default_rng(3)
    R = 60
    n = rng.integers(8, 300, R)
    md = rng.integers(2, 40, R)
    md[0] = 2  # a batch-wide min_distance would take the first row's
    Y = np.zeros((R, _BINS))
    for k in range(R):
        Y[k, :n[k]] = np.repeat(rng.integers(0, 5, n[k]), rng.integers(1, 6, n[k]))[:n[k]]

    def run(Y, n, md):
        (_, rval, rb), (prow, ppos, run) = _find_peaks(Y, n, md)
        return prow, ppos, _prominences(rval, rb, prow, run)

    prow, ppos, prom = run(Y, n, md)
    suppressed = 0
    for k in range(R):
        _, pk, pr = run(Y[k:k + 1], n[k:k + 1], md[k:k + 1])
        assert np.array_equal(ppos[prow == k], pk) and np.array_equal(prom[prow == k], pr), k
        want, want_prom = _peaks_by_samples(Y[k, :n[k]], md[k])
        assert pk.tolist() == want and pr.tolist() == want_prom, k
        suppressed += len(want) < len(_peaks_by_samples(Y[k, :n[k]], 1)[0])
    assert suppressed > 20


def test_column_estimate_batch_equals_single(phase_states):
    """C5/B5 (_settle_gutters and _column_counts over every page): each
    document's page-level gutters and column count."""
    (pages, st), singles = phase_states
    gx, gb = st.page_gutters
    counts = set()
    for d, (p1, s1) in enumerate(singles):
        assert np.array_equal(gx[gb[d]:gb[d + 1]], s1.page_gutters[0]), d
        assert st.num_col[d] == s1.num_col[0], d
        counts.add(int(st.num_col[d]))
    assert counts == {1, 2} and (np.diff(gb) > 0).sum() >= 60


def test_num_col_bound_is_set_when_nonzero(mixed_list):
    """B5's user bounds: a bound is set when it is non-zero, whatever its
    sign — a single bound pins num_col, two unequal ones clamp the
    estimate."""
    from eynollah_spark.kernels import layout

    docs = [d for d in mixed_list if (d.kind == layout.KIND_TEXT).sum() > 10][:20]
    est = layout._layout_batch(layout.analyze_pages(span_table(docs))).num_col
    for lo, hi, want in ((0, -1, np.full(len(docs), -1)), (-2, 0, np.full(len(docs), -2)),
                         (-1, 3, np.clip(est, -1, 3)), (2, 2, np.full(len(docs), 2))):
        bounded = [dataclasses.replace(d, num_col_lower=lo, num_col_upper=hi) for d in docs]
        got = layout._layout_batch(layout.analyze_pages(span_table(bounded))).num_col
        assert np.array_equal(got, want), (lo, hi)


def test_splitters_batch_equals_single(phase_states):
    """D2 (both splitter passes, _by_band and the dedupe over every
    document): each document's final splitters."""
    (pages, st), singles = phase_states
    sy, sb = st.splitters
    banded = 0
    for d, (p1, s1) in enumerate(singles):
        assert np.array_equal(sy[sb[d]:sb[d + 1]], s1.splitters[0]), d
        banded += sb[d + 1] - sb[d] > 2
    assert banded >= 20


def test_band_boxes_batch_equals_single(phase_states):
    """D4 (_band_boxes over every band): each document's boxes in
    emission order, and the clustering cell of each body line."""
    (pages, st), singles = phase_states
    (bs, *bx), bb = st.boxes
    rows, lb = st.lines
    multi = rtl_multi = 0
    for d, (p1, s1) in enumerate(singles):
        (_, *bx1), _ = s1.boxes
        for v, w in zip(bx, bx1):
            assert np.array_equal(v[bb[d]:bb[d + 1]], w), d
        assert np.array_equal(st.cells[lb[d]:lb[d + 1]], s1.cells), d
        multi += bb[d + 1] - bb[d] > 1
        rtl_multi += bool(p1.rtl[0]) and bb[d + 1] - bb[d] > 1
    assert multi >= 20 and rtl_multi >= 2


def test_box_assignment_batch_equals_single(monkeypatch, phase_docs):
    """D5 (_box_of over the batch's (region, box) pairs): each region's
    box, as an index into its document's boxes."""
    real, calls = _stage_calls(monkeypatch, "_box_of", phase_docs)
    [(args, _, got)] = calls
    rseg, bb = args[6], args[8]
    for d in np.unique(rseg).tolist():
        _, single = _stage_calls(monkeypatch, "_box_of", phase_docs[d:d + 1])
        [(_, _, want)] = single
        assert np.array_equal(got[rseg == d] - bb[d], want), d
    assert len(np.unique(rseg)) > 100 and (np.diff(bb) > 1).sum() > 20


def test_serialize_batch_equals_single(phase_docs):
    """D8 (one lexsort on (document, part, key) for the batch): each
    document's permutation and marginalia flags."""
    from eynollah_spark.kernels.layout import layout_permutations

    batch = layout_permutations(phase_docs)
    assert len(batch.counts) == len(phase_docs)
    ends = np.cumsum(batch.counts)
    for d in range(len(phase_docs)):
        want_perm, want_marg, _ = layout_permutations(phase_docs[d:d + 1])
        a, b = ends[d] - batch.counts[d], ends[d]
        assert np.array_equal(batch.perm[a:b] - phase_docs.bounds[d], want_perm), d
        assert np.array_equal(batch.marg[a:b], want_marg), d
    assert batch.marg.any() and (batch.counts == 0).any()


def test_traced_kernel_phases_resolve(mixed_docs):
    """Every (module, name) that perfbench's traced run wraps
    (perfbench/tracing.py KERNEL_PHASES), and pipeline.layout_permutation,
    which it patches too, still resolves: a renamed phase fails here, not
    in the traced benchmark. The kernel runs unchanged under the
    wrappers."""
    import importlib
    import importlib.util
    import pathlib
    import sys

    from eynollah_spark import pipeline
    from eynollah_spark.kernels.layout import layout_permutations

    path = pathlib.Path(__file__).resolve().parents[1] / "perfbench" / "tracing.py"
    spec = importlib.util.spec_from_file_location("perfbench_tracing", path)
    tracing = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = tracing
    try:
        spec.loader.exec_module(tracing)
        for mod, name in tracing.KERNEL_PHASES:
            assert callable(getattr(importlib.import_module(f"eynollah_spark.kernels.{mod}"),
                                    name)), (mod, name)
        assert callable(pipeline.layout_permutation)
        want = layout_permutations(mixed_docs[:20])
        tracer = tracing.Tracer()
        with tracing.kernel_phase_spans(tracer):
            got = layout_permutations(mixed_docs[:20])
        assert np.array_equal(got.perm, want.perm) and tracer.spans
    finally:
        del sys.modules[spec.name]


def test_smooth_rows_is_per_row_gaussian_smooth():
    """The batched row smoothing is bitwise gaussian_smooth row by row,
    on full rows, short rows and rows shorter than their kernel (where
    np.convolve swaps its operands and the output outgrows the row), and
    takes zero rows."""
    from eynollah_spark.kernels.layout import _BINS, _smooth_rows, gaussian_smooth

    rng = np.random.default_rng(3)
    P = rng.random((6, _BINS)) * rng.integers(1, 50, size=(6, 1))
    bins = np.array([_BINS, 700, 8, 8, 40, 1000])
    sigma = np.array([6.8, 0.3, 5.0, 1.2, 25.0, 0.5])
    S, n = _smooth_rows(P, bins, sigma)
    for k in range(len(bins)):
        want = gaussian_smooth(P[k, :bins[k]], sigma[k])
        assert n[k] == len(want)
        assert S[k, :n[k]].tobytes() == want.tobytes()
        assert not S[k, n[k]:].any()
    assert n[2] > bins[2] and n[4] > bins[4]  # the swapped rows
    assert S.shape == (6, max(_BINS, n.max()))
    S, n = _smooth_rows(P[:0], bins[:0], sigma[:0])
    assert S.shape == (0, _BINS) and n.shape == (0,)
