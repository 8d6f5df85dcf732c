"""Per-document layout + reading-order kernel (pure numpy, no Spark).

Symbolic re-expression of eynollah's heuristic core on span bounding
boxes instead of pixel rasters. Reference semantics preserved
(citations into /root/reference):

* C5  column-split detection   src/eynollah/utils/__init__.py:245-489
      (projection profile -> gaussian smooth -> valley peaks -> balance
      pruning / merge of close peaks)
* C10 marginalia detection     src/eynollah/utils/marginals.py:9-185
      (main-text x-span vs low-mass side humps)
* C11 marginal L/R split+sort  src/eynollah/eynollah.py:1923-1947
* D1  in-region line sort      src/eynollah/eynollah.py:891-944
      (row clustering of line centers, top-down rows, left-right in row)
* D2  separator/splitter scan  src/eynollah/utils/__init__.py:1280-1487
      (full-width horizontal separators and multi-column-spanning
      regions become page splitters `splitter_y`)
* D4  XY-cut box emission      src/eynollah/utils/__init__.py:1489-1885
      (per y-band column boxes in reading order, RTL flip at
      utils/__init__.py:1522-1524,1866-1879)
* D5  region->box assignment   src/eynollah/eynollah.py:1143-1244
      (strict bbox containment, center fallback, nearest-center fallback)
* D6  within-box ordering      src/eynollah/utils/__init__.py:1021-1145
      (y-band bucket then center-x sort)
* D8  serialization order      src/eynollah/utils/xml.py:49-66 +
      src/eynollah/writer.py:184-290
      (left marginalia top-down -> ordered text regions (lines in D1
      order) -> right marginalia top-down -> images -> separators ->
      tables)

The kernel is a pure function of small per-document arrays; Spark's
role (see eynollah_spark.pipeline) is to run millions of these in
parallel inside the mapInArrow partition kernel, a batch of documents
at a time. Its input is one flat span table (Spans: the span columns,
the document bounds and one page row per document), and a batch is a
document range of it; span_table builds one from DocSpans, the
one-document input of layout_permutation. analyze_pages runs the page
stage (deskew scores, the page-level projection profiles and their
valleys); layout_permutations runs the rest phase by phase, every
phase one numpy pass over the whole batch with its documents as
segments: separators, the page-level column estimate, the marginal
split (peak search on the run-length encoding of the [documents x bins]
profile matrix), both splitter passes, the band gutters, D4 boxes and
cells, the region clustering, D1, D5, D6 and the D8 order. Segments
meet through (segment, element) pair tables, keys searched
lexicographically on (segment, value), and bincounts or reduceats per
segment. Python loops remain only where a step is sequential by nature
and rare: min-distance peak suppression, greedy merges of close
candidates, and the columns a partial-width separator cuts. Every
batched step is exact per segment, so a document's result
never depends on its batch; layout_permutation is the batch of one.
"""

from __future__ import annotations

from dataclasses import dataclass
from types import SimpleNamespace
from typing import NamedTuple

import numpy as np
# np.convolve's own C kernel, called without its Python wrapper
from numpy._core.multiarray import correlate as _correlate

KIND_TEXT = "text"
KIND_IMAGE = "image"
KIND_SEPARATOR = "separator"
KIND_TABLE = "table"
KIND_MARGINALIA = "marginalia"

# --- tunables (symbolic counterparts of reference constants) -----------------
_VALLEY_FRAC = 0.12        # valley threshold vs profile max (C5 cutoff analogue)
_GUTTER_MERGE_FRAC = 0.03  # merge column peaks closer than this x page width (C5 :409-433)
_COL_MIN_MASS = 0.06       # balance pruning: drop columns lighter than this (C5 :390-405)
_SPLITTER_X0 = 0.16        # full-width separator rule (D2 :1444-1457)
_SPLITTER_X1 = 0.84
_SPAN_MARGIN_FRAC = 0.04   # a line "spans" a gutter if it sticks out this much both sides
_REGION_XOVERLAP = 0.35    # line->region clustering x-overlap ratio
_REGION_GAP_FACTOR = 1.7   # ... and vertical gap <= factor*min(h)+4
_ROW_THR_FRAC = 0.5        # D6 row clustering threshold vs median region height
_REGION_H_RATIO = 3.0      # C16: max line-height ratio within one region (drop caps split off)
_LINE_ROW_DIV = 1.5        # D1: same row iff gap <= median pitch / 1.5 (eynollah.py:916-922)


#: span kinds by code; any other kind is code len(_KINDS)
_KINDS = (KIND_TEXT, KIND_IMAGE, KIND_SEPARATOR, KIND_TABLE)


def kind_codes(names) -> np.ndarray:
    """The kernel's code of every kind name: its index in _KINDS, or
    len(_KINDS) for any other kind."""
    return np.array([_KINDS.index(k) if k in _KINDS else len(_KINDS) for k in names],
                    dtype=np.int64)


@dataclass
class Spans:
    """The layout kernel's input: a batch of documents as one flat span
    table. Document d's spans are the rows ``[bounds[d], bounds[d+1])``
    of the span columns; the page columns hold one value per document.
    ``spans[a:b]`` is documents a..b-1, the span columns as views of
    these (no copy)."""

    bounds: np.ndarray         # int64, bounds[0] == 0
    code: np.ndarray           # span kind as kind_codes gives it
    off: np.ndarray            # span offset, int64
    x0: np.ndarray             # span geometry, float64
    x1: np.ndarray
    y0: np.ndarray
    y1: np.ndarray
    W: np.ndarray              # per document: page size (float64),
    H: np.ndarray              # direction and the CLI-style column-count
    rtl: np.ndarray            # bounds (cli_layout.py:127-143; clamp
    num_col_lower: np.ndarray  # semantics eynollah.py:411-416; 0 = unset)
    num_col_upper: np.ndarray

    def __len__(self):
        return len(self.W)

    def __getitem__(self, docs: slice) -> Spans:
        a, b, _ = docs.indices(len(self))
        s, e = self.bounds[a], self.bounds[b]
        return Spans(self.bounds[a:b + 1] - s,
                     *(v[s:e] for v in (self.code, self.off, self.x0, self.x1, self.y0, self.y1)),
                     *(v[a:b] for v in (self.W, self.H, self.rtl, self.num_col_lower,
                                        self.num_col_upper)))


def span_table(docs: list[DocSpans]) -> Spans:
    """The flat span table of one or more DocSpans, in order."""
    names, inv = np.unique(np.concatenate([np.asarray(d.kind, dtype=object) for d in docs]),
                           return_inverse=True)
    cat = lambda c, dt: np.concatenate([np.asarray(getattr(d, c), dtype=dt) for d in docs])
    return Spans(
        np.concatenate(([0], np.cumsum([d.n for d in docs]))).astype(np.int64),
        kind_codes(names)[inv], cat("offset", np.int64),
        *(cat(c, float) for c in ("x0", "x1", "y0", "y1")),
        np.array([float(d.width) for d in docs]), np.array([float(d.height) for d in docs]),
        np.array([bool(d.rtl) for d in docs]),
        np.array([int(d.num_col_lower or 0) for d in docs]),
        np.array([int(d.num_col_upper or 0) for d in docs]))


@dataclass
class DocSpans:
    """Flat arrays for one document (aligned by span index):
    layout_permutation's input."""

    kind: np.ndarray       # object array of str
    text: np.ndarray       # object array of str|None
    media_ref: np.ndarray  # object array of str|None
    offset: np.ndarray     # int64
    x0: np.ndarray         # float64
    x1: np.ndarray
    y0: np.ndarray
    y1: np.ndarray
    width: int
    height: int
    rtl: bool = False
    #: CLI-style column-count bounds (cli_layout.py:127-143 num_col_lower/
    #: num_col_upper; clamp semantics eynollah.py:411-416). 0 = unset.
    num_col_lower: int = 0
    num_col_upper: int = 0

    @property
    def n(self) -> int:
        return len(self.kind)


# ---------------------------------------------------------------- profiles ---

def _seg_median(a, seg, bounds):
    """np.median of every segment ``a[bounds[k]:bounds[k+1]]`` (all
    non-empty; ``seg`` the segment of each element), without its
    per-call dispatch: one segmented sort gives each segment's two
    middle order statistics, and their mean is computed as np.median
    computes it."""
    b = a[np.lexsort((a, seg))]
    n = np.diff(bounds)
    return 0.5 * (b[bounds[:-1] + (n - 1) // 2] + b[bounds[:-1] + n // 2])


_BINS = 1024  # coverage-profile resolution cap


def coverage_profiles(x0, x1, weights, bounds, width):
    """Weighted x-coverage histograms (the symbolic 'column sum' of the
    text mask, cf. utils/__init__.py:277-279) of S segments at once:
    segment k is the spans ``[bounds[k], bounds[k+1])`` on a page of
    ``width[k]``. Returns (P, bins, scale): row k of the S x _BINS matrix
    P is segment k's profile over its first ``bins[k]`` columns (the
    rest is not part of it), ``scale[k]`` bins per px.

    One bincount over all segments keeps each bin's spans in their
    original order and each row's prefix sum is sequential, so every row
    is bit-identical to profiling its segment alone — for fractional
    weights too (rotated geometry)."""
    width = np.asarray(width, dtype=float)
    bins = np.minimum(np.maximum(width.astype(np.int64), 8), _BINS)
    scale = bins / width
    seg = np.repeat(np.arange(len(width)), np.diff(bounds))
    sc, nb = scale[seg], bins[seg]
    lo = np.minimum(np.maximum((x0 * sc).astype(np.int64), 0), nb - 1)
    hi = np.minimum(np.maximum((x1 * sc).astype(np.int64) + 1, 1), nb)
    # difference array as two bincounts (the weights summed at each
    # span's first bin, minus those summed one past its last), which is
    # ~5x faster than np.add.at. Deskewed geometry makes the weights
    # fractional, so the float rounding of exactly this formulation is
    # part of the pinned permutations: a rewrite (one signed bincount,
    # say) must reproduce it bit for bit.
    base = seg * (_BINS + 1)
    size = len(width) * (_BINS + 1)
    w = np.asarray(weights, dtype=float)
    d = (np.bincount(base + lo, weights=w, minlength=size)
         - np.bincount(base + hi, weights=w, minlength=size))
    return d.reshape(-1, _BINS + 1).cumsum(axis=1)[:, :-1], bins, scale


_GAUSS_KERNELS: dict[float, np.ndarray] = {}


def _gauss_kernel(sigma):
    """The normalized gaussian kernel of gaussian_smooth, memoized by
    sigma (constant per page width)."""
    sigma = max(float(sigma), 0.5)
    k = _GAUSS_KERNELS.get(sigma)
    if k is None:
        r = int(max(1, round(3 * sigma)))
        t = np.arange(-r, r + 1, dtype=float)
        k = np.exp(-0.5 * (t / sigma) ** 2)
        k /= k.sum()
        if len(_GAUSS_KERNELS) < 4096:
            _GAUSS_KERNELS[sigma] = k
    return k


def gaussian_smooth(p, sigma):
    """1-D gaussian smoothing (cf. scipy gaussian_filter1d use at
    utils/__init__.py:277, sigma=25 on ~2500px pages)."""
    return np.convolve(p, _gauss_kernel(sigma), mode="same")


# ------------------------------------------------------------ segments ---
#
# The batched phases work on flat arrays of many segments (documents,
# bands, regions): segment k's elements are ``[bounds[k], bounds[k+1])``.

def _segments(bounds):
    """The segment of every element, segment k being
    ``[bounds[k], bounds[k+1])``."""
    bounds = np.asarray(bounds, dtype=np.int64)
    return np.repeat(np.arange(len(bounds) - 1), np.diff(bounds))


def _seg_bounds(seg, n_seg):
    """The bounds of ``n_seg`` segments from the (non-decreasing) segment
    of every element."""
    return np.concatenate(([0], np.cumsum(np.bincount(seg, minlength=n_seg))))


def _firsts(seg):
    """The first index of every run of equal values in ``seg``."""
    if not len(seg):
        return np.empty(0, dtype=np.int64)
    return np.flatnonzero(np.concatenate(([True], seg[1:] != seg[:-1])))


def _ragged_arange(starts, lengths):
    """concatenate(arange(s, s + n) for s, n in zip(starts, lengths))."""
    ends = np.cumsum(lengths)
    total = int(ends[-1]) if len(ends) else 0
    return np.repeat(starts - (ends - lengths), lengths) + np.arange(total)


def _pairs(seg, bounds):
    """Every element i paired with every element of its segment
    ``seg[i]`` of another table (segment s: ``[bounds[s], bounds[s+1])``),
    i-major: returns (i, j) index arrays."""
    bounds = np.asarray(bounds, dtype=np.int64)
    cnt = (bounds[1:] - bounds[:-1])[seg]
    return np.repeat(np.arange(len(seg)), cnt), _ragged_arange(bounds[:-1][seg], cnt)


def _lex_key(major, minor):
    """Complex keys that numpy sorts and searches lexicographically by
    (major, minor) — both stored exactly, no arithmetic."""
    k = np.empty(len(major), dtype=complex)
    k.real, k.imag = major, minor
    return k


def _smooth_rows(P, bins, sigma):
    """gaussian_smooth of the first ``bins[k]`` columns of every row k of
    ``P`` (one convolution per row: rows differ in sigma, and a matrix
    form would not round as np.convolve does). Returns (S, n): row k of S
    holds the smoothed row in its first ``n[k]`` columns, zeros after
    (np.convolve's 'same' output outgrows the row when the kernel is the
    longer of the two).

    Each row calls the correlate np.convolve calls, as np.convolve calls
    it: ``convolve(a, v, 'same')`` is ``correlate(a, v[::-1], 'same')``
    with a and v swapped when v is the longer, so every row is bitwise
    gaussian_smooth's."""
    bins = bins.tolist()
    kernels = [_gauss_kernel(s) for s in sigma.tolist()]
    n = [max(b, len(k)) for b, k in zip(bins, kernels)]
    S = np.zeros((len(n), max(_BINS, *n) if n else _BINS))
    for i, (b, k, m) in enumerate(zip(bins, kernels, n)):
        row = P[i, :b]
        S[i, :m] = (_correlate(k, row[::-1], "same") if len(k) > b
                    else _correlate(row, k[::-1], "same"))
    return S, np.array(n, dtype=np.int64)


# ------------------------------------------------------- marginalia (C10) ---

def _suppress(peaks, heights, min_distance):
    """scipy's min-distance suppression on one profile's peaks, keeping
    higher peaks: returns the keep mask."""
    pk, hv = peaks.tolist(), heights.tolist()
    keep = [True] * len(pk)
    for oi in (-heights).argsort(kind="stable").tolist():
        if not keep[oi]:
            continue
        p0, h0 = pk[oi], hv[oi]
        for j, (p, v) in enumerate(zip(pk, hv)):
            if abs(p - p0) < min_distance and v <= h0 and j != oi:
                keep[j] = False
    return keep


def _find_peaks(Y, n, min_distance):
    """Plateau-aware local maxima with min-distance suppression (stand-in
    for scipy.signal.find_peaks as used at utils/marginals.py:74-78) of
    every row of ``Y`` at once, row k being its first ``n[k]`` columns,
    via run-length encoding: a peak is the middle of a run of equal
    values higher than the runs on both sides. Suppression runs only on
    the rows holding two peaks closer than their ``min_distance``.
    Returns the runs (row, value, bounds: row k's are
    ``[bounds[k], bounds[k+1])``) and the peaks (row, column, run), by
    row and column."""
    R, C = Y.shape
    brk = np.empty((R, C), dtype=bool)
    brk[:, 0] = True
    brk[:, 1:] = (Y[:, 1:] - Y[:, :-1]) != 0
    brk &= np.arange(C) < n[:, None]
    rrow, rstart = brk.nonzero()
    rb = _seg_bounds(rrow, R)
    rend = np.append(rstart[1:], 0)
    has = rb[1:] > rb[:-1]
    rend[rb[1:][has] - 1] = n[has]
    rval = Y[rrow, rstart]
    run = np.flatnonzero((rrow[1:-1] == rrow[:-2]) & (rrow[1:-1] == rrow[2:])
                         & (rval[1:-1] > rval[:-2]) & (rval[1:-1] > rval[2:])) + 1
    prow = rrow[run]
    ppos = (rstart[run] + rend[run] - 1) // 2
    close = (prow[1:] == prow[:-1]) & (ppos[1:] - ppos[:-1] < min_distance[prow[1:]])
    if close.any():
        keep = np.ones(len(run), dtype=bool)
        for r in np.unique(prow[1:][close]).tolist():
            k = np.flatnonzero(prow == r)
            keep[k] = _suppress(ppos[k], Y[r, ppos[k]], int(min_distance[r]))
        prow, ppos, run = prow[keep], ppos[keep], run[keep]
    return (rrow, rval, rb), (prow, ppos, run)


def _prominences(rval, rb, prow, run):
    """Prominence of every peak (run ``run`` of row ``prow``; runs as
    _find_peaks returns them): walking its row's runs until a higher one
    on each side, the lower of the two walks' minima is the base. Equal
    to the walk over samples, a run being a stretch of equal samples."""
    if not len(run):
        return np.empty(0)
    lv = rval[run]
    q, j = _pairs(prow, rb)
    v, pj = rval[j], run[q]
    higher = v > lv[q]
    st = np.concatenate(([0], np.cumsum(np.diff(rb)[prow])[:-1]))
    left = np.maximum.reduceat(np.where(higher & (j < pj), j, -1), st)
    right = np.minimum.reduceat(np.where(higher & (j > pj), j, len(rval)), st)
    lmin = np.minimum.reduceat(np.where((j > left[q]) & (j < pj), v, np.inf), st)
    rmin = np.minimum.reduceat(np.where((j > pj) & (j < right[q]), v, np.inf), st)
    return lv - np.maximum(np.minimum(lmin, lv), np.minimum(rmin, lv))


_NO_PROFILES = (np.empty(0, dtype=np.int64), np.empty((0, _BINS)),
                np.empty(0, dtype=np.int64), np.empty(0), np.empty(0),
                np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))


def _marginal_profiles(x0, x1, y0, y1, bounds, width, height):
    """split_main_and_marginal's profile phase for S segments of text
    lines at once (segment k: lines ``[bounds[k], bounds[k+1])`` on a
    ``width[k]`` x ``height[k]`` page): the column-sum projection of the
    horizontally eroded lines. Returns (seg, P, bins, scale, mx, first,
    last): the segments thick enough in text to have marginalia,
    ascending, and for each its projection (the first bins[k] columns of
    row k of P), bins per px, max, and the first and last columns of its
    smoothed support."""
    width = np.asarray(width, dtype=float)
    height = np.asarray(height, dtype=float)
    # horizontal erosion amount (marginals.py:25-38: 6x 1x5 plus 5-7x 5x5
    # at reduced scale for pages taller than 1500/1800 px)
    ex = np.where(height <= 1500, 12.0, np.where(height <= 1800, 22.0, 26.0))
    seg = _segments(bounds)
    ex0, ex1 = x0 + ex[seg], x1 - ex[seg]
    keepm = ex1 > ex0
    live = np.flatnonzero(np.bincount(seg[keepm], minlength=len(width)))
    if len(live) == 0:
        return _NO_PROFILES
    kb = np.concatenate(([0], np.cumsum(np.bincount(seg[keepm])[live])))
    P, bins, scale = coverage_profiles(ex0[keepm], ex1[keepm],
                                       np.maximum(y1 - y0, 1.0)[keepm], kb,
                                       width[live])
    mx = np.where(np.arange(_BINS) < bins[:, None], P, -np.inf).max(axis=1)
    # bail out if the max text thickness is below 14% of page height
    # (marginals.py:62)
    k = np.flatnonzero((mx > 0) & (100.0 * mx / height[live] >= 14.0))
    P, bins, scale, mx = P[k], bins[k], scale[k], mx[k]
    S, n = _smooth_rows(P, bins, 1.0 * scale)
    nz = S > 1e-9
    first = nz.argmax(axis=1)
    last = S.shape[1] - 1 - nz[:, ::-1].argmax(axis=1)
    return live[k], P, bins, scale, mx, first, last


def _best_peaks(side, prow, ppos, score, R):
    """Per row, the best-scoring peak of those flagged ``side`` (the
    first by column among equals): (score, column), NaN score where the
    row has none."""
    q = np.flatnonzero(side)
    o = q[np.lexsort((ppos[q], -score[q], prow[q]))]
    f = o[_firsts(prow[o])]
    best, pos = np.full(R, np.nan), np.zeros(R, dtype=np.int64)
    best[prow[f]], pos[prow[f]] = score[f], ppos[f]
    return best, pos


def _seg_extreme(op, vals, mask, bounds, fill):
    """op (np.minimum / np.maximum) of the ``mask``-ed values of every
    non-empty segment, ``fill`` where none is."""
    return op.reduceat(np.where(mask, vals, fill), bounds[:-1])


def _marginal_split(x0, x1, y0, y1, bounds, width, height, num_col, prof):
    """split_main_and_marginal after the profile phase for S segments of
    text lines at once (segment k: lines ``[bounds[k], bounds[k+1])`` on
    a ``width[k]`` x ``height[k]`` page of ``num_col[k]`` columns;
    ``prof`` is their _marginal_profiles). Returns (the marginalia flag
    of every line, main_lo, main_hi per segment)."""
    width, bounds = np.asarray(width, dtype=float), np.asarray(bounds)
    marg = np.zeros(len(x0), dtype=bool)
    main_lo, main_hi = np.zeros(len(width)), width.copy()
    k = np.flatnonzero(num_col[prof[0]] <= 2)
    if not len(k):
        return marg, main_lo, main_hi
    pseg, P, bins, scale, mx, first, last = (a[k] for a in prof)
    R = len(pseg)
    rev = mx[:, None] - P
    (_, rval, rb), (prow, ppos, run) = _find_peaks(
        rev, bins, np.maximum(2, (30 * scale).astype(np.int64)))
    # valleys kept only where the projection is below max/20
    # (min_text_thickness, marginals.py:42), scored prominence*height
    ok = (ppos > first[prow]) & (ppos < last[prow]) & (P[prow, ppos] < (mx / 20.0)[prow])
    prow, ppos, run = prow[ok], ppos[ok], run[ok]
    score = _prominences(rval, rb, prow, run) * rval[run]
    # valleys beyond the midpoint (1 column) or mid+-1/3 (2 columns)
    # (marginals.py:85-92)
    mid = 0.5 * (first + last)
    one = num_col[pseg] == 1
    lcut = np.where(one, mid, mid - (mid - first) / 3.0)
    rcut = np.where(one, mid, mid + (last - mid) / 3.0)
    bl, pl = _best_peaks(ppos < lcut[prow], prow, ppos, score, R)
    br, pr = _best_peaks(ppos > rcut[prow], prow, ppos, score, R)
    hl, hr = ~np.isnan(bl), ~np.isnan(br)
    # a side scoring <0.1x the other is dropped (marginals.py:106-129)
    with np.errstate(invalid="ignore"):
        use_l = hl & (~hr | (bl >= 0.1 * br))
        use_r = hr & (~hl | (br >= 0.1 * bl))
    live = np.flatnonzero(hl | hr)
    if not len(live):
        return marg, main_lo, main_hi
    s = pseg[live]
    PL = np.where(use_l, pl / scale, 0.0)[live]
    PR = np.where(use_r, pr / scale, width[pseg])[live]

    # symbolic-domain guards on top of min_text_thickness (marginals.py:42,83):
    # a true marginal column (a) recurs along the page (>=8% page-height
    # coverage — not a stray page number / catch-word), and (b) is small
    # next to the main text (<25% of its ink area, <50% of its width —
    # a real column is never marginalia even when a valley qualifies)
    n = (bounds[1:] - bounds[:-1])[s]
    li = _ragged_arange(bounds[:-1][s], n)
    q = np.repeat(np.arange(len(s)), n)
    lb = np.concatenate(([0], np.cumsum(n)))
    lx0, lx1 = x0[li], x1[li]
    h = np.maximum(y1[li] - y0[li], 1.0)
    cx = (lx0 + lx1) / 2.0
    area = np.maximum(lx1 - lx0, 1.0) * h
    L = len(s)

    def drop(side, body):
        has_s = np.logical_or.reduceat(side, lb[:-1])
        has_b = np.logical_or.reduceat(body, lb[:-1])
        thin = np.bincount(q, weights=np.where(side, h, 0.0), minlength=L) < 0.08 * height[s]
        a_s = np.bincount(q, weights=np.where(side, area, 0.0), minlength=L)
        a_b = np.bincount(q, weights=np.where(body, area, 0.0), minlength=L)
        side_w = (_seg_extreme(np.maximum, lx1, side, lb, -np.inf)
                  - _seg_extreme(np.minimum, lx0, side, lb, np.inf))
        body_w = (_seg_extreme(np.maximum, lx1, body, lb, -np.inf)
                  - _seg_extreme(np.minimum, lx0, body, lb, np.inf))
        return has_s & (thin | (has_b & ((a_s >= 0.25 * a_b) | (side_w >= 0.5 * body_w))))

    # the left side first: the right side's body excludes a kept left side
    PL = np.where(drop(cx < PL[q], ~((cx < PL[q]) | (cx > PR[q]))), 0.0, PL)
    PR = np.where(drop(cx > PR[q], ~((cx < PL[q]) | (cx > PR[q]))), width[s], PR)
    m = (cx < PL[q]) | (cx > PR[q])
    # no main text left -> treat all as main (marginals.py:183-185)
    some = ~np.logical_and.reduceat(m, lb[:-1])
    marg[li[some[q]]] = m[some[q]]
    main_lo[s[some]] = _seg_extreme(np.minimum, lx0, ~m, lb, np.inf)[some]
    main_hi[s[some]] = _seg_extreme(np.maximum, lx1, ~m, lb, -np.inf)[some]
    return marg, main_lo, main_hi


def split_main_and_marginal(x0, x1, y0, y1, width, height, num_col):
    """Return (marg_mask, main_lo, main_hi) over the given text lines.

    Faithful symbolic port of get_marginals (utils/marginals.py:9-185):

    * horizontal erosion of the text mask (1x5 kernel, 6 iterations, plus
      extra passes for tall pages, marginals.py:25-38) -> shrink each
      line's x-extent by an erosion margin;
    * column-sum projection; bail out if the max text thickness is below
      14% of page height (marginals.py:62);
    * valleys = peaks of the inverted projection (distance>=30), scored
      prominence*height (marginals.py:74-78), kept only where the
      projection is below max/20 (min_text_thickness, :42);
    * valleys must lie beyond the midpoint (1 column) or mid+-1/3
      (2 columns) (:85-92); >2 columns -> no marginalia (:93-95);
    * the best-scoring valley per side becomes point_left/point_right;
      a side scoring <0.1x the other is dropped (:106-129);
    * text whose center falls outside [point_left, point_right] is
      marginalia (:155-166).

    layout_permutations runs it (_marginal_profiles, _marginal_split)
    for a whole batch of documents; this is the batch of one.
    """
    x0, x1, y0, y1 = (np.asarray(a, dtype=float) for a in (x0, x1, y0, y1))
    b = [0, len(x0)]
    W, H = np.array([float(width)]), np.array([float(height)])
    marg, lo, hi = _marginal_split(x0, x1, y0, y1, b, W, H, np.array([num_col]),
                                   _marginal_profiles(x0, x1, y0, y1, b, W, H))
    return marg, float(lo[0]), float(hi[0])


# ------------------------------------------------------------ columns (C5) ---

def _gutter_valleys(x0, x1, y0, y1, bounds, width):
    """find_gutters' profile phase for S non-empty segments of lines at
    once (segment k: lines ``[bounds[k], bounds[k+1])`` on a page of
    ``width[k]``): the valley runs of each smoothed projection inside
    the segment's ink extent, as x positions. Returns (vx, vseg, ok, lo,
    hi): every valley and its segment, by segment and x; whether the
    segment's projection has ink and its extent an interior (if not, it
    has no gutters, whatever the separators); and the extent."""
    width = np.asarray(width, dtype=float)
    P, bins, scale = coverage_profiles(x0, x1, np.maximum(y1 - y0, 1.0),
                                       bounds, width)
    lo = np.minimum.reduceat(x0, bounds[:-1])
    hi = np.maximum.reduceat(x1, bounds[:-1])
    S, n = _smooth_rows(P, bins, np.maximum(1.0, width / 150.0) * scale)
    col = np.arange(S.shape[1])
    mx = np.where(col < n[:, None], S, -np.inf).max(axis=1)
    ilo = (lo * scale).astype(np.int64) + 1
    ihi = (hi * scale).astype(np.int64) - 1
    ok = (mx > 0) & (ihi > ilo)
    # valley runs inside the interior
    below = np.zeros((len(P), S.shape[1] + 2), dtype=bool)
    below[:, 1:-1] = ((S < _VALLEY_FRAC * mx[:, None]) & ok[:, None]
                      & (col >= np.maximum(ilo, 0)[:, None])
                      & (col < np.minimum(ihi, bins)[:, None]))
    row, idx = (below[:, 1:] != below[:, :-1]).nonzero()
    return ((idx[0::2] + idx[1::2]) / 2.0 / scale[row[0::2]], row[0::2], ok, lo, hi)


def _merge_close(x, s, seg, d):
    """C5 :409-433, one flat pass over the candidates (x, strength) of
    many segments, sorted by (segment, x, strength): a candidate closer
    than ``d[segment]`` to the last kept gutter of its segment merges
    into it, the stronger taking its place. Only the segments holding
    such a pair are walked."""
    close = (seg[1:] == seg[:-1]) & (x[1:] - x[:-1] < d[seg[1:]])
    if not close.any():
        return x, s, seg
    walk = np.isin(seg, seg[1:][close])
    keep = ~walk
    x, s = x.copy(), s.copy()
    xl, sl, gl, dl = x.tolist(), s.tolist(), seg.tolist(), d.tolist()
    last, cur = -1, -1
    for i in np.flatnonzero(walk).tolist():
        if gl[i] == cur and xl[i] - x[last] < dl[cur]:
            if sl[i] > s[last]:
                x[last], s[last] = xl[i], sl[i]
        else:
            keep[i], last, cur = True, i, gl[i]
    return x[keep], s[keep], seg[keep]


def _settle_gutters(vx, vseg, ok, sx, sseg, lo, hi, width, x0, x1, y0, y1, bounds):
    """find_gutters after the profile phase for S segments of lines at
    once (segment k: lines ``[bounds[k], bounds[k+1])`` with ink extent
    ``(lo[k], hi[k])`` on a page of ``width[k]``): valley candidates
    ``vx`` of segment ``vseg`` and separator candidates ``sx`` of
    ``sseg`` inside the extent, none where not ``ok``, merged and
    balance-pruned. Returns the gutters and their segments, by segment
    and x."""
    S = len(lo)
    # candidates (x, strength), sorted per segment
    sin = ok[sseg] & (lo[sseg] < sx) & (sx < hi[sseg])
    vin = ok[vseg]
    gx = np.concatenate((vx[vin], sx[sin]))
    gs = np.repeat([0.5, 1.0], [int(vin.sum()), int(sin.sum())])
    gseg = np.concatenate((vseg[vin], sseg[sin]))
    o = np.lexsort((gs, gx, gseg))
    gx, gs, gseg = _merge_close(gx[o], gs[o], gseg[o], _GUTTER_MERGE_FRAC * width)
    # balance pruning (C5 :390-405): drop gutters bounding near-empty
    # columns, one per segment and round
    lseg = _segments(bounds)
    area = np.maximum(x1 - x0, 1.0) * np.maximum(y1 - y0, 1.0)
    cx = (x0 + x1) / 2.0
    total = np.bincount(lseg, weights=area, minlength=S)
    inside = (cx >= lo[lseg]) & (cx < hi[lseg])
    while len(gx):
        G = np.bincount(gseg, minlength=S)
        gb = np.concatenate(([0], np.cumsum(G)))
        cb = np.concatenate(([0], np.cumsum(G + 1)))
        col = _lex_key(gseg, gx).searchsorted(_lex_key(lseg, cx), side="right") - gb[lseg]
        m = inside & (G[lseg] > 0)
        mass = np.bincount(cb[lseg[m]] + col[m], weights=area[m], minlength=int(cb[-1]))
        cseg = _segments(cb)
        o = np.lexsort((mass, cseg))
        weakest = o[_firsts(cseg[o])]
        drop = (G > 0) & (mass[weakest] < _COL_MIN_MASS * total)
        if not drop.any():
            break
        # remove the weaker of the gutters bounding the weakest column
        # (the left one of two equals)
        d = np.flatnonzero(drop)
        w = weakest[d] - cb[d]
        a, b = gb[d] + w - 1, gb[d] + w
        left = (w > 0) & ((w == G[d]) | (gs[np.maximum(a, 0)] <= gs[np.minimum(b, len(gs) - 1)]))
        keep = np.ones(len(gx), dtype=bool)
        keep[np.where(left, a, b)] = False
        gx, gs, gseg = gx[keep], gs[keep], gseg[keep]
    return gx, gseg


def gutter_sets(x0, x1, y0, y1, bounds, width, vsep_cx):
    """find_gutters for several non-empty segments of lines (segment k:
    lines ``[bounds[k], bounds[k+1])`` on a page of ``width[k]``, or of
    ``width`` for all, with vertical separators ``vsep_cx[k]``), every
    phase batched. Returns each segment's gutter list."""
    bounds = np.asarray(bounds, dtype=np.int64)
    S = len(vsep_cx)
    width = np.broadcast_to(np.asarray(width, dtype=float), (S,))
    vx, vseg, ok, lo, hi = _gutter_valleys(x0, x1, y0, y1, bounds, width)
    nv = [len(v) for v in vsep_cx]
    sx = np.concatenate([np.asarray(v, dtype=float) for v in vsep_cx] + [np.empty(0)])
    gx, gseg = _settle_gutters(vx, vseg, ok, sx, np.repeat(np.arange(S), nv), lo, hi,
                               width, x0, x1, y0, y1, bounds)
    g, gb = gx.tolist(), _seg_bounds(gseg, S).tolist()
    return [g[a:b] for a, b in zip(gb[:-1], gb[1:])]


def find_gutters(x0, x1, y0, y1, width, vsep_cx=()):
    """Column gutter x-positions among the given text lines.

    Port of find_num_col semantics (utils/__init__.py:245-489): smoothed
    projection valleys below a cutoff become column peaks; peaks closer
    than a merge distance collapse (:409-433); unbalanced splits are
    dropped (:390-405). Vertical separators contribute high-strength
    candidates (the matrix_of_seps path, :1400-1417).
    """
    if len(x0) == 0:
        return []
    return gutter_sets(np.asarray(x0, dtype=float), np.asarray(x1, dtype=float),
                       np.asarray(y0, dtype=float), np.asarray(y1, dtype=float),
                       [0, len(x0)], width, [vsep_cx])[0]


def _column_counts(gx, gseg, cx, area, lseg, S):
    """Page-level column estimate (B5 heuristic stand-in: peak count of
    the x-projection, cf. find_num_col utils/__init__.py:245-489) of S
    segments: only substantial columns count (>=15% of ink mass) — the
    CNN column classifier the reference uses never counts marginal
    humps. 1 where a segment has no gutter."""
    G = np.bincount(gseg, minlength=S)
    gb = np.concatenate(([0], np.cumsum(G)))
    cb = np.concatenate(([0], np.cumsum(G + 1)))
    col = _lex_key(gseg, gx).searchsorted(_lex_key(lseg, cx), side="right") - gb[lseg]
    mass = np.bincount(cb[lseg] + col, weights=area, minlength=int(cb[-1]))
    cseg = _segments(cb)
    total = np.bincount(cseg, weights=mass, minlength=S)
    n = np.bincount(cseg, weights=mass >= 0.15 * total[cseg], minlength=S)
    return np.where(G > 0, np.maximum(n, 1), 1).astype(np.int64)


# --------------------------------------------------------- splitters (D2) ---

def _dedupe_splitters(ys, seg, height):
    """Every segment's splitters sorted, each within 1 px of the last kept
    one dropped, and the last raised to the page height ``height[s]``.
    Returns (splitters, bounds: segment s's are
    ``[bounds[s], bounds[s+1])``); every segment has some."""
    o = np.lexsort((ys, seg))
    y, s = ys[o], seg[o]
    close = np.concatenate(([False], (s[1:] == s[:-1]) & (y[1:] - y[:-1] <= 1.0)))
    keep = ~close
    chain = close[1:] & close[:-1]
    if chain.any():
        # a splitter close to a dropped one compares with the last kept
        yl, sl = y.tolist(), s.tolist()
        last, cur = 0.0, -1
        for i in np.flatnonzero(np.isin(s, s[1:][chain])).tolist():
            if sl[i] != cur or yl[i] - last > 1.0:
                keep[i], last, cur = True, yl[i], sl[i]
    y, s = y[keep], s[keep]
    sb = _seg_bounds(s, len(height))
    top = sb[1:] - 1
    y[top] = np.maximum(y[top], height)
    return y, sb


def _by_band(ey, eb, y, seg):
    """Lines grouped by the band of their segment that holds their ``y``:
    segment s's bands are ``[ey[i], ey[i+1])`` for i in ``[eb[s],
    eb[s+1] - 1)`` (edges strictly increasing). Returns (band, order,
    bands, bstart): every line's band, as an index into its segment's
    bands (-1 below the first edge, the band count at or above the
    last); the lines inside a band, band by band, each band's in their
    original order; the bands that hold lines, as the index of their
    lower edge; and band k's lines, ``order[bstart[k]:bstart[k+1]]``."""
    pos = _lex_key(_segments(eb), ey).searchsorted(_lex_key(seg, y), side="right") - 1
    band = pos - eb[:-1][seg]
    order = np.flatnonzero((band >= 0) & (band < (eb[1:] - eb[:-1])[seg] - 1))
    order = order[pos[order].argsort(kind="stable")]
    f = _firsts(pos[order])
    return band, order, pos[order][f], np.append(f, len(order))


def _band_vseps(bseg, lo, hi, vseps):
    """The vertical separators whose y-extent overlaps band k ``[lo[k],
    hi[k])`` of segment ``bseg[k]`` by >=30% of the shorter of the two,
    as (band, separator) pairs, by band."""
    vb = vseps[4]
    q, j = _pairs(bseg, vb)
    vlo, vhi, blo, bhi = vseps[2][j], vseps[3][j], lo[q], hi[q]
    ov = (np.minimum(vhi, bhi) - np.maximum(vlo, blo)
          >= 0.3 * np.maximum(np.minimum(vhi - vlo, bhi - blo), 1.0))
    return q[ov], j[ov]


def _band_gutters(x0, x1, y0, y1, order, bstart, width, vq, vj, vcx, src, known):
    """Every band's gutters (band k: the lines
    ``order[bstart[k]:bstart[k+1]]`` on a page of ``width[k]``, with the
    separators ``vcx[vj[vq == k]]``): a band with ``src[k] >= 0`` has the
    same lines and separators as row ``src[k]`` of an earlier analysis
    ``known`` = (gx, gb), and takes its gutters; the others get theirs in
    one gutter_sets call. Returns (gx, gb): band k's gutters
    ``gx[gb[k]:gb[k+1]]``, ascending."""
    jobs = np.flatnonzero(src < 0)
    gx, band = np.empty(0), np.empty(0, dtype=np.int64)
    if len(jobs):
        cnt = bstart[jobs + 1] - bstart[jobs]
        rows = order[_ragged_arange(bstart[jobs], cnt)]
        v = vcx[vj[np.isin(vq, jobs)]].tolist()
        vb = np.concatenate(([0], np.cumsum(np.bincount(vq, minlength=len(src))[jobs]))).tolist()
        gs = gutter_sets(x0[rows], x1[rows], y0[rows], y1[rows],
                         np.concatenate(([0], np.cumsum(cnt))), width[jobs],
                         [v[a:b] for a, b in zip(vb[:-1], vb[1:])])
        gx = np.array([g for gl in gs for g in gl], dtype=float)
        band = np.repeat(jobs, [len(gl) for gl in gs])
    r = np.flatnonzero(src >= 0)
    kx, kb = known
    cnt = (kb[1:] - kb[:-1])[src[r]]
    gx = np.concatenate((gx, kx[_ragged_arange(kb[src[r]], cnt)]))
    band = np.concatenate((band, np.repeat(r, cnt)))
    o = band.argsort(kind="stable")
    return gx[o], _seg_bounds(band[o], len(src))


def _splitters(x0, x1, y0, y1, cx, cy, bounds, W, H, main_lo, main_hi, hseps, vseps,
               page_gutters=None):
    """find_splitters for S segments of body lines at once (segment s:
    lines ``[bounds[s], bounds[s+1])`` on a ``W[s]`` x ``H[s]`` page with
    main text ``[main_lo[s], main_hi[s]]``). ``hseps`` is (seg, x0, x1,
    y0, y1) of the horizontal separators, by segment; ``vseps`` (seg, cx,
    y0, y1, bounds) of the merged vertical ones, by segment and cx.
    ``page_gutters``, if given, is (gx, gb, ok): segment s's page-level
    gutters ``gx[gb[s]:gb[s+1]]``, the find_gutters of all its lines
    with all its separators when ``ok[s]``.

    Returns (sy, sb, bands): segment s's splitters ``sy[sb[s]:sb[s+1]]``,
    and the pass-1 bands that hold lines as (seg, lo, hi, gx, gb), band
    k's gutters ``gx[gb[k]:gb[k+1]]``."""
    S = len(W)
    lseg = _segments(bounds)
    h = np.maximum(y1 - y0, 1.0)
    hseg, hx0, hx1, hy0, hy1 = hseps
    vseg, vcx, vy0, vy1, vb = vseps
    # pass 1: page edges, full-main-width horizontal separators and the
    # vertical separators' y-extent edges that cut no line roughly in half
    mw = np.maximum(main_hi - main_lo, 1.0)
    full = ((hx0 <= main_lo[hseg] + _SPLITTER_X0 * mw[hseg])
            & (hx1 >= main_lo[hseg] + _SPLITTER_X1 * mw[hseg]))
    ey = np.concatenate((vy0 - 0.5, vy1 + 0.5))
    es = np.concatenate((vseg, vseg))
    q, j = _pairs(es, bounds)
    yq = ey[q]
    halves = ((y0[j] < yq) & (y1[j] > yq)
              & (np.minimum(yq - y0[j], y1[j] - yq) / h[j] > 0.3))
    ok = np.bincount(q[halves], minlength=len(ey)) == 0
    sy1, sb1 = _dedupe_splitters(
        np.concatenate((np.zeros(S), H, (hy0[full] + hy1[full]) / 2.0, ey[ok])),
        np.concatenate((np.arange(S), np.arange(S), hseg[full], es[ok])), H)

    # the pass-1 bands that hold lines, and their gutters: a segment's
    # one band holding every line with every separator reuses the page's
    _, order, b1, bstart = _by_band(sy1, sb1, cy, lseg)
    bseg = _segments(sb1)[b1]
    blo, bhi = sy1[b1], sy1[b1 + 1]
    nb = len(b1)
    vq, vj = _band_vseps(bseg, blo, bhi, vseps)
    src, known = np.full(nb, -1), (np.empty(0), np.zeros(1, dtype=np.int64))
    if page_gutters is not None:
        *known, pok = page_gutters
        whole = ((np.bincount(bseg, minlength=S) == 1)
                 & (np.bincount(bseg, weights=np.diff(bstart), minlength=S)
                    == np.diff(bounds)))
        reuse = (pok & whole)[bseg] & (np.bincount(vq, minlength=nb) == np.diff(vb)[bseg])
        src = np.where(reuse, bseg, -1)
    gx, gb = _band_gutters(x0, x1, y0, y1, order, bstart, W[bseg], vq, vj, vcx, src, known)

    # pass 2: lines spanning a gutter of their band, as (line, gutter)
    # pairs, and in 1-column bands the centered short lines alone in
    # their row, as (candidate, band line) pairs
    lband = np.repeat(np.arange(nb), np.diff(bstart))
    ox0, ox1 = x0[order], x1[order]
    span = order[_spanning(ox0, ox1, lband, gx, gb, W[lseg[order]])]
    alone = np.empty(0, dtype=np.int64)
    if nb:
        blo_x = np.minimum.reduceat(ox0, bstart[:-1])
        bw = np.maximum(np.maximum.reduceat(ox1, bstart[:-1]) - blo_x, 1.0)
        ccx = blo_x + bw / 2.0
        c = np.flatnonzero((gb[1:] == gb[:-1])[lband] & (ox1 - ox0 <= 0.5 * bw[lband])
                           & (np.abs(cx[order] - ccx[lband]) <= 0.08 * bw[lband]))
        q, j = _pairs(lband[c], bstart)
        ci, lj = order[c[q]], order[j]
        near = np.abs(cy[lj] - cy[ci]) < 0.6 * np.maximum(h[lj], h[ci])
        alone = order[c[np.bincount(q, weights=near, minlength=len(c)) <= 1]]
    extra = np.concatenate((span, alone))
    sy, sb = _dedupe_splitters(
        np.concatenate((sy1, y0[extra] - 0.5, y1[extra] + 0.5)),
        np.concatenate((_segments(sb1), lseg[extra], lseg[extra])), H)
    return sy, sb, (bseg, blo, bhi, gx, gb)


def find_splitters(tx0, tx1, ty0, ty1, hseps, width, height, main_lo, main_hi,
                   vseps=(), vsep_cx=()):
    """y-positions that split the page into XY-cut bands — two passes,
    mirroring the reference's per-part re-analysis (D2 re-runs
    find_num_col per splitter part, utils/__init__.py:1444-1487).

    Pass 1 (structural): full-main-width horizontal separators
    (:1444-1457) and vertical-separator y-extent edges (D4's sweep walks
    each separator's y-range, :1794-1864 — below the last vertical
    separator the band reverts to full width; edges are guarded so they
    never cut a text line roughly in half).

    Pass 2 (per pass-1 band, using the band's OWN column structure):
    lines spanning >=2 of the band's columns split into their own band
    via top/baseline pairs (:1708-1721); in 1-column bands, centered
    short lines alone in their row (section headings) split bands — the
    symbolic counterpart of D6's projection-valley banding (:1050-1076).
    Band-local gutters matter: a middle column of a 3-column band must
    not be mistaken for a spanning line just because it crosses another
    band's gutter.

    layout_permutations runs it (_splitters) for a whole batch of
    documents, their band gutters in one gutter_sets call; this is the
    batch of one.
    """
    x0, x1, y0, y1 = (np.asarray(a, dtype=float) for a in (tx0, tx1, ty0, ty1))
    hs = np.asarray(hseps, dtype=float).reshape(-1, 4)
    vs = np.asarray(vseps, dtype=float).reshape(-1, 2)
    sy, _, _ = _splitters(
        x0, x1, y0, y1, (x0 + x1) / 2.0, (y0 + y1) / 2.0, [0, len(x0)],
        *(np.array([float(v)]) for v in (width, height, main_lo, main_hi)),
        (np.zeros(len(hs), dtype=np.int64), *hs.T),
        (np.zeros(len(vs), dtype=np.int64), np.asarray(vsep_cx, dtype=float), *vs.T,
         np.array([0, len(vs)])))
    return sy.tolist()


def _merge_vseps(seg, cx, y0, y1, width):
    """Collapse near-duplicate parallel rules (double-line separators are
    common in historical prints) into one separator with the union of
    their y-extents — mirrors the reference's morphology step that fuses
    them into one contour (utils/__init__.py:1337-1349). For S segments
    (pages ``width[s]`` wide) at once, one flat pass: (seg, cx, y0, y1)
    of the merged separators, by segment and cx."""
    o = np.lexsort((cx, seg))
    d = (_GUTTER_MERGE_FRAC * np.asarray(width, dtype=float)).tolist()
    merged = []  # [seg, cx, y0, y1]
    for s, c, a, b in zip(seg[o].tolist(), cx[o].tolist(), y0[o].tolist(), y1[o].tolist()):
        if merged and merged[-1][0] == s and c - merged[-1][1] < d[s]:
            m = merged[-1]
            m[2], m[3] = min(m[2], a), max(m[3], b)
        else:
            merged.append([s, c, a, b])
    m = np.array(merged, dtype=float).reshape(-1, 4)
    return m[:, 0].astype(np.int64), m[:, 1], m[:, 2], m[:, 3]


def _spanning(x0, x1, band, gx, gb, width):
    """The lines crossing >=1 gutter of their band with margin on both
    sides (the 'large components spanning >=2 columns' rule,
    utils/__init__.py:1723-1761), as (line, gutter) pairs: line i lies in
    band ``band[i]`` on a page ``width[i]`` wide, band k's gutters are
    ``gx[gb[k]:gb[k+1]]``. Returns the lines' indices, ascending."""
    q, g = _pairs(band, gb)
    m = _SPAN_MARGIN_FRAC * width[q]
    return np.unique(q[(x0[q] < gx[g] - m) & (x1[q] > gx[g] + m)])


# ------------------------------------------------- region clustering (C16) ---

def _group_by_label(labels):
    """Grouping scaffold shared by every per-region aggregation: one
    stable argsort of the label array; returns (uniq, order, starts)
    where group k's members are order[starts[k]:starts[k+1]], in
    ORIGINAL index order (stable sort), and uniq is ascending — exactly
    what np.unique + per-group boolean masks produced, minus the
    O(regions x lines) rescans (profiled at ~10% of the kernel)."""
    order = labels.argsort(kind="stable")
    sl = labels[order]
    starts = _firsts(sl)
    return sl[starts], order, np.concatenate((starts, [len(sl)]))


def _group_minmax(vals, order, starts, mode):
    op = np.minimum if mode == "min" else np.maximum
    return op.reduceat(vals[order], starts[:-1])


def _cc_labels(n, a, b, init=None):
    """Connected components over edge arrays (a, b) via vectorized
    min-label propagation with pointer-jump compression — numpy
    throughout. Replaces the r1-r4 pure-python union-find loop, which
    was the kernel's superlinear wall on media-heavy documents (a
    10^4-span page yields ~3.5M candidate pairs -> 7M python find()
    calls, ~12 s; this runs the same page in ~0.3 s, and the whole
    kernel goes near-linear in the pair count). Labels are the MINIMUM
    member index of each component — a canonical representative, so
    downstream np.unique enumeration is a pure function of the span
    set (the order-determinism property mb_reading_order relies on).

    `init`: start from an existing label array instead of arange —
    incremental merging for the chunked pair sweep below. The passed
    array is consumed (mutated in place); use the return value. Each
    round drops edges whose endpoints already agree, so converged
    components stop costing anything."""
    labels = np.arange(n, dtype=np.int64) if init is None else init
    while True:
        la, lb = labels[a], labels[b]
        live = la != lb
        if not live.any():
            return labels
        a, b, la, lb = a[live], b[live], la[live], lb[live]
        m = np.minimum(la, lb)
        # merge at the ROOTS (labels are compressed here, so la/lb are
        # roots): members of both components follow via compression.
        # Updating only the endpoints would detach a pulled-down
        # representative from its members once satisfied edges are
        # dropped — the edge-filtering above is safe ONLY with
        # root-merging (a satisfied edge then stays satisfied forever).
        np.minimum.at(labels, la, m)
        np.minimum.at(labels, lb, m)
        while True:  # compress chains to their current minimum
            nxt = labels[labels]
            if bool((nxt == labels).all()):  # same-dtype arrays: skip
                break                        # np.array_equal dispatch
            labels = nxt


def cluster_lines_into_regions(x0, x1, y0, y1, band=None, rtl=False, bounds=None):
    """Group text lines into regions (paragraph blocks).

    Inverse of the reference's C16 (lines are assigned to model-detected
    regions via point-in-polygon, eynollah.py:946-980); symbolically we
    *infer* the regions: lines merge when they x-overlap, are vertically
    adjacent, share the anchor edge (left edge for LTR paragraphs, right
    for RTL — justified text aligns there, neighboring columns never
    do), and lie in the same XY-cut band (a splitter between two lines
    is a region boundary by construction, cf. D4).

    ``bounds`` clusters many segments (documents) at once: segment k is
    the lines ``[bounds[k], bounds[k+1])``, right-to-left where
    ``rtl[k]``. Lines of different segments never merge, and labels are
    minimum member indices, so a segment's labels minus its start are
    exactly the labels of clustering it alone.
    """
    n = len(x0)
    if n == 0:
        return np.arange(n)
    if band is None:
        band = np.zeros(n, dtype=np.int64)
    if bounds is None:
        bounds, rtl = [0, n], [rtl]
    seg = _segments(bounds)

    h = np.maximum(y1 - y0, 1.0)
    w = np.maximum(x1 - x0, 1.0)
    anchor = np.where(np.asarray(rtl, dtype=bool)[seg], x1, x0)

    # vectorized candidate-pair enumeration: sort by (segment, y0); for
    # each line i, candidates j follow it in its segment with y0[j] <=
    # y1[i] + gap_bound(i). The bound uses h[i], not h.max(): the gap
    # predicate needs dy <= factor*min(h_i,h_j)+4 <= factor*h_i+4, so the
    # per-line window is an exact superset of qualifying pairs that stays
    # tight when one tall media span would inflate a global window. The
    # (segment, y) keys are searched lexicographically, so a window ends
    # at its segment's end.
    order = np.lexsort((y0, seg))
    sseg = seg[order]
    hi = _lex_key(sseg, y0[order]).searchsorted(
        _lex_key(sseg, y1[order] + _REGION_GAP_FACTOR * h[order] + 4), side="right")
    cnt = np.maximum(hi - np.arange(1, n + 1), 0)
    total = int(cnt.sum())
    labels = np.arange(n, dtype=np.int64)
    if total:
        # chunked sweep with incremental union-find contraction: a dense
        # same-page blob (SURVEY risk register: 10^4 spans -> ~3e6
        # candidate pairs) must not materialize every predicate
        # temporary at once (~400 MB/doc; x32 concurrent workers was the
        # real skew-bench pathology, r5). Each chunk's surviving edges
        # are contracted through the current labels, so once a blob has
        # merged, later chunks filter to nothing. Chunk boundaries are
        # fixed -> deterministic; min-label fixpoint is independent of
        # edge order -> identical labels to the single-pass sweep.
        offs = np.concatenate(([0], np.cumsum(cnt)))
        chunk = 1 << 19
        for s in range(0, total, chunk):
            pos = np.arange(s, min(s + chunk, total))
            ii = offs.searchsorted(pos, side="right") - 1
            jj = pos - offs[ii] + ii + 1
            i, j = order[ii], order[jj]
            hi_, hj = h[i], h[j]
            hmin, hmax = np.minimum(hi_, hj), np.maximum(hi_, hj)
            dy = np.maximum(y0[j] - y1[i], 0.0)
            okp = (band[i] == band[j])
            okp &= dy <= _REGION_GAP_FACTOR * hmin + 4
            ov = np.minimum(x1[i], x1[j]) - np.maximum(x0[i], x0[j])
            okp &= ov / np.minimum(w[i], w[j]) >= _REGION_XOVERLAP
            okp &= np.abs(anchor[i] - anchor[j]) <= 1.2 * hmax
            # a span 3x+ taller than its neighbour is never the same
            # paragraph's line (drop capitals, C13/C14): merging one into
            # a paragraph drags the region bbox and corrupts D6 row order
            okp &= hmax <= _REGION_H_RATIO * hmin
            labels = _cc_labels(n, i[okp], j[okp], init=labels)
    return _join_containers(labels, x0, x1, y0, y1, band, seg)


def _join_containers(labels, x0, x1, y0, y1, band, seg):
    """Containment post-pass (the reference's actual C16 rule is
    point-in-REGION-polygon, eynollah.py:946-980 — a line lying inside a
    merged contour belongs to it no matter its indent): a line whose bbox
    falls strictly inside ANOTHER region's bbox (same segment and band)
    joins that region. Without this, an indented single-line region
    vertically interleaved in a paragraph block makes the final order
    depend on a 1-px gap-rule boundary (fixture-margin finding, r3): no
    ordering of the two region UNITS preserves the flow, while in-region
    D1 row ordering restores it exactly."""
    uniq, gorder, gstarts = _group_by_label(labels)
    if len(uniq) <= 1:
        return labels
    # every (line, region) pair of the same segment and band, over the
    # ORIGINAL region bboxes; a line contained in several picks the
    # container with the smallest (area, x0, y0, x1, y1) — a purely
    # geometric key, so the result is invariant to input row order
    R = len(uniq)
    rx0 = _group_minmax(x0, gorder, gstarts, "min")
    rx1 = _group_minmax(x1, gorder, gstarts, "max")
    ry0 = _group_minmax(y0, gorder, gstarts, "min")
    ry1 = _group_minmax(y1, gorder, gstarts, "max")
    area = (rx1 - rx0) * (ry1 - ry0)
    rank = np.empty(R, dtype=np.int64)
    rank[np.lexsort((ry1, rx1, ry0, rx0, area))] = np.arange(R)
    rord = np.lexsort((band[uniq], seg[uniq]))
    rkey = _lex_key(seg[uniq][rord], band[uniq][rord])
    lkey = _lex_key(seg, band)
    lo = rkey.searchsorted(lkey, side="left")
    cnt = rkey.searchsorted(lkey, side="right") - lo
    li = np.repeat(np.arange(len(labels)), cnt)
    rk = rord[_ragged_arange(lo, cnt)]
    cont = ((x0[li] >= rx0[rk]) & (x1[li] <= rx1[rk])
            & (y0[li] >= ry0[rk]) & (y1[li] <= ry1[rk]) & (labels[li] != uniq[rk]))
    if not cont.any():
        return labels
    # bbox containment over-approximates the contour (an L-shaped
    # title+column region's bbox swallows the neighbour column): require
    # the container to have member lines x-overlapping the candidate
    # BOTH above and below — i.e. the line is truly interleaved in the
    # container's flow, not merely inside its bounding box.
    li, rk = li[cont], rk[cont]
    size = gstarts[rk + 1] - gstarts[rk]
    p = np.repeat(np.arange(len(li)), size)
    m = gorder[_ragged_arange(gstarts[rk], size)]
    i = li[p]
    ovl = np.minimum(x1[m], x1[i]) > np.maximum(x0[m], x0[i])
    above = np.bincount(p, weights=ovl & (y1[m] <= y0[i]), minlength=len(li))
    below = np.bincount(p, weights=ovl & (y0[m] >= y1[i]), minlength=len(li))
    ok = (above > 0) & (below > 0)
    if not ok.any():
        return labels
    li, rk = li[ok], rk[ok]
    best = np.lexsort((rank[rk], li))
    li, rk = li[best], rk[best]
    first = np.concatenate(([True], li[1:] != li[:-1]))
    new = labels.copy()
    new[li[first]] = uniq[rk[first]]
    return new


# --------------------------------------------------- ordering (D4/D5/D6/D1) ---

def _row_clusters(cy, seg, thr):
    """D1/D6 row clustering of many segments at once: items sorted by
    (segment, cy) form rows, a new row starting at each segment and where
    cy exceeds the row's first item by more than the segment's ``thr``.
    Returns row ids aligned with the input, increasing through the
    segments (``seg`` non-decreasing), so sorting by row keeps each
    segment's items together and in segment order."""
    order = np.lexsort((cy, seg))
    v = cy[order]
    t = np.asarray(thr, dtype=float)[seg]
    n = len(v)
    i = np.arange(n)
    end = np.searchsorted(seg, seg, side="right")
    # the row a row-starting item i opens ends before nxt[i], the first
    # item of its segment with v - v[i] > t: a search on v + t, moved to
    # where that exact test flips
    nxt = _lex_key(seg, v).searchsorted(_lex_key(seg, v + t), side="right")
    while True:
        m = np.flatnonzero(nxt - 1 > i)
        m = m[v[nxt[m] - 1] - v[m] > t[m]]
        if not len(m):
            break
        nxt[m] -= 1
    while True:
        m = np.flatnonzero(nxt < end)
        m = m[~(v[nxt[m]] - v[m] > t[m])]
        if not len(m):
            break
        nxt[m] += 1
    # row starts: each segment's first item and its chain of nxt jumps,
    # by pointer doubling (the chain's first 2^k items, then 2^(k+1))
    jump = np.append(np.where(nxt < end, nxt, n), n)
    start = np.zeros(n, dtype=bool)
    nodes = _firsts(seg)
    start[nodes] = True
    while True:
        new = jump[nodes]
        new = new[new < n]
        if not len(new):
            break
        start[new] = True
        nodes = np.concatenate((nodes, new))
        jump = jump[jump]
    rows = np.empty(n, dtype=np.int64)
    rows[order] = np.cumsum(start) - 1
    return rows


def order_lines_in_region(cx, cy, rtl, off=None, bounds=None):
    """D1 (eynollah.py:891-944): row-cluster line centers with threshold
    median-pitch/1.5, rows top-down, left-right (or RTL) within a row.

    `off` (span offsets) is the final tie-break so geometrically identical
    lines order deterministically regardless of input row order.

    ``bounds`` orders many regions at once: region k is the lines
    ``[bounds[k], bounds[k+1])``, right-to-left where ``rtl[k]``, and its
    pitch is its own. The result lists region 0's lines in order, then
    region 1's, and so on."""
    n = len(cx)
    if bounds is None:
        if n <= 1:
            return np.arange(n)
        bounds, rtl = [0, n], [rtl]
    seg = _segments(bounds)
    S = len(bounds) - 1
    # each region's pitch: the median of its positive cy gaps, inf if none
    so = np.lexsort((cy, seg))
    scy = cy[so]
    d = scy[1:] - scy[:-1]
    gap = (d > 1e-9) & (seg[1:] == seg[:-1])
    pseg = seg[1:][gap]
    npos = np.bincount(pseg, minlength=S)
    pitch = np.full(S, np.inf)
    has = npos > 0
    if has.any():
        pitch[has] = _seg_median(d[gap], pseg,
                                 np.concatenate(([0], np.cumsum(npos[has]))))
    rows = _row_clusters(cy, seg, pitch / _LINE_ROW_DIV)
    xkey = np.where(np.asarray(rtl, dtype=bool)[seg], -cx, cx)
    if off is None:
        return np.lexsort((xkey, rows))
    return np.lexsort((np.asarray(off), xkey, rows))


class PageSizeError(ValueError):
    """A page of the batch has a width or height <= 0."""


@dataclass
class Pages(Spans):
    """analyze_pages' result for a batch of documents: its Spans with the
    geometry deskewed, plus the page stage's results. Document d's text
    lines are the spans ``ti[tb[d]:tb[d+1]]``."""

    ang: np.ndarray         # per document: the applied deskew angle (deg)
    cx: np.ndarray          # span centers, after deskew
    cy: np.ndarray
    ti: np.ndarray
    tb: np.ndarray
    lo: np.ndarray          # x extent of each document's text lines
    hi: np.ndarray
    valleys: tuple          # (x, document, ok): page-level gutter valleys
    margins: tuple          # _marginal_profiles, segments as documents


def analyze_pages(spans: Spans) -> Pages:
    """The page-analysis phases that need nothing from the per-document
    remainder, run once for a batch of documents: C6 deskew (coarse and
    fine angle scores; the rotation itself is per document) and the
    coverage profiles, smoothing and valley masks behind the page-level
    find_gutters and split_main_and_marginal. Every batched step is
    exact per document, so a document's part of the Pages does not depend on which
    others share its batch. Raises PageSizeError for a page without
    area."""
    from eynollah_spark.kernels.deskew import MIN_ROTATION_DEG, estimate_skews, rotate_boxes

    D = len(spans)
    bounds, W, H = spans.bounds, spans.W, spans.H
    if not ((W > 0) & (H > 0)).all():
        raise PageSizeError("page width and height must be > 0")
    # copies: the rotation below writes them, and the table is the caller's
    x0, x1, y0, y1 = (v.copy() for v in (spans.x0, spans.x1, spans.y0, spans.y1))
    ti = (spans.code == 0).nonzero()[0]
    tb = np.searchsorted(ti, bounds)

    # --- C6/C8 deskew: estimate page skew from text-line sharpness and
    # rotate all geometry before any projection work (run_deskew,
    # eynollah.py:1522-1533; rotation utils/rotate.py:9-13)
    ang = estimate_skews((x0[ti] + x1[ti]) / 2.0, (y0[ti] + y1[ti]) / 2.0,
                         np.maximum(x1[ti] - x0[ti], 1.0),
                         np.maximum(y1[ti] - y0[ti], 1.0), tb, W, H)
    ang = np.where(np.abs(ang) >= MIN_ROTATION_DEG, ang, 0.0)
    for d in ang.nonzero()[0].tolist():
        s, e = bounds[d], bounds[d + 1]
        x0[s:e], x1[s:e], y0[s:e], y1[s:e] = rotate_boxes(
            x0[s:e], x1[s:e], y0[s:e], y1[s:e], float(ang[d]), W[d] / 2.0, H[d] / 2.0)

    # --- profiles of the text lines, for the documents that have any
    tx0, tx1, ty0, ty1 = x0[ti], x1[ti], y0[ti], y1[ti]
    has = (tb[1:] > tb[:-1]).nonzero()[0]
    hb = np.concatenate(([0], np.cumsum(np.diff(tb)[has])))
    lo, hi, ok = np.zeros(D), np.zeros(D), np.zeros(D, dtype=bool)
    valleys, margins = (np.empty(0), np.empty(0, dtype=np.int64), ok), _NO_PROFILES
    if len(has):
        vx, vseg, ok[has], lo[has], hi[has] = _gutter_valleys(tx0, tx1, ty0, ty1, hb, W[has])
        valleys = (vx, has[vseg], ok)
        margins = _marginal_profiles(tx0, tx1, ty0, ty1, hb, W[has], H[has])
        margins = (has[margins[0]], *margins[1:])
    return Pages(**{**vars(spans), "x0": x0, "x1": x1, "y0": y0, "y1": y1}, ang=ang,
                 cx=(x0 + x1) / 2.0, cy=(y0 + y1) / 2.0, ti=ti, tb=tb, lo=lo, hi=hi,
                 valleys=valleys, margins=margins)


class BatchOrder(NamedTuple):
    """layout_permutations' result: every document's spans in reading
    order, document by document, as rows of the batch's span table,
    ``counts[d]`` of them for document d, with a marginalia flag each."""

    perm: np.ndarray
    marg: np.ndarray
    counts: np.ndarray


def layout_permutation(doc: DocSpans):
    """Core per-document pipeline; returns (perm, marg_mask) where perm is
    the index permutation of doc spans in final reading order and
    marg_mask flags output positions whose kind refines to 'marginalia'.
    (`doc.text` / `doc.media_ref` are never read — the kernel is pure
    geometry, so callers may pass placeholders.) A batch of one for
    layout_permutations.

    Serialization order per D8 (utils/xml.py:49-66, writer.py:184-290):
    marg-L -> ordered text -> marg-R -> images -> separators -> tables.
    """
    order = layout_permutations(span_table([doc]))
    return order.perm, order.marg


def layout_permutations(spans: Spans, pages: Pages | None = None) -> BatchOrder:
    """layout_permutation of a batch of documents, run phase by phase,
    each phase once for the whole batch with the documents as segments.
    ``pages`` is analyze_pages(spans), computed here if not given. Every
    batched step is exact per document, so a document's result does not
    depend on which others share its batch."""
    if pages is None:
        pages = analyze_pages(spans)
    return _serialize(pages, _layout_batch(pages))


def _layout_batch(p: Pages):
    """Every phase of layout_permutations before D8, over the batch
    ``p``. Returns the batch's state: per document its separators, page
    gutters, column count, marginal split, splitters and boxes; the
    line table (body lines of every document, then marginal lines); and
    the text lines in reading order, as span indices: ``body`` (each
    document's, document by document) and ``margs``/``marg_part`` (the
    marginal lines and their D8 part: 0 left, 2 right). Every field is
    set, also for a batch without text lines."""
    D = len(p.W)
    st = SimpleNamespace()
    spanseg = _segments(p.bounds)
    ti, tb = p.ti, p.tb
    tseg = spanseg[ti]

    # separator geometry split (C3, utils/__init__.py:187-219)
    sep = (p.code == _KINDS.index(KIND_SEPARATOR)).nonzero()[0]
    horiz = p.x1[sep] - p.x0[sep] >= p.y1[sep] - p.y0[sep]
    hs, vs = sep[horiz], sep[~horiz]
    st.hseps = (spanseg[hs], p.x0[hs], p.x1[hs], p.y0[hs], p.y1[hs])
    vseg, vcx, vy0, vy1 = _merge_vseps(spanseg[vs], p.cx[vs], p.y0[vs], p.y1[vs], p.W)
    st.vseps = (vseg, vcx, vy0, vy1, _seg_bounds(vseg, D))

    # --- page-level column estimate (B5), with the user bounds matching
    # the reference's branch structure exactly (eynollah.py:322-335 and
    # 391-416): a SINGLE bound PINS num_col to that value (upper-only or
    # lower-only forces it — the reference skips the classifier
    # entirely); both-set-and-equal also pins; only
    # both-set-and-unequal clamps the estimate from both sides.
    tx0, tx1, ty0, ty1, tcx = p.x0[ti], p.x1[ti], p.y0[ti], p.y1[ti], p.cx[ti]
    vx, vdoc, vok = p.valleys
    gx, gseg = _settle_gutters(vx, vdoc, vok, vcx, vseg, p.lo, p.hi, p.W,
                               tx0, tx1, ty0, ty1, tb)
    st.page_gutters = (gx, _seg_bounds(gseg, D))
    est = _column_counts(gx, gseg, tcx, np.maximum(tx1 - tx0, 1.0) * np.maximum(ty1 - ty0, 1.0),
                         tseg, D)
    lo, hi = p.num_col_lower, p.num_col_upper
    st.num_col = np.where((lo != 0) & (hi != 0) & (lo != hi), np.minimum(np.maximum(est, lo), hi),
                          np.where((lo != 0) | (hi != 0), np.where(lo != 0, lo, hi), est))

    # --- C10 marginalia over text lines
    st.tmarg, st.main_lo, st.main_hi = _marginal_split(tx0, tx1, ty0, ty1, tb, p.W, p.H,
                                                       st.num_col, p.margins)
    tmarg = st.tmarg

    # the batch's line table: every document's body lines, then every
    # document's marginal lines — segment d < D is document d's body,
    # segment D + d its marginalia
    rows = np.concatenate((ti[~tmarg], ti[tmarg]))
    nmarg = np.bincount(tseg[tmarg], minlength=D)
    bounds = np.concatenate(([0], np.cumsum(np.concatenate(
        (np.bincount(tseg[~tmarg], minlength=D), nmarg)))))
    X = [getattr(p, c)[rows] for c in ("x0", "x1", "y0", "y1", "cx", "cy")]
    off = p.off[rows]
    rtl = np.concatenate((p.rtl, p.rtl))
    st.lines = (rows, bounds)

    # D2 + D4 over the body lines, then regions from lines (C16 inverse),
    # band/cell-aware; marginal lines all share one cell
    st.splitters, st.boxes, st.cells = _body_cells(X, bounds[:D + 1], nmarg == 0, p, st)
    band = np.concatenate((st.cells, np.zeros(len(rows) - len(st.cells), dtype=np.int64)))
    labels = cluster_lines_into_regions(*X[:4], band=band, rtl=rtl, bounds=bounds)
    # regions of segment s are rfirst[s]:rfirst[s + 1]; D1 within each
    # (members come from the grouping scaffold — stable sort keeps them
    # in original index order)
    uniq, gorder, gstarts = _group_by_label(labels)
    rfirst = uniq.searchsorted(bounds)
    rrtl = rtl[_segments(rfirst)]
    ordered = gorder[order_lines_in_region(X[4][gorder], X[5][gorder], rrtl,
                                           off[gorder], bounds=gstarts)]
    regions = (gorder, gstarts, rfirst, rrtl, rows[ordered])
    st.body = _order_body_text(X, off, regions, st)
    st.margs, st.marg_part = _order_marginals(X, off, regions, p.W)
    return st


def _serialize(p: Pages, st) -> BatchOrder:
    """D8 (utils/xml.py:49-66, writer.py:184-290) for the whole batch in
    one lexsort on (document, part, key): marg-L -> ordered text ->
    marg-R -> images -> separators -> tables, the text parts in their
    reading order and the others by position. Spans of any other kind
    are left out."""
    part = np.array([6, 3, 4, 5, 6])[p.code]
    rank = np.zeros(len(part), dtype=np.int64)
    part[st.body] = 1
    rank[st.body] = np.arange(len(st.body))
    part[st.margs] = st.marg_part
    rank[st.margs] = np.arange(len(st.margs))
    seg = _segments(p.bounds)
    o = np.lexsort((p.off, p.cx, p.cy, rank, part, seg))
    o = o[part[o] < 6]
    marg = np.zeros(len(part), dtype=bool)
    marg[st.margs] = True
    return BatchOrder(o, marg[o], np.bincount(seg[o], minlength=len(p.W)))


def _order_marginals(X, off, regions, W):
    """C11 (eynollah.py:1923-1947) for every document at once: split
    marginals at the page midline, order each side's regions top-down,
    lines in D1 order within. Ties between geometrically identical
    regions break by offset. Returns the marginal lines in reading order
    and their D8 part (0 left, 2 right)."""
    gorder, gstarts, rfirst, _, ordered_ix = regions
    D = len(W)
    a, b = rfirst[D], rfirst[2 * D]
    if a == b:
        return ordered_ix[:0], ordered_ix[:0]
    cx, cy = X[4:]
    st = gstarts[a:b + 1]
    size = np.diff(st)
    rcy = np.add.reduceat(cy[gorder], st[:-1]) / size
    rcx = np.add.reduceat(cx[gorder], st[:-1]) / size
    roff = np.minimum.reduceat(off[gorder], st[:-1])
    rdoc = _segments(rfirst[D:] - a)
    ro = np.lexsort((roff, rcx, rcy, rdoc))
    lines = ordered_ix[_ragged_arange(st[ro], size[ro])]
    return lines, np.repeat(np.where(rcx[ro] < W[rdoc[ro]] / 2.0, 0, 2), size[ro])


def _body_cells(X, bounds, whole, p: Pages, st):
    """D2 + D4 over every document's body lines (``X``: the line table's
    x0, x1, y0, y1, cx, cy; document d's body lines are
    ``[bounds[d], bounds[d+1])``, all its text lines where ``whole[d]``):
    the band splitters (find_splitters),
    then per band its column boxes and per line its clustering cell. The
    band gutters of find_splitters pass 2 and those of the D4 bands it
    did not analyse are one gutter_sets call each for the whole batch.
    Returns (the splitters, as (sy, sb); the boxes, as _band_boxes
    returns them; the cells of all body lines)."""
    x0, x1, y0, y1, cx, cy = (v[:bounds[-1]] for v in X)
    lseg = _segments(bounds)
    # band splitters (D2, two-pass per-band analysis); a body of every
    # text line has the page-level gutters
    sy, sb, (b1seg, b1lo, b1hi, g1x, g1b) = _splitters(
        x0, x1, y0, y1, cx, cy, bounds, p.W, p.H, st.main_lo, st.main_hi, st.hseps,
        st.vseps, (*st.page_gutters, whole))
    band, order, fb, bstart = _by_band(sy, sb, cy, lseg)
    fseg = _segments(sb)[fb]
    flo, fhi = sy[fb], sy[fb + 1]
    # bands that survive from pass 1 unchanged reuse its gutter analysis
    # (same lines, same separators); the others get theirs in one batch
    p1 = np.minimum(_lex_key(b1seg, b1lo).searchsorted(_lex_key(fseg, flo)),
                    max(len(b1lo) - 1, 0))
    same = (len(b1lo) > 0) & (b1seg[p1] == fseg) & (b1lo[p1] == flo) & (b1hi[p1] == fhi)
    vq, vj = _band_vseps(fseg, flo, fhi, st.vseps)
    gx, gb = _band_gutters(x0, x1, y0, y1, order, bstart, p.W[fseg], vq, vj, st.vseps[1],
                           np.where(same, p1, -1), (g1x, g1b))
    boxes, bb, cells = _band_boxes(x0, x1, y0, y1, cx, cy, bounds, band, order, fseg,
                                   fb - sb[fseg], flo, fhi, bstart, gx, gb, np.diff(sb),
                                   st.hseps, p.rtl, p.W, p.H)
    return (sy, sb), (boxes, bb), cells


def _band_boxes(x0, x1, y0, y1, cx, cy, bounds, band, order, bseg, bloc, blo, bhi,
                bstart, gx, gb, nsplit, hseps, rtl, W, H):
    """D4 for S segments of body lines at once (segment s: lines
    ``[bounds[s], bounds[s+1])``, ``nsplit[s]`` splitters, each line's
    band index ``band``): band k — local band ``bloc[k]`` of segment
    ``bseg[k]``, y-range ``[blo[k], bhi[k])``, lines
    ``order[bstart[k]:bstart[k+1]]``, gutters ``gx[gb[k]:gb[k+1]]`` —
    gets its column boxes, columns left->right (RTL flips,
    :1522-1524,1866-1879). Returns ((seg, x0, x1, y0, y1) of the boxes,
    by segment and in emission order; their bounds per segment; the
    clustering cell of every line).

    Per-column recursion (utils/__init__.py:1794-1864): a PARTIAL-width
    horizontal separator (spanning some but not all of a band's columns)
    splits exactly the columns it covers into top/bottom sub-boxes; the
    final box order (y0, then x) reproduces the reference walk's
    emission order — each separator's sub-boxes follow every box whose
    top edge sits above it (e.g. 2 cols, separator under col 1 only:
    col1-above, col2-full, col1-below). Only the columns such a
    separator covers take the per-column path."""
    S, nb = len(W), len(bseg)
    # column edges per band: the ink extent and the gutters inside it
    if nb:
        ex0 = np.minimum.reduceat(x0[order], bstart[:-1])
        ex1 = np.maximum.reduceat(x1[order], bstart[:-1])
    else:
        ex0 = ex1 = np.empty(0)
    gband = _segments(gb)
    inner = (gx > ex0[gband]) & (gx < ex1[gband])
    e = np.concatenate((ex0, gx[inner], ex1))
    eband = np.concatenate((np.arange(nb), gband[inner], np.arange(nb)))
    o = np.lexsort((np.repeat([0, 1, 2], [nb, int(inner.sum()), nb]), eband))
    e, eband = e[o], eband[o]
    c = np.flatnonzero(eband[1:] == eband[:-1])
    cxa, cxb, cband = e[c], e[c + 1], eband[c]
    ncol = np.bincount(cband, minlength=nb)
    j = c - (np.cumsum(ncol + 1) - (ncol + 1))[cband]
    # creation order: left to right, right to left on RTL pages
    rank = np.where(rtl[bseg[cband]], ncol[cband] - 1 - j, j)
    colw = np.maximum(cxb - cxa, 1.0)
    # separators covering a column's middle half, strictly inside the
    # band (full-main-width ones already became band splitters in
    # find_splitters pass 1), as (column, separator) pairs
    hseg, hx0, hx1, hy0, hy1 = hseps
    multi = np.flatnonzero(ncol[cband] > 1)
    q, h = _pairs(bseg[cband[multi]], _seg_bounds(hseg, S))
    cq = multi[q]
    hc = (hy0[h] + hy1[h]) / 2.0
    covers = ((blo[cband[cq]] + 2.0 < hc) & (hc < bhi[cband[cq]] - 2.0)
              & (hx0[h] <= cxa[cq] + 0.25 * colw[cq]) & (hx1[h] >= cxb[cq] - 0.25 * colw[cq]))
    cut = np.zeros(len(c), dtype=bool)
    cut[cq[covers]] = True
    plain = ~cut
    cb = cband[plain]
    boxes = [(bseg[cb], cxa[plain], cxb[plain], blo[cb], bhi[cb], cb, rank[plain],
              np.zeros(len(cb), dtype=np.int64))]
    cell = band.astype(np.int64)
    if cut.any():
        boxes.append(_cut_boxes(np.flatnonzero(cut), cband, rank, cxa, cxb, e, eband,
                                hc[covers], cq[covers], x0, x1, y0, y1, cx, cy, bounds,
                                band, order, bseg, bloc, blo, bhi, bstart, nsplit, rtl, cell))
    # a segment with lines but no band: one page box
    bare = np.flatnonzero((np.diff(bounds) > 0) & (np.bincount(bseg, minlength=S) == 0))
    z = np.zeros(len(bare))
    boxes.append((bare, z, W[bare], z, H[bare], z, z, z))
    bs, bx0, bx1, by0, by1, k, r, sub = (np.concatenate(v) for v in zip(*boxes))
    bs = bs.astype(np.int64)
    o = np.lexsort((sub, r, k, np.where(rtl[bs], -bx0, bx0), by0, bs))
    return (bs[o], bx0[o], bx1[o], by0[o], by1[o]), _seg_bounds(bs, S), cell


def _cut_boxes(cols, cband, rank, cxa, cxb, e, eband, hc, hcol, x0, x1, y0, y1, cx, cy,
               bounds, band, order, bseg, bloc, blo, bhi, bstart, nsplit, rtl, cell):
    """The sub-boxes of the columns ``cols`` that separators cut (at
    ``hc``, of column ``hcol``), with the D4 get_span refinement; the
    lines of a cut column get their own clustering cell per
    sub-interval, written into ``cell``. Returns the boxes as
    _band_boxes collects them."""
    out = []
    # each cut column claims a fresh contiguous block of len(cuts)+1 cell
    # ids above its segment's band ids, in creation order
    next_cell = np.maximum(nsplit - 1, 1).tolist()
    for i in cols[np.lexsort((rank[cols], cband[cols]))].tolist():
        k = cband[i]
        s, lo, hi = int(bseg[k]), float(blo[k]), float(bhi[k])
        cuts = sorted(set(hc[hcol == i].tolist()))
        # vertical dedup (utils/__init__.py:36-161): double-rule
        # separators print as two parallel lines a few px apart — they
        # are ONE reading-order cut
        dd = [cuts[0]]
        for y in cuts[1:]:
            if y - dd[-1] > 8.0:
                dd.append(y)
        cuts = dd
        idx = order[bstart[k]:bstart[k + 1]]
        edges = e[eband == k].tolist()
        ys = [lo] + cuts + [hi]
        for sub, (ya, yb) in enumerate(zip(ys[:-1], ys[1:])):
            # D4 get_span refinement: a sub-box of a cut column advances
            # past following columns its content spans
            xa, xb = float(cxa[i]), float(cxb[i])
            if rtl[s]:
                xa = _extend_box_span(edges, xa, ya, yb, x0[idx], x1[idx], y0[idx],
                                      y1[idx], cy[idx], True)
            else:
                xb = _extend_box_span(edges, xb, ya, yb, x0[idx], x1[idx], y0[idx],
                                      y1[idx], cy[idx], False)
            out.append((s, xa, xb, ya, yb, k, rank[i], sub))
        # a region never merges across a separator (the reference's
        # region model treats the rule as a hard region boundary);
        # cut-less columns keep the band cell
        a, b = bounds[s], bounds[s + 1]
        in_col = a + np.flatnonzero((band[a:b] == bloc[k]) & (cx[a:b] >= cxa[i])
                                    & (cx[a:b] <= cxb[i]))
        cell[in_col] = next_cell[s] + np.searchsorted(np.asarray(cuts), cy[in_col])
        next_cell[s] += len(cuts) + 1
    return tuple(np.array(v) for v in zip(*out))


def _box_of(rx0, rx1, ry0, ry1, rcx, rcy, rseg, boxes, bb):
    """D5 for the regions of S segments at once, one pass over the
    (region, box of its segment) pairs: region r goes to one of segment
    ``rseg[r]``'s boxes ``[bb[s], bb[s+1])`` (x0, x1, y0, y1 of
    ``boxes``). Strict containment takes the FIRST box in emission order
    (the reference's match_boxes breaks on the first containing box,
    eynollah.py:1166-1179 — matters when get_span widened boxes overlap
    full-height column boxes); fallback is the nearest center among
    center-containing boxes (:1181-1187), or among all if none contains
    it, the lowest box index on ties."""
    bx0, bx1, by0, by1 = boxes
    q, j = _pairs(rseg, bb)
    strict = (bx0[j] <= rx0[q]) & (bx1[j] >= rx1[q]) & (by0[j] <= ry0[q]) & (by1[j] >= ry1[q])
    box = np.full(len(rx0), -1, dtype=np.int64)
    sq, sj = q[strict], j[strict]
    f = _firsts(sq)
    box[sq[f]] = sj[f]
    rest = box[q] < 0
    q, j = q[rest], j[rest]
    cen = ((bx0[j] <= rcx[q]) & (bx1[j] > rcx[q]) & (by0[j] <= rcy[q]) & (by1[j] > rcy[q]))
    d = (((bx0[j] + bx1[j]) / 2.0 - rcx[q]) ** 2 + ((by0[j] + by1[j]) / 2.0 - rcy[q]) ** 2)
    d[~cen & (np.bincount(q, weights=cen, minlength=len(rx0)) > 0)[q]] = np.inf
    o = np.lexsort((j, d, q))
    f = o[_firsts(q[o])]
    box[q[f]] = j[f]
    return box


def _extend_box_span(edges, trail, ya, yb, lx0, lx1, ly0, ly1, lcy, rtl):
    """D4 get_span column-merge refinement (utils/__init__.py:1794-1864):
    a box emitted below a partial-width separator advances past following
    columns that its content actually spans — the walk returns the
    right-most column boundary such that merging does not cut a region,
    guarded by the reference's text-coverage rule (text at the boundary
    column must cover > 10% of the box height, :1824-1826).

    Wide spanning components already became their own bands in
    find_splitters pass 2 (the reference's big-parts path, :1708-1761);
    this extension handles the NARROW overhangs that stay: a region
    crossing a column edge by more than a couple px but less than the
    banding margin. `trail` is the box's trailing edge in reading order
    (right edge for LTR, left for RTL); returns the extended edge."""
    inb = (lcy >= ya) & (lcy < yb)
    if not inb.any():
        return trail
    bx0, bx1 = lx0[inb], lx1[inb]
    bh = ly1[inb] - ly0[inb]
    cur = float(trail)
    # at most len(edges) extensions; each strictly advances
    for _ in range(len(edges) + 1):
        if not rtl:
            cross = (bx0 < cur - 2.0) & (bx1 > cur + 2.0)
            if not cross.any() or bh[cross].sum() <= 0.1 * (yb - ya):
                break
            target = float(bx1[cross].max())
            nxt = [e for e in edges if e > cur + 1e-9]
            cand = [e for e in nxt if e >= target - 1e-9]
            new = cand[0] if cand else (nxt[-1] if nxt else cur)
        else:
            cross = (bx1 > cur + 2.0) & (bx0 < cur - 2.0)
            if not cross.any() or bh[cross].sum() <= 0.1 * (yb - ya):
                break
            target = float(bx0[cross].min())
            nxt = [e for e in edges if e < cur - 1e-9]
            cand = [e for e in nxt if e <= target + 1e-9]
            new = cand[-1] if cand else (nxt[0] if nxt else cur)
        if abs(new - cur) <= 1e-9:
            break
        cur = new
    return cur


def _order_in_boxes(rcx, rcy, rh, roff, rtl, bounds):
    """D6 (utils/__init__.py:1021-1145) for many boxes at once: box k
    holds the regions ``[bounds[k], bounds[k+1])`` (centers rcx, rcy,
    heights rh, least offsets roff). Row-cluster region centers with the
    threshold max(8, half the box's median region height), rows
    top-down, cx in a row (right-to-left where ``rtl[k]``). Returns the
    regions' order, box by box."""
    seg = _segments(bounds)
    thr = np.maximum(8.0, _ROW_THR_FRAC * _seg_median(rh, seg, bounds))
    rows = _row_clusters(rcy, seg, thr)
    xkey = np.where(np.asarray(rtl, dtype=bool)[seg], -rcx, rcx)
    return np.lexsort((roff, rcy, xkey, rows))


def _order_body_text(X, off, regions, st):
    """D5 + D6 + D1 concatenation over every document's body regions:
    each region goes to a box (D5), the regions of each box are
    row-clustered and ordered (D6, rows top-down, cx in a row), and each
    region contributes its lines in D1 order — each phase one pass over
    the batch. Returns the body lines in reading order, document by
    document."""
    gorder, gstarts, rfirst, rrtl, ordered_ix = regions
    boxes, bb = st.boxes[0][1:], st.boxes[1]
    D = len(bb) - 1
    if rfirst[D] == 0:
        return ordered_ix[:0]
    x0, x1, y0, y1 = X[:4]
    rx0 = _group_minmax(x0, gorder, gstarts, "min")
    rx1 = _group_minmax(x1, gorder, gstarts, "max")
    ry0 = _group_minmax(y0, gorder, gstarts, "min")
    ry1 = _group_minmax(y1, gorder, gstarts, "max")
    roff = _group_minmax(off, gorder, gstarts, "min")
    rcx, rcy = (rx0 + rx1) / 2.0, (ry0 + ry1) / 2.0
    # D5; boxes numbered through the batch, so by document
    R = rfirst[D]
    box = _box_of(rx0[:R], rx1[:R], ry0[:R], ry1[:R], rcx[:R], rcy[:R],
                  _segments(rfirst[:D + 1]), boxes, bb)
    # D6 within each box, all boxes of the batch at once
    by_box = box.argsort(kind="stable")
    sb = box[by_box]
    bounds = np.append(_firsts(sb), len(sb))
    order_regions = by_box[_order_in_boxes(
        rcx[by_box], rcy[by_box], (ry1 - ry0)[by_box], roff[by_box],
        rrtl[by_box][bounds[:-1]], bounds)]
    # each region's lines in D1 order
    size = gstarts[1:] - gstarts[:-1]
    return ordered_ix[_ragged_arange(gstarts[order_regions], size[order_regions])]
