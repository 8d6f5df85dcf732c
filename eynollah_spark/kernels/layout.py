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
parallel inside the mapInArrow partition kernel. The page-analysis
phases that need nothing from the rest of the pipeline (deskew scores,
the page-level projection profiles and their valleys) run batched over
many documents in analyze_pages; every batched step is exact per
document, so a document's result never depends on its batch.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

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


@dataclass
class DocSpans:
    """Flat arrays for one document (aligned by span index)."""

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

def _med(a):
    """np.median for 1-D arrays without its dispatch overhead (the kernel
    calls medians ~6x per document; np.median costs ~65us per call on
    small arrays). Identical semantics: mean of the two middle order
    statistics."""
    a = np.asarray(a, dtype=float)
    n = a.size
    if n == 0:
        return float("nan")
    if n == 1:
        return float(a[0])
    i, j = (n - 1) // 2, n // 2
    b = np.partition(a, (i, j))
    return 0.5 * (float(b[i]) + float(b[j]))


def _seg_median(a, seg, bounds):
    """_med of every segment ``a[bounds[k]:bounds[k+1]]`` (all non-empty;
    ``seg`` the segment of each element): one segmented sort gives the
    same two middle order statistics per segment."""
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
    # difference array via bincount (np.add.at is ~5x slower). NOTE: this
    # computes (sum of +w) - (sum of +w at hi) where add.at interleaved
    # signed weights into one accumulator; identical for the integral
    # span-height weights used here, but float rounding could differ for
    # fractional weights — if a fractional-weight caller appears, switch
    # to one signed bincount: bincount(concat(lo,hi), concat(w,-w)).
    base = seg * (_BINS + 1)
    size = len(width) * (_BINS + 1)
    w = np.asarray(weights, dtype=float)
    d = (np.bincount(base + lo, weights=w, minlength=size)
         - np.bincount(base + hi, weights=w, minlength=size))
    return d.reshape(-1, _BINS + 1).cumsum(axis=1)[:, :-1], bins, scale


def coverage_profile(x0, x1, weights, width):
    """coverage_profiles for one segment: (profile, scale)."""
    P, bins, scale = coverage_profiles(np.asarray(x0), np.asarray(x1), weights,
                                       [0, len(x0)], [width])
    return P[0, :bins[0]], float(scale[0])


_GAUSS_KERNELS: dict[float, np.ndarray] = {}


def gaussian_smooth(p, sigma):
    """1-D gaussian smoothing (cf. scipy gaussian_filter1d use at
    utils/__init__.py:277, sigma=25 on ~2500px pages). Kernels are
    memoized by sigma (constant per page width)."""
    sigma = max(float(sigma), 0.5)
    k = _GAUSS_KERNELS.get(sigma)
    if k is None:
        r = int(max(1, round(3 * sigma)))
        t = np.arange(-r, r + 1, dtype=float)
        k = np.exp(-0.5 * (t / sigma) ** 2)
        k /= k.sum()
        if len(_GAUSS_KERNELS) < 4096:
            _GAUSS_KERNELS[sigma] = k
    return np.convolve(p, k, mode="same")


# ------------------------------------------------------- marginalia (C10) ---

def _find_peaks(y, min_distance):
    """Plateau-aware local maxima with min-distance suppression
    (stand-in for scipy.signal.find_peaks as used at
    utils/marginals.py:74-78). Vectorized via run-length encoding."""
    n = len(y)
    if n < 3:
        return np.array([], dtype=np.int64)
    # RLE of equal-value runs
    change = ((y[1:] - y[:-1]) != 0).nonzero()[0] + 1
    starts = np.concatenate(([0], change))
    ends = np.concatenate((change, [n]))
    vals = y[starts]
    k = len(vals)
    if k < 3:
        return np.array([], dtype=np.int64)
    is_max = np.zeros(k, dtype=bool)
    is_max[1:-1] = (vals[1:-1] > vals[:-2]) & (vals[1:-1] > vals[2:])
    peaks = ((starts[is_max] + ends[is_max] - 1) // 2).astype(np.int64)
    if len(peaks) == 0:
        return peaks
    # min-distance suppression, keeping higher peaks (scipy semantics)
    yp = y[peaks]
    pk, hv = peaks.tolist(), yp.tolist()
    keep = [True] * len(pk)
    for oi in (-yp).argsort(kind="stable").tolist():
        if not keep[oi]:
            continue
        p0, h0 = pk[oi], hv[oi]
        for j, (p, v) in enumerate(zip(pk, hv)):
            if abs(p - p0) < min_distance and v <= h0 and j != oi:
                keep[j] = False
    peaks = peaks[keep]
    peaks.sort()
    return peaks


def _prominences(y, peaks):
    """Prominence per peak (walk until a higher value on each side; min
    along the way is the base). Vectorized per peak: the walk boundary is
    the nearest strictly-higher sample, the base is the min of the walked
    slice — identical values to the elementwise walk."""
    n = len(y)
    prom = np.empty(len(peaks))
    for k, p in enumerate(peaks):
        lv = y[p]
        gt = (y[:p] > lv).nonzero()[0]
        left = int(gt[-1]) + 1 if len(gt) else 0
        lmin = min(lv, float(y[left:p].min())) if p > left else lv
        gt = (y[p + 1:] > lv).nonzero()[0]
        right = p + 1 + int(gt[0]) if len(gt) else n
        rmin = min(lv, float(y[p + 1:right].min())) if right > p + 1 else lv
        prom[k] = lv - max(lmin, rmin)
    return prom


def _marginal_profiles(x0, x1, y0, y1, bounds, width, height):
    """split_main_and_marginal's profile phase for S segments of text
    lines at once (segment k: lines ``[bounds[k], bounds[k+1])`` on a
    ``width[k]`` x ``height[k]`` page): the column-sum projection of the
    horizontally eroded lines. Per segment: (p, scale, mx, first_nz,
    last_nz) — the projection, its bins per px, its max and the first
    and last columns of its smoothed support — or None when the page is
    too thin in text to have marginalia."""
    width = np.asarray(width, dtype=float)
    height = np.asarray(height, dtype=float)
    out = [None] * len(width)
    # horizontal erosion amount (marginals.py:25-38: 6x 1x5 plus 5-7x 5x5
    # at reduced scale for pages taller than 1500/1800 px)
    ex = np.where(height <= 1500, 12.0, np.where(height <= 1800, 22.0, 26.0))
    seg = np.repeat(np.arange(len(width)), np.diff(bounds))
    ex0, ex1 = x0 + ex[seg], x1 - ex[seg]
    keepm = ex1 > ex0
    live = np.flatnonzero(np.bincount(seg[keepm], minlength=len(width)))
    if len(live) == 0:
        return out
    kb = np.concatenate(([0], np.cumsum(np.bincount(seg[keepm])[live])))
    P, bins, scale = coverage_profiles(ex0[keepm], ex1[keepm],
                                       np.maximum(y1 - y0, 1.0)[keepm], kb,
                                       width[live])
    mx = np.where(np.arange(_BINS) < bins[:, None], P, -np.inf).max(axis=1)
    # bail out if the max text thickness is below 14% of page height
    # (marginals.py:62)
    for k in np.flatnonzero((mx > 0) & (100.0 * mx / height[live] >= 14.0)).tolist():
        p, sc = P[k, :bins[k]], float(scale[k])
        nz = (gaussian_smooth(p, 1.0 * sc) > 1e-9).nonzero()[0]
        out[live[k]] = (p, sc, mx[k], int(nz[0]), int(nz[-1]))
    return out


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
    """
    x0, x1, y0, y1 = (np.asarray(a, dtype=float) for a in (x0, x1, y0, y1))
    prof = (_marginal_profiles(x0, x1, y0, y1, [0, len(x0)], [width], [height])[0]
            if len(x0) else None)
    return _marginal_split(x0, x1, y0, y1, width, height, num_col, prof)


def _marginal_split(x0, x1, y0, y1, width, height, num_col, prof):
    """split_main_and_marginal after the profile phase (``prof``, one
    _marginal_profiles entry)."""
    n = len(x0)
    marg = np.zeros(n, dtype=bool)
    if n == 0 or num_col > 2 or prof is None:
        return marg, 0.0, float(width)
    p, scale, mx, first_nz, last_nz = prof
    min_thick = mx / 20.0
    mid = 0.5 * (first_nz + last_nz)
    third_l = (mid - first_nz) / 3.0
    third_r = (last_nz - mid) / 3.0
    rev = mx - p
    peaks = _find_peaks(rev, max(2, int(30 * scale)))
    if len(peaks) == 0:
        return marg, 0.0, float(width)
    ok = (peaks > first_nz) & (peaks < last_nz) & (p[peaks] < min_thick)
    peaks = peaks[ok]
    scores = _prominences(rev, peaks) * rev[peaks]
    if num_col == 1:
        left = peaks < mid
        right = peaks > mid
    else:
        left = peaks < mid - third_l
        right = peaks > mid + third_r
    best_l = scores[left].max() if left.any() else None
    best_r = scores[right].max() if right.any() else None
    if best_l is None and best_r is None:
        return marg, 0.0, float(width)
    point_left, point_right = 0.0, float(width)
    if best_l is not None and (best_r is None or best_l >= 0.1 * best_r):
        point_left = peaks[left][int(np.argmax(scores[left]))] / scale
    if best_r is not None and (best_l is None or best_r >= 0.1 * best_l):
        point_right = peaks[right][int(np.argmax(scores[right]))] / scale
    h = np.maximum(y1 - y0, 1.0)
    cx = (x0 + x1) / 2.0
    # symbolic-domain guards on top of min_text_thickness (marginals.py:42,83):
    # a true marginal column (a) recurs along the page (>=8% page-height
    # coverage — not a stray page number / catch-word), and (b) is small
    # next to the main text (<25% of its ink area, <50% of its width —
    # a real column is never marginalia even when a valley qualifies)
    area = np.maximum(x1 - x0, 1.0) * h
    for side_mask, reset in (
        (cx < point_left, "l"),
        (cx > point_right, "r"),
    ):
        drop = False
        if side_mask.any():
            body_m = ~((cx < point_left) | (cx > point_right))
            if h[side_mask].sum() < 0.08 * height:
                drop = True
            elif body_m.any():
                if area[side_mask].sum() >= 0.25 * area[body_m].sum():
                    drop = True
                side_w = x1[side_mask].max() - x0[side_mask].min()
                body_w = x1[body_m].max() - x0[body_m].min()
                if side_w >= 0.5 * body_w:
                    drop = True
        if drop:
            if reset == "l":
                point_left = 0.0
            else:
                point_right = float(width)
    marg = (cx < point_left) | (cx > point_right)
    # no main text left -> treat all as main (marginals.py:183-185)
    if marg.all():
        return np.zeros(n, dtype=bool), 0.0, float(width)
    body = ~marg
    return marg, float(np.min(x0[body])), float(np.max(x1[body]))


# ------------------------------------------------------------ columns (C5) ---

def _gutter_valleys(x0, x1, y0, y1, bounds, width):
    """find_gutters' profile phase for S non-empty segments of lines at
    once (segment k: lines ``[bounds[k], bounds[k+1])`` on a page of
    ``width[k]``): the valley runs of each smoothed projection inside
    the segment's ink extent, as x positions. Returns (valleys, lo, hi)
    per segment: valleys is None where the projection has no ink or the
    extent no interior (no gutters, whatever the separators)."""
    width = np.asarray(width, dtype=float)
    P, bins, scale = coverage_profiles(x0, x1, np.maximum(y1 - y0, 1.0),
                                       bounds, width)
    lo = np.minimum.reduceat(x0, bounds[:-1]).tolist()
    hi = np.maximum.reduceat(x1, bounds[:-1]).tolist()
    sigma = (np.maximum(1.0, width / 150.0) * scale).tolist()
    valleys = []
    for k, (b, sc) in enumerate(zip(bins.tolist(), scale.tolist())):
        p = gaussian_smooth(P[k, :b], sigma[k])
        mx = p.max()
        ilo, ihi = int(lo[k] * sc) + 1, int(hi[k] * sc) - 1
        if mx <= 0 or ihi <= ilo:
            valleys.append(None)
            continue
        # valley runs inside the interior
        below = p < _VALLEY_FRAC * mx
        below[: max(ilo, 0)] = False
        below[min(ihi, b):] = False
        edge = np.concatenate(([False], below, [False]))
        idx = (edge[1:] != edge[:-1]).nonzero()[0]
        valleys.append(((idx[0::2] + idx[1::2]) / 2.0 / sc).tolist())
    return valleys, lo, hi


def _settle_gutters(valleys, x0, x1, y0, y1, lo, hi, width, vsep_cx):
    """find_gutters after the profile phase: valley and separator
    candidates, merged and balance-pruned over the segment's lines."""
    if valleys is None:
        return []
    cand = [(x, 0.5) for x in valleys]  # (x, strength)
    for v in vsep_cx:
        if lo < v < hi:
            cand.append((float(v), 1.0))
    if not cand:
        return []
    cand.sort()
    # merge close candidates, keeping the stronger (C5 :409-433)
    merged = []
    merge_d = _GUTTER_MERGE_FRAC * width
    for x, s in cand:
        if merged and x - merged[-1][0] < merge_d:
            if s > merged[-1][1]:
                merged[-1] = (x, s)
        else:
            merged.append((x, s))
    gutters = merged
    # balance pruning (C5 :390-405): drop gutters bounding near-empty columns
    area = np.maximum(x1 - x0, 1.0) * np.maximum(y1 - y0, 1.0)
    total = area.sum()
    cx = (x0 + x1) / 2.0
    while gutters:
        edges = [lo] + [g for g, _ in gutters] + [hi]
        masses = np.array(
            [area[(cx >= edges[i]) & (cx < edges[i + 1])].sum() for i in range(len(edges) - 1)]
        )
        weakest = int(masses.argmin())
        if masses[weakest] >= _COL_MIN_MASS * total:
            break
        # remove the weaker of the gutters bounding the weakest column
        adj = [i for i in (weakest - 1, weakest) if 0 <= i < len(gutters)]
        drop = min(adj, key=lambda i: gutters[i][1])
        gutters.pop(drop)
    return [g for g, _ in gutters]


def gutter_sets(x0, x1, y0, y1, bounds, width, vsep_cx):
    """find_gutters for several non-empty segments of lines on one page
    (segment k: lines ``[bounds[k], bounds[k+1])``, vertical separators
    ``vsep_cx[k]``), the profile phase batched."""
    bounds = np.asarray(bounds, dtype=np.int64)
    valleys, lo, hi = _gutter_valleys(x0, x1, y0, y1, bounds,
                                      np.full(len(vsep_cx), float(width)))
    b = bounds.tolist()
    return [_settle_gutters(v, x0[s:e], x1[s:e], y0[s:e], y1[s:e], l, h, width, vs)
            for v, s, e, l, h, vs in zip(valleys, b[:-1], b[1:], lo, hi, vsep_cx)]


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


# --------------------------------------------------------- splitters (D2) ---

def _dedupe_splitters(ys, height):
    ys = sorted(set(ys))
    out = [ys[0]]
    for y in ys[1:]:
        if y - out[-1] > 1.0:
            out.append(y)
    if out[-1] < height:
        out[-1] = float(height)
    return out


def _by_band(edges, y):
    """Lines grouped by the band ``[edges[k], edges[k+1])`` that holds
    their ``y`` (edges strictly increasing). Returns (band, order,
    starts): band k's lines, in their original order, are
    ``order[starts[k]:starts[k+1]]``; lines outside every band are left
    out."""
    band = np.searchsorted(edges, y, side="right") - 1
    nb = len(edges) - 1
    order = ((band >= 0) & (band < nb)).nonzero()[0]
    order = order[band[order].argsort(kind="stable")]
    return band, order, np.concatenate(([0], np.bincount(band[order], minlength=nb).cumsum()))


def _band_vseps(vsep_cx, vseps, lo, hi):
    """x-positions of the vertical separators whose y-extent overlaps the
    band [lo, hi) by >=30% of the shorter of the two."""
    return [v for v, (vy0, vy1) in zip(vsep_cx, vseps)
            if min(vy1, hi) - max(vy0, lo) >= 0.3 * max(min(vy1 - vy0, hi - lo), 1.0)]


def find_splitters(tx0, tx1, ty0, ty1, hseps, width, height, main_lo, main_hi,
                   vseps=(), vsep_cx=(), band_gutters_out=None, line_gutters=None):
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
    band's gutter. ``line_gutters``, if given, is find_gutters of all the
    lines with ``vsep_cx``: a band that holds every line with the same
    separators has exactly those gutters.
    """
    ys = [0.0, float(height)]
    mw = max(main_hi - main_lo, 1.0)
    for sx0, sx1, sy0, sy1 in hseps:
        if sx0 <= main_lo + _SPLITTER_X0 * mw and sx1 >= main_lo + _SPLITTER_X1 * mw:
            ys.append((sy0 + sy1) / 2.0)
    h = np.maximum(ty1 - ty0, 1.0)
    for vy0, vy1 in vseps:
        for y in (float(vy0) - 0.5, float(vy1) + 0.5):
            strad = (ty0 < y) & (ty1 > y)
            if strad.any():
                frac = np.minimum(y - ty0[strad], ty1[strad] - y) / h[strad]
                if (frac > 0.3).any():
                    continue
            ys.append(y)
    pass1 = _dedupe_splitters(ys, height)

    cys = (ty0 + ty1) / 2.0
    cxs = (tx0 + tx1) / 2.0
    w = tx1 - tx0
    # the pass-1 bands that hold lines; their gutters in one batch
    _, order, bstart = _by_band(pass1, cys)
    bands = (bstart[1:] > bstart[:-1]).nonzero()[0].tolist()
    vbands = [_band_vseps(vsep_cx, vseps, pass1[k], pass1[k + 1]) for k in bands]
    if (line_gutters is not None and len(bands) == 1
            and len(order) == len(tx0) and vbands[0] == list(vsep_cx)):
        gs = [list(line_gutters)]
    else:
        gs = gutter_sets(tx0[order], tx1[order], ty0[order], ty1[order],
                         np.concatenate(([0], np.diff(bstart)[bands].cumsum())),
                         width, vbands)
    extra = []
    for k, g in zip(bands, gs):
        lo, hi = pass1[k], pass1[k + 1]
        if band_gutters_out is not None:
            # bands that survive into the final splitter list unchanged
            # reuse this gutter analysis in the D4 box loop (same inputs
            # -> same outputs; saves a third of gutter analyses)
            band_gutters_out[(lo, hi)] = g
        idx = order[bstart[k]:bstart[k + 1]]
        if g:
            sm = spanning_lines(tx0[idx], tx1[idx], g, width)
            for i in idx[sm].tolist():
                extra += [float(ty0[i]) - 0.5, float(ty1[i]) + 0.5]
        else:
            # 1-column band: centered short lines alone in their row
            blo, bhi = float(tx0[idx].min()), float(tx1[idx].max())
            bw = max(bhi - blo, 1.0)
            col_cx = blo + bw / 2.0
            cand = idx[(w[idx] <= 0.5 * bw) & (np.abs(cxs[idx] - col_cx) <= 0.08 * bw)]
            if len(cand):
                bcy, bh = cys[idx], h[idx]
                for i in cand.tolist():
                    # only itself in its row
                    if (np.abs(bcy - cys[i]) < 0.6 * np.maximum(bh, h[i])).sum() <= 1:
                        extra += [float(ty0[i]) - 0.5, float(ty1[i]) + 0.5]
    return _dedupe_splitters(pass1 + extra, height)


def merge_vertical_separators(vcx, vboxes, width):
    """Collapse near-duplicate parallel rules (double-line separators are
    common in historical prints) into one separator with the union of
    their y-extents — mirrors the reference's morphology step that fuses
    them into one contour (utils/__init__.py:1337-1349)."""
    if not vcx:
        return [], []
    order = np.argsort(vcx)
    merged = []  # [cx, y0, y1]
    d = _GUTTER_MERGE_FRAC * width
    for k in order:
        if merged and vcx[k] - merged[-1][0] < d:
            m = merged[-1]
            m[1] = min(m[1], vboxes[k][0])
            m[2] = max(m[2], vboxes[k][1])
        else:
            merged.append([float(vcx[k]), float(vboxes[k][0]), float(vboxes[k][1])])
    return [m[0] for m in merged], [(m[1], m[2]) for m in merged]


def spanning_lines(tx0, tx1, gutters, width):
    """Mask of lines crossing >=1 column gutter with margin on both sides
    (the 'large components spanning >=2 columns' rule, utils/__init__.py:1723-1761)."""
    n = len(tx0)
    mask = np.zeros(n, dtype=bool)
    if not gutters or n == 0:
        return mask
    m = _SPAN_MARGIN_FRAC * width
    for g in gutters:
        mask |= (tx0 < g - m) & (tx1 > g + m)
    return mask


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
    starts = np.concatenate(([True], sl[1:] != sl[:-1])).nonzero()[0]
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


def cluster_lines_into_regions(x0, x1, y0, y1, band=None, rtl=False):
    """Group text lines into regions (paragraph blocks).

    Inverse of the reference's C16 (lines are assigned to model-detected
    regions via point-in-polygon, eynollah.py:946-980); symbolically we
    *infer* the regions: lines merge when they x-overlap, are vertically
    adjacent, share the anchor edge (left edge for LTR paragraphs, right
    for RTL — justified text aligns there, neighboring columns never
    do), and lie in the same XY-cut band (a splitter between two lines
    is a region boundary by construction, cf. D4).
    """
    n = len(x0)
    if n == 0:
        return np.arange(n)
    if band is None:
        band = np.zeros(n, dtype=np.int64)

    h = np.maximum(y1 - y0, 1.0)
    w = np.maximum(x1 - x0, 1.0)
    anchor = x1 if rtl else x0

    # vectorized candidate-pair enumeration: sort by y0; for each line i,
    # candidates j follow it with y0[j] <= y1[i] + gap_bound(i). The
    # bound uses h[i], not h.max(): the gap predicate needs
    # dy <= factor*min(h_i,h_j)+4 <= factor*h_i+4, so the per-line
    # window is an exact superset of qualifying pairs that stays tight
    # when one tall media span would inflate a global window.
    order = y0.argsort(kind="stable")
    sy0, sy1 = y0[order], y1[order]
    sh = h[order]
    hi = sy0.searchsorted(sy1 + _REGION_GAP_FACTOR * sh + 4, side="right")
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

    # Containment post-pass (the reference's actual C16 rule is
    # point-in-REGION-polygon, eynollah.py:946-980 — a line lying inside
    # a merged contour belongs to it no matter its indent): a line whose
    # bbox falls strictly inside ANOTHER region's bbox (same band) joins
    # that region. Without this, an indented single-line region
    # vertically interleaved in a paragraph block makes the final order
    # depend on a 1-px gap-rule boundary (fixture-margin finding, r3):
    # no ordering of the two region UNITS preserves the flow, while
    # in-region D1 row ordering restores it exactly.
    uniq, gorder, gstarts = _group_by_label(labels)
    if len(uniq) > 1:
        # one vectorized pass over the ORIGINAL region bboxes; a line
        # contained in several picks the container with the smallest
        # (area, x0, y0, x1, y1) — a purely geometric key, so the result
        # is invariant to input row order
        R = len(uniq)
        rx0 = _group_minmax(x0, gorder, gstarts, "min")
        rx1 = _group_minmax(x1, gorder, gstarts, "max")
        ry0 = _group_minmax(y0, gorder, gstarts, "min")
        ry1 = _group_minmax(y1, gorder, gstarts, "max")
        rb = band[gorder[gstarts[:-1]]]
        area = (rx1 - rx0) * (ry1 - ry0)
        rank = np.empty(R, dtype=np.int64)
        rank[np.lexsort((ry1, rx1, ry0, rx0, area))] = np.arange(R)
        cont = ((x0[:, None] >= rx0) & (x1[:, None] <= rx1)
                & (y0[:, None] >= ry0) & (y1[:, None] <= ry1)
                & (band[:, None] == rb) & (labels[:, None] != uniq))
        if cont.any():
            # bbox containment over-approximates the contour (an L-shaped
            # title+column region's bbox swallows the neighbour column):
            # require the container to have member lines x-overlapping
            # the candidate BOTH above and below — i.e. the line is truly
            # interleaved in the container's flow, not merely inside its
            # bounding box.
            new = labels.copy()
            for i in cont.any(axis=1).nonzero()[0]:
                best = None
                for k in cont[i].nonzero()[0]:
                    m = labels == uniq[k]
                    ovl = m & (np.minimum(x1, x1[i]) > np.maximum(x0, x0[i]))
                    if ((ovl & (y1 <= y0[i])).any()
                            and (ovl & (y0 >= y1[i])).any()):
                        if best is None or rank[k] < rank[best]:
                            best = k
                if best is not None:
                    new[i] = uniq[best]
            labels = new
    return labels


# --------------------------------------------------- ordering (D4/D5/D6/D1) ---

def _row_cluster(cy, thr):
    """Cluster sorted-by-cy items into rows; returns row ids aligned with input order."""
    order = cy.argsort(kind="stable")
    thr = float(thr)
    out = []
    row = 0
    ref = None
    for v in cy[order].tolist():
        if ref is None:
            ref = v
        elif v - ref > thr:
            row += 1
            ref = v
        out.append(row)
    rows = np.empty(len(out), dtype=np.int64)
    rows[order] = out
    return rows


def order_lines_in_region(cx, cy, rtl, off=None):
    """D1 (eynollah.py:891-944): row-cluster line centers with threshold
    median-pitch/1.5, rows top-down, left-right (or RTL) within a row.

    `off` (span offsets) is the final tie-break so geometrically identical
    lines order deterministically regardless of input row order."""
    n = len(cx)
    if n <= 1:
        return np.arange(n)
    scy = np.sort(cy)
    d = scy[1:] - scy[:-1]
    pos = d[d > 1e-9]
    pitch = _med(pos) if len(pos) else float("inf")
    rows = _row_cluster(cy, pitch / _LINE_ROW_DIV)
    xkey = -cx if rtl else cx
    if off is None:
        return np.lexsort((xkey, rows))
    return np.lexsort((np.asarray(off), xkey, rows))


def layout_document(doc: DocSpans):
    """Full per-document pipeline; returns (perm, out_kind) where perm is
    the index permutation of doc spans in final reading order and
    out_kind the (possibly refined) kind per *output* position."""
    perm, marg_mask = layout_permutation(doc)
    out_kind = doc.kind[perm].copy() if len(perm) else np.array([], dtype=object)
    out_kind[marg_mask] = KIND_MARGINALIA
    return perm, out_kind


@dataclass
class Page:
    """One document's share of the batched page stage (analyze_pages)."""

    x0: np.ndarray          # geometry after deskew, float64
    x1: np.ndarray
    y0: np.ndarray
    y1: np.ndarray
    cx: np.ndarray
    cy: np.ndarray
    is_sep: np.ndarray
    tix: np.ndarray         # indices of the text lines
    valleys: list | None    # page-level gutter valleys of the text lines
    lo: float               # x extent of the text lines
    hi: float
    margins: tuple | None   # marginal projection of the text lines


def analyze_pages(docs: list[DocSpans]) -> list[Page]:
    """The page-analysis phases that need nothing from the per-document
    remainder, run once for a batch of documents: C6 deskew (coarse and
    fine angle scores; the rotation itself is per document) and the
    coverage profiles, smoothing and valley masks behind the page-level
    find_gutters and split_main_and_marginal. Every batched step is
    exact per document, so a document's Page does not depend on which
    others share its batch."""
    from eynollah_spark.kernels.deskew import estimate_skews, rotate_boxes

    D = len(docs)
    n = np.array([d.n for d in docs], dtype=np.int64)
    bounds = np.concatenate(([0], np.cumsum(n)))
    kind = np.concatenate([d.kind for d in docs])
    x0, x1, y0, y1 = (np.concatenate([np.asarray(getattr(d, c), dtype=float)
                                      for d in docs])
                      for c in ("x0", "x1", "y0", "y1"))
    W = np.array([float(d.width) for d in docs])
    H = np.array([float(d.height) for d in docs])
    is_text = kind == KIND_TEXT
    is_sep = kind == KIND_SEPARATOR
    ti = is_text.nonzero()[0]
    tseg = np.repeat(np.arange(D), n)[ti]
    tb = np.concatenate(([0], np.cumsum(np.bincount(tseg, minlength=D))))

    # --- C6/C8 deskew: estimate page skew from text-line sharpness and
    # rotate all geometry before any projection work (run_deskew,
    # eynollah.py:1522-1533; rotation utils/rotate.py:9-13)
    ang = estimate_skews((x0[ti] + x1[ti]) / 2.0, (y0[ti] + y1[ti]) / 2.0,
                         np.maximum(x1[ti] - x0[ti], 1.0),
                         np.maximum(y1[ti] - y0[ti], 1.0), tb, W, H)
    for d in (np.abs(ang) >= 0.75).nonzero()[0].tolist():
        s, e = bounds[d], bounds[d + 1]
        x0[s:e], x1[s:e], y0[s:e], y1[s:e] = rotate_boxes(
            x0[s:e], x1[s:e], y0[s:e], y1[s:e], float(ang[d]), W[d] / 2.0, H[d] / 2.0)
    cx, cy = (x0 + x1) / 2.0, (y0 + y1) / 2.0

    # --- profiles of the text lines, for the documents that have any
    tx0, tx1, ty0, ty1 = x0[ti], x1[ti], y0[ti], y1[ti]
    has = (tb[1:] > tb[:-1]).nonzero()[0]
    hb = np.concatenate(([0], np.cumsum(np.diff(tb)[has])))
    valleys, lo, hi, margins = [None] * D, [0.0] * D, [0.0] * D, [None] * D
    if len(has):
        v, l, h = _gutter_valleys(tx0, tx1, ty0, ty1, hb, W[has])
        m = _marginal_profiles(tx0, tx1, ty0, ty1, hb, W[has], H[has])
        for j, d in enumerate(has.tolist()):
            valleys[d], lo[d], hi[d], margins[d] = v[j], l[j], h[j], m[j]
    pages = []
    for d in range(D):
        s, e = bounds[d], bounds[d + 1]
        pages.append(Page(x0[s:e], x1[s:e], y0[s:e], y1[s:e], cx[s:e], cy[s:e],
                          is_sep[s:e], ti[tb[d]:tb[d + 1]] - s,
                          valleys[d], lo[d], hi[d], margins[d]))
    return pages


def layout_permutation(doc: DocSpans, page: Page | None = None):
    """Core per-document pipeline; returns (perm, marg_mask) where perm is
    the index permutation of doc spans in final reading order and
    marg_mask flags output positions whose kind refines to 'marginalia'.
    (`doc.text` / `doc.media_ref` are never read — the kernel is pure
    geometry, so callers may pass placeholders.) ``page`` is the doc's
    analyze_pages result; without it the page stage runs on this doc
    alone.

    Serialization order per D8 (utils/xml.py:49-66, writer.py:184-290):
    marg-L -> ordered text -> marg-R -> images -> separators -> tables.
    """
    n = doc.n
    if n == 0:
        return np.array([], dtype=np.int64), np.array([], dtype=bool)
    if page is None:
        page = analyze_pages([doc])[0]
    kind = doc.kind
    x0, x1, y0, y1, cx, cy = page.x0, page.x1, page.y0, page.y1, page.cx, page.cy
    W, H = float(doc.width), float(doc.height)
    tix = page.tix
    tx0, tx1, ty0, ty1 = x0[tix], x1[tix], y0[tix], y1[tix]

    # separator geometry split (C3, utils/__init__.py:187-219)
    sep_ix = page.is_sep.nonzero()[0]
    vcx, vboxes, hseps = [], [], []
    if len(sep_ix):
        sw, sh = x1[sep_ix] - x0[sep_ix], y1[sep_ix] - y0[sep_ix]
        hsep_ix = sep_ix[sw >= sh]
        vsep_ix = sep_ix[sw < sh]
        vcx, vboxes = merge_vertical_separators(
            cx[vsep_ix].tolist(), [(y0[i], y1[i]) for i in vsep_ix], W
        )
        hseps = [(x0[i], x1[i], y0[i], y1[i]) for i in hsep_ix]

    # --- page-level column estimate (B5 heuristic stand-in: peak count of
    # the x-projection, cf. find_num_col utils/__init__.py:245-489). Only
    # substantial columns count (>=15% of ink mass) — the CNN column
    # classifier the reference uses never counts marginal humps.
    gutters_all = _settle_gutters(page.valleys, tx0, tx1, ty0, ty1,
                                  page.lo, page.hi, W, vcx)
    if gutters_all and len(tix):
        tcx = cx[tix]
        tarea = np.maximum(tx1 - tx0, 1.0) * np.maximum(ty1 - ty0, 1.0)
        edges = [-np.inf] + list(gutters_all) + [np.inf]
        masses = np.array([
            tarea[(tcx >= edges[i]) & (tcx < edges[i + 1])].sum()
            for i in range(len(edges) - 1)
        ])
        num_col_est = max(1, int((masses >= 0.15 * masses.sum()).sum()))
    else:
        num_col_est = 1
    # B5 user bounds, matching the reference's branch structure exactly
    # (eynollah.py:322-335 and 391-416): a SINGLE bound PINS num_col to
    # that value (upper-only or lower-only forces it — the reference
    # skips the classifier entirely); both-set-and-equal also pins; only
    # both-set-and-unequal clamps the estimate from both sides.
    lo, hi = int(doc.num_col_lower or 0), int(doc.num_col_upper or 0)
    if hi and not lo:
        num_col_est = hi
    elif lo and not hi:
        num_col_est = lo
    elif lo and hi:
        num_col_est = hi if lo == hi else min(max(num_col_est, lo), hi)

    # --- C10 marginalia over text lines
    marg_mask_t, main_lo, main_hi = _marginal_split(
        tx0, tx1, ty0, ty1, W, H, num_col_est, page.margins
    )
    marg_ix = tix[marg_mask_t]
    body_ix = tix[~marg_mask_t]

    off = np.asarray(doc.offset, dtype=np.int64)
    ordered_text = _order_body_text(
        body_ix, x0, x1, y0, y1, cx, cy, W, H,
        hseps=hseps,
        vsep_cx=vcx,
        vsep_boxes=vboxes,
        main_lo=main_lo, main_hi=main_hi, rtl=doc.rtl, off=off,
        # without marginalia the body is every text line: the page-level
        # gutter analysis is the body's
        body_gutters=None if len(marg_ix) else gutters_all,
    )

    # --- C11 marginal split + D1 within marginal regions
    marg_l, marg_r = _order_marginals(marg_ix, x0, x1, y0, y1, cx, cy, W, doc.rtl, off)

    parts = [marg_l, ordered_text, marg_r]
    if len(ordered_text) + len(marg_ix) < n:
        # images -> separators -> tables, each by position
        for ix in ((kind == KIND_IMAGE).nonzero()[0], sep_ix,
                   (kind == KIND_TABLE).nonzero()[0]):
            if len(ix):
                ix = ix[np.lexsort((doc.offset[ix], cx[ix], cy[ix]))]
            parts.append(ix)
    perm = np.concatenate(parts).astype(np.int64)
    if len(marg_ix) == 0:
        return perm, np.zeros(len(perm), dtype=bool)
    marg_mask = np.zeros(n, dtype=bool)
    marg_mask[marg_ix] = True
    return perm, marg_mask[perm]


def _order_marginals(marg_ix, x0, x1, y0, y1, cx, cy, W, rtl, off):
    """C11 (eynollah.py:1923-1947): split marginals at the page midline,
    order each side's regions top-down, lines in D1 order within.
    Ties between geometrically identical regions/lines break by offset."""
    if len(marg_ix) == 0:
        return marg_ix.copy(), marg_ix.copy()
    labels = cluster_lines_into_regions(x0[marg_ix], x1[marg_ix], y0[marg_ix], y1[marg_ix], rtl=rtl)
    out_l, out_r = [], []
    regs = []
    _, gorder, gstarts = _group_by_label(labels)
    gs = gstarts.tolist()
    for a, b in zip(gs[:-1], gs[1:]):
        members = marg_ix[gorder[a:b]]
        rcy = cy[members].mean()
        rcx = cx[members].mean()
        regs.append((rcy, rcx, int(off[members].min()), members))
    regs.sort(key=lambda t: (t[0], t[1], t[2]))
    for rcy, rcx, _roff, members in regs:
        if len(members) > 1:
            members = members[order_lines_in_region(cx[members], cy[members],
                                                    rtl, off[members])]
        (out_l if rcx < W / 2.0 else out_r).extend(members.tolist())
    return np.array(out_l, dtype=np.int64), np.array(out_r, dtype=np.int64)


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


def _order_body_text(body_ix, x0, x1, y0, y1, cx, cy, W, H,
                     hseps, vsep_cx, vsep_boxes, main_lo, main_hi, rtl, off,
                     body_gutters=None):
    """D2 + D4 + D5 + D6 + D1 over the non-marginal text lines
    (``body_gutters``: their find_gutters with ``vsep_cx``, if known)."""
    if len(body_ix) == 0:
        return body_ix.copy()
    bx0, bx1, by0, by1 = x0[body_ix], x1[body_ix], y0[body_ix], y1[body_ix]
    bcx, bcy = cx[body_ix], cy[body_ix]
    boff = off[body_ix]

    # band splitters (D2, two-pass per-band analysis)
    band_gutters: dict = {}
    splitters = find_splitters(bx0, bx1, by0, by1, hseps, W, H,
                               main_lo, main_hi,
                               vseps=vsep_boxes, vsep_cx=vsep_cx,
                               band_gutters_out=band_gutters,
                               line_gutters=body_gutters)

    # D4: boxes per band, columns left->right (RTL flips, :1522-1524,1866-1879).
    # Per-column recursion (utils/__init__.py:1794-1864): a PARTIAL-width
    # horizontal separator (spanning some but not all of a band's columns)
    # splits exactly the columns it covers into top/bottom sub-boxes; the
    # final box order (y0, then x) reproduces the reference walk's
    # emission order — each separator's sub-boxes follow every box whose
    # top edge sits above it (e.g. 2 cols, separator under col 1 only:
    # col1-above, col2-full, col1-below).
    band_id, order, bstart = _by_band(splitters, bcy)
    # Collision-free cell keys: bands take ids [0, n_bands); each cut
    # column claims a fresh contiguous block of len(cuts)+1 ids above
    # that, so no cell can alias another band's or column's cells no
    # matter how many cuts/columns a pathological page has.
    cell_id = band_id.astype(np.int64)  # refined below at cuts
    next_cell = max(len(splitters) - 1, 1)
    bands = (bstart[1:] > bstart[:-1]).nonzero()[0].tolist()
    # gutters of the bands find_splitters did not analyse, in one batch
    todo = [k for k in bands if (splitters[k], splitters[k + 1]) not in band_gutters]
    if todo:
        rows = np.concatenate([order[bstart[k]:bstart[k + 1]] for k in todo])
        gs = gutter_sets(bx0[rows], bx1[rows], by0[rows], by1[rows],
                         np.concatenate(([0], np.diff(bstart)[todo].cumsum())), W,
                         [_band_vseps(vsep_cx, vsep_boxes, splitters[k], splitters[k + 1])
                          for k in todo])
        for k, g in zip(todo, gs):
            band_gutters[(splitters[k], splitters[k + 1])] = g
    boxes = []  # (bx0, bx1, by0, by1)
    for k in bands:
        lo, hi = splitters[k], splitters[k + 1]
        g = band_gutters[(lo, hi)]
        idx = order[bstart[k]:bstart[k + 1]]
        bbx0, bbx1 = bx0[idx], bx1[idx]
        bby0, bby1, bbcy = by0[idx], by1[idx], bcy[idx]
        ex0, ex1 = float(bbx0.min()), float(bbx1.max())
        edges = [ex0] + [x for x in g if ex0 < x < ex1] + [ex1]
        cols = list(zip(edges[:-1], edges[1:]))
        if rtl:
            cols = cols[::-1]
        n_cols = len(cols)
        for cxa, cxb in cols:
            colw = max(cxb - cxa, 1.0)
            cuts = []
            if n_cols > 1:
                # separators covering this column's middle half, strictly
                # inside the band (full-main-width ones already became
                # band splitters in find_splitters pass 1)
                cuts = sorted({
                    float((sy0 + sy1) / 2.0) for (sx0, sx1, sy0, sy1) in hseps
                    if lo + 2.0 < (sy0 + sy1) / 2.0 < hi - 2.0
                    and sx0 <= cxa + 0.25 * colw and sx1 >= cxb - 0.25 * colw
                })
                # vertical dedup (utils/__init__.py:36-161): double-rule
                # separators print as two parallel lines a few px apart —
                # they are ONE reading-order cut
                if len(cuts) > 1:
                    dd = [cuts[0]]
                    for y in cuts[1:]:
                        if y - dd[-1] > 8.0:
                            dd.append(y)
                    cuts = dd
            ys = [lo] + cuts + [hi]
            for ya, yb in zip(ys[:-1], ys[1:]):
                xa, xb = cxa, cxb
                if cuts:
                    # D4 get_span refinement: a sub-box of a cut column
                    # advances past following columns its content spans
                    if rtl:
                        xa = _extend_box_span(edges, cxa, ya, yb,
                                              bbx0, bbx1, bby0, bby1, bbcy, True)
                    else:
                        xb = _extend_box_span(edges, cxb, ya, yb,
                                              bbx0, bbx1, bby0, bby1, bbcy, False)
                boxes.append((xa, xb, ya, yb))
            if cuts:
                # lines in a cut column get their own clustering cell per
                # sub-interval so a region never merges across a separator
                # (the reference's region model treats the rule as a hard
                # region boundary); cut-less columns keep the band cell.
                in_col = (band_id == k) & (bcx >= cxa) & (bcx <= cxb)
                cell_id[in_col] = (next_cell
                                   + np.searchsorted(np.asarray(cuts), bcy[in_col]))
                next_cell += len(cuts) + 1
    if not boxes:
        boxes = [(0.0, W, 0.0, H)]
    barr = np.array(boxes)
    okey = np.lexsort(((-barr[:, 0] if rtl else barr[:, 0]), barr[:, 2]))
    barr = barr[okey]
    bcenx, bceny = (barr[:, 0] + barr[:, 1]) / 2.0, (barr[:, 2] + barr[:, 3]) / 2.0

    # regions from lines (C16 inverse), band/cell-aware
    labels = cluster_lines_into_regions(bx0, bx1, by0, by1, band=cell_id, rtl=rtl)
    uniq, gorder, gstarts = _group_by_label(labels)
    rx0 = _group_minmax(bx0, gorder, gstarts, "min")
    rx1 = _group_minmax(bx1, gorder, gstarts, "max")
    ry0 = _group_minmax(by0, gorder, gstarts, "min")
    ry1 = _group_minmax(by1, gorder, gstarts, "max")
    roff = _group_minmax(boff, gorder, gstarts, "min")
    rcx, rcy = (rx0 + rx1) / 2.0, (ry0 + ry1) / 2.0

    # D5: assign each region to a box. Strict containment takes the FIRST
    # box in emission order (the reference's match_boxes breaks on the
    # first containing box, eynollah.py:1166-1179 — matters when get_span
    # widened boxes overlap full-height column boxes); fallback is the
    # nearest center among center-containing boxes (:1181-1187).
    # (vectorized R x B: argmax picks the FIRST containing box; the
    # center-containment fallback masks non-candidates to +inf so argmin
    # keeps the original among-candidates / lowest-index tie-break)
    strict = ((barr[None, :, 0] <= rx0[:, None]) & (barr[None, :, 1] >= rx1[:, None])
              & (barr[None, :, 2] <= ry0[:, None]) & (barr[None, :, 3] >= ry1[:, None]))
    has_strict = strict.any(axis=1)
    box_of = np.zeros(len(uniq), dtype=np.int64)
    if has_strict.any():
        box_of[has_strict] = np.argmax(strict[has_strict], axis=1)
    rest = (~has_strict).nonzero()[0]
    if len(rest):
        centc = ((barr[None, :, 0] <= rcx[rest, None]) & (barr[None, :, 1] > rcx[rest, None])
                 & (barr[None, :, 2] <= rcy[rest, None]) & (barr[None, :, 3] > rcy[rest, None]))
        d = ((bcenx[None, :] - rcx[rest, None]) ** 2
             + (bceny[None, :] - rcy[rest, None]) ** 2)
        mask = ~centc & centc.any(axis=1)[:, None]
        d[mask] = np.inf
        box_of[rest] = np.argmin(d, axis=1)

    # D6 within box: row-cluster region centers, sort rows top-down, cx in row
    order_regions = []  # list of region indices in final order
    by_box = box_of.argsort(kind="stable")
    ends = np.bincount(box_of, minlength=len(barr)).cumsum().tolist()
    for a, b in zip([0] + ends[:-1], ends):
        rs = by_box[a:b]  # the box's regions, ascending
        if b - a <= 1:
            order_regions.extend(rs.tolist())
            continue
        heights = ry1[rs] - ry0[rs]
        thr = max(8.0, _ROW_THR_FRAC * _med(heights))
        rows = _row_cluster(rcy[rs], thr)
        xkey = -rcx[rs] if rtl else rcx[rs]
        order_regions.extend(rs[np.lexsort((roff[rs], rcy[rs], xkey, rows))].tolist())

    # D1 within each region, concatenate (members come from the grouping
    # scaffold — stable sort keeps them in original index order, exactly
    # what the per-region flatnonzero rescan produced)
    gs = gstarts.tolist()
    out = []
    for r in order_regions:
        members = gorder[gs[r]:gs[r + 1]]
        if len(members) > 1:
            members = members[order_lines_in_region(bcx[members], bcy[members],
                                                    rtl, boff[members])]
        out.extend(members.tolist())
    return body_ix[out]
