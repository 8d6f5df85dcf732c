"""C6 deskew-angle estimation (symbolic port).

Reference: return_deskew_slop / get_smallest_skew
(utils/separate_lines.py:1423-1470,1472-1489) — rotate the textline mask
over a grid of candidate angles and score the sharpness of the row
projection (variance of the gaussian-smoothed column sum); coarse->fine
two-stage argmax; driver run_deskew at eynollah.py:1522-1533.

Symbolically the "mask" is the set of line boxes: for every candidate
angle we rotate the line centers (vectorized over the full angle grid at
once), histogram the rotated y with width-weighted counts, and score
sharpness. A perfectly deskewed page stacks each text row into few bins
-> maximal variance.
"""

from __future__ import annotations

import numpy as np


#: text lines per _score_angles call in estimate_skews (measured best
#: between 384 and 512 on 64-document batches)
_SCORE_SPANS = 512

#: the smallest |deskew angle| in degrees that the kernel applies: a page
#: whose estimate is below it is not rotated, and its applied angle is 0
#: (analyze_pages)
MIN_ROTATION_DEG = 0.75


def _score_angles(cx, cy, w, h, seg, bounds, angles_rad, bin_w, ox, oy):
    """Column-edge alignment score per (segment, angle), vectorized over
    every span of every segment at once: a D x A matrix for D segments
    (one document's text lines each, ``bounds`` its CSR offsets, ``seg``
    the segment of each span) and A angles (``angles_rad``: (A,) shared,
    or (D, A) per segment).

    On box geometry the reliable skew signal is that the left (and
    right) edges of the lines of a column become collinear at the
    correct deskew angle — the x-projection of the edges sharpens (the
    box-domain analogue of the reference's projection-variance score,
    utils/separate_lines.py:1434-1460).

    Exact per segment whatever else shares the batch: bins start at the
    segment's own minimum edge over all its angles, one bincount keeps
    each bin's spans in their original order, and each segment's
    (A x bins) block is summed row-wise on its own.
    """
    s, c = np.sin(angles_rad), np.cos(angles_rad)
    if s.ndim == 1:
        s, c = s[:, None], c[:, None]
    else:
        s, c = s.T[:, seg], c.T[:, seg]
    xr = c * (cx - ox[seg]) + s * (cy - oy[seg])  # rotated cx, A x N
    A = xr.shape[0]
    D = len(bin_w)
    starts = bounds[:-1]
    score = np.zeros((D, A))
    half = w / 2.0
    for edge in (xr - half, xr + half):
        e0 = edge - np.minimum.reduceat(edge.min(axis=0), starts)[seg]
        bins = (e0 / bin_w[seg]).astype(np.int64)
        n_bins = np.maximum.reduceat(bins.max(axis=0), starts) + 1
        size = A * n_bins
        base = np.cumsum(size) - size
        flat = bins + (base[seg] + np.arange(A)[:, None] * n_bins[seg])
        sq = np.bincount(
            flat.ravel(), weights=np.broadcast_to(h, bins.shape).ravel(),
            minlength=int(size.sum()),
        ) ** 2
        for d, (b, nb) in enumerate(zip(base.tolist(), n_bins.tolist())):
            score[d] += sq[b:b + A * nb].reshape(A, nb).sum(axis=1)
    return score


def _spans(bounds, sel):
    """Indices of the spans of segments ``sel``, segment by segment."""
    n = bounds[sel + 1] - bounds[sel]
    return np.arange(n.sum()) + np.repeat(bounds[sel] - (np.cumsum(n) - n), n)


def _best(score, angles):
    """Per row: the angle of the highest score, ties broken toward the
    smallest |angle|, then the lowest index (flat scores on sparse pages
    must not invent a skew)."""
    top = score == score.max(axis=1, keepdims=True)
    mag = np.broadcast_to(np.abs(angles), score.shape)
    top &= mag == np.where(top, mag, np.inf).min(axis=1, keepdims=True)
    k = top.argmax(axis=1)
    r = np.arange(len(k))
    return np.broadcast_to(angles, score.shape)[r, k], score[r, k]


def estimate_skews(cx, cy, w, h, bounds, width, height,
                   max_angle_deg: float = 6.0) -> np.ndarray:
    """Deskew angle in degrees for each segment ``[bounds[d],
    bounds[d+1])`` of the span arrays (one page's text lines each; pages
    ``width``/``height`` per segment), to be applied via
    rotate_boxes(angle). Segments of fewer than 8 lines get 0.

    Two-stage search like the reference (coarse 0.5 deg over +-max, fine
    0.1 deg around the coarse argmax, separate_lines.py:1472-1489), each
    stage scored for all segments in one batch.
    """
    from eynollah_spark.kernels.layout import _seg_median

    bounds = np.asarray(bounds, dtype=np.int64)
    out = np.zeros(len(bounds) - 1)
    keep = np.flatnonzero(np.diff(bounds) >= 8)
    if len(keep) == 0:
        return out
    if len(keep) < len(out):
        take = _spans(bounds, keep)
        cx, cy, w, h = cx[take], cy[take], w[take], h[take]
        bounds = np.concatenate(([0], np.cumsum(np.diff(bounds)[keep])))
    seg = np.repeat(np.arange(len(keep)), np.diff(bounds))
    bin_w = np.maximum(3.0, _seg_median(h, seg, bounds) * 0.4)
    ox = np.asarray(width, dtype=float)[keep] / 2.0
    oy = np.asarray(height, dtype=float)[keep] / 2.0

    def score(sel, angles):
        """Scores of the segments ``sel`` (indices into ``keep``), in
        sub-batches of about _SCORE_SPANS lines: the A x N temporaries
        of a larger batch fall out of cache and cost more than the
        dispatch they save."""
        out = []
        n = np.diff(bounds)[sel]
        ends = np.cumsum(n)
        cut = np.searchsorted(ends, np.arange(_SCORE_SPANS, ends[-1], _SCORE_SPANS),
                              side="right")
        for a, b in zip([0, *cut.tolist()], [*cut.tolist(), len(sel)]):
            if a == b:
                continue
            part = sel[a:b]
            if part[-1] - part[0] == b - a - 1:
                take = slice(bounds[part[0]], bounds[part[-1] + 1])
            else:
                take = _spans(bounds, part)
            nb = n[a:b]
            ang = angles if angles.ndim == 1 else angles[a:b]
            out.append(_score_angles(cx[take], cy[take], w[take], h[take],
                                     np.repeat(np.arange(b - a), nb),
                                     np.concatenate(([0], np.cumsum(nb))), ang,
                                     bin_w[part], ox[part], oy[part]))
        return np.concatenate(out)

    coarse = np.deg2rad(np.arange(-max_angle_deg, max_angle_deg + 1e-9, 0.5))
    best, sb = _best(score(np.arange(len(keep)), coarse), coarse)
    # early exit: straight pages (the common case) — no fine pass, and the
    # zero-angle reference score is never consulted
    sel = np.flatnonzero(np.abs(best) >= 1e-9)
    if len(sel):
        s0 = score(sel, np.array([0.0]))[:, 0]
        live = sb[sel] > 1.05 * s0
        sel, s0 = sel[live], s0[live]
    if len(sel):
        fine = best[sel, None] + np.deg2rad(np.arange(-0.5, 0.5 + 1e-9, 0.1))
        bf, sf = _best(score(sel, fine), fine)
        # only claim a skew when it clearly beats the unrotated projection
        win = sf > 1.05 * s0
        out[keep[sel[win]]] = np.rad2deg(bf[win])
    return out


def estimate_skew(cx, cy, w, h, width, height, max_angle_deg: float = 6.0) -> float:
    """estimate_skews for one page."""
    return float(estimate_skews(cx, cy, w, h, [0, len(cx)], [width], [height],
                                max_angle_deg)[0])


def rotate_boxes(x0, x1, y0, y1, angle_deg, ox, oy):
    """C8 page rotation (utils/rotate.py:9-13) on symbolic boxes: rotate
    centers around (ox, oy), keep box extents."""
    a = np.deg2rad(angle_deg)
    s, c = np.sin(a), np.cos(a)
    cx = (x0 + x1) / 2.0 - ox
    cy = (y0 + y1) / 2.0 - oy
    ncx = c * cx + s * cy + ox
    ncy = -s * cx + c * cy + oy
    w2 = (x1 - x0) / 2.0
    h2 = (y1 - y0) / 2.0
    return ncx - w2, ncx + w2, ncy - h2, ncy + h2
