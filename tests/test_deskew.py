"""C6 deskew kernel tests (estimate via column-edge alignment sharpness)."""

import numpy as np

from eynollah_spark.kernels.deskew import estimate_skew, rotate_boxes


def _column(n=30, x0=300.0, w=800.0, lh=28.0, pitch=40.0, y_start=150.0):
    y0 = y_start + np.arange(n) * pitch
    widths = np.full(n, w)
    widths[::7] = w * 0.6  # paragraph-final short lines
    return x0 * np.ones(n), x0 + widths, y0, y0 + lh


def test_straight_page_estimates_zero():
    x0, x1, y0, y1 = _column()
    cx, cy = (x0 + x1) / 2, (y0 + y1) / 2
    a = estimate_skew(cx, cy, x1 - x0, y1 - y0, 1400, 2000)
    assert a == 0.0


def test_skewed_page_recovered_and_inverse():
    x0, x1, y0, y1 = _column()
    for theta in (-3.2, -1.1, 1.4, 2.8):
        rx0, rx1, ry0, ry1 = rotate_boxes(x0, x1, y0, y1, theta, 700, 1000)
        cx, cy = (rx0 + rx1) / 2, (ry0 + ry1) / 2
        a = estimate_skew(cx, cy, rx1 - rx0, ry1 - ry0, 1400, 2000)
        # applying rotate_boxes(a) must restore edge alignment
        bx0, _, _, _ = rotate_boxes(rx0, rx1, ry0, ry1, a, 700, 1000)
        long = (x1 - x0) > 700
        assert np.ptp(bx0[long]) <= 4.0, (theta, a)


def test_sparse_page_never_invents_skew():
    # few identical lines: flat score surface -> stay at zero
    x0, x1, y0, y1 = _column(n=8)
    cx, cy = (x0 + x1) / 2, (y0 + y1) / 2
    assert estimate_skew(cx, cy, x1 - x0, y1 - y0, 1400, 2000) == 0.0


def test_batched_scores_equal_single_page_scores():
    """_score_angles over a batch of pages scores every page exactly as
    it scores that page alone, for the shared coarse grid and for
    per-page fine grids, on rotated (fractional) geometry too."""
    from eynollah_spark.kernels.deskew import _score_angles

    rng = np.random.default_rng(3)
    pages = []
    for k in range(12):
        x0, x1, y0, y1 = _column(n=20 + k, x0=200.0 + 10 * k)
        if k % 3 == 0:
            x0, x1, y0, y1 = rotate_boxes(x0, x1, y0, y1, 2.5 - k / 4, 700, 1000)
        pages.append(((x0 + x1) / 2, (y0 + y1) / 2, np.maximum(x1 - x0, 1.0),
                      np.maximum(y1 - y0, 1.0)))
    n = np.array([len(p[0]) for p in pages])
    bounds = np.concatenate(([0], np.cumsum(n)))
    seg = np.repeat(np.arange(len(pages)), n)
    cx, cy, w, h = (np.concatenate([p[i] for p in pages]) for i in range(4))
    bin_w = rng.uniform(4.0, 12.0, len(pages))
    ox, oy = np.full(len(pages), 700.0), np.full(len(pages), 1000.0)
    coarse = np.deg2rad(np.arange(-6.0, 6.0 + 1e-9, 0.5))
    fine = rng.uniform(-0.1, 0.1, (len(pages), 11))
    for angles in (coarse, fine):
        got = _score_angles(cx, cy, w, h, seg, bounds, angles, bin_w, ox, oy)
        for k, p in enumerate(pages):
            one = _score_angles(*p, np.zeros(n[k], dtype=np.int64),
                                np.array([0, n[k]]),
                                angles if angles.ndim == 1 else angles[k:k + 1],
                                bin_w[k:k + 1], ox[k:k + 1], oy[k:k + 1])
            assert np.array_equal(got[k], one[0])
