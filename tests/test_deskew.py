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


def test_emitted_deskew_angles_are_the_kernels_rotation(spark):
    """extract_flat_input's angle_deg is, document by document, the angle
    the layout kernel's page stage applies: rotating a page by it
    reproduces analyze_pages' deskewed geometry bit for bit, and a page
    at angle 0 (or without text lines) keeps its geometry. Over 200
    generated pages, some with a planted skew, and single-column pages
    rotated by less than MIN_ROTATION_DEG, whose estimate the gate
    zeroes, and by more."""
    from pyspark.sql import functions as F

    from page_helpers import corpus_page

    from eynollah_spark.corpus import corpus_flat_spark
    from eynollah_spark.kernels.deskew import MIN_ROTATION_DEG, estimate_skews
    from eynollah_spark.kernels.layout import DocSpans, analyze_pages, span_table
    from eynollah_spark.pipeline import extract_flat_input

    tilted = []
    for k, theta in enumerate((0.4, 0.6, -0.5, 0.8, 2.8)):
        x0, x1, y0, y1 = rotate_boxes(*_column(), theta, 700, 1000)
        tilted.append((f"tilted{k}", DocSpans(
            kind=np.full(len(x0), "text", dtype=object),
            text=np.full(len(x0), None, dtype=object),
            media_ref=np.full(len(x0), None, dtype=object),
            offset=np.arange(len(x0)), x0=x0, x1=x1, y0=y0, y1=y1,
            width=1400, height=2000)))
    raw = [estimate_skews((d.x0 + d.x1) / 2.0, (d.y0 + d.y1) / 2.0, d.x1 - d.x0,
                          d.y1 - d.y0, [0, d.n], [1400], [2000])[0] for _, d in tilted]
    assert any(0 < abs(a) < MIN_ROTATION_DEG for a in raw), raw
    assert any(abs(a) >= MIN_ROTATION_DEG for a in raw), raw
    geom = spark.createDataFrame(
        [(i, 1400, 2000, False, "text", None, None, int(o), *map(float, v))
         for i, d in tilted for o, *v in zip(d.offset, d.x0, d.x1, d.y0, d.y1)],
        "doc_id string, width int, height int, rtl boolean, kind string, text string, "
        "media_ref string, offset int, x0 double, x1 double, y0 double, y1 double")
    flat = corpus_flat_spark(spark, 200, partitions=4).filter(F.col("offset") >= 0)
    angles = {r["doc_id"]: r["angle_deg"]
              for frame in (flat, geom)
              for r in extract_flat_input(frame).select("doc_id", "angle_deg")
              .distinct().collect()}
    assert sum(a != 0.0 for a in angles.values()) >= 5
    docs = [(f"doc{i:08d}", d) for i in range(200)
            for d in [corpus_page(i)[0]] if d.n] + tilted
    assert len(angles) == len(docs)
    spans = span_table([d for _, d in docs])
    pages = analyze_pages(spans)
    for d, (doc_id, _) in enumerate(docs):
        s, e = spans.bounds[d], spans.bounds[d + 1]
        box = tuple(v[s:e] for v in (spans.x0, spans.x1, spans.y0, spans.y1))
        a = angles[doc_id]
        if a != 0.0:
            box = rotate_boxes(*box, a, spans.W[d] / 2.0, spans.H[d] / 2.0)
        for want, got in zip(box, (pages.x0, pages.x1, pages.y0, pages.y1)):
            assert np.array_equal(got[s:e], want), (doc_id, a)
