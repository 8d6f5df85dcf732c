"""Unit tests for D2/D3/D4 splitter machinery."""

import numpy as np

from eynollah_spark.kernels.layout import _merge_vseps, _spanning, find_splitters


def test_merge_vertical_separators_unions_double_rules():
    """Near-duplicate parallel rules (double-line separators) collapse
    into one separator with the union of their y-extents
    (utils/__init__.py:1337-1349); one page here, two below."""
    seg = np.zeros(3, dtype=np.int64)
    cx = np.array([647.0, 658.0, 1200.0])
    y0, y1 = np.array([300.0, 320.0, 100.0]), np.array([520.0, 560.0, 900.0])
    mseg, mcx, my0, my1 = _merge_vseps(seg, cx, y0, y1, [1300])
    assert mseg.tolist() == [0, 0] and len(mcx) == 2
    assert list(zip(my0, my1)) == [(300.0, 560.0), (100.0, 900.0)]
    # the same rules on two pages: no merge across pages
    mseg, mcx, _, _ = _merge_vseps(np.array([0, 1, 1]), cx, y0, y1, [1300, 1300])
    assert mseg.tolist() == [0, 1, 1] and mcx.tolist() == cx.tolist()


def test_spanning_lines_requires_margin_both_sides():
    tx0 = np.array([100.0, 620.0, 100.0, 620.0, 100.0])
    tx1 = np.array([1100.0, 680.0, 640.0, 1100.0, 690.0])
    # one band, gutter at 650, width 1300 -> margin 52
    got = _spanning(tx0, tx1, np.zeros(5, dtype=np.int64), np.array([650.0]),
                    np.array([0, 1]), np.full(5, 1300.0))
    assert got.tolist() == [0]


def test_full_width_hsep_becomes_splitter():
    tx0 = np.full(10, 100.0)
    tx1 = np.full(10, 1100.0)
    ty0 = np.arange(10) * 50.0 + 50
    ty1 = ty0 + 30
    ys = find_splitters(tx0, tx1, ty0, ty1,
                        hseps=[(120.0, 1080.0, 290.0, 296.0)],
                        width=1200, height=1000,
                        main_lo=100.0, main_hi=1100.0)
    assert any(abs(y - 293.0) < 1.0 for y in ys)
    # narrow separator does not split
    ys2 = find_splitters(tx0, tx1, ty0, ty1,
                         hseps=[(500.0, 700.0, 290.0, 296.0)],
                         width=1200, height=1000,
                         main_lo=100.0, main_hi=1100.0)
    assert not any(abs(y - 293.0) < 1.0 for y in ys2)


def test_vsep_edge_splitter_straddle_guard():
    # a line centered on the candidate splitter suppresses it
    tx0 = np.full(6, 100.0)
    tx1 = np.full(6, 500.0)
    ty0 = np.arange(6) * 100.0
    ty1 = ty0 + 60
    ys = find_splitters(tx0, tx1, ty0, ty1, hseps=[],
                        width=1300, height=800,
                        main_lo=100.0, main_hi=1200.0,
                        vseps=[(230.0, 700.0)], vsep_cx=[650.0])
    # vsep top at 230 cuts line 2 (200-260) through the middle -> dropped
    assert not any(229 < y < 231 for y in ys)
    # vsep bottom at 700 falls in the gap between lines -> kept
    assert any(699 < y < 702 for y in ys)
