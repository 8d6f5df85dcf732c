"""Boundary-robustness margins (r2 VERDICT item 7): the euler fixture was
found 3-7 px from a column-count flip in r1. This test measures, per
reference fixture, the largest per-coordinate integer jitter amplitude at
which the output span sequence is still invariant, records the margins in
a JSON artifact, and fails if any fixture is knife-edge (< 1 px)."""

import json
import os

import numpy as np
import pytest
from page_helpers import corpus_page, reading_order, reference_page, require_reference_pages

from eynollah_spark.fixtures import FIXTURE_FILES
from eynollah_spark.kernels.layout import DocSpans

ART = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   ".cache", "fixture_margins.json")
AMPLITUDES = (1, 2, 3, 4, 6, 8)
SAMPLES = 5


def _arrays(doc):
    arr = lambda i, dt=object: np.array([s[i] for s in doc.spans], dtype=dt)
    return dict(
        kind=arr(0), text=arr(1), media_ref=arr(2), offset=arr(3, np.int64),
        x0=arr(4, float), x1=arr(5, float), y0=arr(6, float), y1=arr(7, float),
        width=doc.width, height=doc.height)


def _sequence(a):
    d = DocSpans(**a)
    perm, kinds = reading_order(d)
    return [(kinds[p], a["text"][i], int(a["offset"][i]))
            for p, i in enumerate(perm)]


def _jitter(a, amp, seed):
    rng = np.random.default_rng(seed)
    out = dict(a)
    for k in ("x0", "x1", "y0", "y1"):
        out[k] = a[k] + rng.integers(-amp, amp + 1, size=len(a[k]))
    # keep boxes valid (x0 <= x1, y0 <= y1)
    out["x0"], out["x1"] = (np.minimum(out["x0"], out["x1"]),
                            np.maximum(out["x0"], out["x1"]))
    out["y0"], out["y1"] = (np.minimum(out["y0"], out["y1"]),
                            np.maximum(out["y0"], out["y1"]))
    return out


def _margin(doc_id):
    a = _arrays(reference_page(doc_id))
    base = _sequence(a)
    margin = 0
    for amp in AMPLITUDES:
        ok = all(_sequence(_jitter(a, amp, 1000 * amp + s)) == base
                 for s in range(SAMPLES))
        if not ok:
            break
        margin = amp
    return margin


def test_fixture_margins_recorded_and_not_knife_edge():
    require_reference_pages()
    margins = {doc_id: _margin(doc_id) for doc_id in FIXTURE_FILES}
    os.makedirs(os.path.dirname(ART), exist_ok=True)
    with open(ART, "w") as f:
        json.dump({"amplitudes_tested": list(AMPLITUDES),
                   "samples_per_amplitude": SAMPLES,
                   "margins_px": margins}, f, indent=1)
    # every fixture must tolerate at least ±1 px of per-coordinate jitter;
    # a 0 margin means a silent knife-edge (an r1 finding on euler)
    assert all(m >= 1 for m in margins.values()), margins


@pytest.mark.parametrize("doc_id", list(FIXTURE_FILES))
def test_small_jitter_invariance(doc_id):
    """±1 px jitter never changes the output sequence — the hard floor."""
    a = _arrays(reference_page(doc_id))
    base = _sequence(a)
    for s in range(SAMPLES):
        assert _sequence(_jitter(a, 1, 77 + s)) == base


@pytest.mark.parametrize("doc_index", [0, 3, 7, 40, 66, 80])
def test_small_jitter_invariance_generated(doc_index):
    """The same floor on generated text pages: single column, its
    skewed and RTL variants, two columns, columns + marginalia and
    multi-column bands (corpus.py archetypes). Media pages are not
    among them: D8 orders the media tail by exact center (cy, cx), as
    the reference's writer does, so ±1 px moves images that share a
    row past each other."""
    d, _ = corpus_page(doc_index)
    a = {k: getattr(d, k) for k in ("kind", "text", "media_ref", "offset", "x0", "x1",
                                    "y0", "y1", "width", "height", "rtl")}
    base = _sequence(a)
    for s in range(SAMPLES):
        assert _sequence(_jitter(a, 1, 77 + s)) == base
