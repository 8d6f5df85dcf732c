"""Oracle-by-construction gate: the generator lays documents out in
reading order and presents spans shuffled; the kernel must recover the
exact sequence from geometry alone (FIXTURES.md §4)."""

import numpy as np
import pytest
from page_helpers import corpus_page, reading_order

from eynollah_spark.corpus import gen_doc


def run_doc(d):
    doc, arrs = corpus_page(d)
    perm, kinds = reading_order(doc)
    return arrs, perm, kinds, doc.n


# one doc per archetype bucket boundary + rtl + degenerate
@pytest.mark.parametrize("d", [0, 7, 39, 40, 47, 64, 65, 70, 74, 75, 80, 84,
                               85, 90, 92, 93, 97, 98, 99, 198, 199])
def test_archetype_doc_recovers_reading_order(d):
    arrs, perm, kinds, n = run_doc(d)
    assert (arrs["expected_rank"][perm] == np.arange(n)).all()
    assert all(kinds[p] == arrs["expected_kind"][i] for p, i in enumerate(perm))


def test_corpus_sweep_200():
    bad = []
    for d in range(200):
        arrs, perm, kinds, n = run_doc(d)
        ok = (arrs["expected_rank"][perm] == np.arange(n)).all() and all(
            kinds[p] == arrs["expected_kind"][i] for p, i in enumerate(perm)
        )
        if not ok:
            bad.append(d)
    assert bad == []


def test_generator_deterministic():
    a1, m1 = gen_doc(123)
    a2, m2 = gen_doc(123)
    assert m1 == m2
    assert (a1["expected_rank"] == a2["expected_rank"]).all()
    assert list(a1["text"]) == list(a2["text"])


def test_corpus_sweep_fresh_range():
    """Sweep an index range the tuning never looked at (regression net for
    the doc-2277 class of bug: band-local vs page-level column structure)."""
    bad = []
    for d in range(2200, 2400):
        arrs, perm, kinds, n = run_doc(d)
        ok = (arrs["expected_rank"][perm] == np.arange(n)).all() and all(
            kinds[p] == arrs["expected_kind"][i] for p, i in enumerate(perm)
        )
        if not ok:
            bad.append(d)
    assert bad == []
