"""Helpers for the tests that run the layout kernel on single pages.

The reference's ground-truth PAGE-XML pages (eynollah_spark.fixtures
FIXTURE_FILES) are test resources of the reference checkout. Where a page
is absent, every case that reads it is skipped, and the skip names the
missing file; where the pages are present, those cases run unchanged.
Generated pages (corpus.gen_doc) stand in for them where a test needs a
page on every box.
"""

import os

import numpy as np
import pytest

from eynollah_spark.fixtures import FIXTURE_FILES, load_fixture
from eynollah_spark.kernels.layout import KIND_MARGINALIA, DocSpans, layout_permutation


def require_reference_pages(*doc_ids):
    """Skip the calling test unless the reference pages ``doc_ids`` (all
    of them if none are named) are present."""
    for doc_id in doc_ids or FIXTURE_FILES:
        path = FIXTURE_FILES[doc_id]
        if not os.path.exists(path):
            pytest.skip(f"reference page {path} is absent")


def reference_page(doc_id):
    """load_fixture(doc_id), skipping the calling test if its page is
    absent."""
    require_reference_pages(doc_id)
    return load_fixture(doc_id)


def corpus_page(doc_index, seed=42):
    """Generated document ``doc_index`` (corpus.gen_doc) as DocSpans, and
    its generator arrays (expected_rank / expected_kind)."""
    from eynollah_spark.corpus import gen_doc

    a, m = gen_doc(doc_index, seed)
    return DocSpans(
        kind=a["kind"], text=a["text"], media_ref=a["media_ref"], offset=a["offset"],
        x0=a["x0"].astype(float), x1=a["x1"].astype(float),
        y0=a["y0"].astype(float), y1=a["y1"].astype(float),
        width=m["width"], height=m["height"], rtl=m["rtl"]), a


def reading_order(doc: DocSpans):
    """layout_permutation(doc) as (perm, kinds): the spans in reading
    order and the kind of each output position, marginalia refined."""
    perm, marg = layout_permutation(doc)
    kinds = np.asarray(doc.kind, dtype=object)[perm]
    kinds[marg] = KIND_MARGINALIA
    return perm, kinds


#: generated pages written as PAGE-XML: the non-RTL two-column page with
#: marginalia, multi-band and media-interleaved archetypes of
#: corpus.gen_doc (doc_index % 100 in 65-74, 75-84 and 85-92)
GENERATED_PAGES = (70, 80, 90)


def _in_generator_order(doc_index, seed):
    from eynollah_spark.corpus import gen_doc

    a, m = gen_doc(doc_index, seed)
    o = np.argsort(a["expected_rank"])
    return {k: v[o] for k, v in a.items()}, m


def generated_page_xml(doc_index, seed=42):
    """Generated document ``doc_index`` as (doc_id, PAGE-XML string)
    written by pagexml.doc_to_pagexml with its spans in the generator's
    reading order and kinds: a page whose ground-truth order is the
    generator order."""
    from eynollah_spark.pagexml import doc_to_pagexml

    a, m = _in_generator_order(doc_index, seed)
    return m["doc_id"], doc_to_pagexml(
        m["doc_id"], m["width"], m["height"], a["expected_kind"], a["text"],
        a["media_ref"], a["offset"], a["x0"], a["x1"], a["y0"], a["y1"])


def generator_order(doc_index, seed=42):
    """(kind, text) of generated document ``doc_index`` in reading order."""
    a, _ = _in_generator_order(doc_index, seed)
    return list(zip(a["expected_kind"], a["text"]))
