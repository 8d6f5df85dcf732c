"""F7 processor contract: a workspace of PAGE-XML pages goes through
parse -> distributed extraction -> PAGE-XML out, and the output pages
carry the input pages' reading order span for span. The pages are the
reference's own, or generated pages whose order is the generator's."""

import os
import shutil

from page_helpers import (GENERATED_PAGES, generated_page_xml, generator_order,
                          require_reference_pages)

from eynollah_spark.fixtures import FIXTURE_FILES, parse_pagexml
from eynollah_spark.processor import SparkLayoutProcessor


def _stage_workspace(tmp_path):
    require_reference_pages()
    in_dir = tmp_path / "ws_in"
    in_dir.mkdir()
    for doc_id, path in FIXTURE_FILES.items():
        shutil.copy(path, in_dir / f"{doc_id}.xml")
    return str(in_dir)


def test_process_workspace_reproduces_reference_order(spark, tmp_path):
    in_dir = _stage_workspace(tmp_path)
    out_dir = str(tmp_path / "ws_out")
    proc = SparkLayoutProcessor(spark)
    proc.setup()
    n = proc.process_workspace(in_dir, out_dir)
    assert n == len(FIXTURE_FILES)
    for doc_id in FIXTURE_FILES:
        out_path = os.path.join(out_dir, f"{doc_id}.xml")
        assert os.path.exists(out_path)
        got = parse_pagexml(out_path, doc_id)
        # compare against the raw XML's own reference order (load_fixture
        # would add the euler synthetic table span that is not in the XML)
        want = parse_pagexml(FIXTURE_FILES[doc_id], doc_id)
        assert [(k, t) for k, t, _m, _o in got.expected] == \
               [(k, t) for k, t, _m, _o in want.expected], doc_id


def test_process_workspace_resumes(spark, tmp_path):
    """Reference semantics (eynollah.py:2074-2079): pages whose output
    exists are skipped; a second run writes nothing new."""
    in_dir = _stage_workspace(tmp_path)
    out_dir = str(tmp_path / "ws_out")
    proc = SparkLayoutProcessor(spark)
    first = proc.process_workspace(in_dir, out_dir)
    assert first == len(FIXTURE_FILES)
    again = proc.process_workspace(in_dir, out_dir)
    assert again == 0


def _stage_generated_workspace(tmp_path):
    in_dir = tmp_path / "ws_in"
    in_dir.mkdir()
    doc_ids = {}
    for i in GENERATED_PAGES:
        doc_id, xml = generated_page_xml(i)
        (in_dir / f"{doc_id}.xml").write_text(xml)
        doc_ids[doc_id] = i
    return str(in_dir), doc_ids


def test_process_workspace_reproduces_reference_order_generated(spark, tmp_path):
    in_dir, doc_ids = _stage_generated_workspace(tmp_path)
    out_dir = str(tmp_path / "ws_out")
    proc = SparkLayoutProcessor(spark)
    proc.setup()
    assert proc.process_workspace(in_dir, out_dir) == len(doc_ids)
    for doc_id, i in doc_ids.items():
        want = parse_pagexml(os.path.join(in_dir, f"{doc_id}.xml"), doc_id)
        got = parse_pagexml(os.path.join(out_dir, f"{doc_id}.xml"), doc_id)
        want = [(k, t) for k, t, _m, _o in want.expected]
        assert want == generator_order(i), doc_id
        assert [(k, t) for k, t, _m, _o in got.expected] == want, doc_id


def test_process_workspace_resumes_generated(spark, tmp_path):
    in_dir, doc_ids = _stage_generated_workspace(tmp_path)
    out_dir = str(tmp_path / "ws_out")
    proc = SparkLayoutProcessor(spark)
    assert proc.process_workspace(in_dir, out_dir) == len(doc_ids)
    assert proc.process_workspace(in_dir, out_dir) == 0


def test_process_workspace_resumes_a_sanitized_stem(spark, tmp_path):
    """A page whose doc_id the writer renames (x..y -> x_y-<md5 tag>) is
    written once and skipped on resume: the resume anti-join computes
    the same stem as the sink."""
    from eynollah_spark.pagexml import sanitize_stem

    in_dir = tmp_path / "ws_in"
    in_dir.mkdir()
    for name, i in (("x..y", GENERATED_PAGES[0]), ("plain", GENERATED_PAGES[1])):
        (in_dir / f"{name}.xml").write_text(generated_page_xml(i)[1])
    out_dir = str(tmp_path / "ws_out")
    proc = SparkLayoutProcessor(spark)
    assert proc.process_workspace(str(in_dir), out_dir) == 2
    assert sorted(os.listdir(out_dir)) == sorted(
        [f"{sanitize_stem('x..y')}.xml", "plain.xml"])
    assert sanitize_stem("x..y") != "x..y"
    assert proc.process_workspace(str(in_dir), out_dir) == 0


def test_process_workspace_with_scorer_equals_two_join_plan(spark, tmp_path):
    """With a scorer, process_workspace refines kinds on the extracted
    rows, which carry their own geometry. The pages it writes equal those
    of a plan that joins the input geometry to the ordered rows, refines
    kinds on the joined rows, drops the geometry and joins it again. The
    pages are generated ones the scorer relabels spans on (a text span
    that is wide and short becomes a heading)."""
    from eynollah_spark.pagexml import to_pagexml_df
    from eynollah_spark.pipeline import extract_flat_input
    from eynollah_spark.processor import parse_pagexml_distributed
    from eynollah_spark.scorer import HeuristicScorer, refine_kinds

    in_dir = tmp_path / "ws_in"
    in_dir.mkdir()
    doc_ids = []
    for i in (14, 72, 81):
        doc_id, xml = generated_page_xml(i)
        (in_dir / f"{doc_id}.xml").write_text(xml)
        doc_ids.append(doc_id)
    in_dir, out_dir = str(in_dir), str(tmp_path / "ws_out")
    scorer = HeuristicScorer()
    proc = SparkLayoutProcessor(spark, scorer=scorer)
    assert proc.process_workspace(in_dir, out_dir) == len(doc_ids)

    flat = parse_pagexml_distributed(spark, in_dir)
    geom = flat.select("doc_id", "offset", "width", "height", "x0", "x1", "y0", "y1")

    def with_geometry(rows):
        return rows.join(geom, ["doc_id", "offset"], "left")

    ordered = extract_flat_input(flat).select("doc_id", "ord", "kind", "text",
                                              "media_ref", "offset")
    refined = refine_kinds(with_geometry(ordered), scorer=scorer).select(
        *ordered.columns)
    # the join hashes on (doc_id, offset); the writer needs whole
    # documents per partition
    want = {r["doc_id"]: r["xml"] for r in
            to_pagexml_df(with_geometry(refined).repartition("doc_id")).collect()}
    plain = {r["doc_id"]: r["xml"] for r in
             to_pagexml_df(with_geometry(ordered).repartition("doc_id")).collect()}
    assert sorted(want) == sorted(doc_ids)
    assert any(want[d] != plain[d] for d in doc_ids)
    for doc_id in doc_ids:
        with open(os.path.join(out_dir, f"{doc_id}.xml")) as f:
            assert f.read() == want[doc_id], doc_id
