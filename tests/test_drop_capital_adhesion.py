"""C14 drop-capital adhesion (utils/drop_capitals.py:11-501 semantics,
span domain): a drop capital must end up ordered immediately BEFORE its
paragraph's first line (VERDICT r1 item 6)."""

from page_helpers import GENERATED_PAGES, generated_page_xml, reference_page
from pyspark.sql import functions as F

from eynollah_spark.fixtures import parse_pagexml_string
from eynollah_spark.pipeline import extract_flat_input
from eynollah_spark.scorer import adhere_drop_capitals, refine_kinds

_DDL = ("doc_id string, width int, height int, rtl boolean, "
        "kind string, text string, media_ref string, offset int, "
        "x0 double, x1 double, y0 double, y1 double")


def _flat_df(spark, doc_id, width, height, spans):
    rows = [
        {"doc_id": doc_id, "width": width, "height": height, "rtl": False,
         "kind": k, "text": t, "media_ref": m, "offset": o,
         "x0": float(x0), "x1": float(x1), "y0": float(y0), "y1": float(y1)}
        for (k, t, m, o, x0, x1, y0, y1) in spans
    ]
    return spark.createDataFrame(rows, schema=_DDL)


def _run(spark, doc_id, width, height, spans):
    rows = extract_flat_input(_flat_df(spark, doc_id, width, height, spans), partitions=2)
    refined = refine_kinds(rows)
    return adhere_drop_capitals(refined)


def test_operator_moves_misordered_cap(spark):
    """Pure operator semantics: a drop-capital placed at the END of the
    ordered sequence must move immediately before the first line that
    overlaps it vertically and starts at-or-right of it."""
    rows = [
        # already-ordered paragraph (ord 0..4), first 2 lines indented
        {"doc_id": "d", "ord": i, "kind": "text", "text": f"l{i}",
         "media_ref": None, "offset": i, "width": 1000, "height": 1400,
         "x0": 260.0 if i < 2 else 200.0, "x1": 620.0,
         "y0": 100.0 + 40 * i, "y1": 130.0 + 40 * i}
        for i in range(5)
    ]
    # cap misordered to the tail (ord 5), spans rows 0-1
    rows.append({"doc_id": "d", "ord": 5, "kind": "drop-capital", "text": "D",
                 "media_ref": None, "offset": 99, "width": 1000, "height": 1400,
                 "x0": 200.0, "x1": 250.0, "y0": 100.0, "y1": 180.0})
    df = spark.createDataFrame(
        rows, schema=("doc_id string, ord int, kind string, text string, "
                      "media_ref string, offset int, width int, height int, "
                      "x0 double, x1 double, y0 double, y1 double"))
    final = adhere_drop_capitals(df).orderBy("ord").collect()
    assert [r["offset"] for r in final] == [99, 0, 1, 2, 3, 4]
    assert [r["ord"] for r in final] == list(range(6))


def test_pipeline_cap_before_first_line(spark):
    """End-to-end: extract -> refine (cap classified by geometry) ->
    adhere; the cap lands directly before its paragraph's first line."""
    spans = [
        ("text", f"line{i}", None, i,
         260 if i < 3 else 200, 620, 100 + 40 * i, 130 + 40 * i)
        for i in range(8)
    ]
    spans.append(("text", "D", None, 99, 200, 250, 100, 220))
    final = _run(spark, "dc1", 1000, 1400, spans).orderBy("ord").collect()
    by_off = {r["offset"]: r for r in final}
    assert by_off[99]["kind"] == "drop-capital"
    assert by_off[99]["ord"] == by_off[0]["ord"] - 1  # directly before line0
    # paragraph lines keep their relative order
    ords = [by_off[i]["ord"] for i in range(8)]
    assert ords == sorted(ords)


def _assert_planted_cap_adheres(spark, doc, first):
    """Plant a cap left of ``first`` (an entry of doc.expected), three of
    its line heights tall, and require it to adhere directly before that
    line."""
    target = next(s for s in doc.spans if s[3] == first[3])
    _k, _t, _m, off, x0, x1, y0, y1 = target
    h = y1 - y0
    cap = ("text", "W", None, 9999, x0 - 40, x0 - 5, y0, y0 + 3 * h)
    final = _run(spark, doc.doc_id, doc.width, doc.height,
                 list(doc.spans) + [cap]).orderBy("ord").collect()
    by_off = {r["offset"]: r for r in final}
    cap_row = by_off[9999]
    tgt_row = by_off[off]
    assert cap_row["kind"] == "drop-capital"
    assert cap_row["ord"] == tgt_row["ord"] - 1


def test_kant_with_planted_cap(spark):
    """Plant a cap on the reference kant page at the first body line and
    require it to adhere directly before that line."""
    doc = reference_page("kant_0020")
    _assert_planted_cap_adheres(spark, doc, next(s for s in doc.expected))


def test_kant_with_planted_cap_generated(spark):
    """The same on a generated two-column page with marginalia: the cap
    goes on the first body (non-marginalia) line."""
    doc_id, xml = generated_page_xml(GENERATED_PAGES[0])
    doc = parse_pagexml_string(xml, doc_id)
    _assert_planted_cap_adheres(spark, doc, next(s for s in doc.expected if s[0] == "text"))


def test_no_caps_is_identity(spark):
    spans = [
        ("text", f"line{i}", None, i, 200, 620, 100 + 40 * i, 130 + 40 * i)
        for i in range(5)
    ]
    rows = extract_flat_input(_flat_df(spark, "nd", 1000, 1400, spans), partitions=2).cache()
    moved = adhere_drop_capitals(rows)
    a = [(r["ord"], r["offset"]) for r in rows.orderBy("ord").collect()]
    b = [(r["ord"], r["offset"]) for r in moved.orderBy("ord").collect()]
    assert a == b
    rows.unpersist()
