"""C9 closure (VERDICT r3 item 8): the PAGE-XML sink's coordinate-frame
option. extract_flat_input's angle_deg must recover the generator's
planted skew, rotate_geometry must map original->deskewed frame with
pure column math, and the inverse rotation must round-trip back to the
original coordinates within 1 px."""

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def skewed_flat(spark):
    from eynollah_spark.corpus import corpus_flat_spark

    # bucket < 40 docs with doc_index % 5 == 3 carry planted skew
    # (1.2-4.0 deg); 200 docs yields a handful of them
    return (corpus_flat_spark(spark, 200, partitions=4)
            .drop("expected_kind", "expected_rank")
            .filter(F.col("offset") >= 0)
            .cache())


@pytest.fixture(scope="module")
def extracted(skewed_flat):
    from eynollah_spark.pipeline import extract_flat_input

    return extract_flat_input(skewed_flat).cache()


def _skewed_docs(extracted):
    return {r["doc_id"] for r in
            extracted.filter(F.col("angle_deg") != 0).select("doc_id").distinct().collect()}


def test_deskew_angles_recover_planted_skew(extracted):
    rows = {r["doc_id"]: r["angle_deg"]
            for r in extracted.select("doc_id", "angle_deg").distinct().collect()}
    est = {d: a for d, a in rows.items() if a != 0.0}
    # the generator plants skew on ~1 in 10 of the first 200 docs
    assert len(est) >= 5, est
    # each detected angle is in the planted magnitude band
    for d, a in est.items():
        assert 0.75 <= abs(a) <= 5.0, (d, a)


def test_rotate_geometry_roundtrip_within_1px(skewed_flat, extracted):
    from eynollah_spark.pagexml import rotate_geometry

    skewed_docs = _skewed_docs(extracted)
    assert skewed_docs
    rows = extracted.select("doc_id", "offset", "width", "height",
                            "x0", "x1", "y0", "y1", "angle_deg")
    fwd = rotate_geometry(rows)
    back = rotate_geometry(fwd, inverse=True)
    j = (skewed_flat.select("doc_id", "offset",
                            *[F.col(c).alias(f"o_{c}") for c in ("x0", "x1", "y0", "y1")])
         .join(back, ["doc_id", "offset"]))
    worst = j.select(F.max(F.greatest(*[
        F.abs(F.col(f"o_{c}") - F.col(c)) for c in ("x0", "x1", "y0", "y1")
    ])).alias("m")).first()["m"]
    assert worst is not None and worst < 1.0, worst  # the 1 px contract
    # and the forward map actually changed the skewed docs' geometry
    moved = (rows.join(fwd.select("doc_id", "offset",
                                  F.col("x0").alias("fx0")),
                       ["doc_id", "offset"])
             .filter(F.col("doc_id").isin(list(skewed_docs)))
             .filter(F.abs(F.col("x0") - F.col("fx0")) > 1.0).count())
    assert moved > 0


def test_deskewed_frame_sharpens_columns(extracted):
    """In the deskewed frame the text-line left edges of a skewed page
    stack into fewer distinct positions (that alignment is exactly the
    signal estimate_skew maximizes)."""
    from eynollah_spark.pagexml import rotate_geometry

    rows = extracted.filter((F.col("kind") == "text") & (F.col("angle_deg") != 0))
    assert rows.count()
    fwd = rotate_geometry(rows.select("doc_id", "offset", "width", "height",
                                      "x0", "x1", "y0", "y1", "angle_deg"))

    def x0_spread(df):
        # mean per-doc stddev of left edges, quantized to 4 px bins
        return (df.groupBy("doc_id")
                .agg(F.countDistinct(F.round(F.col("x0") / 8)).alias("nb"))
                .agg(F.avg("nb")).first()[0])

    assert x0_spread(fwd) < x0_spread(rows)


def test_page_xml_cli_coords_flag(spark, monkeypatch, capsys, tmp_path):
    import json

    import eynollah_spark.session as session_mod
    from eynollah_spark import cli as cli_mod
    from eynollah_spark.corpus import corpus_flat_spark

    class _NoStop:
        def __init__(self, s):
            self._s = s

        def stop(self):
            pass

        def __getattr__(self, n):
            return getattr(self._s, n)

    monkeypatch.setattr(session_mod, "build_session",
                        lambda **kw: _NoStop(spark))
    src = str(tmp_path / "flat.parquet")
    (corpus_flat_spark(spark, 30).drop("expected_kind", "expected_rank")
     .filter(F.col("offset") >= 0).write.mode("overwrite").parquet(src))
    for coords in ("original", "deskewed"):
        out = str(tmp_path / coords)
        cli_mod.main(["page-xml", "--input", src, "--output", out,
                      "--coords", coords])
        res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert res["ok"] and res["coords"] == coords
        import os
        assert len([f for f in os.listdir(out) if f.endswith(".xml")]) == 30
