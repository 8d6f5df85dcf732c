"""Scorer plug-in + multimodal plumbing tests."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F


def test_heuristic_scorer_flags_wide_short_lines():
    from eynollah_spark.scorer import HeuristicScorer

    pdf = pd.DataFrame({
        "kind": ["text", "text", "image"],
        "x0": [100, 100, 0], "x1": [900, 300, 50],
        "y0": [50, 200, 0], "y1": [80, 600, 50],
        "width": [1000, 1000, 1000], "height": [2000, 2000, 2000],
    })
    s = HeuristicScorer().score_batch(pdf)
    assert s["p_heading"].iloc[0] > 0.5      # wide short line
    assert s["p_heading"].iloc[1] < 0.5      # tall block
    assert s["p_text"].iloc[2] == 0.0        # not text


def test_refine_kinds_roundtrip(spark):
    from eynollah_spark.corpus import corpus_flat_spark
    from eynollah_spark.scorer import refine_kinds

    flat = corpus_flat_spark(spark, 60).drop("expected_kind", "expected_rank")
    refined = refine_kinds(flat)
    assert refined.schema == flat.schema
    kinds = {r["kind"] for r in refined.select("kind").distinct().collect()}
    assert "heading" in kinds  # two-col titles qualify
    # only text rows were touched
    assert refined.filter(F.col("kind") == "image").count() == \
        flat.filter(F.col("kind") == "image").count()


def test_multimodal_decode_embed(spark):
    from eynollah_spark.multimodal import EMB_DIM, decode_and_embed, synth_media_table

    media = synth_media_table(spark, 48)
    dec = decode_and_embed(media).cache()
    assert dec.count() == 48
    row = dec.first()
    assert len(row["embedding"]) == EMB_DIM
    # unit-norm embeddings
    nrm = dec.select(F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda a, x: a + x).alias("n2")).agg(F.min("n2"), F.max("n2")).first()
    assert abs(nrm[0] - 1.0) < 1e-3 and abs(nrm[1] - 1.0) < 1e-3
    # deterministic across runs
    a = {r["media_ref"]: r["mean_luma"] for r in dec.collect()}
    b = {r["media_ref"]: r["mean_luma"] for r in decode_and_embed(media).collect()}
    assert a == b
    dec.unpersist()


def test_drop_capital_detection():
    from eynollah_spark.scorer import HeuristicScorer

    pdf = pd.DataFrame({
        "kind": ["text"] * 5,
        "x0": [100, 100, 100, 100, 100],
        "x1": [160, 900, 900, 900, 900],     # first is narrow+tall
        "y0": [100, 100, 140, 180, 220],
        "y1": [180, 130, 170, 210, 250],
        "width": [1000] * 5, "height": [2000] * 5,
    })
    s = HeuristicScorer().score_batch(pdf)
    assert s["p_drop_capital"].iloc[0] > 0.5
    assert (s["p_drop_capital"].iloc[1:] < 0.5).all()


def test_fill_missing_text_ocr_hook(spark):
    from eynollah_spark.corpus import corpus_flat_spark
    from eynollah_spark.scorer import fill_missing_text

    flat = corpus_flat_spark(spark, 30).drop("expected_kind", "expected_rank")
    # blank out some text
    holed = flat.withColumn(
        "text", F.when(F.col("offset") % 5 == 0, None).otherwise(F.col("text")))
    filled = fill_missing_text(holed)
    assert filled.filter((F.col("kind") == "text") & F.col("text").isNull()).count() == 0
    assert filled.filter(F.col("text").startswith("[ocr:")).count() > 0
    # non-text spans untouched
    assert filled.filter((F.col("kind") != "text") & F.col("text").isNotNull()).count() == 0


def test_numpy_mlp_scorer_batch():
    """The model-backed scorer (real matmul inference) reproduces the
    rule outcomes on clear-cut geometry (VERDICT r1 item 8)."""
    import pandas as pd

    from eynollah_spark.scorer import NumpyMLPScorer

    pdf = pd.DataFrame({
        "doc_id": ["d"] * 4,
        "kind": ["text"] * 3 + ["image"],
        "x0": [100, 100, 100, 500], "x1": [900, 400, 160, 800],
        "y0": [50, 200, 200, 900], "y1": [80, 220, 340, 1200],
        "width": [1000] * 4, "height": [1400] * 4,
    })
    out = NumpyMLPScorer().score_batch(pdf)
    assert out["p_heading"][0] >= 0.5      # wide + short -> heading
    assert out["p_text"][1] >= 0.5         # ordinary line -> text
    assert out["p_drop_capital"][2] >= 0.5  # tall + narrow -> drop capital
    assert out.iloc[3].sum() == 0.0        # non-text spans get no text probs
    # batch-composition independence: scoring rows one at a time agrees
    import pandas.testing as pdt
    one_by_one = pd.concat(
        [NumpyMLPScorer().score_batch(pdf.iloc[[i]]) for i in range(4)],
        ignore_index=True)
    pdt.assert_frame_equal(out, one_by_one)


def test_refine_kinds_with_mlp_scorer(spark):
    """refine_kinds end-to-end with the non-heuristic scorer, weights via
    spark broadcast (the real deployment shape for model weights)."""
    from eynollah_spark.corpus import corpus_flat_spark
    from eynollah_spark.scorer import NumpyMLPScorer, _mlp_default_weights, refine_kinds

    bc = spark.sparkContext.broadcast(_mlp_default_weights())
    flat = corpus_flat_spark(spark, 40).drop("expected_kind", "expected_rank")
    refined = refine_kinds(flat, scorer=NumpyMLPScorer(weights_broadcast=bc))
    kinds = {r["kind"] for r in refined.select("kind").distinct().collect()}
    assert kinds <= {"text", "heading", "drop-capital", "image", "separator", "table"}
    # only text spans were reclassified
    base = flat.filter(F.col("kind") != "text").count()
    assert refined.filter(F.col("kind").isin("image", "separator", "table")).count() == base


def test_binarize_enhance_kernels(spark):
    """B7/B8 hooks (F2/F3 CLI surfaces): deterministic batch kernels over
    the media table — real Arrow plumbing, stubbed codec."""
    from eynollah_spark.multimodal import binarize, enhance, synth_media_table

    media = synth_media_table(spark, 24).cache()
    b = binarize(media)
    rows = b.collect()
    assert len(rows) == 24
    assert all(0 <= r["fg_ratio"] <= 1 and r["threshold"] > 0 for r in rows)
    assert all(r["payload"] is not None for r in rows)
    e = enhance(media).collect()
    assert len(e) == 24
    assert all(1 <= r["num_col_hint"] <= 6 for r in e)
    assert all(0.5 < r["gamma"] < 1.5 for r in e)
    # determinism: second run bitwise-identical
    b2 = {r["media_ref"]: (r["threshold"], r["fg_ratio"]) for r in binarize(media).collect()}
    assert {r["media_ref"]: (r["threshold"], r["fg_ratio"]) for r in rows} == b2
    media.unpersist()


def test_variant_cache_decodes_once_per_unique_ref(spark):
    """A2: a media table with every ref duplicated must yield exactly 2
    variant rows per UNIQUE ref (dedup before decode), and the physical
    plan must contain exactly ONE decode stage (a union of projections
    over the decoded table would re-execute the decode subtree)."""
    from eynollah_spark.multimodal import synth_media_table, variant_cache

    media = synth_media_table(spark, 12)
    out = variant_cache(media.unionByName(media))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    rows = out.collect()
    assert len(rows) == 24  # 12 unique refs x 2 variants
    by_ref = {}
    for r in rows:
        by_ref.setdefault(r["media_ref"], []).append(r)
    for ref, vs in by_ref.items():
        assert sorted(v["variant"] for v in vs) == ["orig", "resized"]
        orig = next(v for v in vs if v["variant"] == "orig")
        res = next(v for v in vs if v["variant"] == "resized")
        assert res["width"] == 2000
        assert res["height"] == 2000 * orig["height"] // orig["width"]


def test_resize_policy_matches_reference_rules(spark):
    """B6 spot checks straight from eynollah.py:236-287."""
    import pandas as pd

    from eynollah_spark.scorer import resize_policy_by_columns

    pdf = pd.DataFrame({
        "num_col":      [1,    1,    2,    3,    5,    6,    4],
        "width_early":  [900, 1500, 1800, 4200, 3000, 4000, 2400],
        "height_early": [1200, 2000, 2400, 5600, 4000, 4000, 3500],
        "conf_col":     [0.95, 0.95, 0.95, 0.5,  0.95, 0.95, 0.95],
    })
    out = {(r["num_col"], r["width_early"]): r for r in
           resize_policy_by_columns(spark.createDataFrame(pdf)).collect()}
    assert out[(1, 900)]["new_w"] == 2000 and out[(1, 900)]["resized"]
    assert out[(1, 1500)]["new_w"] == 1500           # in-band: unchanged
    assert out[(2, 1800)]["new_w"] == 2400
    # unconfident downsample is refused (conf 0.5, target 3000 < 4200)
    assert out[(3, 4200)]["new_w"] == 4200 and not out[(3, 4200)]["resized"]
    assert out[(5, 3000)]["new_w"] == 5000
    # 6500*4000//4000 = 6500 < 8000 -> resized (a taller page would trip
    # the reference's 8000-px guard and stay unresized)
    assert out[(6, 4000)]["new_w"] == 6500
    # 4 cols, width < 2500 -> snap to 4000 (4000*3500//2400 = 5833 < 8000)
    assert out[(4, 2400)]["new_w"] == 4000


def test_variant_cache_joins_back_to_referencing_spans(spark):
    """A2 end-to-end: spans referencing the same media many times get
    their variant dims via an equi-join on media_ref — N references cost
    one decode plus a join, never N decodes."""
    from pyspark.sql import functions as F

    from eynollah_spark.multimodal import synth_media_table, variant_cache

    media = synth_media_table(spark, 6)
    spans = spark.range(30).select(
        F.concat(F.lit("doc"), (F.col("id") % 5)).alias("doc_id"),
        F.col("id").cast("int").alias("offset"),
        F.concat(F.lit("media://fixture/"), (F.col("id") % 6)).alias("media_ref"))
    variants = variant_cache(media).filter(F.col("variant") == "resized")
    joined = spans.join(variants, "media_ref")
    rows = joined.collect()
    assert len(rows) == 30  # every span resolved its resized variant
    assert all(r["width"] == 2000 for r in rows)
