"""Multimodal columns: media as opaque binary + typed metadata.

Media pixels never enter the layout engine (media travel by `media_ref`,
SURVEY.md §1.1); this module is the training-data-pipeline side: decode /
feature-extract / resize over binary payload columns as
Arrow-batched mapInPandas kernels. The image/audio codec libraries are
not in this container, so the codec call itself is stubbed behind
`EYNOLLAH_SPARK_FAKE_DECODE` (deterministic fake) /
NotImplementedError — but the Spark-side plumbing (schema, batch shape,
partitioning, UDF signatures) is real and tested.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("kind", T.StringType()),           # image | audio | video
    T.StructField("payload", T.BinaryType()),         # opaque encoded bytes
    T.StructField("meta", T.StructType([
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
    ])),
])

DECODED_SCHEMA = (
    "media_ref string, width int, height int, channels int, "
    "mean_luma double, embedding array<float>"
)

EMB_DIM = 32


def _fake_decode(payload: bytes):
    """Deterministic stand-in for cv2.imdecode: stats + embedding derived
    from a hash of the bytes (stable across runs/executors)."""
    h = hashlib.sha256(payload or b"").digest()
    rng = np.random.default_rng(int.from_bytes(h[:8], "little"))
    w = 32 + int.from_bytes(h[8:10], "little") % 2016
    ht = 32 + int.from_bytes(h[10:12], "little") % 2016
    emb = rng.standard_normal(EMB_DIM).astype(np.float32)
    emb /= np.linalg.norm(emb) + 1e-9
    return w, ht, 3, float(int.from_bytes(h[12:14], "little") % 256), emb


def decode_and_embed(media: DataFrame, repartition: bool = True) -> DataFrame:
    """payload -> (dims, luma, unit-norm embedding), Arrow-batched.

    Real deployment swaps `_fake_decode` for cv2/PIL decode + a
    broadcast vision encoder; the batch shape and output schema stay
    identical. ``repartition=False`` skips the defensive ref-hash
    shuffle when the caller's input is already distributed by media_ref
    (e.g. straight out of a dropDuplicates on the ref — re-shuffling the
    payload bytes a second time on the same key is pure cost).
    """
    fake = os.environ.get("EYNOLLAH_SPARK_FAKE_DECODE", "1") == "1"

    def kernel(iterator):
        for pdf in iterator:
            n = len(pdf)
            if n == 0:
                continue
            if not fake:
                raise NotImplementedError(
                    "real codec path requires cv2/PIL (absent in container); "
                    "set EYNOLLAH_SPARK_FAKE_DECODE=1")
            rows = [_fake_decode(p) for p in pdf["payload"]]
            yield pd.DataFrame({
                "media_ref": pdf["media_ref"].to_numpy(),
                "width": np.array([r[0] for r in rows], dtype=np.int32),
                "height": np.array([r[1] for r in rows], dtype=np.int32),
                "channels": np.array([r[2] for r in rows], dtype=np.int32),
                "mean_luma": np.array([r[3] for r in rows], dtype=np.float64),
                "embedding": [r[4] for r in rows],
            })

    from eynollah_spark.packaging import ensure_distributed

    ensure_distributed(media.sparkSession)
    if repartition:
        # media payloads are the skew driver: repartition by ref hash first
        p = int(media.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        media = media.repartition(p, F.xxhash64("media_ref"))
    return media.mapInPandas(kernel, schema=DECODED_SCHEMA)


VARIANT_SCHEMA = ("media_ref string, variant string, width int, height int, "
                  "mean_luma double")


def variant_cache(media: DataFrame, target_w: int = 2000) -> DataFrame:
    """A2 (eynollah.py:150-235: the `_resized`/autosized image-variant
    cache, computed once per page and reused by every later stage):
    decode each UNIQUE media payload once — `dropDuplicates` on
    media_ref BEFORE the decode, so spans referencing the same media N
    times cost one decode — and emit two variant rows per media: the
    original dims and the aspect-preserving resize to `target_w` (the
    B6 autosize width). Downstream stages join this table back on
    media_ref; the decode-once/join-back plan is the cluster-scale
    replacement for the reference's in-memory per-page cache."""
    uniq = media.select("media_ref", "payload").dropDuplicates(["media_ref"])
    # dropDuplicates already hash-distributed by media_ref — skip the
    # decode stage's defensive re-shuffle of the payload bytes (r6)
    dec = decode_and_embed(uniq, repartition=False)
    # both variants in ONE projection pass: a union of two selects over
    # `dec` would duplicate the decode subtree in the physical plan
    # (Spark re-executes multiply-referenced subplans)
    v = F.explode(F.array(
        F.struct(F.lit("orig").alias("variant"),
                 F.col("width").alias("width"),
                 F.col("height").alias("height")),
        F.struct(F.lit("resized").alias("variant"),
                 F.lit(target_w).cast("int").alias("width"),
                 F.expr(f"CAST({target_w} * height DIV width AS INT)")
                 .alias("height")),
    )).alias("v")
    return (dec.select("media_ref", "mean_luma", v)
            .select("media_ref", "v.variant", "v.width", "v.height",
                    "mean_luma"))


def synth_media_table(spark, n: int = 64) -> DataFrame:
    """Deterministic fixture media table (payload = seeded bytes)."""
    rows = []
    for i in range(n):
        payload = hashlib.sha256(f"media{i}".encode()).digest() * 4
        kind = ("image", "audio", "video")[i % 3]
        rows.append((
            f"media://fixture/{i}", kind, bytearray(payload),
            {"format": "raw", "width": 64, "height": 64,
             "duration_ms": 4000 if kind == "video" else 0},
        ))
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


# --- B8 binarization / B7 enhancement hooks (F2/F3 CLI surfaces) -------------

BINARIZE_SCHEMA = ("media_ref string, threshold double, fg_ratio double, "
                   "payload binary")
ENHANCE_SCHEMA = ("media_ref string, gamma double, contrast double, "
                  "num_col_hint int, payload binary")


def binarize(media: DataFrame) -> DataFrame:
    """B8 (`eynollah binarization`, SURVEY F2): the reference runs the
    sbb_binarize CNN over page rasters (eynollah.py:598-621 model hook);
    here the pluggable batch kernel computes an Otsu-style threshold and
    foreground ratio per payload and emits the binarized payload. Codec
    is the deterministic fake (EYNOLLAH_SPARK_FAKE_DECODE) — a real
    binarization model drops into the same Arrow-batched slot."""
    fake = os.environ.get("EYNOLLAH_SPARK_FAKE_DECODE", "1") == "1"

    def kernel(iterator):
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            if not fake:
                raise NotImplementedError(
                    "real binarization requires cv2 + model weights; "
                    "set EYNOLLAH_SPARK_FAKE_DECODE=1")
            rows = [_fake_decode(p) for p in pdf["payload"]]
            luma = np.array([r[3] for r in rows])
            thr = np.round(luma * 0.7 + 32.0, 3)          # Otsu stand-in
            fg = np.round(np.clip(luma / 255.0, 0, 1), 4)  # fg pixel ratio
            yield pd.DataFrame({
                "media_ref": pdf["media_ref"].to_numpy(),
                "threshold": thr,
                "fg_ratio": fg,
                "payload": [hashlib.sha256(b"bin" + (p or b"")).digest()
                            for p in pdf["payload"]],
            })

    from eynollah_spark.packaging import ensure_distributed

    ensure_distributed(media.sparkSession)
    p = int(media.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return media.repartition(p, F.xxhash64("media_ref")).mapInPandas(
        kernel, schema=BINARIZE_SCHEMA)


def enhance(media: DataFrame) -> DataFrame:
    """B7 (`eynollah enhancement`, SURVEY F3): the reference's
    resize-and-enhance CNN (eynollah.py:371-439) estimates column count
    and emits an enhanced raster; the symbolic batch kernel estimates
    gamma/contrast from the decoded stats and a num_col hint from the
    fake-decoded aspect ratio. Same pluggable-model slot as binarize."""
    fake = os.environ.get("EYNOLLAH_SPARK_FAKE_DECODE", "1") == "1"

    def kernel(iterator):
        for pdf in iterator:
            if len(pdf) == 0:
                continue
            if not fake:
                raise NotImplementedError(
                    "real enhancement requires cv2 + model weights; "
                    "set EYNOLLAH_SPARK_FAKE_DECODE=1")
            rows = [_fake_decode(p) for p in pdf["payload"]]
            w = np.array([r[0] for r in rows], dtype=float)
            h = np.array([r[1] for r in rows], dtype=float)
            luma = np.array([r[3] for r in rows])
            yield pd.DataFrame({
                "media_ref": pdf["media_ref"].to_numpy(),
                "gamma": np.round(1.0 + (128.0 - luma) / 512.0, 4),
                "contrast": np.round(1.0 + np.abs(luma - 128.0) / 256.0, 4),
                "num_col_hint": np.clip((w / np.maximum(h, 1.0) * 1.5)
                                        .astype(np.int32), 1, 6),
                "payload": [hashlib.sha256(b"enh" + (p or b"")).digest()
                            for p in pdf["payload"]],
            })

    from eynollah_spark.packaging import ensure_distributed

    ensure_distributed(media.sparkSession)
    p = int(media.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return media.repartition(p, F.xxhash64("media_ref")).mapInPandas(
        kernel, schema=ENHANCE_SCHEMA)
