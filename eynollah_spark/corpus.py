"""Deterministic synthetic corpus generator (FIXTURES.md §4).

Every document is drawn from ``numpy.random.default_rng(seed + doc_index)``
so any doc is reproducible in isolation (and therefore trivially
regenerable inside any Spark task — the 10^12-doc story is "generate or
read by doc_id range per partition", no driver-side materialization).

Oracle-by-construction: each document is *laid out in reading order*
(the generator walks titles → columns → margin blocks exactly the way
eynollah's writer serializes them, writer.py:184-290), records that
order as ``expected_rank`` per span, then presents the input spans in a
shuffled order. The layout kernel sees only geometry; matching
``expected_rank`` means it recovered the reading order from boxes alone
— generator and kernel share no code path.

Archetype mix per FIXTURES.md §4 (doc_index % 100):
  0-39  single-column letter      40-64 two-column article
  65-74 column(s) + marginalia    75-84 multi-column bands
  85-92 interleaved text+media    93-97 media-heavy tail (skew)
  98-99 degenerate (empty / single span / all separators)
RTL: doc_index % 20 == 7 on single/two-column docs.
"""

from __future__ import annotations

import numpy as np

_VOCAB = (
    "the quick brown fox jumps over lazy dog and runs far away home "
    "ein kleiner text block mit worten zur analyse der seite und ordnung"
).split()


_VOCAB_N = len(_VOCAB)


def _mk_text(rng, doc_index, k):
    # rng.choice(list, size=3) re-wraps the 24-word list in an ndarray on
    # EVERY call (~54% of gen_doc, profiled r6). Generator.choice with
    # replace=True and no p draws exactly `integers(0, pop_size, size,
    # dtype=int64)` — call that directly and index the list: identical
    # words AND identical rng stream position (asserted over 200 seeds +
    # a 3000-doc corpus hash before/after).
    i = rng.integers(0, _VOCAB_N, size=3, dtype=np.int64)
    return (f"d{doc_index}s{k:04d} "
            f"{_VOCAB[i[0]]} {_VOCAB[i[1]]} {_VOCAB[i[2]]}")


class _Builder:
    """Accumulates spans in reading order; emits shuffled arrays."""

    def __init__(self, doc_index, rng, width, height, rtl):
        self.doc_index = doc_index
        self.rng = rng
        self.width, self.height, self.rtl = width, height, rtl
        self.rows = []  # (kind, text, media, x0, x1, y0, y1, out_kind, tail_rank)
        self.k = 0

    def text(self, x0, x1, y0, y1, out_kind="text"):
        t = _mk_text(self.rng, self.doc_index, self.k)
        self.rows.append(("text", t, None, x0, x1, y0, y1, out_kind, -1))
        self.k += 1

    def media(self, kind, x0, x1, y0, y1):
        ref = None
        if kind == "image":
            ref = f"media://doc{self.doc_index}/{self.k}"
        # tail spans (images/separators/tables) serialize after all text,
        # ordered by (cy, cx) within kind (writer.py:184-290 order)
        self.rows.append((kind, None, ref, x0, x1, y0, y1, kind, 0))
        self.k += 1

    def finish(self):
        """Resolve tail ordering, shuffle input, return flat dict of arrays."""
        rows = self.rows
        n = len(rows)
        # D8 expected order (utils/xml.py:49-66 + writer.py:184-290):
        # left marginalia -> main text -> right marginalia -> images ->
        # separators -> tables. Text groups keep append (generation) order.
        half = self.width / 2.0
        marg_l = [i for i, r in enumerate(rows)
                  if r[7] == "marginalia" and (r[3] + r[4]) / 2.0 < half]
        marg_r = [i for i, r in enumerate(rows)
                  if r[7] == "marginalia" and (r[3] + r[4]) / 2.0 >= half]
        main = [i for i, r in enumerate(rows)
                if r[7] not in ("image", "separator", "table", "marginalia")]
        order = marg_l + main + marg_r
        for kind in ("image", "separator", "table"):
            tail = [i for i, r in enumerate(rows) if r[7] == kind]
            tail.sort(key=lambda i: ((rows[i][5] + rows[i][6]) / 2.0,
                                     (rows[i][3] + rows[i][4]) / 2.0, i))
            order.extend(tail)
        rank = np.empty(n, dtype=np.int64)
        rank[order] = np.arange(n)
        perm = self.rng.permutation(n)  # input position p holds original row perm[p]
        out = {
            "kind": np.array([rows[i][0] for i in perm], dtype=object),
            "text": np.array([rows[i][1] for i in perm], dtype=object),
            "media_ref": np.array([rows[i][2] for i in perm], dtype=object),
            "offset": np.arange(n, dtype=np.int64),
            "x0": np.array([rows[i][3] for i in perm], dtype=np.int64),
            "x1": np.array([rows[i][4] for i in perm], dtype=np.int64),
            "y0": np.array([rows[i][5] for i in perm], dtype=np.int64),
            "y1": np.array([rows[i][6] for i in perm], dtype=np.int64),
            "expected_kind": np.array([rows[i][7] for i in perm], dtype=object),
            "expected_rank": rank[perm],
        }
        return out


def _column_block(b, x0, cw, y, lh, pitch, n_lines, rng, rtl, para_every=(4, 9)):
    """Lay out n_lines top-down in one column, paragraph breaks included.
    Returns final y."""
    next_break = rng.integers(*para_every)
    for i in range(n_lines):
        w = cw if (i + 1) % max(next_break, 2) else int(cw * rng.uniform(0.45, 0.9))
        lx0 = x0 + (cw - w) if rtl else x0
        b.text(lx0, lx0 + w, int(y), int(y + lh))
        y += pitch
        if (i + 1) % max(next_break, 2) == 0:
            y += pitch * 0.9
    return y


def _fit_vertical(total_needed, y_start, y_end):
    """Scale factor so content fits the vertical budget."""
    budget = y_end - y_start
    return min(1.0, budget / max(total_needed, 1.0))


def _gen_single(b, rng, W, H, rtl, margins=False):
    ml = int(0.22 * W) if margins else int(0.16 * W)
    cw = int(0.56 * W) if margins else int(0.68 * W)
    lh = max(10, int(0.013 * H))
    n = int(rng.integers(12, 40))
    pitch = lh * 1.45
    need = n * pitch * 1.15
    s = _fit_vertical(need, 0.08 * H, 0.93 * H)
    _column_block(b, ml, cw, 0.08 * H, max(6, lh * s), pitch * s, n, rng, rtl)
    if margins:
        _margin_blocks(b, rng, W, H)


def _margin_blocks(b, rng, W, H, side="left"):
    mx0 = int(0.03 * W) if side == "left" else int(0.90 * W)
    mw = int(0.085 * W)
    lh = max(8, int(0.015 * H))
    y = 0.12 * H
    for _ in range(int(rng.integers(2, 4))):
        for _ in range(int(rng.integers(3, 6))):
            w = int(mw * rng.uniform(0.7, 1.0))
            b.text(mx0, mx0 + w, int(y), int(y + lh), out_kind="marginalia")
            y += lh * 1.5
        y += lh * 4
        if y > 0.9 * H:
            break


def _gen_twocol(b, rng, W, H, rtl, margins=False):
    ml = int(0.18 * W) if margins else int(0.08 * W)
    right = int(0.86 * W) if margins else int(0.92 * W)
    g = int(0.06 * W)
    cw = (right - ml - g) // 2
    xL, xR = ml, ml + cw + g
    lh = max(10, int(0.012 * H))
    y = 0.06 * H
    # title band (spans both columns)
    if rng.random() < 0.7:
        for _ in range(int(rng.integers(1, 3))):
            b.text(ml, right, int(y), int(y + lh * 1.6))
            y += lh * 2.2
        y += lh
    col_top = y
    nL, nR = int(rng.integers(14, 36)), int(rng.integers(14, 36))
    pitch = lh * 1.4
    s = _fit_vertical(max(nL, nR) * pitch * 1.15, col_top, 0.94 * H)
    cols = [(xR, nR), (xL, nL)] if rtl else [(xL, nL), (xR, nR)]
    ends = []
    for cx0, ncol in cols:
        ends.append(_column_block(b, cx0, cw, col_top, max(6, lh * s), pitch * s, ncol, rng, rtl))
    if rng.random() < 0.4:
        # vertical gutter separator covering the column text
        vx = ml + cw + g // 2
        b.media("separator", vx - 2, vx + 2, int(col_top - 8), int(max(ends) + 8))
    if margins:
        _margin_blocks(b, rng, W, H, side="left")
        if rng.random() < 0.3:
            _margin_blocks(b, rng, W, H, side="right")


def _gen_multiband(b, rng, W, H, rtl=False):
    ml, mr = int(0.08 * W), int(0.92 * W)
    n_bands = int(rng.integers(2, 5))
    lh = max(9, int(0.011 * H))
    y = 0.05 * H
    band_h = (0.93 * H - y) / n_bands
    for band in range(n_bands):
        k = int(rng.integers(1, 5))
        g = int(0.05 * W)
        cw = (mr - ml - (k - 1) * g) // k
        n_lines = int(rng.integers(4, max(5, int(band_h / (lh * 1.4)) - 2)))
        for c in range(k):
            cx0 = ml + c * (cw + g)
            _column_block(b, cx0, cw, y + lh, lh, lh * 1.4, n_lines, rng, False,
                          para_every=(90, 99))
        y += band_h
        if band < n_bands - 1:
            b.media("separator", ml, mr, int(y - lh), int(y - lh + 5))
            y += lh * 0.5


def _gen_media_interleaved(b, rng, W, H):
    two = rng.random() < 0.5
    ml = int(0.08 * W)
    g = int(0.06 * W)
    cw = (int(0.92 * W) - ml - g) // 2 if two else int(0.68 * W)
    lh = max(10, int(0.012 * H))
    n_img = int(rng.integers(1, 11))
    xs = [ml, ml + cw + g] if two else [int(0.16 * W)]
    per_col = max(1, n_img // len(xs))
    for cx0 in xs:
        y = 0.06 * H
        imgs_left = per_col
        n_lines = int(rng.integers(10, 26))
        for i in range(n_lines):
            if imgs_left and rng.random() < 0.25 and y + 4 * lh < 0.9 * H:
                b.media("image", cx0, cx0 + cw, int(y), int(y + 3.5 * lh))
                y += 4 * lh
                imgs_left -= 1
            b.text(cx0, cx0 + int(cw * rng.uniform(0.8, 1.0) if i == n_lines - 1 else cw),
                   int(y), int(y + lh))
            y += lh * 1.4
            if y > 0.92 * H:
                break


def _gen_media_heavy(b, rng, W, H, doc_index):
    # Zipf-ish image count 500..5000 (the heavy tail that skews partition load)
    n_img = int(min(5000, 500 * (1.0 + rng.pareto(1.5))))
    lh = max(10, int(0.012 * H))
    y = 0.04 * H
    for _ in range(int(rng.integers(3, 9))):
        b.text(int(0.1 * W), int(0.8 * W), int(y), int(y + lh))
        y += lh * 1.4
    grid_cols = 8
    cw = int(0.9 * W) // grid_cols
    ch = max(6, lh)
    for i in range(n_img):
        r, c = divmod(i, grid_cols)
        gx = int(0.05 * W) + c * cw
        gy = int(y + lh + r * (ch + 2))
        b.media("image", gx, gx + cw - 4, gy, gy + ch)


def _gen_degenerate(b, rng, W, H, variant):
    if variant == 0:
        return  # empty document (empty-page early-exit parity, eynollah.py:2203-2227)
    if variant == 1:
        b.text(int(0.2 * W), int(0.8 * W), int(0.4 * H), int(0.43 * H))
        return
    for i in range(int(rng.integers(3, 7))):
        yy = int(0.1 * H + i * 0.15 * H)
        b.media("separator", int(0.1 * W), int(0.9 * W), yy, yy + 4)


def gen_doc(doc_index: int, seed: int = 42):
    """Generate one document; returns (flat_arrays_dict, meta_dict)."""
    rng = np.random.default_rng(seed + doc_index)
    bucket = doc_index % 100
    W = int(rng.integers(900, 2400))
    H = int(rng.integers(1300, 3000))
    rtl = (doc_index % 20 == 7) and bucket < 65
    b = _Builder(doc_index, rng, W, H, rtl)
    if bucket < 40:
        _gen_single(b, rng, W, H, rtl)
    elif bucket < 65:
        _gen_twocol(b, rng, W, H, rtl)
    elif bucket < 75:
        if rng.random() < 0.5:
            _gen_single(b, rng, W, H, False, margins=True)
        else:
            _gen_twocol(b, rng, W, H, False, margins=True)
    elif bucket < 85:
        _gen_multiband(b, rng, W, H)
    elif bucket < 93:
        _gen_media_interleaved(b, rng, W, H)
    elif bucket < 98:
        _gen_media_heavy(b, rng, W, H, doc_index)
    else:
        _gen_degenerate(b, rng, W, H, (doc_index // 100 + bucket) % 3)
    meta = {"doc_id": f"doc{doc_index:08d}", "width": W, "height": H,
            "rtl": bool(rtl), "num_col_hint": 0, "dpi": 300}
    arrs = b.finish()
    # skewed-scan variant (exercises the C6 deskew kernel): rotate all
    # geometry; reading order is unchanged, the kernel must recover it
    if bucket < 40 and doc_index % 5 == 3 and len(arrs["kind"]) >= 10:
        from eynollah_spark.kernels.deskew import rotate_boxes

        theta = float(rng.uniform(1.2, 4.0)) * (1 if doc_index % 2 else -1)
        x0, x1, y0, y1 = rotate_boxes(
            arrs["x0"].astype(float), arrs["x1"].astype(float),
            arrs["y0"].astype(float), arrs["y1"].astype(float),
            theta, W / 2.0, H / 2.0)
        for k, v in (("x0", x0), ("x1", x1), ("y0", y0), ("y1", y1)):
            arrs[k] = np.round(v).astype(np.int64)
    return arrs, meta


def gen_corpus_flat(n_docs: int, seed: int = 42, start: int = 0):
    """Concatenated flat span arrays for docs [start, start+n_docs)."""
    cols = {k: [] for k in ("doc_id", "kind", "text", "media_ref", "offset",
                            "x0", "x1", "y0", "y1", "width", "height", "rtl",
                            "expected_kind", "expected_rank")}
    metas = []
    for d in range(start, start + n_docs):
        arrs, meta = gen_doc(d, seed)
        n = len(arrs["kind"])
        metas.append(meta)
        if n == 0:
            continue
        cols["doc_id"].append(np.full(n, meta["doc_id"], dtype=object))
        for k in ("kind", "text", "media_ref", "offset", "x0", "x1", "y0", "y1",
                  "expected_kind", "expected_rank"):
            cols[k].append(arrs[k])
        cols["width"].append(np.full(n, meta["width"], dtype=np.int64))
        cols["height"].append(np.full(n, meta["height"], dtype=np.int64))
        cols["rtl"].append(np.full(n, meta["rtl"], dtype=bool))
    out = {k: (np.concatenate(v) if v else np.array([], dtype=object)) for k, v in cols.items()}
    return out, metas


# --------------------------------------------------------------- Spark side --

_FLAT_CORPUS_DDL = (
    "doc_id string, kind string, text string, media_ref string, offset int, "
    "x0 int, x1 int, y0 int, y1 int, width int, height int, rtl boolean, "
    "expected_kind string, expected_rank int"
)


def corpus_flat_spark(spark, n_docs: int, seed: int = 42, partitions: int | None = None):
    """Distributed deterministic generation: each Spark task generates its
    doc_id range independently (this is the 10^12-doc story — the corpus
    is a pure function of doc_index, so no driver materialization and no
    shuffle is needed to create it). Empty documents emit one marker row
    with offset = -1 so they survive the nesting group-by."""
    import pandas as pd

    from eynollah_spark.packaging import ensure_distributed

    ensure_distributed(spark)
    if partitions is None:
        partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    base = spark.range(0, n_docs, 1, partitions)

    def gen(iterator):
        for pdf in iterator:
            frames = []
            for idx in pdf["id"].tolist():
                arrs, meta = gen_doc(int(idx), seed)
                n = len(arrs["kind"])
                if n == 0:
                    frames.append(pd.DataFrame({
                        "doc_id": [meta["doc_id"]], "kind": [None], "text": [None],
                        "media_ref": [None], "offset": [-1], "x0": [0], "x1": [0],
                        "y0": [0], "y1": [0], "width": [meta["width"]],
                        "height": [meta["height"]], "rtl": [meta["rtl"]],
                        "expected_kind": [None], "expected_rank": [-1],
                    }))
                    continue
                frames.append(pd.DataFrame({
                    "doc_id": np.full(n, meta["doc_id"], dtype=object),
                    "kind": arrs["kind"], "text": arrs["text"],
                    "media_ref": arrs["media_ref"],
                    "offset": arrs["offset"].astype(np.int32),
                    "x0": arrs["x0"].astype(np.int32), "x1": arrs["x1"].astype(np.int32),
                    "y0": arrs["y0"].astype(np.int32), "y1": arrs["y1"].astype(np.int32),
                    "width": np.int32(meta["width"]), "height": np.int32(meta["height"]),
                    "rtl": meta["rtl"],
                    "expected_kind": arrs["expected_kind"],
                    "expected_rank": arrs["expected_rank"].astype(np.int32),
                }))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return base.mapInPandas(gen, schema=_FLAT_CORPUS_DDL)


def nest_corpus(flat):
    """Flat span rows -> the authoritative nested documents table
    (BASELINE.json input_hint shape + FIXTURES.md geometry sidecar)."""
    from pyspark.sql import functions as F

    packed = (
        flat.groupBy("doc_id", "width", "height", "rtl")
        .agg(F.sort_array(F.collect_list(F.struct(
            "offset", "kind", "text", "media_ref", "x0", "x1", "y0", "y1"))).alias("p"))
    )
    real = "filter(p, r -> r.offset >= 0)"
    return packed.select(
        "doc_id",
        F.expr(
            f"transform({real}, r -> named_struct("
            "'kind', r.kind, 'text', r.text, 'media_ref', r.media_ref, "
            "'offset', r.offset))"
        ).alias("spans"),
        F.expr(
            f"transform({real}, r -> named_struct("
            "'x0', r.x0, 'x1', r.x1, 'y0', r.y0, 'y1', r.y1))"
        ).alias("geom"),
        F.expr(
            "named_struct('width', width, 'height', height, 'dpi', 300, "
            "'num_col_hint', 0, 'rtl', rtl)"
        ).alias("meta"),
    )


def expected_spark(flat):
    """The oracle table: expected output rows (doc_id, ord, kind, text,
    media_ref, offset) derived from the generator's by-construction
    reading order."""
    from pyspark.sql import functions as F

    return flat.filter(F.col("offset") >= 0).select(
        "doc_id",
        F.col("expected_rank").alias("ord"),
        F.col("expected_kind").alias("kind"),
        "text", "media_ref", "offset",
    )
