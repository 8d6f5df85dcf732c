"""PAGE-XML output writer (A5/F1 product surface).

The reference's actual product is `<stem>.xml` per page
(/root/reference/src/eynollah/writer.py:66-290): a PAGE 2019-07-15
document with TextRegions (typed paragraph / marginalia / heading /
drop-capital), TextLines with Coords + TextEquiv, a ReadingOrder
OrderedGroup listing text regions in order (marginalia-left first, then
main text, then marginalia-right — utils/xml.py:49-66), and
Image/Separator/Table regions appended without RO entries. Ids follow
utils/counter.py: `region_%04d` / `region_%04d_line_%04d`, 1-based.

Here the writer is a post-pass over the engine's ordered flat output
(pipeline.extract_flat_input: doc_id, ord, kind, text, media_ref,
offset, with each span's geometry and its page's deskew angle on the
row), whose partitions already hold whole documents. render_docs runs
one task per partition with no second exchange: it sorts the partition
by (doc_id, ord), re-groups each document's consecutive ordered text
spans into regions (same geometric clustering the kernel used) and
serializes one XML string per document. At scale the XML strings land
in a (doc_id, xml) table — writing 10^12 individual files is an
object-store concern, not an engine concern — with a local-directory
sink (write_dir) for the reference's one-file-per-page layout.
"""

from __future__ import annotations

import hashlib
import os
import re
from xml.sax.saxutils import escape, quoteattr

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PAGE_NS = "http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15"
XSI_NS = "http://www.w3.org/2001/XMLSchema-instance"
#: the reference's fixed OrderedGroup id (utils/xml.py:51)
RO_GROUP_ID = "ro357564684568544579089"
CREATOR = "eynollah_spark"

_TEXT_KINDS = ("text", "marginalia", "heading", "drop-capital")
_REGION_TYPE = {"text": "paragraph", "marginalia": "marginalia",
                "heading": "heading", "drop-capital": "drop-capital"}
_MEDIA_TAG = {"image": "ImageRegion", "separator": "SeparatorRegion",
              "table": "TableRegion"}


def _rect_points(x0, y0, x1, y1) -> str:
    x0, y0, x1, y1 = (int(round(v)) for v in (x0, y0, x1, y1))
    return f"{x0},{y0} {x1},{y0} {x1},{y1} {x0},{y1}"


def _text_region_runs(kind, x0, x1, y0, y1):
    """Split the ordered text-like spans into consecutive region runs:
    geometric clustering (same rule as the kernel's C16 inverse) refined
    so every region is a *consecutive* run of the reading order with a
    single kind — region boundaries land where cluster label or kind
    changes between neighbours."""
    from eynollah_spark.kernels.layout import cluster_lines_into_regions

    n = len(kind)
    if n == 0:
        return []
    labels = cluster_lines_into_regions(
        np.asarray(x0, float), np.asarray(x1, float),
        np.asarray(y0, float), np.asarray(y1, float), rtl=False)
    runs = []
    start = 0
    for i in range(1, n):
        if labels[i] != labels[i - 1] or kind[i] != kind[i - 1]:
            runs.append((start, i))
            start = i
    runs.append((start, n))
    return runs


def doc_to_pagexml(doc_id, width, height, kind, text, media_ref, offset,
                   x0, x1, y0, y1, image_filename=None,
                   created="1970-01-01T00:00:00") -> str:
    """Serialize ONE document's ordered spans (arrays in reading order)
    to a PAGE-XML string following the reference writer's conventions."""
    kind = list(kind)
    n = len(kind)
    image_filename = image_filename or f"{doc_id}.tif"
    head = [i for i in range(n) if kind[i] in _TEXT_KINDS]
    tail = [i for i in range(n) if kind[i] not in _TEXT_KINDS]

    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        f'<PcGts xmlns="{PAGE_NS}" xmlns:xsi="{XSI_NS}" '
        f'xsi:schemaLocation="{PAGE_NS} {PAGE_NS}/pagecontent.xsd" '
        f'pcGtsId={quoteattr("pc-" + str(doc_id))}>',
        "  <Metadata>",
        f"    <Creator>{CREATOR}</Creator>",
        f"    <Created>{created}</Created>",
        f"    <LastChange>{created}</LastChange>",
        "  </Metadata>",
        f'  <Page imageFilename={quoteattr(str(image_filename))} '
        f'imageWidth="{int(width)}" imageHeight="{int(height)}" '
        'readingDirection="left-to-right" textLineOrder="top-to-bottom">',
    ]

    runs = _text_region_runs([kind[i] for i in head],
                             [x0[i] for i in head], [x1[i] for i in head],
                             [y0[i] for i in head], [y1[i] for i in head])
    region_idx = 0
    ro_entries = []
    region_xml = []
    for s, e in runs:
        region_idx += 1
        rid = f"region_{region_idx:04d}"
        members = head[s:e]
        rx0 = min(x0[i] for i in members)
        rx1 = max(x1[i] for i in members)
        ry0 = min(y0[i] for i in members)
        ry1 = max(y1[i] for i in members)
        rtype = _REGION_TYPE[kind[members[0]]]
        ro_entries.append(rid)
        region_xml.append(f'    <TextRegion id="{rid}" type="{rtype}">')
        region_xml.append(
            f'      <Coords points="{_rect_points(rx0, ry0, rx1, ry1)}"/>')
        for li, i in enumerate(members, start=1):
            lid = f"{rid}_line_{li:04d}"
            region_xml.append(f'      <TextLine id="{lid}">')
            region_xml.append(
                f'        <Coords points="{_rect_points(x0[i], y0[i], x1[i], y1[i])}"/>')
            if text[i] is not None and not (isinstance(text[i], float) and np.isnan(text[i])):
                region_xml.append("        <TextEquiv>")
                region_xml.append(f"          <Unicode>{escape(str(text[i]))}</Unicode>")
                region_xml.append("        </TextEquiv>")
            region_xml.append("      </TextLine>")
        region_xml.append("    </TextRegion>")

    # ReadingOrder BEFORE the regions (reference layout; fixtures parser
    # ignores non-region Page children either way)
    parts.append("    <ReadingOrder>")
    parts.append(f'      <OrderedGroup id="{RO_GROUP_ID}">')
    for idx, rid in enumerate(ro_entries):
        parts.append(
            f'        <RegionRefIndexed index="{idx}" regionRef="{rid}"/>')
    parts.append("      </OrderedGroup>")
    parts.append("    </ReadingOrder>")
    parts.extend(region_xml)

    for i in tail:
        region_idx += 1
        rid = f"region_{region_idx:04d}"
        tag = _MEDIA_TAG.get(kind[i])
        if tag is None:
            continue
        parts.append(f'    <{tag} id="{rid}">')
        parts.append(
            f'      <Coords points="{_rect_points(x0[i], y0[i], x1[i], y1[i])}"/>')
        parts.append(f"    </{tag}>")

    parts.append("  </Page>")
    parts.append("</PcGts>")
    return "\n".join(parts)


def rotate_geometry(rows: DataFrame, inverse: bool = False) -> DataFrame:
    """C9 closure (deskewed<->original coordinate mapping, the symbolic
    form of utils/contour.py:258-391's contour back-projection): rotate
    every box center around the page center by the row's angle_deg, the
    deskew angle the kernel applied to its page (inverse=False ->
    original frame to deskewed frame; inverse=True -> back), extents
    preserved — identical math to kernels/deskew.py rotate_boxes,
    expressed as PURE COLUMN ARITHMETIC so it runs JVM-side in codegen,
    with no join and no exchange. The columns keep their order, and
    angle_deg is kept, so the inverse applies to the result."""
    from pyspark.sql import functions as F

    a = F.radians(-F.col("angle_deg") if inverse else F.col("angle_deg"))
    s, c = F.sin(a), F.cos(a)
    cx = (F.col("x0") + F.col("x1")) / 2 - F.col("width") / 2
    cy = (F.col("y0") + F.col("y1")) / 2 - F.col("height") / 2
    ncx = c * cx + s * cy + F.col("width") / 2
    ncy = -s * cx + c * cy + F.col("height") / 2
    w2 = (F.col("x1") - F.col("x0")) / 2
    h2 = (F.col("y1") - F.col("y0")) / 2
    # one select, never chained withColumn: w2/h2 are unresolved
    # expressions over x0/x1, so replacing x0 first would silently feed
    # the NEW x0 into x1's computation
    new = {"x0": ncx - w2, "x1": ncx + w2, "y0": ncy - h2, "y1": ncy + h2}
    return rows.select(*(new[n].alias(n) if n in new else n for n in rows.columns))


#: documents per output batch: bounds the Python lists a task holds and
#: keeps each string column far below Arrow's 2 GiB offset limit
_DOCS_PER_BATCH = 1024


def _render_partition(batches, render, name: str):
    """render_docs' task body. It holds the whole partition, as an Arrow
    batch can end inside a document."""
    from eynollah_spark.kernels import doc_runs

    batches = list(batches)
    if not any(b.num_rows for b in batches):
        return
    t = pa.Table.from_batches(batches)
    t = t.take(pc.sort_indices(t, [("doc_id", "ascending"), ("ord", "ascending")]))
    doc_id = t.column("doc_id").to_numpy()
    _, starts, ends = doc_runs(doc_id)
    # a document split across partitions leaves a fragment without ord 0,
    # and a repeated row repeats an ord: the fragment's ords are not 0..m-1
    bad = t.column("ord").to_numpy() != np.arange(t.num_rows) - np.repeat(starts, ends - starts)
    if bad.any():
        raise ValueError(f"document {doc_id[np.argmax(bad)]!r} is not whole in its "
                         "partition: its ord values are not 0..m-1")
    for i in range(0, len(starts), _DOCS_PER_BATCH):
        s, e = starts[i:i + _DOCS_PER_BATCH], ends[i:i + _DOCS_PER_BATCH]
        cols = t.slice(s[0], e[-1] - s[0]).to_pydict()
        vals = [render({c: v[a:b] for c, v in cols.items()}) for a, b in zip(s - s[0], e - s[0])]
        yield pa.RecordBatch.from_arrays([pa.array(doc_id[s], pa.string()), pa.array(vals)],
                                         names=["doc_id", name])


def render_docs(rows: DataFrame, render, name: str, dtype: str = "string") -> DataFrame:
    """(doc_id, ord, ...) rows -> (doc_id, <name> <dtype>) rows: one
    render(doc) per document, ``doc`` mapping each column to the
    document's values in ord order, in the rows' own partitions (no
    exchange). The partitions must hold whole documents, as
    extract_flat_input's rows, a narrow plan over them (rotate_geometry)
    or a plan keyed on doc_id (scorer.refine_kinds' join) do; a task that
    holds part of a document, or a row twice, raises a ValueError naming
    it, so no page is rendered from a fragment."""
    from eynollah_spark.packaging import ensure_distributed

    ensure_distributed(rows.sparkSession)
    return rows.mapInArrow(lambda batches: _render_partition(batches, render, name),
                           schema=f"doc_id string, {name} {dtype}")


def page_xml(doc: dict) -> str:
    """doc_to_pagexml over one document of render_docs."""
    return doc_to_pagexml(
        doc["doc_id"][0], doc["width"][0], doc["height"][0], doc["kind"], doc["text"],
        doc["media_ref"], doc["offset"], doc["x0"], doc["x1"], doc["y0"], doc["y1"])


def to_pagexml_df(rows: DataFrame) -> DataFrame:
    """extract_flat_input's rows -> (doc_id, xml), one page per document."""
    return render_docs(rows, page_xml, "xml")


#: what sanitize_stem rewrites in a doc_id
_HOSTILE = r"[/\\\x00]|\.\."


def sanitize_stem(doc_id: str) -> str:
    """Filesystem-safe stem for one page file. A doc_id containing a
    path separator (or '..') must not escape out_dir; when sanitization
    rewrites the name, a short hash of the RAW doc_id is appended so two
    distinct doc_ids (e.g. 'a/b' and 'a_b') can never collapse to the
    same stem and silently overwrite each other (ADVICE r3)."""
    stem = re.sub(_HOSTILE, "_", str(doc_id))
    if stem != str(doc_id):
        digest = hashlib.md5(str(doc_id).encode("utf-8")).hexdigest()[:8]
        stem = f"{stem}-{digest}"
    return stem


def stem_col():
    """sanitize_stem as a Spark column over doc_id (the processor's
    resume anti-join)."""
    clean = F.regexp_replace("doc_id", _HOSTILE, "_")
    return F.when(clean == F.col("doc_id"), clean).otherwise(
        F.concat(clean, F.lit("-"), F.substring(F.md5("doc_id"), 1, 8)))


def write_dir(df: DataFrame, out_dir: str, ext: str) -> int:
    """Reference-style one-file-per-page sink: each (doc_id, value) row
    (to_pagexml_df, plot.to_svg_df) becomes <out_dir>/<stem>.<ext>,
    written by the tasks (local mode or a shared filesystem; at
    object-store scale keep the table instead). Returns the sum of the
    tasks' file counts, exact as Spark keeps one attempt's result per
    task; the files are idempotent (fixed name per doc, whole rewrite)."""
    os.makedirs(out_dir, exist_ok=True)

    def write(batches):
        n = 0
        for b in batches:
            for doc_id, value in zip(*(c.to_pylist() for c in b.columns)):
                with open(os.path.join(out_dir, f"{sanitize_stem(doc_id)}.{ext}"), "w") as f:
                    f.write(value)
                n += 1
        yield pa.RecordBatch.from_pydict({"n": [n]})

    return sum(r["n"] for r in df.mapInArrow(write, "n long").collect())
