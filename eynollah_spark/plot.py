"""Layout diagnostics plotter (the reference's EynollahPlotter surface,
src/eynollah/plot.py:20-181, re-expressed for a cluster engine).

The reference renders matplotlib/cv2 PNGs of the segmented layout
(save_plot_of_layout*, :37-101), the deskewed page (:120-127) and the
deskew angle-search curve (:156-166). Neither matplotlib nor cv2 exists
in this sandbox — and at 10^12 documents raster diagnostics per page are
the wrong tool anyway — so the analogue here is dependency-free SVG
built from the symbolic geometry the engine already has:

- one rect per span, colored by (refined) kind, reference palette order
  (plot.py:43-48 colors main text / images / seps / tables / marginalia
  distinctly),
- a reading-order polyline through text-span centers (the information
  save_plot_of_layout conveys via region numbering),
- the page deskew angle annotated in the corner (save_deskewed_image's
  information content without rotating pixels).

Everything is a per-doc string projection: pagexml.render_docs emits one
SVG per document in the rows' own doc-complete partitions (the same pass
as to_pagexml_df), and pagexml.write_dir writes them with the PAGE-XML
writer's sanitized-stem rules.
"""

from __future__ import annotations

from xml.sax.saxutils import escape

from pyspark.sql import DataFrame

from eynollah_spark.pagexml import render_docs

#: kind -> fill color (stable, distinct; mirrors the reference's intent
#: of one color per region class, plot.py:43-48)
KIND_COLORS = {
    "text": "#4878d0",
    "heading": "#d65f5f",
    "drop_capital": "#ee854a",
    "marginalia": "#956cb4",
    "image": "#82c6e2",
    "separator": "#797979",
    "table": "#6acc64",
}
_DEFAULT_COLOR = "#c4c4c4"


def doc_to_svg(doc_id, width, height, kinds, x0s, x1s, y0s, y1s,
               angle_deg: float = 0.0) -> str:
    """One page's layout as an SVG string. Inputs are in OUTPUT reading
    order (ord-sorted); the polyline follows that order through text-like
    span centers."""
    w, h = max(int(width), 1), max(int(height), 1)
    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" viewBox="0 0 {w} {h}" '
        f'width="{w}" height="{h}">',
        f'<rect x="0" y="0" width="{w}" height="{h}" fill="white" '
        'stroke="black"/>',
    ]
    centers = []
    for i, k in enumerate(kinds):
        color = KIND_COLORS.get(k, _DEFAULT_COLOR)
        x0, x1 = float(x0s[i]), float(x1s[i])
        y0, y1 = float(y0s[i]), float(y1s[i])
        parts.append(
            f'<rect x="{x0:.1f}" y="{y0:.1f}" width="{max(x1 - x0, 1):.1f}" '
            f'height="{max(y1 - y0, 1):.1f}" fill="{color}" fill-opacity="0.45" '
            f'stroke="{color}"><title>{i}: {escape(str(k))}</title></rect>')
        if k in ("text", "heading", "drop_capital", "marginalia"):
            centers.append(((x0 + x1) / 2.0, (y0 + y1) / 2.0))
    if len(centers) > 1:
        pts = " ".join(f"{cx:.1f},{cy:.1f}" for cx, cy in centers)
        parts.append(f'<polyline points="{pts}" fill="none" stroke="black" '
                     'stroke-width="2" stroke-opacity="0.6"/>')
    if centers:
        cx, cy = centers[0]
        parts.append(f'<circle cx="{cx:.1f}" cy="{cy:.1f}" r="6" '
                     'fill="black"/>')
    if angle_deg:
        parts.append(f'<text x="8" y="24" font-size="20">deskew '
                     f'{angle_deg:+.2f}&#176;</text>')
    parts.append("</svg>")
    return "\n".join(parts)


def page_svg(doc: dict) -> str:
    """doc_to_svg over one document of pagexml.render_docs."""
    return doc_to_svg(doc["doc_id"][0], doc["width"][0], doc["height"][0], doc["kind"],
                      doc["x0"], doc["x1"], doc["y0"], doc["y1"],
                      angle_deg=doc["angle_deg"][0])


def to_svg_df(rows: DataFrame) -> DataFrame:
    """extract_flat_input's rows -> (doc_id, svg), one page per document."""
    return render_docs(rows, page_svg, "svg")
