"""Inputs of the benchmark workloads.

The document corpus is a pure function of the seed: it comes from
``eynollah_spark.corpus.gen_doc(i, seed)``. The program under test only
ever sees the files written here, and never the generator's
by-construction reading order (``expected_rank``/``expected_kind``) they
also hold, which the output checks use as the oracle. The query tables
are fixed files (``QUERY_TABLES_DIR``); the seed orders the query calls.
"""

from __future__ import annotations

import os

#: columns of the bucketed input files (everything the extraction reads)
INPUT_COLS = ["doc_id", "width", "height", "rtl", "kind", "text", "media_ref",
              "offset", "x0", "x1", "y0", "y1"]


def write_corpus(spark, n_docs: int, seed: int, out_dir: str, *,
                 bucketed_files: int) -> str:
    """Generate ``n_docs`` documents on the executors, in one Spark job, as
    ``bucketed_files`` doc-complete parquet files under ``out_dir``:
    hash-bucketed on ``doc_id`` and sorted within files, the ingest layout
    ``extract_from_parquet_files`` expects.

    The files also carry the oracle columns (``expected_rank``,
    ``expected_kind``); the extraction reads a fixed column list
    (``INPUT_COLS``) and never sees them, and ``expected_sql`` reads only
    them. Returns ``out_dir``."""
    from pyspark.sql import functions as F

    from eynollah_spark.corpus import corpus_flat_spark

    (corpus_flat_spark(spark, n_docs, seed=seed)
     .repartition(bucketed_files, F.xxhash64("doc_id"))
     .sortWithinPartitions("doc_id", "offset")
     .write.parquet(out_dir))
    return out_dir


def expected_sql(files: list[str]) -> str:
    """DuckDB relation of the oracle for the documents in ``files``: the
    by-construction (ord, kind) of every real span (an empty document has
    one marker row, offset -1)."""
    return (f"(SELECT doc_id, \"offset\", expected_rank AS ord, "
            f"expected_kind AS kind FROM read_parquet({files!r}) "
            f"WHERE \"offset\" >= 0)")


def count_docs(files: list[str]) -> int:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    return len(pc.unique(pq.read_table(files, columns=["doc_id"])["doc_id"]))


def parquet_files(path: str) -> list[str]:
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if f.endswith(".parquet"))


# ------------------------------------------------------------ query tables --

#: the six tables the headline queries read (customer, orders, lineitem,
#: documents, embeddings, events): a copy of the seed-42 sf0.01 test
#: tables, kept in the benchmark so a run reads only its checkout. The
#: queries that synthesize their own input read the scale factor from
#: this directory's name.
QUERY_TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "data", "sf0.01")
