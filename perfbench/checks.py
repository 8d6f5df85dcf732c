"""Output checks, run outside the timed region.

A bad output is counted, never raised: the caller adds the count to
``failed`` and the run goes on.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

# Documents whose written rows disagree with the oracle: a wrong
# (ord, kind) at a span, a span missing from either side, or a
# (doc_id, offset) written more than once (a pipeline-side duplicate
# matches the oracle row-by-row and only shows as a repeat).
_BAD_DOCS_SQL = """
WITH o AS (SELECT doc_id, "offset", ord, kind FROM {out}),
     e AS (SELECT doc_id, "offset", ord, kind FROM {expected}),
     wrong AS (
       SELECT coalesce(o.doc_id, e.doc_id) AS doc_id
       FROM o FULL OUTER JOIN e ON o.doc_id = e.doc_id AND o."offset" = e."offset"
       WHERE o.ord IS DISTINCT FROM e.ord OR o.kind IS DISTINCT FROM e.kind),
     dup AS (SELECT doc_id FROM o GROUP BY doc_id, "offset" HAVING count(*) > 1)
SELECT count(DISTINCT doc_id) FROM (SELECT doc_id FROM wrong UNION ALL
                                    SELECT doc_id FROM dup)
"""


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def bad_documents(output, expected: str) -> int:
    """Number of documents whose output differs from the oracle.

    ``output`` is a parquet directory (every ``*.parquet`` under it) or a
    pandas/pyarrow frame with columns doc_id, ord, kind, offset;
    ``expected`` is a DuckDB relation with the same columns
    (``inputs.expected_sql``)."""
    con = _connect()
    try:
        if isinstance(output, str):
            out = f"read_parquet('{output}/**/*.parquet')"
        else:
            con.register("written", output)
            out = "written"
        return int(con.execute(
            _BAD_DOCS_SQL.format(out=out, expected=expected)).fetchone()[0])
    finally:
        con.close()


def output_checksum(output_dir: str) -> int:
    """Order-independent checksum of written (doc_id, ord, kind, offset)."""
    con = _connect()
    try:
        return int(con.execute(
            f"SELECT bit_xor(hash(doc_id, ord, kind, \"offset\")) "
            f"FROM read_parquet('{output_dir}/**/*.parquet')").fetchone()[0])
    finally:
        con.close()


def corpus_checksum(input_dir: str) -> int:
    """Order-independent checksum of every generated input row."""
    con = _connect()
    try:
        return int(con.execute(
            "SELECT bit_xor(hash(doc_id, \"offset\", kind, text, media_ref, "
            "x0, x1, y0, y1, width, height, rtl)) "
            f"FROM read_parquet('{input_dir}/*.parquet')").fetchone()[0])
    finally:
        con.close()


# ------------------------------------------------------------------ queries --

def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Column order, dtypes and row order that Spark and DuckDB share
    (the rules of ``normalize`` in tools/check_oracle.py)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if np.issubdtype(s.dtype, np.floating):
            df[c] = s.astype(np.float64).round(6)
        elif np.issubdtype(s.dtype, np.integer) or s.dtype == bool:
            df[c] = s.astype(np.int64)
        elif np.issubdtype(s.dtype, np.datetime64):
            df[c] = s.astype("datetime64[us]").astype(str)
        else:
            df[c] = s.astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def same_result(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> bool:
    """Equal as multisets of rows: same columns, same row count, values
    equal after normalization (floats to within 1e-6)."""
    a, b = normalize(spark_df), normalize(oracle_df)
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if x.dtype.kind == "f":
            if not np.allclose(x, y, rtol=1e-9, atol=1e-6, equal_nan=True):
                return False
        elif not np.array_equal(x, y):
            return False
    return True


def oracle_results(sf_dir: str, sqls: dict[str, str]) -> dict[str, pd.DataFrame]:
    """Run each oracle SQL on DuckDB over the parquet tables in ``sf_dir``."""
    import os

    con = _connect()
    try:
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(sf_dir, f)}')")
        return {name: con.execute(sql).fetchdf() for name, sql in sqls.items()}
    finally:
        con.close()
