"""Named query registry for the driver contract (__spark_entry__.py).

Each entry maps a SURVEY.md §2 operator (or a training-data-pipeline op
from the build brief) to (a) a PySpark implementation over the
driver-generated tables in sf_dir and (b) an equivalent ANSI-SQL oracle
for DuckDB. Column names and float rounding are aligned so the driver's
order-insensitive value-hash matches.

Relational-skeleton queries (ro_*) run over a *synthesized lines table*
derived from `documents` with pure integer arithmetic — identical in
both dialects — so the window/join/agg semantics of the layout operators
(D1 row clustering, C16 containment join, C17 anti-join, C5 histogram,
C6 top-1 ranking, C11 marginal split, D2 splitters, D8 id formatting,
A4 resume) are oracle-checked even though the full XY-cut kernel itself
is non-SQL-expressible (those run as rows-only extract_* checks).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


#: Tables whose consumers do heavy PER-ROW work scan-side (text
#: tokenize/shingle/md5, 64-d vector math) — the ones where a
#: single-row-group file serializes real compute. Relational tables
#: (lineitem, orders, events, ...) only feed codegen'd aggregates and
#: join probes, where the extra exchange measured as a net loss.
_PARALLELIZE_TABLES = frozenset({"documents", "embeddings"})


def load_views(spark: SparkSession, sf_dir: str, *names: str,
               scan_floor: bool = False) -> None:
    """Register sf_dir tables as temp views, optionally with a scale-
    adaptive scan-parallelism floor (r6, guide §2/§6): the sf tables are
    single-file, single-ROW-GROUP parquet, so the scan — and every
    operation Spark fuses into the scan stage (tokenize+explode, md5,
    vector math) — runs as ONE task no matter how many cores the
    session has, and file splitting cannot help. With scan_floor=True,
    when a table's native split count (bytes / maxPartitionBytes) is
    below the session's shuffle parallelism, shuffle the (small, by
    definition) relation up to it; on real multi-file tables the
    condition is false and this is a no-op, so nothing extra is paid at
    100 TB scale.

    Opt-in PER QUERY (registry key 'scan_floor'), restricted to the
    text/embedding tables: only queries doing heavy per-row work
    scan-side (shingle/token md5, 60-bit simhash votes, 64-d vector
    math) amortize the extra exchange — for light consumers (per-doc
    md5, synthesized-lines windows, codegen'd aggregates) the same
    shuffle measured as a net LOSS of 0.1-0.4 s each (r6 full-bench
    A/B), so they keep the native scan."""
    import math
    import os

    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes",
                         str(128 * 1024 * 1024))
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    try:
        raw = raw.strip().lower().rstrip("b")
        max_split = (int(raw[:-1]) * units[raw[-1]] if raw[-1] in units
                     else int(raw))
    except (ValueError, IndexError):
        max_split = 128 * 1024 * 1024
    for n in names:
        path = f"{sf_dir}/{n}.parquet"
        df = spark.read.parquet(path)
        if scan_floor and n in _PARALLELIZE_TABLES:
            try:
                size = (os.path.getsize(path) if os.path.isfile(path) else
                        sum(os.path.getsize(os.path.join(path, f))
                            for f in os.listdir(path) if f.endswith(".parquet")))
            except OSError:
                size = None
            if size is not None and math.ceil(size / max_split) < target:
                df = df.repartition(target)
        df.createOrReplaceTempView(n)


def sf_of(sf_dir: str) -> float:
    """Scale factor named by the LAST path component (``.../sf0.1`` ->
    0.1); an ``sf<number>`` higher up the path is not this table set's."""
    m = re.fullmatch(r"sf([0-9]+(?:\.[0-9]+)?)",
                     sf_dir.rstrip("/").rsplit("/", 1)[-1])
    return float(m.group(1)) if m else 0.01


def _table_stat(sf_dir: str, table: str) -> tuple:
    """(path, st_mtime_ns, st_size) of the table's parquet file, or of
    every file in it when the table is a directory: an in-place
    overwrite changes it."""
    import os

    path = f"{sf_dir}/{table}.parquet"
    paths = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
             if os.path.isdir(path) else [path])
    return tuple((p, st.st_mtime_ns, st.st_size)
                 for p in paths for st in [os.stat(p)])


def _session_cached(table: str):
    """Session cache for the materialize-once Spark queries.

    The decorated ``build(spark)`` registers cached temp views over
    `table` and returns ``(final, tmp, keep)``: the result DataFrame,
    the per-call intermediates, and the handles kept cached across
    calls. Each call unpersists `tmp`. While the key (same live
    SparkSession, sf_dir and `_table_stat`) holds, it re-persists `tmp`
    (recomputed from `keep` on the next action) and returns the
    already-analyzed `final`: re-analysing the long SQL texts costs
    ~0.7 s of driver time. Otherwise it unpersists `keep` and rebuilds;
    a new scan of the same path is `sameResult` to the old one, so a
    still-cached old relation would be served in its place. Handles
    may belong to a stopped session, whose unpersist raises."""
    import functools

    from pyspark import StorageLevel

    def unpersist(handles):
        for h in handles:
            try:
                h.unpersist()
            except Exception:
                pass

    def wrap(build):
        state = {}

        @functools.wraps(build)
        def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
            load_views(spark, sf_dir, table, scan_floor=True)
            key = (sf_dir, _table_stat(sf_dir, table))
            if state:
                unpersist(state["tmp"])
                if state["spark"] is spark and state["key"] == key:
                    for h in state["tmp"]:
                        h.persist(StorageLevel.MEMORY_AND_DISK)
                    return state["final"]
                unpersist(state["keep"])
            final, tmp, keep = build(spark)
            state.update(spark=spark, key=key, final=final, tmp=tmp, keep=keep)
            return final

        return fn

    return wrap


# --------------------------------------------------------------------------
# synthesized lines/regions CTEs (integer arithmetic only -> exact parity)
# --------------------------------------------------------------------------

def _lines_cte(dialect: str) -> str:
    if dialect == "spark":
        gen = ("SELECT doc_id, explode(sequence(0, CAST(5 + doc_id % 20 AS INT) - 1)) "
               "AS line_id FROM documents")
        idiv = "DIV"
    else:
        gen = ("SELECT doc_id, unnest(range(0, CAST(5 + doc_id % 20 AS BIGINT))) "
               "AS line_id FROM documents")
        idiv = "//"
    return f"""
lines AS (
  SELECT doc_id, line_id,
         CAST(1 + doc_id % 3 AS INT)                                   AS ncols,
         CAST(line_id % (1 + doc_id % 3) AS INT)                       AS col,
         CAST(line_id {idiv} (1 + doc_id % 3) AS INT)                  AS row,
         CAST(100 + (line_id % (1 + doc_id % 3)) * 400
              + (doc_id*13 + line_id*7) % 50 AS INT)                   AS cx,
         CAST(80 + (line_id {idiv} (1 + doc_id % 3)) * 30
              + (doc_id*7 + line_id*11) % 9 AS INT)                    AS cy,
         CAST(18 + (doc_id + line_id) % 5 AS INT)                      AS h,
         CAST((doc_id*31 + line_id*17) % 100 AS DOUBLE) / 100          AS conf
  FROM ({gen})
)"""


def _regions_cte(dialect: str) -> str:
    idiv = "DIV" if dialect == "spark" else "//"
    return f"""
regions AS (
  SELECT doc_id, col, row {idiv} 4 AS rrow,
         CAST(col*1000 + row {idiv} 4 AS INT)   AS region_id,
         MIN(cx) - 60 AS rx0, MAX(cx) + 60 AS rx1,
         MIN(cy) - 15 AS ry0, MAX(cy) + 15 AS ry1
  FROM lines GROUP BY doc_id, col, row {idiv} 4
)"""


# --------------------------------------------------------------------------
# registry: name -> dict(spark_sql | spark_fn, duck_sql | None, tables)
# --------------------------------------------------------------------------

_Q: dict[str, dict] = {}


def _sql_pair(name, tables, spark_sql, duck_sql, scan_floor=False):
    _Q[name] = {"tables": tables, "spark_sql": spark_sql,
                "duck_sql": duck_sql, "scan_floor": scan_floor}


def _fn(name, tables, spark_fn, duck_sql=None):
    _Q[name] = {"tables": tables, "spark_fn": spark_fn, "duck_sql": duck_sql}


def _both(name, tables, body_of, scan_floor=False):
    """Same query text in both dialects, parameterized by dialect.
    scan_floor: this query's scan-side per-row work is heavy enough to
    amortize the load_views parallelism floor (see load_views)."""
    _sql_pair(name, tables, body_of("spark"), body_of("duck"),
              scan_floor=scan_floor)


# --- A. relational skeleton of the layout operators -------------------------

_both("ro_line_sort", ("documents",), lambda d: f"""
WITH {_lines_cte(d)},
clustered AS (
  SELECT doc_id, line_id, cx, cy,
         SUM(CASE WHEN prev_cy IS NULL OR cy - prev_cy > 12 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY cy, cx, line_id) AS row_cluster
  FROM (
    SELECT doc_id, line_id, cx, cy,
           LAG(cy) OVER (PARTITION BY doc_id ORDER BY cy, cx, line_id) AS prev_cy
    FROM lines)
)
SELECT doc_id, line_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY row_cluster, cx, line_id)
            AS INT) AS ord
FROM clustered
""")
# D1 (eynollah.py:891-944): lag + running sum row clustering, then
# (row, x) rank — the window-function form of the in-kernel line sort.

_both("ro_kind_histogram", ("documents",), lambda d: f"""
WITH {_lines_cte(d)}
SELECT CASE WHEN col = 0 THEN 'text' WHEN col = 1 THEN 'image' ELSE 'separator' END AS kind,
       COUNT(*) AS n
FROM lines GROUP BY 1
""")

_both("ro_containment_join", ("documents",), lambda d: f"""
WITH {_lines_cte(d)},
{_regions_cte(d)}
SELECT r.doc_id, r.region_id, COUNT(*) AS n_lines
FROM lines l JOIN regions r
  ON l.doc_id = r.doc_id AND l.cx BETWEEN r.rx0 AND r.rx1 AND l.cy BETWEEN r.ry0 AND r.ry1
GROUP BY r.doc_id, r.region_id
""")
# C16 (eynollah.py:946-980): textline->region assignment as a containment
# theta-join.

_both("ro_containment_antijoin", ("documents",), lambda d: f"""
WITH {_lines_cte(d)},
small AS (SELECT doc_id, line_id, cx, cy FROM lines WHERE h <= 19),
big   AS (SELECT doc_id, cx, cy, h FROM lines WHERE h >= 22)
SELECT s.doc_id, COUNT(*) AS n_survivors
FROM small s
WHERE NOT EXISTS (
  SELECT 1 FROM big b
  WHERE b.doc_id = s.doc_id
    AND s.cx BETWEEN b.cx - 40 AND b.cx + 40
    AND s.cy BETWEEN b.cy - 25 AND b.cy + 25)
GROUP BY s.doc_id
""")
# C17 (eynollah.py:1820-1887): drop small regions inside bigger ones ->
# anti-join semantics.

_both("ro_empty_region_drop", ("documents",), lambda d: f"""
WITH {_lines_cte(d)},
{_regions_cte(d)}
SELECT r.doc_id, r.region_id
FROM regions r JOIN lines l
  ON l.doc_id = r.doc_id AND l.cx BETWEEN r.rx0 AND r.rx1 AND l.cy BETWEEN r.ry0 AND r.ry1
GROUP BY r.doc_id, r.region_id
HAVING COUNT(*) >= 3
""")

_both("ro_marginalia_split", ("documents",), lambda d: f"""
WITH {_lines_cte(d)}
SELECT doc_id, line_id,
       CASE WHEN cx < 650 THEN 'L' ELSE 'R' END AS side,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY doc_id, CASE WHEN cx < 650 THEN 'L' ELSE 'R' END
         ORDER BY cy, cx, line_id) AS INT) AS side_rank
FROM lines
""")
# C11 (eynollah.py:1923-1947): split at midline, top-down rank per side.

_both("ro_column_histogram", ("documents",), lambda d: f"""
WITH {_lines_cte(d)},
hist AS (
  SELECT doc_id, CAST(cx / 100 AS INT) AS bucket, COUNT(*) AS n
  FROM lines GROUP BY doc_id, CAST(cx / 100 AS INT)
)
SELECT doc_id, bucket, n,
       CAST(ROUND(CAST(AVG(n) OVER (PARTITION BY doc_id ORDER BY bucket
                                    ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
                       AS DECIMAL(38,6)), 3) AS DOUBLE) AS smooth_n
FROM hist
""")
# C5 (utils/__init__.py:245-489): projection histogram + moving-average
# smoothing as groupBy(width_bucket) + window frame.

_both("ro_deskew_argmax", ("documents",), lambda d: f"""
WITH {_lines_cte(d)},
scores AS (
  SELECT l.doc_id, a.angle,
         STDDEV_POP(l.cy * 10 + a.angle * l.cx) AS score
  FROM lines l {'LATERAL VIEW explode(sequence(-5, 5)) a AS angle'
                if d == 'spark' else ', UNNEST(range(-5, 6)) AS a(angle)'}
  GROUP BY l.doc_id, a.angle
)
SELECT doc_id, CAST(angle AS INT) AS best_angle
FROM (SELECT doc_id, angle,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score ASC, angle ASC) AS rk
      FROM scores)
WHERE rk = 1
""")
# C6 (utils/separate_lines.py:1423-1470): angle grid cross-join, variance
# score per (doc, angle), top-1 per doc.

_both("ro_region_confidence", ("documents",), lambda d: f"""
WITH {_lines_cte(d)}
SELECT doc_id, col, CAST(ROUND(CAST(AVG(conf) AS DECIMAL(38,6)), 4) AS DOUBLE) AS avg_conf,
       COUNT(*) AS n
FROM lines GROUP BY doc_id, col
""")
# C4 (utils/contour.py:211-224): mean confidence per region.

_both("ro_line_kind_classify", ("documents",), lambda d: f"""
WITH {_lines_cte(d)}
SELECT doc_id, line_id,
       CASE WHEN (doc_id + line_id*3) % 10 < 6 THEN 'horizontal'
            WHEN (doc_id + line_id*3) % 10 < 9 THEN 'vertical'
            ELSE 'other' END AS sep_class
FROM lines WHERE col = 2
""")
# C3 (utils/__init__.py:187-219): slope-threshold case expression.

_both("ro_splitter_candidates", ("documents",), lambda d: f"""
WITH {_lines_cte(d)},
seps AS (
  SELECT doc_id, line_id, cy, (doc_id*7 + line_id*13) % 900 + 100 AS sep_w
  FROM lines WHERE col = 0 AND row % 4 = 0
)
SELECT doc_id, line_id, cy,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cy, line_id) AS INT) AS splitter_idx
FROM seps WHERE sep_w >= 680
""")
# D2 (utils/__init__.py:1444-1457): full-width separators -> ordered
# splitter list.

_both("ro_reading_order_ids", ("documents",), lambda d: f"""
WITH {_lines_cte(d)},
ordd AS (
  SELECT doc_id, line_id,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cy, cx, line_id) AS ord
  FROM lines
)
SELECT doc_id, line_id,
       {'format_string' if d == 'spark' else 'printf'}('region_%04d', ord) AS region_ref
FROM ordd
""")
# D8 (utils/counter.py:3-48): serial id formatting in write order.

_both("ro_table_extend", ("documents",), lambda d: f"""
WITH {_lines_cte(d)},
tabs AS (
  SELECT doc_id, line_id AS tab_id,
         cx - 150 AS tx0, cx + 150 AS tx1, cy - 40 AS ty0, cy + 40 AS ty1
  FROM lines WHERE col = 1 AND row % 5 = 0
),
hsep AS (
  SELECT doc_id, cx - 200 AS sx0, cx + 200 AS sx1, cy + 15 AS sy
  FROM lines WHERE col = 0 AND row % 3 = 1
)
SELECT t.doc_id, t.tab_id,
       LEAST(t.ty0, COALESCE(MIN(s.sy), t.ty0)) AS new_y0,
       GREATEST(t.ty1, COALESCE(MAX(s.sy), t.ty1)) AS new_y1
FROM tabs t LEFT JOIN hsep s
  ON s.doc_id = t.doc_id
  AND LEAST(t.tx1, s.sx1) - GREATEST(t.tx0, s.sx0) >= 100
  AND s.sy BETWEEN t.ty0 - 60 AND t.ty1 + 60
GROUP BY t.doc_id, t.tab_id, t.ty0, t.ty1
""")
# C15 (eynollah.py:1336-1458): extend table y-range across crossing
# horizontal separators -> min/max extent aggregation over an overlap join.

_both("ro_table_split", ("documents",), lambda d: """
WITH cells AS (
  SELECT doc_id, i,
         CASE WHEN doc_id % 3 = 0 AND i >= 3 THEN 700 + (i - 3) * 60
              ELSE 100 + i * 60 END AS x0
  FROM (SELECT doc_id, {gen} AS i FROM documents)
),
tbl AS (
  SELECT doc_id, MIN(x0) - 10 AS tx0, MAX(x0) + 60 AS tx1,
         40 AS ty0, 110 AS ty1
  FROM cells GROUP BY doc_id
),
j AS (
  SELECT c.doc_id, c.x0, c.x0 + 50 AS x1, t.tx0, t.tx1, t.ty0, t.ty1,
         MAX(c.x0 + 50) OVER (PARTITION BY c.doc_id ORDER BY c.x0
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
  FROM cells c JOIN tbl t ON c.doc_id = t.doc_id
),
stats AS (
  SELECT doc_id, MAX(tx0) AS tx0, MAX(tx1) AS tx1,
         SUM((x1 - x0) * 20.0) / ((MAX(tx1) - MAX(tx0)) * (MAX(ty1) - MAX(ty0))) AS coverage
  FROM j GROUP BY doc_id
),
gaps AS (
  SELECT doc_id, x0 - prev AS gap, (x0 + prev) / 2.0 AS cut,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY (x0 - prev) DESC, x0 DESC) AS rk
  FROM j WHERE prev IS NOT NULL
),
decided AS (
  SELECT s.doc_id, s.tx0, s.tx1, s.coverage, g.gap, g.cut,
         CASE WHEN s.coverage < 0.8 AND g.gap >= 0.25 * (s.tx1 - s.tx0)
              THEN 1 ELSE 0 END AS do_split
  FROM stats s JOIN gaps g ON g.doc_id = s.doc_id AND g.rk = 1
)
SELECT doc_id, 0 AS piece, CAST(tx0 AS DOUBLE) AS px0,
       CAST(CASE WHEN do_split = 1 THEN cut ELSE tx1 END AS DOUBLE) AS px1
FROM decided
UNION ALL
SELECT doc_id, 1 AS piece, CAST(cut AS DOUBLE) AS px0, CAST(tx1 AS DOUBLE) AS px1
FROM decided WHERE do_split = 1
""".format(gen="explode(sequence(0, 5))" if d == "spark" else "unnest(range(0, 6))"))
# C15 IoU-based table split (eynollah.py:1246-1316): a table bbox whose
# contained content covers < 80% and shows an x-gap >= 25% of its width
# splits at the widest gap midpoint (relational twin of
# eynollah_spark.tables.split_wide_tables; every 3rd synthesized doc
# carries a merged-tables bbox and must split).

_both("ro_region_skew", ("documents",), lambda d: f"""
WITH {_lines_cte(d)},
la AS (
  SELECT doc_id, col AS region, line_id,
         CAST(60 + (doc_id*7 + line_id*13) % 120 AS DOUBLE) AS w,
         CAST(12 + (line_id % 4) AS DOUBLE) AS h,
         CAST(((doc_id*11 + line_id*7) % 9) - 4 AS DOUBLE) AS angle
  FROM lines
),
u1 AS (SELECT * FROM la WHERE w > 2.5 * h),
m1 AS (SELECT doc_id, region, MEDIAN(w) AS wmed FROM u1 GROUP BY doc_id, region),
u2 AS (
  SELECT u1.doc_id, u1.region, u1.w, u1.angle FROM u1
  JOIN m1 ON u1.doc_id = m1.doc_id AND u1.region = m1.region
  WHERE u1.w / m1.wmed BETWEEN 0.67 AND 1.33
),
m2 AS (SELECT doc_id, region, MEDIAN(angle) AS amed FROM u2 GROUP BY doc_id, region),
u3 AS (
  SELECT u2.doc_id, u2.region, u2.angle, ABS(u2.angle - m2.amed) AS adev
  FROM u2 JOIN m2 ON u2.doc_id = m2.doc_id AND u2.region = m2.region
),
m3 AS (SELECT doc_id, region, MEDIAN(adev) AS madev FROM u3 GROUP BY doc_id, region)
SELECT u3.doc_id, u3.region,
       CAST(ROUND(CAST(AVG(u3.angle) AS DECIMAL(38,6)), 4) AS DOUBLE) AS skew,
       COUNT(*) AS n_used
FROM u3 JOIN m3 ON u3.doc_id = m3.doc_id AND u3.region = m3.region
WHERE u3.adev <= 2 * m3.madev
GROUP BY u3.doc_id, u3.region
""")
# C7 per-region skew (utils/contour.py:393-439) as the robust group agg
# SURVEY mapped it to: aspect filter (w > 2.5h), length-outlier filter
# (0.67..1.33 x median width), angle-outlier filter (dev <= 2 x median
# abs deviation), then mean. The reference's +-90deg wraparound branch
# only matters for near-vertical text; symbolic spans are near-horizontal
# so it is out of domain here.

_both("ro_printspace_filter", ("documents",), lambda d: f"""
WITH {_lines_cte(d)},
frame AS (
  SELECT doc_id,
         CAST(80 + doc_id % 7 AS INT)    AS fx0,
         CAST(880 - doc_id % 11 AS INT)  AS fx1,
         CAST(85 + doc_id % 10 AS INT)   AS fy0,
         CAST(700 - doc_id % 13 AS INT)  AS fy1
  FROM documents
)
SELECT l.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_in,
       CAST(SUM(CASE WHEN l.cx BETWEEN f.fx0 AND f.fx1
                 AND l.cy BETWEEN f.fy0 AND f.fy1 THEN 0 ELSE 1 END) AS BIGINT) AS n_outside
FROM lines l JOIN frame f ON l.doc_id = f.doc_id
GROUP BY l.doc_id
""")
# B9 page-frame / printspace filter (eynollah.py:318-401): count spans
# outside a synthesized per-page printspace box — the relational twin of
# pipeline.filter_printspace (pure pushed-down column predicates).

_both("ro_resume_antijoin", ("documents",), lambda d: f"""
WITH manifest AS (SELECT doc_id FROM documents WHERE doc_id % 7 < 2)
SELECT d.doc_id FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM manifest m WHERE m.doc_id = d.doc_id)
""")
# A4 (eynollah.py:2074-2079): skip-if-done as an anti-join against the
# checkpoint manifest.

# --- B. training-data text ops ----------------------------------------------

_both("dedup_exact", ("documents",), lambda d: f"""
SELECT md5(lower(trim(text))) AS fp, MIN(doc_id) AS keeper, COUNT(*) AS n_dupes
FROM documents GROUP BY md5(lower(trim(text)))
""")

def _tokens_cte(d, src="documents"):
    if d == "spark":
        return ("tokens AS (SELECT doc_id, pos + 1 AS pos, tok FROM (SELECT doc_id, "
                f"posexplode(split(text, ' ')) AS (pos, tok) FROM {src}))")
    return ("tokens AS (SELECT doc_id, "
            "unnest(generate_series(1, len(string_split(text, ' ')))) AS pos, "
            f"unnest(string_split(text, ' ')) AS tok FROM {src})")


def _hash32(d, expr):
    """First 32 bits of md5(expr) as BIGINT — identical values in both
    dialects (the portable stand-in for xxhash64, which DuckDB lacks)."""
    if d == "spark":
        return f"CAST(conv(substr(md5({expr}), 1, 8), 16, 10) AS BIGINT)"
    return f"CAST(CONCAT('0x', substr(md5({expr}), 1, 8)) AS BIGINT)"


def _hash60(d, expr):
    """First 60 bits of md5(expr) as BIGINT (15 hex chars: widest width
    whose unsigned value still parses as signed BIGINT portably)."""
    if d == "spark":
        return f"CAST(conv(substr(md5({expr}), 1, 15), 16, 10) AS BIGINT)"
    return f"CAST(CONCAT('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def _shingles_cte(d, src="documents"):
    if d == "spark":
        # 3-word shingles as a pure projection over the split array: the
        # LEAD-window form paid a full shuffle + sort of the token table
        # just to look two rows ahead; slicing the split array emits the
        # same triples inside the scan stage (guide §2.4 — remove
        # shuffles outright). Triple (w[i], w[i+1], w[i+2]) joined with
        # single spaces == CONCAT(tok, ' ', t2, ' ', t3) over the LEAD
        # pairs, and `i <= size(w) - 3` == `t3 IS NOT NULL`, so the
        # emitted (doc_id, sh) multiset is identical row for row.
        return f"""shingles AS (
  SELECT doc_id, {_hash32('spark', 'sh_str')} AS sh
  FROM (
    SELECT doc_id, explode(transform(sequence(0, size(w) - 3),
                   i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS sh_str
    FROM (SELECT doc_id, split(text, ' ') AS w FROM {src}) t
    WHERE size(w) >= 3)
)"""
    # DuckDB keeps the original one-pass LEAD-window form (frozen oracle)
    return f"""{_tokens_cte(d, src)},
shingles AS (
  SELECT doc_id, {_hash32(d, "CONCAT(tok, ' ', t2, ' ', t3)")} AS sh
  FROM (
    SELECT doc_id, tok,
           LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t2,
           LEAD(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t3
    FROM tokens)
  WHERE t3 IS NOT NULL
)"""


def _planted_docs_cte():
    """Near-duplicate test harness: the read-only testdata has no real
    near-duplicates, so the dedup operators run over the raw table UNION
    deterministic derived copies (every 20th doc with the first word
    dropped — Jaccard ~0.9 vs its source). Identical in both dialects;
    production swaps docs_nd for the raw table."""
    return """docs_nd AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, regexp_replace(text, '^[^ ]+ ', '') AS text
  FROM documents WHERE doc_id % 20 = 0
)"""


# --- real MinHash: k=128 linear-congruential hash family, b=16 bands x r=8
# rows (VERDICT r1 item 3; replaces the 4-value signature). All integer
# arithmetic stays below 2^52 so BIGINT math is exact in both dialects.
_MH_K, _MH_BANDS, _MH_P, _MH_M = 128, 16, 2147483647, 1048573


def _mh_a(i):
    return ((i * 2654435761) % _MH_M) * 2 + 1


def _mh_c(i):
    return (i * 40503 + 1299721) % _MH_M


def _minhash_pairs_cte(d, src="docs_nd", cap=64):
    """CTE chain shingles -> k=128 minhash -> 16 band signatures ->
    capped band buckets -> candidate pairs. Buckets larger than `cap`
    are dropped (with the cap recorded in the op's docstring): a hot
    bucket must never go quadratic at scale.

    Plan shape (the 100 TB consideration): the 128 mins are computed as
    128 MIN(...) aggregate expressions in ONE GROUP BY doc_id pass —
    never by exploding shingles x 128 into a 128x-wider shuffle. The 16
    band branches re-reference the tiny (n_docs x 128) aggregate;
    Spark's exchange reuse dedupes the upstream shingle scan."""
    return f"""{_shingles_cte(d, src)},
ds AS (SELECT DISTINCT doc_id, sh FROM shingles),
{_minhash_chain_cte(d, cap=cap)}"""


def _minhash_chain_cte(d, cap=64, ds="ds"):
    """The minhash chain from an existing shingle relation `ds` onward:
    mh -> sigs -> capped -> glist -> pairs. Split out so a Spark caller
    can MATERIALIZE ds once (cache + temp view) and reference it from
    multiple downstream joins — Spark inlines CTEs, so a 4x-referenced
    shingle CTE re-executes 4x (r2 finding); DuckDB callers keep the
    plain composed CTE."""
    st = "STRING" if d == "spark" else "VARCHAR"
    mins = ",\n         ".join(
        f"MIN(({_mh_a(i)} * (sh % {_MH_P}) + {_mh_c(i)}) % {_MH_P}) AS m{i}"
        for i in range(_MH_K))
    band_sigs = [
        _hash32(d, "CONCAT_WS(',', " + ", ".join(
            f"CAST(m{8 * b + j} AS {st})" for j in range(8)) + ")")
        for b in range(_MH_BANDS)]
    if d == "spark":
        sigs = ("SELECT doc_id, posexplode(array(" + ", ".join(band_sigs)
                + ")) AS (band, sig) FROM mh")
    else:
        sigs = ("SELECT doc_id, unnest(range(0, 16)) AS band, unnest(["
                + ", ".join(band_sigs) + "]) AS sig FROM mh")
    return f"""mh AS (
  SELECT doc_id,
         {mins}
  FROM {ds} GROUP BY doc_id
),
sigs AS (
  {sigs}
),
capped AS (
  SELECT doc_id, band, sig FROM (
    SELECT doc_id, band, sig, COUNT(*) OVER (PARTITION BY band, sig) AS n
    FROM sigs)
  WHERE n BETWEEN 2 AND {cap}
),
glist AS (
  SELECT band, sig, {"collect_list(doc_id)" if d == "spark" else "list(doc_id)"} AS docs
  FROM capped GROUP BY band, sig
),
pairs AS (
  SELECT doc_a, doc_b, COUNT(*) AS n_bands
  FROM ({'''
    SELECT g.band, A.doc_a, B.doc_b FROM glist g
    LATERAL VIEW explode(docs) A AS doc_a
    LATERAL VIEW explode(docs) B AS doc_b
    WHERE A.doc_a < B.doc_b''' if d == "spark" else '''
    SELECT g.band, ta.doc_a, tb.doc_b
    FROM glist g, UNNEST(g.docs) AS ta(doc_a), UNNEST(g.docs) AS tb(doc_b)
    WHERE ta.doc_a < tb.doc_b'''})
  GROUP BY doc_a, doc_b
)"""


def _jaccard_tail_sql(ds: str) -> str:
    """sizes + exact shingle-intersection Jaccard over candidate pairs,
    reading shingles from relation `ds` (dialect-neutral). Everything
    downstream of `pairs` works on the candidate-restricted shingle set
    (ds_cand = ds semi-joined against the tiny cand_docs dim, which
    broadcasts): at 10^9 docs a per-doc COUNT or an intersection join
    over the FULL shingle table would shuffle the whole relation for a
    handful of candidates — restricting first makes both intersection
    sides candidate-sized, so the (doc_id, sh) equi-joins stay
    broadcast-sized however large the corpus is. ds_cand re-executes
    per reference (Spark inlines CTEs), but each execution is a scan of
    the already-materialized `ds` plus a broadcast semi-join — scans,
    not shuffles."""
    return f"""
cand_docs AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM pairs UNION ALL SELECT doc_b AS doc_id FROM pairs) u
),
ds_cand AS (
  SELECT DISTINCT d.doc_id, d.sh FROM {ds} d JOIN cand_docs c ON c.doc_id = d.doc_id
),
sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM ds_cand GROUP BY doc_id
),
inter AS (
  SELECT p.doc_a, p.doc_b, CAST(MAX(p.n_bands) AS INT) AS n_bands, COUNT(*) AS common
  FROM pairs p JOIN ds_cand a ON a.doc_id = p.doc_a
               JOIN ds_cand b ON b.doc_id = p.doc_b AND b.sh = a.sh
  GROUP BY p.doc_a, p.doc_b
)
SELECT i.doc_a, i.doc_b, i.n_bands,
       ROUND(CAST(i.common AS DOUBLE) / (sa.n + sb.n - i.common), 4) AS jaccard
FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.common AS DOUBLE) / (sa.n + sb.n - i.common) >= 0.5"""


@_session_cached("documents")
def _ngram_jaccard_spark(spark: SparkSession) -> tuple[DataFrame, list, list]:
    """MinHash-candidates + exact n-gram Jaccard, Spark side. The shingle
    relation is referenced FOUR times downstream (minhash aggregate,
    per-doc sizes, both intersection sides), and the candidate `pairs`
    relation three times (both cand_docs branches + the intersection).
    Materialize both ONCE (cache + temp view) and compose the identical
    chain over the cached views — on a cluster this is the standard
    dataset-reuse checkpoint before a multi-join fan-out. DuckDB keeps
    the single composed CTE (its optimizer shares the subplan).

    CRITICAL plan-shape note (r6, measured on Spark 4.1): a cached temp
    view referenced from inside a ``WITH`` clause MISSES the cache — the
    CTERelationRef wrapper defeats CacheManager's sameResult lookup, so
    the r5 form (cached `_jacc_ds` + one big CTE query) silently
    re-tokenized the corpus ~10x per call (22 WindowExec / 26 parquet
    scans in the captured plan, plans/r06/dedup_ngram_jaccard_before.txt).
    Every statement below is therefore CTE-FREE: plain view references
    and nested subqueries, which DO substitute InMemoryTableScan.

    The shingle cache lives as long as the `_session_cached` key: call
    2..n in a session reuse it (the documented warm path — the one-time
    tokenize is an ingest-time cost); a new session, sf_dir or documents
    file rebuilds it from the parquet input. The candidate chain and the
    exact-Jaccard tail recompute on every call."""
    from pyspark import StorageLevel

    # NO DISTINCT here (r5): MIN is idempotent, so duplicate shingles
    # cannot change a MinHash signature — deduping the FULL shingle
    # relation cost a whole extra shuffle before the cache; the only
    # consumers that need set semantics (sizes + exact intersection)
    # get a DISTINCT on the candidate-restricted relation, which is
    # broadcast-sized however large the corpus is.
    ds = spark.sql(
        f"WITH {_planted_docs_cte()},\n{_shingles_cte('spark', 'docs_nd')}\n"
        "SELECT doc_id, sh FROM shingles")
    # MEMORY_AND_DISK deliberately (VERDICT r4): at 100 TB the shingle
    # relation exceeds executor memory — MEMORY_ONLY would silently
    # evict and re-tokenize; spilling partitions to local disk keeps
    # the materialize-once contract at any scale
    ds.persist(StorageLevel.MEMORY_AND_DISK)
    ds.createOrReplaceTempView("_jacc_ds")

    # candidate pairs: the minhash chain of _minhash_chain_cte, written
    # as nested subqueries (NOT CTEs, see above) over the cached view.
    # `sh % P` is hoisted into the scan projection — the r5 form
    # re-evaluated it inside all 128 MIN expressions (127 redundant mods
    # per shingle row); (a*shp + c) % P over the hoisted shp is the
    # identical integer arithmetic.
    mins = ",\n         ".join(
        f"MIN(({_mh_a(i)} * shp + {_mh_c(i)}) % {_MH_P}) AS m{i}"
        for i in range(_MH_K))
    band_sigs = ", ".join(
        _hash32("spark", "CONCAT_WS(',', " + ", ".join(
            f"CAST(m{8 * b + j} AS STRING)" for j in range(8)) + ")")
        for b in range(_MH_BANDS))
    # bucket-size cap via size(collect_list(...)) instead of the r5 COUNT
    # window: the window form paid an extra sort on the (band, sig)
    # exchange before the same-keyed collect_list aggregate; filtering
    # the grouped list length keeps the identical 2..64 cap semantics
    # (the pair explosion is order-insensitive) with one aggregate and
    # no sort.
    pairs = spark.sql(f"""
SELECT doc_a, doc_b, COUNT(*) AS n_bands FROM (
  SELECT A.doc_a, B.doc_b FROM (
    SELECT docs FROM (
      SELECT band, sig, collect_list(doc_id) AS docs
      FROM (SELECT doc_id, posexplode(array({band_sigs})) AS (band, sig)
            FROM (SELECT doc_id,
                         {mins}
                  FROM (SELECT doc_id, sh % {_MH_P} AS shp FROM _jacc_ds) s
                  GROUP BY doc_id) mh) sigs
      GROUP BY band, sig) g
    WHERE size(docs) BETWEEN 2 AND 64) gg
  LATERAL VIEW explode(docs) A AS doc_a
  LATERAL VIEW explode(docs) B AS doc_b
  WHERE A.doc_a < B.doc_b) p
GROUP BY doc_a, doc_b""")
    pairs.persist(StorageLevel.MEMORY_AND_DISK).createOrReplaceTempView("_jacc_pairs")

    # candidate-restricted shingle set (_jaccard_tail_sql semantics):
    # everything downstream works on ds semi-joined against the tiny
    # candidate dim, so both intersection sides stay broadcast-sized
    # however large the corpus is
    dsc = spark.sql("""
SELECT DISTINCT d.doc_id, d.sh FROM _jacc_ds d
JOIN (SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM _jacc_pairs
        UNION ALL SELECT doc_b AS doc_id FROM _jacc_pairs) u) c
  ON c.doc_id = d.doc_id""")
    dsc.persist(StorageLevel.MEMORY_AND_DISK).createOrReplaceTempView("_jacc_dsc")

    final = spark.sql("""
SELECT i.doc_a, i.doc_b, i.n_bands,
       ROUND(CAST(i.common AS DOUBLE) / (sa.n + sb.n - i.common), 4) AS jaccard
FROM (SELECT p.doc_a, p.doc_b, CAST(MAX(p.n_bands) AS INT) AS n_bands,
             COUNT(*) AS common
      FROM _jacc_pairs p JOIN _jacc_dsc a ON a.doc_id = p.doc_a
           JOIN _jacc_dsc b ON b.doc_id = p.doc_b AND b.sh = a.sh
      GROUP BY p.doc_a, p.doc_b) i
JOIN (SELECT doc_id, COUNT(*) AS n FROM _jacc_dsc GROUP BY doc_id) sa
  ON sa.doc_id = i.doc_a
JOIN (SELECT doc_id, COUNT(*) AS n FROM _jacc_dsc GROUP BY doc_id) sb
  ON sb.doc_id = i.doc_b
WHERE CAST(i.common AS DOUBLE) / (sa.n + sb.n - i.common) >= 0.5""")
    return final, [pairs, dsc], [ds]


_fn("dedup_ngram_jaccard", ("documents",), _ngram_jaccard_spark, duck_sql=f"""
WITH {_planted_docs_cte()},
{_minhash_pairs_cte("duck", src="docs_nd")},
{_jaccard_tail_sql("ds")}
""")
# n-gram Jaccard near-dup, scale-safe shape (VERDICT r1 item 2):
# candidate pairs come from capped MinHash band buckets — NEVER from a
# raw shared-shingle self-join (one hot shingle shared by 10^6 docs
# would produce 10^12 join rows); exact Jaccard is then computed only
# over the bounded candidate set.

def _simhash_cte(d, src="docs_nd"):
    """60-bit SimHash as 60 SUM(CASE) aggregate expressions in ONE
    GROUP BY doc_id pass — never by exploding tokens x 60 bits into a
    60x-wider shuffle (the same single-pass shape as the MinHash CTE)."""
    shift = (lambda b: f"(hv >> {b})") if d == "duck" \
        else (lambda b: f"shiftright(hv, {b})")
    sums = ",\n         ".join(
        f"SUM(CASE WHEN {shift(b)} % 2 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(60))
    sig = " + ".join(f"CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
                     for b in range(60))
    return f"""{_tokens_cte(d, src)},
th AS (SELECT doc_id, {_hash60(d, 'tok')} AS hv FROM tokens),
bitsums AS (
  SELECT doc_id,
         {sums}
  FROM th GROUP BY doc_id
),
sims AS (
  SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM bitsums
)"""


# SimHash signature construction: per-bit majority vote over token
# hashes -> 60-bit signature (15 md5 hex chars: the widest width whose
# unsigned value still parses exactly as a signed BIGINT in both
# dialects). Exercised end-to-end by dedup_simhash_neardup below (the
# r3 standalone `dedup_simhash` signature dump was a strict subset of
# that query's CTE and was consolidated into it — VERDICT r3 item 1).


def _simhash_nd_sql(d):
    st = "STRING" if d == "spark" else "VARCHAR"
    lst = "collect_list" if d == "spark" else "list"
    if d == "spark":
        explode = """
    SELECT CAST(element_at(split(A.pa, ':'), 1) AS BIGINT) AS doc_a,
           CAST(element_at(split(A.pa, ':'), 2) AS BIGINT) AS sa,
           CAST(element_at(split(B.pb, ':'), 1) AS BIGINT) AS doc_b,
           CAST(element_at(split(B.pb, ':'), 2) AS BIGINT) AS sb
    FROM glist g
    LATERAL VIEW explode(docs) A AS pa
    LATERAL VIEW explode(docs) B AS pb"""
        shift, xr = ("shiftright(simhash, CAST(15*c AS INT))", "sa ^ sb")
    else:
        explode = """
    SELECT CAST(str_split(ta.pa, ':')[1] AS BIGINT) AS doc_a,
           CAST(str_split(ta.pa, ':')[2] AS BIGINT) AS sa,
           CAST(str_split(tb.pb, ':')[1] AS BIGINT) AS doc_b,
           CAST(str_split(tb.pb, ':')[2] AS BIGINT) AS sb
    FROM glist g, UNNEST(g.docs) AS ta(pa), UNNEST(g.docs) AS tb(pb)"""
        shift, xr = ("(simhash >> (15*c))", "xor(sa, sb)")
    return f"""
WITH {_planted_docs_cte()},
{_simhash_cte(d, src="docs_nd")},
chunks AS (
  SELECT doc_id, simhash, c, {shift} % 32768 AS chunk
  FROM sims {'LATERAL VIEW explode(sequence(0, 3)) cc AS c'
             if d == 'spark' else ', UNNEST(range(0, 4)) AS cc(c)'}
),{'''
glist AS (
  -- r6: the 2..64 bucket cap applied to the GROUPED list length (one
  -- aggregate) instead of a COUNT window before the same-keyed
  -- collect_list (the window paid an extra sort on the (c, chunk)
  -- exchange; the pair explosion downstream is order-insensitive, so
  -- the cap semantics are identical)
  SELECT c, chunk, docs FROM (
    SELECT c, chunk,
           collect_list(CONCAT(CAST(doc_id AS STRING), ':',
                               CAST(simhash AS STRING))) AS docs
    FROM chunks GROUP BY c, chunk) g
  WHERE size(docs) BETWEEN 2 AND 64
),''' if d == 'spark' else f'''
capped AS (
  SELECT doc_id, simhash, c, chunk FROM (
    SELECT doc_id, simhash, c, chunk,
           COUNT(*) OVER (PARTITION BY c, chunk) AS n
    FROM chunks)
  WHERE n BETWEEN 2 AND 64
),
glist AS (
  SELECT c, chunk,
         {lst}(CONCAT(CAST(doc_id AS {st}), ':', CAST(simhash AS {st}))) AS docs
  FROM capped GROUP BY c, chunk
),'''}
cand AS (
  SELECT DISTINCT doc_a, doc_b, sa, sb FROM ({explode}
  ) WHERE doc_a < doc_b
)
SELECT doc_a, doc_b, CAST(bit_count({xr}) AS INT) AS hamming
FROM cand
WHERE bit_count({xr}) <= 3
"""


_both("dedup_simhash_neardup", ("documents",), _simhash_nd_sql, scan_floor=True)
# SimHash near-dup at scale: 60-bit signatures, Hamming-bucket join via
# the pigeonhole chunks (distance <=3 => at least one of 4 15-bit chunks
# equal), capped buckets, exact popcount filter on candidates only.

_both("text_quality_score", ("documents",), scan_floor=True, body_of=lambda d: f"""
SELECT doc_id,
       length(text) AS n_chars_measured,
       CAST(length(text) - length(replace(text, ' ', '')) + 1 AS INT) AS n_tokens,
       ROUND(CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE)
             / (length(text) + 1), 4) AS token_density,
       ROUND(CAST(length(text) - length(replace(replace(replace(text, '.', ''), ',', ''), '!', ''))
             AS DOUBLE) / (length(text) + 1), 4) AS punct_ratio,
       CASE WHEN length(text) BETWEEN 50 AND 5000 THEN 1 ELSE 0 END AS len_ok,
       ROUND(CAST({"size(filter(split(text, ' '), w -> w IN ('the','and','of','to','a','in','is','that','der','die','das','und')))"
                   if d == "spark" else
                   "len(list_filter(string_split(text, ' '), w -> w IN ('the','and','of','to','a','in','is','that','der','die','das','und')))"}
             AS DOUBLE) / (length(text) - length(replace(text, ' ', '')) + 1), 4) AS stopword_ratio,
       CAST(CEIL(length(text) / 4.0) AS INT) AS bpe_est,
       CAST({"size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))"
             if d == "spark" else
             "len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))"}
            AS INT) AS bpe_regex_tokens
FROM documents
""")
# quality scoring + token counting in one pass: length/punct/stopword
# ratios plus whitespace (n_tokens), length/4 BPE estimate, and a
# BPE-ish regex tokenizer (word / number / symbol pieces). The r3
# standalone `text_token_count` was a column-subset twin and was
# consolidated here (VERDICT r3 item 1).

_both("text_lang_id", ("documents",), scan_floor=True, body_of=lambda d: f"""
WITH {_tokens_cte(d)},
votes AS (
  SELECT doc_id,
         SUM(CASE WHEN tok IN ('the','and','of','to','is','in','that','for') THEN 1 ELSE 0 END) AS en,
         SUM(CASE WHEN tok IN ('der','die','das','und','ist','ein','mit','zu') THEN 1 ELSE 0 END) AS de
  FROM tokens GROUP BY doc_id
)
SELECT doc_id, CASE WHEN de > en THEN 'de' WHEN en > de THEN 'en' ELSE 'und' END AS lang_guess
FROM votes
""")

_both("text_source_quality", ("documents",), lambda d: """
WITH per_source AS (
  SELECT source, lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(ROUND(CAST(AVG(CAST(length(text) AS DOUBLE)) AS DECIMAL(38,6)), 2)
              AS DOUBLE) AS avg_len,
         CAST(ROUND(CAST(AVG(CASE WHEN length(text) BETWEEN 50 AND 5000
                                  THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)
                         AS DECIMAL(38,6)), 4) AS DOUBLE) AS len_ok_rate
  FROM documents GROUP BY source, lang
)
SELECT source, lang, n_docs, avg_len, len_ok_rate,
       CASE WHEN len_ok_rate >= 0.5 AND n_docs >= 3 THEN 1 ELSE 0 END AS keep_source
FROM per_source
""")
# source-level quality gating (standard training-pipeline op: drop
# whole low-quality sources before per-doc filtering — one aggregate
# pass, no per-doc work for dropped sources).
# The averages round a DECIMAL(38,6) cast, as tpch_q1_pricing's do: 41/40
# is 1.0249999999999999 in double, which Spark's ROUND(double) rounds to
# 1.03 and DuckDB's to 1.02.

_both("text_fingerprint", ("documents",), scan_floor=True, body_of=lambda d: f"""
WITH {_shingles_cte(d)}
SELECT doc_id, MIN(sh) AS fingerprint
FROM shingles GROUP BY doc_id
""")
# rolling-hash document fingerprint (winnowing min over shingle hashes).


def _boiler_sql(d):
    """Sub-document boilerplate detection (standard pipeline op: repeated
    passages — headers, license blurbs — removed before training). Docs
    chunk into disjoint 2-word windows (the fixture vocab is ~40 words;
    real deployments use 8-16-word windows); a chunk seen in >= 16 distinct
    docs is boilerplate; emit per-doc boilerplate chunk count + fraction.
    Chunking is a projection (no self-join on raw chunks: the grouped
    chunk table is the only shuffle beyond the final per-doc agg)."""
    if d == "spark":
        words = "split(text, ' ')"
        chunks = ("LATERAL VIEW explode(transform(sequence(0, size(words) DIV 2 - 1), "
                  "i -> array_join(slice(words, i*2 + 1, 2), ' '))) t AS chunk")
        guard = "size(words) >= 2"
    else:
        words = "string_split(text, ' ')"
        chunks = (", UNNEST(list_transform(range(0, CAST(len(words) // 2 AS BIGINT)), "
                  "i -> array_to_string(words[i*2 + 1 : i*2 + 2], ' '))) AS t(chunk)")
        guard = "len(words) >= 2"
    return f"""
WITH w AS (SELECT doc_id, {words} AS words FROM documents),
c AS (
  SELECT w.doc_id, t.chunk FROM w {chunks}
  WHERE {guard}
),
rep AS (
  SELECT chunk FROM c GROUP BY chunk HAVING COUNT(DISTINCT doc_id) >= 16
)
SELECT c.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(r.chunk) AS BIGINT) AS n_boiler,
       ROUND(CAST(COUNT(r.chunk) AS DOUBLE) / COUNT(*), 4) AS boiler_frac
FROM c LEFT JOIN rep r ON c.chunk = r.chunk
GROUP BY c.doc_id
"""

_both("dedup_boilerplate_chunks", ("documents",), _boiler_sql, scan_floor=True)
# sub-document (passage-level) dedup: the training-data op exact/MinHash
# doc dedup does not cover — repeated boilerplate inside otherwise-unique
# docs. Chunk inventory is bounded (disjoint-stride windows), the
# repeated-chunk dim table is grouped before joining back per doc.

_both("text_domain_mix", ("documents",), lambda d: """
WITH per AS (SELECT source, lang, COUNT(*) AS n FROM documents GROUP BY source, lang),
tot AS (SELECT source, SUM(n) AS tot FROM per GROUP BY source)
SELECT p.source, CAST(t.tot AS BIGINT) AS n_docs, CAST(COUNT(*) AS INT) AS n_langs,
       ROUND(-SUM(CAST(p.n AS DOUBLE) / t.tot * LN(CAST(p.n AS DOUBLE) / t.tot)), 4)
         AS lang_entropy
FROM per p JOIN tot t ON p.source = t.source
GROUP BY p.source, t.tot
""")
# corpus-composition report (domain/language mix + entropy per source) —
# the curation dashboard op behind source reweighting decisions; two
# grouped aggregates, no per-doc work.

_both("events_funnel", ("events",), lambda d: """
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts >= v.t_view
    AND e.ts <= v.t_view + INTERVAL 24 HOUR
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
    AND e.ts <= c.t_click + INTERVAL 24 HOUR
  GROUP BY e.user_id
)
SELECT 'view' AS step, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
UNION ALL
SELECT 'view>click' AS step, CAST(COUNT(*) AS BIGINT) AS n_users FROM c
UNION ALL
SELECT 'view>click>purchase' AS step, CAST(COUNT(*) AS BIGINT) AS n_users FROM p
""")
# sequential funnel (ordered-event conversion): per-user min-ts chaining,
# three grouped joins on user_id — no window scan of the full event log.

# --- C. similarity search over embeddings ------------------------------------

def _sim_topk_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    load_views(spark, sf_dir, "embeddings", scan_floor=True)
    nrm = lambda c: F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x))
    # precompute each vector's norm ONCE (r6): the r5 form re-evaluated
    # the interpreted higher-order SQRT(SUM(x^2)) per (query, vector)
    # pair — 5x per corpus vector; dot/(nv*nq) is the identical
    # expression tree over identical values
    emb = spark.table("embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("nv", nrm(F.col("v")))
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("nv").alias("nq"))
    dot = F.aggregate(F.zip_with("v", "qv", lambda a, b: a * b),
                      F.lit(0.0), lambda acc, x: acc + x)
    j = emb.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("query_id"))
    j = j.withColumn("sim", dot / (F.col("nv") * F.col("nq")))
    from pyspark.sql import Window as W
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (j.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 5)
             .select("query_id", F.col("rk").cast("int").alias("rk"), "vec_id",
                     F.round("sim", 3).alias("sim")))

_fn("sim_topk_cosine", ("embeddings",), _sim_topk_spark, duck_sql="""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
j AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS sim
  FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id
)
SELECT query_id, CAST(rk AS INT) AS rk, vec_id, ROUND(sim, 3) AS sim
FROM (SELECT query_id, vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rk
      FROM j)
WHERE rk <= 5
""")
# brute-force cosine top-k (the ANN baseline; the LSH bucket variant
# below is the scale path).

# (The r3 standalone `sim_lsh_buckets` bucket histogram was a strict
# subset of sim_ann_topk's `counts` CTE and was consolidated into it —
# VERDICT r3 item 1.)

_EMB_DIM = 64
_LSH_TABLES, _LSH_BITS, _LSH_TERMS = 6, 4, 8


def _rh_bucket_expr(d, t):
    """Random-hyperplane LSH bucket for hash table `t`: _LSH_BITS sign
    bits, each the sign of a sparse +-1 projection over 8 pseudo-randomly
    chosen dims (deterministic integer schedule -> identical in both
    dialects). Table/bit counts are tuned for recall at the fixture's
    neighbor distances (random unit 64-d vectors: top-5 cosine ~0.2-0.4);
    a production deployment tunes them to its embedding geometry — the
    bucket-size caps are what guarantee bounded cost either way."""
    def elem(i):  # 1-based element access
        return f"element_at(v, {i})" if d == "spark" else f"v[{i}]"

    bits = []
    for j in range(_LSH_BITS):
        terms = []
        for k in range(_LSH_TERMS):
            dim = ((t * 29 + j * 13 + k * 5) % _EMB_DIM) + 1
            sgn = "+" if (t + j + k) % 2 == 0 else "-"
            terms.append(f"{sgn} {elem(dim)}")
        bits.append(f"(CASE WHEN ({' '.join(terms)}) > 0 THEN {1 << j} ELSE 0 END)")
    return "CAST(" + " + ".join(bits) + " AS INT)"


def _emb_nd_sql(d):
    if d == "spark":
        base_v = "transform(CAST(embedding AS ARRAY<DOUBLE>), x -> x)"
        pert_v = "transform(CAST(embedding AS ARRAY<DOUBLE>), x -> x + 0.002)"
        cos = ("aggregate(zip_with(ea.v, eb.v, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
               " / (SQRT(aggregate(ea.v, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x))"
               " * SQRT(aggregate(eb.v, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x)))")
    else:
        base_v = "embedding::DOUBLE[]"
        pert_v = "list_transform(embedding::DOUBLE[], x -> x + 0.002)"
        cos = "list_cosine_similarity(ea.v, eb.v)"
    # all 6 table buckets in ONE projection over ONE scan, unpivoted
    # (a 6-way UNION ALL re-executes the emb subtree per branch)
    bucket_exprs = ", ".join(_rh_bucket_expr(d, t) for t in range(_LSH_TABLES))
    if d == "spark":
        tabs = (f"  SELECT vec_id, v, posexplode(array({bucket_exprs})) "
                "AS (t, bucket) FROM emb")
    else:
        tabs = (f"  SELECT vec_id, v, unnest(range(0, {_LSH_TABLES})) AS t, "
                f"unnest([{bucket_exprs}]) AS bucket FROM emb")
    return f"""
WITH emb AS (
  SELECT vec_id, {base_v} AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, {pert_v} AS v
  FROM embeddings WHERE vec_id % 10 = 0
),
tabs AS (
{tabs}
),
counts AS (SELECT t, bucket, COUNT(*) AS n FROM tabs GROUP BY t, bucket),
capped AS (
  SELECT s.vec_id, s.t, s.bucket FROM tabs s
  JOIN counts c ON s.t = c.t AND s.bucket = c.bucket AND c.n BETWEEN 2 AND 128
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM capped a JOIN capped b
    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT c.vec_a, c.vec_b, ROUND({cos}, 3) AS sim
FROM cand c JOIN emb ea ON ea.vec_id = c.vec_a
            JOIN emb eb ON eb.vec_id = c.vec_b
WHERE {cos} >= 0.9
"""


def _cos_expr(d, a, b):
    if d == "duck":
        return f"list_cosine_similarity({a}, {b})"
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
            f" / (SQRT(aggregate({a}, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x))"
            f" * SQRT(aggregate({b}, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x)))")


#: Probe-side bucket cap (r2 VERDICT item 2): per-query candidate work is
#: bounded by (1 + _LSH_BITS) probes x _LSH_TABLES tables x CAP vectors
#: regardless of corpus size — a hot bucket at 10^9 vectors costs a
#: skipped probe, never a linear scan. Production scales _LSH_BITS with
#: log(N) so buckets stay near-constant size; the cap is the hard bound.
_ANN_PROBE_CAP = 512


def _xor(d, a, b):
    return f"({a} ^ {b})" if d == "spark" else f"xor({a}, {b})"


def _ann_topk_sql(d):
    base_v = ("transform(CAST(embedding AS ARRAY<DOUBLE>), x -> x)" if d == "spark"
              else "embedding::DOUBLE[]")
    bucket_exprs = ", ".join(_rh_bucket_expr(d, t) for t in range(_LSH_TABLES))
    if d == "spark":
        tabs = (f"  SELECT vec_id, posexplode(array({bucket_exprs})) "
                "AS (t, bucket) FROM emb")
    else:
        tabs = (f"  SELECT vec_id, unnest(range(0, {_LSH_TABLES})) AS t, "
                f"unnest([{bucket_exprs}]) AS bucket FROM emb")
    # multi-probe (Lv et al., VLDB'07 idea, static schedule): probe the
    # query's own bucket plus every Hamming-distance-1 bucket — for
    # near-orthogonal neighbors (random unit 64-d: top-5 cosine ~0.2-0.4,
    # per-bit collision p~0.6) this lifts per-table hit probability from
    # p^4~0.13 to p^4 + 4*p^3*(1-p) ~ 0.47, i.e. ~0.98 over 6 tables,
    # without adding hash tables (candidate volume grows 5x, still capped).
    masks = ", ".join(str(po) for po in [0] + [1 << j for j in range(_LSH_BITS)])
    probe_from = (f"FROM tabs s LATERAL VIEW explode(array({masks})) p AS po"
                  if d == "spark"
                  else f"FROM tabs s, UNNEST([{masks}]) AS p(po)")
    cos = _cos_expr(d, "eq.v", "ev.v")
    return f"""
WITH emb AS (SELECT vec_id, {base_v} AS v FROM embeddings),
tabs AS (
{tabs}
),
counts AS (SELECT t, bucket, COUNT(*) AS n FROM tabs GROUP BY t, bucket),
q AS (
  SELECT s.vec_id, s.t, {_xor(d, "s.bucket", "p.po")} AS bucket
  {probe_from}
  WHERE s.vec_id < 5
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, tb.vec_id
  FROM q
  JOIN counts c ON q.t = c.t AND q.bucket = c.bucket AND c.n <= {_ANN_PROBE_CAP}
  JOIN tabs tb ON q.t = tb.t AND q.bucket = tb.bucket AND tb.vec_id != q.vec_id
),
scored AS (
  SELECT c.query_id, c.vec_id, {cos} AS sim
  FROM cand c JOIN emb eq ON eq.vec_id = c.query_id
              JOIN emb ev ON ev.vec_id = c.vec_id
)
SELECT query_id, CAST(rk AS INT) AS rk, vec_id, ROUND(sim, 3) AS sim
FROM (SELECT query_id, vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rk
      FROM scored)
WHERE rk <= 5
"""


@_session_cached("embeddings")
def _ann_topk_spark(spark: SparkSession) -> tuple[DataFrame, list, list]:
    """Spark side of sim_ann_topk (same candidate set / sims as
    _ann_topk_sql('spark'), which stays the DuckDB oracle): the emb
    projection and the 6-table LSH bucket projection are materialized
    once and referenced from CTE-free statements (Spark 4.1 misses the
    cache for views inside a WITH clause — see _ngram_jaccard_spark);
    per-vector norms are precomputed so the exact cosine on probed
    candidates is dot/(nrm_q*nrm_v), the identical expression tree
    evaluated once per vector instead of once per pair side."""
    from pyspark import StorageLevel

    emb = spark.sql("""
SELECT vec_id, v,
       SQRT(aggregate(v, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x)) AS nrm
FROM (SELECT vec_id, transform(CAST(embedding AS ARRAY<DOUBLE>), x -> x) AS v
      FROM embeddings) e""")
    emb.persist(StorageLevel.MEMORY_AND_DISK).createOrReplaceTempView("_ann_emb")
    bucket_exprs = ", ".join(_rh_bucket_expr("spark", t) for t in range(_LSH_TABLES))
    tabs = spark.sql(
        f"SELECT vec_id, posexplode(array({bucket_exprs})) AS (t, bucket) "
        "FROM _ann_emb")
    tabs.persist(StorageLevel.MEMORY_AND_DISK).createOrReplaceTempView("_ann_tabs")
    masks = ", ".join(str(po) for po in [0] + [1 << j for j in range(_LSH_BITS)])
    final = spark.sql(f"""
SELECT query_id, CAST(rk AS INT) AS rk, vec_id, ROUND(sim, 3) AS sim
FROM (SELECT query_id, vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, vec_id ASC) AS rk
      FROM (
        SELECT c.query_id, c.vec_id,
               aggregate(zip_with(eq.v, ev.v, (x, y) -> x * y),
                         CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)
                 / (eq.nrm * ev.nrm) AS sim
        FROM (
          SELECT DISTINCT q.vec_id AS query_id, tb.vec_id
          FROM (SELECT s.vec_id, s.t, (s.bucket ^ p.po) AS bucket
                FROM _ann_tabs s LATERAL VIEW explode(array({masks})) p AS po
                WHERE s.vec_id < 5) q
          JOIN (SELECT t, bucket, COUNT(*) AS n FROM _ann_tabs
                GROUP BY t, bucket) c
            ON q.t = c.t AND q.bucket = c.bucket AND c.n <= {_ANN_PROBE_CAP}
          JOIN _ann_tabs tb
            ON q.t = tb.t AND q.bucket = tb.bucket AND tb.vec_id != q.vec_id) c
        JOIN _ann_emb eq ON eq.vec_id = c.query_id
        JOIN _ann_emb ev ON ev.vec_id = c.vec_id) scored)
WHERE rk <= 5""")
    return final, [emb, tabs], []


_fn("sim_ann_topk", ("embeddings",), _ann_topk_spark,
    duck_sql=_ann_topk_sql("duck"))
# approximate-nearest-neighbor SEARCH (the 100 TB path next to the
# brute-force sim_topk_cosine baseline): each query multi-probes its own
# bucket + all distance-1 buckets across the 6 random-hyperplane LSH
# tables, with a hard probe-side bucket cap; exact cosine is computed on
# probed candidates only, top-5 per query. Both engines compute the same
# deterministic candidate set, so the oracle comparison is exact.


@_session_cached("embeddings")
def _emb_nd_spark(spark: SparkSession) -> tuple[DataFrame, list, list]:
    """Spark side of dedup_embedding_neardup, restructured for plan
    shape (same candidate set and sims as _emb_nd_sql('spark'), which
    remains the DuckDB oracle's form):

    - the emb union (base + planted perturbed copies) is materialized
      ONCE with its L2 norm precomputed, instead of re-executing the
      scan+union subtree for every downstream reference (the r5 plan
      re-ran it 5x) and re-deriving SQRT(SUM(x^2)) per candidate PAIR;
      sim = dot/(nrm_a*nrm_b) is arithmetically the identical
      expression tree, evaluated once per vector instead of once per
      pair side.
    - capped buckets via size(collect_list()) BETWEEN 2 AND 128 — one
      aggregate replacing the r5 counts-aggregate + join + self-join
      (identical cap semantics, pair explosion is order-insensitive).
    - every statement is CTE-free: on Spark 4.1 a cached view referenced
      inside a WITH clause misses the InMemoryRelation cache entirely
      (see _ngram_jaccard_spark).
    - exact cosine is computed once in a subquery; the >= 0.9 filter
      applies to the unrounded value exactly as the SQL form does."""
    from pyspark import StorageLevel

    emb = spark.sql("""
SELECT vec_id, v,
       SQRT(aggregate(v, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x)) AS nrm
FROM (
  SELECT vec_id, transform(CAST(embedding AS ARRAY<DOUBLE>), x -> x) AS v
  FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         transform(CAST(embedding AS ARRAY<DOUBLE>), x -> x + 0.002) AS v
  FROM embeddings WHERE vec_id % 10 = 0) u""")
    emb.persist(StorageLevel.MEMORY_AND_DISK).createOrReplaceTempView("_embnd")
    bucket_exprs = ", ".join(_rh_bucket_expr("spark", t) for t in range(_LSH_TABLES))
    cand = spark.sql(f"""
SELECT DISTINCT A.vec_a, B.vec_b FROM (
  SELECT docs FROM (
    SELECT t, bucket, collect_list(vec_id) AS docs
    FROM (SELECT vec_id, v, posexplode(array({bucket_exprs})) AS (t, bucket)
          FROM _embnd) tabs
    GROUP BY t, bucket) g
  WHERE size(docs) BETWEEN 2 AND 128) gg
LATERAL VIEW explode(docs) A AS vec_a
LATERAL VIEW explode(docs) B AS vec_b
WHERE A.vec_a < B.vec_b""")
    cand.persist(StorageLevel.MEMORY_AND_DISK).createOrReplaceTempView("_embnd_cand")
    final = spark.sql("""
SELECT vec_a, vec_b, ROUND(sim, 3) AS sim
FROM (
  SELECT c.vec_a, c.vec_b,
         aggregate(zip_with(ea.v, eb.v, (x, y) -> x * y),
                   CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)
           / (ea.nrm * eb.nrm) AS sim
  FROM _embnd_cand c
  JOIN _embnd ea ON ea.vec_id = c.vec_a
  JOIN _embnd eb ON eb.vec_id = c.vec_b) s
WHERE sim >= 0.9""")
    return final, [emb, cand], []


_fn("dedup_embedding_neardup", ("embeddings",), _emb_nd_spark,
    duck_sql=_emb_nd_sql("duck"))
# embedding-cosine near-dup, scale-safe shape (VERDICT r1 items 3/4):
# SIX random-hyperplane LSH tables (4 sparse sign bits each) instead of
# one static axis-aligned code; candidate pairs only from buckets of
# size 2..128 (cap: a dense bucket never goes quadratic); exact cosine
# verified on candidates only. Planted perturbed copies of every 10th
# vector make the oracle comparison non-vacuous (~50 true pairs at
# sf0.01, sim ~0.9999 vs natural max ~0.40 on these tables).

# --- D. core relational / events ---------------------------------------------

_both("tpch_q1_pricing", ("lineitem",), lambda d: """
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(CAST(SUM(l_quantity) AS DECIMAL(38,6)), 2) AS DOUBLE) AS sum_qty,
       CAST(ROUND(CAST(SUM(l_extendedprice) AS DECIMAL(38,6)), 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(CAST(SUM(l_extendedprice * (1 - l_discount)) AS DECIMAL(38,6)), 2)
            AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(CAST(AVG(l_quantity) AS DECIMAL(38,6)), 4) AS DOUBLE) AS avg_qty,
       CAST(ROUND(CAST(AVG(l_discount) AS DECIMAL(38,6)), 4) AS DOUBLE) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")

_both("tpch_q3_topk", ("customer", "orders", "lineitem"), lambda d: """
SELECT l.l_orderkey,
       CAST(ROUND(CAST(SUM(l.l_extendedprice * (1 - l.l_discount)) AS DECIMAL(38,6)), 2)
            AS DOUBLE) AS revenue,
       o.o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, l.l_orderkey ASC
LIMIT 10
""")
# revenue rounds a DECIMAL(38,6) cast: ROUND(double) rounds a half-cent
# tie up in Spark (through a decimal) and down in DuckDB (0.285 is
# 0.28499999999999998), so the two engines would disagree by 0.01.
# tpch_q1_pricing (sums and averages), events_hourly_window,
# tpch_q6_revenue_delta and rollup_region_nation round the same way.

# (The r3 `join_region_nation_rollup` flat star-join aggregate was a
# grouping-set subset of rollup_region_nation below and was
# consolidated into it — VERDICT r3 item 1; sum_bal moved there.)

_both("events_hourly_window", ("events",), lambda d: """
SELECT date_trunc('hour', ts) AS hour, event_type,
       COUNT(*) AS n,
       CAST(ROUND(CAST(SUM(value) AS DECIMAL(38,6)), 2) AS DOUBLE) AS sum_value
FROM events GROUP BY date_trunc('hour', ts), event_type
""")
# a tumbling one-hour window as a plain GROUP BY.

_both("events_sessionize", ("events",), lambda d: """
WITH gaps AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR {delta} > 1800 THEN 1 ELSE 0 END AS new_session
  FROM events
)
SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM gaps GROUP BY user_id
""".format(delta=(
    "timestampdiff(MICROSECOND, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts)"
    " / 1e6"
    if d == "spark" else
    "epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))")))
# session windows via lag + running-flag cumsum. The Spark gap is an exact microsecond
# difference, matching DuckDB's fractional epoch(): whole-second
# unix_timestamp put a 1800.5 s gap in the old session. timestampdiff,
# not unix_micros, because the tables' ts reads as TIMESTAMP_NTZ.

_both("tpch_q6_revenue_delta", ("lineitem",), lambda d: """
SELECT CAST(ROUND(CAST(SUM(l_extendedprice * l_discount) AS DECIMAL(38,6)), 2)
            AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
""")

_both("tpch_q4_semijoin", ("orders", "lineitem"), lambda d: """
SELECT o.o_orderpriority, COUNT(*) AS n
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
              AND l.l_quantity > 45)
GROUP BY o.o_orderpriority
""")
# EXISTS -> left-semi join (the C17 semi-join shape on TPC-H data).

_both("rollup_region_nation", ("region", "nation", "customer"), lambda d: """
SELECT COALESCE(r.r_name, 'ALL') AS region, COALESCE(n.n_name, 'ALL') AS nation,
       COUNT(*) AS n_cust,
       CAST(ROUND(CAST(SUM(c.c_acctbal) AS DECIMAL(38,6)), 2) AS DOUBLE) AS sum_bal
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
GROUP BY ROLLUP(r.r_name, n.n_name)
""")

_both("string_ops_part_brands", ("part",), lambda d: """
SELECT upper(p_brand) AS brand,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN p_type LIKE '%BRASS%' THEN 1 ELSE 0 END) AS BIGINT) AS brass,
       MIN(substr(p_name, 1, 6)) AS first_prefix
FROM part WHERE length(p_name) > 10
GROUP BY upper(p_brand)
""")

_both("union_high_value_parties", ("customer", "supplier"), lambda d: """
SELECT party_id, kind FROM (
  SELECT c_custkey AS party_id, 'customer' AS kind FROM customer WHERE c_acctbal > 9000
  UNION ALL
  SELECT s_suppkey AS party_id, 'supplier' AS kind FROM supplier WHERE s_acctbal > 9000
) t
""")

_both("events_topk_users", ("events",), lambda d: """
SELECT user_id, COUNT(*) AS n
FROM events WHERE event_type = 'purchase'
GROUP BY user_id
ORDER BY n DESC, user_id ASC
LIMIT 20
""")
# top-k purchasers (VERDICT r4 item 1): ORDER BY ... LIMIT k, NOT an
# unpartitioned ROW_NUMBER window — Spark plans TakeOrderedAndProject
# (parallel per-partition partial top-k + driver merge of k*P rows)
# where the window form funnels ALL 10^9 per-user aggregate rows through
# one single-partition WindowExec task. Output identical under the
# deterministic (n DESC, user_id) tiebreak.

# --- E. the extraction engine itself (non-SQL-expressible: rows-only) --------

def _extract_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full XY-cut extraction, self-checked against the generator's
    by-construction reading order (oracle-by-construction, VERDICT r1
    item 9): returns per-bucket mismatch counts vs expected_rank /
    expected_kind — wrong order and wrong kind count per span, and
    dropped or extra rows count against each row's expected_n. The DuckDB oracle is the all-zeros table: the value-hash
    comparison therefore certifies span-exact extraction for every
    document.

    r6 plan shape: the r5 form re-ran the distributed corpus generator
    THREE times (kernel input, payload-join side, expected side) and
    paid a payload shuffled-hash join plus a full-outer sort-merge join
    on (doc_id, offset) just to compare rows that are born colocated —
    corpus_flat_spark generates each document wholly inside one task.
    The comparison now runs inside the extraction kernel itself
    (pipeline.make_partition_arrow_kernel(output='check'), same per-row
    bad count — see its docstring for the equivalence argument), so the
    plan is ONE generation pass -> kernel -> tiny bucket aggregate, zero
    joins and zero data shuffles (guide §2.4/§8)."""
    from eynollah_spark.corpus import corpus_flat_spark

    return _reading_order_check(corpus_flat_spark(spark, max(200, int(100_000 * sf_of(sf_dir)))))


def _reading_order_check(flat: DataFrame) -> DataFrame:
    """_extract_corpus after the generation pass: the self-checking
    kernel over the generated rows ``flat``, then per-bucket sums."""
    from pyspark.sql import functions as F

    from eynollah_spark.pipeline import make_partition_arrow_kernel

    per_doc = flat.select(
        "doc_id", "width", "height", "rtl", "kind", "offset",
        "x0", "x1", "y0", "y1", "expected_kind", "expected_rank", "expected_n",
    ).mapInArrow(make_partition_arrow_kernel(output="check"),
                 schema="doc_id string, n_bad long")
    bucket = (F.substring("doc_id", 4, 8).cast("int") % 10)
    return (per_doc.groupBy(bucket.alias("bucket"))
            .agg(F.sum("n_bad").cast("bigint").alias("n_bad")))

_fn("extract_reading_order", (), _extract_corpus, duck_sql="""
SELECT CAST(b AS INT) AS bucket, CAST(0 AS BIGINT) AS n_bad
FROM (SELECT unnest(range(0, 10)) AS b)
""")

def _pagexml_roundtrip_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 PAGE-XML writer self-check (oracle-by-construction): extract a
    corpus sample, serialize every document to PAGE-XML, re-parse the XML
    and require the recovered (kind, text, order) sequence to equal the
    engine's output for EVERY document. Returns per-bucket mismatch
    counts; the oracle is the all-zeros table."""
    from pyspark.sql import functions as F

    from eynollah_spark.corpus import corpus_flat_spark
    from eynollah_spark.pagexml import page_xml, render_docs
    from eynollah_spark.pipeline import extract_flat_input

    n = max(100, int(20_000 * sf_of(sf_dir)))
    flat = corpus_flat_spark(spark, n).drop("expected_kind", "expected_rank")

    def bad(doc) -> int:
        from eynollah_spark.fixtures import parse_pagexml_string

        try:
            back = parse_pagexml_string(page_xml(doc), doc["doc_id"][0])
        except Exception:
            return 1
        return int([(k, t) for (k, t, _m, _o) in back.expected]
                   != list(zip(doc["kind"], doc["text"])))

    per_doc = render_docs(extract_flat_input(flat), bad, "bad", "long")
    bucket = (F.substring("doc_id", 4, 8).cast("int") % 10)
    return (per_doc.groupBy(bucket.alias("bucket"))
            .agg(F.sum("bad").cast("bigint").alias("n_bad")))

_fn("extract_pagexml_roundtrip", (), _pagexml_roundtrip_check, duck_sql="""
SELECT CAST(b AS INT) AS bucket, CAST(0 AS BIGINT) AS n_bad
FROM (SELECT unnest(range(0, 10)) AS b)
""")

# Generator-backed oracles (r2 VERDICT item 6, de-pinned): DuckDB cannot
# run the corpus generator, but the generator is a pure driver-side
# numpy function — so the query fn exports the RAW generated rows to a
# local parquet via pyarrow (no Spark involved) and the DuckDB oracle
# computes the operator's semantics from that export with its own SQL.
# The Spark side computes the same semantics from the DISTRIBUTED
# generation path (mapInPandas + nesting + the operator under test), so
# the comparison genuinely exercises the engine, not just the pin.

import os as _os


def _repo_root() -> str:
    """Repo root for driver-side oracle exports. Under spark-submit
    --py-files this module's __file__ lives INSIDE the zip archive
    (…/eynollah_spark.zip/eynollah_spark/queries.py — not a real
    directory), so fall back to the env override, then the cwd."""
    env = _os.environ.get("EYNOLLAH_SPARK_REPO")
    if env:
        return env
    cand = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    return cand if _os.path.isdir(cand) else _os.getcwd()


_ORACLE_EXPORT_DIR = _os.path.join(_repo_root(), ".cache", "oracle_exports")

#: Per-process memo of completed oracle-truth exports (r6): the exports
#: are pure deterministic functions of their arguments, so re-running
#: one inside the same process for identical arguments rewrites
#: byte-identical parquet — skip it (the file is still re-verified to
#: exist, and a fresh process always re-exports).
_EXPORT_DONE: dict[tuple, str] = {}


def _export_memo(key: tuple, path: str) -> bool:
    if _EXPORT_DONE.get(key) == path and _os.path.exists(path):
        return True
    return False


def _export_corpus_flat(n: int, columns: tuple, name: str) -> str:
    """Driver-side corpus generation -> parquet for the DuckDB oracle.
    Pure python/numpy + pyarrow: Spark never touches the oracle side."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from eynollah_spark.corpus import gen_corpus_flat

    path = _os.path.join(_ORACLE_EXPORT_DIR, f"{name}.parquet")
    key = ("corpus_flat", name, n, columns)
    if _export_memo(key, path):
        return path
    _os.makedirs(_ORACLE_EXPORT_DIR, exist_ok=True)
    flat, _metas = gen_corpus_flat(n)
    cols = {}
    for c in columns:
        v = flat[c]
        if v.dtype == object:
            cols[c] = pa.array(v.tolist(), type=pa.string())
        else:
            cols[c] = pa.array(v)
    pq.write_table(pa.table(cols), path)
    _EXPORT_DONE[key] = path
    return path


def _extract_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/B17/F6 image-only extraction: docs that contain images, and how
    many, per doc bucket. Spark computes from the NESTED documents shape
    (size(filter(spans))); the oracle counts raw flat generator rows."""
    from pyspark.sql import functions as F

    from eynollah_spark.corpus import corpus_flat_spark, nest_corpus

    n = max(200, int(100_000 * sf_of(sf_dir)))
    # export at EVERY sf (not just the driver's 0.01): the oracle must
    # always describe the corpus the Spark side is about to compute on
    _export_corpus_flat(n, ("doc_id", "kind"), "images_corpus")
    docs = nest_corpus(corpus_flat_spark(spark, n))
    per = docs.select(
        "doc_id",
        F.size(F.expr("filter(spans, s -> s.kind = 'image')")).alias("n_images"),
    ).filter(F.col("n_images") > 0)
    bucket = (F.substring("doc_id", 4, 8).cast("int") % 10)
    return (per.groupBy(bucket.alias("bucket"))
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.sum("n_images").cast("bigint").alias("n_images")))

_fn("extract_images_only", (), _extract_images, duck_sql=f"""
WITH per AS (
  SELECT doc_id, COUNT(*) AS n_images
  FROM read_parquet('{_ORACLE_EXPORT_DIR}/images_corpus.parquet')
  WHERE kind = 'image' GROUP BY doc_id
)
SELECT CAST(CAST(substr(doc_id, 4, 8) AS INT) % 10 AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_images) AS BIGINT) AS n_images
FROM per GROUP BY 1
""")
# B17 (extract_images.py:24-281): image-only extraction = projection+filter.

_both("extract_basic_mode", ("documents",), lambda d: f"""
WITH {_lines_cte(d)},
g AS (
  SELECT doc_id, line_id, cy, cx,
         CASE WHEN lag(cy) OVER w IS NULL OR cy - lag(cy) OVER w > 14
              THEN 1 ELSE 0 END AS brk
  FROM lines
  WINDOW w AS (PARTITION BY doc_id ORDER BY cy, cx, line_id)
),
r AS (
  SELECT doc_id, line_id, cx, cy,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY cy, cx, line_id
                        ROWS UNBOUNDED PRECEDING) AS row_cluster
  FROM g
)
SELECT doc_id, line_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY row_cluster, cx, line_id) AS INT) AS ord
FROM r
""")
# D7 (--skip_layout_and_reading_order, eynollah.py:2102-2148): whole
# page = one region; row-cluster by cy gap then left-to-right — a pure
# window-function plan, expressed identically in both dialects over the
# synthesized lines table (oracle-checked; VERDICT r1 item 9).

def _export_machine_ro_truth(n: int) -> None:
    """Sequential driver-side reference for B14: the IDENTICAL per-doc
    ordering function the distributed path uses (order_doc_spans), run
    in a plain python loop over the generated corpus — no Spark — and
    exported to parquet. The DuckDB oracle aggregates it with its own
    md5 fingerprint, so the check verifies that the bucketed
    applyInPandas path (hash bucketing, factorize + contiguous-run
    slicing, Arrow transport) reproduces the sequential reference row
    for row at whatever sf the query runs."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from eynollah_spark.corpus import gen_corpus_flat
    from eynollah_spark.mb_reading_order import (
        HeuristicPairScorer,
        order_doc_spans,
    )

    path = _os.path.join(_ORACLE_EXPORT_DIR, "machine_ro_truth.parquet")
    key = ("machine_ro_truth", n)
    if _export_memo(key, path):
        return
    flat, _metas = gen_corpus_flat(n)
    mask = flat["kind"] == "text"
    doc = flat["doc_id"][mask]
    x0 = flat["x0"][mask].astype(float)
    x1 = flat["x1"][mask].astype(float)
    y0 = flat["y0"][mask].astype(float)
    y1 = flat["y1"][mask].astype(float)
    off = flat["offset"][mask].astype(np.int64)
    rtl = flat["rtl"][mask]
    sc = HeuristicPairScorer()
    id_l, ord_l, off_l = [], [], []
    for d in np.unique(doc):
        m = np.flatnonzero(doc == d)
        perm = order_doc_spans(x0[m], x1[m], y0[m], y1[m], off[m],
                               bool(rtl[m[0]]), sc)
        id_l.append(np.full(len(m), d, dtype=object))
        ord_l.append(np.arange(len(m), dtype=np.int32))
        off_l.append(off[m][perm].astype(np.int32))
    _os.makedirs(_ORACLE_EXPORT_DIR, exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": pa.array(np.concatenate(id_l).tolist(),
                                     type=pa.string()),
                  "ord": pa.array(np.concatenate(ord_l)),
                  "offset": pa.array(np.concatenate(off_l))}),
        path)
    _EXPORT_DONE[key] = path


def _extract_machine_ro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B14 pairwise-model reading order (optional ML path) over the
    corpus, fingerprinted per doc bucket against the driver-side
    sequential reference export."""
    from pyspark.sql import functions as F

    from eynollah_spark.corpus import corpus_flat_spark
    from eynollah_spark.mb_reading_order import machine_reading_order

    n = max(100, int(20_000 * sf_of(sf_dir)))
    _export_machine_ro_truth(n)
    out = machine_reading_order(
        corpus_flat_spark(spark, n).drop("expected_kind", "expected_rank"))
    fp = F.expr("CAST(conv(substr(md5(CONCAT(doc_id, ':', CAST(ord AS STRING), "
                "':', CAST(offset AS STRING))), 1, 8), 16, 10) AS BIGINT)")
    bucket = (F.substring("doc_id", 4, 8).cast("int") % 10)
    return (out.groupBy(bucket.alias("bucket"))
            .agg(F.count("*").cast("bigint").alias("n_rows"),
                 F.sum(fp).cast("bigint").alias("fp_sum")))

_fn("extract_machine_reading_order", (), _extract_machine_ro, duck_sql=f"""
WITH t AS (
  SELECT doc_id,
         CAST(CONCAT('0x', substr(md5(CONCAT(doc_id, ':',
              CAST(ord AS VARCHAR), ':', CAST("offset" AS VARCHAR))),
              1, 8)) AS BIGINT) AS fp
  FROM read_parquet('{_ORACLE_EXPORT_DIR}/machine_ro_truth.parquet')
)
SELECT CAST(CAST(substr(doc_id, 4, 8) AS INT) % 10 AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(fp) AS BIGINT) AS fp_sum
FROM t GROUP BY 1
""")

def _extract_refine_headings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12/B12 heading refinement via the pluggable scorer. The oracle
    reimplements the scorer's rules (C12 heading gate, C13 drop-capital
    gate over a per-doc median reference height) in pure SQL over the
    raw generator export — an independent check of refine_kinds' whole
    relational-median + mapInPandas path."""
    from pyspark.sql import functions as F

    from eynollah_spark.corpus import corpus_flat_spark
    from eynollah_spark.scorer import refine_kinds

    n = max(200, int(50_000 * sf_of(sf_dir)))
    _export_corpus_flat(
        n, ("doc_id", "kind", "offset", "x0", "x1", "y0", "y1",
            "width", "height"), "headings_corpus")
    flat = (corpus_flat_spark(spark, n).drop("expected_kind", "expected_rank")
            .filter(F.col("offset") >= 0))  # drop empty-doc marker rows
    return refine_kinds(flat).groupBy("kind").agg(F.count("*").cast("bigint").alias("n"))

_fn("extract_refine_headings", (), _extract_refine_headings, duck_sql=f"""
WITH t AS (
  SELECT doc_id, kind,
         GREATEST(CAST(x1 - x0 AS DOUBLE), 1.0) AS w,
         GREATEST(CAST(y1 - y0 AS DOUBLE), 1.0) AS h,
         GREATEST(CAST(width AS DOUBLE), 1.0)  AS pw,
         GREATEST(CAST(height AS DOUBLE), 1.0) AS ph
  FROM read_parquet('{_ORACLE_EXPORT_DIR}/headings_corpus.parquet')
  WHERE "offset" >= 0
),
m AS (
  SELECT doc_id, MEDIAN(h) AS ref_h FROM t WHERE kind = 'text' GROUP BY doc_id
),
r AS (
  SELECT CASE
    -- drop-capital precedence matches the scorer: p_heading is gated on
    -- ~drop (scorer.py score_batch), so a row passing both gates (width
    -- rules make that impossible anyway) classifies as drop-capital
    WHEN t.kind = 'text' AND h >= 2.2 * GREATEST(COALESCE(m.ref_h, 1.0), 1.0)
         AND w <= 1.6 * h AND w <= 0.12 * pw
      THEN 'drop-capital'
    WHEN t.kind = 'text' AND w >= 0.55 * pw AND w / h >= 1.3
         AND w / h <= 30.0 AND h <= 0.04 * ph
      THEN 'heading'
    ELSE t.kind END AS kind
  FROM t LEFT JOIN m USING (doc_id)
)
SELECT kind, CAST(COUNT(*) AS BIGINT) AS n FROM r GROUP BY kind
""")

def _export_media_truth(n: int) -> None:
    """Per-media decode truth computed LOCALLY on the driver (plain
    python loop over the deterministic payloads — no Spark, no
    mapInPandas) -> parquet for the DuckDB oracle. Verifies that the
    distributed decode (repartition + Arrow batching) reproduces the
    local reference implementation row for row."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from eynollah_spark.multimodal import _fake_decode

    path = _os.path.join(_ORACLE_EXPORT_DIR, "media_truth.parquet")
    key = ("media_truth", n)
    if _export_memo(key, path):
        return
    refs, ws, hs, lumas = [], [], [], []
    for i in range(n):
        payload = hashlib.sha256(f"media{i}".encode()).digest() * 4
        w, h, _c, luma, _emb = _fake_decode(bytes(payload))
        refs.append(f"media://fixture/{i}")
        ws.append(w); hs.append(h); lumas.append(luma)
    _os.makedirs(_ORACLE_EXPORT_DIR, exist_ok=True)
    pq.write_table(
        pa.table({"media_ref": pa.array(refs, type=pa.string()),
                  "width": pa.array(ws, type=pa.int64()),
                  "height": pa.array(hs, type=pa.int64()),
                  "mean_luma": pa.array(lumas, type=pa.float64())}),
        path)
    _EXPORT_DONE[key] = path


def _multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode/embed plumbing over the synthetic media table;
    the oracle aggregates a locally computed per-media decode truth."""
    from pyspark.sql import functions as F

    from eynollah_spark.multimodal import decode_and_embed, synth_media_table

    n = max(64, int(10_000 * sf_of(sf_dir)))
    _export_media_truth(n)
    return _decode_totals(decode_and_embed(synth_media_table(spark, n)))


def _decode_totals(dec: DataFrame) -> DataFrame:
    """multimodal_decode_embed's aggregate over the decoded rows; the
    luma sum rounds a DECIMAL(38,6) cast, as the oracle's does."""
    from pyspark.sql import functions as F

    return dec.agg(F.count("*").cast("bigint").alias("n_rows"),
                   F.sum("width").cast("bigint").alias("w_sum"),
                   F.sum("height").cast("bigint").alias("h_sum"),
                   F.round(F.sum("mean_luma").cast("decimal(38,6)"), 2)
                   .cast("double").alias("luma_sum"))

def _multimodal_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 variant cache through the real operator. The input media table
    is deliberately DUPLICATED (union with itself), so the query also
    verifies the decode-once dedup: output must still be exactly two
    variant rows per unique media_ref, matching the per-media truth the
    driver computed locally."""
    from eynollah_spark.multimodal import synth_media_table, variant_cache

    n = max(64, int(10_000 * sf_of(sf_dir)))
    _export_media_truth(n)
    media = synth_media_table(spark, n)
    return variant_cache(media.unionByName(media))

_fn("multimodal_variant_cache", (), _multimodal_variants, duck_sql=f"""
WITH t AS (
  SELECT media_ref, width, height, mean_luma
  FROM read_parquet('{_ORACLE_EXPORT_DIR}/media_truth.parquet')
)
SELECT media_ref, 'orig' AS variant, CAST(width AS INT) AS width,
       CAST(height AS INT) AS height, mean_luma
FROM t
UNION ALL
SELECT media_ref, 'resized' AS variant, CAST(2000 AS INT) AS width,
       CAST(2000 * height // width AS INT) AS height, mean_luma
FROM t
""")
# A2 (eynollah.py:150-235): image-variant cache — decode each unique
# payload once, original + autosized variant rows, joined back by ref.


_fn("multimodal_decode_embed", (), _multimodal_decode, duck_sql=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(width) AS BIGINT) AS w_sum,
       CAST(SUM(height) AS BIGINT) AS h_sum,
       CAST(ROUND(CAST(SUM(mean_luma) AS DECIMAL(38,6)), 2) AS DOUBLE) AS luma_sum
FROM read_parquet('{_ORACLE_EXPORT_DIR}/media_truth.parquet')
""")


def _subline_split_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C18 analogue (separate_lines.py:33-140): sub-line segmentation of
    tall multi-line spans by vertical-profile valley analysis. Spark
    synthesizes a deterministic line grid per document (pitch 30, height
    20) plus ONE tall span covering k = 2 + doc_id%3 rows, then runs the
    real profile kernel (kernels/sublines.py) per doc inside bucketed
    applyInPandas; the oracle states the expected cuts analytically
    (grid positions), so a kernel that miscounts runs or misplaces a
    boundary by 1 px fails the hash."""
    import pandas as pd
    from pyspark.sql import functions as F

    from eynollah_spark.packaging import ensure_distributed

    ensure_distributed(spark)  # fn imports eynollah_spark on the workers
    load_views(spark, sf_dir, "documents")
    lines = spark.sql("""
WITH rows_ AS (
  SELECT doc_id, explode(sequence(0, CAST(5 + doc_id % 5 AS INT))) AS r
  FROM documents
),
norm AS (
  SELECT doc_id, CAST(r AS INT) AS line_id,
         CAST(80 + r*30 AS INT) AS y0, CAST(100 + r*30 AS INT) AS y1
  FROM rows_
),
tall AS (
  SELECT doc_id, 1000 AS line_id, 140 AS y0,
         CAST(100 + (3 + doc_id % 3)*30 AS INT) AS y1
  FROM documents
)
SELECT * FROM norm UNION ALL SELECT * FROM tall
""")
    buckets = int(spark.conf.get("spark.sql.shuffle.partitions")) * 2

    def fn(b: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        from eynollah_spark.kernels.sublines import split_tall_spans

        if not len(b):
            return pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                                 "line_id": pd.Series([], dtype="int32"),
                                 "sub_idx": pd.Series([], dtype="int32"),
                                 "sy0": pd.Series([], dtype="int32"),
                                 "sy1": pd.Series([], dtype="int32")})
        from eynollah_spark.kernels import doc_runs

        order, starts, ends = doc_runs(b["doc_id"])
        doc = b["doc_id"].to_numpy(np.int64)[order]
        lid = b["line_id"].to_numpy(np.int32)[order]
        y0 = b["y0"].to_numpy(np.int64)[order]
        y1 = b["y1"].to_numpy(np.int64)[order]
        d_l, l_l, j_l, a_l, b_l = [], [], [], [], []
        for s, e in zip(starts, ends):
            idx, sub, s0, s1 = split_tall_spans(y0[s:e], y1[s:e])
            d_l.append(np.full(len(idx), doc[s], dtype=np.int64))
            l_l.append(lid[s:e][idx])
            j_l.append(sub)
            a_l.append(s0.astype(np.int32))
            b_l.append(s1.astype(np.int32))
        return pd.DataFrame({
            "doc_id": np.concatenate(d_l), "line_id": np.concatenate(l_l),
            "sub_idx": np.concatenate(j_l),
            "sy0": np.concatenate(a_l), "sy1": np.concatenate(b_l)})

    return (lines
            .withColumn("_bucket", F.pmod(F.xxhash64("doc_id"), F.lit(buckets)))
            .groupBy("_bucket")
            .applyInPandas(fn, schema="doc_id bigint, line_id int, "
                                      "sub_idx int, sy0 int, sy1 int"))

_RESIZE_INPUT = """
SELECT doc_id,
       CAST(1 + doc_id % 6 AS INT)                  AS num_col,
       CAST(700 + (doc_id * 137) % 7000 AS INT)     AS width_early,
       CAST(1000 + (doc_id * 251) % 9000 AS INT)    AS height_early,
       CAST(doc_id % 20 AS DOUBLE) / 20 + 0.05      AS conf_col
FROM documents
"""


def _resize_policy_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6 autosizing policy through the real column-math operator
    (scorer.resize_policy_by_columns); the oracle transcribes
    eynollah.py:236-287 directly in SQL."""
    load_views(spark, sf_dir, "documents")
    from eynollah_spark.scorer import resize_policy_by_columns

    return (resize_policy_by_columns(spark.sql(_RESIZE_INPUT))
            .select("doc_id", "num_col", "new_w", "new_h", "resized"))

_fn("ro_resize_policy", ("documents",), _resize_policy_spark, duck_sql=f"""
WITH p AS ({_RESIZE_INPUT}),
w AS (
  SELECT *, CASE
    WHEN num_col = 1 AND (width_early < 1100 OR width_early >= 2500) THEN 2000
    WHEN num_col = 2 AND (width_early < 2000 OR width_early >= 3500) THEN 2400
    WHEN num_col = 3 AND (width_early < 2000 OR width_early >= 4000) THEN 3000
    WHEN num_col = 4 AND (width_early < 2500 OR width_early >= 5000) THEN 4000
    WHEN num_col = 5 AND (width_early < 3700 OR width_early >= 7000) THEN 5000
    WHEN num_col = 6 AND width_early < 4500 THEN 6500
    ELSE width_early END AS w_new
  FROM p
),
h AS (SELECT *, CAST(w_new * height_early // width_early AS INT) AS h_new FROM w),
r AS (
  SELECT *, NOT ((conf_col < 0.9 AND w_new < width_early) OR h_new >= 8000)
            AS resized
  FROM h
)
SELECT doc_id, num_col,
       CAST(CASE WHEN resized THEN w_new ELSE width_early END AS INT) AS new_w,
       CAST(CASE WHEN resized THEN h_new ELSE height_early END AS INT) AS new_h,
       resized
FROM r
""")
# B6 (eynollah.py:236-287): resize-by-columns policy — the Spark side runs
# the shipped operator, the oracle is an independent SQL transcription of
# the reference's CASE ladder incl. the unconfident-downsample and
# 8000-px-height guards.


_fn("ro_subline_split", ("documents",), _subline_split_spark, duck_sql="""
WITH t AS (SELECT doc_id, 2 + doc_id % 3 AS k FROM documents),
s AS (SELECT doc_id, k, unnest(range(0, k)) AS j FROM t)
SELECT doc_id, CAST(1000 AS INT) AS line_id, CAST(j AS INT) AS sub_idx,
       CAST(140 + j*30 AS INT) AS sy0,
       CAST(CASE WHEN j < k - 1 THEN 170 + j*30
                 ELSE 100 + (k + 1)*30 END AS INT) AS sy1
FROM s
""")
# C18 analogue: the oracle is the analytic line grid; only a profile
# kernel that finds every covered-run boundary exactly reproduces it.


# --------------------------------------------------------------------------

# Queries with no driver-green CORRECTNESS row as of r3 (the driver's
# file caps at 50 entries; these six fell past the cap — VERDICT r3
# item 1). They enumerate FIRST so any future cap trims only
# already-proven entries.
_DRIVER_FIRST = (
    "extract_machine_reading_order",
    "extract_refine_headings",
    "multimodal_decode_embed",
    "multimodal_variant_cache",
    "ro_resize_policy",
    "ro_subline_split",
)


def registry():
    """Query registry. Every entry is oracle-checked: generator-backed
    queries export their truth driver-side (pyarrow, no Spark) inside
    the query fn, so the DuckDB side is always fresh at whatever sf the
    query runs — no pinned constants remain. Ordered so queries that
    have never appeared in a driver CORRECTNESS file come first (the
    driver checks at most 50)."""
    out = {n: _Q[n] for n in _DRIVER_FIRST if n in _Q}
    out.update((n, q) for n, q in _Q.items() if n not in out)
    return out
