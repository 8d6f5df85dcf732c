"""Query-registry behaviour outside the driver's one-shot oracle check:
results after the input changes within a session, the sessionize gap
at sub-second precision, and the scale factor read from the path."""

import datetime as dt
import shutil

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from eynollah_spark.queries import load_views, registry, sf_of

SF_DIR = "/root/testdata/sf0.001"


def _rows(records):
    """Order-insensitive, float-rounded rows."""
    return sorted(tuple(round(v, 6) if isinstance(v, float) else v for v in r)
                  for r in records)


def _oracle(sf_dir, table, name):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{sf_dir}/{table}.parquet'")
    return _rows(con.sql(registry()[name]["duck_sql"]).fetchall())


def test_jaccard_cache_sees_an_overwritten_input(spark, tmp_path):
    """The shingle cache is keyed on the documents file, not only on the
    session and path: overwriting the file in place between two calls in
    one session must give the new file's answer."""
    shutil.copy(f"{SF_DIR}/documents.parquet", tmp_path / "documents.parquet")
    sf_dir = str(tmp_path)
    fn = registry()["dedup_ngram_jaccard"]["spark_fn"]

    before = _rows(fn(spark, sf_dir).collect())
    assert before == _oracle(sf_dir, "documents", "dedup_ngram_jaccard")

    docs = pq.read_table(tmp_path / "documents.parquet")
    half = docs.filter(pc.less(docs["doc_id"], len(docs) // 2))
    pq.write_table(half, tmp_path / "documents.parquet")
    expected = _oracle(sf_dir, "documents", "dedup_ngram_jaccard")
    assert expected and expected != before

    assert _rows(fn(spark, sf_dir).collect()) == expected
    # and an unchanged file is served from the cache, still correct
    assert _rows(fn(spark, sf_dir).collect()) == expected


def test_sessionize_gap_has_sub_second_precision(spark, tmp_path):
    """A gap of 1800.5 s starts a new session and 1799.5 s does not, on
    both engines (whole-second arithmetic truncated 1800.5 to 1800)."""
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    gaps = {1: 1800.5, 2: 1799.5}
    rows = [(u, ts) for u, g in gaps.items()
            for ts in (t0, t0 + dt.timedelta(seconds=g))]
    pq.write_table(pa.table({
        "event_id": pa.array(range(len(rows)), pa.int64()),
        "ts": pa.array([ts for _, ts in rows], pa.timestamp("us")),
        "user_id": pa.array([u for u, _ in rows], pa.int64()),
        "event_type": ["view"] * len(rows),
        "value": [1.0] * len(rows),
        "props": ["{}"] * len(rows),
    }), tmp_path / "events.parquet")
    sf_dir = str(tmp_path)

    load_views(spark, sf_dir, "events")
    got = _rows(spark.sql(registry()["events_sessionize"]["spark_sql"]).collect())
    assert got == [(1, 2, 2), (2, 1, 2)]
    assert got == _oracle(sf_dir, "events", "events_sessionize")


def _on_both_engines(spark, tmp_path, name, tables):
    """Query ``name`` on Spark and on its DuckDB oracle over ``tables``
    ({table: pa.Table}, written as the sf dir's parquet files): (the
    Spark rows, the DuckDB rows) as tuples, in the order returned."""
    for t, data in tables.items():
        pq.write_table(data, tmp_path / f"{t}.parquet")
    sf_dir = str(tmp_path)
    q = registry()[name]
    load_views(spark, sf_dir, *q["tables"])
    con = duckdb.connect()
    for t in q["tables"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return ([tuple(r) for r in spark.sql(q["spark_sql"]).collect()],
            con.sql(q["duck_sql"]).fetchall())


# Half-cent ties: SUM(double) is 0.28499999999999998 for 0.285, which
# Spark's ROUND(double) rounds to 0.29 (through a decimal) and DuckDB's
# to 0.28; 1.005 likewise gives 1.01 against 1.0. Rounding a
# DECIMAL(38,6) cast gives 0.29 and 1.01 on both engines, as a double.

def test_q3_rounds_half_cent_ties_like_the_oracle(spark, tmp_path):
    """tpch_q3_topk's revenue on half-cent ties."""
    ts = dt.datetime(1995, 3, 1)
    got, want = _on_both_engines(spark, tmp_path, "tpch_q3_topk", {
        "customer": pa.table({"c_custkey": pa.array([1], pa.int64()),
                              "c_mktsegment": ["BUILDING"]}),
        "orders": pa.table({"o_orderkey": pa.array([10, 11], pa.int64()),
                            "o_custkey": pa.array([1, 1], pa.int64()),
                            "o_orderdate": pa.array([ts, ts], pa.timestamp("us"))}),
        "lineitem": pa.table({"l_orderkey": pa.array([10, 11], pa.int64()),
                              "l_extendedprice": [0.285, 1.005], "l_discount": [0.0, 0.0]})})
    assert [r[:2] for r in got] == [r[:2] for r in want] == [(11, 1.01), (10, 0.29)]
    assert all(isinstance(r[1], float) for r in got)


def test_q1_rounds_half_cent_ties_like_the_oracle(spark, tmp_path):
    """tpch_q1_pricing's three sums on half-cent ties, and its averages
    on the same tie at 4 places (0.00015 is 0.000149999... in double)."""
    ts = dt.datetime(1995, 3, 1)
    got, want = _on_both_engines(spark, tmp_path, "tpch_q1_pricing", {
        "lineitem": pa.table({
            "l_quantity": [0.285, 1.0], "l_extendedprice": [1.005, 1.0],
            "l_discount": [0.0, 0.00015],
            "l_returnflag": ["A", "N"], "l_linestatus": ["F", "O"],
            "l_shipdate": pa.array([ts, ts], pa.timestamp("us"))})})
    assert sorted(got) == sorted(want) == [("A", "F", 0.29, 1.01, 1.01, 0.285, 0.0, 1),
                                           ("N", "O", 1.0, 1.0, 1.0, 1.0, 0.0002, 1)]
    assert all(isinstance(v, float) for r in got for v in r[2:7])


def test_hourly_window_rounds_half_cent_ties_like_the_oracle(spark, tmp_path):
    """events_hourly_window's sum_value on half-cent ties."""
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    hours = [t0, t0 + dt.timedelta(hours=1)]
    got, want = _on_both_engines(spark, tmp_path, "events_hourly_window", {
        "events": pa.table({
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(hours, pa.timestamp("us")),
            "user_id": pa.array([1, 1], pa.int64()),
            "event_type": ["view", "view"], "value": [0.285, 1.005],
            "props": ["{}", "{}"]})})
    assert sorted(got) == sorted(want) == [(hours[0], "view", 1, 0.29),
                                           (hours[1], "view", 1, 1.01)]


def test_q6_rounds_half_cent_ties_like_the_oracle(spark, tmp_path):
    """tpch_q6_revenue_delta's revenue on a half-cent tie: 4.75 * 0.06
    is 0.28499999999999998 in double arithmetic."""
    got, want = _on_both_engines(spark, tmp_path, "tpch_q6_revenue_delta", {
        "lineitem": pa.table({
            "l_quantity": [1.0], "l_extendedprice": [4.75], "l_discount": [0.06],
            "l_shipdate": pa.array([dt.datetime(1994, 6, 1)], pa.timestamp("us"))})})
    assert got == want == [(0.29,)]


def test_rollup_rounds_half_cent_ties_like_the_oracle(spark, tmp_path):
    """rollup_region_nation's sum_bal on half-cent ties, at every
    grouping level."""
    i32 = lambda v: pa.array(v, pa.int32())
    got, want = _on_both_engines(spark, tmp_path, "rollup_region_nation", {
        "customer": pa.table({"c_custkey": pa.array([1, 2], pa.int64()),
                              "c_nationkey": i32([0, 1]), "c_acctbal": [0.285, 1.005]}),
        "nation": pa.table({"n_nationkey": i32([0, 1]), "n_name": ["N0", "N1"],
                            "n_regionkey": i32([0, 0])}),
        "region": pa.table({"r_regionkey": i32([0]), "r_name": ["R0"]})})
    assert sorted(got) == sorted(want) == [("ALL", "ALL", 2, 1.29), ("R0", "ALL", 2, 1.29),
                                           ("R0", "N0", 1, 0.29), ("R0", "N1", 1, 1.01)]


def test_source_quality_rounds_ties_like_the_oracle(spark, tmp_path):
    """text_source_quality's averages on ties: 41 / 40 = 1.025 for
    avg_len (1.0249999999999999 in double) and 57 / 800 = 0.07125 for
    len_ok_rate (0.071249999999999994) round up on both engines."""
    lengths = {"a": [1] * 39 + [2], "b": [50] * 57 + [1] * 743}
    texts = [("x" * n, src) for src, ns in lengths.items() for n in ns]
    got, want = _on_both_engines(spark, tmp_path, "text_source_quality", {
        "documents": pa.table({
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": [t for t, _ in texts], "lang": ["en"] * len(texts),
            "source": [src for _, src in texts],
            "n_chars": pa.array([len(t) for t, _ in texts], pa.int64())})})
    assert sorted(got) == sorted(want) == [("a", "en", 40, 1.03, 0.0, 0),
                                           ("b", "en", 800, 4.49, 0.0713, 0)]


# The line-generator queries average a few of each document's lines:
# ro_column_histogram up to 3 counts (halves and thirds), ro_region_skew
# up to 24 integer angles (a tie at 4 places needs 32 | n), and
# ro_region_confidence up to 24 confidences in hundredths, which an exact
# (fractions) count over one period of its doc_id residues finds never
# to average to a tie at 4 places. So the DECIMAL(38,6) cast changes no
# result of theirs today; the first 1,800 doc_ids cover every residue the
# lines depend on (the lcm of the generator's moduli).

@pytest.mark.parametrize("name", ["ro_column_histogram", "ro_region_confidence",
                                  "ro_region_skew"])
def test_line_averages_round_like_the_oracle(spark, tmp_path, name):
    """The three line averages round a DECIMAL(38,6) cast, as
    text_source_quality's do, and equal the oracle's over every reachable
    document (one period of the line generator), as doubles."""
    got, want = _on_both_engines(spark, tmp_path, name, {
        "documents": pa.table({"doc_id": pa.array(range(1800), pa.int64())})})
    assert len(got) == len(want) > 1800
    assert sorted(got) == sorted(want)
    rounded = {"ro_column_histogram": 3, "ro_region_confidence": 2, "ro_region_skew": 2}[name]
    assert all(isinstance(r[rounded], float) for r in got)


@pytest.mark.parametrize("sf_dir, sf", [
    ("/data/sf0.01", 0.01),
    ("/data/sf0.1/", 0.1),
    ("sf1", 1.0),
    ("/x/sf1/run/sf0.01", 0.01),
    ("/x/sf1/run", 0.01),
    ("/x/sf0.1_copy", 0.01),
])
def test_sf_of_reads_the_last_path_component(sf_dir, sf):
    assert sf_of(sf_dir) == sf


def test_subline_split_ships_the_package(spark, monkeypatch):
    """ro_subline_split runs eynollah_spark code on the workers, so it
    ships the package first, as every other worker-side path does."""
    from eynollah_spark import packaging

    calls = []
    real = packaging.ensure_distributed

    def record(s):
        calls.append(s)
        real(s)

    monkeypatch.setattr(packaging, "ensure_distributed", record)
    fn = registry()["ro_subline_split"]["spark_fn"]
    rows = _rows(fn(spark, SF_DIR).collect())
    assert calls == [spark]
    assert rows == _oracle(SF_DIR, "documents", "ro_subline_split")


@pytest.mark.parametrize("luma, rounded", [(0.285, 0.29), (1.005, 1.01)])
def test_decode_embed_rounds_half_cent_ties_like_the_oracle(spark, tmp_path, luma, rounded):
    """multimodal_decode_embed's luma_sum on a half-cent tie: the Spark
    aggregate and the oracle text over the same decoded row."""
    from eynollah_spark.queries import _ORACLE_EXPORT_DIR, _decode_totals

    path = tmp_path / "media_truth.parquet"
    pq.write_table(pa.table({"media_ref": ["m"], "width": pa.array([64], pa.int64()),
                             "height": pa.array([48], pa.int64()), "mean_luma": [luma]}),
                   path)
    duck_sql = registry()["multimodal_decode_embed"]["duck_sql"]
    truth = f"{_ORACLE_EXPORT_DIR}/media_truth.parquet"
    assert truth in duck_sql
    con = duckdb.connect()
    want = con.sql(duck_sql.replace(truth, str(path))).fetchall()
    got = [tuple(r) for r in _decode_totals(spark.read.parquet(str(path))).collect()]
    assert got == want == [(1, 64, 48, rounded)]
