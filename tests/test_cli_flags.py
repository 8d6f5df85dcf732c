"""Reference layout-CLI flag parity (VERDICT r3 item 4): each flag from
cli_layout.py:91-159 that the engine implements must be reachable from
`eynollah_spark.cli` and change the output the way the reference
semantics say it should, end-to-end on the synthetic corpus."""

import json
import os

import pytest
from pyspark.sql import functions as F

from eynollah_spark import cli as cli_mod


class _NoStopSession:
    """Proxy that lets cli.main() 'stop' the shared test session safely."""

    def __init__(self, spark):
        self._spark = spark

    def stop(self):
        pass

    def __getattr__(self, name):
        return getattr(self._spark, name)


@pytest.fixture()
def run_cli(spark, monkeypatch, capsys):
    import eynollah_spark.session as session_mod

    monkeypatch.setattr(session_mod, "build_session",
                        lambda **kw: _NoStopSession(spark))

    def _run(argv):
        cli_mod.main(argv)
        out = capsys.readouterr().out.strip().splitlines()[-1]
        return json.loads(out)

    return _run


@pytest.fixture(scope="module")
def flat_corpus(spark, tmp_path_factory):
    from eynollah_spark.corpus import corpus_flat_spark

    # 150 docs: the generator's layout buckets cycle, so this slice
    # contains single-column, multi-column AND marginalia pages
    path = str(tmp_path_factory.mktemp("cli") / "flat.parquet")
    corpus = corpus_flat_spark(spark, 150).drop("expected_kind", "expected_rank")
    # plus one page with a drop-capital-shaped span (tall narrow text box
    # inside the main column) so headers-off/adhesion behavior is visible
    cap_rows = [
        {"doc_id": "dcap", "kind": "text",
         "text": ("D" if i == 6 else f"line {i}"), "media_ref": None,
         "offset": i,
         "x0": 200 if i == 6 else (260 if i < 2 else 200),
         "x1": 250 if i == 6 else 620,
         "y0": 100 if i == 6 else 100 + 40 * i,
         "y1": 180 if i == 6 else 130 + 40 * i,
         "width": 1000, "height": 1400, "rtl": False}
        for i in range(7)
    ]
    cap = spark.createDataFrame(cap_rows, schema=corpus.schema)
    corpus.unionByName(cap).write.mode("overwrite").parquet(path)
    return path


def _read(spark, path):
    return spark.read.parquet(path)


def test_full_layout_headers_off(run_cli, spark, flat_corpus, tmp_path):
    out_on = str(tmp_path / "on")
    out_off = str(tmp_path / "off")
    run_cli(["full-layout", "--input", flat_corpus, "--output", out_on])
    run_cli(["full-layout", "--input", flat_corpus, "--output", out_off,
             "--headers-off"])
    kinds_on = {r["kind"] for r in _read(spark, out_on).select("kind").distinct().collect()}
    kinds_off = {r["kind"] for r in _read(spark, out_off).select("kind").distinct().collect()}
    # with the role active some text reclassifies to 'heading'; with
    # --headers-off the heading role is ignored entirely
    assert "heading" in kinds_on
    assert "heading" not in kinds_off
    # ignoring the role must not change which spans are emitted
    assert (_read(spark, out_on).count() == _read(spark, out_off).count())
    # ADVICE r4: headers_off must disable ONLY the heading role — the
    # reference keeps detecting drop capitals (and adhering them, C14)
    # under --headers-off (eynollah.py:2420-2446 touches reading order
    # only). Every drop-capital found with the role on must still be
    # found with it off (headings-off can only ADD candidates, since the
    # heading mask no longer shadows the drop-capital mask).
    dc_on = _read(spark, out_on).filter(F.col("kind") == "drop-capital").count()
    dc_off = _read(spark, out_off).filter(F.col("kind") == "drop-capital").count()
    assert dc_on > 0, "corpus slice has no drop capitals"
    assert dc_off >= dc_on


def test_full_layout_num_col_clamp_changes_layout(run_cli, spark, flat_corpus, tmp_path):
    out_auto = str(tmp_path / "auto")
    out_three = str(tmp_path / "three")
    run_cli(["full-layout", "--input", flat_corpus, "--output", out_auto])
    # pin num_col to 3: the marginalia channel only runs for num_col <= 2
    # (kernels/layout.py split_main_and_marginal), so pages whose
    # marginalia the autodetected count enabled must lose it
    run_cli(["full-layout", "--input", flat_corpus, "--output", out_three,
             "--num-col-lower", "3", "--num-col-upper", "3"])
    a, b = _read(spark, out_auto), _read(spark, out_three)
    assert a.count() == b.count()  # same spans, different classification
    n_marg_auto = a.filter(F.col("kind") == "marginalia").count()
    n_marg_three = b.filter(F.col("kind") == "marginalia").count()
    assert n_marg_auto > 0, "corpus slice has no marginalia pages"
    assert n_marg_three == 0, "num_col clamp did not reach the kernel"


def test_full_layout_right2left_changes_order(run_cli, spark, flat_corpus, tmp_path):
    out_ltr = str(tmp_path / "ltr")
    out_rtl = str(tmp_path / "rtl")
    run_cli(["full-layout", "--input", flat_corpus, "--output", out_ltr])
    run_cli(["full-layout", "--input", flat_corpus, "--output", out_rtl,
             "--right2left"])
    a = _read(spark, out_ltr).select("doc_id", "ord", "offset")
    b = _read(spark, out_rtl).select("doc_id", "ord", "offset")
    assert a.count() == b.count()
    assert a.join(b, ["doc_id", "ord", "offset"], "left_anti").count() > 0


def test_full_layout_printspace_margin_drops_edge_spans(run_cli, spark, flat_corpus, tmp_path):
    out_all = str(tmp_path / "all")
    out_ps = str(tmp_path / "ps")
    out_ipe = str(tmp_path / "ipe")
    run_cli(["full-layout", "--input", flat_corpus, "--output", out_all])
    run_cli(["full-layout", "--input", flat_corpus, "--output", out_ps,
             "--printspace-margin", "0.2"])
    # --ignore-page-extraction wins over a configured margin (reference -ipe)
    run_cli(["full-layout", "--input", flat_corpus, "--output", out_ipe,
             "--printspace-margin", "0.2", "--ignore-page-extraction"])
    n_all = _read(spark, out_all).count()
    n_ps = _read(spark, out_ps).count()
    n_ipe = _read(spark, out_ipe).count()
    assert n_ps < n_all
    assert n_ipe == n_all


def test_layout_cmd_accepts_flags_resumable(run_cli, spark, tmp_path):
    from eynollah_spark.corpus import corpus_flat_spark, nest_corpus

    nested = str(tmp_path / "nested.parquet")
    (nest_corpus(corpus_flat_spark(spark, 20))
     .write.mode("overwrite").parquet(nested))
    out = str(tmp_path / "out")
    summary = run_cli(["layout", "--input", nested, "--output", out,
                       "--n-parts", "2", "--num-col-upper", "1",
                       "--printspace-margin", "0.05"])
    assert summary["processed"] == 2 and summary["docs"] == 20


def test_layout_cmd_flags_reach_kernel(run_cli, spark, tmp_path):
    """`cli layout`'s flags reach run_extraction's kernel and printspace
    filter: a pinned num_col of 3 leaves no marginalia, the printspace
    margin drops edge spans, and a document whose every span falls
    outside the frame commits no rows and is not counted."""
    from eynollah_spark.corpus import corpus_flat_spark, nest_corpus
    from eynollah_spark.manifest import read_as_of

    flat = corpus_flat_spark(spark, 80)  # docs 65-74 carry marginalia
    # every span of the first document at x = 0, outside any printspace
    victim = flat.select("doc_id").orderBy("doc_id").first()["doc_id"]
    off = F.col("doc_id") == victim
    flat = (flat.withColumn("x0", F.when(off, F.lit(0)).otherwise(F.col("x0")))
            .withColumn("x1", F.when(off, F.lit(0)).otherwise(F.col("x1"))))
    nested = str(tmp_path / "nested.parquet")
    nest_corpus(flat).write.parquet(nested)

    def layout(name, *flags):
        out = str(tmp_path / name)
        summary = run_cli(["layout", "--input", nested, "--output", out,
                           "--n-parts", "2", *flags])
        return summary, read_as_of(spark, out)

    base, base_rows = layout("base")
    pinned, pinned_rows = layout("pinned", "--num-col-upper", "3")
    cropped, cropped_rows = layout("cropped", "--printspace-margin", "0.2")
    assert base_rows.filter(F.col("kind") == "marginalia").count() > 0
    assert pinned_rows.filter(F.col("kind") == "marginalia").count() == 0
    assert pinned["spans"] == base["spans"]
    assert cropped["spans"] < base["spans"] == base_rows.count()
    assert cropped["spans"] == cropped_rows.count()
    assert base_rows.filter(F.col("doc_id") == victim).count() > 0
    assert cropped_rows.filter(F.col("doc_id") == victim).count() == 0
    assert cropped["docs"] == cropped_rows.select("doc_id").distinct().count()
    assert cropped["docs"] < base["docs"]


def test_snapshots_cmd_prints_the_log_without_spark(run_cli, spark, tmp_path, monkeypatch):
    """`cli snapshots` prints the snapshot log of a two-batch `cli layout`
    run as one JSON object, per commit its id, parent, ts and the
    docs/spans/quarantined sums, without starting a Spark session."""
    import eynollah_spark.session as session_mod
    from eynollah_spark.corpus import corpus_flat_spark, nest_corpus

    nested = str(tmp_path / "nested.parquet")
    nest_corpus(corpus_flat_spark(spark, 30)).write.parquet(nested)
    out = str(tmp_path / "out")
    summary = run_cli(["layout", "--input", nested, "--output", out])
    assert summary["snapshot_ids"] == [1, 2]

    def no_session(**kw):
        raise AssertionError("cli snapshots started a Spark session")

    monkeypatch.setattr(session_mod, "build_session", no_session)
    log = run_cli(["snapshots", "--output", out])
    assert log["output"] == out
    snaps = log["snapshots"]
    assert [(s["snapshot_id"], s["parent_id"]) for s in snaps] == [(1, None), (2, 1)]
    assert all(s["ts"] for s in snaps)
    for k in ("docs", "spans", "quarantined"):
        assert sum(s[k] for s in snaps) == summary[k]
    assert summary["docs"] == 30
