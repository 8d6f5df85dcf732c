"""Self-tests of the benchmark's own code: python3 -m pytest perfbench -q"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import inputs  # noqa: E402
from tracing import Span, Tracer, self_time_by_name, self_times  # noqa: E402


# ------------------------------------------------------------------- spans --

def test_self_time_subtracts_children_on_a_synthetic_tree():
    spans = [
        Span(0, "root", None, 0.0, 10.0),
        Span(1, "a", 0, 1.0, 4.0),
        Span(2, "b", 0, 3.0, 6.0),     # overlaps a: covered once, not twice
        Span(3, "c", 1, 2.0, 3.0),     # grandchild: counts against a only
        Span(4, "d", 0, 9.0, 12.0),    # runs past its parent: clipped
    ]
    st = self_times(spans)
    assert st == pytest.approx({0: 10.0 - 5.0 - 1.0, 1: 2.0, 2: 3.0, 3: 1.0, 4: 3.0})
    by_name = self_time_by_name(spans + [Span(5, "c", 2, 4.0, 4.5)])
    assert by_name["c"] == pytest.approx((1.5, 2))
    assert by_name["b"] == pytest.approx((2.5, 1))


def test_tracer_records_nested_wrapped_calls():
    tr = Tracer()

    def leaf(x):
        return x + 1

    traced_leaf = tr.wrap("leaf", leaf)
    with tr.span("outer"):
        assert [traced_leaf(i) for i in range(3)] == [1, 2, 3]
    assert [s.name for s in tr.spans] == ["outer", "leaf", "leaf", "leaf"]
    assert all(s.parent == 0 for s in tr.spans[1:])
    assert self_time_by_name(tr.spans)["leaf"][1] == 3
    off = Tracer(active=False)
    with off.span("outer"):
        off.wrap("leaf", leaf)(1)
    assert off.spans == []


# ------------------------------------------------------------ output check --

@pytest.fixture
def oracle(tmp_path):
    """Two documents in the written-corpus layout: A has 3 spans, B has 2,
    and an empty document C has its offset -1 marker row."""
    t = pa.table({
        "doc_id": ["A", "A", "A", "B", "B", "C"],
        "offset": [0, 1, 2, 0, 1, -1],
        "expected_rank": [2, 0, 1, 0, 1, -1],
        "expected_kind": ["text", "text", "image", "text", "marginalia", None],
    })
    f = str(tmp_path / "part-0.parquet")
    pq.write_table(t, f)
    return inputs.expected_sql([f])


def _written():
    return pd.DataFrame({"doc_id": ["A", "A", "A", "B", "B"],
                         "ord": [0, 1, 2, 0, 1],
                         "kind": ["text", "image", "text", "text", "marginalia"],
                         "offset": [1, 2, 0, 0, 1]})


def test_correct_output_has_no_bad_documents(oracle):
    assert checks.bad_documents(_written(), oracle) == 0


@pytest.mark.parametrize("corrupt", [
    lambda w: w.assign(ord=w["ord"].where(w.index != 0, 2)),              # wrong order
    lambda w: w.assign(kind=w["kind"].where(w.index != 4, "text")),       # wrong kind
    lambda w: w.drop(index=4),                                            # dropped row
    lambda w: pd.concat([w, w.iloc[[3]]]),                                # duplicated row
    lambda w: pd.concat([w, pd.DataFrame({"doc_id": ["B"], "ord": [2],
                                          "kind": ["text"], "offset": [7]})]),  # extra span
])
def test_an_injected_wrong_row_counts_one_bad_document(oracle, corrupt):
    assert checks.bad_documents(corrupt(_written()), oracle) == 1


def test_query_results_compare_as_row_multisets():
    a = pd.DataFrame({"k": [2, 1], "v": [0.1 + 0.2, 1.0], "s": ["y", "x"]})
    b = pd.DataFrame({"s": ["x", "y"], "v": [1.0, 0.3], "k": [1, 2]})
    assert checks.same_result(a, b)
    assert not checks.same_result(a, b.assign(v=[1.0, 0.31]))
    assert not checks.same_result(a, b.iloc[:1])
    assert not checks.same_result(a, b.rename(columns={"v": "w"}))


def test_query_order_is_a_function_of_the_seed():
    import workloads

    q = workloads.Queries()

    def order(seed, k):
        return q._order(workloads.Run(None, 1, seed, 0.0, "", Tracer()), k)

    assert order(42, 0) == order(42, 0)
    assert order(42, 0) != order(43, 0) and order(42, 0) != order(42, 1)
    assert sorted(order(7, "cold")) == sorted(workloads.HEADLINE_QUERIES)


# ------------------------------------------------- extraction, end to end --

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run

    saved = dict(os.environ)
    run._pin_environment(str(tmp_path_factory.mktemp("spark")))
    from eynollah_spark.session import build_session

    s = build_session(app="perfbench_selftest", cpus=2, shuffle_partitions=4)
    yield s
    run._stop(s)
    os.environ.clear()
    os.environ.update(saved)


def _extract_once(spark, seed: int, work: str):
    import workloads
    from tracing import Tracer

    run = workloads.Run(spark, 2, seed, 0.0, work, Tracer(active=False))
    wl = workloads.ExtractBucketed(n_docs=60, n_files=4)
    wl.generate(run)
    wl.measure(run)
    wl.check(run)
    return run, wl


def test_same_seed_same_checksums_and_no_failures(spark, tmp_path):
    sums = {}
    for tag, seed in (("a", 42), ("b", 42), ("c", 7)):
        run, wl = _extract_once(spark, seed, str(tmp_path / tag))
        assert (run.attempted, run.failed) == (60, 0)
        sums[tag] = (checks.corpus_checksum(wl.corpus_dir),
                     checks.output_checksum(wl._out(run, 0)))
    assert sums["a"] == sums["b"]
    assert sums["c"][0] != sums["a"][0] and sums["c"][1] != sums["a"][1]


def test_a_wrong_written_row_counts_as_a_failure(spark, tmp_path):
    run, wl = _extract_once(spark, 42, str(tmp_path))
    out = wl._out(run, 0)
    f = next(os.path.join(out, n) for n in sorted(os.listdir(out))
             if n.endswith(".parquet"))
    t = pq.read_table(f)
    ids, ords = t["doc_id"].to_pylist(), t["ord"].to_numpy().copy()
    i = next(k for k in range(len(ids) - 1) if ids[k] == ids[k + 1])
    ords[[i, i + 1]] = ords[[i + 1, i]]  # swap two spans of one document
    pq.write_table(t.set_column(t.schema.get_field_index("ord"), "ord",
                                pa.array(ords.astype(np.int32))), f)
    run.attempted = run.failed = 0
    wl.check(run)
    assert (run.attempted, run.failed) == (60, 1)
