"""The workloads. Each has a set-up (inputs plus one untimed pass), a
timed loop of passes, an output check and, for the traced run, per-layer
extras.

A pass is made of units (one extraction over the corpus, or one query
call), each timed on its own. A workload reports through its ``Run``: the
unit walls and CPU seconds, with ``ops_per_pass``, for the end-to-end
numbers; ``attempted``/``failed`` for the checks; ``layers`` for the
per-layer numbers.
"""

from __future__ import annotations

import functools
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import checks
import inputs
from tracing import StageMetrics, Tracer, job_group, stage_totals, tree_cpu_s

#: documents in the extraction corpus (spans per document: ~95)
BUCKETED_DOCS = 3000
BUCKETED_FILES = 64
#: manifest layer: hash buckets, and buckets per snapshot commit
SNAPSHOT_BUCKETS = 8
SNAPSHOT_BUCKETS_PER_BATCH = 2
#: input files whose documents the manifest layer extracts (of BUCKETED_FILES)
MANIFEST_FILES = 16

#: the ROADMAP headline queries minus extract_reading_order (generator plus
#: kernel, which the extraction workloads already cover)
HEADLINE_QUERIES = (
    "tpch_q1_pricing", "tpch_q3_topk", "dedup_ngram_jaccard",
    "dedup_simhash_neardup", "dedup_embedding_neardup", "dedup_exact",
    "dedup_boilerplate_chunks", "sim_topk_cosine", "sim_ann_topk",
    "events_sessionize", "events_hourly_window", "events_funnel",
    "ro_line_sort", "ro_subline_split", "multimodal_variant_cache",
)


@dataclass
class Run:
    spark: object
    cpus: int
    seed: int
    seconds: float
    work: str
    tracer: Tracer
    #: operations in one pass: documents, or query calls
    ops_per_pass: int = 0
    #: unit key -> wall, and CPU seconds of the process tree, of each call
    walls: dict[str, list[float]] = field(default_factory=dict)
    cpus_s: dict[str, list[float]] = field(default_factory=dict)
    #: completed passes (the last may be partial)
    passes: int = 0
    attempted: int = 0
    failed: int = 0
    #: what failed: pass numbers or query names
    failures: list = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    #: traced run: (span, wall) of each instrumented pass, and the unit
    #: walls of the passes run with the tracer on and off
    traced_passes: list = field(default_factory=list)
    walls_by_tracer: dict[bool, dict[str, list[float]]] = field(
        default_factory=lambda: {True: {}, False: {}})

    @property
    def traced(self) -> bool:
        return self.tracer.active

    def timed_passes(self, units) -> None:
        """Run pass k = 0, 1, ... as the (key, fn) units ``units(k)`` lists,
        and stop before a unit that, if as long as the last one, would end
        after ``seconds``; but not before one whole pass (two in the traced
        run, where every other pass runs with the tracer off, so the cost
        of instrumentation can be read off the unit walls). Stopping on a
        unit boundary keeps the sample count from jumping by a whole pass
        when a pass ends near the deadline."""
        start = time.perf_counter()
        traced = self.traced
        wall, done = 0.0, False
        while not done:
            k = self.passes
            tracing = traced and k % 2 == 0
            self.tracer.active = tracing
            ran = 0
            with self.tracer.span("pass", self.spark) as s:
                t_pass = time.perf_counter()
                for key, fn in units(k):
                    if (k >= 1 + traced
                            and time.perf_counter() - start + wall > self.seconds):
                        done = True
                        break
                    cpu0 = tree_cpu_s(os.getpid())
                    t0 = time.perf_counter()
                    fn()
                    wall = time.perf_counter() - t0
                    self.cpus_s.setdefault(key, []).append(
                        tree_cpu_s(os.getpid()) - cpu0)
                    self.walls.setdefault(key, []).append(wall)
                    if traced:
                        self.walls_by_tracer[tracing].setdefault(key, []).append(wall)
                    ran += 1
                t_pass = time.perf_counter() - t_pass
            self.tracer.active = traced
            if ran:
                self.passes += 1
                if s is not None:
                    self.traced_passes.append((s, t_pass))

    def pass_s(self) -> float:
        """The wall of one pass: the sum over units of each one's median."""
        return sum(statistics.median(w) for w in self.walls.values())

    def pass_cpu_s(self) -> float:
        return sum(statistics.median(c) for c in self.cpus_s.values())

    def trace_overhead(self) -> float:
        on, off = self.walls_by_tracer[True], self.walls_by_tracer[False]
        keys = on.keys() & off.keys()
        return (sum(statistics.median(on[k]) for k in keys)
                / sum(statistics.median(off[k]) for k in keys) - 1.0)

    def spans_under(self, span) -> list:
        """``span`` and every span nested in it."""
        inside = [span]
        ids = {span.id}
        for s in self.tracer.spans[span.id + 1:]:
            if s.parent in ids:
                inside.append(s)
                ids.add(s.id)
        return inside

    def pipeline_stage_layers(self, sm: StageMetrics) -> None:
        """``pipeline.*`` from the stages of the instrumented passes
        (medians over passes); the task skew is that of the stage with the
        most run time."""
        per_pass = []
        for s, wall in self.traced_passes:
            stages = [st for sub in self.spans_under(s)
                      for st in sm.stages_of(job_group(sub))]
            if not stages:
                continue
            tot = stage_totals(stages)
            tot["task_skew"] = sm.task_skew(
                max(stages, key=lambda st: st["executorRunTime"]))
            tot["slot_util"] = tot["run_s"] / (wall * self.cpus)
            per_pass.append(tot)
        if not per_pass:
            raise RuntimeError("no stage metrics for the traced passes")

        def med(k):
            return statistics.median(p[k] for p in per_pass)

        self.layers.update({
            "pipeline.executor_run_s": med("run_s"),
            "pipeline.executor_cpu_s": med("cpu_s"),
            "pipeline.jvm_gc_s": med("gc_s"),
            "pipeline.task_skew": med("task_skew"),
            "pipeline.slot_util": med("slot_util"),
            "pipeline.shuffle_write_mb": med("shuffle_write_mb"),
            "pipeline.shuffle_read_mb": med("shuffle_read_mb"),
        })


def _fresh(path: str) -> str:
    """An empty directory at ``path``."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _replay_layers(run: Run, files: list[str]) -> None:
    from replay import replay

    rep = replay(files, _fresh(os.path.join(run.work, "replay")), run.tracer)
    replayed = rep.pop("replay.total_s")
    run.layers.update(rep)
    run.layers["pipeline.explained_frac"] = (
        replayed / run.layers["pipeline.executor_run_s"])


# ---------------------------------------------------------------- workloads --

class ExtractBucketed:
    """pipeline.extract_from_parquet_files over doc-complete, doc_id-hash-
    bucketed parquet files, writing the ordered output task-side."""

    def __init__(self, n_docs: int = BUCKETED_DOCS, n_files: int = BUCKETED_FILES):
        self.n_docs, self.n_files = n_docs, n_files

    def generate(self, run: Run) -> None:
        self.corpus_dir = inputs.write_corpus(
            run.spark, self.n_docs, run.seed, os.path.join(run.work, "corpus"),
            bucketed_files=self.n_files)
        self.files = inputs.parquet_files(self.corpus_dir)
        self.expected = inputs.expected_sql(self.files)

    def _out(self, run: Run, k) -> str:
        return os.path.join(run.work, "out", f"pass-{k}")

    def _pass(self, run: Run, out_dir: str) -> int:
        from pyspark.sql import functions as F

        from eynollah_spark.pipeline import extract_from_parquet_files

        df = extract_from_parquet_files(
            run.spark, self.files, partitions=2 * run.cpus,
            include_payload=False, write_dir=out_dir, stats_only=True)
        return df.agg(F.sum("n_rows")).first()[0]

    def warm_up(self, run: Run) -> None:
        self._pass(run, _fresh(self._out(run, "warm")))

    def measure(self, run: Run) -> None:
        run.ops_per_pass = self.n_docs
        run.timed_passes(lambda k: [
            ("pass", lambda: self._pass(run, _fresh(self._out(run, k))))])

    def check(self, run: Run) -> None:
        for k in range(run.passes):
            run.attempted += self.n_docs
            bad = checks.bad_documents(self._out(run, k), self.expected)
            run.failed += bad
            if bad:
                run.failures.append(f"pass {k}: {bad} documents")

    def trace_layers(self, run: Run, sm: StageMetrics) -> None:
        run.pipeline_stage_layers(sm)
        _replay_layers(run, self.files)
        manifest_layers(run, self.files[:MANIFEST_FILES])


def _read_back(run: Run, out_path: str):
    from eynollah_spark.manifest import read_as_of

    return (read_as_of(run.spark, out_path)
            .select("doc_id", "ord", "kind", "offset").toPandas())


def manifest_layers(run: Run, files: list[str]) -> None:
    """``manifest.*``: manifest.run_extraction over the nested documents
    table of the documents in ``files`` (hash buckets extracted a batch at
    a time, each batch committed as a snapshot), read back through
    read_as_of, then rolled back to the 2nd snapshot and resumed. Every
    read-back is checked against the oracle."""
    from eynollah_spark.corpus import nest_corpus
    from eynollah_spark.manifest import rollback, run_extraction, snapshots

    spark, root = run.spark, os.path.join(run.work, "manifest")
    docs_dir = os.path.join(root, "docs")
    nest_corpus(spark.read.parquet(*files)).write.parquet(docs_dir)
    docs = spark.read.parquet(docs_dir)
    n_docs, expected = inputs.count_docs(files), inputs.expected_sql(files)

    def extract_into(out_path):
        return run_extraction(docs, out_path, n_parts=SNAPSHOT_BUCKETS,
                              parts_per_batch=SNAPSHOT_BUCKETS_PER_BATCH)

    def check(out_path):
        with run.tracer.span("manifest.read_as_of", spark) as read:
            written = _read_back(run, out_path)
        run.attempted += n_docs
        run.failed += checks.bad_documents(written, expected)
        return read.duration

    out = _fresh(os.path.join(root, "out"))
    with run.tracer.span("manifest.run_extraction", spark) as ext:
        summary = extract_into(out)
    read_s = check(out)
    rollback(out, snapshots(out)[1]["snapshot_id"])
    with run.tracer.span("manifest.resume", spark) as resume:
        extract_into(out)
    check(out)
    sm = StageMetrics(spark).load()
    jobs = sm.jobs_of(job_group(ext))
    jobs_s = sm.job_seconds(jobs)
    run.layers.update({
        "manifest.run_extraction_s": ext.duration,
        "manifest.spark_jobs_s": jobs_s,
        "manifest.driver_self_s": ext.duration - jobs_s,
        "manifest.commits": len(summary.get("snapshot_ids", [])),
        # the per-bucket stats are the collect() jobs over the written files
        "manifest.stats_jobs_s": sm.job_seconds(
            [j for j in jobs if j["name"].startswith("collect")]),
        "manifest.read_as_of_s": read_s,
        "manifest.resume_s": resume.duration,
    })


class Queries:
    """The headline queries over the sf0.01 test tables, in a seed-shuffled
    order per pass; each call collects its result."""

    names = HEADLINE_QUERIES

    def generate(self, run: Run) -> None:
        import __spark_entry__ as entry

        self.sf_dir = inputs.QUERY_TABLES_DIR
        qs = entry.queries()
        self.fns = {n: qs[n] for n in self.names}
        self.oracle_sql = {n: entry.oracle_sql()[n] for n in self.names}
        self.results: list[tuple[str, object]] = []
        self.calls: dict[str, list] = {n: [] for n in self.names}

    def _call(self, run: Run, name: str):
        """One query call: (span, wall, result or the exception it raised)."""
        with run.tracer.span(f"query.{name}", run.spark) as s:
            t0 = time.perf_counter()
            try:
                res = self.fns[name](run.spark, self.sf_dir).toPandas()
            except Exception as e:  # a failing query counts, the run goes on
                res = e
            wall = time.perf_counter() - t0
        return s, wall, res

    def warm_up(self, run: Run) -> None:
        """The cold pass (first call of every query in this session, one
        at a time, so the cold walls add up to its part of ``setup_s``),
        then one untimed warm pass: the JVM is still compiling the query
        path during the first warm pass, which would make the timed walls
        depend on how many passes the run gets."""
        self.cold = {name: self._call(run, name)[1]
                     for name in self._order(run, "cold")}
        for name in self._order(run, "warm"):
            self._call(run, name)

    def _order(self, run: Run, k) -> list[str]:
        order = list(self.names)
        random.Random(f"{run.seed}-{k}").shuffle(order)
        return order

    def _timed_call(self, run: Run, name: str) -> None:
        s, wall, res = self._call(run, name)
        self.calls[name].append((s, wall))
        self.results.append((name, res))

    def measure(self, run: Run) -> None:
        run.ops_per_pass = len(self.names)
        run.timed_passes(lambda k: [
            (name, functools.partial(self._timed_call, run, name))
            for name in self._order(run, k)])

    def check(self, run: Run) -> None:
        oracle = checks.oracle_results(self.sf_dir, self.oracle_sql)
        for name, res in self.results:
            run.attempted += 1
            if isinstance(res, Exception) or not checks.same_result(res, oracle[name]):
                run.failed += 1
                run.failures.append(name)

    def trace_layers(self, run: Run, sm: StageMetrics) -> None:
        run.pipeline_stage_layers(sm)
        for name in self.names:
            per_call = [stage_totals(sm.stages_of(job_group(s)))
                        for s, _ in self.calls[name] if s is not None]
            run.layers[f"queries.{name}.warm_s"] = statistics.median(
                w for _, w in self.calls[name])
            run.layers[f"queries.{name}.cold_s"] = self.cold[name]
            run.layers[f"queries.{name}.executor_cpu_s"] = statistics.median(
                p["cpu_s"] for p in per_call)
            run.layers[f"queries.{name}.shuffle_mb"] = statistics.median(
                p["shuffle_write_mb"] for p in per_call)


WORKLOADS = {
    "extract_bucketed": ExtractBucketed,
    "queries_sf0.01": Queries,
}
