"""The three benchmark workloads.

Every workload is a closed loop with one client: the next op starts when
the previous one returns. Each run generates its inputs from the seed,
starts the engine with ``session.get_spark``, warms every op, times ops
for the requested seconds, and checks every op's output outside the timed
region.

``trace=True`` runs the same loop with spans and status-store readings
around each layer call on half of the ops (see ``Run.traced_op``; the
other half stays untraced, so the run measures its own tracing
overhead), then the workload's extra layer probes.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from collections import Counter
from contextlib import contextmanager

from perfbench import datagen, invoices
from perfbench.membership import ITERATIVE_LAKEHOUSE, SQL_ANALYTICS
from perfbench.probes import SparkProbe, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# input sizes: fixed per workload, so every seed does the same work.
# sql_analytics reads the tables at sf 0.1 (600k lineitem rows). The
# iterative queries stay at sf 0.01: at sf 0.1 one run of them takes ~51 s
# for six timed ops, over the per-run budget, while their op time grows
# only from ~2.2 to ~2.6 s, so the per-job floor dominates at both sizes.
SQL_SF = 0.1
ITERATIVE_SF = 0.01
# 256 PDFs scan as 8 tasks, two per core. Ten runs at 128 PDFs (4 tasks)
# spread by 0.24 of their median, against 0.13 at 256; 512 (16 tasks)
# leaves too few ops in a run's time budget
N_INVOICES = 256
# invoice ops keep speeding up over the first ~8 ops in a fresh JVM (from
# ~14 s to ~2.7 s); timing them earlier measures how far a run's JIT has got
WARMUP_OPS = 7
# rounds of the traced run's invoice prefix ladder; the median of each
# prefix over the rounds is what the layer differences are taken from
LADDER_ROUNDS = 4


class Run:
    """State and results of one benchmark run."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool):
        self.work, self.seed, self.seconds, self.trace = work, seed, seconds, trace
        self.rng = random.Random(seed)
        self.tracer = Tracer()
        self.ops: list[tuple[str, bool, float]] = []  # (op name, traced, seconds)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.excluded_s = 0.0                   # input generation + checks before op 1
        self.layer: dict[str, float] = {}
        self.info: dict = {}
        self.spark = None
        self.probe: SparkProbe | None = None
        self.t_first_op: float | None = None

    def start_engine(self) -> None:
        from rpa_etl_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.get_spark_s"] = time.perf_counter() - t0
        self.probe = SparkProbe(self.spark)
        t0 = time.perf_counter()
        check_worker_imports(self.spark)
        self.excluded_s += time.perf_counter() - t0

    def fail(self, what: str, n_ops: int = 1) -> None:
        self.failed += n_ops
        self.failures.append(what)

    def traced_op(self, i: int) -> bool:
        """In a traced run, timed ops form pairs (2k, 2k+1) of the same op
        with one of the two traced, first and second in turn, so the pair's
        ratio measures the tracing overhead free of warm-up drift. Warm-up
        ops (i < 0) are never traced."""
        return self.trace and i >= 0 and (i + i // 2) % 2 == 0

    def record(self, name: str, i: int, seconds: float) -> None:
        self.ops.append((name, self.traced_op(i), seconds))
        self.attempted += 1


def check_worker_imports(spark) -> None:
    """Refuse to measure when this process or a Python worker imports
    another copy of the engine than the one in this checkout."""
    import rpa_etl_spark

    here = os.path.realpath(rpa_etl_spark.__file__)
    if not here.startswith(os.path.join(os.path.realpath(ROOT), "")):
        raise SystemExit(f"rpa_etl_spark imported from {here}, not from {ROOT}")
    there = spark.sparkContext.parallelize([0], 1).map(
        lambda _: __import__("rpa_etl_spark").__file__).collect()[0]
    if os.path.realpath(there) != here:
        raise SystemExit(f"Python worker imports rpa_etl_spark from {there}, not {here}")


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


# --------------------------------------------------------------------------
# invoice_pdf_etl
# --------------------------------------------------------------------------


def check_routed(sink: str, corpus: invoices.Corpus) -> str | None:
    """Compare the routed sink with the corpus' planted truth; returns a
    description of the first mismatch, or None."""
    import pyarrow.dataset as ds

    table = ds.dataset(sink, format="parquet", partitioning="hive").to_table(
        columns=["path", "status", "route"])
    got = {
        os.path.basename(p): (s, r)
        for p, s, r in zip(*(table.column(c).to_pylist() for c in ("path", "status", "route")))
    }
    if Counter(r for _, r in got.values()) != corpus.expected_routes():
        return (f"routed counts {dict(Counter(r for _, r in got.values()))} != "
                f"planted {dict(corpus.expected_routes())}")
    if got != corpus.expected:
        bad = sorted(k for k in set(got) | set(corpus.expected)
                     if got.get(k) != corpus.expected.get(k))
        return f"{len(bad)} documents differ from planted truth, first {bad[0]}"
    return None


class InvoicePdfEtl:
    """scan -> ingress -> extract -> normalize/parse -> validate/score/route
    -> routed parquet sink, over a seeded invoice-PDF corpus."""

    def __init__(self, run: Run):
        self.run = run
        self.corpus_dir = os.path.join(run.work, "corpus")
        self.sink = os.path.join(run.work, "routed")

    def op(self, i: int):
        """Run op ``i``; a traced op returns the reading of its counts,
        to be called once its latency is recorded."""
        from rpa_etl_spark.pipeline import process_documents
        from rpa_etl_spark.sources.pdf import pdf_pipeline
        from rpa_etl_spark.sources.sinks import write_routed

        run = self.run
        if not run.traced_op(i):
            write_routed(process_documents(pdf_pipeline(run.spark, self.corpus_dir)),
                         "route", self.sink)
            return None
        probe, tr = run.probe, run.tracer
        probe.group(f"c{i}")
        with tr.span("op", i) as counts:
            with tr.span("plans.construct", i):
                with tr.span("pdf.pdf_pipeline", i):
                    df = pdf_pipeline(run.spark, self.corpus_dir)
                with tr.span("pipeline.process_documents", i):
                    df = process_documents(df)
            probe.group(f"e{i}")
            exec_id, written = probe.last_execution_id(), probe.jvm_write_bytes()
            with tr.span("exec.execute", i):
                with tr.span("sinks.write_routed", i):
                    write_routed(df, "route", self.sink)
        return lambda: _record_counts(probe, counts, i, exec_id, written)

    def run_all(self) -> None:
        run = self.run
        t0 = time.perf_counter()
        corpus = invoices.write_corpus(self.corpus_dir, run.seed, N_INVOICES)
        run.excluded_s += time.perf_counter() - t0
        run.info.update(n_files=corpus.n_files, n_pdfs=corpus.n_pdfs,
                        corpus_bytes=corpus.n_bytes)
        run.start_engine()
        t0 = time.perf_counter()
        for w in range(WARMUP_OPS):
            t1 = time.perf_counter()
            self.op(-1 - w)
            run.info.setdefault("warmup_op_s", []).append(time.perf_counter() - t1)
        run.layer["session.warmup_s"] = time.perf_counter() - t0

        run.t_first_op = time.perf_counter()
        deadline = run.t_first_op + run.seconds
        i = 0
        while time.perf_counter() < deadline or i < 2:
            t0, finish = time.perf_counter(), None
            try:
                finish = self.op(i)
                err = None
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                err = f"op {i} raised {type(e).__name__}: {e}"
            run.record("invoice", i, time.perf_counter() - t0)
            if finish:
                finish()
            if err is None:
                err = check_routed(self.sink, corpus)
            if err:
                run.fail(err)
            i += 1
        run.info["docs_per_op"] = corpus.n_pdfs
        if run.trace:
            self.layer_probes(corpus)

    def layer_probes(self, corpus: invoices.Corpus) -> None:
        """Prefix ladder and single-core extract kernel timing."""
        from pyspark.sql import functions as F

        from rpa_etl_spark.functions import parsing_arrow
        from rpa_etl_spark.functions.text import normalize_text
        from rpa_etl_spark.pipeline import process_documents
        from rpa_etl_spark.sources import minipdf
        from rpa_etl_spark.sources.pdf import (
            pdf_pipeline, read_pdf_files, validate_pdf_ingress)
        from rpa_etl_spark.sources.sinks import write_routed

        run, spark, d = self.run, self.run.spark, self.corpus_dir

        def parsed():
            df = pdf_pipeline(spark, d).withColumn(
                "normalized_text", normalize_text(F.col("text")))
            return parsing_arrow.parse_invoices_arrow(df, text_col="normalized_text")

        ladder = [
            lambda: _noop(validate_pdf_ingress(read_pdf_files(spark, d))),
            lambda: _noop(pdf_pipeline(spark, d)),
            lambda: _noop(parsed()),
            lambda: _noop(process_documents(pdf_pipeline(spark, d))),
            lambda: write_routed(process_documents(pdf_pipeline(spark, d)), "route", self.sink),
        ]
        # rounds alternate forward and backward through the prefixes, so a
        # drift over the ladder's run shifts every prefix alike; each layer
        # is the difference of consecutive per-prefix medians
        times: list[list[float]] = [[] for _ in ladder]
        for r in range(LADDER_ROUNDS):
            for k in (range(len(ladder)) if r % 2 == 0 else reversed(range(len(ladder)))):
                t0 = time.perf_counter()
                ladder[k]()
                times[k].append(time.perf_counter() - t0)
        prefix = [statistics.median(t) for t in times]
        names = ["pdf.scan_s", "pdf.extract_s", "parsing_arrow.parse_s",
                 "pipeline.score_route_s", "sinks.write_s"]
        for k, name in enumerate(names):
            run.layer[name] = prefix[k] - (prefix[k - 1] if k else 0.0)
        run.layer["ladder.total_s"] = prefix[-1]
        run.info["ladder_prefix_s"] = times
        # a layer whose difference is within the spread of its prefixes'
        # timings is not resolved by this run
        spread = [max(t) - min(t) for t in times]
        run.info["ladder_unresolved"] = [
            name for k, name in enumerate(names)
            if abs(run.layer[name]) <= max(spread[k], spread[k - 1] if k else 0.0)]

        pdfs = []
        for name in sorted(corpus.expected):
            with open(os.path.join(d, name), "rb") as f:
                pdfs.append(f.read())
        t0 = time.perf_counter()
        for content in pdfs:
            minipdf.extract_text(content)
        run.layer["minipdf.extract_ms_per_doc"] = (time.perf_counter() - t0) * 1000 / len(pdfs)



def _record_counts(probe: SparkProbe, counts: dict, i: int, exec_id: int,
                   written: int) -> None:
    """Per-op counts of a traced op, read after the op returned."""
    probe.drain()
    counts["construct_jobs"] = probe.group_counts(f"c{i}")["jobs"]
    counts.update(probe.group_counts(f"e{i}"))
    counts["python_bytes_sent"], counts["python_bytes_received"] = probe.python_bytes(exec_id)
    counts["disk_write_bytes"] = probe.jvm_write_bytes() - written


# --------------------------------------------------------------------------
# sql_analytics / iterative_lakehouse
# --------------------------------------------------------------------------


class DeclaredQueries:
    """Declared registry queries, each op one build + execute into noop."""

    def __init__(self, run: Run, names: list[str], sf: float, warmup_rounds: int):
        self.run = run
        self.names = list(names)
        self.sf = sf
        self.warmup_rounds = warmup_rounds
        self.data = os.path.join(run.work, "data")

    def op(self, i: int, name: str):
        """Build and execute query ``name`` as op ``i``; see
        ``InvoicePdfEtl.op`` for the return value."""
        from rpa_etl_spark import registry

        run = self.run
        fn = registry.QUERIES[name]
        if not run.traced_op(i):
            _noop(fn(run.spark, self.data))
            return None
        probe, tr = run.probe, run.tracer
        probe.group(f"c{i}")
        with tr.span("op", i) as counts:
            with tr.span("plans.construct", i):
                df = fn(run.spark, self.data)
            probe.group(f"e{i}")
            exec_id, written = probe.last_execution_id(), probe.jvm_write_bytes()
            with tr.span("exec.execute", i):
                _noop(df)
        counts["query"] = name
        return lambda: _record_counts(probe, counts, i, exec_id, written)

    def run_all(self) -> None:
        from rpa_etl_spark import registry

        run = self.run
        t0 = time.perf_counter()
        run.info["table_rows"] = datagen.generate(self.data, run.seed, self.sf)
        run.excluded_s += time.perf_counter() - t0
        run.start_engine()
        t0 = time.perf_counter()
        registry.load_all_plans()
        run.layer["registry.load_s"] = time.perf_counter() - t0

        # warm-up: every query once, its collected result checked here
        # against the oracle where the registry has one
        t0, excluded0 = time.perf_counter(), run.excluded_s
        warm_rows: dict[str, int] = {}
        bad: dict[str, str] = {}
        with _oracle_time_excluded(run):
            for name in run.rng.sample(self.names, len(self.names)):
                t1 = time.perf_counter()
                try:
                    warm_rows[name] = self.check(name)
                except Exception as e:  # noqa: BLE001 - a failed check is counted
                    bad[name] = f"check raised {type(e).__name__}: {str(e)[:300]}"
                run.info.setdefault("warmup_op_s", {})[name] = time.perf_counter() - t1
        # then untimed rounds as timed: rounds of the short sql_analytics
        # queries in a fresh JVM keep getting faster for ~8 rounds (3.3 s
        # for the round after the check, ~2.4 s from the ninth on); the
        # iterative queries' first round after the check is ~10% slower
        # than the second
        for _ in range(self.warmup_rounds):
            for name in run.rng.sample(self.names, len(self.names)):
                self.op(-1, name)
        run.layer["session.warmup_s"] = (
            time.perf_counter() - t0 - (run.excluded_s - excluded0))

        run.t_first_op = time.perf_counter()
        deadline = run.t_first_op + run.seconds
        ops_per_query: Counter = Counter()
        raised: set[str] = set()

        def schedule():
            while True:
                order = run.rng.sample(self.names, len(self.names))
                yield from ([n for n in order for _ in range(2)] if run.trace else order)

        # rounds in a new seeded order each; two full rounds always run, so
        # every query has two latencies, then the run stops at its deadline
        # (a traced run times each query twice in a row, and stops between
        # pairs)
        round_ops = len(self.names) * (2 if run.trace else 1)
        for i, name in enumerate(schedule()):
            if (i >= 2 * round_ops and time.perf_counter() >= deadline
                    and not (run.trace and i % 2)):
                break
            t0, finish = time.perf_counter(), None
            try:
                finish = self.op(i, name)
            except Exception as e:  # noqa: BLE001 - a failed op is counted
                run.fail(f"op {i} {name} raised {type(e).__name__}: {e}")
                raised.add(name)
            run.record(name, i, time.perf_counter() - t0)
            if finish:
                finish()
            ops_per_query[name] += 1
        run.info["rounds"] = i / round_ops

        # queries without an oracle: the row count must repeat the warm-up's
        for name in self.names:
            if name in warm_rows and name not in registry.ORACLES:
                try:
                    n = self.check(name)
                except Exception as e:  # noqa: BLE001
                    n = f"{type(e).__name__}: {e}"
                if n != warm_rows[name]:
                    bad[name] = f"{n} rows, warm-up returned {warm_rows[name]}"
        for name, err in bad.items():
            # every op of a query whose check failed returned a wrong result;
            # ops that raised are already counted
            if name not in raised:
                run.fail(f"{name}: {err}", ops_per_query[name])

    def check(self, name: str) -> int:
        """Build and collect one query; compare it with its oracle when the
        registry has one (raises on a mismatch). Returns the row count."""
        from rpa_etl_spark import registry

        df = registry.QUERIES[name](self.run.spark, self.data)
        oracle = registry.ORACLES.get(name)
        if oracle is None:
            return len(df.collect())
        from tests.oracle import assert_matches_oracle

        return assert_matches_oracle(df, oracle, self.data, name=name)


@contextmanager
def _oracle_time_excluded(run: Run):
    """Count the time DuckDB spends computing oracle results as excluded
    from set-up (the oracle is the benchmark's check, not engine work)."""
    from tests import oracle

    real = oracle.run_oracle

    def timed(sql, sf_dir):
        t0 = time.perf_counter()
        try:
            return real(sql, sf_dir)
        finally:
            run.excluded_s += time.perf_counter() - t0

    oracle.run_oracle = timed
    try:
        yield
    finally:
        oracle.run_oracle = real


# BENCHMARK.json gates invoice_pdf_etl and iterative_lakehouse; sql_analytics
# runs by name only (see perfbench/README.md, "Sizes")
WORKLOADS = {
    "invoice_pdf_etl": lambda run: InvoicePdfEtl(run),
    "sql_analytics": lambda run: DeclaredQueries(run, SQL_ANALYTICS, SQL_SF,
                                                 warmup_rounds=6),
    "iterative_lakehouse": lambda run: DeclaredQueries(run, ITERATIVE_LAKEHOUSE,
                                                       ITERATIVE_SF, warmup_rounds=1),
}
