"""Tests of the benchmark's own checks.

    python3 -m pytest perfbench -q

They start one local Spark session, so they take about a minute.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import datagen, envinfo, invoices, workloads  # noqa: E402
from perfbench.run import ROOT, prepare_env, stop_engine  # noqa: E402


@pytest.fixture(scope="module")
def work():
    path = os.path.join(ROOT, "perfbench", "work", f"test-{os.getpid()}")
    prepare_env(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


@pytest.fixture(scope="module")
def spark(work):
    from rpa_etl_spark.session import get_spark

    s = get_spark("perfbench-test")
    yield s
    stop_engine(s)


def _run(work: str, spark, name: str, monkeypatch) -> workloads.Run:
    """A zero-second run on the shared session: the warm-up, then the
    fewest timed ops a run makes."""
    monkeypatch.setattr(workloads, "N_INVOICES", 40)
    monkeypatch.setattr(workloads, "WARMUP_OPS", 1)
    run = workloads.Run(os.path.join(work, name), seed=7, seconds=0, trace=False)
    run.spark = spark
    run.start_engine = lambda: None
    return run


def test_cnpj_check_digits():
    # published examples: both pass the mod-11 check digit rule
    assert invoices.cnpj("042520110001") == "04.252.011/0001-10"
    assert invoices.cnpj("112223330001") == "11.222.333/0001-81"
    assert invoices.cnpj("112223330001", valid=False) != "11.222.333/0001-81"


def test_corpus_is_seeded_and_planted(tmp_path):
    a = invoices.write_corpus(str(tmp_path / "a"), seed=3, n_docs=300)
    b = invoices.write_corpus(str(tmp_path / "b"), seed=3, n_docs=300)
    assert a.expected == b.expected and a.n_bytes == b.n_bytes
    statuses = a.expected_statuses()
    assert set(statuses) == {"success", "partial", "error"}
    assert 0.7 < 1 - statuses["error"] / a.n_pdfs < 0.9
    assert a.n_files - a.n_pdfs >= 1
    assert set(a.expected_routes()) == {
        "revisao_manual", "auditoria_fiscal", "processamento_normal"}


def test_tables_are_seeded(tmp_path):
    import pyarrow.parquet as pq

    rows = datagen.generate(str(tmp_path / "a"), seed=5, sf=0.001)
    datagen.generate(str(tmp_path / "b"), seed=5, sf=0.001)
    datagen.generate(str(tmp_path / "c"), seed=6, sf=0.001)
    read = lambda d: pq.read_table(str(tmp_path / d / "lineitem.parquet"))  # noqa: E731
    assert read("a").equals(read("b"))
    assert not read("a").equals(read("c"))
    assert rows["orders"] == 1500
    ts = pq.ParquetFile(str(tmp_path / "a" / "events.parquet")).schema.column(1)
    assert ts.name == "ts" and ts.physical_type == "INT64"
    logical = json.loads(ts.logical_type.to_json())
    assert (logical["Type"], logical["timeUnit"], logical["isAdjustedToUTC"]) == (
        "Timestamp", "microseconds", False)


def test_small_seed_routes_as_planted(work, spark, monkeypatch):
    run = _run(work, spark, "planted", monkeypatch)
    workloads.InvoicePdfEtl(run).run_all()
    assert run.attempted >= 2 and run.failed == 0, run.failures


def test_tampered_expectation_is_a_failed_op(work, spark, monkeypatch):
    real = invoices.write_corpus

    def tampered(directory, seed, n_docs):
        corpus = real(directory, seed, n_docs)
        name = sorted(corpus.expected)[0]
        status, route = corpus.expected[name]
        corpus.expected[name] = (status, "auditoria_fiscal" if route != "auditoria_fiscal"
                                 else "processamento_normal")
        return corpus

    monkeypatch.setattr(invoices, "write_corpus", tampered)
    run = _run(work, spark, "tampered", monkeypatch)
    workloads.InvoicePdfEtl(run).run_all()
    assert run.failed == run.attempted >= 2


def test_query_checks_count_wrong_results(work, spark, monkeypatch):
    from rpa_etl_spark import registry

    registry.load_all_plans()
    names = ["q_join_anti", "q_rollup"]
    run = _run(work, spark, "queries", monkeypatch)
    workloads.DeclaredQueries(run, names, 0.01, warmup_rounds=1).run_all()
    assert run.attempted == 4 and run.failed == 0, run.failures  # two rounds

    # without an oracle the row count must repeat the warm-up's
    monkeypatch.delitem(registry.ORACLES, "q_join_anti")
    run = _run(work, spark, "rows", monkeypatch)
    workloads.DeclaredQueries(run, names, 0.01, warmup_rounds=1).run_all()
    assert run.failed == 0, run.failures

    # a wrong oracle fails the check: both ops of that query are failed
    monkeypatch.setitem(registry.ORACLES, "q_rollup", "SELECT 1 AS x")
    run = _run(work, spark, "wrong", monkeypatch)
    workloads.DeclaredQueries(run, names, 0.01, warmup_rounds=1).run_all()
    assert run.failed == 2 and "q_rollup" in run.failures[0]


def test_worker_imports_this_checkout(spark):
    workloads.check_worker_imports(spark)


def test_records_with_other_cpus_are_not_compared():
    from perfbench.compare import compare

    env = {"nproc": 4, "spark_graft_cpus": "4", "default_parallelism": 4}
    a = {"workload": "sql_analytics", "env": env, "end_to_end": {"ops_per_s": 2.0}}
    b = {"workload": "sql_analytics", "env": dict(env, spark_graft_cpus="32"),
         "end_to_end": {"ops_per_s": 3.0}}
    reasons, lines = compare(a, b)
    assert reasons == ["spark_graft_cpus: 4 != 32"] and not lines
    assert envinfo.comparable(env, dict(env)) == []
    assert compare(a, dict(a))[1] == ["ops_per_s 2 -> 2 (+0.0%)"]


def test_peak_rss_counts_python_workers(spark):
    from perfbench.probes import SparkProbe, _proc_field

    workloads.check_worker_imports(spark)  # a Python job: starts the daemon
    probe = SparkProbe(spark)
    jvm_mb = _proc_field(f"/proc/{probe.jvm_pid}/status", "VmHWM:") / 1024
    assert len(probe.process_tree()) > 1
    assert probe.peak_rss_mb() > jvm_mb
