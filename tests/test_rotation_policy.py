"""Rotation-policy enforcement (round-6 verdict #8, automated).

The registry's PRIORITY_ORDER encodes which queries the external driver
will sample (~first 50). The policy — stated in registry.py since round 5
— is that any query whose PLAN (or a kernel it runs on) changed since the
last rotation must sit inside that sampled window, so every behavior
change gets an external verdict the round it ships. Round 6 shipped a
violation (q_dedup_incremental's sentinel rework landed post-rotation in
tier 4); this test makes the rule self-enforcing:

- ``rpa_etl_spark/rotation_base.txt`` records the commit of the last
  rotation (updated whenever PRIORITY_ORDER is rebuilt).
- Plan files changed since that commit (committed or working tree) are
  AST-diffed at query-function granularity (decorators included, so an
  oracle-SQL edit counts); changed/added query functions must be in the
  sampled window.
- Kernel modules (operators/, sources/, functions/, streaming/, and the
  shared top-level modules) map to representative consumer queries via
  KERNEL_CONSUMERS; a kernel edit requires its consumers in the window.
  Kernel modules are compared as ASTs with docstrings stripped, so an
  edit to prose alone (docstrings, comments) re-queues nothing.
  A completeness guard fails when a new module lacks a mapping — adding
  one is a conscious decision, not an accident.
"""

from __future__ import annotations

import ast
import inspect
import os
import re
import subprocess

import pytest

from rpa_etl_spark import registry

registry.load_all_plans()

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE_FILE = os.path.join(REPO, "rpa_etl_spark", "rotation_base.txt")

# how many leading PRIORITY_ORDER entries the external driver samples
SAMPLED_WINDOW = 50

# kernel module → declared queries that exercise it end-to-end. Keys are
# repo-relative paths; values must be non-empty unless the module is pure
# plumbing with no query-observable behavior (explicitly empty = reviewed).
KERNEL_CONSUMERS: dict[str, list[str]] = {
    "rpa_etl_spark/operators/asof.py": ["q_join_asof"],
    "rpa_etl_spark/operators/bpe.py": [
        "q_bpe_train", "q_bpe_train_distributed", "q_bpe_tokenize",
        "q_bpe_train_bytes", "q_bpe_tokenize_bytes",
        "q_pack_sequences_bpe", "q_domain_mix_bpe",
    ],
    "rpa_etl_spark/operators/components.py": ["q_dedup_clusters"],
    "rpa_etl_spark/operators/dedup.py": [
        "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash",
        "q_dedup_ngram_jaccard", "q_dedup_containment",
    ],
    "rpa_etl_spark/operators/maintenance.py": [],  # sink-side compaction; no declared query
    "rpa_etl_spark/operators/tablefmt.py": [
        "q_table_time_travel", "q_table_schema_evolution",
        "q_table_pruned_scan", "q_table_changes", "q_table_zorder_scan",
        "q_table_delete_dv", "q_table_time_pruned_scan", "q_table_update",
        "q_table_partitioned_scan", "q_table_native_write", "q_table_sql",
    ],
    "rpa_etl_spark/operators/fileskip.py": [
        "q_table_pruned_scan", "q_table_zorder_scan", "q_table_delete_dv",
        "q_table_time_pruned_scan", "q_table_partitioned_scan",
    ],
    "rpa_etl_spark/operators/similarity.py": [
        "q_sim_topk", "q_ann_lsh", "q_ann_ivf", "q_ann_ivf_trained",
        "q_dedup_embedding_lsh",
        "q_ann_ivf_pq", "q_dedup_embedding",
    ],
    "rpa_etl_spark/operators/skew.py": ["q_join_skew_salted", "q_agg_skew_salted"],
    "rpa_etl_spark/operators/sampling.py": ["q_sample_reservoir"],
    "rpa_etl_spark/operators/bloom.py": ["q_dedup_bloom"],
    "rpa_etl_spark/operators/pagerank.py": ["q_pagerank", "q_pagerank_dangling"],
    "rpa_etl_spark/streaming/joins.py": ["q_stream_outer_join"],
    "rpa_etl_spark/operators/sketches.py": ["q_heavy_hitters_cms"],
    "rpa_etl_spark/operators/hashing.py": ["q_dedup_bloom", "q_heavy_hitters_cms"],
    "rpa_etl_spark/operators/textstats.py": ["q_text_stats", "q_lang_quality"],
    "rpa_etl_spark/operators/textstats_arrow.py": ["q_lang_quality", "q_repetition_stats"],
    "rpa_etl_spark/operators/udtf_blocks.py": ["q_chunk_documents"],
    "rpa_etl_spark/operators/zorder.py": ["q_zorder_code", "q_table_zorder_scan"],
    "rpa_etl_spark/sources/jpeg.py": ["q_multimodal_decode", "q_multimodal_mjpeg"],
    "rpa_etl_spark/sources/minipdf.py": [
        "q_pdf_extract", "q_pdf_extract_hard", "q_pdf_extract_encrypted",
        "q_pdf_extract_passworded",
    ],
    "rpa_etl_spark/sources/multimodal.py": [
        "q_multimodal_meta", "q_multimodal_decode", "q_multimodal_frames",
        "q_multimodal_audio", "q_multimodal_png", "q_multimodal_resize",
        "q_multimodal_mjpeg", "q_multimodal_mpeg_iframes",
        "q_multimodal_g711", "q_multimodal_gif",
        "q_multimodal_mpeg_pframes", "q_multimodal_mpeg_bframes",
    ],
    "rpa_etl_spark/sources/mpeg1.py": ["q_multimodal_mpeg_iframes", "q_multimodal_mpeg_pframes", "q_multimodal_mpeg_bframes"],
    "rpa_etl_spark/sources/pdf.py": [
        "q_pdf_extract", "q_pdf_extract_hard", "q_pdf_extract_encrypted",
        "q_pdf_extract_passworded",
    ],
    "rpa_etl_spark/sources/warc.py": ["q_warc_extract", "q_warc_extract_zst"],
    "rpa_etl_spark/sources/tarball.py": ["q_tar_extract", "q_tar_extract_zst"],
    "rpa_etl_spark/sources/zstd.py": ["q_warc_extract_zst", "q_tar_extract_zst", "q_avro_extract", "q_zip_extract"],
    "rpa_etl_spark/sources/zipfile_src.py": ["q_zip_extract"],
    "rpa_etl_spark/sources/avro_src.py": ["q_avro_extract"],
    "rpa_etl_spark/sources/snappy.py": ["q_avro_extract"],
    "rpa_etl_spark/sources/sinks.py": ["q_sink_roundtrip", "q_ingest_malformed"],
    "rpa_etl_spark/functions/exprs.py": ["q_parse_invoice"],
    "rpa_etl_spark/functions/parsing.py": ["q_parse_invoice"],
    "rpa_etl_spark/functions/parsing_arrow.py": ["q_parse_invoice", "q_pipeline_e2e"],
    "rpa_etl_spark/functions/scoring.py": ["q_trust_score", "q_case_routing", "q_pipeline_e2e"],
    "rpa_etl_spark/functions/text.py": ["q_normalize_docs", "q_dedup_lines"],
    "rpa_etl_spark/functions/urls.py": ["q_url_parse", "q_url_dedup"],
    "rpa_etl_spark/functions/validators.py": [
        "q_cnpj_valid", "q_nfe_key_valid", "q_monetary_br",
    ],
    # Spark-native data sources over the table format (round 14):
    # native writes, partitioned shards + SQL-text views are declared
    # queries; unit depth in tests/test_table_source.py.
    "rpa_etl_spark/streaming/table_source.py": [
        "q_table_native_write", "q_table_partitioned_scan", "q_table_sql",
    ],
    "rpa_etl_spark/streaming/pipeline.py": [
        "q_stream_tumbling", "q_stream_sliding", "q_session_window",
        "q_stream_dedup", "q_stream_interval_join", "q_audit_events",
    ],
    "rpa_etl_spark/streaming/stateful.py": ["q_user_totals_state", "q_stream_session_ttl"],
    "rpa_etl_spark/streaming/stateful_v2.py": ["q_user_totals_state", "q_stream_session_ttl"],
    "rpa_etl_spark/pipeline.py": ["q_pipeline_e2e"],
    "rpa_etl_spark/tables.py": ["q_flagship", "q_scan_project"],
    "rpa_etl_spark/session.py": [],  # config only; every query exercises it
    "rpa_etl_spark/_worker.py": [],  # worker import set-up; every Python-UDF query loads it
    "rpa_etl_spark/registry.py": [],  # ordering/registration plumbing
}

_PLUMBING = {"__init__.py"}


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", REPO, *args], capture_output=True, text=True, check=True
    ).stdout


def _query_fn_sources(src: str) -> dict[str, str]:
    """Map q_* top-level function name → source segment INCLUDING its
    decorators (so an oracle-SQL change in @query(...) counts as a change
    to that query)."""
    tree = ast.parse(src)
    lines = src.splitlines()
    out: dict[str, str] = {}
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and node.name.startswith("q_"):
            start = min(
                [node.lineno] + [d.lineno for d in node.decorator_list]
            )
            out[node.name] = "\n".join(lines[start - 1 : node.end_lineno])
    return out


def _base_commit() -> str | None:
    if not os.path.exists(BASE_FILE):
        return None
    base = open(BASE_FILE).read().strip()
    try:
        _git("cat-file", "-e", f"{base}^{{commit}}")
    except subprocess.CalledProcessError:
        return None
    return base


def test_kernel_consumer_map_is_complete():
    missing = []
    for sub in ("operators", "sources", "functions", "streaming"):
        d = os.path.join(REPO, "rpa_etl_spark", sub)
        for f in sorted(os.listdir(d)):
            if not f.endswith(".py") or f in _PLUMBING:
                continue
            rel = f"rpa_etl_spark/{sub}/{f}"
            if rel not in KERNEL_CONSUMERS:
                missing.append(rel)
    assert not missing, (
        f"kernel modules without a KERNEL_CONSUMERS entry: {missing} — "
        "map each to the declared queries that exercise it"
    )
    unknown = {
        q
        for qs in KERNEL_CONSUMERS.values()
        for q in qs
        if q not in registry.QUERIES
    }
    assert not unknown, f"KERNEL_CONSUMERS references unknown queries: {unknown}"


def _code_dump(src: str) -> str:
    """The module's AST with every docstring removed (comments never reach
    the AST): an edit that changes only prose changes no behaviour."""
    tree = ast.parse(src)
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if (body and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)):
                node.body = body[1:] or [ast.Pass()]
    return ast.dump(tree)


def _affected(changes: dict[str, tuple[str, str | None]]) -> dict[str, str]:
    """Queries re-queued by ``changes`` (repo-relative path → source at the
    base, source now or None when deleted), mapped to the reason."""
    affected: dict[str, str] = {}  # query -> reason
    for rel, (old_src, new_src) in changes.items():
        if rel.startswith("rpa_etl_spark/plans/"):
            if new_src is None:
                # plan file DELETED since the base: its queries are gone
                # from the registry too — nothing left to re-queue
                continue
            old_q = _query_fn_sources(old_src) if old_src else {}
            for name, seg in _query_fn_sources(new_src).items():
                if old_q.get(name) != seg:
                    affected[name] = f"{rel} (function changed)"
        elif rel in KERNEL_CONSUMERS:
            if old_src and new_src and _code_dump(old_src) == _code_dump(new_src):
                continue
            for name in KERNEL_CONSUMERS[rel]:
                affected[name] = f"{rel} (kernel changed)"
    return affected


def test_changed_queries_are_in_sampled_window():
    base = _base_commit()
    if base is None:
        pytest.skip("no rotation_base.txt or base commit unavailable")
    changes: dict[str, tuple[str, str | None]] = {}
    for rel in _git("diff", "--name-only", base, "--", "rpa_etl_spark/").split():
        if not rel.endswith(".py"):
            continue
        try:
            old_src = _git("show", f"{base}:{rel}")
        except subprocess.CalledProcessError:
            old_src = ""
        abs_path = os.path.join(REPO, rel)
        new_src = None
        if os.path.exists(abs_path):
            with open(abs_path) as f:
                new_src = f.read()
        changes[rel] = (old_src, new_src)
    affected = _affected(changes)
    window = set(registry.PRIORITY_ORDER[:SAMPLED_WINDOW])
    stale = {
        q: why
        for q, why in affected.items()
        if q in registry.QUERIES and q not in window
    }
    assert not stale, (
        "queries changed since the last rotation but OUTSIDE the sampled "
        f"window (first {SAMPLED_WINDOW} of PRIORITY_ORDER) — promote them "
        f"to tier 1a or re-rotate: {stale}"
    )


_KERNEL = '''"""A kernel module."""


def f(x):
    """Add one."""
    return x + 1
'''


def test_docstring_only_kernel_edit_queues_nothing():
    edited = _KERNEL.replace("A kernel module.", "A kernel module, reworded.").replace(
        "Add one.", "Return the successor of x.")
    assert edited != _KERNEL
    assert _affected({"rpa_etl_spark/sources/pdf.py": (_KERNEL, edited)}) == {}


def test_one_token_kernel_edit_queues_its_consumers():
    edited = _KERNEL.replace("x + 1", "x + 2")
    got = _affected({"rpa_etl_spark/sources/pdf.py": (_KERNEL, edited)})
    assert set(got) == set(KERNEL_CONSUMERS["rpa_etl_spark/sources/pdf.py"])


def test_process_documents_callers_are_pipeline_consumers():
    """Every declared query that runs the document pipeline is re-queued
    when pipeline.py changes."""
    callers = {
        name for name, fn in registry.QUERIES.items()
        if re.search(r"\bprocess_documents\w*\(", inspect.getsource(fn))
    }
    assert callers, "no declared query calls process_documents"
    missing = callers - set(KERNEL_CONSUMERS["rpa_etl_spark/pipeline.py"])
    assert not missing, f"call process_documents but are not mapped to pipeline.py: {missing}"
