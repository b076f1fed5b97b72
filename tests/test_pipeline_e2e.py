"""End-to-end pipeline tests mirroring the reference's e2e suite
(test_pipeline_core.py / test_pipeline_robustez.py semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from rpa_etl_spark.pipeline import process_documents
from tests.test_parsing import GOLDEN

NOISY_GOLDEN = GOLDEN.replace(
    "EMISSÃO: 15/12/2024 10:30:00", "EMISSÃO:  15/12/202410:30:00"
).replace("R$ 4.450,00", "R$ 4.450 , 00")


def _run(spark, docs: list[str]):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    return process_documents(df).collect()


def test_golden_document_success_path(spark):
    row = _run(spark, [GOLDEN])[0]
    assert row["emission_date"] == "15/12/2024 10:30:00"
    assert row["competence_date"] == "12/2024"
    assert row["issuer"]["cnpj_cpf"] == "04.252.011/0001-10"
    assert len(row["items"]) >= 3
    assert row["total"] == "4.450,00"
    assert row["validation_issues"] == []
    assert float(row["trust_score"]) == 1.0
    assert row["status"] == "success"
    assert row["route"] == "processamento_normal"  # 4450 < 10000


def test_normalization_repairs_noise_before_parse(spark):
    # date-time collision + split decimal fixed by NORMALIZE, so PARSE
    # still lands every field (reference robustness requirement)
    row = _run(spark, [NOISY_GOLDEN])[0]
    assert row["emission_date"] == "15/12/2024 10:30:00"
    assert row["total"] == "4.450,00"
    assert row["status"] == "success"
    assert row["reduction_ratio"] >= 0.0


def test_invalid_issuer_routes_to_manual_review(spark):
    bad = GOLDEN.replace("04.252.011/0001-10", "04.252.011/0001-99")
    row = _run(spark, [bad])[0]
    codes = [i["code"] for i in row["validation_issues"]]
    assert "ISSUER_CNPJ_INVALID" in codes
    assert row["status"] == "error"
    assert row["route"] == "revisao_manual"
    assert float(row["trust_score"]) == 0.0


def test_high_value_routes_to_audit(spark):
    rich = GOLDEN.replace("R$ 4.450,00", "R$ 44.500,00")
    row = _run(spark, [rich])[0]
    assert row["status"] == "success"
    assert row["route"] == "auditoria_fiscal"  # 44500 > 10000


def test_incomplete_document_partial_not_crash(spark):
    row = _run(spark, ["PRESTADOR DE SERVIÇOS\nCNPJ: 04.252.011/0001-10\nEMPRESA X LTDA"])[0]
    assert row["status"] == "partial"
    codes = {i["code"] for i in row["validation_issues"]}
    assert "TOTAL_MISSING" in codes
    assert 0.0 < float(row["trust_score"]) < 1.0


def test_pipeline_idempotent_and_deterministic(spark):
    rows1 = _run(spark, [GOLDEN, NOISY_GOLDEN])
    rows2 = _run(spark, [GOLDEN, NOISY_GOLDEN])
    assert rows1 == rows2


def test_batch_of_mixed_documents(spark, sf_dir):
    from rpa_etl_spark.tables import load

    docs = load(spark, sf_dir, "documents").limit(100)
    out = process_documents(docs)
    rows = out.collect()
    assert len(rows) == 100
    # word-salad corpus: no CNPJs anywhere → every doc errors to manual review
    assert all(r["status"] == "error" for r in rows)
    assert all(r["route"] == "revisao_manual" for r in rows)


def test_pipeline_observed_metrics(spark, sf_dir):
    """Observation metrics must match independently computed aggregates —
    and arrive from the same single pass (no extra action needed)."""
    from pyspark.sql import functions as F

    from rpa_etl_spark.pipeline import process_documents_with_metrics
    from rpa_etl_spark.tables import load

    docs = load(spark, sf_dir, "documents").limit(200)
    observed, obs = process_documents_with_metrics(docs)
    rows = observed.collect()  # one action → metrics materialize
    m = obs.get
    assert m["n_docs"] == len(rows)
    assert m["n_error"] == sum(1 for r in rows if r["status"] == "error")
    assert m["n_audit"] == sum(1 for r in rows if r["route"] == "auditoria_fiscal")
    expected_avg = sum(float(r["trust_score"]) for r in rows) / len(rows)
    assert abs(m["avg_trust"] - expected_avg) < 1e-9


def test_pipeline_handles_empty_and_degenerate_inputs(spark):
    """Reference robustness contract (test_pipeline_robustez.py:71-97
    semantics): empty corpus and degenerate texts must not crash — they
    produce schema-stable rows with null fields and error/manual routes."""
    from rpa_etl_spark.pipeline import process_documents

    empty = spark.createDataFrame([], "doc_id long, text string")
    out = process_documents(empty)
    assert out.count() == 0
    assert "route" in out.columns  # schema fully resolved on empty input

    degenerate = spark.createDataFrame(
        [(1, ""), (2, " "), (3, "\n\n\n"), (4, "1"), (5, None)],
        "doc_id long, text string",
    )
    rows = process_documents(degenerate).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["status"] in ("success", "partial", "error")
        assert r["route"] == "revisao_manual"  # nothing parseable → manual


def _ddl(dt) -> str:
    """A type as DDL, with ``NOT NULL`` on non-nullable struct fields and
    array elements (``simpleString`` drops nullability)."""
    from pyspark.sql.types import ArrayType, StructType

    if isinstance(dt, StructType):
        return "struct<" + ", ".join(_field(f) for f in dt.fields) + ">"
    if isinstance(dt, ArrayType):
        return f"array<{_ddl(dt.elementType)}{'' if dt.containsNull else ' NOT NULL'}>"
    return dt.simpleString()


def _field(f) -> str:
    return f"{f.name}: {_ddl(f.dataType)}{'' if f.nullable else ' NOT NULL'}"


_STR_PAIR = "struct<name: string, cnpj_cpf: string>"
_ISSUE = "struct<code: string NOT NULL, field: string NOT NULL, severity: string NOT NULL>"
PIPELINE_SCHEMA = [
    "doc_id: bigint",
    "text: string",
    "raw_sha256: string",
    "normalized_text: string",
    "norm_sha256: string",
    "reduction_ratio: double",
    "emission_date: string",
    "competence_date: string",
    "chave_acesso: string",
    f"issuer: {_STR_PAIR}",
    f"recipient: {_STR_PAIR}",
    "items: array<struct<description: string, unit_value: string, raw: string>>",
    "total: string",
    f"validation_issues: array<{_ISSUE} NOT NULL>",
    "trust_score: decimal(4,2)",
    "status: string",
    "route: string",
    "tenant_id: string NOT NULL",
]


def test_pipeline_output_schema_is_pinned(spark):
    """Names, order, types and nullability of the output, as a sink table
    would declare them. The judged fields come out of the parse batch's
    pandas-UDF struct, so `validation_issues`, `status` and `route` are
    nullable at the top level although no value is ever null (the
    degenerate-input test above checks the values)."""
    df = spark.createDataFrame([], "doc_id long, text string")
    assert [_field(f) for f in process_documents(df).schema.fields] == PIPELINE_SCHEMA


def test_chained_and_text_routes_agree(spark, tmp_path):
    """`process_documents` chains its document UDF onto an unchanged
    `pdf_pipeline` result and feeds it the text column otherwise. On one
    corpus — Flate and plain invoices, a non-PDF `.pdf` and a truncated PDF
    that extracts to empty text — both routes give the same rows, the
    pinned schema after the extraction columns, and the same observed
    metrics."""
    from rpa_etl_spark.pipeline import process_documents_with_metrics
    from rpa_etl_spark.sources import minipdf
    from rpa_etl_spark.sources.pdf import PDF_EXTRACTION_SCHEMA, pdf_pipeline

    rich = GOLDEN.replace("R$ 4.450,00", "R$ 44.500,00")
    for name, text, compress in [("flate", GOLDEN, True), ("plain", NOISY_GOLDEN, False),
                                 ("rich", rich, True)]:
        (tmp_path / f"{name}.pdf").write_bytes(minipdf.write_pdf([text.split("\n")], compress))
    (tmp_path / "zip.pdf").write_bytes(b"PK\x03\x04 not a pdf")
    (tmp_path / "cut.pdf").write_bytes(minipdf.write_pdf([["TOTAL: R$ 1,00"]])[:24])
    d = str(tmp_path)

    chained = process_documents(pdf_pipeline(spark, d))
    text = process_documents(pdf_pipeline(spark, d).select("*"))
    schema = [_field(f) for f in chained.schema.fields]
    assert schema == [_field(f) for f in text.schema.fields]
    assert schema == [_field(f) for f in PDF_EXTRACTION_SCHEMA.fields] + PIPELINE_SCHEMA[2:]
    rows = sorted(chained.collect())
    assert rows == sorted(text.collect())
    assert [r["path"].rsplit("/", 1)[1] for r in rows] == [
        "cut.pdf", "flate.pdf", "plain.pdf", "rich.pdf"]
    assert rows[0]["text"] == "" and rows[0]["route"] == "revisao_manual"
    assert [r["route"] for r in rows[1:]] == [
        "processamento_normal", "processamento_normal", "auditoria_fiscal"]

    metrics = []
    for df in (pdf_pipeline(spark, d), pdf_pipeline(spark, d).select("*")):
        observed, obs = process_documents_with_metrics(df)
        observed.collect()
        metrics.append(obs.get)
    assert metrics[0] == metrics[1] and metrics[0]["n_docs"] == 4


def test_cached_extraction_is_read_from_the_cache(spark, tmp_path):
    """A cached `pdf_pipeline` result is not chained: `process_documents`
    reads its rows from the cache, so a file deleted after caching still
    comes through (a re-decode would fail on the missing file)."""
    from rpa_etl_spark.sources import minipdf
    from rpa_etl_spark.sources.pdf import pdf_pipeline

    for name in ("a", "b"):
        (tmp_path / f"{name}.pdf").write_bytes(minipdf.write_pdf([GOLDEN.split("\n")]))
    extracted = pdf_pipeline(spark, str(tmp_path)).cache()
    try:
        assert extracted.count() == 2
        (tmp_path / "b.pdf").unlink()
        rows = process_documents(extracted).collect()
    finally:
        extracted.unpersist()
    assert sorted(r["path"].rsplit("/", 1)[1] for r in rows) == ["a.pdf", "b.pdf"]
    assert {r["total"] for r in rows} == {"4.450,00"}


def test_reprocessing_replaces_same_named_columns(spark):
    """Pipeline output fed back in (on its raw or its normalized text)
    keeps one column per name: the added columns replace the input's."""
    df = spark.createDataFrame([(0, NOISY_GOLDEN)], "doc_id long, text string")
    once = process_documents(df)
    for text_col in ("text", "normalized_text"):
        again = process_documents(once, text_col=text_col)
        assert again.columns == once.columns
        row = again.select("total", "route").first()
        assert (row["total"], row["route"]) == ("4.450,00", "processamento_normal")
