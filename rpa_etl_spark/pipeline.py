"""End-to-end document pipeline — the engine's equivalent of the
reference's primary entry point ``Orchestrator.process()``
(robot/orchestrator.py:118-298), batched over a corpus.

One call: raw document text in → full ``PipelineResult``-shaped rows out
(parsed invoice struct, validation issues, trust score, status, route,
content hashes, reduction metrics). Each reference stage maps to a narrow
section of ONE fused Spark pass — no shuffle anywhere in the pipeline, so
it scales linearly with the corpus:

    READ      → caller provides text, or sources/pdf.pdf_pipeline    ┐
                output: its extraction UDF (one task per core)       │ one Arrow
    NORMALIZE → functions/parsing_arrow._normalize                   │ batch: one
    PARSE     → functions/parsing_arrow._parse_one (B1-B5)           │ ArrowEvalPython,
    VALIDATE  → _judge: V2/V3/V4 checks → issues array               │ one runner
    SCORE     → _judge: trust score + status (O2/O3)                 │ per task
    ROUTE     → _judge: R1/R2 threshold + confidence routing         ┘
    then, JVM-side: the raw/normalized hashes and the reduction ratio

READ joins the runner only for an unchanged ``pdf_pipeline`` (or
``extract_pdf_text``) result: the document UDF `_doc` then takes the
extraction UDF's struct as its one argument, and Spark chains a UDF whose
only child is a UDF into one node (``_doc(_extract(path, content))``).
The extraction fields pass through `_doc`'s output, so the PDFs are
decoded once. Any other input feeds `_doc` the raw text column.

Why NORMALIZE runs in the batch: the text is already in the worker, and
the Column ``functions/text.normalize_text`` chain's filter/aggregate
lambdas are interpreted; as a JVM stage between the two UDFs it also
forced a second Python runner per task. The Python twin is byte-identical
to the Column form (tests/test_text_functions.py), which stays for the
declared queries.

Why VALIDATE/SCORE/ROUTE run in the parse batch: the kernel already holds
every parsed field in Python, beside its twins of the validators. As Column
trees (unrolled mod-11 sums, ``money_parse`` twice in the route) they made
a ~52 k-character optimized plan that every call re-planned: ~0.6-0.9 s
of driver time on 256 invoice PDFs at 4 cores, against ~0.02 ms of judge
CPU per document; their ``let1`` lambdas were interpreted, never codegen.
The Column validators and functions/scoring stay for the declared queries
that compose them; tests/test_pipeline_judge.py pins the judge to them.
"""

from __future__ import annotations

from decimal import Decimal

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DecimalType, StringType, StructField, StructType

from rpa_etl_spark.functions import parsing_arrow as PA
from rpa_etl_spark.functions import scoring as S
from rpa_etl_spark.functions.exprs import col_memo
from rpa_etl_spark.sources.pdf import PDF_EXTRACTION_SCHEMA, extraction_column

AUDIT_THRESHOLD = 10_000.0  # R1 — tests/e2e/test_pipeline_core.py:177

# VALIDATE table (O2): code → (field, severity, SCORE penalty), in the
# order issues are reported
_ISSUES = {
    "ISSUER_CNPJ_INVALID": ("issuer.cnpj_cpf", "error", Decimal(S.PENALTY_ISSUER_CNPJ)),
    "TOTAL_MISSING": ("financials.total", "warning", Decimal(S.PENALTY_TOTAL_MISSING)),
    "TOTAL_FORMAT": ("financials.total", "warning", Decimal(S.PENALTY_TOTAL_FORMAT)),
    "RECIPIENT_MISSING": ("recipient", "warning", Decimal(S.PENALTY_RECIPIENT_MISSING)),
    "NFE_KEY_INVALID": ("chave_acesso", "warning", Decimal(S.PENALTY_KEY_INVALID)),
}
_ONE, _ZERO = Decimal("1.00"), Decimal("0.00")


def _judge(parsed: dict) -> dict:
    """VALIDATE → SCORE → STATUS → ROUTE for one parsed document, as the
    Column validators + functions/scoring do: issues in table order, exact
    score max(0, 1 − Σ penalties), error → 'error', any issue → 'partial'."""
    issuer, total, key = parsed["issuer"], parsed["total"], parsed["chave_acesso"]
    amount = PA._money_parse(total)
    hits = {
        "ISSUER_CNPJ_INVALID": issuer is None or issuer["cnpj_cpf"] is None
        or not PA._cnpj_is_valid(issuer["cnpj_cpf"]),
        "TOTAL_MISSING": total is None,
        "TOTAL_FORMAT": total is not None and amount is None,
        "RECIPIENT_MISSING": parsed["recipient"] is None,
        "NFE_KEY_INVALID": key is not None and not PA._nfe_key_is_valid(key),
    }
    codes = [c for c, hit in hits.items() if hit]
    score = max(_ZERO, _ONE - sum((_ISSUES[c][2] for c in codes), _ZERO))
    if any(_ISSUES[c][1] == "error" for c in codes):
        status = "error"
    elif codes or score < _ONE:
        status = "partial"
    else:
        status = "success"
    if status == "error" or amount is None:
        route = "revisao_manual"
    elif amount > AUDIT_THRESHOLD:
        route = "auditoria_fiscal"
    else:
        route = "processamento_normal"
    issues = [{"code": c, "field": _ISSUES[c][0], "severity": _ISSUES[c][1]} for c in codes]
    return {"validation_issues": issues, "trust_score": score, "status": status, "route": route}


_ISSUE_T = StructType([StructField(n, StringType(), False) for n in ("code", "field", "severity")])
_JUDGED_FIELDS = [
    StructField("validation_issues", ArrayType(_ISSUE_T, containsNull=False)),
    StructField("trust_score", DecimalType(4, 2)),
    StructField("status", StringType()),
    StructField("route", StringType()),
]
_DOC_FIELDS = [StructField("normalized_text", StringType())] + PA._PARSED_FIELDS + _JUDGED_FIELDS
_DOC_NAMES = [f.name for f in _DOC_FIELDS]


def _doc(x):
    """NORMALIZE → PARSE → VALIDATE/SCORE/ROUTE for one Arrow batch. ``x``
    is a raw-text Series (`_doc_udf`), or the extraction struct frame
    straight from the PDF extraction UDF (`_extracted_doc_udf`), whose
    fields pass through ahead of the document fields."""
    texts = x["text"] if isinstance(x, pd.DataFrame) else x
    docs = []
    for t in texts:
        norm = PA._normalize(t)
        parsed = PA._parse_one(norm)
        docs.append({"normalized_text": norm} | parsed | _judge(parsed))
    out = pd.DataFrame({n: [d[n] for d in docs] for n in _DOC_NAMES})
    if isinstance(x, pd.DataFrame):
        out = pd.concat([x.reset_index(drop=True), out], axis=1)
    return out


_doc_udf = F.pandas_udf(_doc, StructType(_DOC_FIELDS))
_extracted_doc_udf = F.pandas_udf(_doc, StructType(PDF_EXTRACTION_SCHEMA.fields + _DOC_FIELDS))


@col_memo
def _static_cols(text: str) -> dict:
    """The output Columns after the input's, by name: the O1 hashes and O5
    reduction ratio over the raw text (column or struct field ``text``)
    and the document struct's normalized text, then the document fields.
    Built once per raw-text name: an unresolved Column is an immutable
    expression, so reuse across plans is `re.compile` reuse. col_memo
    scopes the cache to the live py4j gateway (no dead refs)."""
    norm = F.col("_doc.normalized_text")
    return {
        "raw_sha256": F.sha2(F.col(text), 256),
        "normalized_text": norm,
        "norm_sha256": F.sha2(norm, 256),
        "reduction_ratio": F.when(
            F.length(text) > 0,
            F.round(F.lit(1) - F.length(norm) / F.length(text), 2),
        ).otherwise(F.lit(0.0)),
        **{f.name: F.col("_doc")[f.name] for f in PA._PARSED_FIELDS + _JUDGED_FIELDS},
    }


def process_documents(df: DataFrame, text_col: str = "text",
                      tenant_col: str | None = None) -> DataFrame:
    """Run the full document pipeline over a corpus.

    Input: any DataFrame with a raw-text column (plus optional tenant).
    Output columns: everything from the input, plus
    ``raw_sha256, normalized_text, norm_sha256, reduction_ratio,
    emission_date, competence_date, chave_acesso, issuer, recipient,
    items, total, validation_issues, trust_score, status, route``.
    An input column of one of those names is replaced in place. Every
    added column is nullable but the default ``tenant_id``. The
    document fields come from a pandas-UDF struct, which Spark marks
    nullable, though ``validation_issues``, ``status`` and ``route`` are
    never null; tests/test_pipeline_e2e.py pins the whole schema.

    Given an unchanged ``sources/pdf.extract_pdf_text`` or ``pdf_pipeline``
    result, the document UDF is applied to the extraction UDF's own
    output, so Spark chains the two into one ``ArrowEvalPython``: one
    Python runner per task, one Arrow round trip. Any other input,
    including a cached or persisted extraction result (whose rows then
    come from the cache), feeds the same kernel its ``text_col``.
    """
    chained = extraction_column(df) if text_col == "text" else None
    if chained is None:
        df, text, head = df.withColumn("_doc", _doc_udf(F.col(text_col))), text_col, {}
    else:
        # the extraction fields come back through the document struct, so
        # the extraction UDF appears once in the plan
        inp, extracted = chained
        df, text = inp.select(_extracted_doc_udf(extracted).alias("_doc")), "_doc.text"
        head = {n: F.col("_doc")[n] for n in PDF_EXTRACTION_SCHEMA.names}
    # withColumns: an input column named like an output one is replaced
    df = df.withColumns(head | _static_cols(text)).drop("_doc")
    if tenant_col is None:
        df = df.withColumn("tenant_id", F.lit("unknown_tenant"))
    elif tenant_col != "tenant_id":
        # honor the documented contract: the output always carries tenant_id
        df = df.withColumn("tenant_id", F.col(tenant_col))
    return df


def process_documents_with_metrics(df: DataFrame, text_col: str = "text"):
    """Pipeline + run metrics via Spark's ``Observation`` API — the engine
    form of the reference's per-stage event metrics (orchestrator.py
    O4/O5: counts, trust, reduction). The metrics are computed DURING the
    normal pass (observed aggregates piggyback on the action), so unlike a
    separate ``.agg()`` there is no second scan — at 100 TB that is the
    difference between free telemetry and doubling the job.

    Returns ``(result_df, observation)``; read ``observation.get`` after
    the first action on ``result_df``.
    """
    from pyspark.sql import Observation

    out = process_documents(df, text_col=text_col)
    obs = Observation("pipeline_metrics")
    observed = out.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("status") == "error").cast("long")).alias("n_error"),
        F.sum((F.col("route") == "auditoria_fiscal").cast("long")).alias("n_audit"),
        F.avg(F.col("trust_score").cast("double")).alias("avg_trust"),
        F.avg("reduction_ratio").alias("avg_reduction"),
    )
    return observed, obs
