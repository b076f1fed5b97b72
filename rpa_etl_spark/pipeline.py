"""End-to-end document pipeline — the engine's equivalent of the
reference's primary entry point ``Orchestrator.process()``
(robot/orchestrator.py:118-298), batched over a corpus.

One call: raw document text in → full ``PipelineResult``-shaped rows out
(parsed invoice struct, validation issues, trust score, status, route,
content hashes, reduction metrics). Each reference stage maps to a narrow
section of ONE fused Spark pass — no shuffle anywhere in the pipeline, so
it scales linearly with the corpus:

    READ      → caller provides text (or sources/pdf.pdf_pipeline output)
    NORMALIZE → functions/text.normalize_text  (+ hash & reduction ratio)
    PARSE     → functions/parsing_arrow.parse_invoices_arrow (B1-B5;
                expression twin equivalence-tested in test_parse_arrow.py)
    VALIDATE  → functions/validators checks → issues array
    SCORE     → functions/scoring trust score + status (O2/O3)
    ROUTE     → R1/R2 threshold + confidence routing
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rpa_etl_spark.functions import scoring as S
from rpa_etl_spark.functions import text as T
from rpa_etl_spark.functions import validators as V

AUDIT_THRESHOLD = 10_000.0  # R1 — tests/e2e/test_pipeline_core.py:177


def _issue(cond, code: str, field: str, severity: str):
    return F.when(
        cond,
        F.struct(
            F.lit(code).alias("code"),
            F.lit(field).alias("field"),
            F.lit(severity).alias("severity"),
        ),
    )


from rpa_etl_spark.functions.exprs import col_memo


@col_memo
def _static_cols(text_col: str):
    """The pipeline's input-independent Column trees, built once per
    process (keyed by the raw-text column name). Construction of these
    trees is hundreds of py4j round trips (~1.7 s measured before the
    validator-level memo); an unresolved Column is an immutable
    expression, so reuse across plans is exactly `re.compile` reuse.
    col_memo (round 15) scopes the cache to the live py4j gateway, so a
    JVM restart cannot serve dead Column references."""
    normalize = {
        "raw_sha256": F.sha2(F.col(text_col), 256),
        "normalized_text": T.normalize_text(F.col(text_col)),
    }
    post_norm = {
        "norm_sha256": F.sha2(F.col("normalized_text"), 256),
        "reduction_ratio": F.when(
            F.length(text_col) > 0,
            F.round(F.lit(1) - F.length("normalized_text") / F.length(text_col), 2),
        ).otherwise(F.lit(0.0)),
    }
    issuer_cnpj = F.col("issuer")["cnpj_cpf"]
    total = F.col("total")
    issues = F.array_compact(
        F.array(
            _issue(
                issuer_cnpj.isNull() | ~V.cnpj_is_valid(issuer_cnpj),
                "ISSUER_CNPJ_INVALID", "issuer.cnpj_cpf", "error",
            ),
            _issue(total.isNull(), "TOTAL_MISSING", "financials.total", "warning"),
            _issue(
                total.isNotNull() & ~V.money_is_valid(total),
                "TOTAL_FORMAT", "financials.total", "warning",
            ),
            _issue(F.col("recipient").isNull(), "RECIPIENT_MISSING", "recipient", "warning"),
            _issue(
                F.col("chave_acesso").isNotNull()
                & ~V.nfe_key_is_valid(F.col("chave_acesso")),
                "NFE_KEY_INVALID", "chave_acesso", "warning",
            ),
        )
    )
    has = lambda code: F.exists(  # noqa: E731
        F.col("validation_issues"), lambda i: i["code"] == F.lit(code)
    )
    score = S.trust_score(
        S.penalty(has("ISSUER_CNPJ_INVALID"), S.PENALTY_ISSUER_CNPJ),
        S.penalty(has("TOTAL_MISSING"), S.PENALTY_TOTAL_MISSING),
        S.penalty(has("TOTAL_FORMAT"), S.PENALTY_TOTAL_FORMAT),
        S.penalty(has("RECIPIENT_MISSING"), S.PENALTY_RECIPIENT_MISSING),
        S.penalty(has("NFE_KEY_INVALID"), S.PENALTY_KEY_INVALID),
    ).cast("decimal(4,2)")
    status = S.status_decision(
        F.exists(F.col("validation_issues"), lambda i: i["severity"] == F.lit("error")),
        F.size("validation_issues"),
        F.col("trust_score"),
    )
    parsed_total = V.money_parse(F.col("total"))
    route = (
        F.when(F.col("status") == "error", F.lit("revisao_manual"))
        .when(parsed_total.isNull(), F.lit("revisao_manual"))
        .when(parsed_total > AUDIT_THRESHOLD, F.lit("auditoria_fiscal"))
        .otherwise(F.lit("processamento_normal"))
    )
    return normalize, post_norm, issues, score, status, route


def process_documents(df: DataFrame, text_col: str = "text",
                      tenant_col: str | None = None) -> DataFrame:
    """Run the full document pipeline over a corpus.

    Input: any DataFrame with a raw-text column (plus optional tenant).
    Output columns: everything from the input, plus
    ``raw_sha256, normalized_text, norm_sha256, reduction_ratio,
    emission_date, competence_date, chave_acesso, issuer, recipient,
    items, total, validation_issues, trust_score, status, route``.
    """
    normalize, post_norm, issues, score, status, route = _static_cols(text_col)
    # NORMALIZE (P8 chain) + O1 hashes + O5 reduction ratio
    df = df.withColumns(dict(normalize))
    df = df.withColumns(dict(post_norm))

    # PARSE (B1-B5) — the Arrow kernel (parsing_arrow), same choice as
    # q_parse_invoice: the staged expression form
    # (functions/parsing.parse_invoices) is its machine-tested semantic
    # twin (tests/test_parse_arrow.py) and the regex chain dominates the
    # pipeline's cost — the kernel halves the full-chain wall time
    # (measured 5.4s -> 2.5s at sf0.1)
    from rpa_etl_spark.functions import parsing_arrow as PA

    df = PA.parse_invoices_arrow(df, text_col="normalized_text")

    # VALIDATE (V2/V3/V4 against parsed fields) → issues array (O2 table)
    df = df.withColumn("validation_issues", issues)

    # SCORE (O2) + STATUS (O3)
    df = df.withColumn("trust_score", score)
    df = df.withColumn("status", status)

    # ROUTE (R1 value threshold + R2 confidence)
    df = df.withColumn("route", route)
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
