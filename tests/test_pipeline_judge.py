"""Parity of the document pipeline's per-document judge (pipeline._judge:
VALIDATE → SCORE → STATUS → ROUTE inside the Arrow parse batch) with the
Column chain it replaced, built here from the Column validators and
functions/scoring, row for row on a grid of parsed fields."""

from __future__ import annotations

import inspect
import itertools
import textwrap
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from rpa_etl_spark import pipeline
from rpa_etl_spark.functions import scoring as S
from rpa_etl_spark.functions import validators as V

_KEY43 = "35" + "2412" + "04252011000110" + "55" + "001" + "000000001" + "1" + "12345678"
_R = sum(int(d) * w for d, w in zip(_KEY43, V._NFE_W)) % 11
VALID_KEY = _KEY43 + str(0 if _R <= 1 else 11 - _R)
INVALID_KEY = _KEY43 + str((int(VALID_KEY[-1]) + 1) % 10)

ISSUERS = [
    None,
    {"name": "ALFA LTDA", "cnpj_cpf": None},
    {"name": "ALFA LTDA", "cnpj_cpf": "04.252.011/0001-99"},  # bad check digits
    {"name": "ALFA LTDA", "cnpj_cpf": "11.111.111/1111-11"},  # all-same digit
    {"name": "ALFA LTDA", "cnpj_cpf": "04.252.011/0001-10"},
]
TOTALS = [None, "abc", "1.500,001", "10.000,00", "10.000,01"]
RECIPIENTS = [None, {"name": "BETA SA", "cnpj_cpf": "11.222.333/0001-81"}]
KEYS = [None, INVALID_KEY, VALID_KEY]
GRID = [
    {"issuer": i, "total": t, "recipient": r, "chave_acesso": k}
    for i, t, r, k in itertools.product(ISSUERS, TOTALS, RECIPIENTS, KEYS)
]
JUDGED = ["validation_issues", "trust_score", "status", "route"]


def _issue(cond, code: str, field: str, severity: str):
    return F.when(
        cond,
        F.struct(
            F.lit(code).alias("code"),
            F.lit(field).alias("field"),
            F.lit(severity).alias("severity"),
        ),
    )


def column_judge(df):
    """The VALIDATE/SCORE/ROUTE Column chain the pipeline ran before the
    judge moved into the parse batch (reference semantics)."""
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
        .when(parsed_total > pipeline.AUDIT_THRESHOLD, F.lit("auditoria_fiscal"))
        .otherwise(F.lit("processamento_normal"))
    )
    return (
        df.withColumn("validation_issues", issues)
        .withColumn("trust_score", score)
        .withColumn("status", status)
        .withColumn("route", route)
    )


@pytest.fixture(scope="module")
def column_rows(spark):
    party = "struct<name:string,cnpj_cpf:string>"
    df = spark.createDataFrame(
        [(n, g["issuer"], g["total"], g["recipient"], g["chave_acesso"])
         for n, g in enumerate(GRID)],
        f"n int, issuer {party}, total string, recipient {party}, chave_acesso string",
    )
    rows = column_judge(df).select("n", *JUDGED).collect()
    return {r["n"]: r.asDict(recursive=True) for r in rows}


def _mismatches(judge, column_rows) -> list:
    out = []
    for n, parsed in enumerate(GRID):
        got = judge(parsed)
        want = {c: column_rows[n][c] for c in JUDGED}
        if {c: got[c] for c in JUDGED} != want:
            out.append((parsed, want, got))
    return out


def _mutant(old: str, new: str):
    """pipeline._judge with one source fragment replaced."""
    src = textwrap.dedent(inspect.getsource(pipeline._judge))
    assert src.count(old) == 1, old
    ns = dict(vars(pipeline))
    exec(compile(src.replace(old, new), "<mutant>", "exec"), ns)
    return ns["_judge"]


def test_grid_covers_every_status_and_route(column_rows):
    assert len(GRID) == 150
    assert {r["status"] for r in column_rows.values()} == {"success", "partial", "error"}
    assert {r["route"] for r in column_rows.values()} == {
        "revisao_manual", "auditoria_fiscal", "processamento_normal"}


def test_judge_matches_column_chain_row_for_row(column_rows):
    bad = _mismatches(pipeline._judge, column_rows)
    assert not bad, f"{len(bad)} rows differ, first: {bad[0]}"


def test_parity_check_rejects_a_changed_penalty(column_rows, monkeypatch):
    monkeypatch.setitem(pipeline._ISSUES, "RECIPIENT_MISSING",
                        ("recipient", "warning", Decimal("0.20")))
    assert _mismatches(pipeline._judge, column_rows)


def test_parity_check_rejects_ge_at_the_audit_threshold(column_rows):
    judge = _mutant("amount > AUDIT_THRESHOLD", "amount >= AUDIT_THRESHOLD")
    bad = _mismatches(judge, column_rows)
    assert bad and all(p["total"] == "10.000,00" for p, _, _ in bad)
