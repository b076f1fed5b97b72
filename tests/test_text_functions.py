"""Unit tests for the P1-P11 text-function library — fixtures derived from
the reference's documented behaviors (tests/unit/test_normalizer.py and
robot/core/text_normalizer.py semantics), not copied code."""

from __future__ import annotations

from pyspark.sql import functions as F

from rpa_etl_spark.functions import text as T


def _run(spark, col_fn, value: str) -> str:
    df = spark.createDataFrame([(value,)], "s string").select(col_fn(F.col("s")).alias("out"))
    return df.collect()[0]["out"]


def test_scrub_chars_nbsp_and_zero_width(spark):
    assert _run(spark, T.scrub_chars, "Val or ​X\r\nY") == "Val or X\nY"


def test_normalize_whitespace(spark):
    assert _run(spark, T.normalize_whitespace, "  a\t\tb   c \n\n\n\nd  ") == "a b c \n\nd"


def test_join_split_numbers(spark):
    assert _run(spark, T.join_split_numbers, "CNPJ 04 252 011") == "CNPJ 04252011"
    assert _run(spark, T.join_split_numbers, "1 2 3") == "123"


def test_fix_decimal_commas(spark):
    assert _run(spark, T.fix_decimal_commas, "R$ 400 , 00") == "R$ 400,00"
    # thousands dots are DELETED (text_normalizer.py:26): 1.500,00 → 1500,00
    assert _run(spark, T.fix_decimal_commas, "1.500,00") == "1500,00"
    assert _run(spark, T.fix_decimal_commas, "R$ 1 . 500,00") == "R$ 1500,00"
    # non-thousands dots are untouched
    assert _run(spark, T.fix_decimal_commas, "3.14") == "3.14"
    assert _run(spark, T.fix_decimal_commas, "4.50") == "4.50"
    assert _run(spark, T.fix_decimal_commas, "1.5000") == "1.5000"


def test_fix_date_spacing(spark):
    assert (
        _run(spark, T.fix_date_spacing, "EMISSAO 15/12/202410:30:00")
        == "EMISSAO 15/12/2024 10:30:00"
    )


def test_strip_noise_lines_keeps_uf_and_digits(spark):
    df = (
        _run_lines(spark, T.strip_noise_lines, ["SP", "ab", "x1", "linha longa", ""])
    )
    assert df == ["SP", "x1", "linha longa"]


def test_dedup_preserves_first_occurrence_order(spark):
    out = _run_lines(
        spark, T.dedup_lines_preserve_order, ["b", "a", "b", "c", "a", "d"]
    )
    assert out == ["b", "a", "c", "d"]


def _run_lines(spark, col_fn, lines: list[str]) -> list[str]:
    df = spark.createDataFrame([(lines,)], "l array<string>").select(
        col_fn(F.col("l")).alias("out")
    )
    return df.collect()[0]["out"]


def test_normalize_text_full_chain(spark):
    raw = "Valor:  400 , 00\r\nLinha dup\nLinha dup\nab\nSP\n15/12/202410:30:00"
    out = _run(spark, T.normalize_text, raw)
    lines = out.split("\n")
    assert "Valor: 400,00" in lines[0]
    assert lines.count("Linha dup") == 1  # P7 dedup
    assert "ab" not in lines  # P6 noise dropped
    assert "SP" in lines  # whitelisted short token kept
    assert any("15/12/2024 10:30:00" in ln for ln in lines)  # P5 re-spaced


def _reference_normalize(text: str) -> str:
    """Executable spec of the reference normalize_text chain
    (text_normalizer.py:4-92), written fresh from the documented semantics:
    CLEAN_REPLACEMENTS → whitespace collapse → digit-run join → date
    re-spacing → comma/dot repair → line noise filter (UF + fiscal-abbrev
    whitelist) → order-preserving dedup."""
    import re

    for pat, repl in (("\xa0", " "), ("​", ""), ("\r\n", "\n")):
        text = text.replace(pat, repl)
    text = re.sub(r"[ \t\f\v]+", " ", text)
    text = re.sub(r"\n{2,}", "\n\n", text).strip()
    text = re.sub(r"(?<=\d)\s+(?=\d)", "", text)
    text = re.sub(r"(\d{2}/\d{2}/\d{4})(\d{2}:\d{2}:\d{2})", r"\1 \2", text)
    text = re.sub(r"(\d)\s*,\s*(\d{2})", r"\1,\2", text)
    text = re.sub(r"(?<=\d)\s*\.\s*(?=\d{3}\b)", "", text)
    keep = set(T.KEEP_SHORT_TOKENS)
    out, seen = [], set()
    for ln in text.split("\n"):
        ln = ln.strip()
        if ln.upper() not in keep and len(ln) < 3 and not re.search(r"\d", ln):
            continue
        if ln in seen:
            continue
        seen.add(ln)
        out.append(ln)
    return "\n".join(out)


REFERENCE_RAW = (
    "NOTA FISCAL DE SERVIÇOS\xa0ELETRÔNICA\r\n"
    "NF\nIE\nIM\nCPF\nRG\nN\nNº\nCEP\nUF\nSP\nab\n"
    "Valor Total:  R$ 1 . 500 , 00\n"
    "Aliquota: 3.14\n"
    "EMISSÃO: 15/12/202410:30:00\n"
    "CNPJ: 04 252 011 000110\n"
    "Linha duplicada\nLinha duplicada\n"
    "​xy\n\n\n\nfim de documento"
)


def test_normalize_text_reference_parity(spark):
    """Golden-fixture parity: the Spark chain must match the reference
    semantics byte-for-byte on a crafted raw string covering P1-P7,
    including the round-1/2 divergences (P4 polarity, P6 whitelist)."""
    raw = REFERENCE_RAW
    assert _run(spark, T.normalize_text, raw) == _reference_normalize(raw)
    # spot-check the two previously-divergent behaviors directly
    out_lines = _run(spark, T.normalize_text, raw).split("\n")
    for tok in ("NF", "IE", "IM", "CPF", "RG"):
        assert tok in out_lines  # P6 whitelist keeps fiscal abbreviations
    for tok in ("N", "Nº", "UF", "ab"):
        assert tok not in out_lines  # short noise dropped
    assert "CEP" in out_lines  # 3 chars → survives the length gate
    assert any("R$ 1500,00" in ln for ln in out_lines)  # P4 deletes thousands dot
    assert any("3.14" in ln for ln in out_lines)  # P4 keeps real decimals


def test_remove_accents(spark):
    assert _run(spark, T.remove_accents, "EMISSÃO Çédula àéîõü") == "EMISSAO Cedula aeiou"


def test_clean_party_name_stoplist(spark):
    stop = ["CNPJ", "LTDA", "ME"]
    fn = lambda c: T.clean_party_name(c, stop)  # noqa: E731
    assert _run(spark, fn, "  Empresa  Alfa Ltda. ") == "EMPRESA ALFA LTDA"
    assert _run(spark, fn, "CNPJ LTDA") is None  # all tokens boilerplate


# Inputs on which the Python normalize twin (parsing_arrow._normalize) must
# equal the Column chain. The first four pin the Java semantics a port gets
# wrong (module docstring of functions/parsing_arrow.py), with the output
# the JVM gives.
JAVA_SEMANTICS = {
    "abc\x0bdef": "abc def",  # text.py's whitespace class holds a literal VT
    "NOTA 123 \x85": "NOTA 123\x85",  # $ matches before a final terminator
    "1.500é": "1.500é",  # JDK 17 \b: a letter is a word character ...
    "1.500\u0301": "1.500\u0301",  # ... so is a non-spacing mark ...
    "1.500²": "1500²",  # ... but not a superscript digit
}
TWIN_CASES = [
    *JAVA_SEMANTICS,
    "NOTA 123 \u2028", "NOTA 123 \u2029", "x \x85 y \x85",
    "Val\xa0or \u200bX\r\nY", "a\r\r\n b \r",
    "R$ ١.٢٣٤,٥٦\n٠١/٠٢/٢٠٢٤",  # Arabic-Indic digits are not Java \d
    "sp\nNf\nCpf\nxy\nab\nſp", "7.123_ 8.123ः",
    "linha 1\nlinha 1\n  linha 1  \nX\n\n\n\nlinha 1 ",
    "", "   \t  ", "\n\n\n", None, REFERENCE_RAW,
]


def _naive_normalize(text: str) -> str:
    """The Column chain's patterns pasted into Python's re (ASCII mode):
    what the twin must not be."""
    import re

    c = text.replace("\xa0", " ").replace("\u200b", "").replace("\r\n", "\n")
    for pat, rep in [("[ \t\f]+", " "), ("\n{2,}", "\n\n"), (r"^\s+|\s+$", ""),
                     (r"(?<=\d)\s+(?=\d)", ""),
                     (r"(\d{2}/\d{2}/\d{4})(\d{2}:\d{2}:\d{2})", r"\1 \2"),
                     (r"(\d)\s*,\s*(\d{2})", r"\1,\2"), (r"(?<=\d)\s*\.\s*(?=\d{3}\b)", "")]:
        c = re.sub(pat, rep, c, flags=re.ASCII)
    lines = [ln.strip(" ") for ln in c.split("\n")]
    keep = [ln for ln in lines
            if ln.upper() in T.KEEP_SHORT_TOKENS or len(ln) >= 3 or re.search(r"\d", ln, re.ASCII)]
    return "\n".join(dict.fromkeys(keep))


def test_python_normalize_twin_matches_the_column_chain(spark, sf_dir):
    from rpa_etl_spark.functions.parsing_arrow import _normalize
    from rpa_etl_spark.plans.document_queries import build_invoice_corpus
    from tests.test_parsing import GOLDEN

    corpus = [r["text"] for r in build_invoice_corpus(spark, sf_dir).select("text").collect()]
    values = [*TWIN_CASES, GOLDEN, *corpus]
    df = spark.createDataFrame(list(enumerate(values)), "i int, s string")
    jvm = [r["out"] for r in sorted(
        df.select("i", T.normalize_text(F.col("s")).alias("out")).collect())]
    assert len(corpus) > 100
    for value, want in zip(values, jvm):
        assert _normalize(value) == want, repr(value)
    for value, want in JAVA_SEMANTICS.items():
        assert _normalize(value) == want


def test_naive_normalize_port_diverges_on_java_semantics():
    """Negative case: the first three JAVA_SEMANTICS inputs each catch a
    naive port, so the parity test above can fail."""
    cases = list(JAVA_SEMANTICS.items())[:3]
    assert [_naive_normalize(v) == want for v, want in cases] == [False] * 3
