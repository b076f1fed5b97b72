"""PDF source tests: real (minimal, spec-conformant) PDFs are generated
in-test and round-tripped through the pure-Python minipdf extractor — the
decode path is exercised for real, not faked. minipdf is the engine's only
decoder, so every row reports ``extraction_method == "minipdf"``."""

from __future__ import annotations

import zlib

from rpa_etl_spark.sources import minipdf
from rpa_etl_spark.sources import pdf as P


make_pdf = minipdf.write_pdf  # promoted into the package (round 4)


# ---------------------------------------------------------------------------
# minipdf unit tests (no Spark)
# ---------------------------------------------------------------------------


def test_minipdf_roundtrip_compressed():
    pdf = make_pdf([["NOTA FISCAL DE SERVICOS", "Valor Total: R$ 4.450,00"]])
    text, pages = minipdf.extract_text(pdf)
    assert text == "NOTA FISCAL DE SERVICOS\nValor Total: R$ 4.450,00"
    assert pages == 1


def test_minipdf_roundtrip_uncompressed_multipage():
    pdf = make_pdf([["pagina um"], ["pagina dois", "linha 2"]], compress=False)
    text, pages = minipdf.extract_text(pdf)
    assert text.split("\n") == ["pagina um", "pagina dois", "linha 2"]
    assert pages == 2


def test_minipdf_escapes_and_specials():
    pdf = make_pdf([["parens (aninhados) ok", "barra \\ final", "50% off"]])
    text, _ = minipdf.extract_text(pdf)
    assert "parens (aninhados) ok" in text
    assert "barra \\ final" in text
    assert "50% off" in text


def test_minipdf_writer_escapes_control_chars():
    """A caller passing control characters inside one logical line must get
    them back verbatim: esc() emits the PDF \\n/\\r/\\t escape sequences, so
    the extractor's Td/T* newline collapse can't merge a raw embedded
    newline with the line-break markers."""
    pdf = make_pdf([["linha com\nquebra embutida", "tab\tcol", "cr\rfim"]])
    text, _ = minipdf.extract_text(pdf)
    assert "linha com\nquebra embutida" in text
    assert "tab\tcol" in text
    assert "cr\rfim" in text


def test_minipdf_hex_and_tj_array():
    # hand-built content stream: hex string + TJ array with kerning gap
    stream = b"BT /F1 12 Tf <48656C6C6F> Tj T* [(Wor) -200 (ld)] TJ ET"
    data = zlib.compress(stream)
    body = (
        b"%PDF-1.4\n1 0 obj\n<< /Type /Page >>\nendobj\n"
        b"2 0 obj\n<< /Length "
        + str(len(data)).encode()
        + b" /Filter /FlateDecode >>\nstream\n"
        + data
        + b"\nendstream\nendobj\n"
    )
    text, pages = minipdf.extract_text(body)
    assert text == "Hello\nWor ld"
    assert pages == 1


def test_minipdf_octal_escape():
    assert minipdf._unescape_literal(rb"\101\102 \61") == b"AB 1"


def test_minipdf_malformed_never_raises():
    for junk in (b"", b"%PDF-1.4\ngarbage", b"\x00" * 64, b"%PDF" + b"(" * 100):
        text, pages = minipdf.extract_text(junk)
        assert text == "" and pages == 1
    # broken deflate data in a declared-Flate stream → skipped, no raise
    bad = (
        b"%PDF-1.4\n1 0 obj\n<< /Length 4 /Filter /FlateDecode >>\n"
        b"stream\nBAD!\nendstream\nendobj\n"
    )
    assert minipdf.extract_text(bad)[0] == ""


# ---------------------------------------------------------------------------
# Spark plumbing tests (binaryFile scan → gates → mapInPandas extraction)
# ---------------------------------------------------------------------------


def test_pdf_pipeline_real_decode(spark, tmp_path):
    (tmp_path / "a.pdf").write_bytes(
        make_pdf([["conteudo do documento A", "CNPJ: 04.252.011/0001-10"]])
    )
    (tmp_path / "b.pdf").write_bytes(make_pdf([["conteudo B"]], compress=False))
    (tmp_path / "not_pdf.pdf").write_bytes(b"NOPE\nxx")  # fails magic gate
    (tmp_path / "ignored.txt").write_bytes(b"%PDF-1.4\nnot matched by glob")

    out = P.pdf_pipeline(spark, str(tmp_path)).collect()
    assert len(out) == 2  # magic-gate filtered the fake, glob filtered .txt
    by_name = {r["path"].split("/")[-1]: r for r in out}
    assert (
        by_name["a.pdf"]["text"]
        == "conteudo do documento A\nCNPJ: 04.252.011/0001-10"
    )
    assert by_name["a.pdf"]["extraction_method"] == "minipdf"
    assert by_name["a.pdf"]["page_count"] == 1
    assert by_name["b.pdf"]["text"] == "conteudo B"
    assert by_name["a.pdf"]["has_unicode_issues"] is False


def test_pdf_extracted_text_feeds_invoice_parser(spark, tmp_path):
    """End-to-end: generated invoice PDF → binary scan → minipdf decode →
    the B1-B5 parser lands issuer CNPJ and total (the reference's S1→B5
    path, robot/pdf_reader.py → parser.py, on a real file)."""
    from pyspark.sql import functions as F

    from rpa_etl_spark.functions import parsing as PR

    (tmp_path / "nfse.pdf").write_bytes(
        make_pdf(
            [
                [
                    "NOTA FISCAL DE SERVICOS ELETRONICA",
                    "EMISSÃO: 15/12/2024 10:30:00",
                    "PRESTADOR DE SERVIÇOS",
                    "CNPJ: 04.252.011/0001-10",
                    "EMPRESA ALFA COMERCIO LTDA",
                    "VALOR TOTAL DA NOTA",
                    "R$ 4.450,00",
                ]
            ]
        )
    )
    docs = P.pdf_pipeline(spark, str(tmp_path))
    parsed = PR.parse_invoices(docs.select("path", "text"))
    row = parsed.select(
        F.col("issuer")["cnpj_cpf"].alias("cnpj"), "total", "emission_date"
    ).collect()[0]
    assert row["cnpj"] == "04.252.011/0001-10"
    assert row["total"] == "4.450,00"
    assert row["emission_date"] == "15/12/2024 10:30:00"


def test_pdf_size_gate(spark, tmp_path):
    (tmp_path / "big.pdf").write_bytes(make_pdf([["x"]]) + b"%" * 2000)
    df = P.read_pdf_files(spark, str(tmp_path))
    assert P.validate_pdf_ingress(df, max_bytes=50).count() == 0
    assert P.validate_pdf_ingress(df, max_bytes=10_000).count() == 1


def _tiny_pdfs(tmp_path, n: int) -> int:
    """Write ``n`` one-line PDFs; returns their total bytes."""
    for i in range(n):
        (tmp_path / f"d{i}.pdf").write_bytes(make_pdf([[f"doc {i}"]]))
    return sum(f.stat().st_size for f in tmp_path.iterdir())


def test_pdf_pipeline_runs_one_task_per_core_on_small_files(spark, tmp_path):
    """File packing charges each file `openCostInBytes` (4 MB), so more
    than 32 tiny PDFs per core split the bare scan by file count; the
    pipeline extracts them in exactly one task per core."""
    cores = spark.sparkContext.defaultParallelism
    n = 32 * cores + 8
    _tiny_pdfs(tmp_path, n)
    assert P.read_pdf_files(spark, str(tmp_path)).rdd.getNumPartitions() > cores
    df = P.pdf_pipeline(spark, str(tmp_path))
    assert df.rdd.getNumPartitions() == cores
    assert df.count() == n


def test_pdf_pipeline_keeps_the_byte_cap_per_task(spark, tmp_path):
    """Negative case of the per-core sizing: when the corpus holds more
    than `maxPartitionBytes` per core, the pipeline keeps at least
    ceil(bytes / cap) tasks, more than a bare coalesce(cores) leaves."""
    cores = spark.sparkContext.defaultParallelism
    size = _tiny_pdfs(tmp_path, 4 * cores)
    cap = size // (3 * cores)
    capped = spark.newSession()
    capped.conf.set("spark.sql.files.maxPartitionBytes", str(cap))
    want = -(-size // cap)
    assert want > cores
    df = P.pdf_pipeline(capped, str(tmp_path))
    assert df.rdd.getNumPartitions() >= want
    assert df.count() == 4 * cores


def test_pdf_corpus_invariants_for_declared_query(sf_dir):
    """q_pdf_extract's writer encodes page text as latin-1 and its oracle
    mirrors an ASCII whitespace-collapse; both assumptions must hold for
    the corpus or the driver comparison silently diverges. Pin them here
    so a fixture change fails THIS test loudly instead."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    con.close()
    for (text,) in rows:
        prefix = text[:64]
        # latin-1 encodable (write_pdf literal strings are latin-1)
        prefix.encode("latin-1")
        # Python's \s on str is unicode-aware while DuckDB RE2's is ASCII;
        # the kernel/oracle collapse stays equivalent only while the
        # prefix has no non-ASCII whitespace
        assert not any(
            ch.isspace() and ch not in " \t\n\r\f\v" for ch in prefix
        ), f"non-ASCII whitespace in doc prefix: {prefix!r}"


def test_q_pdf_extract_handles_messy_prefixes(spark):
    """Newline runs / leading-trailing whitespace in the first 64 chars
    must round-trip the write→gate→extract chain to the same value the
    analytic oracle form predicts (collapse + trim, empty folds away)."""
    import pandas as pd
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "line one\n\nline two\n",
                    "   leading and trailing   ",
                    " \n \n ",  # collapses to empty -> page dropped
                ],
            }
        )
    )
    out = {
        r["doc_id"]: r
        for r in P.extract_pdf_text(
            P.validate_pdf_ingress(P.synth_invoice_pdfs(docs))
        )
        .withColumn(
            "doc_id", F.regexp_extract("path", r"(\d+)\.pdf$", 1).cast("long")
        )
        .collect()
    }
    assert out[1]["text"].endswith("\nline one line two")
    assert out[2]["text"].endswith("\nleading and trailing")
    assert out[3]["text"].endswith("TOTAL: R$ 1.500,03")  # no trailing page
    assert all(r["page_count"] == 2 for r in out.values())


# ---------------------------------------------------------------------------
# property-based: arbitrary printable-latin-1 pages round-trip the writer →
# extractor pair (beyond the fixed fixtures above)
# ---------------------------------------------------------------------------

import pytest

hypothesis = pytest.importorskip("hypothesis")
if True:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    # printable latin-1 minus control chars; lines must be non-empty after
    # the extractor's newline normalization, so strip() != ""
    _line = (
        st.text(
            alphabet=st.characters(
                min_codepoint=0x20, max_codepoint=0xFF, exclude_characters="\x7f"
            ),
            min_size=1,
            max_size=60,
        )
        .map(str.strip)
        .filter(lambda s: s != "")
    )
    _page = st.lists(_line, min_size=1, max_size=6)

    @settings(max_examples=60, deadline=None, derandomize=True)
    @given(pages=st.lists(_page, min_size=1, max_size=4), compress=st.booleans())
    def test_write_pdf_extract_text_roundtrip_property(pages, compress):
        pdf = minipdf.write_pdf(pages, compress=compress)
        text, n_pages = minipdf.extract_text(pdf)
        expected = "\n".join("\n".join(lines) for lines in pages)
        assert text == expected
        assert n_pages == len(pages)

