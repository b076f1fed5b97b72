"""M4 — document-pipeline declared queries.

``q_parse_invoice`` is the engine's end-to-end parser check: it *builds* a
synthetic NFS-e-shaped invoice text per order (deterministic construction
from order columns), runs the full B1–B5 parse pipeline on it, and the
oracle computes the expected fields directly from the source columns — the
construction's inverse. Any parser defect shows up as a hash mismatch.

``q_dedup_lines`` is the distributed form of the reference's
order-preserving line dedup (P7): posexplode → min(pos) groupBy — the
shape you use when the dedup domain is *across* rows and too large for the
in-row array fold from functions/text.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rpa_etl_spark.functions import parsing_arrow as PA
from rpa_etl_spark.functions import text as T
from rpa_etl_spark.registry import query
from rpa_etl_spark.tables import load, spread

_VALID_ISSUER = "04.252.011/0001-10"    # checksum-valid (reference fixture)
_INVALID_ISSUER = "04.252.011/0001-11"  # wrong DV → parser must yield NULL
_RECIPIENT = "11.222.333/0001-81"       # checksum-valid


def _br_total_sql() -> str:
    """DuckDB fragment: o_totalprice → BR-formatted '1.234,56' string."""
    return """
        CASE WHEN length(CAST(cents // 100 AS VARCHAR)) > 3
             THEN substr(CAST(cents // 100 AS VARCHAR), 1, length(CAST(cents // 100 AS VARCHAR)) - 3)
                  || '.' || substr(CAST(cents // 100 AS VARCHAR), length(CAST(cents // 100 AS VARCHAR)) - 2)
             ELSE CAST(cents // 100 AS VARCHAR) END
        || ',' || lpad(CAST(cents % 100 AS VARCHAR), 2, '0')
    """


def _br_total_col() -> F.Column:
    """Spark twin of :func:`_br_total_sql` (same construction)."""
    cents = F.round(F.col("o_totalprice").cast("decimal(18,2)") * 100, 0).cast("long")
    int_str = F.expr(
        "CAST(CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100, 0) AS BIGINT) div 100 AS STRING)"
    )
    frac = F.lpad((cents % 100).cast("string"), 2, "0")
    dotted = F.when(
        F.length(int_str) > 3,
        F.concat(
            F.substring(int_str, 1, F.length(int_str) - 3).cast("string"),
            F.lit("."),
            int_str.substr(F.length(int_str) - 2, F.lit(3)),
        ),
    ).otherwise(int_str)
    return F.concat(dotted, F.lit(","), frac)


@query(
    "q_parse_invoice",
    oracle=f"""
    WITH syn AS (
        SELECT o_orderkey, o_custkey, o_orderdate,
               CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100, 0) AS BIGINT) AS cents
        FROM orders
    )
    SELECT o_orderkey,
           strftime(o_orderdate, '%d/%m/%Y') || ' 10:30:00'   AS emission_date,
           strftime(o_orderdate, '%m/%Y')                     AS competence_date,
           CASE WHEN o_orderkey % 2 = 0 THEN '{_VALID_ISSUER}' END AS issuer_cnpj,
           CASE WHEN o_orderkey % 2 = 0
                THEN 'EMPRESA ' || CAST(o_custkey AS VARCHAR) || ' COMERCIO EXPORTACAO LTDA' END
                                                              AS issuer_name,
           '{_RECIPIENT}'                                     AS recipient_cnpj,
           1                                                  AS n_items,
           'SERVICOS PRESTADOS CONFORME CONTRATO ANUAL'       AS item_description,
           ({_br_total_sql()})                                AS total_br
    FROM syn
    """,
)
def q_parse_invoice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build synthetic invoice text per order → full B1-B5 parse → flat
    fields. Narrow pipeline: one scan, no shuffle at any scale. The parse
    itself runs the Arrow kernel (parsing_arrow.parse_invoices_arrow) —
    semantics pinned row-identical to the column-expression form by
    tests/test_parse_arrow.py; see that module's docstring for why the
    HOF-heavy column form is slower in a mixed workload."""
    base = build_invoice_corpus(spark, sf_dir)
    parsed = PA.parse_invoices_arrow(base)
    return _flatten_parsed(parsed)


def build_invoice_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic synthetic NFS-e corpus: one invoice text per order
    (o_orderkey keyed), issuer CNPJ valid on even keys only."""
    orders = load(spark, sf_dir, "orders")
    # let-bind the BR-formatted total as its own projection: `text` embeds
    # it TWICE (item line + total line), and CollapseProject would inline
    # the whole decimal-format CASE tree into both references — measurably
    # slower to codegen. As a named column it is computed once per row.
    orders = orders.select(
        "o_orderkey", "o_custkey", "o_orderdate", _br_total_col().alias("_total_br")
    ).transform(spread)
    # ^ rebalance BEFORE the text construction: the concat/format chain is
    # CPU-bound, and a single-row-group scan is one task — constructing on
    # one core cost ~1.1 s of the query at sf0.1. The Arrow parse kernel
    # is the construction's only consumer, so no anti-re-inline barrier is
    # needed between construction and parse (the column-expression parser,
    # which has ~11 consumers and DOES need one, is exercised only by the
    # sf0.001 equivalence test where re-inlining is negligible).
    total_br = F.col("_total_br")
    issuer_cnpj_raw = F.when(
        F.col("o_orderkey") % 2 == 0, F.lit(_VALID_ISSUER)
    ).otherwise(F.lit(_INVALID_ISSUER))
    text = F.concat_ws(
        "\n",
        F.lit("NOTA FISCAL DE SERVICOS ELETRONICA"),
        F.concat(F.lit("EMISSÃO: "), F.date_format("o_orderdate", "dd/MM/yyyy"), F.lit(" 10:30:00")),
        F.concat(F.lit("COMPETÊNCIA: "), F.date_format("o_orderdate", "MM/yyyy")),
        F.lit("PRESTADOR DE SERVIÇOS"),
        F.concat(F.lit("CNPJ: "), issuer_cnpj_raw),
        F.concat(F.lit("EMPRESA "), F.col("o_custkey").cast("string"), F.lit(" COMERCIO EXPORTACAO LTDA")),
        F.lit("TOMADOR DE SERVIÇOS"),
        F.concat(F.lit("CNPJ: "), F.lit(_RECIPIENT)),
        F.lit("DISCRIMINAÇÃO DOS SERVIÇOS"),
        F.concat(F.lit("SERVICOS PRESTADOS CONFORME CONTRATO ANUAL R$ "), total_br),
        F.lit("VALOR TOTAL DA NOTA"),
        F.concat(F.lit("R$ "), total_br),
    )
    return orders.select("o_orderkey", text.alias("text"))


def _flatten_parsed(parsed: DataFrame) -> DataFrame:
    return parsed.select(
        "o_orderkey",
        "emission_date",
        "competence_date",
        F.col("issuer")["cnpj_cpf"].alias("issuer_cnpj"),
        F.col("issuer")["name"].alias("issuer_name"),
        F.col("recipient")["cnpj_cpf"].alias("recipient_cnpj"),
        F.size("items").alias("n_items"),
        F.element_at(F.col("items"), 1)["description"].alias("item_description"),
        F.col("total").alias("total_br"),
    )


@query(
    "q_dedup_lines",
    oracle="""
    SELECT doc_id, word, MIN(pos) AS first_pos
    FROM (
        SELECT doc_id,
               UNNEST(string_split(text, ' ')) AS word,
               UNNEST(range(1, len(string_split(text, ' ')) + 1)) AS pos
        FROM documents
    )
    GROUP BY doc_id, word
    """,
)
def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 order-preserving dedup, distributed form: first occurrence of each
    token per document via posexplode + min(pos). Partial aggregation makes
    the shuffle carry |distinct| rows, not |tokens|."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "word")
        )
        .groupBy("doc_id", "word")
        .agg((F.min("pos0") + 1).cast("bigint").alias("first_pos"))
    )


@query(
    "q_normalize_docs",
    oracle="""
    WITH syn AS (
        SELECT doc_id, text,
               'NOTA' || chr(160) || 'FISCAL   DE  SERVICOS' || chr(13) || chr(10)
               || 'EMISSÃO: 15/12/202410:30:00' || chr(10)
               || 'CNPJ: 04 252 011 0001 10' || chr(10)
               || 'TOTAL: R$ 1 . 500 , '
                   || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || chr(10)
               || 'LINHA DUPLICADA' || chr(10) || 'LINHA DUPLICADA' || chr(10)
               || 'ab' || chr(10) || 'NF' || chr(10) || chr(10) || chr(10)
               || text AS raw,
               'NOTA FISCAL DE SERVICOS' || chr(10)
               || 'EMISSÃO: 15/12/2024 10:30:00' || chr(10)
               || 'CNPJ: 04252011000110' || chr(10)
               || 'TOTAL: R$ 1500,'
                   || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || chr(10)
               || 'LINHA DUPLICADA' || chr(10) || 'NF' || chr(10)
               || text AS expected
        FROM documents
    )
    SELECT doc_id,
           expected AS normalized,
           strip_accents(expected) AS normalized_ascii,
           CAST(length(raw) AS INT) AS raw_len,
           CAST(length(expected) AS INT) AS norm_len,
           ROUND(1 - CAST(length(expected) AS DOUBLE) / length(raw), 2)
               AS reduction_ratio
    FROM syn
    """,
)
def q_normalize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full P1-P8 + P10 normalization chain, hash-checked end-to-end: wrap every
    document in a deterministic messy envelope (NBSP, CRLF, OCR digit
    splits, glued date+time, BR thousands dot, duplicate + noise lines —
    one trigger per chain stage), normalize, and return the normalized
    text plus O5 reduction metrics. The oracle computes the EXPECTED
    normalized string analytically (the construction's known fixed point),
    so any chain divergence — P4 polarity, P6 whitelist, strip semantics —
    is a hash mismatch, not just a row-count wobble. Narrow one-stage plan,
    no shuffle at any scale."""
    # rebalance before the P1-P8 regex chain — the heaviest per-row
    # column work in the repo (single-row-group scan = one task)
    docs = spread(load(spark, sf_dir, "documents"))
    dd = F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0")
    raw = F.concat(
        F.lit("NOTA FISCAL   DE  SERVICOS\r\n"),
        F.lit("EMISSÃO: 15/12/202410:30:00\n"),
        F.lit("CNPJ: 04 252 011 0001 10\n"),
        F.lit("TOTAL: R$ 1 . 500 , "),
        dd,
        F.lit("\n"),
        F.lit("LINHA DUPLICADA\nLINHA DUPLICADA\nab\nNF\n\n\n"),
        F.col("text"),
    )
    norm = T.normalize_text(raw)
    return docs.select(
        "doc_id",
        norm.alias("normalized"),
        # P10 accent strip (reference parser.py:18-20) — the envelope's
        # EMISSÃO exercises the fold; oracle side is strip_accents()
        T.remove_accents(norm).alias("normalized_ascii"),
        F.length(raw).alias("raw_len"),
        F.length(norm).alias("norm_len"),
        F.round(F.lit(1) - F.length(norm) / F.length(raw), 2).alias(
            "reduction_ratio"
        ),
    )


@query(
    "q_pdf_extract",
    oracle="""
    WITH syn AS (
        SELECT doc_id,
               trim(regexp_replace(substr(text, 1, 64),
                                   '[ \t\n\r\f\v]+', ' ', 'g')) AS prefix
        FROM documents
        WHERE doc_id % 97 <> 0
    ),
    expect AS (
        SELECT doc_id,
               'NOTA FISCAL DE SERVICOS' || chr(10)
               || 'DOC ' || CAST(doc_id AS VARCHAR) || chr(10)
               || 'CNPJ: 04.252.011/0001-10' || chr(10)
               || 'TOTAL: R$ 1.500,'
               || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
               || CASE WHEN prefix = '' THEN ''
                       ELSE chr(10) || prefix END AS extracted
        FROM syn
    )
    SELECT doc_id,
           2 AS page_count,
           extracted,
           CAST(length(extracted) AS INT) AS n_chars,
           FALSE AS has_unicode_issues,
           'minipdf' AS extraction_method
    FROM expect
    """,
)
def q_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2/S3 end-to-end, oracle-checked (reference robot/pdf_reader.py:
    23-94 + api/dependencies.py:26-47): synthesize a REAL two-page PDF per
    document (minipdf.write_pdf — alternating Flate-compressed and plain
    content streams), run the ingress gates (every 97th row is non-PDF
    bytes the `%PDF` magic gate must drop — observable in the row count),
    extract text back with the pure-Python minipdf parser, and compare
    against the page text the oracle reconstructs ANALYTICALLY from the
    documents table — a writer/parser layout bug (stream offsets, escape
    handling, page order, Flate framing) cannot round-trip past the
    comparison. Plan: scan → spread (one CPU-sizing exchange, see
    tables.spread) → mapInPandas(write) → filter → pandas UDF(extract) —
    otherwise narrow end to end; no keyed shuffle at any scale."""
    from rpa_etl_spark.sources import pdf as P

    # rebalance before the write/parse kernels: PDF synthesis and
    # extraction are CPU-bound Python stages, so their parallelism must
    # track CPU, not input splits (single-row-group scan = one task)
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .transform(spread)
    )
    extracted = P.extract_pdf_text(
        P.validate_pdf_ingress(P.synth_invoice_pdfs(docs))
    )
    return extracted.select(
        F.regexp_extract("path", r"(\d+)\.pdf$", 1).cast("long").alias("doc_id"),
        "page_count",
        F.col("text").alias("extracted"),
        F.length("text").alias("n_chars"),
        "has_unicode_issues",
        "extraction_method",
    )


@query(
    "q_pdf_extract_hard",
    oracle="""
    WITH syn AS (
        SELECT doc_id,
               trim(regexp_replace(substr(text, 1, 64),
                                   '[ \t\n\r\f\v]+', ' ', 'g')) AS prefix
        FROM documents
        WHERE doc_id % 97 <> 0
    ),
    expect AS (
        SELECT doc_id,
               'NOTA FISCAL DE SERVICOS' || chr(10)
               || 'DOC ' || CAST(doc_id AS VARCHAR) || chr(10)
               || 'CNPJ: 04.252.011/0001-10' || chr(10)
               || 'TOTAL: R$ 1.500,'
               || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
               || CASE WHEN prefix = '' THEN ''
                       ELSE chr(10) || prefix END AS extracted
        FROM syn
    )
    SELECT doc_id,
           CAST(doc_id % 14 AS INT) AS variant,
           2 AS page_count,
           extracted,
           CAST(length(extracted) AS INT) AS n_chars,
           'minipdf' AS extraction_method
    FROM expect
    """,
)
def q_pdf_extract_hard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adversarial S1/S2/S3 (rounds 6-8): like q_pdf_extract, but each PDF
    is written through minipdf.write_pdf_hard with the structural variant
    rotating on doc_id % 14 — xref STREAMS (PNG predictors), object
    streams, filter chains (ASCIIHex+Flate, ASCII85, RunLength, LZW),
    indirect /Length, CID fonts with /ToUnicode CMaps, split /Contents
    arrays, and (round 7) DAMAGED files the salvage path must rebuild —
    truncated xref/trailer (variant 7, reconstruction-by-object-scan +
    /Type /Catalog discovery) and garbled stale offsets (variant 8,
    per-object offset healing) — plus simple-font /Encoding /Differences
    remapped show strings (variant 9) and standard-security ENCRYPTION
    with empty user password — RC4-40 (variant 10) and AES-128-CBC /AESV2
    via a from-scratch FIPS-197 AES (variant 11), per-object keys under
    the filter chain. Round 8 adds encryption in the MODERN layouts real
    encrypted PDFs ship in: RC4 with objects packed into an encrypted
    /ObjStm container, packed strings plaintext per §7.5.7 (variant 12),
    and AES-128 with /Encrypt + /ID carried by the never-encrypted xref
    STREAM dict, §7.5.8.2 (variant 13). The reference gets this coverage
    from its PDF library (robot/pdf_reader.py:23-58), which never sees a
    clean-xref guarantee; here the pure-Python structured parser
    (minipdf.extract_text_structured + PdfDoc salvage) must round-trip
    every layout back to the SAME analytic text the oracle reconstructs
    from the documents table — a single xref/filter/CMap/salvage bug
    hash-mismatches. Plan shape identical to q_pdf_extract: scan →
    spread → mapInPandas(write) → filter → pandas UDF(extract); narrow
    end to end, no keyed shuffle at any scale."""
    from rpa_etl_spark.sources import pdf as P

    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .transform(spread)
    )
    extracted = P.extract_pdf_text(
        P.validate_pdf_ingress(P.synth_invoice_pdfs_hard(docs))
    )
    doc_id = F.regexp_extract("path", r"(\d+)\.pdf$", 1).cast("long")
    return extracted.select(
        doc_id.alias("doc_id"),
        (doc_id % 14).cast("int").alias("variant"),
        "page_count",
        F.col("text").alias("extracted"),
        F.length("text").alias("n_chars"),
        "extraction_method",
    )


@query(
    "q_pdf_extract_encrypted",
    oracle="""
    WITH src AS (
        SELECT doc_id,
               CAST(doc_id % 6 AS INT) AS bucket,
               trim(regexp_replace(substr(text, 1, 64),
                                   '[ \t\n\r\f\v]+', ' ', 'g')) AS prefix
        FROM documents
        WHERE doc_id < 48
    ),
    files AS (
        SELECT bucket,
               CAST(COUNT(*) AS INT) AS page_count,
               string_agg('DOC ' || CAST(doc_id AS VARCHAR) || ': ' || prefix,
                          chr(10) ORDER BY doc_id) AS extracted
        FROM src
        GROUP BY bucket
    )
    SELECT bucket,
           page_count,
           extracted,
           CAST(length(extracted) AS INT) AS n_chars,
           'minipdf' AS extraction_method
    FROM files
    """,
)
def q_pdf_extract_encrypted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AES-256 (/V 5 /R 6 /AESV3) under the EXTERNAL oracle at FILE scale
    (round-8 verdict ask #2). The per-row hard corpus deliberately excludes
    AES-256 — its ISO 32000-2 Algorithm 2.B KDF is a ~1.5 s-per-call
    password-hardening hash that cannot amortize on tiny per-row PDFs — so
    this query builds the corpus shape AES-256 actually ships in: SIX
    multi-page documents (docs 0-47 bucketed by doc_id % 6, one page per
    document), written once per bucket and parsed back through the full
    live KDF path (_hash_2b validates /U, /UE unwraps the file key,
    AES-256-CBC decrypts every stream). The oracle reconstructs each
    file's text analytically with an ordered string_agg, so a wrong page
    order, dropped page, or decryption defect hash-mismatches. Plan: scan
    → filter (48 rows) → ONE fixture-sized keyed shuffle (groupBy bucket,
    6 groups) → applyInPandas(write) → pandas UDF(extract); the shuffle
    is over the fixture rows only — corpus-size-independent — and the six
    reader KDF runs execute in parallel, one per task. Reference parity:
    the reference's PDF library opens AES-256 files natively
    (robot/pdf_reader.py:23-58)."""
    from rpa_etl_spark.sources import pdf as P

    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 48)
        .select(
            (F.col("doc_id") % 6).cast("int").alias("bucket"),
            "doc_id",
            "text",
        )
    )
    extracted = P.extract_pdf_text(
        P.validate_pdf_ingress(P.synth_encrypted_pdfs(docs))
    )
    return extracted.select(
        F.regexp_extract("path", r"(\d+)\.pdf$", 1).cast("int").alias("bucket"),
        "page_count",
        F.col("text").alias("extracted"),
        F.length("text").alias("n_chars"),
        "extraction_method",
    )


@query(
    "q_pdf_extract_passworded",
    oracle="""
    WITH syn AS (
        SELECT doc_id,
               trim(regexp_replace(substr(text, 1, 64),
                                   '[ \t\n\r\f\v]+', ' ', 'g')) AS prefix
        FROM documents
        WHERE doc_id < 96
    ),
    expect AS (
        SELECT doc_id,
               'NOTA FISCAL DE SERVICOS' || chr(10)
               || 'DOC ' || CAST(doc_id AS VARCHAR) || chr(10)
               || 'CNPJ: 04.252.011/0001-10' || chr(10)
               || 'TOTAL: R$ 1.500,'
               || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
               || CASE WHEN prefix = '' THEN ''
                       ELSE chr(10) || prefix END AS extracted
        FROM syn
    )
    SELECT doc_id,
           CAST(doc_id % 4 AS INT) AS variant,
           2 AS page_count,
           extracted,
           CAST(length(extracted) AS INT) AS n_chars,
           'minipdf' AS extraction_method
    FROM expect
    """,
)
def q_pdf_extract_passworded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL user-password decryption under the external oracle (round 8):
    96 invoice PDFs protected with a non-empty corpus-wide user password
    (the known-password archive case), cipher × layout rotating on
    doc_id % 4 — RC4 classic, AES-128 classic, RC4 + encrypted object
    streams, AES-128 + xref stream. extract_pdf_text(password=...)
    validates the password against /U (Algorithm 2/4/5), derives
    per-object keys, and must round-trip the exact analytic text; a
    /U-validation or key-derivation bug hash-mismatches every row. The
    fixture is bounded (doc_id < 96) like q_pdf_extract_encrypted: the
    capability is per-document decryption, not corpus-scale throughput —
    that is q_pdf_extract_hard's job. Plan: scan → filter → spread →
    mapInPandas(write) → pandas UDF(extract+decrypt); narrow, no keyed
    shuffle. Owner-password recovery is deliberately unsupported
    (minipdf._setup_encryption's docstring states why)."""
    from rpa_etl_spark.sources import pdf as P

    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 96)
        .select("doc_id", "text")
        .transform(spread)
    )
    extracted = P.extract_pdf_text(
        P.validate_pdf_ingress(P.synth_passworded_pdfs(docs)),
        password=P.ARCHIVE_PASSWORD,
    )
    doc_id = F.regexp_extract("path", r"(\d+)\.pdf$", 1).cast("long")
    return extracted.select(
        doc_id.alias("doc_id"),
        (doc_id % 4).cast("int").alias("variant"),
        "page_count",
        F.col("text").alias("extracted"),
        F.length("text").alias("n_chars"),
        "extraction_method",
    )


@query(
    "q_warc_extract",
    oracle="""
    WITH src AS (
        SELECT doc_id,
               trim(regexp_replace(substr(text, 1, 64),
                                   '[ \t\n\r\f\v]+', ' ', 'g')) AS prefix
        FROM documents
        WHERE doc_id < 96
    ),
    expect AS (
        SELECT doc_id,
               'Doc ' || CAST(doc_id AS VARCHAR)
               || ' NOTA ' || CAST(doc_id AS VARCHAR) || ' '
               || CASE WHEN prefix = '' THEN '& fim'
                       ELSE prefix || ' & fim' END AS extracted
        FROM src
    )
    SELECT doc_id,
           'https://corpus.example/doc/' || CAST(doc_id AS VARCHAR) AS uri,
           doc_id % 6 % 2 = 1 AS gzipped,
           200 AS http_status,
           extracted,
           CAST(length(extracted) AS INT) AS n_chars
    FROM expect
    """,
)
def q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEB-ARCHIVE ingestion, oracle-checked (round 8): Common Crawl's
    WARC format is how LLM training corpora actually arrive, and this is
    the from-scratch reader for it (sources/warc.py — ISO 28500 records,
    exact Content-Length framing, member-gzip .warc.gz splitting on
    decompressobj.unused_data, HTTP status/header/body parsing) plus the
    extraction step a web pipeline runs next: deterministic HTML→text
    (script/style/comment drop, tag strip, entity decode, whitespace
    collapse). Fixture: docs 0-95 bucketed into six multi-record
    archives — odd buckets member-gzipped, even plain, so both parse
    paths rotate; each record's HTML embeds the doc's collapsed prefix
    HTML-ESCAPED, so arbitrary corpus text must survive tag-strip +
    entity-decode bit-exactly. The oracle reconstructs every record's
    extracted text analytically; a framing, gzip-member, tag, or entity
    bug hash-mismatches. Plan: scan → filter → ONE fixture-sized keyed
    shuffle (groupBy bucket) → applyInPandas(write) →
    mapInPandas(parse+extract) — the record fan-out happens inside the
    Arrow batch, no corpus-scale shuffle."""
    from rpa_etl_spark.sources import warc as W

    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 96)
        .select(
            (F.col("doc_id") % 6).cast("int").alias("bucket"),
            "doc_id",
            "text",
        )
    )
    return W.extract_warc_text(W.synth_warc_archives(docs))


@query(
    "q_tar_extract",
    oracle="""
    SELECT doc_id,
           'corpus/doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS member,
           doc_id % 6 % 2 = 1 AS gzipped,
           trim(regexp_replace(substr(text, 1, 64),
                               '[ \t\n\r\f\v]+', ' ', 'g')) AS text,
           CAST(octet_length(encode(trim(regexp_replace(substr(text, 1, 64),
                               '[ \t\n\r\f\v]+', ' ', 'g')))) AS INT) AS n_bytes
    FROM documents
    WHERE doc_id < 96
    """,
)
def q_tar_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TARBALL corpus ingestion, oracle-checked (round 8): non-crawl text
    corpora ship as .tar / .tar.gz of one file per document, and this is
    the from-scratch ustar reader for them (sources/tarball.py — octal
    headers with VERIFIED checksums, 512-byte blocking, ustar prefix +
    GNU longname + PAX extended-header long names, whole-archive gzip,
    truncation degrade; writer conformance is cross-checked against the
    stdlib tarfile reader AND all three stdlib writer formats parse
    back). Fixture: docs 0-95 bucketed into six archives — odd buckets
    gzipped, even plain — each member ``corpus/doc_{id}.txt`` holding the
    doc's collapsed prefix; the oracle reconstructs member names, bytes,
    and text analytically (n_bytes is the UTF-8 length, hence
    octet_length(encode(...)) — length() would count codepoints). Plan:
    scan →
    filter → ONE fixture-sized keyed shuffle (groupBy bucket) →
    applyInPandas(write) → mapInPandas(parse) — member fan-out inside
    the Arrow batch, no corpus-scale shuffle."""
    from rpa_etl_spark.sources import tarball as T

    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 96)
        .select(
            (F.col("doc_id") % 6).cast("int").alias("bucket"),
            "doc_id",
            "text",
        )
    )
    return T.extract_tar_members(T.synth_tar_archives(docs))


@query(
    "q_zip_extract",
    oracle="""
    SELECT doc_id,
           'corpus/doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS member,
           CASE doc_id % 6 % 3 WHEN 0 THEN 'store' WHEN 1 THEN 'deflate'
                ELSE 'zstd' END AS method,
           trim(regexp_replace(substr(text, 1, 64),
                               '[ \t\n\r\f\v]+', ' ', 'g')) AS text,
           CAST(octet_length(encode(trim(regexp_replace(substr(text, 1, 64),
                               '[ \t\n\r\f\v]+', ' ', 'g')))) AS INT) AS n_bytes
    FROM documents
    WHERE doc_id < 96
    """,
)
def q_zip_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP corpus ingestion, oracle-checked (round 8 — completes the
    container trio with tar and WARC): a from-scratch APPNOTE reader
    (sources/zipfile_src.py) that walks the CENTRAL DIRECTORY first (the
    authoritative index — self-extractor prefixes and appended garbage
    don't confuse it), inflates method-8 members through raw zlib and
    method-93 ZSTANDARD members through the from-scratch sources/zstd.py
    (round 9 — APPNOTE 4.4.5), VERIFIES every CRC-32 (corrupt payloads
    are dropped, never returned wrong), and degrades on truncation.
    Writer conformance is cross-checked against the stdlib zipfile
    reader for the methods it knows AND stdlib-written archives parse
    back. Fixture: docs 0-95 bucketed into six archives — the method
    rotates STORE/DEFLATE/ZSTANDARD on bucket % 3, reported per member
    from the central directory — with the same analytic
    member/text/byte-count oracle as q_tar_extract. Plan:
    scan → filter → ONE fixture-sized keyed shuffle → applyInPandas
    (write) → mapInPandas(parse) — member fan-out inside the Arrow
    batch, no corpus-scale shuffle."""
    from rpa_etl_spark.sources import zipfile_src as ZS

    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 96)
        .select(
            (F.col("doc_id") % 6).cast("int").alias("bucket"),
            "doc_id",
            "text",
        )
    )
    return ZS.extract_zip_members(ZS.synth_zip_archives(docs))


@query(
    "q_avro_extract",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 6 % 4 WHEN 0 THEN 'null' WHEN 1 THEN 'deflate'
                WHEN 2 THEN 'snappy' ELSE 'zstandard' END AS codec,
           trim(regexp_replace(substr(text, 1, 64),
                               '[ \t\n\r\f\v]+', ' ', 'g')) AS text,
           CAST(length(trim(regexp_replace(substr(text, 1, 64),
                               '[ \t\n\r\f\v]+', ' ', 'g'))) AS INT) AS n_chars
    FROM documents
    WHERE doc_id < 96
    """,
)
def q_avro_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVRO object-container ingestion, oracle-checked (round 8): the
    data-lake interchange format (Kafka archives, warehouse exports),
    read by a from-scratch spec implementation (sources/avro_src.py —
    zigzag-varint wire primitives with the spec's known-answer encodings
    test-pinned, schema-driven record decode incl. [null, X] unions,
    per-block SYNC-MARKER verification, null + deflate + SNAPPY codecs
    — snappy through the from-scratch sources/snappy.py block decoder
    with the spec's big-endian CRC32 verified per block (round 9; it is
    the dominant Avro codec in real data lakes); Spark itself needs the
    external spark-avro package for this format). Fixture: docs 0-95
    bucketed into six containers, codec rotating null/deflate/snappy/
    zstandard on bucket % 4 — each record (doc_id, nullable text); the 'codec'
    column comes from the container's own metadata, never sniffed
    bytes. Plan: scan → filter → ONE fixture-sized keyed shuffle
    → applyInPandas(write) → mapInPandas(parse) — record fan-out inside
    the Arrow batch, no corpus-scale shuffle."""
    from rpa_etl_spark.sources import avro_src as AV

    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 96)
        .select(
            (F.col("doc_id") % 6).cast("int").alias("bucket"),
            "doc_id",
            "text",
        )
    )
    return AV.extract_avro_records(AV.synth_avro_archives(docs))


@query(
    "q_warc_extract_zst",
    oracle="""
    WITH src AS (
        SELECT doc_id,
               trim(regexp_replace(substr(text, 1, 64),
                                   '[ \t\n\r\f\v]+', ' ', 'g')) AS prefix
        FROM documents
        WHERE doc_id < 96
    ),
    expect AS (
        SELECT doc_id,
               'Doc ' || CAST(doc_id AS VARCHAR)
               || ' NOTA ' || CAST(doc_id AS VARCHAR) || ' '
               || CASE WHEN prefix = '' THEN '& fim'
                       ELSE prefix || ' & fim' END AS extracted
        FROM src
    )
    SELECT doc_id,
           'https://corpus.example/doc/' || CAST(doc_id AS VARCHAR) AS uri,
           doc_id % 6 % 3 = 0 AS checksummed,
           200 AS http_status,
           extracted,
           CAST(length(extracted) AS INT) AS n_chars
    FROM expect
    """,
)
def q_warc_extract_zst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZSTD WEB-ARCHIVE ingestion (round 9): Common Crawl ships
    ``.warc.zst`` today, and this runs it through the from-scratch
    RFC 8878 decoder (sources/zstd.py — FSE, Huffman, sequences with
    repeat offsets, skippable frames, XXH64 checksums) in the
    seekable-WARC layout: a leading skippable dictionary-slot frame then
    one zstd frame per record. The codec rotates on bucket % 3 so the
    driver-checked query exercises raw-block store frames WITH verified
    checksums (0), reference level 3 (1), and reference level 19 (2);
    ``checksummed`` is detected from the frame headers and must land
    exactly on doc_id % 6 % 3 = 0. Downstream, the same HTML→text
    extraction as q_warc_extract must round-trip bit-exactly through
    compression. Plan: scan → filter → ONE fixture-sized keyed shuffle
    (groupBy bucket) → applyInPandas(write) → mapInPandas(decode+parse+
    extract) — record fan-out inside the Arrow batch, no corpus-scale
    shuffle; at crawl scale decode runs embarrassingly parallel at scan
    speed."""
    from rpa_etl_spark.sources import warc as W

    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 96)
        .select(
            (F.col("doc_id") % 6).cast("int").alias("bucket"),
            "doc_id",
            "text",
        )
    )
    return W.extract_warc_text_zst(W.synth_warc_archives_zst(docs))


@query(
    "q_tar_extract_zst",
    oracle="""
    SELECT doc_id,
           'corpus/doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS member,
           doc_id % 6 % 3 = 0 AS checksummed,
           trim(regexp_replace(substr(text, 1, 64),
                               '[ \t\n\r\f\v]+', ' ', 'g')) AS text,
           CAST(octet_length(encode(trim(regexp_replace(substr(text, 1, 64),
                               '[ \t\n\r\f\v]+', ' ', 'g')))) AS INT) AS n_bytes
    FROM documents
    WHERE doc_id < 96
    """,
)
def q_tar_extract_zst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZSTD TARBALL ingestion (round 9): the ``.tar.zst`` layout modern
    dataset dumps ship — whole ustar archive wrapped in zstd frames,
    decoded by the from-scratch RFC 8878 implementation and then the
    round-8 tar walk. Codec rotation and the detected ``checksummed``
    column as in q_warc_extract_zst (store+XXH64 / level 3 / level 19 on
    bucket % 3). Same plan shape: one fixture-sized keyed shuffle, then
    shuffle-free Arrow fan-out."""
    from rpa_etl_spark.sources import tarball as T

    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 96)
        .select(
            (F.col("doc_id") % 6).cast("int").alias("bucket"),
            "doc_id",
            "text",
        )
    )
    return T.extract_tar_members_zst(T.synth_tar_archives_zst(docs))


def _synth_text_pdfs(docs: DataFrame, id_col: str = "o_orderkey") -> DataFrame:
    """One-page PDF per row embedding the row's FULL text (one PDF text
    op per line) — the e2e fixture writer. Mirrors
    sources/pdf.synth_invoice_pdfs' rotation: alternating rows compress
    their content streams, every 97th key emits non-PDF bytes the S3
    ingress gate must drop. Lives here (not pdf.py) because it is a
    fixture builder for this plan, not an engine kernel."""
    import pandas as pd

    from rpa_etl_spark.sources import minipdf
    from rpa_etl_spark.sources.pdf import SYNTH_PDF_SCHEMA

    def batch(batches):
        for pdf in batches:
            rows = []
            for key, text in zip(pdf[id_col], pdf["text"]):
                key = int(key)
                if key % 97 == 0:
                    content = b"NOT A PDF: " + str(key).encode()
                else:
                    content = minipdf.write_pdf(
                        [str(text).split("\n")], compress=key % 2 == 0
                    )
                rows.append(
                    {
                        "path": f"synth://e2e/{key}.pdf",
                        "content": content,
                        "length": len(content),
                    }
                )
            yield pd.DataFrame(rows, columns=["path", "content", "length"])

    return docs.select(id_col, "text").mapInPandas(batch, schema=SYNTH_PDF_SCHEMA)


@query(
    "q_pipeline_e2e",
    oracle=f"""
    WITH syn AS (
        SELECT o_orderkey, o_custkey, o_orderdate,
               CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * 100, 0) AS BIGINT) AS cents
        FROM orders
        WHERE o_orderkey < 1000 AND o_orderkey % 97 <> 0
    ),
    built AS (
        SELECT o_orderkey, o_custkey, o_orderdate, cents,
               'NOTA FISCAL DE SERVICOS ELETRONICA' || chr(10)
               || 'EMISSÃO: ' || strftime(o_orderdate, '%d/%m/%Y') || ' 10:30:00' || chr(10)
               || 'COMPETÊNCIA: ' || strftime(o_orderdate, '%m/%Y') || chr(10)
               || 'PRESTADOR DE SERVIÇOS' || chr(10)
               || 'CNPJ: ' || CASE WHEN o_orderkey % 2 = 0
                                   THEN '{_VALID_ISSUER}'
                                   ELSE '{_INVALID_ISSUER}' END || chr(10)
               || 'EMPRESA ' || CAST(o_custkey AS VARCHAR)
               || ' COMERCIO EXPORTACAO LTDA' || chr(10)
               || 'TOMADOR DE SERVIÇOS' || chr(10)
               || 'CNPJ: {_RECIPIENT}' || chr(10)
               || 'DISCRIMINAÇÃO DOS SERVIÇOS' || chr(10)
               || 'SERVICOS PRESTADOS CONFORME CONTRATO ANUAL R$ '
               || ({_br_total_sql()}) || chr(10)
               || 'VALOR TOTAL DA NOTA' || chr(10)
               || 'R$ ' || ({_br_total_sql()}) AS invoice
        FROM syn
    ),
    normed AS (
        -- the P3 digit-run join strips the dots inside digit groups:
        -- CNPJs lose their thousands dots, BR totals lose theirs
        SELECT o_orderkey, o_custkey, o_orderdate, cents, invoice,
               'NOTA FISCAL DE SERVICOS ELETRONICA' || chr(10)
               || 'EMISSÃO: ' || strftime(o_orderdate, '%d/%m/%Y') || ' 10:30:00' || chr(10)
               || 'COMPETÊNCIA: ' || strftime(o_orderdate, '%m/%Y') || chr(10)
               || 'PRESTADOR DE SERVIÇOS' || chr(10)
               || 'CNPJ: ' || CASE WHEN o_orderkey % 2 = 0
                                   THEN '04252011/0001-10'
                                   ELSE '04252011/0001-11' END || chr(10)
               || 'EMPRESA ' || CAST(o_custkey AS VARCHAR)
               || ' COMERCIO EXPORTACAO LTDA' || chr(10)
               || 'TOMADOR DE SERVIÇOS' || chr(10)
               || 'CNPJ: 11222333/0001-81' || chr(10)
               || 'DISCRIMINAÇÃO DOS SERVIÇOS' || chr(10)
               || 'SERVICOS PRESTADOS CONFORME CONTRATO ANUAL R$ '
               || CAST(cents // 100 AS VARCHAR) || ',' || lpad(CAST(cents % 100 AS VARCHAR), 2, '0') || chr(10)
               || 'VALOR TOTAL DA NOTA' || chr(10)
               || 'R$ ' || CAST(cents // 100 AS VARCHAR) || ',' || lpad(CAST(cents % 100 AS VARCHAR), 2, '0')
               AS norm_invoice
        FROM built
    ),
    texts AS (
        SELECT *,
               invoice || chr(10) || 'LINHA DUPLICADA' || chr(10)
                       || 'LINHA DUPLICADA' || chr(10) || 'ab' AS raw,
               norm_invoice || chr(10) || 'LINHA DUPLICADA' AS norm
        FROM normed
    )
    SELECT o_orderkey,
           sha256(raw)  AS raw_sha256,
           sha256(norm) AS norm_sha256,
           ROUND(1 - CAST(length(norm) AS DOUBLE) / length(raw), 2)
                                                   AS reduction_ratio,
           strftime(o_orderdate, '%d/%m/%Y') || ' 10:30:00' AS emission_date,
           strftime(o_orderdate, '%m/%Y')                   AS competence_date,
           CASE WHEN o_orderkey % 2 = 0 THEN '{_VALID_ISSUER}' END AS issuer_cnpj,
           '{_RECIPIENT}'                                   AS recipient_cnpj,
           ({_br_total_sql()})                              AS total_br,
           CAST(CASE WHEN o_orderkey % 2 = 0 THEN 0 ELSE 1 END AS INT) AS n_issues,
           CASE WHEN o_orderkey % 2 = 0 THEN ''
                ELSE 'ISSUER_CNPJ_INVALID' END              AS issue_codes,
           CAST(CASE WHEN o_orderkey % 2 = 0 THEN 1.0 ELSE 0.0 END AS DOUBLE)
                                                            AS trust_score,
           CASE WHEN o_orderkey % 2 = 0 THEN 'success' ELSE 'error' END AS status,
           CASE WHEN o_orderkey % 2 <> 0          THEN 'revisao_manual'
                WHEN cents / 100.0 > 10000.0      THEN 'auditoria_fiscal'
                ELSE 'processamento_normal' END              AS route
    FROM texts
    """,
)
def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END binary→verdict in ONE query (round-8 verdict ask #4):
    the full reference orchestrator path (robot/orchestrator.py:118-298)
    S1 pdf-decode → S3 ingress → P8 normalize → B1-B5 parse → V2/V4
    validate → O1 hashes / O5 reduction → O2 trust / O3 status →
    R1/R2 routing, chained with NO intermediate materialization. The
    fixture embeds the deterministic NFS-e invoice corpus (q_parse
    _invoice's construction, issuer CNPJ valid on even keys) INTO real
    one-page PDFs plus a messy tail (duplicate + noise lines the P7/P6
    normalizer must strip); every 97th key is non-PDF bytes the ingress
    gate must drop. The oracle rebuilds the extracted text analytically
    and states the byte-exact SHA-256 of BOTH raw and normalized text,
    every parsed field, the issue set, the exact trust decimal, status,
    and the value-threshold route — a defect in any of the ten stages
    hash-mismatches. Bounded corpus (o_orderkey < 1000) like the other
    file-capability fixtures; corpus-scale throughput is covered by
    q_pdf_extract_hard + q_parse_invoice. Plan: one narrow chain —
    scan → spread → mapInPandas(write) → pandas UDF(extract) → document
    pandas UDF (normalize, parse, judge) → JVM hashes; no shuffle
    anywhere, scan-speed at 100 TB."""
    from rpa_etl_spark.pipeline import process_documents
    from rpa_etl_spark.sources import pdf as P

    base = build_invoice_corpus(spark, sf_dir).where(F.col("o_orderkey") < 1000)
    messy = base.select(
        "o_orderkey",
        F.concat(
            F.col("text"), F.lit("\nLINHA DUPLICADA\nLINHA DUPLICADA\nab")
        ).alias("text"),
    ).transform(spread)
    extracted = P.extract_pdf_text(P.validate_pdf_ingress(_synth_text_pdfs(messy)))
    key = F.regexp_extract("path", r"(\d+)\.pdf$", 1).cast("long")
    out = process_documents(extracted.select(key.alias("o_orderkey"), "text"))
    return out.select(
        "o_orderkey",
        "raw_sha256",
        "norm_sha256",
        "reduction_ratio",
        "emission_date",
        "competence_date",
        F.col("issuer")["cnpj_cpf"].alias("issuer_cnpj"),
        F.col("recipient")["cnpj_cpf"].alias("recipient_cnpj"),
        F.col("total").alias("total_br"),
        F.size("validation_issues").alias("n_issues"),
        F.array_join(
            F.transform(F.col("validation_issues"), lambda i: i["code"]), ","
        ).alias("issue_codes"),
        F.col("trust_score").cast("double").alias("trust_score"),
        "status",
        "route",
    )
