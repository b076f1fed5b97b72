"""Seeded invoice-PDF corpus with planted truth.

Each document is a Brazilian service invoice (NFS-e) written with
``sources.minipdf.write_pdf``: 1-3 pages, 1-12 item lines, about 80%
issuers with a checksum-valid CNPJ, about half of the files Flate-
compressed, and about 1% files named ``.pdf`` whose bytes are not a PDF,
which the ingress gate must drop.

The generator computes the CNPJ check digits itself and records what the
pipeline must decide for every document:

- issuer CNPJ invalid -> status ``error``, route ``revisao_manual``;
- recipient block missing (10% of the documents) -> ``partial``;
- otherwise ``success``;
- a non-error document routes to ``auditoria_fiscal`` when its total
  exceeds ``pipeline.AUDIT_THRESHOLD`` and to ``processamento_normal``
  otherwise.
"""

from __future__ import annotations

import os
import random
from collections import Counter
from dataclasses import dataclass, field

from rpa_etl_spark.pipeline import AUDIT_THRESHOLD
from rpa_etl_spark.sources import minipdf

_W1 = (5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2)
_W2 = (6, 5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2)

SERVICES = (
    "DESENVOLVIMENTO DE SISTEMA WEB", "MANUTENCAO MENSAL DE SERVIDORES",
    "SUPORTE TECNICO ESPECIALIZADO", "CONSULTORIA EM BANCO DE DADOS",
    "LICENCIAMENTO DE SOFTWARE", "HOSPEDAGEM EM NUVEM",
    "TREINAMENTO DE EQUIPE", "AUDITORIA DE SEGURANCA",
    "MIGRACAO DE DADOS", "INTEGRACAO DE SISTEMAS",
)
COMPANIES = (
    "TECH SOLUTIONS INFORMATICA LTDA", "COMERCIO GLOBAL SA",
    "DATA SERVICOS DIGITAIS EIRELI", "NUVEM BRASIL TECNOLOGIA LTDA",
    "ALFA CONSULTORIA EPP", "REDE SUL SISTEMAS SA",
)


def _check_digit(digits: list[int], weights: tuple[int, ...]) -> int:
    r = sum(d * w for d, w in zip(digits, weights)) % 11
    return 0 if r < 2 else 11 - r


def cnpj(base12: str, valid: bool = True) -> str:
    """Formatted CNPJ ``NN.NNN.NNN/NNNN-DD`` for 12 base digits; with
    ``valid=False`` the check digits are deliberately wrong."""
    d = [int(c) for c in base12]
    d1 = _check_digit(d, _W1)
    d2 = _check_digit(d + [d1], _W2)
    if not valid:
        d2 = (d2 + 1) % 10
    s = base12 + f"{d1}{d2}"
    return f"{s[:2]}.{s[2:5]}.{s[5:8]}/{s[8:12]}-{s[12:]}"


def brl(cents: int) -> str:
    """Brazilian money format: ``1.234,56``."""
    reais, c = divmod(cents, 100)
    return f"{reais:,}".replace(",", ".") + f",{c:02d}"


@dataclass
class Corpus:
    """A written corpus and what the pipeline must make of it."""

    directory: str
    n_files: int
    n_pdfs: int
    n_bytes: int
    expected: dict[str, tuple[str, str]] = field(default_factory=dict)
    """``file name -> (status, route)`` for every real PDF."""

    def expected_routes(self) -> Counter:
        return Counter(route for _, route in self.expected.values())

    def expected_statuses(self) -> Counter:
        return Counter(status for status, _ in self.expected.values())


def _invoice_pages(rng: random.Random, valid_issuer: bool, with_recipient: bool,
                   n_pages: int, n_items: int) -> tuple[list[list[str]], int]:
    items = [(rng.choice(SERVICES), rng.randint(5_000, 400_000)) for _ in range(n_items)]
    total = sum(c for _, c in items)
    header = [
        "NOTA FISCAL DE SERVICOS ELETRONICA - NFS-e",
        f"EMISSÃO: {rng.randint(1, 28):02d}/{rng.randint(1, 12):02d}/2024 "
        f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:00",
        f"COMPETÊNCIA: {rng.randint(1, 12):02d}/2024",
        "PRESTADOR DE SERVIÇOS",
        f"CNPJ: {cnpj(f'{rng.randrange(10**8):08d}0001', valid_issuer)}",
        rng.choice(COMPANIES),
    ]
    if with_recipient:
        header += [
            "TOMADOR DE SERVIÇOS",
            f"CNPJ: {cnpj(f'{rng.randrange(10**8):08d}0001')}",
            rng.choice(COMPANIES),
        ]
    lines = [f"{desc} R$ {brl(c)}" for desc, c in items]
    footer = ["VALOR TOTAL DA NOTA", f"R$ {brl(total)}"]
    if n_pages == 1:
        return [header + ["DISCRIMINAÇÃO DOS SERVIÇOS"] + lines + footer], total
    if n_pages == 2:
        return [header, ["DISCRIMINAÇÃO DOS SERVIÇOS"] + lines + footer], total
    cut = rng.randint(0, len(lines))
    return [header, ["DISCRIMINAÇÃO DOS SERVIÇOS"] + lines[:cut], lines[cut:] + footer], total


def _layouts(n_docs: int) -> list[tuple[bool, bool, bool, int, int, bool]]:
    """(pdf, valid issuer, recipient, pages, items, compressed) per document.
    The shares are fixed by position, so every seed writes the same mix:
    1% non-PDF, 80% valid issuers, 10% without recipient, pages cycling
    1-3, items cycling 1-12 and every other block of 36 compressed."""
    return [
        (k % 100 != 99, k % 5 != 0, k % 10 != 1, 1 + k % 3, 1 + (k // 3) % 12,
         (k // 36) % 2 == 0)
        for k in range(n_docs)
    ]


def write_corpus(directory: str, seed: int, n_docs: int) -> Corpus:
    """Write ``n_docs`` files into ``directory`` (created if missing); the
    seed shuffles the layouts and draws every value."""
    rng = random.Random(seed)
    layouts = _layouts(n_docs)
    rng.shuffle(layouts)
    os.makedirs(directory, exist_ok=True)
    corpus = Corpus(directory, n_docs, 0, 0)
    for doc, (is_pdf, valid, with_recipient, n_pages, n_items, compress) in enumerate(layouts):
        name = f"inv{doc:06d}.pdf"
        if not is_pdf:
            content = b"PK\x03\x04 not a pdf: " + name.encode()
        else:
            pages, total = _invoice_pages(rng, valid, with_recipient, n_pages, n_items)
            content = minipdf.write_pdf(pages, compress=compress)
            if not valid:
                truth = ("error", "revisao_manual")
            else:
                status = "success" if with_recipient else "partial"
                over = total / 100 > AUDIT_THRESHOLD
                truth = (status, "auditoria_fiscal" if over else "processamento_normal")
            corpus.expected[name] = truth
            corpus.n_pdfs += 1
        with open(os.path.join(directory, name), "wb") as f:
            f.write(content)
        corpus.n_bytes += len(content)
    return corpus
