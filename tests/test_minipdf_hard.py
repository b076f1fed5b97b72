"""Structured-parser tests (round 6): xref streams, object streams, filter
chains, indirect /Length, CID/ToUnicode fonts, split contents, codecs, and
the damaged-file fallback. Reference capability: robot/pdf_reader.py:23-94
(the reference's PDF library handles arbitrary real-world PDFs — this pins
the pure-Python parser to the same structural feature set)."""

from __future__ import annotations

import itertools
import re
import random

import pytest

from rpa_etl_spark.sources import minipdf as M

PAGES = [
    ["NOTA FISCAL DE SERVICOS", "DOC 42", "CNPJ: 04.252.011/0001-10"],
    ["segunda pagina com acentuação e texto", "linha 2"],
]
EXPECT = "\n".join("\n".join(p) for p in PAGES)


def test_structured_matches_legacy_on_simple_writer():
    b = M.write_pdf(PAGES, compress=True)
    assert M.extract_text_structured(b) == (EXPECT, 2)
    assert M.extract_text(b) == (EXPECT, 2)


@pytest.mark.parametrize("filt", ["none", "flate", "hex", "a85", "rl", "lzw", "hex+flate"])
def test_filter_variants(filt):
    b = M.write_pdf_hard(PAGES, content_filter=filt)
    assert M.extract_text_structured(b) == (EXPECT, 2)


@pytest.mark.parametrize(
    "xs,objstm,indlen,cid,split",
    [
        (True, False, False, False, False),   # xref stream
        (True, True, False, False, False),    # + object stream (type-2 entries)
        (False, False, True, False, False),   # indirect /Length
        (False, False, False, True, False),   # CID font + ToUnicode CMap
        (False, False, False, False, True),   # /Contents array of 2 halves
        (True, True, True, True, True),       # everything at once
    ],
)
def test_structural_variants(xs, objstm, indlen, cid, split):
    b = M.write_pdf_hard(
        PAGES,
        xref_stream=xs,
        use_objstm=objstm,
        indirect_length=indlen,
        cid_font=cid,
        split_content=split,
    )
    assert M.extract_text_structured(b) == (EXPECT, 2)


def test_full_matrix_sampled():
    """Every (layout, filter) pair — the full 336-combo matrix is run in
    round-6 dev; here a deterministic 1-in-3 sample keeps CI fast."""
    combos = [
        c
        for c in itertools.product(
            [False, True],
            [False, True],
            ["none", "flate", "hex", "a85", "rl", "lzw", "hex+flate"],
            [False, True],
            [False, True],
            [False, True],
        )
        if not (c[1] and not c[0])
    ]
    for i, (xs, objstm, filt, indlen, cid, split) in enumerate(combos):
        if i % 3:
            continue
        b = M.write_pdf_hard(
            PAGES,
            xref_stream=xs,
            use_objstm=objstm,
            content_filter=filt,
            indirect_length=indlen,
            cid_font=cid,
            split_content=split,
        )
        assert M.extract_text(b) == (EXPECT, 2), (xs, objstm, filt, indlen, cid, split)


def test_round7_axes_matrix_sampled():
    """The round-7 axes (damage, /Differences, encryption) crossed with
    filters and layout flags — classic-xref only (the axes' contract).
    Deterministic 1-in-3 sample; encrypted+truncated is excluded (the
    trailer carries /ID, so that combination is unrecoverable by design)."""
    combos = [
        c
        for c in itertools.product(
            [None, "truncate_xref", "garble_offsets"],
            [False, True],  # encoding_diffs
            [None, "rc4", "aes"],
            ["none", "flate", "hex+flate", "lzw"],
            [False, True],  # indirect_length
            [False, True],  # split_content
        )
        if not (c[0] == "truncate_xref" and c[2])
    ]
    for i, (damage, diffs, enc, filt, indlen, split) in enumerate(combos):
        if i % 3:
            continue
        b = M.write_pdf_hard(
            PAGES,
            damage=damage,
            encoding_diffs=diffs,
            encrypt=enc,
            content_filter=filt,
            indirect_length=indlen,
            split_content=split,
        )
        got = (
            M.extract_text_structured(b)
            if damage is None
            else M.extract_text(b)  # damaged files go through the public API
        )
        assert got == (EXPECT, 2), (damage, diffs, enc, filt, indlen, split)


def test_lzw_roundtrip_and_known_growth():
    rnd = random.Random(7)
    cases = [
        b"",
        b"a",
        b"abc" * 3,
        bytes(range(256)),
        bytes(range(256)) * 4,
        b"\x00" * 500,
        bytes(rnd.randrange(256) for _ in range(30000)),  # forces clear-reset
    ]
    for d in cases:
        assert M._lzw_decode(M._lzw_encode(d)) == d


def test_rl_roundtrip():
    rnd = random.Random(11)
    cases = [b"", b"x", b"aaaa", b"ab" * 300, bytes(rnd.randrange(4) for _ in range(5000))]
    for d in cases:
        assert M._rl_decode(M._rl_encode(d)) == d


def test_png_predictor_roundtrip():
    rnd = random.Random(3)
    rowlen = 7
    data = bytes(rnd.randrange(256) for _ in range(rowlen * 40))
    enc = M._png_predict_up(data, rowlen)
    assert M._png_unpredict(enc, rowlen) == data


def test_tounicode_bfrange_array_form():
    cmap = (
        b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
        b"1 beginbfchar <0001> <0041> endbfchar\n"
        b"1 beginbfrange <0010> <0012> [<0058> <0059> <005A>] endbfrange\n"
        b"1 beginbfrange <0020> <0022> <0061> endbfrange\n"
    )
    m = M.parse_tounicode(cmap)
    assert m[b"\x00\x01"] == "A"
    assert m[b"\x00\x10"] == "X" and m[b"\x00\x12"] == "Z"
    assert m[b"\x00\x20"] == "a" and m[b"\x00\x22"] == "c"


def test_indirect_length_and_repair():
    b = M.write_pdf_hard(PAGES, indirect_length=True)
    assert M.extract_text_structured(b) == (EXPECT, 2)
    # corrupt the Length object's value: the parser must repair by scanning
    # for endstream instead of trusting the bad length
    import re

    bad = re.sub(rb"obj\n(\d{2,4})\nendobj", b"obj\n999999\nendobj", b, count=1)
    assert M.extract_text(bad)[0] == EXPECT


def test_damaged_xref_falls_back_to_sweep():
    b = M.write_pdf(PAGES)
    # wreck the startxref pointer — structural parse fails, sweep still reads
    bad = b.replace(b"startxref", b"startXXXX")
    assert M.extract_text(bad) == (EXPECT, 2)


def test_truncated_file_never_raises():
    b = M.write_pdf_hard(PAGES, xref_stream=True, use_objstm=True)
    for cut in (10, len(b) // 2, len(b) - 5):
        text, pages = M.extract_text(b[:cut])  # must not raise
        assert isinstance(text, str) and pages >= 1


def test_escape_control_chars_roundtrip():
    pages = [["a\x0cb\x08c\x01d", "tab\there"]]
    b = M.write_pdf(pages)
    text, _ = M.extract_text(b)
    assert "a\x0cb\x08c\x01d" in text
    assert "tab\there" in text


# -- property-based round-trip (hypothesis) --------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    # printable latin-1 minus the chars the line-splitting layout consumes:
    # the writer shows each LINE with Tj, so line text itself must not
    # contain the newline the extractor uses as the line joiner
    _line = st.text(
        alphabet=st.characters(
            codec="latin-1", categories=("L", "N", "P", "S", "Zs")
        ),
        min_size=0,
        max_size=60,
    ).map(lambda s: s.replace("\n", " ").replace("\r", " "))

    @settings(max_examples=25, deadline=None, derandomize=True)
    @given(
        pages=st.lists(
            st.lists(_line, min_size=1, max_size=4), min_size=1, max_size=3
        ),
        cid=st.booleans(),
        filt=st.sampled_from(["flate", "hex", "a85", "rl", "lzw"]),
    )
    def test_roundtrip_property(pages, cid, filt):
        b = M.write_pdf_hard(
            pages, content_filter=filt, cid_font=cid, xref_stream=cid
        )
        text, n = M.extract_text(b)
        expect = "\n".join("\n".join(p) for p in pages)
        # the extractor collapses newline runs and strips outer newlines —
        # mirror that on the expectation (empty lines merge)
        import re as _re

        expect = _re.sub(r"\n{2,}", "\n", expect).strip("\n")
        assert text == expect
        assert n == len(pages)

except ImportError:  # pragma: no cover
    pass


def test_utf16be_bom_literal_and_hex_strings():
    """PDF text-string convention (§7.9.2.2): BOM-prefixed UTF-16BE show
    strings must decode to their unicode content (as full PDF readers do)."""
    txt = "Olá — 東京"
    u16 = "\xfe\xff".encode("latin-1") + txt.encode("utf-16-be")
    hexstr = u16.hex().upper().encode()
    stream = (
        b"BT /F1 12 Tf 72 720 Td <" + hexstr + b"> Tj T* "
        b"(plain latin) Tj ET"
    )
    body = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(stream)).encode() + b" >>\nstream\n"
        + stream + b"\nendstream\nendobj\n"
    )
    xref_at = len(body)
    # hand-built classic xref over the 4 objects
    offsets = []
    pos = len(b"%PDF-1.4\n")
    for frag in body.split(b"endobj\n")[:-1]:
        offsets.append(body.find(frag[:12]))
    pdf = bytearray(body)
    pdf += b"xref\n0 5\n0000000000 65535 f \n"
    for num in range(1, 5):
        off = body.find(b"%d 0 obj" % num)
        pdf += b"%010d 00000 n \n" % off
    pdf += (
        b"trailer\n<< /Size 5 /Root 1 0 R >>\nstartxref\n"
        + str(xref_at).encode() + b"\n%%EOF\n"
    )
    text, pages = M.extract_text_structured(bytes(pdf))
    assert pages == 1
    assert txt in text and "plain latin" in text


# -- round 7: salvage (xref reconstruction) + /Differences encodings -------

DMG_PAGES = [
    ["NOTA FISCAL DE SERVICOS", "DOC 42", "TOTAL: R$ 1.500,07"],
    ["prefixo com MAIUSCULAS e 12345"],
]
DMG_EXPECT = "\n".join("\n".join(p) for p in DMG_PAGES)


def test_salvage_truncated_xref_structured():
    """No xref/trailer/startxref at all: the STRUCTURED parser (not the
    sweep) must rebuild by object scan + /Type /Catalog discovery."""
    b = M.write_pdf_hard(DMG_PAGES, damage="truncate_xref")
    assert b"startxref" not in b and b"trailer" not in b
    assert M.extract_text_structured(b) == (DMG_EXPECT, 2)


@pytest.mark.parametrize("filt", ["none", "flate", "hex+flate", "lzw"])
def test_salvage_truncated_xref_with_filters(filt):
    b = M.write_pdf_hard(DMG_PAGES, damage="truncate_xref", content_filter=filt)
    assert M.extract_text_structured(b) == (DMG_EXPECT, 2)


def test_salvage_garbled_offsets_structured():
    """Classic table parses but every offset is stale (+17): per-object
    healing through the scan index, trailer /Root still honored."""
    b = M.write_pdf_hard(DMG_PAGES, damage="garble_offsets")
    assert M.extract_text_structured(b) == (DMG_EXPECT, 2)


def test_salvage_garbled_offsets_with_indirect_length():
    # /Length resolution itself goes through the healed object fetch
    b = M.write_pdf_hard(DMG_PAGES, damage="garble_offsets", indirect_length=True)
    assert M.extract_text_structured(b) == (DMG_EXPECT, 2)


def test_salvage_truncated_cid_font():
    # ObjStm-free CID file, truncated: ToUnicode + descendant fonts all
    # resolve through the reconstructed offset table
    b = M.write_pdf_hard(DMG_PAGES, damage="truncate_xref", cid_font=True)
    assert M.extract_text_structured(b) == (DMG_EXPECT, 2)


def test_encoding_differences_roundtrip():
    """Show strings emit remapped 0x80+ codes; decode must walk
    /BaseEncoding /WinAnsiEncoding + /Differences back to the glyphs."""
    b = M.write_pdf_hard(DMG_PAGES, encoding_diffs=True)
    # the raw content must NOT contain the plain uppercase text (it is
    # remapped), yet extraction restores it
    assert M.extract_text_structured(b) == (DMG_EXPECT, 2)


def test_encoding_differences_bytes_actually_remapped():
    b = M.write_pdf_hard([["DOC 7"]], encoding_diffs=True)
    import zlib as _z

    stream = M._STREAM_RE.search(b).group(1)
    content = _z.decompress(stream)
    # 'D','O','C' remapped to 0x93,0x9E,0x92; '7' to 0x87
    assert b"DOC" not in content
    assert bytes([0x93, 0x9E, 0x92]) in content
    assert M.extract_text_structured(b)[0] == "DOC 7"


def test_simple_font_cmap_standard_vs_winansi():
    """WinAnsi 0x92 is the right single quote; Standard 0x27 is quoteright
    and 0xE1 is AE — the two base tables must not be conflated."""

    class _FakeDoc:
        def get(self, v):
            return v

    win = M._simple_font_cmap(
        _FakeDoc(), {"Encoding": M.Name("WinAnsiEncoding")}
    )
    std = M._simple_font_cmap(
        _FakeDoc(), {"Encoding": M.Name("StandardEncoding")}
    )
    assert win[b"\x92"] == "’" and win[b"\xe9"] == "é"
    assert std[b"\x27"] == "’" and std[b"\xe1"] == "Æ"
    assert M._simple_font_cmap(_FakeDoc(), {}) is None


def test_simple_font_differences_overlay():
    class _FakeDoc:
        def get(self, v):
            return v

    cmap = M._simple_font_cmap(
        _FakeDoc(),
        {
            "Encoding": {
                "BaseEncoding": M.Name("WinAnsiEncoding"),
                "Differences": [65, M.Name("zero"), M.Name("one"), 128, M.Name("Euro")],
            }
        },
    )
    assert cmap[b"A"] == "0" and cmap[b"B"] == "1"  # consecutive assignment
    assert cmap[b"C"] == "C"  # untouched base
    assert cmap[b"\x80"] == "€"


# -- round 7: content-stream + xref-chain hardening -------------------------


def _classic_pdf(objs: dict[int, bytes], root: int, extra_trailer: str = "") -> bytes:
    """Hand-build a classic-xref PDF from {objnum: body-with-stream}."""
    out = bytearray(b"%PDF-1.4\n")
    offs = {}
    for num in sorted(objs):
        offs[num] = len(out)
        out += b"%d 0 obj\n" % num + objs[num] + b"\nendobj\n"
    xref_at = len(out)
    size = max(objs) + 1
    out += b"xref\n0 %d\n0000000000 65535 f \n" % size
    for num in range(1, size):
        out += b"%010d 00000 n \n" % offs.get(num, 0)
    out += (
        b"trailer\n<< /Size %d /Root %d 0 R%s >>\nstartxref\n%d\n%%%%EOF\n"
        % (size, root, extra_trailer.encode(), xref_at)
    )
    return bytes(out)


def test_inline_image_with_embedded_EI_bytes():
    """Raw inline-image bytes containing the two-byte sequence 'EI' must
    not terminate the skip early — 'EI' only counts at a token boundary.
    Early termination would resume tokenizing inside pixel data and emit
    garbage (or eat the following real text)."""
    img = b"\x10EI\x22aEIb"  # embedded fake terminators, no boundaries
    stream = (
        b"BT /F1 12 Tf 72 720 Td (before) Tj "
        b"BI /W 2 /H 2 /BPC 8 /CS /G ID " + img + b" EI "
        b"(after) Tj ET"
    )
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream),
    }
    text, pages = M.extract_text_structured(_classic_pdf(objs, root=1))
    # no Td/T* between the two shows → they concatenate; the point is that
    # NOTHING from the image bytes leaks in and 'after' is not eaten
    assert text == "beforeafter" and pages == 1


def test_incremental_update_newest_object_wins():
    """Two xref sections chained by /Prev (an incremental save): the
    NEWER section's entry for a re-written object must win, so the
    updated content stream — not the original — is extracted."""
    s_old = b"BT /F1 12 Tf 72 720 Td (OLD TEXT) Tj ET"
    s_new = b"BT /F1 12 Tf 72 720 Td (NEW TEXT) Tj ET"
    base_objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: b"<< /Length %d >>\nstream\n%s\nendstream" % (len(s_old), s_old),
    }
    base = _classic_pdf(base_objs, root=1)
    base_xref_at = base.rindex(b"xref\n0 ")  # NOT the tail of "startxref"
    # append the updated object 4 + a new xref section chaining /Prev
    out = bytearray(base)
    upd_off = len(out)
    out += b"4 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n" % (
        len(s_new), s_new,
    )
    xref2_at = len(out)
    out += b"xref\n4 1\n%010d 00000 n \n" % upd_off
    out += (
        b"trailer\n<< /Size 5 /Root 1 0 R /Prev %d >>\nstartxref\n%d\n%%%%EOF\n"
        % (base_xref_at, xref2_at)
    )
    text, pages = M.extract_text_structured(bytes(out))
    assert text == "NEW TEXT" and pages == 1
    # and the salvage path agrees (scan candidates are tried newest-first)
    wrecked = bytes(out).replace(b"startxref", b"startXXXX")
    assert M.extract_text(wrecked) == ("NEW TEXT", 1)


def test_freed_object_not_resurrected_by_scan():
    """An object explicitly FREED by the newest xref section must resolve
    to null (spec) — the salvage scan index must not resurrect its stale
    body when the xref chain itself is healthy."""
    s_old = b"BT /F1 12 Tf 72 720 Td (GHOST TEXT) Tj ET"
    base_objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: b"<< /Length %d >>\nstream\n%s\nendstream" % (len(s_old), s_old),
    }
    base = _classic_pdf(base_objs, root=1)
    base_xref_at = base.rindex(b"xref\n0 ")  # NOT the tail of "startxref"
    # incremental update FREES object 4 (content removed by the author)
    out = bytearray(base)
    xref2_at = len(out)
    out += b"xref\n4 1\n0000000000 00001 f \n"
    out += (
        b"trailer\n<< /Size 5 /Root 1 0 R /Prev %d >>\nstartxref\n%d\n%%%%EOF\n"
        % (base_xref_at, xref2_at)
    )
    text, pages = M.extract_text_structured(bytes(out))
    assert pages == 1 and text == ""  # the ghost body must NOT come back


def test_corrupt_xref_stream_triggers_salvage_not_sweep():
    """A PDF 1.5 file whose compressed xref STREAM is corrupt raises
    zlib.error during chain reading — that must route to salvage (full
    structural recovery incl. objstm objects), not escape to the sweep."""
    b = M.write_pdf_hard(DMG_PAGES, xref_stream=True, use_objstm=True)
    # corrupt the xref stream's flate body: find the LAST stream in the
    # file (the xref stream) and flip bytes in its middle
    at = b.rfind(b"stream\n")
    bad = bytearray(b)
    for k in range(at + 20, at + 28):
        bad[k] ^= 0xFF
    text, pages = M.extract_text_structured(bytes(bad))
    assert (text, pages) == (DMG_EXPECT, 2)


# -- round 7: RC4 standard security handler --------------------------------


def test_encrypted_rc4_roundtrip():
    """RC4-40 standard security, empty user password: streams are real
    ciphertext on disk, extraction decrypts under per-object keys."""
    b = M.write_pdf_hard(DMG_PAGES, encrypt="rc4")
    assert b"NOTA" not in b  # plaintext must not leak
    assert b"/Encrypt" in b and b"/ID" in b
    assert M.extract_text_structured(b) == (DMG_EXPECT, 2)


@pytest.mark.parametrize(
    "extra",
    [
        {"content_filter": "hex+flate"},
        {"indirect_length": True},
        {"encoding_diffs": True},
        {"split_content": True},
        {"damage": "garble_offsets"},  # decryption through healed offsets
    ],
)
def test_encrypted_rc4_with_other_axes(extra):
    b = M.write_pdf_hard(DMG_PAGES, encrypt="rc4", **extra)
    assert M.extract_text_structured(b) == (DMG_EXPECT, 2)


def test_encrypted_unsupported_degrades_to_empty_not_garbage():
    """An unsupported handler (or AES) must NOT emit ciphertext as text:
    the structured parse refuses, the sweep finds nothing decodable."""
    b = M.write_pdf_hard(DMG_PAGES, encrypt="rc4")
    for wreck in (
        b.replace(b"/Standard", b"/Unknown!"),
        b.replace(b"/V 1 /R 2", b"/V 4 /R 4"),
    ):
        text, pages = M.extract_text(wreck)
        assert text == ""  # never garbage


def test_aes_fips197_vector():
    """FIPS-197 Appendix C.1: the canonical AES-128 known-answer test."""
    key = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct = bytes.fromhex("69c4e0d86a7b0430d8cdb78070b4c55a")
    rk = M._aes_expand_key(key)
    assert M._aes_encrypt_block(rk, pt) == ct
    assert M._aes_decrypt_block(rk, ct) == pt


def test_aes_cbc_roundtrip_all_lengths():
    key = b"0123456789abcdef"
    iv = bytes(range(16))
    for n in (0, 1, 15, 16, 17, 100, 4096):
        d = (b"payload!" * 512)[:n]
        assert M._aes_cbc_decrypt(key, M._aes_cbc_encrypt(key, iv, d)) == d


def test_encrypted_aes_roundtrip():
    """AES-128-CBC (/V 4 /R 4 /CFM /AESV2), empty user password."""
    b = M.write_pdf_hard(DMG_PAGES, encrypt="aes")
    assert b"NOTA" not in b
    assert b"/AESV2" in b
    assert M.extract_text_structured(b) == (DMG_EXPECT, 2)


@pytest.mark.parametrize(
    "extra",
    [
        {"content_filter": "hex+flate"},
        {"indirect_length": True},  # /Length must be the ciphertext length
        {"encoding_diffs": True},
        {"cid_font": True},  # encrypted ToUnicode CMap stream
        {"split_content": True},
        {"damage": "garble_offsets"},
    ],
)
def test_encrypted_aes_with_other_axes(extra):
    b = M.write_pdf_hard(DMG_PAGES, encrypt="aes", **extra)
    assert M.extract_text_structured(b) == (DMG_EXPECT, 2)


def test_encrypt_rejects_truncate_damage():
    """encrypt + truncate_xref is unrecoverable BY DESIGN (the file key
    needs the trailer /ID, which truncation destroys) — the writer must
    refuse to produce a fixture whose text could never be extracted."""
    with pytest.raises(ValueError):
        M.write_pdf_hard(DMG_PAGES, encrypt="rc4", damage="truncate_xref")


# ---- round 8: encryption × modern layouts (xref streams, object streams) --


@pytest.mark.parametrize("enc", ["rc4", "aes", "aes256"])
@pytest.mark.parametrize(
    "layout",
    [
        {"xref_stream": True},
        {"xref_stream": True, "use_objstm": True},
    ],
)
def test_encrypted_modern_layouts_roundtrip(enc, layout):
    """Encryption in PDF 1.5+ layouts — the shape real-world encrypted
    PDFs overwhelmingly use. /Encrypt + /ID ride the xref STREAM dict
    (itself never encrypted, §7.5.8.2); with objstm the container stream
    is ciphered under its own object key while packed strings stay
    plaintext (§7.5.7)."""
    b = M.write_pdf_hard(DMG_PAGES, encrypt=enc, **layout)
    assert b"NOTA" not in b  # page text is real ciphertext on disk
    assert M.extract_text_structured(b) == (DMG_EXPECT, 2)


@pytest.mark.parametrize("enc", ["rc4", "aes"])
@pytest.mark.parametrize(
    "extra",
    [
        {"content_filter": "hex+flate"},
        {"indirect_length": True},
        {"cid_font": True},  # encrypted ToUnicode stream + packed font dicts
        {"split_content": True},
        {"encoding_diffs": True},
    ],
)
def test_encrypted_objstm_with_other_axes(enc, extra):
    b = M.write_pdf_hard(
        DMG_PAGES, encrypt=enc, xref_stream=True, use_objstm=True, **extra
    )
    assert M.extract_text_structured(b) == (DMG_EXPECT, 2)


def test_encrypted_objstm_spec_corners():
    """Pin the three §7.5.7/§7.5.8.2 layout rules the writer+parser agree
    on: (a) the /Encrypt dictionary is NOT packed into the object stream
    (it must be readable before any key exists — visible as a top-level
    `N 0 obj` body containing /Standard); (b) the objstm container is
    ciphertext (zlib cannot inflate it before decryption); (c) the xref
    stream inflates WITHOUT any key (it is never encrypted)."""
    import zlib as _z

    b = M.write_pdf_hard(DMG_PAGES, encrypt="rc4", use_objstm=True)
    # (a) /Standard appears in a top-level object body, not inside a stream
    m = re.search(rb"\d+ 0 obj\s*<<[^>]*?/Filter\s*/Standard", b)
    assert m is not None
    # (b)+(c): walk every stream; /ObjStm bodies must NOT inflate raw,
    # the /XRef body MUST
    saw_objstm = saw_xref = False
    for sm in re.finditer(rb"<<(.*?)>>\s*stream\r?\n", b, re.S):
        body_at = sm.end()
        end = b.find(b"endstream", body_at)
        raw = b[body_at:end].rstrip(b"\r\n")
        head = sm.group(1)
        if b"/ObjStm" in head:
            saw_objstm = True
            with pytest.raises(_z.error):
                _z.decompress(raw)
        if b"/XRef" in head:
            saw_xref = True
            _z.decompress(raw)  # must succeed pre-key
    assert saw_objstm and saw_xref


def test_encrypted_xref_stream_trailer_carries_id():
    """The xref stream dict doubles as the trailer: /Encrypt and /ID must
    be adopted from it or key setup never runs (round-8 parser fix)."""
    b = M.write_pdf_hard(DMG_PAGES, encrypt="aes", xref_stream=True)
    doc = M.PdfDoc(b)
    assert doc._file_key is not None
    assert isinstance(doc.trailer.get("ID"), list)


# ---- round-7 ADVICE regressions -------------------------------------------


def test_inline_image_EI_without_leading_whitespace():
    """§8.9.7 does not mandate whitespace between image data and EI: a
    stream whose image ends '...dataEI' must still terminate the skip and
    keep the text after it (round-7 ADVICE: the boundary-anchored search
    alone skipped to EOF and dropped everything after the image)."""
    stream = b"BT (A) Tj ET BI /W 1 /H 1 /BPC 8 /CS /G ID \x00\x01\x02EI BT (B) Tj ET"
    assert M._content_text(stream, {}) == "AB"


def test_dangling_ref_in_healthy_file_stays_cheap():
    """A healthy file with a dangling reference (common in real PDFs)
    resolves it to null WITHOUT building the O(file-size) scan index
    (round-7 ADVICE: the salvage fallback made every dangling ref pay
    for a full-file regex scan)."""
    b = M.write_pdf_hard(DMG_PAGES)
    doc = M.PdfDoc(b)
    assert doc.get(M.Ref(999, 0)) is None
    assert doc._scan_index is None  # the scan was never built
    # a SALVAGED doc still uses the index for absent objects
    t = b[: b.rindex(b"xref")]
    sdoc = M.PdfDoc(t)
    assert sdoc._salvaged and sdoc.get(M.Ref(999, 0)) is None


def test_salvaged_encrypted_cache_is_not_ciphertext():
    """Garbled startxref on an ENCRYPTED file: salvage rebuilds the
    table, then key setup runs; any object cached before the key existed
    must be dropped so strings re-read decrypted (round-7 ADVICE: the
    post-encryption block cleared only the objstm cache)."""
    raw = M.write_pdf_hard(DMG_PAGES, encrypt="rc4")
    m = list(re.finditer(rb"startxref\s+(\d+)", raw))[-1]
    corrupt = raw[: m.start(1)] + b"999999999" + raw[m.end(1) :]
    doc = M.PdfDoc(corrupt)
    assert doc._salvaged and doc._file_key is not None
    assert M.extract_text(corrupt) == (DMG_EXPECT, 2)


def test_aes256_fips197_vector():
    """FIPS-197 Appendix C.3: AES-256 known-answer test (14-round schedule)."""
    key = bytes.fromhex(
        "000102030405060708090a0b0c0d0e0f101112131415161718191a1b1c1d1e1f"
    )
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct = bytes.fromhex("8ea2b7ca516745bfeafc49904b496089")
    rk = M._aes_expand_key(key)
    assert len(rk) == 15
    assert M._aes_encrypt_block(rk, pt) == ct
    assert M._aes_decrypt_block(rk, ct) == pt


def test_encrypted_aes256_roundtrip():
    """AES-256 (/V 5 /R 6 /AESV3): Algorithm 2.B validates the empty user
    password against /U, /UE unwraps the file key, streams decrypt with
    it directly. NOT in the rotating corpus (the KDF is a deliberate
    ~1.4 s-per-file password-hardening cost that only amortizes on real
    MB-sized files) — capability pinned here instead."""
    b = M.write_pdf_hard(DMG_PAGES, encrypt="aes256")
    assert b"NOTA" not in b
    assert b"/AESV3" in b and b"/UE" in b and b"/Perms" in b
    assert M.extract_text_structured(b) == (DMG_EXPECT, 2)


def test_encrypted_aes256_wrong_password_refuses():
    b = M.write_pdf_hard(DMG_PAGES, encrypt="aes256")
    # corrupt the /U validation hash → must refuse (empty text), not emit
    # ciphertext: find /U <...96 hex...> and flip its first byte
    import re

    m = re.search(rb"/U <([0-9A-F]{96})>", b)
    assert m
    flipped = b"00" if m.group(1)[:2] != b"00" else b"11"
    bad = b[: m.start(1)] + flipped + b[m.start(1) + 2 :]
    text, _ = M.extract_text(bad)
    assert text == ""


def test_hash_2b_known_properties():
    # deterministic, salt-sensitive, 32 bytes, and cached (second call free)
    a = M._hash_2b(b"", b"saltsalt")
    assert len(a) == 32 and a == M._hash_2b(b"", b"saltsalt")
    assert a != M._hash_2b(b"", b"SALTSALT")


def test_rc4_key_derivation_self_consistent():
    # Algorithm 2/4 self-check: the U entry derived from the file key must
    # validate under the same derivation (what _setup_encryption asserts)
    o = M._rc4(__import__("hashlib").md5(M._PAD).digest()[:5], M._PAD)
    id0 = b"\x01" * 16
    key = M._std_file_key(o, -1, id0, r=2, key_bytes=5)
    assert M._std_user_check(key, 2, id0) == M._rc4(key, M._PAD)
    assert len(M._obj_key(key, 7, 0)) == 10  # 5 + 5, capped at 16


def test_lzw_with_png_predictor_filter():
    """LZWDecode + /DecodeParms PNG predictor — the chain classic Acrobat
    writers used for xref-adjacent data."""
    rowlen = 5
    raw = bytes((i * 7 + j) % 256 for i in range(20) for j in range(rowlen))
    enc = M._lzw_encode(M._png_predict_up(raw, rowlen))
    out = M._apply_one_filter(
        enc, "LZWDecode", {"Predictor": 12, "Columns": rowlen}
    )
    assert out == raw


def test_fixture_2b_constants_match_live_kdf():
    """The writer's precomputed Algorithm 2.B fixture constants must equal
    the live KDF's output for the fixed salts — if _hash_2b or the salts
    ever change, this catches the drift (~6 s: four real KDF runs)."""
    import hashlib

    uvs = hashlib.md5(b"uvs-minipdf-fixture").digest()[:8]
    uks = hashlib.md5(b"uks-minipdf-fixture").digest()[:8]
    ovs = hashlib.md5(b"ovs-minipdf-fixture").digest()[:8]
    oks = hashlib.md5(b"oks-minipdf-fixture").digest()[:8]
    assert M._FIXTURE_2B["uvs"] == M._hash_2b(b"", uvs)
    assert M._FIXTURE_2B["uks"] == M._hash_2b(b"", uks)
    u_entry = M._FIXTURE_2B["uvs"] + uvs + uks
    assert M._FIXTURE_2B["ovs"] == M._hash_2b(b"", ovs, u_entry)
    assert M._FIXTURE_2B["oks"] == M._hash_2b(b"", oks, u_entry)


def test_inline_image_EI_fallback_requires_trailing_delimiter():
    """The relaxed EI fallback (no leading whitespace) must still demand
    the TRAILING delimiter, so in-data 'EI' bytes mid-payload don't cut
    the skip early and leak pixel bytes as text (round-8 review)."""
    # payload contains 'EIx' (no trailing ws) then the real 'dataEI ' end
    stream = (
        b"BT (A) Tj ET "
        b"BI /W 1 /H 1 /BPC 8 /CS /G ID \x10EIx(junk)\x22EI BT (B) Tj ET"
    )
    assert M._content_text(stream, {}) == "AB"


# ---- round 8: caller-supplied USER passwords -------------------------------


@pytest.mark.parametrize("enc", ["rc4", "aes"])
@pytest.mark.parametrize(
    "layout", [{}, {"xref_stream": True, "use_objstm": True}]
)
def test_user_password_roundtrip(enc, layout):
    """Real (non-empty) user passwords — the known-password archive case:
    the right password opens the document in classic AND modern layouts;
    no password / a wrong password degrades to empty text (never
    ciphertext-as-garbage)."""
    b = M.write_pdf_hard(
        DMG_PAGES, encrypt=enc, user_password="s3nh4-fiscal", **layout
    )
    assert b"NOTA" not in b
    assert M.extract_text(b, password="s3nh4-fiscal") == (DMG_EXPECT, 2)
    assert M.extract_text(b)[0] == ""
    assert M.extract_text(b, password="errada")[0] == ""


def test_user_password_aes256_roundtrip():
    """V5 R6 with a real password: Algorithm 2.A (UTF-8, 127-byte
    truncation) feeds Algorithm 2.B on both sides; bytes and str
    passwords are equivalent. Slow (~9 s): six live KDF runs."""
    b = M.write_pdf_hard(DMG_PAGES, encrypt="aes256", user_password="chave")
    assert M.extract_text(b, password="chave") == (DMG_EXPECT, 2)
    assert M.extract_text(b, password=b"chave") == (DMG_EXPECT, 2)
    assert M.extract_text(b)[0] == ""


def test_user_password_unicode_utf8():
    """Non-ASCII passwords go through UTF-8 on both writer and reader."""
    pw = "senha-âção-ü"
    b = M.write_pdf_hard(DMG_PAGES, encrypt="aes", user_password=pw)
    assert M.extract_text(b, password=pw) == (DMG_EXPECT, 2)
    assert M.extract_text(b, password=pw.encode("utf-8")) == (DMG_EXPECT, 2)
    assert M.extract_text(b, password=pw.encode("latin-1", "ignore"))[0] == ""


def test_macroman_encoding_base_table():
    """/Encoding /MacRomanEncoding routes high bytes through the Annex D
    Mac table (round 8): 0x8E = eacute, 0xA4 = section; the two PDF-spec
    divergences from stdlib mac_roman are pinned (0xDB is the CURRENCY
    sign, not the euro Mac OS 8.5 put there; 0xF0 — the Apple logo — is
    notdef and must DROP, not leak a glyph)."""
    page = (
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R"
        b" /Resources << /Font << /F1 5 0 R >> >> >>"
    )
    stream = b"BT /F1 12 Tf 72 720 Td (caf\x8e \xa4 \xdb \xf0fim) Tj ET"
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: page,
        4: b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream),
        5: b"<< /Type /Font /Subtype /Type1 /BaseFont /Times"
           b" /Encoding /MacRomanEncoding >>",
    }
    text, pages = M.extract_text_structured(_classic_pdf(objs, root=1))
    assert text == "café § ¤ fim" and pages == 1


def test_macroman_with_differences_overlay():
    """A /Differences array overlays the MacRoman base like the other
    bases: remapped code decodes through the override, untouched codes
    keep the Mac table."""
    page = (
        b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R"
        b" /Resources << /Font << /F1 5 0 R >> >> >>"
    )
    stream = b"BT /F1 12 Tf 72 720 Td (\x80\x8e) Tj ET"
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: page,
        4: b"<< /Length %d >>\nstream\n%s\nendstream" % (len(stream), stream),
        5: b"<< /Type /Font /Subtype /Type1 /BaseFont /Times"
           b" /Encoding << /BaseEncoding /MacRomanEncoding"
           b" /Differences [ 128 /zero ] >> >>",
    }
    text, _ = M.extract_text_structured(_classic_pdf(objs, root=1))
    assert text == "0é"  # 0x80 remapped to /zero, 0x8E stays eacute
