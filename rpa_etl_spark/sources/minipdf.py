"""Minimal pure-stdlib PDF text extractor (the S1/S2 decode kernel).

The reference extracts per-page text with a third-party PDF library
(robot/pdf_reader.py:23-94). This module implements the (public,
ISO 32000-1) PDF file format directly instead, so the engine has one
decoder with no native dependency. Two extraction paths:

STRUCTURED (primary, round 6): a real document parser —
- cross-reference resolution: classic ``xref`` tables (with ``/Prev``
  chains and hybrid ``/XRefStm``) AND PDF 1.5 cross-reference STREAMS
  (``/W`` field triples, ``/Index`` subsections, PNG predictors);
- a recursive-descent object parser (dicts, arrays, names, numbers,
  literal/hex strings, indirect references) with indirect ``/Length``
  resolution and object caching;
- ``/Type /ObjStm`` object streams (type-2 xref entries);
- stream filters and filter CHAINS: ``FlateDecode`` (+ PNG predictors via
  ``/DecodeParms``), ``ASCIIHexDecode``, ``ASCII85Decode``,
  ``RunLengthDecode``, ``LZWDecode`` (+ predictors, EarlyChange);
- page-tree walk from ``/Root`` → ``/Pages`` → ``/Kids`` (inherited
  ``/Resources``, ``/Contents`` arrays concatenated per the spec);
- text via the standard content-stream operators: ``Tj``, ``'``, ``"``,
  ``TJ`` (array form with kerning), ``Td``/``TD``/``T*`` as line breaks,
  with ``Tf`` font tracking;
- composite/CID (2-byte) fonts via ``/ToUnicode`` CMaps (``bfchar`` +
  ``bfrange``, both destination forms); simple fonts decode as Latin-1
  (WinAnsi-compatible for the printable range).

SWEEP (fallback): the pre-round-6 regex sweep over ``N G obj`` bodies —
used when the structural parse fails (damaged xref, truncated file), so
malformed input degrades instead of erroring. Never raises: undecodable
streams contribute no text.

Deterministic: same bytes in, same text out. Encrypted files open through
the standard security handler (RC4, AES-128, AES-256) with the empty or a
given user password; see ``PdfDoc``.
"""

from __future__ import annotations

import re
import zlib
from functools import lru_cache

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b(.*?)endobj", re.S)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.S)
_PAGE_RE = re.compile(rb"/Type\s*/Page\b(?!s)")
_OBJSTM_RE = re.compile(rb"/Type\s*/ObjStm\b")
_FLATE_RE = re.compile(rb"/Filter\s*(?:\[\s*)?/FlateDecode\b")
_ANY_FILTER_RE = re.compile(rb"/Filter\b")

# content-stream text operators; see PDF 32000-1:2008 §9.4
_TEXT_OP_RE = re.compile(
    rb"""
    \((?P<lit>(?:\\.|[^\\()])*)\)\s*(?P<litop>Tj|'|")      # (string) Tj / ' / "
  | <(?P<hex>[0-9A-Fa-f\s]*)>\s*(?P<hexop>Tj|'|")          # <hex> Tj
  | \[(?P<arr>(?:\\.|\((?:\\.|[^\\()])*\)|<[0-9A-Fa-f\s]*>|[^\]])*)\]\s*TJ
  | (?P<nl>T\*|TD|Td)                                      # line motion
    """,
    re.S | re.X,
)
_ARR_ITEM_RE = re.compile(
    rb"\((?P<lit>(?:\\.|[^\\()])*)\)|<(?P<hex>[0-9A-Fa-f\s]*)>|(?P<num>-?\d+(?:\.\d+)?)"
)

_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _unescape_literal(raw: bytes) -> bytes:
    """Resolve PDF literal-string escapes: \\n-style, \\ooo octal, and
    escaped line continuations."""
    out, i, n = bytearray(), 0, len(raw)
    while i < n:
        c = raw[i : i + 1]
        if c != b"\\":
            out += c
            i += 1
            continue
        nxt = raw[i + 1 : i + 2]
        if nxt in _ESCAPES:
            out += _ESCAPES[nxt]
            i += 2
        elif nxt and nxt in b"01234567":
            j = 0
            while j < 3 and raw[i + 1 + j : i + 2 + j] and raw[i + 1 + j] in b"01234567":
                j += 1
            out.append(int(raw[i + 1 : i + 1 + j], 8) & 0xFF)
            i += 1 + j
        elif nxt in (b"\n", b"\r"):  # escaped newline = continuation
            i += 2
        else:
            out += nxt
            i += 2
    return bytes(out)


def _decode_hex(raw: bytes) -> bytes:
    h = re.sub(rb"\s", b"", raw)
    if len(h) % 2:
        h += b"0"
    try:
        return bytes.fromhex(h.decode("ascii"))
    except ValueError:
        return b""


def _stream_text(stream: bytes) -> str:
    """Extract show-text operators from one decoded content stream."""
    pieces: list[bytes] = []
    for m in _TEXT_OP_RE.finditer(stream):
        if m.group("lit") is not None:
            if m.group("litop") in (b"'", b'"'):
                pieces.append(b"\n")
            pieces.append(_unescape_literal(m.group("lit")))
        elif m.group("hex") is not None:
            if m.group("hexop") in (b"'", b'"'):
                pieces.append(b"\n")
            pieces.append(_decode_hex(m.group("hex")))
        elif m.group("arr") is not None:
            for it in _ARR_ITEM_RE.finditer(m.group("arr")):
                if it.group("lit") is not None:
                    pieces.append(_unescape_literal(it.group("lit")))
                elif it.group("hex") is not None:
                    pieces.append(_decode_hex(it.group("hex")))
                elif float(it.group("num")) < -150:
                    # large negative kerning ≈ inter-word gap
                    pieces.append(b" ")
        elif m.group("nl") is not None:
            pieces.append(b"\n")
    text = b"".join(pieces).decode("latin-1", errors="ignore")
    # collapse the newline bursts Td/TD motion produces around each show op
    return re.sub(r"\n{2,}", "\n", text).strip("\n")


def _inflate(data: bytes) -> bytes | None:
    try:
        return zlib.decompress(data)
    except zlib.error:
        # tolerate trailing garbage after the deflate body
        try:
            d = zlib.decompressobj()
            return d.decompress(data)
        except zlib.error:
            return None


def _decode_stream(obj_body: bytes) -> bytes | None:
    """Return the decoded stream bytes of an object, or None when absent /
    undecodable (non-Flate filter, bad deflate data)."""
    sm = _STREAM_RE.search(obj_body)
    if not sm:
        return None
    data = sm.group(1)
    head = obj_body[: sm.start()]
    if _FLATE_RE.search(head):
        return _inflate(data)
    if _ANY_FILTER_RE.search(head):
        return None  # unsupported filter
    return data


def _expand_objects(content: bytes) -> list[bytes]:
    """All object bodies: top-level ``N G obj ... endobj`` plus the objects
    packed inside /Type /ObjStm streams (decompressed and split using the
    offset table in the stream header)."""
    bodies: list[bytes] = []
    for m in _OBJ_RE.finditer(content):
        body = m.group(3)
        bodies.append(body)
        if _OBJSTM_RE.search(body):
            decoded = _decode_stream(body)
            if decoded is None:
                continue
            nm = re.search(rb"/N\s+(\d+)", body)
            fm = re.search(rb"/First\s+(\d+)", body)
            if not (nm and fm):
                continue
            n, first = int(nm.group(1)), int(fm.group(1))
            header = decoded[:first].split()
            offsets = [int(x) for x in header[1 : 2 * n : 2]]
            offsets.append(len(decoded) - first)
            for a, b in zip(offsets, offsets[1:]):
                bodies.append(decoded[first + a : first + b])
    return bodies


# =========================================================================
# Structured parser (round 6): xref chains, object parser, filters, page
# tree, ToUnicode CMaps. PDF 32000-1:2008 §7 (syntax), §9 (text).
# =========================================================================

_PDF_WS = b"\x00\t\n\x0c\r "
_PDF_DELIM = b"()<>[]{}/%"


class Name(str):
    """A PDF name object (``/Foo``) — distinct from a text string."""

    __slots__ = ()


class Ref:
    """Indirect reference ``N G R``."""

    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int):
        self.num, self.gen = num, gen

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"{self.num} {self.gen} R"

    def __eq__(self, other) -> bool:
        return isinstance(other, Ref) and (self.num, self.gen) == (other.num, other.gen)

    def __hash__(self) -> int:
        return hash((self.num, self.gen))


class _BadPdf(Exception):
    """Structural parse failure — caught by extract_text to trigger the
    regex-sweep fallback; never escapes this module."""


def _skip_ws(data: bytes, i: int) -> int:
    n = len(data)
    while i < n:
        c = data[i]
        if c in _PDF_WS:
            i += 1
        elif c == 0x25:  # '%' comment to end of line
            while i < n and data[i] not in (0x0A, 0x0D):
                i += 1
        else:
            break
    return i


def _parse_name(data: bytes, i: int) -> tuple[Name, int]:
    # caller consumed '/'
    out = bytearray()
    n = len(data)
    while i < n:
        c = data[i]
        if c in _PDF_WS or c in _PDF_DELIM:
            break
        if c == 0x23 and i + 2 < n:  # '#xx' hex escape in names
            try:
                out.append(int(data[i + 1 : i + 3], 16))
                i += 3
                continue
            except ValueError:
                pass
        out.append(c)
        i += 1
    return Name(out.decode("latin-1")), i


def _parse_literal_string(data: bytes, i: int) -> tuple[bytes, int]:
    # caller consumed '('; balanced parens with escapes
    depth, n = 1, len(data)
    start = i
    raw = bytearray()
    while i < n:
        c = data[i]
        if c == 0x5C:  # backslash
            raw += data[i : i + 2]
            i += 2
            continue
        if c == 0x28:
            depth += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return _unescape_literal(bytes(raw)), i + 1
        raw.append(c)
        i += 1
    raise _BadPdf(f"unterminated literal string at {start}")


def _parse_value(data: bytes, i: int):
    """Recursive-descent parse of ONE object value at ``i`` (whitespace
    already allowed); returns (value, next_index). Indirect references are
    recognized by ``int int R`` lookahead."""
    i = _skip_ws(data, i)
    if i >= len(data):
        raise _BadPdf("eof in object")
    c = data[i]
    if data.startswith(b"<<", i):
        i += 2
        d: dict[str, object] = {}
        while True:
            i = _skip_ws(data, i)
            if data.startswith(b">>", i):
                return d, i + 2
            if i >= len(data):
                raise _BadPdf("eof in dict")
            if data[i] != 0x2F:
                raise _BadPdf(f"dict key not a name at {i}")
            key, i = _parse_name(data, i + 1)
            val, i = _parse_value(data, i)
            d[str(key)] = val
    if c == 0x3C:  # '<' hex string
        j = data.index(b">", i + 1)
        return _decode_hex(data[i + 1 : j]), j + 1
    if c == 0x28:  # '(' literal string
        return _parse_literal_string(data, i + 1)
    if c == 0x2F:  # '/' name
        return _parse_name(data, i + 1)
    if c == 0x5B:  # '[' array
        i += 1
        arr: list[object] = []
        while True:
            i = _skip_ws(data, i)
            if i < len(data) and data[i] == 0x5D:
                return arr, i + 1
            v, i = _parse_value(data, i)
            arr.append(v)
    if data.startswith(b"true", i):
        return True, i + 4
    if data.startswith(b"false", i):
        return False, i + 5
    if data.startswith(b"null", i):
        return None, i + 4
    # number — possibly the start of an ``N G R`` indirect reference
    m = re.compile(rb"[+-]?(?:\d+\.\d*|\.\d+|\d+)").match(data, i)
    if not m:
        raise _BadPdf(f"unparseable token at {i}: {data[i:i+20]!r}")
    tok = m.group(0)
    j = m.end()
    if b"." not in tok and not tok.startswith((b"+", b"-")):
        rm = re.compile(rb"[\x00\t\n\x0c\r ]+(\d+)[\x00\t\n\x0c\r ]+R(?![A-Za-z0-9])").match(
            data, j
        )
        if rm:
            return Ref(int(tok), int(rm.group(1))), rm.end()
    return (float(tok) if b"." in tok else int(tok)), j


# ---- standard security handler (RC4) --------------------------------------
# ISO 32000-1 §7.6.3 (public spec): V=1/2, R=2/3, RC4. Decryption supports
# the EMPTY-user-password case — the overwhelmingly common "encrypted"
# machine-generated invoice (permissions-only encryption). AES (/V 4+) and
# real passwords are out of scope and degrade to the sweep (no text).

_PAD = bytes.fromhex(
    "28BF4E5E4E758A4164004E56FFFA01082E2E00B6D0683E802F0CA9FE6453697A"
)


def _rc4(key: bytes, data: bytes) -> bytes:
    """Plain RC4 (symmetric: encrypt == decrypt)."""
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for k, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[k] = c ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


# AES-128 (FIPS-197, public): tables generated from the GF(2^8) field
# rather than transcribed, so a typo is structurally impossible; validated
# against the FIPS-197 Appendix C test vector in tests.


def _aes_tables() -> tuple[list[int], list[int], list[int]]:
    exp, log = [0] * 512, [0] * 256
    x = 1
    for i in range(255):
        exp[i] = x
        log[x] = i
        x ^= ((x << 1) ^ (0x1B if x & 0x80 else 0)) & 0xFF  # multiply by 3
    for i in range(255, 512):
        exp[i] = exp[i - 255]
    sbox = [0] * 256
    for a in range(256):
        b = exp[255 - log[a]] if a else 0  # GF inverse
        s = b
        for _ in range(4):
            b = ((b << 1) | (b >> 7)) & 0xFF
            s ^= b
        sbox[a] = s ^ 0x63
    inv = [0] * 256
    for a, s in enumerate(sbox):
        inv[s] = a
    return sbox, inv, exp


_SBOX, _INV_SBOX, _GF_EXP = _aes_tables()
_GF_LOG = [0] * 256
for _i in range(255):
    _GF_LOG[_GF_EXP[_i]] = _i


def _gmul(a: int, b: int) -> int:
    if a == 0 or b == 0:
        return 0
    return _GF_EXP[_GF_LOG[a] + _GF_LOG[b]]


def _enc_ttables() -> tuple[list[int], ...]:
    """T-table encryption round (r14, guide §4.3 "heavyweight init once"):
    SubBytes+ShiftRows+MixColumns fused into 4 table lookups + 4 xors per
    output column word, the classic software-AES formulation. Generated
    from _SBOX/_gmul — same field arithmetic, so bit-identity with the
    byte-wise round is structural (and pinned against it in tests). This
    matters because ISO 32000-2's Algorithm 2.B KDF is ≥64 AES-CBC rounds
    over a KB-scale buffer per password check: at ~76 µs/block the
    byte-wise round made every cold KDF ~1-2 s of pure Python."""
    t0, t1, t2, t3 = [], [], [], []
    for x in range(256):
        s = _SBOX[x]
        g2, g3 = _gmul(s, 2), _gmul(s, 3)
        t0.append((g2 << 24) | (s << 16) | (s << 8) | g3)
        t1.append((g3 << 24) | (g2 << 16) | (s << 8) | s)
        t2.append((s << 24) | (g3 << 16) | (g2 << 8) | s)
        t3.append((s << 24) | (s << 16) | (g3 << 8) | g2)
    return t0, t1, t2, t3


_T0, _T1, _T2, _T3 = _enc_ttables()
# decrypt round constants as direct lookup tables (no per-byte _gmul calls)
_M9 = [_gmul(x, 9) for x in range(256)]
_M11 = [_gmul(x, 11) for x in range(256)]
_M13 = [_gmul(x, 13) for x in range(256)]
_M14 = [_gmul(x, 14) for x in range(256)]


def _aes_expand_key(key: bytes) -> list[bytes]:
    """AES-128/256 key schedule → Nr+1 round keys of 16 bytes."""
    nk = len(key) // 4  # 4 or 8 words
    nr = nk + 6  # 10 or 14 rounds
    w = [list(key[i : i + 4]) for i in range(0, len(key), 4)]
    rcon = 1
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = [_SBOX[t[1]], _SBOX[t[2]], _SBOX[t[3]], _SBOX[t[0]]]
            t[0] ^= rcon
            rcon = ((rcon << 1) ^ (0x1B if rcon & 0x80 else 0)) & 0xFF
        elif nk == 8 and i % nk == 4:
            t = [_SBOX[b] for b in t]  # AES-256 extra SubWord
        w.append([a ^ b for a, b in zip(w[i - nk], t)])
    return [bytes(sum(w[r * 4 : r * 4 + 4], [])) for r in range(nr + 1)]


def _rk_words(rk: list[bytes]) -> list[tuple[int, int, int, int]]:
    """Round keys as 4 big-endian column words each (T-table form)."""
    return [
        (
            int.from_bytes(k[0:4], "big"),
            int.from_bytes(k[4:8], "big"),
            int.from_bytes(k[8:12], "big"),
            int.from_bytes(k[12:16], "big"),
        )
        for k in rk
    ]


def _aes_encrypt_block(rk: list[bytes], block: bytes) -> bytes:
    return _aes_enc_words(_rk_words(rk), block)


def _aes_enc_words(rkw: list[tuple[int, int, int, int]], block: bytes) -> bytes:
    """T-table round (see _enc_ttables). State = 4 column words, row 0 in
    the MSB; output column c reads row r of input column (c+r)%4 — the
    ShiftRows of the column-major layout the rest of this module uses.
    CBC loops convert the round keys to words ONCE and call this."""
    nr = len(rkw) - 1
    k0 = rkw[0]
    w0 = int.from_bytes(block[0:4], "big") ^ k0[0]
    w1 = int.from_bytes(block[4:8], "big") ^ k0[1]
    w2 = int.from_bytes(block[8:12], "big") ^ k0[2]
    w3 = int.from_bytes(block[12:16], "big") ^ k0[3]
    T0, T1, T2, T3 = _T0, _T1, _T2, _T3
    for rnd in range(1, nr):
        k = rkw[rnd]
        t0 = T0[w0 >> 24] ^ T1[(w1 >> 16) & 255] ^ T2[(w2 >> 8) & 255] ^ T3[w3 & 255] ^ k[0]
        t1 = T0[w1 >> 24] ^ T1[(w2 >> 16) & 255] ^ T2[(w3 >> 8) & 255] ^ T3[w0 & 255] ^ k[1]
        t2 = T0[w2 >> 24] ^ T1[(w3 >> 16) & 255] ^ T2[(w0 >> 8) & 255] ^ T3[w1 & 255] ^ k[2]
        t3 = T0[w3 >> 24] ^ T1[(w0 >> 16) & 255] ^ T2[(w1 >> 8) & 255] ^ T3[w2 & 255] ^ k[3]
        w0, w1, w2, w3 = t0, t1, t2, t3
    S = _SBOX
    k = rkw[nr]
    o0 = ((S[w0 >> 24] << 24) | (S[(w1 >> 16) & 255] << 16)
          | (S[(w2 >> 8) & 255] << 8) | S[w3 & 255]) ^ k[0]
    o1 = ((S[w1 >> 24] << 24) | (S[(w2 >> 16) & 255] << 16)
          | (S[(w3 >> 8) & 255] << 8) | S[w0 & 255]) ^ k[1]
    o2 = ((S[w2 >> 24] << 24) | (S[(w3 >> 16) & 255] << 16)
          | (S[(w0 >> 8) & 255] << 8) | S[w1 & 255]) ^ k[2]
    o3 = ((S[w3 >> 24] << 24) | (S[(w0 >> 16) & 255] << 16)
          | (S[(w1 >> 8) & 255] << 8) | S[w2 & 255]) ^ k[3]
    return (o0.to_bytes(4, "big") + o1.to_bytes(4, "big")
            + o2.to_bytes(4, "big") + o3.to_bytes(4, "big"))


def _aes_decrypt_block(rk: list[bytes], block: bytes) -> bytes:
    nr = len(rk) - 1
    s = [b ^ k for b, k in zip(block, rk[nr])]
    for rnd in range(nr - 1, -1, -1):
        # inverse ShiftRows then inverse SubBytes
        s = [s[(i - 4 * (i % 4)) % 16] for i in range(16)]
        s = [_INV_SBOX[b] for b in s]
        s = [b ^ k for b, k in zip(s, rk[rnd])]
        if rnd > 0:
            m = list(s)
            for c in range(4):
                a0, a1, a2, a3 = m[4 * c : 4 * c + 4]
                s[4 * c + 0] = _M14[a0] ^ _M11[a1] ^ _M13[a2] ^ _M9[a3]
                s[4 * c + 1] = _M9[a0] ^ _M14[a1] ^ _M11[a2] ^ _M13[a3]
                s[4 * c + 2] = _M13[a0] ^ _M9[a1] ^ _M14[a2] ^ _M11[a3]
                s[4 * c + 3] = _M11[a0] ^ _M13[a1] ^ _M9[a2] ^ _M14[a3]
    return bytes(s)


def _aes_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """PDF AESV2/AESV3 payload: 16-byte IV prefix, CBC, PKCS#7 padding."""
    if len(data) < 32 or len(data) % 16:
        return b""
    rk = _aes_expand_key(key)
    prev = data[:16]
    out = bytearray()
    for i in range(16, len(data), 16):
        blk = data[i : i + 16]
        out += bytes(a ^ b for a, b in zip(_aes_decrypt_block(rk, blk), prev))
        prev = blk
    pad = out[-1] if out else 0
    if 1 <= pad <= 16:
        out = out[:-pad]
    return bytes(out)


def _aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    rkw = _rk_words(_aes_expand_key(key))
    pad = 16 - len(data) % 16
    data = data + bytes([pad]) * pad
    out = bytearray(iv)
    prev = iv
    for i in range(0, len(data), 16):
        blk = bytes(a ^ b for a, b in zip(data[i : i + 16], prev))
        prev = _aes_enc_words(rkw, blk)
        out += prev
    return bytes(out)


def _aes_cbc_raw(key: bytes, iv: bytes, data: bytes, decrypt: bool) -> bytes:
    """No-padding, explicit-IV CBC — the KDF primitive of the R6 handler
    (Algorithm 2.B hashing, /UE //OE file-key unwrap)."""
    rk = _aes_expand_key(key)
    out = bytearray()
    prev = iv
    if not decrypt:
        rkw = _rk_words(rk)
        ixor = int.from_bytes(prev, "big")
        for i in range(0, len(data) - len(data) % 16, 16):
            prev = _aes_enc_words(
                rkw, (int.from_bytes(data[i : i + 16], "big") ^ ixor)
                .to_bytes(16, "big"))
            ixor = int.from_bytes(prev, "big")
            out += prev
        return bytes(out)
    for i in range(0, len(data) - len(data) % 16, 16):
        blk = data[i : i + 16]
        out += bytes(a ^ b for a, b in zip(_aes_decrypt_block(rk, blk), prev))
        prev = blk
    return bytes(out)


@lru_cache(maxsize=256)
def _hash_2b(pwd: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B: the iterated SHA-256/384/512 + AES-CBC
    password hash of the R6 handler. DELIBERATELY expensive (a
    password-hardening KDF: ≥64 AES-CBC rounds over a 6 KB buffer —
    ~1.4 s in pure Python), so results are memoized: within one process a
    repeated (pwd, salt, udata) triple costs nothing, which makes
    corpus-scale decryption of same-producer files (shared salts)
    tractable while single-file cost stays what the spec intends."""
    import hashlib

    k = hashlib.sha256(pwd + salt + udata).digest()
    rnd = 0
    while True:
        k1 = (pwd + k + udata) * 64
        e = _aes_cbc_raw(k[:16], k[16:32], k1, decrypt=False)
        mod = sum(e[:16]) % 3
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[mod](e).digest()
        rnd += 1
        if rnd >= 64 and e[-1] <= rnd - 32:
            return k[:32]


def _std_file_key(
    o_entry: bytes, p: int, id0: bytes, r: int, key_bytes: int,
    user_pwd: bytes = b"",
    encrypt_metadata: bool = True,
) -> bytes:
    """Algorithm 2: file encryption key from the (padded) user password."""
    import hashlib

    padded = (user_pwd + _PAD)[:32]
    extra = b"" if (encrypt_metadata or r < 4) else b"\xff\xff\xff\xff"
    h = hashlib.md5(
        padded + o_entry[:32] + (p & 0xFFFFFFFF).to_bytes(4, "little") + id0 + extra
    )
    key = h.digest()[:key_bytes]
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key).digest()[:key_bytes]
    return key


def _std_owner_entry(r: int, key_bytes: int, owner_pwd: bytes = b"",
                     user_pwd: bytes = b"") -> bytes:
    """Algorithm 3: the /O entry."""
    import hashlib

    h = hashlib.md5((owner_pwd + _PAD)[:32]).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h).digest()
    key = h[:key_bytes]
    o = _rc4(key, (user_pwd + _PAD)[:32])
    if r >= 3:
        for i in range(1, 20):
            o = _rc4(bytes(b ^ i for b in key), o)
    return o


def _std_user_check(key: bytes, r: int, id0: bytes) -> bytes:
    """Algorithm 4 (R2) / 5 (R3): the /U entry the empty password implies."""
    import hashlib

    if r == 2:
        return _rc4(key, _PAD)
    h = hashlib.md5(_PAD + id0).digest()
    out = _rc4(key, h)
    for i in range(1, 20):
        out = _rc4(bytes(b ^ i for b in key), out)
    return (out + out[:16])[:32]  # 16 bytes arbitrary padding; compare 16


def _obj_key(file_key: bytes, num: int, gen: int, aes: bool = False) -> bytes:
    """Algorithm 1: per-object key (AES variants append the 'sAlT' tag)."""
    import hashlib

    ext = file_key + num.to_bytes(3, "little") + gen.to_bytes(2, "little")
    if aes:
        ext += b"sAlT"
    return hashlib.md5(ext).digest()[: min(len(file_key) + 5, 16)]


# ---- stream filters ------------------------------------------------------


def _png_unpredict(data: bytes, columns: int, colors: int = 1, bpc: int = 8) -> bytes:
    """Reverse PNG row predictors (PDF /Predictor >= 10)."""
    bpp = max(1, (colors * bpc + 7) // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    out = bytearray()
    prev = bytearray(rowlen)
    i, n = 0, len(data)
    while i + 1 <= n:
        ft = data[i]
        row = bytearray(data[i + 1 : i + 1 + rowlen])
        if len(row) < rowlen:
            break
        if ft == 1:  # Sub
            for k in range(bpp, rowlen):
                row[k] = (row[k] + row[k - bpp]) & 0xFF
        elif ft == 2:  # Up
            for k in range(rowlen):
                row[k] = (row[k] + prev[k]) & 0xFF
        elif ft == 3:  # Average
            for k in range(rowlen):
                left = row[k - bpp] if k >= bpp else 0
                row[k] = (row[k] + ((left + prev[k]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for k in range(rowlen):
                a = row[k - bpp] if k >= bpp else 0
                b = prev[k]
                cc = prev[k - bpp] if k >= bpp else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                row[k] = (row[k] + pred) & 0xFF
        out += row
        prev = row
        i += 1 + rowlen
    return bytes(out)


def _lzw_decode(data: bytes, early_change: int = 1) -> bytes:
    """PDF LZWDecode (TIFF-style LZW: clear=256, EOD=257, 9→12-bit codes,
    EarlyChange table-width bump)."""
    out = bytearray()
    table: list[bytes] = [bytes([k]) for k in range(256)] + [b"", b""]
    bits, acc, nbits = 9, 0, 0
    prev: bytes | None = None
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= bits:
            code = (acc >> (nbits - bits)) & ((1 << bits) - 1)
            nbits -= bits
            if code == 256:  # clear table
                table = [bytes([k]) for k in range(256)] + [b"", b""]
                bits, prev = 9, None
                continue
            if code == 257:  # EOD
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            else:
                entry = prev + prev[:1]
                table.append(entry)
            out += entry
            prev = entry
            # EarlyChange=1 (default): widen one code EARLY — when the next
            # code to assign is (1<<bits)-1 the encoder already switched
            if len(table) >= (1 << bits) - early_change and bits < 12:
                bits += 1
    return bytes(out)


def _rl_decode(data: bytes) -> bytes:
    """RunLengthDecode: length byte 0-127 = literal run, 129-255 = repeat
    (257-L copies of next byte), 128 = EOD."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        ln = data[i]
        if ln == 128:
            break
        if ln < 128:
            out += data[i + 1 : i + 2 + ln]
            i += 2 + ln
        else:
            out += data[i + 1 : i + 2] * (257 - ln)
            i += 2
    return bytes(out)


def _a85_decode(data: bytes) -> bytes:
    import base64

    body = re.sub(rb"\s", b"", data)
    if body.endswith(b"~>"):
        body = body[:-2]
    return base64.a85decode(b"<~" + body + b"~>", adobe=True)


def _apply_one_filter(data: bytes, name: str, parms: dict | None) -> bytes:
    parms = parms or {}
    if name in ("FlateDecode", "Fl"):
        data = zlib.decompress(data)
    elif name in ("LZWDecode", "LZW"):
        data = _lzw_decode(data, int(parms.get("EarlyChange", 1)))
    elif name in ("ASCIIHexDecode", "AHx"):
        data = _decode_hex(data.rstrip(b">").replace(b">", b""))
    elif name in ("ASCII85Decode", "A85"):
        data = _a85_decode(data)
    elif name in ("RunLengthDecode", "RL"):
        data = _rl_decode(data)
    else:
        raise _BadPdf(f"unsupported filter {name}")
    pred = int(parms.get("Predictor", 1))
    if pred >= 10:
        data = _png_unpredict(
            data,
            int(parms.get("Columns", 1)),
            int(parms.get("Colors", 1)),
            int(parms.get("BitsPerComponent", 8)),
        )
    elif pred != 1:
        raise _BadPdf(f"unsupported predictor {pred}")
    return data


class PdfDoc:
    """Random-access PDF document: xref-chain resolution + object cache.

    SALVAGE (round 7): real-world files break their xref in two ways —
    the chain itself is unreadable (truncated tail, garbled ``startxref``)
    or the table parses but its offsets are wrong (incremental-save tools
    that shift bytes without rewriting the table). Both are recovered by
    reconstruction-by-object-scan, the strategy mature PDF readers apply
    (reference robot/pdf_reader.py:23-58 never sees a clean-xref
    guarantee): scan the file for ``N G obj`` headers (last definition of
    an object number wins, per the incremental-update rule), recover the
    trailer from the last parseable ``trailer`` dict, and fall back to a
    ``/Type /Catalog`` scan when no trailer survives. Offset errors are
    healed lazily: ``get()`` verifies the object number at each recorded
    offset and consults the scan index on mismatch."""

    def __init__(self, data: bytes, password: bytes | str = b""):
        self.data = data
        # round 8: a caller-supplied USER password (the known-password
        # archive case). str is encoded UTF-8 — correct for V5/R6
        # (Algorithm 2.A) and the pragmatic choice for the legacy
        # handlers, whose PDFDocEncoding differs from UTF-8 only outside
        # the ASCII range real invoice-archive passwords use.
        self.password = (
            password.encode("utf-8") if isinstance(password, str) else password
        )
        self.offsets: dict[int, int] = {}  # objnum -> byte offset (type 1)
        self.in_objstm: dict[int, tuple[int, int]] = {}  # objnum -> (stm, idx)
        self.trailer: dict = {}
        self._cache: dict[int, object] = {}
        self._objstm_cache: dict[int, list[tuple[int, object]]] = {}
        self._scan_index: dict[int, list[int]] | None = None
        self._file_key: bytes | None = None
        self._encrypt_num: int | None = None
        self._cipher = "rc4"
        self._freed: set[int] = set()
        self._salvaged = False
        # zlib/ValueError can escape a CORRUPT compressed xref stream (bad
        # flate body, malformed a85) — those are exactly the damaged files
        # salvage exists for, so the catch matches _salvage_scan's own set
        try:
            self._read_xref_chain()
        except (_BadPdf, zlib.error, ValueError):
            self._salvage_scan()
        if not isinstance(self.trailer.get("Root"), (Ref, dict)):
            self._salvage_root()
        enc = self.trailer.get("Encrypt")
        if enc is not None:
            self._setup_encryption(enc)
        if self._salvaged and self._file_key is not None:
            # objstms scanned during salvage were still ciphertext — now
            # that the key exists, re-register their packed objects. The
            # object cache is cleared too: anything get() resolved before
            # the key existed (e.g. _salvage_root's catalog probe) would
            # otherwise retain ciphertext strings (round-7 ADVICE)
            self._cache.clear()
            self._objstm_cache.clear()
            self._register_scanned_objstms()

    # -- encryption ----------------------------------------------------------

    def _setup_encryption(self, enc: object) -> None:
        """Standard security handler: RC4 (V 1/2, R 2/3), AES-128-CBC
        (V 4 R 4, /CFM /AESV2), and AES-256-CBC (V 5 R 6, ISO 32000-2
        Algorithm 2.B), validated against ``self.password`` — EMPTY by
        default (the permissions-only encryption machine-generated PDFs
        ship with), or a caller-supplied USER password (round 8; the
        known-password archive case). A wrong password or a custom
        handler raises _BadPdf and the document degrades to the sweep
        (which extracts nothing from ciphertext: the honest outcome,
        never garbage text). Owner-password recovery (Algorithm 7) is
        deliberately out of scope — it exists to BYPASS a user password,
        which an extraction engine has no business doing silently."""
        pwd = self.password
        if isinstance(enc, Ref):
            self._encrypt_num = enc.num
        ed = self.get(enc)  # parsed BEFORE _file_key is set → not decrypted
        if isinstance(ed, _StreamObj):
            ed = ed.dict
        if not isinstance(ed, dict):
            raise _BadPdf("malformed /Encrypt")
        if str(ed.get("Filter")) != "Standard":
            raise _BadPdf(f"unsupported security handler {ed.get('Filter')!r}")
        v, r = int(ed.get("V", 0)), int(ed.get("R", 2))
        if (v, r) == (5, 6):
            # AES-256 (ISO 32000-2): Algorithm 2.B hash validates the empty
            # user password against /U, then /UE unwraps the FILE key,
            # which V5 applies directly (no per-object derivation)
            u5, ue = ed.get("U"), ed.get("UE")
            if not (isinstance(u5, bytes) and len(u5) >= 48 and isinstance(ue, bytes)):
                raise _BadPdf("malformed V5 /U or /UE")
            vsalt, ksalt = u5[32:40], u5[40:48]
            # Algorithm 2.A: the UTF-8 password is truncated to 127 bytes
            if _hash_2b(pwd[:127], vsalt) != u5[:32]:
                raise _BadPdf("user password does not validate against /U")
            self._file_key = _aes_cbc_raw(
                _hash_2b(pwd[:127], ksalt), bytes(16), ue[:32], decrypt=True
            )
            self._cipher = "aes256"
            return
        if (v, r) not in ((1, 2), (1, 3), (2, 2), (2, 3), (4, 4)):
            raise _BadPdf(f"unsupported encryption V={v} R={r}")
        cipher = "rc4"
        encrypt_metadata = ed.get("EncryptMetadata", True) is not False
        if v == 4:
            cf = self.get(ed.get("CF"))
            stdcf = cf.get("StdCF") if isinstance(cf, dict) else None
            cfm = str(stdcf.get("CFM")) if isinstance(stdcf, dict) else ""
            if cfm == "AESV2":
                cipher = "aes"
            elif cfm != "V2":
                raise _BadPdf(f"unsupported crypt filter {cfm!r}")
        o, u = ed.get("O"), ed.get("U")
        if not (isinstance(o, bytes) and isinstance(u, bytes)):
            raise _BadPdf("missing /O or /U")
        ids = self.trailer.get("ID")
        id0 = (
            ids[0]
            if isinstance(ids, list) and ids and isinstance(ids[0], bytes)
            else b""
        )
        key = _std_file_key(
            o, int(ed.get("P", -1)), id0, r,
            int(ed.get("Length", 128 if v == 4 else 40)) // 8,
            user_pwd=pwd,
            encrypt_metadata=encrypt_metadata,
        )
        cmp_len = 32 if r == 2 else 16
        if u[:cmp_len] != _std_user_check(key, r, id0)[:cmp_len]:
            raise _BadPdf("user password does not validate against /U")
        self._file_key = key
        self._cipher = cipher

    def _decrypt_bytes(self, num: int, gen: int, data: bytes) -> bytes:
        if self._cipher == "aes256":
            return _aes_cbc_decrypt(self._file_key, data)  # file key direct
        if self._cipher == "aes":
            return _aes_cbc_decrypt(
                _obj_key(self._file_key, num, gen, aes=True), data
            )
        return _rc4(_obj_key(self._file_key, num, gen), data)

    def _decrypt_value(self, v: object, num: int, gen: int) -> object:
        """Recursively decrypt every STRING in a parsed object value —
        names/numbers/refs pass through (only strings and streams are
        encrypted, §7.6.2)."""
        if isinstance(v, bytes):
            return self._decrypt_bytes(num, gen, v)
        if isinstance(v, list):
            return [self._decrypt_value(x, num, gen) for x in v]
        if isinstance(v, dict):
            return {k: self._decrypt_value(x, num, gen) for k, x in v.items()}
        return v

    # -- salvage -----------------------------------------------------------

    def _scan_objects(self) -> dict[int, list[int]]:
        """Reconstruction index: candidate byte offsets of every
        ``N G obj`` header in the file, in file order. Headers must start a
        line (real writers emit them that way) — this keeps random
        compressed-stream bytes that happen to spell ``obj`` out of the
        index. Consumers try candidates LAST-first (incremental updates
        append newer generations). Built once, lazily — the healthy path
        never pays for it."""
        if self._scan_index is None:
            idx: dict[int, list[int]] = {}
            for m in re.finditer(rb"(?:^|[\r\n])(\d+)\s+(\d+)\s+obj\b", self.data):
                idx.setdefault(int(m.group(1)), []).append(m.start(1))
            self._scan_index = idx
        return self._scan_index

    def _salvage_scan(self) -> None:
        """Full xref reconstruction: adopt the scan index as the offset
        table, recover the trailer from the last parseable ``trailer``
        dict, and register objects packed in any /Type /ObjStm found."""
        self._salvaged = True
        self.offsets = {num: offs[-1] for num, offs in self._scan_objects().items()}
        self._freed = set()  # a rebuilt table supersedes any freed marks
        for m in re.finditer(rb"trailer", self.data):
            try:
                trailer, _ = _parse_value(self.data, m.end())
            except _BadPdf:
                continue
            if isinstance(trailer, dict) and "Root" in trailer:
                self.trailer = dict(trailer)  # last parseable wins
        self._register_scanned_objstms()

    def _register_scanned_objstms(self) -> None:
        for num, off in list(self.offsets.items()):
            # cheap pre-filter: only objects whose header region mentions
            # /ObjStm get the full parse
            if not _OBJSTM_RE.search(self.data, off, min(off + 512, len(self.data))):
                continue
            try:
                entries = self._load_objstm(num)
            except (_BadPdf, zlib.error, ValueError):
                continue
            for idx, (onum, _) in enumerate(entries):
                if onum not in self.offsets:
                    self.in_objstm.setdefault(onum, (num, idx))

    def _salvage_root(self) -> None:
        """No usable /Root in any trailer: find the document catalog by
        object scan (``/Type /Catalog``) — top-level objects first, then
        objects packed inside scanned /ObjStm streams (modern writers put
        the catalog there)."""
        for num in sorted(self._scan_objects()):
            try:
                val, _ = self._parse_numbered(num)
            except _BadPdf:
                continue
            if isinstance(val, dict) and val.get("Type") == "Catalog":
                self.trailer["Root"] = Ref(num, 0)
                return
        for num in sorted(self.in_objstm):
            try:
                val = self.get(Ref(num, 0))
            except _BadPdf:
                continue
            if isinstance(val, dict) and val.get("Type") == "Catalog":
                self.trailer["Root"] = Ref(num, 0)
                return
        raise _BadPdf("salvage found no catalog")

    # -- xref ------------------------------------------------------------

    def _read_xref_chain(self) -> None:
        tail = self.data[-2048:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if not m:
            raise _BadPdf("no startxref")
        offset = int(m.group(1))
        seen: set[int] = set()
        while offset not in seen:
            seen.add(offset)
            offset = self._read_xref_section(offset)
            if offset < 0:
                break

    def _known(self, num: int) -> bool:
        return num in self.offsets or num in self.in_objstm or num in self._freed

    def _add_type1(self, num: int, off: int) -> None:
        if not self._known(num):
            self.offsets[num] = off

    def _add_type2(self, num: int, stm: int, idx: int) -> None:
        if not self._known(num):
            self.in_objstm[num] = (stm, idx)

    def _add_free(self, num: int) -> None:
        """A FREE (type-0 / 'f') entry is authoritative: first-seen wins on
        the newest-to-oldest chain walk, and a freed object must resolve to
        null — the scan-index fallback must NOT resurrect its stale body."""
        if not self._known(num):
            self._freed.add(num)

    def _read_xref_section(self, offset: int) -> int:
        """Parse one xref section (classic table or xref stream) at
        ``offset``; merge entries (first-seen wins — the chain walks newest
        to oldest); return the /Prev offset or -1."""
        data = self.data
        i = _skip_ws(data, offset)
        if data.startswith(b"xref", i):
            i += 4
            while True:
                i = _skip_ws(data, i)
                if data.startswith(b"trailer", i):
                    trailer, _ = _parse_value(data, i + 7)
                    if not self.trailer:
                        self.trailer = dict(trailer)
                    prev = trailer.get("Prev", -1)
                    # hybrid file: /XRefStm points at an xref STREAM whose
                    # entries fill in what this table marks free
                    xs = trailer.get("XRefStm")
                    if isinstance(xs, int):
                        self._read_xref_section(xs)
                    return int(prev) if isinstance(prev, int) else -1
                sm = re.compile(rb"(\d+)\s+(\d+)").match(data, i)
                if not sm:
                    raise _BadPdf(f"bad xref subsection at {i}")
                start, count = int(sm.group(1)), int(sm.group(2))
                i = _skip_ws(data, sm.end())
                for k in range(count):
                    em = re.compile(rb"(\d{10})\s+(\d{5})\s+([nf])\s*").match(data, i)
                    if not em:
                        raise _BadPdf(f"bad xref entry at {i}")
                    if em.group(3) == b"n":
                        self._add_type1(start + k, int(em.group(1)))
                    else:
                        self._add_free(start + k)
                    i = em.end()
            # unreachable
        # PDF 1.5 xref stream
        num, obj, raw = self._parse_indirect_at(offset)
        if not isinstance(obj, dict) or raw is None:
            raise _BadPdf(f"xref section at {offset} is neither table nor stream")
        decoded = self._decode_stream_obj(obj, raw)
        w = obj.get("W")
        if not (isinstance(w, list) and len(w) >= 3):
            raise _BadPdf("xref stream missing /W")
        w0, w1, w2 = (int(x) for x in w[:3])
        size = int(obj.get("Size", 0))
        index = obj.get("Index", [0, size])
        rowlen = w0 + w1 + w2
        pos = 0

        def field(row: bytes, a: int, b: int) -> int:
            return int.from_bytes(row[a:b], "big") if b > a else 0

        pairs = [(int(index[k]), int(index[k + 1])) for k in range(0, len(index) - 1, 2)]
        for first, count in pairs:
            for k in range(count):
                row = decoded[pos : pos + rowlen]
                pos += rowlen
                if len(row) < rowlen:
                    break
                ftype = field(row, 0, w0) if w0 else 1
                f2 = field(row, w0, w0 + w1)
                f3 = field(row, w0 + w1, rowlen)
                if ftype == 1:
                    self._add_type1(first + k, f2)
                elif ftype == 2:
                    self._add_type2(first + k, f2, f3)
                elif ftype == 0:
                    self._add_free(first + k)
        if not self.trailer:
            # an xref STREAM's dict doubles as the trailer — /Encrypt and
            # /ID must come along or encrypted PDF 1.5+ files (the
            # overwhelming real-world encrypted layout) never set up keys
            self.trailer = {
                k: v
                for k, v in obj.items()
                if k in ("Root", "Info", "Size", "Encrypt", "ID")
            }
        prev = obj.get("Prev", -1)
        return int(prev) if isinstance(prev, int) else -1

    # -- objects ---------------------------------------------------------

    def _parse_indirect_at(self, offset: int) -> tuple[int, object, bytes | None]:
        """Parse ``N G obj <value> [stream ... endstream] endobj`` at a byte
        offset; returns (objnum, value, raw_stream_or_None). Stream extent
        comes from /Length (indirect refs resolved), with an ``endstream``
        scan as the repair path for wrong lengths."""
        data = self.data
        m = re.compile(rb"(\d+)\s+(\d+)\s+obj\b").match(data, _skip_ws(data, offset))
        if not m:
            raise _BadPdf(f"no obj header at {offset}")
        num = int(m.group(1))
        val, i = _parse_value(data, m.end())
        i = _skip_ws(data, i)
        raw: bytes | None = None
        if data.startswith(b"stream", i):
            i += 6
            if data.startswith(b"\r\n", i):
                i += 2
            elif data.startswith(b"\n", i) or data.startswith(b"\r", i):
                i += 1
            length = None
            if isinstance(val, dict):
                length = val.get("Length")
                if isinstance(length, Ref):
                    length = self.get(length)
            if isinstance(length, int) and 0 <= length <= len(data) - i:
                end = i + length
                if re.compile(rb"\s*endstream").match(data, end):
                    raw = data[i:end]
            if raw is None:  # repair: scan for the terminator
                e = data.find(b"endstream", i)
                if e < 0:
                    raise _BadPdf(f"unterminated stream in obj {num}")
                raw = data[i:e].rstrip(b"\r\n")
        # decryption layer sits UNDER the filters (file bytes are
        # Encrypt(FilterEncode(data)), §7.6.2); xref streams and the
        # /Encrypt dictionary itself are never encrypted
        if self._file_key is not None and num != self._encrypt_num:
            if not (isinstance(val, dict) and val.get("Type") == "XRef"):
                gen = int(m.group(2))
                val = self._decrypt_value(val, num, gen)
                if raw is not None:
                    raw = self._decrypt_bytes(num, gen, raw)
        return num, val, raw

    def _decode_stream_obj(self, obj: dict, raw: bytes) -> bytes:
        filt = obj.get("Filter")
        if isinstance(filt, Ref):
            filt = self.get(filt)
        if filt is None:
            return raw
        filters = [filt] if isinstance(filt, Name) else list(filt)
        parms = obj.get("DecodeParms", obj.get("DP"))
        if isinstance(parms, Ref):
            parms = self.get(parms)
        if parms is None or isinstance(parms, dict):
            parms_list: list = [parms] * len(filters)
        else:
            parms_list = list(parms) + [None] * (len(filters) - len(parms))
        data = raw
        for f, p in zip(filters, parms_list):
            if isinstance(p, Ref):
                p = self.get(p)
            data = _apply_one_filter(data, str(f), p if isinstance(p, dict) else None)
        return data

    def _parse_numbered(self, num: int) -> tuple[object, bytes | None]:
        """Parse object ``num`` at its recorded offset, healing through the
        scan index when the offset is wrong (points at nothing, or at a
        different object) — the garbled-incremental-save case. Scan
        candidates are tried newest-first."""
        rec = self.offsets.get(num)
        if rec is not None:
            # healthy path: the recorded offset resolves — no scan built
            try:
                onum, val, raw = self._parse_indirect_at(rec)
                if onum == num:
                    return val, raw
            except _BadPdf:
                pass
        for cand in reversed(self._scan_objects().get(num, [])):
            if cand == rec:
                continue
            try:
                onum, val, raw = self._parse_indirect_at(cand)
            except _BadPdf:
                continue
            if onum == num:
                return val, raw
        raise _BadPdf(f"object {num} not found by xref or scan")

    def _load_objstm(self, stm_num: int) -> list[tuple[int, object]]:
        if stm_num in self._objstm_cache:
            return self._objstm_cache[stm_num]
        obj, raw = self._parse_numbered(stm_num)
        if not isinstance(obj, dict) or raw is None:
            raise _BadPdf(f"objstm {stm_num} malformed")
        decoded = self._decode_stream_obj(obj, raw)
        n = int(obj.get("N", 0))
        first = int(obj.get("First", 0))
        header = decoded[:first].split()
        out: list[tuple[int, object]] = []
        for k in range(n):
            onum = int(header[2 * k])
            ooff = int(header[2 * k + 1])
            val, _ = _parse_value(decoded, first + ooff)
            out.append((onum, val))
        self._objstm_cache[stm_num] = out
        return out

    def get(self, v: object) -> object:
        """Resolve ``v`` if it is a Ref (recursively for chained refs);
        plain values pass through."""
        while isinstance(v, Ref):
            num = v.num
            if num in self._cache:
                v = self._cache[num]
                continue
            if num in self.offsets:
                try:
                    val, raw = self._parse_numbered(num)
                except _BadPdf:
                    val, raw = None, None
                if raw is not None and isinstance(val, dict):
                    val = _StreamObj(val, raw, self)
            elif num in self.in_objstm:
                stm, idx = self.in_objstm[num]
                entries = self._load_objstm(stm)
                val = None
                if 0 <= idx < len(entries) and entries[idx][0] == num:
                    val = entries[idx][1]
                else:  # index mismatch — search by object number
                    for onum, ov in entries:
                        if onum == num:
                            val = ov
                            break
            elif num in self._freed:
                # explicitly freed by the (healthy) xref chain: spec-null —
                # never resurrect the stale body through the scan index
                val = None
            elif self._salvaged:
                # absent from the xref entirely — salvage via the scan index
                try:
                    val, raw = self._parse_numbered(num)
                    if raw is not None and isinstance(val, dict):
                        val = _StreamObj(val, raw, self)
                except _BadPdf:
                    val = None
            else:
                # a HEALTHY file with a dangling reference (common in real
                # PDFs): spec-null, without paying for the O(file-size)
                # scan index a damaged file would justify (round-7 ADVICE)
                val = None
            self._cache[num] = val
            v = val
        return v


class _StreamObj:
    """An indirect object that carries a stream: dict access + lazy decode."""

    __slots__ = ("dict", "_raw", "_doc", "_decoded")

    def __init__(self, d: dict, raw: bytes, doc: PdfDoc):
        self.dict, self._raw, self._doc = d, raw, doc
        self._decoded: bytes | None = None

    def decoded(self) -> bytes:
        if self._decoded is None:
            self._decoded = self._doc._decode_stream_obj(self.dict, self._raw)
        return self._decoded


# ---- ToUnicode CMaps -----------------------------------------------------

_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_HEXTOK_RE = re.compile(rb"<([0-9A-Fa-f\s]*)>")


def _utf16be(b: bytes) -> str:
    try:
        return b.decode("utf-16-be")
    except UnicodeDecodeError:
        return b.decode("utf-16-be", errors="ignore")


def parse_tounicode(cmap_bytes: bytes) -> dict[bytes, str]:
    """Parse a /ToUnicode CMap: ``bfchar`` pairs and ``bfrange`` runs (both
    the ``<lo> <hi> <dst>`` and ``<lo> <hi> [<d1> ...]`` forms). Keys are
    raw source-code byte strings (usually 2 bytes for Identity-H)."""
    out: dict[bytes, str] = {}
    for m in _BFCHAR_RE.finditer(cmap_bytes):
        toks = _HEXTOK_RE.findall(m.group(1))
        for k in range(0, len(toks) - 1, 2):
            src = _decode_hex(toks[k])
            out[src] = _utf16be(_decode_hex(toks[k + 1]))
    for m in _BFRANGE_RE.finditer(cmap_bytes):
        body = m.group(1)
        i = 0
        pat_hex = re.compile(rb"\s*<([0-9A-Fa-f\s]*)>")
        pat_arr = re.compile(rb"\s*\[((?:\s*<[0-9A-Fa-f\s]*>)*)\s*\]")
        while True:
            m1 = pat_hex.match(body, i)
            if not m1:
                break
            m2 = pat_hex.match(body, m1.end())
            if not m2:
                break
            lo, hi = _decode_hex(m1.group(1)), _decode_hex(m2.group(1))
            width = len(lo)
            lo_i = int.from_bytes(lo, "big")
            hi_i = int.from_bytes(hi, "big")
            m3a = pat_arr.match(body, m2.end())
            if m3a:
                dsts = _HEXTOK_RE.findall(m3a.group(1))
                for k, code in enumerate(range(lo_i, hi_i + 1)):
                    if k < len(dsts):
                        out[code.to_bytes(width, "big")] = _utf16be(_decode_hex(dsts[k]))
                i = m3a.end()
            else:
                m3 = pat_hex.match(body, m2.end())
                if not m3:
                    break
                dst0 = int.from_bytes(_decode_hex(m3.group(1)), "big")
                dwidth = max(2, len(_decode_hex(m3.group(1))))
                for k, code in enumerate(range(lo_i, hi_i + 1)):
                    out[code.to_bytes(width, "big")] = _utf16be(
                        (dst0 + k).to_bytes(dwidth, "big")
                    )
                i = m3.end()
    return out


# ---- simple-font encodings (round 7) --------------------------------------
# ISO 32000-1 Annex D: StandardEncoding / WinAnsiEncoding byte→char tables
# plus the Adobe-Glyph-List subset needed to resolve /Differences names.

# glyph name → unicode char (AGL subset: ASCII, WinAnsi extras, Latin-1
# letters common in pt-BR text). Letters/digits first, punctuation below.
_AGL: dict[str, str] = {c: c for c in
                        "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"}
_AGL.update(
    zip(
        ("zero one two three four five six seven eight nine").split(),
        "0123456789",
    )
)
_AGL.update(
    {
        "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
        "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
        "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
        "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
        "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
        "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
        "backslash": "\\", "bracketright": "]", "asciicircum": "^",
        "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
        "braceright": "}", "asciitilde": "~",
        # Standard/WinAnsi high-half names
        "quoteleft": "‘", "quoteright": "’",
        "quotedblleft": "“", "quotedblright": "”",
        "quotesinglbase": "‚", "quotedblbase": "„",
        "endash": "–", "emdash": "—", "bullet": "•",
        "dagger": "†", "daggerdbl": "‡", "ellipsis": "…",
        "perthousand": "‰", "guilsinglleft": "‹",
        "guilsinglright": "›", "guillemotleft": "«",
        "guillemotright": "»", "fi": "ﬁ", "fl": "ﬂ",
        "florin": "ƒ", "fraction": "⁄", "currency": "¤",
        "cent": "¢", "sterling": "£", "yen": "¥",
        "section": "§", "paragraph": "¶",
        "periodcentered": "·", "exclamdown": "¡",
        "questiondown": "¿", "Euro": "€", "trademark": "™",
        "copyright": "©", "registered": "®", "degree": "°",
        "plusminus": "±", "mu": "µ", "OE": "Œ",
        "oe": "œ", "Scaron": "Š", "scaron": "š",
        "Zcaron": "Ž", "zcaron": "ž", "Ydieresis": "Ÿ",
        "circumflex": "ˆ", "tilde": "˜", "germandbls": "ß",
        "AE": "Æ", "ae": "æ", "Oslash": "Ø",
        "oslash": "ø", "Lslash": "Ł", "lslash": "ł",
        "dotlessi": "ı", "ordfeminine": "ª",
        "ordmasculine": "º",
        # Latin-1 accented letters (pt-BR set, both cases)
        "Agrave": "À", "Aacute": "Á", "Acircumflex": "Â",
        "Atilde": "Ã", "Adieresis": "Ä", "Ccedilla": "Ç",
        "Egrave": "È", "Eacute": "É", "Ecircumflex": "Ê",
        "Edieresis": "Ë", "Igrave": "Ì", "Iacute": "Í",
        "Icircumflex": "Î", "Idieresis": "Ï",
        "Ntilde": "Ñ", "Ograve": "Ò", "Oacute": "Ó",
        "Ocircumflex": "Ô", "Otilde": "Õ", "Odieresis": "Ö",
        "Ugrave": "Ù", "Uacute": "Ú", "Ucircumflex": "Û",
        "Udieresis": "Ü", "agrave": "à", "aacute": "á",
        "acircumflex": "â", "atilde": "ã", "adieresis": "ä",
        "ccedilla": "ç", "egrave": "è", "eacute": "é",
        "ecircumflex": "ê", "edieresis": "ë", "igrave": "ì",
        "iacute": "í", "icircumflex": "î", "idieresis": "ï",
        "ntilde": "ñ", "ograve": "ò", "oacute": "ó",
        "ocircumflex": "ô", "otilde": "õ", "odieresis": "ö",
        "ugrave": "ù", "uacute": "ú", "ucircumflex": "û",
        "udieresis": "ü",
    }
)

# WinAnsiEncoding: Latin-1 with the CP1252 0x80–0x9F block
_WINANSI: dict[int, str] = {c: chr(c) for c in range(0x20, 0x7F)}
_WINANSI.update({c: chr(c) for c in range(0xA0, 0x100)})
_WINANSI.update(
    {
        0x80: "€", 0x82: "‚", 0x83: "ƒ", 0x84: "„",
        0x85: "…", 0x86: "†", 0x87: "‡", 0x88: "ˆ",
        0x89: "‰", 0x8A: "Š", 0x8B: "‹", 0x8C: "Œ",
        0x8E: "Ž", 0x91: "‘", 0x92: "’", 0x93: "“",
        0x94: "”", 0x95: "•", 0x96: "–", 0x97: "—",
        0x98: "˜", 0x99: "™", 0x9A: "š", 0x9B: "›",
        0x9C: "œ", 0x9E: "ž", 0x9F: "Ÿ",
    }
)

# MacRomanEncoding (Annex D): stdlib 'mac_roman' covers the table except
# two PDF-spec divergences — Annex D keeps the PRE-Mac-OS-8.5 currency
# sign at 0xDB (the codec gives the euro that replaced it), and 0xF0
# (the Apple logo) is not an Annex D glyph at all (notdef).
_MACROMAN: dict[int, str] = {
    c: bytes([c]).decode("mac_roman") for c in range(0x20, 0x100)
}
_MACROMAN[0xDB] = "¤"
del _MACROMAN[0xF0]

# StandardEncoding: ASCII except the typographic quotes, plus Annex D's
# high half (ligatures, accents-as-spacing-chars, old-style punctuation)
_STANDARD: dict[int, str] = {c: chr(c) for c in range(0x20, 0x7F)}
_STANDARD.update({0x27: "’", 0x60: "‘"})
_STANDARD.update(
    {
        0xA1: "¡", 0xA2: "¢", 0xA3: "£", 0xA4: "⁄",
        0xA5: "¥", 0xA6: "ƒ", 0xA7: "§", 0xA8: "¤",
        0xA9: "'", 0xAA: "“", 0xAB: "«", 0xAC: "‹",
        0xAD: "›", 0xAE: "ﬁ", 0xAF: "ﬂ", 0xB1: "–",
        0xB2: "†", 0xB3: "‡", 0xB4: "·", 0xB6: "¶",
        0xB7: "•", 0xB8: "‚", 0xB9: "„", 0xBA: "”",
        0xBB: "»", 0xBC: "…", 0xBD: "‰", 0xBF: "¿",
        0xC1: "`", 0xC2: "´", 0xC3: "ˆ", 0xC4: "˜",
        0xC5: "¯", 0xC6: "˘", 0xC7: "˙", 0xC8: "¨",
        0xCA: "˚", 0xCB: "¸", 0xCD: "˝", 0xCE: "˛",
        0xCF: "ˇ", 0xD0: "—", 0xE1: "Æ", 0xE3: "ª",
        0xE8: "Ł", 0xE9: "Ø", 0xEA: "Œ", 0xEB: "º",
        0xF1: "æ", 0xF5: "ı", 0xF8: "ł", 0xF9: "ø",
        0xFA: "œ", 0xFB: "ß",
    }
)


def _simple_font_cmap(doc: "PdfDoc", fobj: dict) -> dict[bytes, str] | None:
    """Byte→char map for a simple (1-byte) font with an explicit
    ``/Encoding``: a base table (WinAnsi or Standard) overlaid with the
    ``/Differences`` array (``[code /name /name code /name ...]`` —
    integers reset the code counter, names assign consecutive codes).
    Returned in the same shape as a ToUnicode cmap (1-byte keys) so
    ``_decode_shown`` handles both uniformly. ``None`` when the font has
    no ``/Encoding`` (the legacy Latin-1 path)."""
    enc = doc.get(fobj.get("Encoding"))
    if isinstance(enc, _StreamObj):
        enc = enc.dict
    if enc is None:
        return None
    diffs: object = None
    _BASES = ("WinAnsiEncoding", "StandardEncoding", "MacRomanEncoding")
    if isinstance(enc, Name):
        base_name = str(enc)
        if base_name not in _BASES:
            # Identity-H (a Type0 whose ToUnicode failed), MacExpert, or
            # a custom name: routing through the wrong table would
            # silently DROP bytes — keep the latin-1 fallback path instead
            return None
    elif isinstance(enc, dict):
        base = doc.get(enc.get("BaseEncoding"))
        base_name = str(base) if isinstance(base, Name) else ""
        diffs = doc.get(enc.get("Differences"))
        if base_name not in _BASES and not isinstance(diffs, list):
            return None
    else:
        return None
    if "WinAnsi" in base_name:
        table = dict(_WINANSI)
    elif "Standard" in base_name:
        table = dict(_STANDARD)
    elif "MacRoman" in base_name:
        table = dict(_MACROMAN)
    else:
        # unknown/absent base with a /Differences overlay: approximate the
        # font's built-in encoding with latin-1 (the pre-round-7 fallback)
        # so un-overridden bytes keep their old decoding instead of
        # disappearing through a wrong named table
        table = {c: chr(c) for c in range(0x20, 0x100)}
    if isinstance(diffs, list):
        code = 0
        for item in diffs:
            item = doc.get(item)
            if isinstance(item, (int, float)):
                code = int(item)
            elif isinstance(item, Name):
                ch = _AGL.get(str(item))
                if ch is None:
                    table.pop(code, None)  # unresolvable glyph → notdef
                else:
                    table[code] = ch
                code += 1
    return {bytes([c]): ch for c, ch in table.items()}


def _decode_shown(raw: bytes, cmap: dict[bytes, str] | None) -> str:
    """Decode one shown string: through the font's ToUnicode CMap when
    present (greedy longest-code match); else UTF-16BE when BOM-prefixed
    (the PDF text-string convention for non-Latin content, §7.9.2.2);
    else Latin-1 (PDFDocEncoding-compatible for the printable range)."""
    if not cmap:
        if raw[:2] == b"\xfe\xff":
            return _utf16be(raw[2:])
        return raw.decode("latin-1", errors="ignore")
    widths = sorted({len(k) for k in cmap}, reverse=True) or [1]
    out: list[str] = []
    i, n = 0, len(raw)
    while i < n:
        for w in widths:
            piece = raw[i : i + w]
            if piece in cmap:
                out.append(cmap[piece])
                i += w
                break
        else:
            i += widths[-1] if widths[-1] <= n - i else 1
    return "".join(out)


# ---- content-stream tokenizer -------------------------------------------

_NUM_RE = re.compile(rb"[+-]?(?:\d+\.\d*|\.\d+|\d+)")
_OP_RE = re.compile(rb"[A-Za-z'\"*]{1,3}")
# inline-image terminators (see the BI handler): boundary-anchored first,
# trailing-delimiter-only fallback — module-level so the tokenizer loop
# never recompiles them (round-8 review)
_EI_BOUNDED_RE = re.compile(rb"[\x00\t\n\x0c\r ]EI(?=[\x00\t\n\x0c\r ]|$)")
_EI_TRAILING_RE = re.compile(rb"EI(?=[\x00\t\n\x0c\r ]|$)")


def _content_text(stream: bytes, fonts: dict[str, dict[bytes, str] | None]) -> str:
    """Token-level walk of a content stream with Tf font tracking. Emits
    the same layout as the legacy sweep (`_stream_text`): every Td/TD/T*
    is a line break, ' and " break before showing, newline bursts collapse."""
    pieces: list[str] = []
    operands: list[object] = []
    cur_cmap: dict[bytes, str] | None = None
    i, n = 0, len(stream)

    def show(raw: object) -> None:
        if isinstance(raw, bytes):
            pieces.append(_decode_shown(raw, cur_cmap))

    while i < n:
        i = _skip_ws(stream, i)
        if i >= n:
            break
        c = stream[i]
        if c == 0x28:  # literal string
            s, i = _parse_literal_string(stream, i + 1)
            operands.append(s)
        elif stream.startswith(b"<<", i):
            d, i = _parse_value(stream, i)
            operands.append(d)
        elif c == 0x3C:  # hex string
            j = stream.find(b">", i + 1)
            if j < 0:
                break
            operands.append(_decode_hex(stream[i + 1 : j]))
            i = j + 1
        elif c == 0x5B:  # array
            a, i = _parse_value(stream, i)
            operands.append(a)
        elif c == 0x2F:  # name
            nm, i = _parse_name(stream, i + 1)
            operands.append(nm)
        else:
            m = _NUM_RE.match(stream, i)
            if m:
                tok = m.group(0)
                operands.append(float(tok) if b"." in tok else int(tok))
                i = m.end()
                continue
            m = _OP_RE.match(stream, i)
            if not m:
                i += 1
                continue
            op = m.group(0)
            i = m.end()
            if op == b"Tf" and len(operands) >= 2 and isinstance(operands[-2], Name):
                cur_cmap = fonts.get(str(operands[-2]))
            elif op == b"Tj":
                if operands:
                    show(operands[-1])
            elif op == b"'":
                pieces.append("\n")
                if operands:
                    show(operands[-1])
            elif op == b'"':
                pieces.append("\n")
                if operands:
                    show(operands[-1])
            elif op == b"TJ" and operands and isinstance(operands[-1], list):
                for it in operands[-1]:
                    if isinstance(it, bytes):
                        show(it)
                    elif isinstance(it, (int, float)) and it < -150:
                        pieces.append(" ")
            elif op in (b"Td", b"TD", b"T*"):
                pieces.append("\n")
            elif op == b"BI":  # inline image — skip past binary data to EI
                # "EI" must sit at a token boundary (whitespace on both
                # sides, or EOF after): raw image bytes legally contain
                # the two-byte sequence "EI", and cutting there would
                # resume tokenizing inside pixel data (spec §8.9.7 —
                # readers detect the terminator contextually)
                m_ei = _EI_BOUNDED_RE.search(stream, i)
                if m_ei is not None:
                    i = m_ei.end()
                else:
                    # the spec does not MANDATE a whitespace byte before
                    # EI — a stream ending "...dataEI" has no boundary
                    # match, and skipping to EOF would silently drop all
                    # text after the image; fall back to a relaxed scan
                    # that still requires the TRAILING delimiter (EI
                    # followed by whitespace or EOF), so in-data "EI"
                    # bytes mid-payload don't resume tokenizing inside
                    # pixel data (round-7 ADVICE + round-8 review)
                    m_ei = _EI_TRAILING_RE.search(stream, i)
                    i = n if m_ei is None else m_ei.end()
            operands = []
            continue
    text = "".join(pieces)
    return re.sub(r"\n{2,}", "\n", text).strip("\n")


def _walk_pages(doc: PdfDoc, node: object, inherited_res: object, out: list[tuple[dict, object]], depth: int = 0) -> None:
    """Depth-first page-tree walk collecting (page_dict, resources)."""
    if depth > 64:
        raise _BadPdf("page tree too deep")
    node = doc.get(node)
    if isinstance(node, _StreamObj):
        node = node.dict
    if not isinstance(node, dict):
        return
    res = node.get("Resources", inherited_res)
    t = node.get("Type")
    if t == "Page" or (t is None and "Contents" in node):
        out.append((node, res))
        return
    kids = doc.get(node.get("Kids"))
    if isinstance(kids, list):
        for kid in kids:
            _walk_pages(doc, kid, res, out, depth + 1)


def _page_fonts(doc: PdfDoc, resources: object) -> dict[str, dict[bytes, str] | None]:
    """Resolve the page's /Font resource dict to {font_name: cmap|None}."""
    fonts: dict[str, dict[bytes, str] | None] = {}
    resources = doc.get(resources)
    if isinstance(resources, _StreamObj):
        resources = resources.dict
    if not isinstance(resources, dict):
        return fonts
    fdict = doc.get(resources.get("Font"))
    if not isinstance(fdict, dict):
        return fonts
    for fname, fref in fdict.items():
        fobj = doc.get(fref)
        if isinstance(fobj, _StreamObj):
            fobj = fobj.dict
        cmap = None
        if isinstance(fobj, dict):
            tu = doc.get(fobj.get("ToUnicode"))
            if isinstance(tu, _StreamObj):
                try:
                    cmap = parse_tounicode(tu.decoded())
                except Exception:
                    cmap = None
            if cmap is None:
                # simple font with an explicit /Encoding (WinAnsi/Standard
                # base + /Differences) — the most common real-world text
                # path after ToUnicode
                try:
                    cmap = _simple_font_cmap(doc, fobj)
                except Exception:
                    cmap = None
        fonts[fname] = cmap
    return fonts


def extract_text_structured(
    content: bytes, password: bytes | str = b""
) -> tuple[str, int]:
    """Full structural extraction: xref chain → /Root → page tree →
    per-page decoded content (arrays concatenated) → text with font-aware
    string decoding. Raises ``_BadPdf`` on structural failure (the public
    ``extract_text`` catches it and falls back to the sweep).
    ``password``: user password for encrypted documents (default empty)."""
    doc = PdfDoc(content, password=password)
    root = doc.get(self_ref := doc.trailer.get("Root"))
    if isinstance(root, _StreamObj):
        root = root.dict
    if not isinstance(root, dict):
        raise _BadPdf(f"no /Root catalog (trailer Root={self_ref!r})")
    pages: list[tuple[dict, object]] = []
    _walk_pages(doc, root.get("Pages"), None, pages)
    if not pages:
        raise _BadPdf("page tree has no pages")
    texts: list[str] = []
    for page, res in pages:
        contents = doc.get(page.get("Contents"))
        chunks: list[bytes] = []
        items = contents if isinstance(contents, list) else [contents]
        for item in items:
            item = doc.get(item)
            if isinstance(item, _StreamObj):
                try:
                    chunks.append(item.decoded())
                except (_BadPdf, zlib.error, ValueError):
                    continue  # one bad stream must not kill the page
        if not chunks:
            continue
        fonts = _page_fonts(doc, res)
        t = _content_text(b"\n".join(chunks), fonts)
        if t:
            texts.append(t)
    return "\n".join(texts), len(pages)


def extract_text(content: bytes, password: bytes | str = b"") -> tuple[str, int]:
    """Best-effort (text, page_count) from raw PDF bytes.

    Tries the structural parser first (real xref/page-tree/filter/CMap
    handling); any structural failure falls back to the regex sweep over
    object bodies, so malformed input degrades instead of erroring. Never
    raises: a PDF with no extractable text yields ``("", 1)``.
    ``password``: user password for encrypted documents (default empty;
    a wrong password degrades to the sweep, which extracts nothing from
    ciphertext — never garbage text).
    """
    try:
        return extract_text_structured(content, password=password)
    except Exception:
        pass
    bodies = _expand_objects(content)
    pages = 0
    texts: list[str] = []
    for body in bodies:
        pages += len(_PAGE_RE.findall(body[:2000]))
        decoded = _decode_stream(body)
        if decoded is None:
            continue
        # treat any stream containing text-block markers as a content stream
        if b"BT" in decoded and b"ET" in decoded:
            t = _stream_text(decoded)
            if t:
                texts.append(t)
    return "\n".join(texts), max(pages, 1)


def _show_simple(ln: str, esc) -> str:
    """One Tj show for a simple (Latin-1) font line. A line whose first
    two chars are U+00FE U+00FF cannot be written as Latin-1 literal
    bytes: 0xFE 0xFF IS the UTF-16BE byte-order mark, so a conforming
    reader (including our extractor, §7.9.2.2) must decode the rest of
    the string as UTF-16 — the Latin-1 reading of such bytes is simply
    not representable. Per the spec's text-string rules the line is
    emitted as an explicit UTF-16BE hex string (BOM + UTF-16BE code
    units), which round-trips exactly. Found by hypothesis: pages=[['þÿ']]
    extracted as ''."""
    if ln.startswith("\xfe\xff"):
        raw = b"\xfe\xff" + ln.encode("utf-16-be")
        return f"<{raw.hex().upper()}> Tj"
    return f"({esc(ln)}) Tj"


def write_pdf(pages: list[list[str]], compress: bool = True) -> bytes:
    """Minimal spec-conformant PDF WRITER (catalog → pages → one content
    stream per page, each line shown with ``Tj``/``T*``; streams
    FlateDecode-compressed when ``compress``). Independent of the extractor
    above — it emits standard PDF 1.4 structures, so round-tripping
    write→extract exercises the real parse path, and the unit tests in
    tests/test_pdf_source.py additionally pin the extractor against
    hand-built hex/TJ/ObjStm/escape fixtures the writer never produces.
    Used by the fixture layer and by the declared q_pdf_extract query."""

    def esc(s: str) -> str:
        # control chars must use PDF escape sequences — a raw newline inside
        # a literal string would be merged with Td/T* line breaks by the
        # extractor's newline collapse, breaking write→extract round-trips
        out = (
            s.replace("\\", r"\\")
            .replace("(", r"\(")
            .replace(")", r"\)")
            .replace("\n", r"\n")
            .replace("\r", r"\r")
            .replace("\t", r"\t")
            .replace("\x08", r"\b")
            .replace("\x0c", r"\f")
        )
        # any remaining control char gets a 3-digit octal escape — nothing
        # below 0x20 may reach a literal string raw (ADVICE round 5)
        return "".join(
            ch if ord(ch) >= 0x20 else "\\%03o" % ord(ch) for ch in out
        )

    objects: list[bytes] = []
    n_pages = len(pages)
    kid_ids = [3 + 2 * i for i in range(n_pages)]
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")  # obj 1
    kids = " ".join(f"{k} 0 R" for k in kid_ids)
    objects.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )  # obj 2
    font_id = 3 + 2 * n_pages
    for i, lines in enumerate(pages):
        content_id = kid_ids[i] + 1
        objects.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Contents {content_id} 0 R "
                f"/Resources << /Font << /F1 {font_id} 0 R >> >> >>"
            ).encode()
        )
        shows = " T* ".join(_show_simple(ln, esc) for ln in lines)
        stream = f"BT /F1 12 Tf 72 720 Td {shows} ET".encode("latin-1")
        if compress:
            data = zlib.compress(stream)
            head = f"<< /Length {len(data)} /Filter /FlateDecode >>".encode()
        else:
            data = stream
            head = f"<< /Length {len(data)} >>".encode()
        objects.append(head + b"\nstream\n" + data + b"\nendstream")
    objects.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")

    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for num, body in enumerate(objects, start=1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objects) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objects) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


# =========================================================================
# Adversarial fixture writer (round 6): exercises every structural feature
# the structured parser supports — xref streams (PNG Up predictor), object
# streams, filter chains, indirect /Length, CID fonts with ToUnicode CMaps,
# split /Contents arrays. Pure-stdlib encoders mirror the decoders above.
# =========================================================================


def _hex_encode(data: bytes) -> bytes:
    # wrapped to 64 cols so whitespace-in-hex handling is exercised too
    h = data.hex().upper().encode()
    return b"\n".join(h[i : i + 64] for i in range(0, len(h), 64)) + b">"


def _a85_encode(data: bytes) -> bytes:
    import base64

    enc = base64.a85encode(data, adobe=True)  # b"<~....~>"
    return enc[2:]  # PDF streams carry only the trailing ~> EOD


def _rl_encode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        # find run length of identical bytes
        j = i + 1
        while j < n and j - i < 128 and data[j] == data[i]:
            j += 1
        if j - i >= 3:
            out.append(257 - (j - i))
            out.append(data[i])
            i = j
        else:
            # literal run up to 128 bytes, stopping before a >=3 repeat
            k = i
            while k < n and k - i < 128:
                if k + 2 < n and data[k] == data[k + 1] == data[k + 2]:
                    break
                k += 1
            out.append(k - i - 1)
            out += data[i:k]
            i = k
    out.append(128)  # EOD
    return bytes(out)


def _lzw_encode(data: bytes, early_change: int = 1) -> bytes:
    out = bytearray()
    bitbuf = nbits = 0

    def emit(code: int, bits: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf = (bitbuf << bits) | code
        nbits += bits
        while nbits >= 8:
            out.append((bitbuf >> (nbits - 8)) & 0xFF)
            nbits -= 8
        bitbuf &= (1 << nbits) - 1

    def reset() -> tuple[dict[bytes, int], int, int]:
        return {bytes([k]): k for k in range(256)}, 258, 9

    table, next_code, bits = reset()
    emit(256, bits)  # clear
    w = b""
    for ch in data:
        cb = bytes([ch])
        wc = w + cb
        if wc in table:
            w = wc
            continue
        emit(table[w], bits)
        table[wc] = next_code
        next_code += 1
        # width-sync pairing (pdfminer-compatible): decoder widens after
        # its table reaches (1<<bits)-early; its table lags this one by
        # exactly one entry, so widen when next_code EXCEEDS that bound
        if next_code > (1 << bits) - early_change:
            if bits < 12:
                bits += 1
            else:
                emit(256, bits)
                table, next_code, bits = reset()
        w = cb
    if w:
        emit(table[w], bits)
    emit(257, bits)  # EOD
    if nbits:
        emit(0, 8 - nbits)  # flush
    return bytes(out)


def _png_predict_up(data: bytes, rowlen: int) -> bytes:
    """Apply the PNG Up predictor (filter type 2) row-wise — the standard
    encoding for xref streams."""
    out = bytearray()
    prev = bytes(rowlen)
    for i in range(0, len(data), rowlen):
        row = data[i : i + rowlen]
        out.append(2)
        out += bytes((row[k] - prev[k]) & 0xFF for k in range(len(row)))
        prev = row
    return bytes(out)


_HARD_FILTERS: dict[str, tuple[str, object]] = {
    # name -> (/Filter entry, encoder)
    "none": ("", None),
    "flate": ("/FlateDecode", lambda d: zlib.compress(d)),
    "hex": ("/ASCIIHexDecode", _hex_encode),
    "a85": ("/ASCII85Decode", _a85_encode),
    "rl": ("/RunLengthDecode", _rl_encode),
    "lzw": ("/LZWDecode", _lzw_encode),
    # chain: decoder applies ASCIIHex THEN Flate, so encode flate-then-hex
    "hex+flate": (
        "[ /ASCIIHexDecode /FlateDecode ]",
        lambda d: _hex_encode(zlib.compress(d)),
    ),
}


# Precomputed ISO 32000-2 Algorithm 2.B outputs for the WRITER's fixed
# fixture salts (see the aes256 branch in write_pdf_hard): the KDF is a
# deliberate ~1.5 s password-hardening hash, and recomputing these four
# pure-constant values in every Spark worker process would make fixture
# SYNTHESIS (not parsing) the dominant cost of the AES-256 queries. The
# reader never touches this table — it always runs the live KDF. Pinned
# against _hash_2b in tests/test_minipdf_hard.py.
_FIXTURE_2B: dict[str, bytes] = {
    # _hash_2b(b"", md5(b"uvs-minipdf-fixture")[:8])
    "uvs": bytes.fromhex(
        "575943e99003afe8fc3955b310e3f03316b0409fe54eaf570461a04a5a115146"
    ),
    # _hash_2b(b"", md5(b"uks-minipdf-fixture")[:8])
    "uks": bytes.fromhex(
        "04f429376968f2a84ecc8c59b71e58849d9d7c31e2407c3f0dff427ed7d3fbd0"
    ),
    # _hash_2b(b"", md5(b"ovs-minipdf-fixture")[:8], u_entry)
    "ovs": bytes.fromhex(
        "a3cda8c9348dec637ab8cfe644255f0a3651bc609be385eeb583d5f340177e5f"
    ),
    # _hash_2b(b"", md5(b"oks-minipdf-fixture")[:8], u_entry)
    "oks": bytes.fromhex(
        "0ec9c84bbc744bf65257fb1a836b3bf96f26f929fa8b2c11811f1cbee7d5bb62"
    ),
}


def write_pdf_hard(
    pages: list[list[str]],
    *,
    xref_stream: bool = False,
    use_objstm: bool = False,
    content_filter: str = "flate",
    indirect_length: bool = False,
    cid_font: bool = False,
    split_content: bool = False,
    encoding_diffs: bool = False,
    damage: str | None = None,
    encrypt: str | None = None,
    user_password: bytes | str = b"",
) -> bytes:
    """Spec-conformant PDF writer exercising the HARD structural paths.

    Unlike ``write_pdf`` (fixed classic-xref layout), every axis is
    independently selectable so fixtures can cover the matrix:
    ``xref_stream`` → PDF 1.5 cross-reference stream (W [1 4 2], Flate +
    PNG Up predictor); ``use_objstm`` → all non-stream objects packed into
    a /Type /ObjStm (type-2 xref entries; implies xref_stream);
    ``content_filter`` → one of none/flate/hex/a85/rl/lzw/hex+flate;
    ``indirect_length`` → stream /Length as an indirect reference;
    ``cid_font`` → Identity-H Type0 font, 2-byte hex show strings, and a
    generated /ToUnicode CMap (bfchar + bfrange forms both emitted);
    ``split_content`` → per-page /Contents ARRAY of two stream halves;
    ``encoding_diffs`` → simple font with ``/Encoding << /BaseEncoding
    /WinAnsiEncoding /Differences [...] >>`` remapping digits and
    uppercase letters into the 0x80+ range (show strings emit the
    remapped codes, so decode MUST walk the Differences map);
    ``damage`` → deliberate corruption exercising the salvage path:
    ``"truncate_xref"`` drops the xref table/trailer/startxref entirely
    (a transfer-truncated file), ``"garble_offsets"`` shifts every
    classic-xref offset by +17 (the stale-incremental-save case). Damage
    modes assume the classic-xref layout;
    ``encrypt="rc4"`` → standard security handler, V=1 R=2 RC4-40,
    empty user/owner passwords (the permissions-only encryption of
    machine-generated invoices): every stream is RC4-encrypted under its
    per-object key, /Encrypt + /ID land in the trailer (classic layout)
    or the xref stream dict (PDF 1.5 layout). Encryption composes with
    ``xref_stream`` and ``use_objstm`` (round 8) under the spec's layout
    rules: packed strings stay plaintext while the objstm container is
    ciphered (§7.5.7), the xref stream is never ciphered (§7.5.8.2), and
    the /Encrypt dict is never packed. Only ``damage="truncate_xref"``
    refuses to combine with encryption (the key needs the trailer /ID).

    Text layout matches ``write_pdf`` exactly (one Tj per line, T* line
    breaks), so the analytic oracle for both is the same expression."""
    if use_objstm:
        xref_stream = True

    # /Differences remap: digit d → 0x80+d (glyphs /zero../nine),
    # uppercase L → 0x90+(L-'A') (glyphs /A../Z)
    def remap_diffs(s: str) -> str:
        out = []
        for ch in s:
            if "0" <= ch <= "9":
                out.append(chr(0x80 + ord(ch) - 0x30))
            elif "A" <= ch <= "Z":
                out.append(chr(0x90 + ord(ch) - 0x41))
            else:
                out.append(ch)
        return "".join(out)
    filt_entry, encoder = _HARD_FILTERS[content_filter]

    def esc(s: str) -> str:
        out = (
            s.replace("\\", r"\\")
            .replace("(", r"\(")
            .replace(")", r"\)")
            .replace("\n", r"\n")
            .replace("\r", r"\r")
            .replace("\t", r"\t")
            .replace("\x08", r"\b")
            .replace("\x0c", r"\f")
        )
        return "".join(ch if ord(ch) >= 0x20 else "\\%03o" % ord(ch) for ch in out)

    # --- optional CID machinery ------------------------------------------
    char2code: dict[str, int] = {}
    if cid_font:
        charset = sorted({ch for lines in pages for ln in lines for ch in ln})
        char2code = {ch: k + 1 for k, ch in enumerate(charset)}

    def show_line(ln: str) -> str:
        if not cid_font:
            if encoding_diffs:
                if ln.startswith("\xfe\xff"):
                    # a BOM-prefixed line under a /Differences encoding is
                    # unencodable: the reader decodes shown bytes through
                    # the Differences table, so the UTF-16BE escape hatch
                    # _show_simple uses for plain simple fonts is not
                    # available. Refuse loudly rather than emit bytes that
                    # cannot round-trip (same philosophy as the broadcast
                    # plan gates: impossible contracts fail mechanically).
                    raise ValueError(
                        "encoding_diffs cannot encode a line starting with "
                        "U+00FE U+00FF (UTF-16 BOM); use cid_font for such "
                        "content"
                    )
                ln = remap_diffs(ln)
            return _show_simple(ln, esc)
        hexcodes = "".join(f"{char2code[ch]:04X}" for ch in ln)
        return f"<{hexcodes}> Tj"

    def make_tounicode() -> bytes:
        # half the mappings as bfchar, half as single-code bfrange entries —
        # both CMap list forms get exercised by the fixture
        items = sorted(char2code.items(), key=lambda kv: kv[1])
        half = len(items) // 2
        chunks: list[str] = [
            "/CIDInit /ProcSet findresource begin",
            "12 dict begin",
            "begincmap",
            "/CMapName /Adobe-Identity-UCS def",
            "/CMapType 2 def",
            "1 begincodespacerange",
            "<0000> <FFFF>",
            "endcodespacerange",
        ]
        bfchars = items[:half]
        for i in range(0, len(bfchars), 100):
            block = bfchars[i : i + 100]
            chunks.append(f"{len(block)} beginbfchar")
            for ch, code in block:
                dst = ch.encode("utf-16-be").hex().upper()
                chunks.append(f"<{code:04X}> <{dst}>")
            chunks.append("endbfchar")
        bfranges = items[half:]
        for i in range(0, len(bfranges), 100):
            block = bfranges[i : i + 100]
            chunks.append(f"{len(block)} beginbfrange")
            for ch, code in block:
                dst = ch.encode("utf-16-be").hex().upper()
                chunks.append(f"<{code:04X}> <{code:04X}> <{dst}>")
            chunks.append("endbfrange")
        chunks += ["endcmap", "end", "end"]
        return "\n".join(chunks).encode("latin-1")

    # --- encryption material (computed BEFORE streams are added so the
    # per-object cipher can run at add time, keeping /Length correct even
    # for AES, which grows data by IV + padding). Round 8: encryption now
    # composes with the MODERN layouts too (xref streams, object streams —
    # the layout real-world encrypted PDFs overwhelmingly use). Spec
    # corners pinned here and at the serialization sites below: strings
    # inside an object stream are NOT encrypted per-object (§7.5.7 — the
    # objstm CONTAINER stream is encrypted under its own object key); the
    # xref stream itself is NEVER encrypted (§7.5.8.2); the encryption
    # dictionary shall not live in an object stream (§7.5.7). ------------
    if encrypt and damage == "truncate_xref":
        # unrecoverable by design: the file key needs the trailer /ID,
        # which truncation destroys — refuse to write a fixture whose
        # expected text could never be extracted
        raise ValueError("encrypt cannot combine with truncate_xref")
    pw = (
        user_password.encode("utf-8")
        if isinstance(user_password, str)
        else user_password
    )
    file_key = b""
    enc_p = -1
    doc_id0 = b""
    v5: dict[str, bytes] = {}
    if encrypt in ("rc4", "aes"):
        import hashlib

        doc_id0 = hashlib.md5(repr(pages).encode()).digest()
        enc_r = 2 if encrypt == "rc4" else 4
        enc_nbytes = 5 if encrypt == "rc4" else 16
        o_entry = _std_owner_entry(enc_r, enc_nbytes, owner_pwd=pw, user_pwd=pw)
        file_key = _std_file_key(
            o_entry, enc_p, doc_id0, enc_r, enc_nbytes, user_pwd=pw
        )
        u_entry = _std_user_check(file_key, enc_r, doc_id0)
    elif encrypt == "aes256":
        import hashlib

        doc_id0 = hashlib.md5(repr(pages).encode()).digest()
        file_key = hashlib.sha256(b"fk" + doc_id0).digest()
        # salts are FIXED fixture constants (not per-document): the KDF is
        # a ~1.5 s password-hardening hash, so the four writer-side 2.B
        # values are PRECOMPUTED literals (_FIXTURE_2B, pure functions of
        # these salts — pinned against the live KDF in test_minipdf_hard).
        # The FILE key stays per-document, and the READER still runs the
        # real Algorithm 2.B KDF to validate /U and unwrap /UE: only the
        # fixture-construction cost is skipped, never the parsing work.
        uvs = hashlib.md5(b"uvs-minipdf-fixture").digest()[:8]
        uks = hashlib.md5(b"uks-minipdf-fixture").digest()[:8]
        ovs = hashlib.md5(b"ovs-minipdf-fixture").digest()[:8]
        oks = hashlib.md5(b"oks-minipdf-fixture").digest()[:8]
        if pw:
            # non-empty password: the precomputed constants don't apply —
            # run the live Algorithm 2.B KDF (Algorithm 2.A: UTF-8
            # password truncated to 127 bytes)
            h_uvs, h_uks = _hash_2b(pw[:127], uvs), _hash_2b(pw[:127], uks)
            u_entry = h_uvs + uvs + uks
            h_ovs = _hash_2b(pw[:127], ovs, u_entry)
            h_oks = _hash_2b(pw[:127], oks, u_entry)
        else:
            h_uvs, h_uks = _FIXTURE_2B["uvs"], _FIXTURE_2B["uks"]
            u_entry = h_uvs + uvs + uks
            h_ovs, h_oks = _FIXTURE_2B["ovs"], _FIXTURE_2B["oks"]
        v5["UE"] = _aes_cbc_raw(h_uks, bytes(16), file_key, False)
        o_entry = h_ovs + ovs + oks
        v5["OE"] = _aes_cbc_raw(h_oks, bytes(16), file_key, False)
        perms_blk = (
            (enc_p & 0xFFFFFFFF).to_bytes(4, "little")
            + b"\xff\xff\xff\xff" + b"T" + b"adb" + b"mini"
        )
        v5["Perms"] = _aes_encrypt_block(_aes_expand_key(file_key), perms_blk)
    elif encrypt is not None:
        raise ValueError(f"unsupported encrypt mode {encrypt!r}")

    def encipher(num: int, data: bytes) -> bytes:
        if not encrypt:
            return data
        if encrypt == "aes256":
            import hashlib

            iv = hashlib.md5(b"iv%d" % num + doc_id0).digest()
            return _aes_cbc_encrypt(file_key, iv, data)  # file key direct
        if encrypt == "aes":
            import hashlib

            iv = hashlib.md5(b"iv%d" % num + doc_id0).digest()  # deterministic
            return _aes_cbc_encrypt(_obj_key(file_key, num, 0, aes=True), iv, data)
        return _rc4(_obj_key(file_key, num, 0), data)

    # --- object assembly --------------------------------------------------
    # Object table: list of (body, raw_stream_or_None); 1-indexed ids.
    objs: list[tuple[bytes, bytes | None]] = []

    def add(body: bytes, stream: bytes | None = None) -> int:
        objs.append((body, stream))
        return len(objs)

    def add_filtered_stream(dict_extra: str, raw: bytes) -> int:
        # encryption wraps the FILTERED bytes (§7.6.2); the object number
        # this stream will get is len(objs)+1 in both /Length branches
        data = encipher(len(objs) + 1, encoder(raw) if encoder else raw)
        filt = f" /Filter {filt_entry}" if filt_entry else ""
        if indirect_length:
            # /Length forward-references the int object written right after
            length_id = len(objs) + 2
            head = f"<<{dict_extra} /Length {length_id} 0 R{filt} >>".encode()
            sid = add(head, data)
            add(str(len(data)).encode())
            return sid
        head = f"<<{dict_extra} /Length {len(data)}{filt} >>".encode()
        return add(head, data)

    catalog_id = add(b"", None)  # placeholder — body set later
    pages_id = add(b"", None)
    page_ids: list[int] = []
    content_refs: list[str] = []
    for lines in pages:
        ops = ["BT /F1 12 Tf 72 720 Td"]
        for k, ln in enumerate(lines):
            if k:
                ops.append("T*")
            ops.append(show_line(ln))
        ops.append("ET")
        stream = " ".join(ops).encode("latin-1")
        if split_content:
            # split at a TOKEN boundary: spec §7.8.2 — a contents array is
            # the concatenation of its parts, and division points lie
            # between lexical tokens (never inside a string)
            cut = max(1, len(ops) // 2)
            a = add_filtered_stream("", " ".join(ops[:cut]).encode("latin-1"))
            b = add_filtered_stream("", " ".join(ops[cut:]).encode("latin-1"))
            content_refs.append(f"[ {a} 0 R {b} 0 R ]")
        else:
            c = add_filtered_stream("", stream)
            content_refs.append(f"{c} 0 R")
        page_ids.append(-1)  # placeholder, filled below

    def body_str(num: int, raw: bytes) -> str:
        """A literal string inside an object BODY: encrypted files must
        cipher it under that object's key (§7.6.2 — ALL strings), emitted
        as a hex string so arbitrary ciphertext bytes need no escaping.
        EXCEPT objects packed into an object stream: §7.5.7 — those
        strings stay plaintext because the objstm container stream is
        itself encrypted (non-stream objects are exactly the ones packed
        when ``use_objstm``)."""
        if not encrypt or use_objstm:
            return "(" + raw.decode("ascii") + ")"
        return "<" + encipher(num, raw).hex().upper() + ">"

    # font objects
    if cid_font:
        tounicode_id = add_filtered_stream("", make_tounicode())
        dnum = len(objs) + 1  # the descendant font's object number
        desc_font_id = add(
            (
                "<< /Type /Font /Subtype /CIDFontType0 /BaseFont /Synth-Identity"
                f" /CIDSystemInfo << /Registry {body_str(dnum, b'Adobe')}"
                f" /Ordering {body_str(dnum, b'Identity')}"
                " /Supplement 0 >> >>"
            ).encode()
        )
        font_id = add(
            (
                f"<< /Type /Font /Subtype /Type0 /BaseFont /Synth-Identity"
                f" /Encoding /Identity-H /DescendantFonts [ {desc_font_id} 0 R ]"
                f" /ToUnicode {tounicode_id} 0 R >>"
            ).encode()
        )
    elif encoding_diffs:
        digit_names = " ".join(
            f"/{n}" for n in
            "zero one two three four five six seven eight nine".split()
        )
        upper_names = " ".join(f"/{chr(c)}" for c in range(0x41, 0x5B))
        font_id = add(
            (
                "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
                " /Encoding << /Type /Encoding /BaseEncoding /WinAnsiEncoding"
                f" /Differences [ 128 {digit_names} 144 {upper_names} ] >> >>"
            ).encode()
        )
    else:
        font_id = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")

    for i in range(len(pages)):
        pid = add(
            (
                f"<< /Type /Page /Parent {pages_id} 0 R"
                f" /MediaBox [0 0 612 792]"
                f" /Contents {content_refs[i]}"
                f" /Resources << /Font << /F1 {font_id} 0 R >> >> >>"
            ).encode()
        )
        page_ids[i] = pid

    kids = " ".join(f"p 0 R".replace("p", str(p)) for p in page_ids)
    objs[catalog_id - 1] = (f"<< /Type /Catalog /Pages {pages_id} 0 R >>".encode(), None)
    objs[pages_id - 1] = (
        f"<< /Type /Pages /Kids [ {kids} ] /Count {len(pages)} >>".encode(),
        None,
    )

    # encryption dictionary (classic layout; keys computed above)
    enc_id = None
    if encrypt == "rc4":
        enc_id = add(
            (
                "<< /Filter /Standard /V 1 /R 2 /Length 40"
                f" /P {enc_p} /O <{o_entry.hex().upper()}>"
                f" /U <{u_entry.hex().upper()}> >>"
            ).encode()
        )
    elif encrypt == "aes":
        enc_id = add(
            (
                "<< /Filter /Standard /V 4 /R 4 /Length 128"
                " /CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen"
                " /Length 16 >> >> /StmF /StdCF /StrF /StdCF"
                f" /P {enc_p} /O <{o_entry.hex().upper()}>"
                f" /U <{u_entry.hex().upper()}> >>"
            ).encode()
        )
    elif encrypt == "aes256":
        enc_id = add(
            (
                "<< /Filter /Standard /V 5 /R 6 /Length 256"
                " /CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen"
                " /Length 32 >> >> /StmF /StdCF /StrF /StdCF"
                f" /P {enc_p} /O <{o_entry.hex().upper()}>"
                f" /U <{u_entry.hex().upper()}>"
                f" /OE <{v5['OE'].hex().upper()}>"
                f" /UE <{v5['UE'].hex().upper()}>"
                f" /Perms <{v5['Perms'].hex().upper()}> >>"
            ).encode()
        )

    # --- serialization ----------------------------------------------------
    out = bytearray(b"%PDF-1.5\n" if xref_stream else b"%PDF-1.4\n")
    # xref rows: list indexed by objnum (0 = free head)
    # classic tables declare exactly the written objects; xref-stream files
    # reserve one extra slot for the xref stream itself (+ objstm when used)
    if xref_stream:
        n_declared = len(objs) + (2 if use_objstm else 1)
    else:
        n_declared = len(objs)
    entry: list[tuple[int, int, int] | None] = [None] * (n_declared + 1)
    entry[0] = (0, 0, 65535)

    packed: list[int] = []
    if use_objstm:
        # the encryption dictionary shall not be stored in an object
        # stream (§7.5.7) — it must be readable before any decryption
        packed = [
            i + 1
            for i, (_, stm) in enumerate(objs)
            if stm is None and (i + 1) != enc_id
        ]

    def write_obj(num: int, body: bytes, stream: bytes | None) -> None:
        entry[num] = (1, len(out), 0)
        out.extend(f"{num} 0 obj\n".encode())
        out.extend(body)
        if stream is not None:
            out.extend(b"\nstream\n")
            out.extend(stream)
            out.extend(b"\nendstream")
        out.extend(b"\nendobj\n")

    packed_set = set(packed)
    for i, (body, stream) in enumerate(objs):
        num = i + 1
        if num in packed_set:
            continue  # goes into the object stream
        write_obj(num, body, stream)

    objstm_id = len(objs) + 1
    if use_objstm:
        # pack all non-stream objects; header = "num off" pairs
        bodies = [objs[num - 1][0] for num in packed]
        offs: list[int] = []
        acc = 0
        for b in bodies:
            offs.append(acc)
            acc += len(b) + 1
        header = " ".join(f"{num} {off}" for num, off in zip(packed, offs)).encode()
        payload = header + b"\n" + b"\n".join(bodies) + b"\n"
        first = len(header) + 1
        # the objstm CONTAINER is an ordinary stream: in an encrypted file
        # it is ciphered under ITS OWN object key, on top of the filter
        # (§7.5.7 / §7.6.2) — the packed bodies inside stay plaintext
        data = encipher(objstm_id, zlib.compress(payload))
        write_obj(
            objstm_id,
            (
                f"<< /Type /ObjStm /N {len(packed)} /First {first}"
                f" /Length {len(data)} /Filter /FlateDecode >>"
            ).encode(),
            data,
        )
        for idx, num in enumerate(packed):
            entry[num] = (2, objstm_id, idx)

    size = n_declared + 1
    if xref_stream:
        xref_id = n_declared
        xref_at = len(out)
        entry[xref_id] = (1, xref_at, 0)
        rowlen = 1 + 4 + 2
        rows = bytearray()
        for e in entry:
            t, a, b = e if e is not None else (0, 0, 0)
            rows.append(t)
            rows += a.to_bytes(4, "big")
            rows += b.to_bytes(2, "big")
        # the xref stream is NEVER encrypted (§7.5.8.2) — no encipher here;
        # in an xref-stream file its dict doubles as the trailer, so
        # /Encrypt and /ID live here
        data = zlib.compress(_png_predict_up(bytes(rows), rowlen))
        enc_xref = (
            f" /Encrypt {enc_id} 0 R"
            f" /ID [ <{doc_id0.hex().upper()}> <{doc_id0.hex().upper()}> ]"
            if enc_id is not None
            else ""
        )
        head = (
            f"<< /Type /XRef /Size {size} /W [1 4 2] /Index [0 {size}]"
            f" /Root {catalog_id} 0 R{enc_xref} /Length {len(data)}"
            f" /Filter /FlateDecode"
            f" /DecodeParms << /Predictor 12 /Columns {rowlen} >> >>"
        ).encode()
        out.extend(f"{xref_id} 0 obj\n".encode())
        out.extend(head)
        out.extend(b"\nstream\n")
        out.extend(data)
        out.extend(b"\nendstream\nendobj\n")
        out.extend(f"startxref\n{xref_at}\n%%EOF\n".encode())
    else:
        xref_at = len(out)
        out.extend(f"xref\n0 {size}\n0000000000 65535 f \n".encode())
        for e in entry[1:]:
            t, a, _ = e if e is not None else (0, 0, 0)
            if damage == "garble_offsets":
                a += 17  # stale table: every offset off by an edit delta
            out.extend(f"{a:010d} 00000 n \n".encode())
        enc_trailer = (
            f" /Encrypt {enc_id} 0 R"
            f" /ID [ <{doc_id0.hex().upper()}> <{doc_id0.hex().upper()}> ]"
            if enc_id is not None
            else ""
        )
        out.extend(
            (
                f"trailer\n<< /Size {size} /Root {catalog_id} 0 R{enc_trailer} >>\n"
                f"startxref\n{xref_at}\n%%EOF\n"
            ).encode()
        )
    if damage == "truncate_xref":
        # the file ends after the last endobj — no xref, trailer, or
        # startxref survive (transfer-truncated download)
        return bytes(out[:xref_at])
    return bytes(out)
