"""Baseline PDF text extraction (ISO 32000, public spec) — the
document-format tier scientific and book corpora actually ship in
(peS2o-class pipelines start from PDFs): pure-stdlib parsing of the PDF
object grammar, cross-reference machinery, stream filters, page tree,
and content-stream text operators, with real font-encoding handling
(ToUnicode CMaps, WinAnsi/MacRoman + /Differences) — no parsing
library, no network.

Scope (the baseline a curation pipeline needs, bounded honestly):
  * object grammar: numbers, booleans, null, names (#xx escapes),
    literal strings (all escapes, nested parens), hex strings, arrays,
    dictionaries, indirect references, streams
  * cross-references: classic xref tables (with /Prev chains and
    update sections) AND xref STREAMS (/W field widths, PNG predictors
    up=2/sub=1/none) AND compressed objects in object streams
    (/Type/ObjStm) — the modern-file layout
  * filters: FlateDecode (zlib, cap-bounded chunkwise — a deflate-bomb
    stream cannot materialize), ASCIIHexDecode, ASCII85Decode; chains
    in order; unknown filters reject THAT stream only
  * text: BT/ET blocks — Tj, TJ (numeric kerning gaps beyond a
    threshold become spaces), ' and " forms, Td/TD/T*/Tm line breaks;
    per-font byte→Unicode via /ToUnicode CMap (bfchar + bfrange, both
    forms) when present, else /Encoding (WinAnsiEncoding,
    MacRomanEncoding approximated to Latin-1, /Differences overrides),
    else Latin-1; 2-byte CID codes when the CMap declares a 2-byte
    codespace (Identity-H with ToUnicode — the modern LaTeX shape)
  * encrypted PDFs: the STANDARD security handler decrypts with the
    EMPTY user password — the owner-password-only case that covers
    most world-readable encrypted PDFs. V 1/2/4 R 2/3/4 (ISO 32000-1
    §7.6.3: RC4-40..128 and AES-128-CBC /AESV2 with per-object keys)
    AND V5 R5/R6 (ISO 32000-2 §7.6.4: AES-256 /AESV3 — Algorithm 2.B
    iterated SHA-256/384/512 hash, /UE file-key unwrap, file-key-direct
    data decryption). All ciphers implemented from the public specs
    (RC4 keystream; FIPS-197 with a GENERATED S-box, verified against
    the published test vector). Wrong-password files (/U validation
    fails) and non-Standard handlers REJECT honestly. Strings and
    streams both decrypt; xref streams and ObjStm interiors correctly
    do NOT (spec exemptions). Bomb caps apply post-decrypt as always.
  * pages whose content streams fail lose only themselves (per-page
    isolation, counted per blob)

Untrusted-input bounds: parse recursion is depth-capped; xref/Prev and
page-tree walks are visited-set bounded; object count, stream
inflation, page count, and content-stream size are all capped —
attacker-controlled fields can truncate or reject, never allocate
unboundedly.

Scale shape: per-row map-side work over the binary column
(Arrow-batched, zero shuffle); rejects emit ONE all-NULL row (the
multimodal convention). Cite: this tier is beyond the reference's
documented surface, like the WARC/codec tiers.
"""

from __future__ import annotations

import re
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
_MAX_DEPTH = 48
_MAX_OBJECTS = 1 << 20
_INFLATE_CHUNK = 1 << 20


class Ref:
    __slots__ = ("num", "gen")

    def __init__(self, num, gen):
        self.num, self.gen = num, gen

    def __repr__(self):
        return f"Ref({self.num},{self.gen})"

    def __eq__(self, other):
        return (isinstance(other, Ref)
                and (self.num, self.gen) == (other.num, other.gen))

    def __hash__(self):
        return hash((self.num, self.gen))


class Name(str):
    """PDF name object — distinct from strings in dict keys/values."""


class Stream:
    __slots__ = ("dict", "raw")

    def __init__(self, d, raw):
        self.dict, self.raw = d, raw


class _Lexer:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def _skip_ws(self):
        d = self.data
        n = len(d)
        while self.pos < n:
            c = d[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # % comment to EOL
                while self.pos < n and d[self.pos] not in b"\r\n":
                    self.pos += 1
            else:
                return

    def parse(self, depth: int = 0):
        """One object at self.pos (after whitespace)."""
        if depth > _MAX_DEPTH:
            raise ValueError("object nesting too deep")
        self._skip_ws()
        d = self.data
        if self.pos >= len(d):
            raise ValueError("unexpected end of data")
        c = d[self.pos]
        if c == 0x2F:  # /Name
            return self._name()
        if c == 0x28:  # (string)
            return self._literal_string()
        if c == 0x3C:
            if d[self.pos : self.pos + 2] == b"<<":
                return self._dict_or_stream(depth)
            return self._hex_string()
        if c == 0x5B:  # [
            self.pos += 1
            arr = []
            while True:
                self._skip_ws()
                if self.pos >= len(d):
                    raise ValueError("unterminated array")
                if d[self.pos] == 0x5D:
                    self.pos += 1
                    return arr
                arr.append(self.parse(depth + 1))
        if d[self.pos : self.pos + 4] == b"true":
            self.pos += 4
            return True
        if d[self.pos : self.pos + 5] == b"false":
            self.pos += 5
            return False
        if d[self.pos : self.pos + 4] == b"null":
            self.pos += 4
            return None
        return self._number_or_ref()

    def _name(self):
        d = self.data
        self.pos += 1
        start = self.pos
        out = bytearray()
        while self.pos < len(d) and d[self.pos] not in _WS \
                and d[self.pos] not in _DELIM:
            if d[self.pos] == 0x23 and self.pos + 2 < len(d):  # #xx
                try:
                    out += bytes([int(d[self.pos + 1 : self.pos + 3], 16)])
                    self.pos += 3
                    continue
                except ValueError:
                    pass
            out.append(d[self.pos])
            self.pos += 1
        if self.pos == start and not out:
            return Name("")
        return Name(out.decode("latin1"))

    def _literal_string(self):
        d = self.data
        self.pos += 1
        out = bytearray()
        depth = 1
        esc = {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12,
               0x28: 0x28, 0x29: 0x29, 0x5C: 0x5C}
        while self.pos < len(d):
            c = d[self.pos]
            if c == 0x5C:  # backslash
                self.pos += 1
                if self.pos >= len(d):
                    break
                e = d[self.pos]
                if e in esc:
                    out.append(esc[e])
                    self.pos += 1
                elif 0x30 <= e <= 0x37:  # octal, 1-3 digits
                    oct_digits = 0
                    val = 0
                    while (oct_digits < 3 and self.pos < len(d)
                           and 0x30 <= d[self.pos] <= 0x37):
                        val = val * 8 + (d[self.pos] - 0x30)
                        self.pos += 1
                        oct_digits += 1
                    out.append(val & 0xFF)
                elif e in b"\r\n":  # line continuation
                    self.pos += 1
                    if e == 0x0D and self.pos < len(d) \
                            and d[self.pos] == 0x0A:
                        self.pos += 1
                else:
                    out.append(e)
                    self.pos += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                self.pos += 1
            elif c == 0x29:
                depth -= 1
                self.pos += 1
                if depth == 0:
                    return bytes(out)
                out.append(c)
            else:
                out.append(c)
                self.pos += 1
        raise ValueError("unterminated literal string")

    def _hex_string(self):
        d = self.data
        end = d.find(b">", self.pos + 1)
        if end < 0:
            raise ValueError("unterminated hex string")
        hx = re.sub(rb"[^0-9A-Fa-f]", b"", d[self.pos + 1 : end])
        if len(hx) % 2:
            hx += b"0"
        self.pos = end + 1
        return bytes.fromhex(hx.decode("ascii"))

    def _dict_or_stream(self, depth):
        d = self.data
        self.pos += 2
        out = {}
        while True:
            self._skip_ws()
            if d[self.pos : self.pos + 2] == b">>":
                self.pos += 2
                break
            key = self.parse(depth + 1)
            if not isinstance(key, Name):
                raise ValueError("dictionary key is not a name")
            out[str(key)] = self.parse(depth + 1)
        save = self.pos
        self._skip_ws()
        if d[self.pos : self.pos + 6] == b"stream":
            self.pos += 6
            if d[self.pos : self.pos + 2] == b"\r\n":
                self.pos += 2
            elif self.pos < len(d) and d[self.pos] in b"\n":
                self.pos += 1
            length = out.get("Length")
            if isinstance(length, int) and length >= 0 \
                    and self.pos + length <= len(d):
                raw = d[self.pos : self.pos + length]
                endpos = d.find(b"endstream", self.pos + length)
            else:  # lying/indirect Length: scan for the terminator
                endpos = d.find(b"endstream", self.pos)
                if endpos < 0:
                    raise ValueError("unterminated stream")
                raw = d[self.pos : endpos].rstrip(b"\r\n")
            if endpos < 0:
                raise ValueError("unterminated stream")
            self.pos = endpos + 9
            return Stream(out, raw)
        self.pos = save
        return out

    def _number_or_ref(self):
        d = self.data
        m = re.match(rb"[+-]?(?:\d+\.\d*|\.\d+|\d+)", d[self.pos :])
        if not m:
            raise ValueError(
                f"unparseable token at {self.pos}: {d[self.pos:self.pos+8]!r}")
        tok = m.group(0)
        self.pos += len(tok)
        if b"." in tok:
            return float(tok)
        val = int(tok)
        # lookahead for "G R" (indirect reference)
        m2 = re.match(rb"\s+(\d+)\s+R(?![A-Za-z0-9])", d[self.pos :])
        if m2 and val >= 0:
            self.pos += m2.end()
            return Ref(val, int(m2.group(1)))
        return val


def _png_unpredict(data: bytes, colors: int, columns: int) -> bytes:
    """Reverse PNG predictors over decoded xref-stream bytes (the only
    DecodeParms shape PDF writers emit for xref streams)."""
    rowlen = colors * columns
    out = bytearray()
    prev = bytearray(rowlen)
    pos = 0
    while pos + 1 + rowlen <= len(data):
        ft = data[pos]
        row = bytearray(data[pos + 1 : pos + 1 + rowlen])
        pos += 1 + rowlen
        if ft == 0:
            pass
        elif ft == 1:
            for i in range(colors, rowlen):
                row[i] = (row[i] + row[i - colors]) & 0xFF
        elif ft == 2:
            for i in range(rowlen):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:
            for i in range(rowlen):
                left = row[i - colors] if i >= colors else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:
            for i in range(rowlen):
                a = row[i - colors] if i >= colors else 0
                b = prev[i]
                c = prev[i - colors] if i >= colors else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG predictor {ft}")
        out += row
        prev = row
    return bytes(out)


def _inflate_bounded(raw: bytes, cap: int) -> bytes:
    d = zlib.decompressobj()
    out = bytearray()
    pos = 0
    tail = b""
    while True:
        chunk = tail or raw[pos : pos + _INFLATE_CHUNK]
        if not tail:
            pos += len(chunk)
        tail = b""
        if not chunk:
            break
        out += d.decompress(chunk, cap + 1 - len(out))
        if len(out) > cap:
            raise ValueError(f"stream inflates past {cap} bytes")
        tail = d.unconsumed_tail
        if d.eof:
            break
    return bytes(out)


def _lzw_decode(data: bytes, cap: int, early_change: int = 1) -> bytes:
    """PDF LZWDecode (ISO 32000 §7.4.4 / TIFF-style LZW): MSB-first
    variable-width codes 9→12 bits, 256=clear, 257=EOD, table grows by
    one entry per emitted code; ``early_change`` widens one code early
    (the default every real writer uses). Output is cap-bounded."""
    out = bytearray()
    table: list = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: bytes | None = None
    acc = nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise ValueError("LZW code before any literal")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < 4096:  # 12-bit space full: stop growing
                    table.append(prev + entry[:1])
            elif code == len(table) and len(table) < 4096:
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError(f"LZW code {code} past table")
            out += entry
            if len(out) > cap:
                raise ValueError(f"LZW stream inflates past {cap} bytes")
            prev = entry
            if len(table) + (1 if early_change else 0) >= (1 << width) \
                    and width < 12:
                width += 1
    return bytes(out)


def _a85(data: bytes) -> bytes:
    import base64

    body = data.split(b"~>")[0]
    body = re.sub(rb"\s", b"", body)
    return base64.a85decode(body, adobe=False)


# --------------------------------------------------------------------------
# Standard security handler (ISO 32000-1 §7.6.3) — empty-user-password
# decryption for the owner-password-only PDFs that are world-readable.
# RC4 and AES-128 are implemented from their public specifications
# (RC4: the well-known KSA/PRGA; AES: FIPS-197 tables) — no crypto
# library exists in the dependency set, and both are small and exactly
# specified. The fixtures are verified by round-trip through the forward
# cipher in this module.
# --------------------------------------------------------------------------

#: ISO 32000-1 Table . the 32-byte standard padding string
_PDF_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


def _rc4(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    kl = len(key)
    for i in range(256):
        j = (j + s[i] + key[i % kl]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for n, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[n] = c ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


def _aes_tables():
    # FIPS-197 S-box generated from the public construction (inverse in
    # GF(2^8) + affine map) — generated, not transcribed, so a typo is
    # structurally impossible
    sbox = bytearray(256)
    p = q = 1
    sbox[0] = 0x63
    while True:
        # p runs over GF(2^8)* via x3 multiplication; q = p^-1 via /3
        p = (p ^ (p << 1) ^ (0x1B if p & 0x80 else 0)) & 0xFF
        q = (q ^ (q << 1)) & 0xFF
        q = (q ^ (q << 2)) & 0xFF
        q = (q ^ (q << 4)) & 0xFF
        if q & 0x80:
            q ^= 0x09
        x = q ^ ((q << 1) | (q >> 7)) ^ ((q << 2) | (q >> 6)) \
            ^ ((q << 3) | (q >> 5)) ^ ((q << 4) | (q >> 4))
        sbox[p] = (x ^ 0x63) & 0xFF
        if p == 1:
            break
    inv = bytearray(256)
    for i, v in enumerate(sbox):
        inv[v] = i
    return bytes(sbox), bytes(inv)


_SBOX, _INV_SBOX = _aes_tables()


def _xtime(a: int) -> int:
    return ((a << 1) ^ 0x1B) & 0xFF if a & 0x80 else a << 1


def _gmul(a: int, b: int) -> int:
    r = 0
    for _ in range(8):
        if b & 1:
            r ^= a
        b >>= 1
        a = _xtime(a)
    return r


def _aes_expand_key(key: bytes) -> list:
    nk = len(key) // 4
    nr = nk + 6
    w = [list(key[4 * i: 4 * i + 4]) for i in range(nk)]
    rcon = 1
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]
            t = [_SBOX[b] for b in t]
            t[0] ^= rcon
            rcon = _xtime(rcon)
        elif nk > 6 and i % nk == 4:
            t = [_SBOX[b] for b in t]
        w.append([w[i - nk][j] ^ t[j] for j in range(4)])
    return [sum(w[4 * r: 4 * r + 4], []) for r in range(nr + 1)]


def _aes_encrypt_block(rk: list, block: bytes) -> bytes:
    nr = len(rk) - 1
    # state kept column-major as a flat 16-list: s[4c+r] — PDF/FIPS
    # byte order IS column-major, so the input maps 1:1
    s = list(block)

    def add_rk(st, k):
        return [st[i] ^ k[i] for i in range(16)]

    def sub_shift(st):
        t = [_SBOX[b] for b in st]
        out = list(t)
        for r in range(1, 4):
            col = [t[4 * c + r] for c in range(4)]
            col = col[r:] + col[:r]
            for c in range(4):
                out[4 * c + r] = col[c]
        return out

    def mix(st):
        out = [0] * 16
        for c in range(4):
            a = st[4 * c: 4 * c + 4]
            out[4 * c + 0] = _xtime(a[0]) ^ (_xtime(a[1]) ^ a[1]) ^ a[2] ^ a[3]
            out[4 * c + 1] = a[0] ^ _xtime(a[1]) ^ (_xtime(a[2]) ^ a[2]) ^ a[3]
            out[4 * c + 2] = a[0] ^ a[1] ^ _xtime(a[2]) ^ (_xtime(a[3]) ^ a[3])
            out[4 * c + 3] = (_xtime(a[0]) ^ a[0]) ^ a[1] ^ a[2] ^ _xtime(a[3])
        return out

    s = add_rk(s, rk[0])
    for rnd in range(1, nr):
        s = add_rk(mix(sub_shift(s)), rk[rnd])
    s = add_rk(sub_shift(s), rk[nr])
    return bytes(s)


def _aes_decrypt_block(rk: list, block: bytes) -> bytes:
    nr = len(rk) - 1

    def add_rk(st, k):
        return [st[i] ^ k[i] for i in range(16)]

    def inv_shift_sub(st):
        out = [0] * 16
        for r in range(4):
            col = [st[4 * c + r] for c in range(4)]
            col = col[-r:] + col[:-r] if r else col
            for c in range(4):
                out[4 * c + r] = _INV_SBOX[col[c]]
        return out

    def inv_mix(st):
        out = [0] * 16
        for c in range(4):
            a = st[4 * c: 4 * c + 4]
            out[4 * c + 0] = _gmul(a[0], 14) ^ _gmul(a[1], 11) \
                ^ _gmul(a[2], 13) ^ _gmul(a[3], 9)
            out[4 * c + 1] = _gmul(a[0], 9) ^ _gmul(a[1], 14) \
                ^ _gmul(a[2], 11) ^ _gmul(a[3], 13)
            out[4 * c + 2] = _gmul(a[0], 13) ^ _gmul(a[1], 9) \
                ^ _gmul(a[2], 14) ^ _gmul(a[3], 11)
            out[4 * c + 3] = _gmul(a[0], 11) ^ _gmul(a[1], 13) \
                ^ _gmul(a[2], 9) ^ _gmul(a[3], 14)
        return out

    s = add_rk(list(block), rk[nr])
    for rnd in range(nr - 1, 0, -1):
        s = add_rk(inv_shift_sub(s), rk[rnd])
        s = inv_mix(s)
    s = add_rk(inv_shift_sub(s), rk[0])
    return bytes(s)


def _aes_cbc_raw_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """CBC encrypt, NO padding, NO iv prepend (Algorithm 2.B's inner
    step and fixture generation; data must be block-aligned)."""
    rk = _aes_expand_key(key)
    out = bytearray()
    prev = iv
    for off in range(0, len(data), 16):
        blk = bytes(d ^ p for d, p in zip(data[off: off + 16], prev))
        prev = _aes_encrypt_block(rk, blk)
        out += prev
    return bytes(out)


def _aes_cbc_raw_decrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """CBC decrypt, NO padding, NO iv prefix (the /UE file-key unwrap)."""
    rk = _aes_expand_key(key)
    out = bytearray()
    prev = iv
    for off in range(0, len(data), 16):
        blk = data[off: off + 16]
        dec = _aes_decrypt_block(rk, blk)
        out += bytes(d ^ p for d, p in zip(dec, prev))
        prev = blk
    return bytes(out)


def _hash_2b(pwd: bytes, salt: bytes, udata: bytes, r: int) -> bytes:
    """ISO 32000-2 Algorithm 2.B (R6) / plain SHA-256 (the deprecated
    R5): the password hash for AES-256 PDFs."""
    import hashlib

    k = hashlib.sha256(pwd + salt + udata).digest()
    if r == 5:
        return k
    i = 0
    while True:
        k1 = (pwd + k + udata) * 64
        e = _aes_cbc_raw_encrypt(k[:16], k[16:32], k1)
        k = (hashlib.sha256, hashlib.sha384,
             hashlib.sha512)[sum(e[:16]) % 3](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def _aes_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """AES-CBC with the PDF convention: first 16 bytes are the IV;
    PKCS#5 padding validated and stripped."""
    if len(data) < 32 or len(data) % 16:
        raise ValueError("AES stream not block-aligned")
    rk = _aes_expand_key(key)
    iv = data[:16]
    out = bytearray()
    prev = iv
    for off in range(16, len(data), 16):
        blk = data[off: off + 16]
        dec = _aes_decrypt_block(rk, blk)
        out += bytes(d ^ p for d, p in zip(dec, prev))
        prev = blk
    pad = out[-1]
    if not 1 <= pad <= 16 or out[-pad:] != bytes([pad]) * pad:
        raise ValueError("bad AES padding (wrong key or corrupt data)")
    return bytes(out[:-pad])


def _aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Forward CBC (fixture generation + round-trip verification)."""
    rk = _aes_expand_key(key)
    pad = 16 - (len(data) % 16)
    data = data + bytes([pad]) * pad
    out = bytearray(iv)
    prev = iv
    for off in range(0, len(data), 16):
        blk = bytes(d ^ p for d, p in zip(data[off: off + 16], prev))
        prev = _aes_encrypt_block(rk, blk)
        out += prev
    return bytes(out)


class _StdSecurityHandler:
    """ISO 32000-1 §7.6.3 standard handler, empty user password only
    (Algorithms 2, 4, 5; per-object keys via Algorithm 1). Raises
    ValueError for unsupported revisions or failed /U validation."""

    def __init__(self, enc: dict, id0: bytes, resolve):
        import hashlib
        import struct

        if str(resolve(enc.get("Filter"))) != "Standard":
            raise ValueError("non-Standard security handler (reject)")
        self.v = int(resolve(enc.get("V", 0)) or 0)
        self.r = int(resolve(enc.get("R", 2)) or 2)
        if self.v == 5 and self.r in (5, 6):
            self._init_v5(enc, resolve)
            return
        if self.v not in (1, 2, 4) or self.r not in (2, 3, 4):
            raise ValueError(
                f"unsupported encryption V={self.v} R={self.r} (reject)")
        self.length = int(resolve(enc.get("Length", 40)) or 40) // 8
        if self.r == 2:
            self.length = 5
        if not 5 <= self.length <= 16:
            raise ValueError(f"bad key length {self.length * 8}")
        o = resolve(enc.get("O"))
        u = resolve(enc.get("U"))
        if not isinstance(o, bytes) or not isinstance(u, bytes):
            raise ValueError("missing /O or /U")
        p = int(resolve(enc.get("P", -1)))
        self.encrypt_metadata = bool(resolve(enc.get("EncryptMetadata",
                                                     True)))
        # V4 crypt filters: map StmF/StrF through /CF to a method
        self.stm_cfm = self.str_cfm = "V2"  # RC4 for V<4
        if self.v == 4:
            cf = resolve(enc.get("CF")) or {}
            for attr, key_ in (("stm_cfm", "StmF"), ("str_cfm", "StrF")):
                name = str(resolve(enc.get(key_, "Identity")))
                if name == "Identity":
                    setattr(self, attr, "Identity")
                    continue
                spec = resolve(cf.get(name))
                if not isinstance(spec, dict):
                    raise ValueError(f"crypt filter {name!r} undefined")
                cfm = str(resolve(spec.get("CFM", "None")))
                if cfm not in ("V2", "AESV2"):
                    raise ValueError(f"unsupported CFM {cfm!r}")
                ln = resolve(spec.get("Length"))
                if isinstance(ln, int) and ln:
                    # /CF lengths are in BYTES (some writers use bits)
                    self.length = ln if ln <= 16 else ln // 8
                setattr(self, attr, cfm)
        # Algorithm 2 with the EMPTY user password
        h = hashlib.md5()
        h.update(_PDF_PAD)
        h.update(o[:32])
        h.update(struct.pack("<i", p))
        h.update(id0)
        if self.r >= 4 and not self.encrypt_metadata:
            h.update(b"\xff\xff\xff\xff")
        key = h.digest()
        if self.r >= 3:
            for _ in range(50):
                key = hashlib.md5(key[: self.length]).digest()
        self.key = key[: self.length]
        # Algorithm 4/5 validation against /U
        if self.r == 2:
            ok = _rc4(self.key, _PDF_PAD) == u[:32]
        else:
            x = _rc4(self.key,
                     hashlib.md5(_PDF_PAD + id0).digest())
            for i in range(1, 20):
                x = _rc4(bytes(b ^ i for b in self.key), x)
            ok = x == u[:16]
        if not ok:
            raise ValueError(
                "encrypted PDF requires a non-empty user password (reject)")

    def _init_v5(self, enc: dict, resolve):
        """AES-256 (ISO 32000-2 §7.6.4): R6's Algorithm 2.B hash (R5 =
        the deprecated single-SHA-256 revision), empty user password —
        validate against /U[0:32] with the validation salt, then unwrap
        the 32-byte file key from /UE with the key salt. Data uses the
        FILE key directly (no per-object keys in V5)."""
        u = resolve(enc.get("U"))
        ue = resolve(enc.get("UE"))
        if not isinstance(u, bytes) or len(u) < 48 \
                or not isinstance(ue, bytes) or len(ue) != 32:
            raise ValueError("V5 encryption missing /U(48) or /UE(32)")
        vsalt, ksalt = u[32:40], u[40:48]
        if _hash_2b(b"", vsalt, b"", self.r) != u[:32]:
            raise ValueError(
                "encrypted PDF requires a non-empty user password (reject)")
        inter = _hash_2b(b"", ksalt, b"", self.r)
        self.key = _aes_cbc_raw_decrypt(inter, b"\x00" * 16, ue)
        self.length = 32
        self.encrypt_metadata = bool(resolve(enc.get("EncryptMetadata",
                                                     True)))
        self.stm_cfm = self.str_cfm = "AESV3"
        cf = resolve(enc.get("CF")) or {}
        for attr, key_ in (("stm_cfm", "StmF"), ("str_cfm", "StrF")):
            name = str(resolve(enc.get(key_, "StdCF")))
            if name == "Identity":
                setattr(self, attr, "Identity")
                continue
            spec = resolve(cf.get(name))
            cfm = str(resolve(spec.get("CFM", "AESV3"))) \
                if isinstance(spec, dict) else "AESV3"
            if cfm != "AESV3":
                raise ValueError(f"unsupported V5 CFM {cfm!r}")

    def _obj_key(self, num: int, gen: int, aes: bool) -> bytes:
        import hashlib
        import struct

        ext = struct.pack("<I", num)[:3] + struct.pack("<I", gen)[:2]
        salt = b"sAlT" if aes else b""
        d = hashlib.md5(self.key + ext + salt).digest()
        return d[: min(self.length + 5, 16)]

    def decrypt(self, num: int, gen: int, data: bytes, kind: str) -> bytes:
        cfm = self.stm_cfm if kind == "stream" else self.str_cfm
        if cfm == "Identity" or not data:
            return data
        if cfm == "AESV3":  # V5: the file key directly, no object key
            return _aes_cbc_decrypt(self.key, data)
        if cfm == "AESV2":
            return _aes_cbc_decrypt(self._obj_key(num, gen, True), data)
        return _rc4(self._obj_key(num, gen, False), data)


class PdfDocument:
    """Parsed PDF: object store with lazy resolution through classic
    xref tables, xref streams, and object streams."""

    def __init__(self, data: bytes, max_stream_bytes: int = 64 << 20):
        self.data = data
        self.max_stream_bytes = max_stream_bytes
        self.offsets: dict = {}      # obj num -> byte offset
        self.compressed: dict = {}   # obj num -> (container num, index)
        self.trailer: dict = {}
        self._cache: dict = {}
        self._objstm_cache: dict = {}
        self._handler = None
        self._load_xref()
        if "Encrypt" in self.trailer:
            # resolve the Encrypt dict BEFORE installing the handler:
            # it is itself never encrypted (§7.6 exemption), and get()
            # only decrypts once self._handler is set
            enc = self.resolve(self.trailer["Encrypt"])
            if not isinstance(enc, dict):
                raise ValueError("malformed /Encrypt (reject)")
            ids = self.resolve(self.trailer.get("ID"))
            id0 = ids[0] if isinstance(ids, list) and ids \
                and isinstance(ids[0], bytes) else b""
            self._handler = _StdSecurityHandler(enc, id0, self.resolve)
            # pre-handler cache entries stay: the only objects touched
            # so far are the Encrypt dict (and possibly its /O /U),
            # which the spec exempts from encryption

    # -- xref machinery ---------------------------------------------------
    def _load_xref(self):
        data = self.data
        tail = data[-2048:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m is None:
            # damaged trailer: fall back to a raw object scan
            self._scan_objects()
            return
        pos = int(m.group(1))
        seen = set()
        while pos and pos not in seen and 0 <= pos < len(data):
            seen.add(pos)
            lx = _Lexer(data, pos)
            lx._skip_ws()
            if data[lx.pos : lx.pos + 4] == b"xref":
                pos = self._classic_xref(lx.pos + 4)
            else:
                pos = self._xref_stream(lx)
        if not self.offsets and not self.compressed:
            self._scan_objects()

    def _classic_xref(self, pos: int) -> int:
        data = self.data
        p = pos
        while True:
            m = re.match(rb"\s*(\d+)\s+(\d+)\s*", data[p:])
            if not m:
                break
            first, count = int(m.group(1)), int(m.group(2))
            if count > _MAX_OBJECTS:
                raise ValueError("xref section count past bound")
            p += m.end()
            for i in range(count):
                ent = data[p : p + 20]
                em = re.match(rb"(\d{10})\s+(\d{5})\s+([nf])", ent)
                if not em:
                    raise ValueError("malformed xref entry")
                if em.group(3) == b"n":
                    self.offsets.setdefault(first + i, int(em.group(1)))
                p += 20
        tm = re.search(rb"trailer", data[p : p + 64])
        if not tm:
            return 0
        lx = _Lexer(data, p + tm.end())
        tdict = lx.parse()
        for k, v in tdict.items():
            self.trailer.setdefault(k, v)
        nxt = tdict.get("Prev")
        # hybrid files carry /XRefStm alongside the classic table
        xs = tdict.get("XRefStm")
        if isinstance(xs, int):
            self._xref_stream(_Lexer(data, xs))
        return int(nxt) if isinstance(nxt, int) else 0

    def _xref_stream(self, lx: "_Lexer") -> int:
        data = self.data
        m = re.match(rb"\s*(\d+)\s+(\d+)\s+obj", data[lx.pos :])
        if not m:
            raise ValueError("no xref table or xref stream at startxref")
        lx.pos += m.end()
        obj = lx.parse()
        if not isinstance(obj, Stream):
            raise ValueError("xref stream object is not a stream")
        payload = self.decode_stream(obj)
        wids = [int(w) for w in obj.dict.get("W", [])]
        if len(wids) != 3 or any(w < 0 or w > 8 for w in wids):
            raise ValueError("bad /W in xref stream")
        size = int(obj.dict.get("Size", 0))
        index = obj.dict.get("Index", [0, size])
        index = [int(x) for x in index]
        rowlen = sum(wids)
        p = 0

        def field(width):
            nonlocal p
            if width == 0:
                return 1  # defaulted type field
            v = int.from_bytes(payload[p : p + width], "big")
            p += width
            return v

        for k in range(0, len(index), 2):
            first, count = index[k], index[k + 1]
            if count > _MAX_OBJECTS:
                raise ValueError("xref stream count past bound")
            for i in range(count):
                if p + rowlen > len(payload):
                    break
                t = field(wids[0])
                f2 = field(wids[1])
                f3 = field(wids[2])
                num = first + i
                if t == 1:
                    self.offsets.setdefault(num, f2)
                elif t == 2:
                    self.compressed.setdefault(num, (f2, f3))
        for k, v in obj.dict.items():
            if k not in ("W", "Index", "Filter", "DecodeParms", "Length",
                         "Type"):
                self.trailer.setdefault(k, v)
        nxt = obj.dict.get("Prev")
        return int(nxt) if isinstance(nxt, int) else 0

    def _scan_objects(self):
        """Damaged-xref fallback: index every `N G obj` in the file —
        pdftotext-style resilience for truncated tails."""
        for m in re.finditer(rb"(\d+)\s+\d+\s+obj\b", self.data):
            self.offsets[int(m.group(1))] = m.start()
        lx_pos = self.data.rfind(b"trailer")
        if lx_pos >= 0:
            try:
                self.trailer.update(_Lexer(self.data, lx_pos + 7).parse())
            except Exception:
                pass
        if "Root" not in self.trailer:
            # last resort: any object with /Type /Catalog
            for num in list(self.offsets):
                try:
                    obj = self.get(num)
                except Exception:
                    continue
                if isinstance(obj, dict) and obj.get("Type") == "Catalog":
                    self.trailer["Root"] = Ref(num, 0)
                    break

    # -- object access ----------------------------------------------------
    def get(self, num: int):
        if num in self._cache:
            return self._cache[num]
        if len(self._cache) > _MAX_OBJECTS:
            raise ValueError("object count past bound")
        if num in self.offsets:
            pos = self.offsets[num]
            m = re.match(rb"\s*(\d+)\s+(\d+)\s+obj", self.data[pos:])
            if not m or int(m.group(1)) != num:
                raise ValueError(f"object {num} not at its xref offset")
            lx = _Lexer(self.data, pos + m.end())
            obj = lx.parse()
            if self._handler is not None:
                obj = self._decrypt_object(num, int(m.group(2)), obj)
        elif num in self.compressed:
            container, idx = self.compressed[num]
            # ObjStm interiors are NOT encrypted (§7.6 exemption): the
            # container stream was decrypted as its own object
            obj = self._from_objstm(container, idx, num)
        else:
            raise ValueError(f"object {num} unknown to the xref")
        self._cache[num] = obj
        return obj

    def _decrypt_object(self, num: int, gen: int, obj, depth: int = 0):
        """Apply the security handler to every string/stream payload of
        a directly-stored object (Algorithm 1 per-object keys). XRef
        streams are exempt by spec — they were consumed during
        _load_xref before the handler existed, and a /Type/XRef stream
        reached here is left untouched."""
        if depth > _MAX_DEPTH:
            raise ValueError("object nesting too deep")
        h = self._handler
        if isinstance(obj, Stream):
            if self.resolve(obj.dict.get("Type")) == "XRef":
                return obj
            obj.dict = self._decrypt_object(num, gen, obj.dict, depth + 1)
            obj.raw = h.decrypt(num, gen, obj.raw, "stream")
            return obj
        if isinstance(obj, bytes):
            return h.decrypt(num, gen, obj, "string")
        if isinstance(obj, dict):
            return {k: self._decrypt_object(num, gen, v, depth + 1)
                    for k, v in obj.items()}
        if isinstance(obj, list):
            return [self._decrypt_object(num, gen, v, depth + 1)
                    for v in obj]
        return obj

    def _from_objstm(self, container: int, idx: int, want: int):
        if container not in self._objstm_cache:
            stm = self.get(container)
            if not isinstance(stm, Stream) \
                    or stm.dict.get("Type") != "ObjStm":
                raise ValueError(f"object {container} is not an ObjStm")
            payload = self.decode_stream(stm)
            n = int(stm.dict.get("N", 0))
            first = int(stm.dict.get("First", 0))
            header = payload[:first]
            nums = [int(x) for x in re.findall(rb"\d+", header)][: 2 * n]
            table = {}
            for k in range(0, len(nums) - 1, 2):
                table[nums[k]] = first + nums[k + 1]
            self._objstm_cache[container] = (payload, table)
        payload, table = self._objstm_cache[container]
        if want not in table:
            raise ValueError(f"object {want} not in ObjStm {container}")
        return _Lexer(payload, table[want]).parse()

    def resolve(self, obj):
        depth = 0
        while isinstance(obj, Ref):
            obj = self.get(obj.num)
            depth += 1
            if depth > _MAX_DEPTH:
                raise ValueError("reference chain too deep")
        return obj

    # -- stream decoding ---------------------------------------------------
    def decode_stream(self, stm: Stream) -> bytes:
        filters = self.resolve(stm.dict.get("Filter"))
        parms = self.resolve(stm.dict.get("DecodeParms"))
        if filters is None:
            chain, parm_list = [], []
        elif isinstance(filters, list):
            chain = [str(self.resolve(f)) for f in filters]
            parm_list = parms if isinstance(parms, list) else [parms]
        else:
            chain, parm_list = [str(filters)], [parms]
        data = stm.raw
        for i, f in enumerate(chain):
            pm = self.resolve(parm_list[i]) if i < len(parm_list) else None
            if f == "FlateDecode":
                data = _inflate_bounded(data, self.max_stream_bytes)
                if isinstance(pm, dict):
                    pred = int(self.resolve(pm.get("Predictor", 1)) or 1)
                    if pred >= 10:
                        cols = int(self.resolve(pm.get("Columns", 1)) or 1)
                        colors = int(self.resolve(pm.get("Colors", 1)) or 1) \
                            * ((int(self.resolve(
                                pm.get("BitsPerComponent", 8)) or 8) + 7) // 8)
                        data = _png_unpredict(data, colors, cols)
                    elif pred != 1:
                        raise ValueError(f"unsupported predictor {pred}")
            elif f == "ASCIIHexDecode":
                hx = re.sub(rb"[^0-9A-Fa-f]", b"",
                            data.split(b">")[0])
                if len(hx) % 2:
                    hx += b"0"
                data = bytes.fromhex(hx.decode("ascii"))
            elif f == "ASCII85Decode":
                data = _a85(data)
            elif f == "LZWDecode":
                ec = 1
                if isinstance(pm, dict):
                    ec = int(self.resolve(pm.get("EarlyChange", 1)) or 0)
                data = _lzw_decode(data, self.max_stream_bytes, ec)
            elif f == "RunLengthDecode":
                out = bytearray()
                p = 0
                while p < len(data):
                    ln = data[p]
                    p += 1
                    if ln == 128:
                        break
                    if ln < 128:
                        out += data[p : p + ln + 1]
                        p += ln + 1
                    else:
                        if p < len(data):
                            out += bytes([data[p]]) * (257 - ln)
                            p += 1
                    if len(out) > self.max_stream_bytes:
                        raise ValueError("decoded stream past bound")
                data = bytes(out)
            else:
                raise ValueError(f"unsupported stream filter {f!r}")
            if len(data) > self.max_stream_bytes:
                raise ValueError("decoded stream past bound")
        return data

    # -- page tree ----------------------------------------------------------
    def pages(self, max_pages: int = 10_000) -> list:
        """[(page_dict, resources_dict)] in document order — /Resources
        is inheritable from the /Pages ancestors, so the walk carries it
        down (the attribute a text extractor actually needs)."""
        root = self.resolve(self.trailer.get("Root"))
        if not isinstance(root, dict):
            raise ValueError("no /Root catalog")
        tree = self.resolve(root.get("Pages"))
        out: list = []
        seen: set = set()

        def walk(node, inherited_res, depth=0):
            if node is None or depth > _MAX_DEPTH or len(out) >= max_pages:
                return
            node = self.resolve(node)
            if not isinstance(node, dict):
                return
            ident = id(node)
            if ident in seen:
                return
            seen.add(ident)
            res = self.resolve(node.get("Resources")) or inherited_res
            t = node.get("Type")
            if t == "Page":
                out.append((node, res if isinstance(res, dict) else {}))
            else:
                for kid in self.resolve(node.get("Kids")) or []:
                    walk(kid, res, depth + 1)

        walk(tree, {})
        return out


# -- font decoding ----------------------------------------------------------

#: practical Adobe-Glyph-List subset for /Differences overrides: ASCII
#: single-char names resolve directly; these cover the punctuation,
#: digit, ligature, and dash names real PDF writers emit. uniXXXX and
#: uXXXX[XX] forms are parsed structurally.
_GLYPH_NAMES = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~", "quoteleft": "‘",
    "quoteright": "’", "quotedblleft": "“",
    "quotedblright": "”", "endash": "–", "emdash": "—",
    "bullet": "•", "ellipsis": "…", "fi": "ﬁ",
    "fl": "ﬂ", "dagger": "†", "daggerdbl": "‡",
    "section": "§", "paragraph": "¶", "copyright": "©",
    "registered": "®", "trademark": "™", "degree": "°",
    "minus": "−", "multiply": "×", "divide": "÷",
    "germandbls": "ß", "adieresis": "ä", "odieresis": "ö",
    "udieresis": "ü", "eacute": "é", "egrave": "è",
    "agrave": "à", "ccedilla": "ç", "ntilde": "ñ",
}


def _glyph_to_char(name: str) -> str:
    if len(name) == 1:
        return name
    if name in _GLYPH_NAMES:
        return _GLYPH_NAMES[name]
    m = re.fullmatch(r"uni([0-9A-Fa-f]{4})", name)
    if m:
        return chr(int(m.group(1), 16))
    m = re.fullmatch(r"u([0-9A-Fa-f]{4,6})", name)
    if m:
        return chr(int(m.group(1), 16))
    return "�"


_BFCHAR_RE = re.compile(
    rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(
    rb"beginbfrange(.*?)endbfrange", re.S)
_HEX_RE = re.compile(rb"<([0-9A-Fa-f]+)>")
_CODESPACE_RE = re.compile(
    rb"begincodespacerange\s*<([0-9A-Fa-f]+)>", re.S)


def _parse_tounicode(cmap: bytes):
    """(code_bytes, {code:int -> str}) from a ToUnicode CMap — bfchar
    entries and bfrange in both destination forms (hex start value or
    array of hex strings)."""
    m = _CODESPACE_RE.search(cmap)
    nbytes = (len(m.group(1)) // 2) if m else 1
    table: dict = {}

    def utf16(hx: bytes) -> str:
        return bytes.fromhex(hx.decode("ascii")).decode(
            "utf-16-be", "replace")

    for body in _BFCHAR_RE.findall(cmap):
        hexes = _HEX_RE.findall(body)
        for i in range(0, len(hexes) - 1, 2):
            table[int(hexes[i], 16)] = utf16(hexes[i + 1])
    for body in _BFRANGE_RE.findall(cmap):
        pos = 0
        while True:
            m3 = re.match(
                rb"\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*", body[pos:])
            if not m3:
                break
            lo, hi = int(m3.group(1), 16), int(m3.group(2), 16)
            pos += m3.end()
            if pos < len(body) and body[pos : pos + 1] == b"[":
                end = body.find(b"]", pos)
                dsts = _HEX_RE.findall(body[pos:end])
                for k, d in enumerate(dsts):
                    if lo + k <= hi:
                        table[lo + k] = utf16(d)
                pos = end + 1
            else:
                m4 = re.match(rb"<([0-9A-Fa-f]+)>", body[pos:])
                if not m4:
                    break
                base_hex = m4.group(1)
                base = int(base_hex, 16)
                pos += m4.end()
                span = min(hi - lo, 1 << 16)
                width = len(base_hex)
                for k in range(span + 1):
                    table[lo + k] = utf16(
                        format(base + k, f"0{width}x").encode())
    return nbytes, table


class _Font:
    """code bytes → text for one page font resource."""

    def __init__(self, doc: PdfDocument, font_dict: dict):
        self.nbytes = 1
        self.table: dict | None = None
        self.base: str = "latin1"
        self.diffs: dict = {}
        fd = doc.resolve(font_dict) or {}
        tu = doc.resolve(fd.get("ToUnicode"))
        if isinstance(tu, Stream):
            try:
                self.nbytes, table = _parse_tounicode(doc.decode_stream(tu))
                self.table = table
                return
            except Exception:
                self.table = None
        if str(fd.get("Subtype", "")) == "Type0":
            # CID font without a usable ToUnicode: 2-byte codes,
            # unmappable -> replacement (counted by the caller)
            self.nbytes = 2
            self.table = {}
            return
        enc = doc.resolve(fd.get("Encoding"))
        if isinstance(enc, dict):
            base = str(enc.get("BaseEncoding", "") or "")
            diffs = doc.resolve(enc.get("Differences"))
            if isinstance(diffs, list):
                code = 0
                for item in diffs:
                    if isinstance(item, (int, float)):
                        code = int(item)
                    elif isinstance(item, Name):
                        self.diffs[code] = _glyph_to_char(str(item))
                        code += 1
            enc = base
        enc = str(enc or "")
        if enc == "WinAnsiEncoding":
            self.base = "cp1252"
        elif enc == "MacRomanEncoding":
            self.base = "mac_roman"
        else:
            self.base = "latin1"

    def decode(self, raw: bytes) -> str:
        if self.table is not None:
            out = []
            step = self.nbytes
            for i in range(0, len(raw) - step + 1, step):
                code = int.from_bytes(raw[i : i + step], "big")
                out.append(self.table.get(code, "�"))
            return "".join(out)
        if self.diffs:
            return "".join(
                self.diffs.get(b, bytes([b]).decode(self.base, "replace"))
                for b in raw)
        return raw.decode(self.base, "replace")


# -- content-stream interpretation -------------------------------------------

_OPER_RE = re.compile(rb"[A-Za-z'\"][A-Za-z0-9*'\"]*")
#: TJ kerning adjustment (thousandths of an em, positive = leftward)
#: beyond which a word gap is assumed — the classic extractor threshold
_TJ_SPACE_THRESHOLD = 180.0


def _page_text(doc: PdfDocument, content: bytes, resources: dict,
               depth: int = 0) -> str:
    """Linearized text of one content stream: BT/ET blocks, the Tj/TJ/
    '/" show operators, Td/TD/T*/Tm line breaks, /Do form recursion."""
    if depth > 8:
        return ""
    fonts_res = doc.resolve(resources.get("Font")) \
        if isinstance(resources, dict) else {}
    xobjs = doc.resolve(resources.get("XObject")) \
        if isinstance(resources, dict) else {}
    font_cache: dict = {}
    cur_font: _Font | None = None
    out: list = []
    line: list = []
    stack: list = []
    lx = _Lexer(content)
    n = len(content)

    def flush_line():
        if line:
            text = "".join(line).strip()
            if text:
                out.append(text)
            line.clear()

    def show(raw: bytes):
        nonlocal cur_font
        f = cur_font or _Font(doc, {})
        line.append(f.decode(raw))

    while True:
        lx._skip_ws()
        if lx.pos >= n:
            break
        c = content[lx.pos]
        if c in b"/<([" or c in b"+-." or 0x30 <= c <= 0x39:
            try:
                stack.append(lx.parse())
            except ValueError:
                lx.pos += 1
            continue
        m = _OPER_RE.match(content, lx.pos)
        if not m:
            lx.pos += 1
            continue
        op = m.group(0)
        lx.pos = m.end()
        if op == b"BI":
            # inline image: skip to EI after the ID marker (binary body)
            idp = content.find(b"ID", lx.pos)
            eip = content.find(b"EI", idp + 2) if idp >= 0 else -1
            lx.pos = (eip + 2) if eip >= 0 else n
            stack.clear()
            continue
        if op == b"Tf" and len(stack) >= 2:
            fname = stack[-2]
            if isinstance(fname, Name):
                key = str(fname)
                if key not in font_cache:
                    fdict = doc.resolve(fonts_res.get(key)) \
                        if isinstance(fonts_res, dict) else None
                    font_cache[key] = _Font(doc, fdict or {})
                cur_font = font_cache[key]
        elif op == b"Tj" and stack and isinstance(stack[-1], bytes):
            show(stack[-1])
        elif op in (b"'", b'"'):
            flush_line()
            if stack and isinstance(stack[-1], bytes):
                show(stack[-1])
        elif op == b"TJ" and stack and isinstance(stack[-1], list):
            for item in stack[-1]:
                if isinstance(item, bytes):
                    show(item)
                elif isinstance(item, (int, float)) \
                        and -item > _TJ_SPACE_THRESHOLD:
                    line.append(" ")
        elif op in (b"Td", b"TD", b"T*"):
            flush_line()
        elif op == b"Tm":
            flush_line()
        elif op == b"ET":
            flush_line()
        elif op == b"Do" and stack and isinstance(stack[-1], Name):
            try:
                xo = doc.resolve(xobjs.get(str(stack[-1]))) \
                    if isinstance(xobjs, dict) else None
                if isinstance(xo, Stream) \
                        and str(xo.dict.get("Subtype", "")) == "Form":
                    inner_res = doc.resolve(xo.dict.get("Resources")) \
                        or resources
                    sub = _page_text(doc, doc.decode_stream(xo),
                                     inner_res, depth + 1)
                    if sub:
                        out.append(sub)
            except Exception:
                pass
        stack.clear()
    flush_line()
    return "\n".join(out)


def extract_pdf_text(
    blob: bytes,
    max_pages: int = 10_000,
    max_stream_bytes: int = 64 << 20,
):
    """(text, title, n_pages, n_rejected_pages) for one PDF blob.
    Raises ValueError for non-PDF/corrupt/encrypted input (the Spark
    operator maps that to the NULL row); a page whose content stream
    fails loses only itself."""
    if not blob or not blob.startswith(b"%PDF-"):
        raise ValueError("no %PDF- header")
    doc = PdfDocument(blob, max_stream_bytes=max_stream_bytes)
    pages = doc.pages(max_pages=max_pages)
    if not pages:
        raise ValueError("no pages in the page tree")
    parts, n_rej = [], 0
    for page, res in pages:
        try:
            contents = doc.resolve(page.get("Contents"))
            if isinstance(contents, list):
                body = b"\n".join(
                    doc.decode_stream(doc.resolve(c))
                    for c in contents
                    if isinstance(doc.resolve(c), Stream))
            elif isinstance(contents, Stream):
                body = doc.decode_stream(contents)
            else:
                raise ValueError("page has no content stream")
            text = _page_text(doc, body, res)
        except Exception:
            n_rej += 1
            continue
        if text:
            parts.append(text)
    title = None
    try:
        info = doc.resolve(doc.trailer.get("Info"))
        if isinstance(info, dict):
            t = doc.resolve(info.get("Title"))
            if isinstance(t, bytes):
                if t.startswith(b"\xfe\xff"):
                    title = t[2:].decode("utf-16-be", "replace")
                else:
                    title = t.decode("latin1", "replace")
    except Exception:
        title = None
    return "\n\n".join(parts), title, len(pages), n_rej


def pdf_texts(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    max_pages: int = 10_000,
    max_stream_bytes: int = 64 << 20,
) -> DataFrame:
    """(id, title, text, n_chars, n_pages, n_rejected_pages) per PDF
    blob — one document per file, ready for the documents-table
    operators. Non-PDF/corrupt/encrypted blobs emit ONE all-NULL row
    (the multimodal reject convention). One Arrow map pass, zero
    shuffle."""
    id_type = dict(df.dtypes)[id_col]
    src = df.select(F.col(id_col).alias("id"), F.col(content_col).alias("c"))

    def run(batches):
        # worker imports THIS package: executors need it importable
        # (pip-installed or shipped via --py-files) — the normal library
        # deployment
        import pandas as _pd

        from apache_pinot_spark.operators.pdftext import extract_pdf_text

        cols = ("id", "title", "text", "n_chars", "n_pages",
                "n_rejected_pages")
        for pdf in batches:
            out = {k: [] for k in cols}
            for mid, blob in zip(pdf["id"], pdf["c"]):
                out["id"].append(mid)
                try:
                    text, title, n_pages, n_rej = extract_pdf_text(
                        bytes(blob) if blob is not None else b"",
                        max_pages=max_pages,
                        max_stream_bytes=max_stream_bytes)
                except Exception:
                    for k in cols[1:]:
                        out[k].append(None)
                    continue
                out["title"].append(title)
                out["text"].append(text)
                out["n_chars"].append(len(text))
                out["n_pages"].append(n_pages)
                out["n_rejected_pages"].append(n_rej)
            yield _pd.DataFrame(out)

    out = src.mapInPandas(
        run,
        schema=f"id {id_type}, title STRING, text STRING, n_chars INT, "
               "n_pages INT, n_rejected_pages INT",
    )
    return out.withColumnRenamed("id", id_col)


def pdf_to_documents(
    spark,
    path_glob: str,
    min_text_chars: int = 200,
    max_pages: int = 10_000,
    max_stream_bytes: int = 64 << 20,
) -> DataFrame:
    """One-call PDF-corpus ingest: *.pdf files → (doc_id, title, text,
    n_chars, n_pages, source) in the documents-table shape (source =
    the file's directory name — the usual dump layout keys provenance
    by folder), ready for operators/pipeline.curate_corpus. Reads whole
    files via the binaryFile source (one task per file, the WARC-tier
    contract); rejects and sub-threshold texts drop."""
    files = spark.read.format("binaryFile").load(path_glob)
    texts = pdf_texts(files, content_col="content", id_col="path",
                      max_pages=max_pages,
                      max_stream_bytes=max_stream_bytes)
    return (
        texts.filter(F.col("text").isNotNull()
                     & (F.col("n_chars") >= min_text_chars))
        .select(
            F.xxhash64(F.col("path")).alias("doc_id"),
            "title", "text",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            "n_pages",
            F.element_at(F.split(F.col("path"), "/"), -2).alias("source"),
        )
    )
