"""Text extraction from PDF blobs — stdlib-only, header-and-stream
level (no external PDF library).

A crawl's document corpus is full of PDFs; for training-data intake
the needed operation is "give me the text and basic structure", not
full rendering. This module parses the COS object layer sequentially
(object regexes — no xref required, which also makes it robust to the
truncated/append-updated files crawls actually see), inflates
FlateDecode content streams with ``zlib``, and evaluates the
text-showing operators of each page content stream:

- ``(...) Tj`` and ``(...) '`` — literal strings with the full escape
  set (``\\n \\r \\t \\b \\f \\( \\) \\\\``, octal ``\\ooo``, and
  line continuations);
- ``<...> Tj`` — hex strings (single-byte codes);
- ``[...] TJ`` — arrays interleaving strings with kerning numbers
  (numbers are ignored; large negative kerning is NOT turned into
  spaces — that heuristic is a renderer concern);
- ``T* '`` / ``Td`` / ``TD`` / ``ET`` boundaries insert separators so
  distinct show operations don't fuse into one word.

Composite (CID / Type0) fonts — the dominant class in post-2010
real-world PDFs — are decoded through the **embedded ToUnicode CMap**
(``beginbfchar``/``beginbfrange`` sections, both the continuous-range
and array-destination forms, destinations interpreted as UTF-16BE):
the page's ``/Resources → /Font`` dict maps font names to font
objects, a ``Tf`` operator tracks the current font, and 2-byte CIDs
in show strings are looked up in the font's CMap. A Type0 font
WITHOUT a ToUnicode CMap still has its text suppressed (there is
nothing to decode it with) and the document stays flagged
``has_cid=1`` — the same quarantine-taxonomy spirit as the media
codecs.

Reference parity: none — the reference ingests satellite granules
(`/root/reference/trollflow2/launcher.py`); PDF intake is
beyond-reference training-data surface.
"""

from __future__ import annotations

import functools
import re
import zlib

# Optional native cipher backend (guide §4.2: hand bulk crypto to
# native code). The pure-Python implementations below remain the
# reference — tests pin them against FIPS-197 / SP800-38A / RC4
# vectors and both paths produce identical bytes — but when the
# public `cryptography` package is importable, the CBC/RC4 entry
# points route through its C primitives: the /R 6 hardened KDF alone
# encrypts ~8k AES blocks per evaluation by spec, which is seconds of
# pure Python per worker and microseconds in native code. The import
# happens on the first cipher call, so unencrypted PDFs never pay it.
@functools.lru_cache(maxsize=1)
def _native():
    """``(Cipher, AES, CBC, ARC4)`` from `cryptography`, or ``None`` in a
    stdlib-only environment (the pure-Python paths then serve)."""
    try:
        from cryptography.hazmat.primitives.ciphers import Cipher
        from cryptography.hazmat.primitives.ciphers.algorithms import AES
        from cryptography.hazmat.primitives.ciphers.modes import CBC

        try:
            from cryptography.hazmat.decrepit.ciphers.algorithms import ARC4
        except ImportError:  # older package layout
            from cryptography.hazmat.primitives.ciphers.algorithms import ARC4
    except ImportError:
        return None
    return Cipher, AES, CBC, ARC4


# RC4 key sizes the native backend accepts (bits); PDF object keys can
# be 40..128 bits in 8-bit steps, but published test vectors use 24/32-
# bit toy keys - those fall back to the pure-Python path.
_NARC4_BITS = frozenset((40, 56, 64, 80, 128, 160, 192, 256))


def _ncbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    cipher, aes, cbc, _ = _native()
    enc = cipher(aes(key), cbc(iv)).encryptor()
    return enc.update(data) + enc.finalize()


def _ncbc_decrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    cipher, aes, cbc, _ = _native()
    dec = cipher(aes(key), cbc(iv)).decryptor()
    return dec.update(data) + dec.finalize()


_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b(.*?)\bendobj", re.DOTALL)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.DOTALL)
_ESCAPES = {
    ord("n"): "\n",
    ord("r"): "\r",
    ord("t"): "\t",
    ord("b"): "\b",
    ord("f"): "\f",
    ord("("): "(",
    ord(")"): ")",
    ord("\\"): "\\",
}


def _literal_string(data: bytes, start: int) -> tuple[str, int]:
    """Decode a PDF literal string starting at the '(' at ``start``;
    returns (text, index after the closing ')')."""
    out: list[str] = []
    depth = 1
    i = start + 1
    n = len(data)
    while i < n and depth:
        c = data[i]
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = data[i]
            if e in _ESCAPES:
                out.append(_ESCAPES[e])
                i += 1
            elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                oct_digits = []
                while i < n and len(oct_digits) < 3 and 0x30 <= data[i] <= 0x37:
                    oct_digits.append(data[i] - 0x30)
                    i += 1
                code = 0
                for d in oct_digits:
                    code = code * 8 + d
                out.append(chr(code & 0xFF))
            elif e in (0x0A, 0x0D):  # line continuation
                i += 1
                if e == 0x0D and i < n and data[i] == 0x0A:
                    i += 1
            else:
                out.append(chr(e))
                i += 1
        elif c == 0x28:  # (
            depth += 1
            out.append("(")
            i += 1
        elif c == 0x29:  # )
            depth -= 1
            if depth:
                out.append(")")
            i += 1
        else:
            out.append(chr(c))
            i += 1
    return "".join(out), i


def _hex_bytes(data: bytes, start: int) -> tuple[bytes, int]:
    """Raw bytes of a PDF hex string starting at the '<' at ``start``;
    returns (bytes, index after the closing '>')."""
    end = data.index(b">", start)
    hexpart = re.sub(rb"[^0-9A-Fa-f]", b"", data[start + 1 : end])
    if len(hexpart) % 2:
        hexpart += b"0"
    return bytes.fromhex(hexpart.decode("ascii")), end + 1


def _skip_dict(data: bytes, start: int) -> int:
    """Index just past the balanced ``<<...>>`` dictionary starting at
    ``start`` (BDC/DP marked-content and inline-image dicts appear
    inside content streams and must not be parsed as hex strings)."""
    depth, i, n = 0, start, len(data)
    while i < n:
        if data.startswith(b"<<", i):
            depth += 1
            i += 2
        elif data.startswith(b">>", i):
            depth -= 1
            i += 2
            if depth == 0:
                return i
        else:
            i += 1
    return n


_SUPPRESS = object()  # Type0 font with no ToUnicode CMap: show nothing


def _decode_cid(raw: bytes, cmap: dict) -> str:
    """Decode big-endian 2-byte CIDs through a ToUnicode CMap;
    unmapped codes are skipped (nothing meaningful to emit)."""
    out = []
    for j in range(0, len(raw) - 1, 2):
        ch = cmap.get((raw[j] << 8) | raw[j + 1])
        if ch is not None:
            out.append(ch)
    return "".join(out)


def _content_text(data: bytes, fontmaps: dict | None = None) -> list[str]:
    """Evaluate text-showing operators of one content stream; returns
    the shown strings in order (one entry per show op).

    ``fontmaps`` maps content-stream font names (``b"/F1"``) either to
    a ToUnicode CID map (Type0 font — strings decode as 2-byte CIDs)
    or to ``None`` (Type0 WITHOUT a CMap — strings suppressed). Fonts
    absent from the map are simple single-byte fonts (latin-1 pass
    through). ``Tf`` switches the current font."""
    fontmaps = fontmaps or {}
    shows: list[str] = []
    i, n = 0, len(data)
    pending: list[str] = []  # strings seen since the last operator
    cur = object()  # current font's entry: missing-sentinel = simple
    last_name: bytes | None = None  # most recent /Name token (Tf operand)

    def _push(raw: bytes) -> None:
        if cur is _SUPPRESS:
            return
        if isinstance(cur, dict):
            pending.append(_decode_cid(raw, cur))
        else:
            pending.append(raw.decode("latin-1"))

    while i < n:
        c = data[i]
        if c == 0x28:  # (
            text, i = _literal_string(data, i)
            _push(text.encode("latin-1", "replace"))
        elif c == 0x3C:
            if data.startswith(b"<<", i):  # dictionary, not a string
                i = _skip_dict(data, i)
            else:  # < hex string
                try:
                    raw, i = _hex_bytes(data, i)
                except ValueError:  # unterminated run: skip the '<'
                    i += 1
                    continue
                _push(raw)
        elif c == 0x2F:  # /Name token (Tf's font operand among others)
            m = re.match(rb"/([^\s/<>\[\]()%]*)", data[i:])
            last_name = b"/" + m.group(1)
            i += len(m.group(0))
        elif c == 0x5B:  # [ ... ] TJ array: strings gathered by the loop
            i += 1
        elif c == 0x22:  # the '"' show operator (aw ac string ")
            if pending:
                shows.append("".join(pending))
            pending = []
            i += 1
        elif (0x41 <= c <= 0x5A) or (0x61 <= c <= 0x7A) or c == 0x27:
            m = re.match(rb"[A-Za-z'*]+", data[i:])
            op = m.group(0)
            i += len(op)
            if op in (b"Tj", b"TJ", b"'"):
                if pending:
                    shows.append("".join(pending))
                pending = []
            elif op in (b"Td", b"TD", b"T*", b"ET", b"BT"):
                pending = []
            elif op == b"Tf" and last_name is not None:
                if last_name in fontmaps:
                    cm = fontmaps[last_name]
                    cur = cm if cm is not None else _SUPPRESS
                else:
                    cur = object()
        else:
            i += 1
    return shows


_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.DOTALL)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.DOTALL)


def parse_tounicode(data: bytes) -> dict[int, str]:
    """Parse a ToUnicode CMap stream into {CID: unicode string}.

    Handles ``beginbfchar`` single mappings, continuous
    ``beginbfrange`` spans (<lo> <hi> <dstBase>, destination
    incrementing), and the array-destination bfrange form
    (<lo> <hi> [<d0> <d1> ...]). Destination hex is UTF-16BE, so a
    single CID may map to a multi-code-unit string."""
    cmap: dict[int, str] = {}

    def u16(hexs: bytes) -> str:
        return bytes.fromhex(hexs.decode("ascii")).decode(
            "utf-16-be", "replace"
        )

    for sec in _BFCHAR_RE.findall(data):
        for src, dst in re.findall(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", sec
        ):
            cmap[int(src, 16)] = u16(dst)
    for sec in _BFRANGE_RE.findall(data):
        for m in re.finditer(
            rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*"
            rb"(\[(?:\s*<[0-9A-Fa-f]+>)+\s*\]|<[0-9A-Fa-f]+>)",
            sec,
        ):
            lo, hi = int(m.group(1), 16), int(m.group(2), 16)
            dst = m.group(3)
            if dst.startswith(b"["):
                dsts = re.findall(rb"<([0-9A-Fa-f]+)>", dst)
                for k, dh in enumerate(dsts):
                    if lo + k <= hi:
                        cmap[lo + k] = u16(dh)
            else:
                base = bytes.fromhex(dst[1:-1].decode("ascii"))
                start, width = int.from_bytes(base, "big"), len(base)
                for k in range(hi - lo + 1):
                    cmap[lo + k] = (start + k).to_bytes(
                        width, "big"
                    ).decode("utf-16-be", "replace")
    return cmap


_OBJSTM_TYPE_RE = re.compile(rb"/Type\s*/ObjStm\b")
_ENCRYPT_RE = re.compile(rb"/Encrypt\s+(\d+)\s+\d+\s+R")


# --- standard security handler: the empty-user-password case ----------------
#
# The overwhelmingly common encrypted PDF in a crawl is
# "owner-restricted": encrypted so viewers enforce print/copy flags,
# but openable by ANYONE because the user password is empty — every
# viewer opens it silently. ISO 32000-1 §7.6.3: derive the file key
# from the EMPTY padded password (Algorithm 2), check it against /U
# (Algorithm 6), then decrypt streams per-object (Algorithm 1) with
# RC4 (/V 1-2) or AES-128-CBC (/V 4 /AESV2). A wrong or real user
# password fails the /U check and the document stays encrypted=1 with
# text suppressed — decryption is attempted, never forced. Both
# ciphers are from-scratch stdlib-only (house style: VP8/JPEG/zstd/
# brotli are too), pinned against FIPS-197 / RFC 6229-class vectors
# in tests/test_pdftext.py.

_PDF_PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


def _rc4(key: bytes, data: bytes) -> bytes:
    """RC4 stream cipher (symmetric: encrypts and decrypts)."""
    native = _native()
    if native is not None and len(key) * 8 in _NARC4_BITS:
        cipher, _, _, arc4 = native
        enc = cipher(arc4(key), None).encryptor()
        return enc.update(data) + enc.finalize()
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for n, b in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[n] = b ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


def _aes_tables():
    """(sbox, inv_sbox, gmul tables for 9, 11, 13, 14) built once."""
    # S-box via the standard GF(2^8) inverse + affine construction
    p, q, sbox = 1, 1, [0] * 256
    while True:
        p = p ^ ((p << 1) & 0xFF) ^ (0x1B if p & 0x80 else 0)
        q ^= q << 1
        q ^= q << 2
        q ^= q << 4
        q &= 0xFF
        if q & 0x80:
            q ^= 0x09
        sbox[p] = (
            q ^ ((q << 1) | (q >> 7)) ^ ((q << 2) | (q >> 6))
            ^ ((q << 3) | (q >> 5)) ^ ((q << 4) | (q >> 4)) ^ 0x63
        ) & 0xFF
        if p == 1:
            break
    sbox[0] = 0x63
    inv = [0] * 256
    for i, v in enumerate(sbox):
        inv[v] = i

    def gm(a, b):
        r = 0
        for _ in range(8):
            if b & 1:
                r ^= a
            hi = a & 0x80
            a = (a << 1) & 0xFF
            if hi:
                a ^= 0x1B
            b >>= 1
        return r

    mul = {
        c: [gm(c, x) for x in range(256)] for c in (2, 3, 9, 11, 13, 14)
    }
    return sbox, inv, mul


_AES_SBOX, _AES_INV_SBOX, _AES_MUL = _aes_tables()
_AES_RCON = [0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36]


def _aes_expand_key(key: bytes) -> list[list[int]]:
    """AES key schedule for 128/192/256-bit keys: Nr+1 round keys of
    16 bytes each (FIPS-197 §5.2 — the i % Nk == 4 SubWord step for
    Nk = 8 included)."""
    nk = len(key) // 4
    if nk not in (4, 6, 8):
        raise ValueError("AES key must be 16/24/32 bytes")
    nr = {4: 10, 6: 12, 8: 14}[nk]
    w = [list(key[4 * i : 4 * i + 4]) for i in range(nk)]
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]
            t = [_AES_SBOX[b] for b in t]
            t[0] ^= _AES_RCON[i // nk - 1]
        elif nk > 6 and i % nk == 4:
            t = [_AES_SBOX[b] for b in t]
        w.append([a ^ b for a, b in zip(w[i - nk], t)])
    return [sum(w[4 * r : 4 * r + 4], []) for r in range(nr + 1)]


def _aes_decrypt_block(rks: list[list[int]], block: bytes) -> bytes:
    """FIPS-197 InvCipher on one 16-byte block (state is the flat
    column-major byte list, matching the round-key layout; round
    count from the expanded key — 128/192/256 all supported)."""
    nr = len(rks) - 1
    s = [block[i] ^ rks[nr][i] for i in range(16)]
    for rnd in range(nr - 1, 0, -1):
        # InvShiftRows: row r rotates right by r (flat index r + 4c)
        s = [s[(i - 4 * (i % 4)) % 16] for i in range(16)]
        s = [_AES_INV_SBOX[b] for b in s]
        s = [b ^ rks[rnd][i] for i, b in enumerate(s)]
        m = _AES_MUL
        t = list(s)
        for c in range(0, 16, 4):
            a0, a1, a2, a3 = t[c], t[c + 1], t[c + 2], t[c + 3]
            s[c] = m[14][a0] ^ m[11][a1] ^ m[13][a2] ^ m[9][a3]
            s[c + 1] = m[9][a0] ^ m[14][a1] ^ m[11][a2] ^ m[13][a3]
            s[c + 2] = m[13][a0] ^ m[9][a1] ^ m[14][a2] ^ m[11][a3]
            s[c + 3] = m[11][a0] ^ m[13][a1] ^ m[9][a2] ^ m[14][a3]
    s = [s[(i - 4 * (i % 4)) % 16] for i in range(16)]
    s = [_AES_INV_SBOX[b] for b in s]
    return bytes(b ^ rks[0][i] for i, b in enumerate(s))


def _aes_encrypt_block(rks: list[list[int]], block: bytes) -> bytes:
    """FIPS-197 forward cipher on one block — the half the fixture
    authoring and conformance tests need (the crawl path only ever
    decrypts)."""
    nr = len(rks) - 1
    s = [block[i] ^ rks[0][i] for i in range(16)]
    m = _AES_MUL
    for rnd in range(1, nr):
        s = [_AES_SBOX[b] for b in s]
        s = [s[(i + 4 * (i % 4)) % 16] for i in range(16)]
        t = list(s)
        for c in range(0, 16, 4):
            a0, a1, a2, a3 = t[c], t[c + 1], t[c + 2], t[c + 3]
            s[c] = m[2][a0] ^ m[3][a1] ^ a2 ^ a3
            s[c + 1] = a0 ^ m[2][a1] ^ m[3][a2] ^ a3
            s[c + 2] = a0 ^ a1 ^ m[2][a2] ^ m[3][a3]
            s[c + 3] = m[3][a0] ^ a1 ^ a2 ^ m[2][a3]
        s = [b ^ rks[rnd][i] for i, b in enumerate(s)]
    s = [_AES_SBOX[b] for b in s]
    s = [s[(i + 4 * (i % 4)) % 16] for i in range(16)]
    return bytes(b ^ rks[nr][i] for i, b in enumerate(s))


def _aes128_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """PDF AESV2 authoring: PKCS#5-pad, CBC-chain, prepend the IV."""
    pad = 16 - len(data) % 16
    data = data + bytes([pad]) * pad
    if _native() is not None:
        return iv + _ncbc_encrypt(key, iv, data)
    rks = _aes_expand_key(key)
    out = bytearray(iv)
    prev = iv
    for off in range(0, len(data), 16):
        blk = bytes(
            a ^ b for a, b in zip(data[off : off + 16], prev)
        )
        prev = _aes_encrypt_block(rks, blk)
        out += prev
    return bytes(out)


def _aes_tt():
    """T-tables for the fast forward cipher: Te0..Te3 fold SubBytes +
    ShiftRows + MixColumns into four 256-entry 32-bit lookups — the
    classic software-AES construction, used ONLY on the hardened-hash
    hot path (it encrypts ~8k blocks per KDF evaluation by design);
    the readable per-stage implementation stays the reference and the
    tests pin the two paths byte-identical."""
    m = _AES_MUL
    te0 = [0] * 256
    for x in range(256):
        sx = _AES_SBOX[x]
        te0[x] = (m[2][sx] << 24) | (sx << 16) | (sx << 8) | m[3][sx]
    te1 = [((t >> 8) | ((t & 0xFF) << 24)) & 0xFFFFFFFF for t in te0]
    te2 = [((t >> 8) | ((t & 0xFF) << 24)) & 0xFFFFFFFF for t in te1]
    te3 = [((t >> 8) | ((t & 0xFF) << 24)) & 0xFFFFFFFF for t in te2]
    return te0, te1, te2, te3


_TE = _aes_tt()


def _aes_encrypt_block_fast(rk_words: list[int], block: bytes) -> bytes:
    """Forward cipher via T-tables; ``rk_words`` are the round keys as
    big-endian 32-bit column words."""
    te0, te1, te2, te3 = _TE
    s0 = int.from_bytes(block[0:4], "big") ^ rk_words[0]
    s1 = int.from_bytes(block[4:8], "big") ^ rk_words[1]
    s2 = int.from_bytes(block[8:12], "big") ^ rk_words[2]
    s3 = int.from_bytes(block[12:16], "big") ^ rk_words[3]
    nr = len(rk_words) // 4 - 1
    for rnd in range(1, nr):
        t0 = (
            te0[s0 >> 24] ^ te1[(s1 >> 16) & 0xFF]
            ^ te2[(s2 >> 8) & 0xFF] ^ te3[s3 & 0xFF]
            ^ rk_words[4 * rnd]
        )
        t1 = (
            te0[s1 >> 24] ^ te1[(s2 >> 16) & 0xFF]
            ^ te2[(s3 >> 8) & 0xFF] ^ te3[s0 & 0xFF]
            ^ rk_words[4 * rnd + 1]
        )
        t2 = (
            te0[s2 >> 24] ^ te1[(s3 >> 16) & 0xFF]
            ^ te2[(s0 >> 8) & 0xFF] ^ te3[s1 & 0xFF]
            ^ rk_words[4 * rnd + 2]
        )
        t3 = (
            te0[s3 >> 24] ^ te1[(s0 >> 16) & 0xFF]
            ^ te2[(s1 >> 8) & 0xFF] ^ te3[s2 & 0xFF]
            ^ rk_words[4 * rnd + 3]
        )
        s0, s1, s2, s3 = t0, t1, t2, t3
    sb = _AES_SBOX
    out = bytearray(16)
    for i, (a, b, c, d) in enumerate(
        ((s0, s1, s2, s3), (s1, s2, s3, s0), (s2, s3, s0, s1),
         (s3, s0, s1, s2))
    ):
        w = (
            (sb[a >> 24] << 24) | (sb[(b >> 16) & 0xFF] << 16)
            | (sb[(c >> 8) & 0xFF] << 8) | sb[d & 0xFF]
        ) ^ rk_words[4 * nr + i]
        out[4 * i : 4 * i + 4] = w.to_bytes(4, "big")
    return bytes(out)


def _rk_words(key: bytes) -> list[int]:
    return [
        int.from_bytes(bytes(rk[4 * i : 4 * i + 4]), "big")
        for rk in _aes_expand_key(key)
        for i in range(4)
    ]


def _aes_cbc_encrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Raw CBC encrypt, no padding, no IV prefix (the PDF 2.0 key
    wrap and hardened-hash inner cipher use exact-multiple inputs).
    Uses the T-table fast path — this is the KDF's ~8k-blocks-per-
    evaluation hot loop."""
    if len(data) % 16:
        raise ValueError("CBC-nopad needs a 16-byte multiple")
    if _native() is not None:
        return _ncbc_encrypt(key, iv, data)
    rkw = _rk_words(key)
    out = bytearray()
    prev = iv
    for off in range(0, len(data), 16):
        blk = bytes(a ^ b for a, b in zip(data[off : off + 16], prev))
        prev = _aes_encrypt_block_fast(rkw, blk)
        out += prev
    return bytes(out)


def _aes_cbc_decrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Raw CBC decrypt, no padding, no IV prefix."""
    if len(data) % 16:
        raise ValueError("CBC-nopad needs a 16-byte multiple")
    if _native() is not None:
        return _ncbc_decrypt(key, iv, data)
    rks = _aes_expand_key(key)
    out = bytearray()
    prev = iv
    for off in range(0, len(data), 16):
        blk = data[off : off + 16]
        out += bytes(
            a ^ b for a, b in zip(_aes_decrypt_block(rks, blk), prev)
        )
        prev = blk
    return bytes(out)


@functools.lru_cache(maxsize=1024)
def pdf2_hardened_hash(pwd: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B (the /R 6 iterated hash): SHA-256
    seed, then rounds of AES-128-CBC over 64 repetitions of
    (password + K + udata) with the digest function cycling through
    SHA-256/384/512 by the ciphertext's leading-16-byte sum mod 3,
    terminating after >= 64 rounds when the last ciphertext byte
    drops to round - 32. /R 5 (the deprecated Adobe revision) is the
    plain SHA-256(password + salt + udata) — handled by the caller.
    Memoized: ~64 x 128 pure-Python AES blocks per evaluation is the
    spec's deliberate brute-force cost; a crawl batch re-verifying
    the same (password, salt) pair must not re-pay it."""
    import hashlib

    k = hashlib.sha256(pwd + salt + udata).digest()
    i = 0
    while True:
        k1 = (pwd + k[:32] + udata) * 64
        e = _aes_cbc_encrypt_nopad(k[:16], k[16:32], k1)
        mod = sum(e[:16]) % 3
        k = (
            hashlib.sha256(e)
            if mod == 0
            else hashlib.sha384(e)
            if mod == 1
            else hashlib.sha512(e)
        ).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def _aes128_cbc_decrypt(key: bytes, data: bytes) -> bytes | None:
    """PDF AESV2 stream layout: 16-byte IV prefix, CBC body, PKCS#5
    padding. Returns None on malformed framing."""
    if len(data) < 32 or len(data) % 16:
        return None
    if _native() is not None:
        out = bytearray(_ncbc_decrypt(key, data[:16], data[16:]))
        pad = out[-1]
        if not 1 <= pad <= 16:
            return None
        return bytes(out[:-pad])
    rks = _aes_expand_key(key)
    prev = data[:16]
    out = bytearray()
    for off in range(16, len(data), 16):
        blk = data[off : off + 16]
        out += bytes(
            a ^ b for a, b in zip(_aes_decrypt_block(rks, blk), prev)
        )
        prev = blk
    pad = out[-1]
    if not 1 <= pad <= 16:
        return None
    return bytes(out[:-pad])


def _dict_string_bytes(body: bytes, key: bytes) -> bytes | None:
    """Raw bytes of a ``/Key (...)`` or ``/Key <...>`` entry in a COS
    dict body — literal strings honor the binary escape set
    (``\\ooo``, ``\\\\``, ``\\(``, ``\\)``); hex strings pad odd
    length per spec."""
    m = re.search(rb"/" + key + rb"(?![A-Za-z])\s*", body)
    if not m:
        return None
    i = m.end()
    if i >= len(body):
        return None
    if body[i] == ord("<"):
        j = body.index(b">", i)
        hx = re.sub(rb"\s", b"", body[i + 1 : j])
        if len(hx) % 2:
            hx += b"0"
        return bytes.fromhex(hx.decode("latin-1"))
    if body[i] != ord("("):
        return None
    out = bytearray()
    i += 1
    depth = 1
    while i < len(body):
        b = body[i]
        if b == 0x5C and i + 1 < len(body):  # backslash
            nxt = body[i + 1]
            if 0x30 <= nxt <= 0x37:  # octal, up to 3 digits
                j = i + 1
                oct_s = b""
                while j < len(body) and len(oct_s) < 3 and 0x30 <= body[j] <= 0x37:
                    oct_s += bytes([body[j]])
                    j += 1
                out.append(int(oct_s, 8) & 0xFF)
                i = j
                continue
            mapped = {
                ord("n"): 10, ord("r"): 13, ord("t"): 9,
                ord("b"): 8, ord("f"): 12, ord("("): 40,
                ord(")"): 41, ord("\\"): 92,
            }.get(nxt)
            if mapped is not None:
                out.append(mapped)
            i += 2
            continue
        if b == ord("("):
            depth += 1
        elif b == ord(")"):
            depth -= 1
            if depth == 0:
                return bytes(out)
        out.append(b)
        i += 1
    return None


def _try_empty_user_password(
    blob: bytes, bodies: dict[int, bytes]
) -> tuple[bytes, str] | None:
    """Attempt the standard-security-handler open with the EMPTY user
    password: returns ``(file_key, cipher)`` with cipher ``"rc4"`` or
    ``"aes"`` when the /U check passes, else None (unsupported
    revision, missing entries, or a REAL user password)."""
    import hashlib
    import struct

    em = _ENCRYPT_RE.search(blob)
    if not em:
        return None
    enc = bodies.get(int(em.group(1)))
    if enc is None or b"/Standard" not in enc:
        return None
    vm = re.search(rb"/V\s+(\d+)", enc)
    rm = re.search(rb"/R\s+(\d+)", enc)
    pm = re.search(rb"/P\s+(-?\d+)", enc)
    v = int(vm.group(1)) if vm else 0
    r = int(rm.group(1)) if rm else (2 if v == 1 else 3)
    o = _dict_string_bytes(enc, b"O")
    u = _dict_string_bytes(enc, b"U")
    if v == 5:
        # PDF 2.0 (AESV3): /R 5 plain-SHA-256, /R 6 hardened hash;
        # /U = hash(32) + validation salt(8) + key salt(8), /UE wraps
        # the 256-bit file key under the key-salt-derived key
        ue_b = _dict_string_bytes(enc, b"UE")
        if not (u and ue_b) or len(u) < 48 or len(ue_b) < 32:
            return None
        if r not in (5, 6):
            return None
        vsalt, ksalt = u[32:40], u[40:48]
        if r == 5:
            h = hashlib.sha256(b"" + vsalt).digest()
        else:
            h = pdf2_hardened_hash(b"", vsalt)
        if h != u[:32]:
            return None
        ik = (
            hashlib.sha256(b"" + ksalt).digest()
            if r == 5
            else pdf2_hardened_hash(b"", ksalt)
        )
        file_key = _aes_cbc_decrypt_nopad(ik, bytes(16), ue_b[:32])
        return file_key, "aes256"
    if not (o and u and pm) or len(o) < 32 or v not in (1, 2, 4):
        return None
    if r not in (2, 3, 4):
        return None
    cipher = "rc4"
    if v == 4:
        # /CF << /StdCF << /CFM /AESV2|/V2 >> >> with /StmF /StdCF
        if b"/AESV2" in enc:
            cipher = "aes"
        elif b"/V2" not in enc:
            return None
    lm = re.search(rb"/Length\s+(\d+)", enc)
    n = (int(lm.group(1)) // 8) if lm else 5
    if r == 2:
        n = 5
    if v == 4 and cipher == "aes":
        n = 16
    if not 5 <= n <= 16:
        return None
    idm = re.search(
        rb"/ID\s*\[\s*<([0-9A-Fa-f\s]*)>", blob
    )
    id0 = (
        bytes.fromhex(re.sub(rb"\s", b"", idm.group(1)).decode())
        if idm
        else b""
    )
    p_bytes = struct.pack("<i", int(pm.group(1)))
    h = hashlib.md5(_PDF_PAD + o[:32] + p_bytes + id0)
    if r >= 4 and re.search(rb"/EncryptMetadata\s+false", enc):
        h.update(b"\xff\xff\xff\xff")
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    key = key[:n]
    # Algorithm 6: does the empty user password open this file?
    if r == 2:
        ok = _rc4(key, _PDF_PAD) == u[:32]
    else:
        x = hashlib.md5(_PDF_PAD + id0).digest()
        x = _rc4(key, x)
        for i in range(1, 20):
            x = _rc4(bytes(b ^ i for b in key), x)
        ok = x[:16] == u[:16]
    return (key, cipher) if ok else None


def _decrypt_stream(
    key: bytes, cipher: str, num: int, gen: int, data: bytes
) -> bytes | None:
    """Algorithm 1 per-object decryption: object key =
    MD5(file_key + objnum[3 LE] + gennum[2 LE] (+ "sAlT" for AESV2)),
    truncated to min(len+5, 16)."""
    import hashlib

    if cipher == "aes256":
        # /V 5: the file key is used directly for every object
        return _aes128_cbc_decrypt(key, data)
    ok = hashlib.md5(
        key
        + num.to_bytes(3, "little")
        + gen.to_bytes(2, "little")
        + (b"sAlT" if cipher == "aes" else b"")
    ).digest()[: min(len(key) + 5, 16)]
    if cipher == "aes":
        return _aes128_cbc_decrypt(ok, data)
    return _rc4(ok, data)


def _unpack_objstm(body: bytes, data: bytes) -> list[tuple[int, bytes]]:
    """Unpack one ``/Type /ObjStm`` object stream (PDF 1.5+): ``data``
    is the INFLATED stream payload whose first section is ``/N``
    whitespace-separated (objnum, offset) integer pairs; object bodies
    start at ``/First`` and run to the next object's offset. Returns
    [(objnum, body), ...] — malformed headers yield []."""
    nm = re.search(rb"/N\s+(\d+)", body)
    fm = re.search(rb"/First\s+(\d+)", body)
    if not (nm and fm):
        return []
    n, first = int(nm.group(1)), int(fm.group(1))
    ints = re.findall(rb"\d+", data[:first])
    if len(ints) < 2 * n:
        return []
    pairs = [
        (int(ints[2 * i]), int(ints[2 * i + 1])) for i in range(n)
    ]
    out: list[tuple[int, bytes]] = []
    for i, (num, off) in enumerate(pairs):
        lo = first + off
        hi = first + pairs[i + 1][1] if i + 1 < n else len(data)
        if 0 <= lo <= hi <= len(data):
            out.append((num, data[lo:hi]))
    return out


def extract_pdf_text(blob: bytes) -> dict:
    """Parse one PDF blob: concatenated page text (show ops joined
    with spaces, pages with newlines), page count, object count, CID
    flag, encryption flag, producer string.

    PDF 1.5+ **object streams** are resolved: any top-level object
    whose dict says ``/Type /ObjStm`` has its (Flate-inflated) payload
    unpacked — ``/N`` (objnum, offset) header pairs, bodies from
    ``/First`` — and the packed objects (where modern writers put the
    page tree and font dicts) join the object table, so CID/ToUnicode
    decoding reaches fonts that never appear as top-level ``N M obj``
    patterns. Packed objects do not override same-numbered top-level
    ones (sequential scan: the uncompressed body is the one a
    no-xref reader trusts). ``/Encrypt`` in the trailer flags
    ``encrypted=1`` — streams are then ciphertext, so text stays empty
    but the document is accounted, not failed.

    Returns ``{"ok": 0}`` for payloads without a PDF header."""
    if not blob.startswith(b"%PDF-"):
        return {"ok": 0}
    out = {
        "ok": 1,
        "version": blob[5:8].decode("latin-1", "replace"),
        "n_pages": 0,
        "n_objects": 0,
        "has_cid": 0,
        "encrypted": 1 if _ENCRYPT_RE.search(blob) else 0,
        "producer": None,
    }
    page_texts: list[str] = []
    pages: list[tuple[int | None, bytes]] = []  # (content ref, page body)
    bodies: dict[int, bytes] = {}
    gens: dict[int, int] = {}
    raw_streams: dict[int, bytes] = {}
    streams: dict[int, bytes] = {}
    objstms: list[tuple[bytes, bytes]] = []  # (dict body, inflated data)
    for m in _OBJ_RE.finditer(blob):
        num = int(m.group(1))
        bodies[num] = m.group(3)
        gens[num] = int(m.group(2))
        sm = _STREAM_RE.search(m.group(3))
        if sm:
            raw_streams[num] = sm.group(1)
    # empty-user-password open (the owner-restricted crawl case):
    # when the /U check passes, stream bytes decrypt per object BEFORE
    # any Flate inflate; when it fails (real password, unsupported /V)
    # the pipeline below sees the raw bytes unchanged and the text
    # stays suppressed — same accounting as before, never a failure
    enc_open = (
        _try_empty_user_password(blob, bodies)
        if out["encrypted"]
        else None
    )
    for num, data in raw_streams.items():
        body = bodies[num]
        if enc_open is not None:
            dec = _decrypt_stream(
                enc_open[0], enc_open[1], num, gens.get(num, 0), data
            )
            if dec is None:
                continue
            data = dec
        if b"/FlateDecode" in body:
            try:
                data = zlib.decompress(data)
            except zlib.error:
                continue
        streams[num] = data
        if _OBJSTM_TYPE_RE.search(body):
            objstms.append((body, data))
    for body, data in objstms:
        for num, packed in _unpack_objstm(body, data):
            bodies.setdefault(num, packed)
    for body in bodies.values():
        out["n_objects"] += 1
        if b"/Type0" in body or b"/Identity-H" in body:
            out["has_cid"] = 1
        if b"/Type" in body and b"/Page" in body and b"/Pages" not in body:
            out["n_pages"] += 1
            cm = re.search(rb"/Contents\s+(\d+)\s+\d+\s+R", body)
            pages.append((int(cm.group(1)) if cm else None, body))
        pm = re.search(rb"/Producer\s*\(([^)]*)\)", body)
        if pm:
            out["producer"] = pm.group(1).decode("latin-1", "replace")
    if out["encrypted"] and enc_open is None:
        out["text"] = ""
        return out
    for ref, page_body in pages:
        data = streams.get(ref) if ref is not None else None
        if data is None:
            continue
        fontmaps = _page_fontmaps(page_body, bodies, streams)
        page_texts.append(" ".join(_content_text(data, fontmaps)))
    out["text"] = "\n".join(page_texts)
    return out


def _page_fontmaps(
    page_body: bytes, bodies: dict[int, bytes], streams: dict[int, bytes]
) -> dict:
    """Resolve a page's ``/Resources → /Font`` dict into
    {b"/Name": ToUnicode-CID-map | None}. Only composite (Type0 /
    Identity-H) fonts are entered: a mapping decodes their 2-byte CID
    strings, ``None`` marks a Type0 font with no ToUnicode CMap (text
    suppressed, document stays flagged). Simple fonts are left out —
    the content evaluator passes their bytes through as latin-1."""
    res = page_body
    rm = re.search(rb"/Resources\s+(\d+)\s+\d+\s+R", page_body)
    if rm:
        res = bodies.get(int(rm.group(1)), b"")
    fm = re.search(rb"/Font\s*<<(.*?)>>", res, re.DOTALL)
    if not fm:
        return {}
    maps: dict = {}
    for name, ref in re.findall(rb"/(\w+)\s+(\d+)\s+\d+\s+R", fm.group(1)):
        fbody = bodies.get(int(ref), b"")
        if b"/Type0" not in fbody and b"/Identity-H" not in fbody:
            continue
        tm = re.search(rb"/ToUnicode\s+(\d+)\s+\d+\s+R", fbody)
        data = streams.get(int(tm.group(1))) if tm else None
        maps[b"/" + name] = parse_tounicode(data) if data else None
    return maps


PDF_TEXT_SCHEMA = "doc_id long, ok int, version string, n_pages int, n_objects int, has_cid int, encrypted int, producer string, text string"


def pdf_text_table(df, media_col: str = "media", id_col: str = "doc_id"):
    """Arrow ``mapInPandas`` wrapper over :func:`extract_pdf_text`:
    one row of (ok, version, n_pages, n_objects, has_cid, producer,
    text) per blob. Header-and-stream work only — non-PDF payloads
    yield ok=0 rows, never task failures."""

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for d, blob in zip(pdf[id_col], pdf[media_col]):
                try:
                    meta = extract_pdf_text(
                        bytes(blob) if blob is not None else b""
                    )
                except Exception:
                    meta = {"ok": 0}
                rows.append(
                    (
                        int(d),
                        meta.get("ok", 0),
                        meta.get("version"),
                        meta.get("n_pages"),
                        meta.get("n_objects"),
                        meta.get("has_cid"),
                        meta.get("encrypted"),
                        meta.get("producer"),
                        meta.get("text"),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "ok", "version", "n_pages", "n_objects",
                    "has_cid", "encrypted", "producer", "text",
                ],
            )

    return df.select(id_col, media_col).mapInPandas(
        kernel, PDF_TEXT_SCHEMA
    )
