"""PDF text extraction: COS object parse, FlateDecode, the
text-showing operator set, and degradation for non-PDF payloads."""

from __future__ import annotations

import zlib


def _pdf(content: bytes, extra: bytes = b"", flate: bool = False) -> bytes:
    filt = b""
    if flate:
        content = zlib.compress(content)
        filt = b"/Filter /FlateDecode "
    return (
        b"%PDF-1.7\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
        b"4 0 obj << " + filt + b"/Length "
        + str(len(content)).encode()
        + b" >> stream\n" + content + b"\nendstream endobj\n"
        + extra + b"%%EOF"
    )


def test_escapes_hex_octal_and_tj_arrays():
    from trollflow2_spark.extensions.pdftext import extract_pdf_text

    c = (
        rb"BT (a\(b\)c) Tj (l1\nl2) Tj (\101\61) Tj "
        rb"[(ker) -200 (ned)] TJ <48692A> Tj (back\\slash) Tj ET"
    )
    out = extract_pdf_text(_pdf(c))
    assert out["ok"] == 1 and out["n_pages"] == 1
    assert out["text"] == "a(b)c l1\nl2 A1 kerned Hi* back\\slash"


def test_flate_stream_and_nested_parens():
    from trollflow2_spark.extensions.pdftext import extract_pdf_text

    c = b"BT ((nested (deep)) ok) Tj ET"
    out = extract_pdf_text(_pdf(c, flate=True))
    assert out["text"] == "(nested (deep)) ok"


def test_content_dict_quote_op_and_bad_hex():
    from trollflow2_spark.extensions.pdftext import _content_text

    # a <<...>> marked-content dict must not be parsed as a hex
    # string; the '"' show op must flush pending; an unterminated hex
    # run is skipped without degrading the rest of the stream
    s = b'BT /F1 1 Tf /MC <</MCID <3>/N <</X 1>>>> BDC (Hello) Tj (tail) " <4142 ET'
    assert _content_text(s) == ["Hello", "tail"]


def _cid_pdf(codes: list[int], with_cmap: bool = True) -> bytes:
    hexstr = "".join(f"{c:04X}" for c in codes).encode()
    content = b"BT /F7 12 Tf <" + hexstr + b"> Tj ET"
    cmap = (
        b"begincmap\n"
        b"1 beginbfchar\n<0001> <0044>\nendbfchar\n"
        b"2 beginbfrange\n<0005> <0006> [<006F> <0063>]\n"
        b"<0010> <0019> <0030>\nendbfrange\nendcmap"
    )
    font = (
        b"5 0 obj << /Subtype /Type0 /Encoding /Identity-H"
        + (b" /ToUnicode 6 0 R" if with_cmap else b"")
        + b" >> endobj\n"
    )
    tou = (
        b"6 0 obj << /Length " + str(len(cmap)).encode()
        + b" >> stream\n" + cmap + b"\nendstream endobj\n"
        if with_cmap
        else b""
    )
    return (
        b"%PDF-1.7\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Resources "
        b"<< /Font << /F7 5 0 R >> >> /Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length " + str(len(content)).encode()
        + b" >> stream\n" + content + b"\nendstream endobj\n"
        + font + tou + b"%%EOF"
    )


def test_cid_tounicode_decode():
    from trollflow2_spark.extensions.pdftext import extract_pdf_text

    # bfchar 'D', array-bfrange 'o'/'c', continuous bfrange digits
    codes = [1, 5, 6, 0x10 + 4, 0x10 + 2]  # D o c 4 2
    out = extract_pdf_text(_cid_pdf(codes))
    assert out["has_cid"] == 1
    assert out["text"] == "Doc42"
    # unmapped CIDs are skipped, not garbled
    out2 = extract_pdf_text(_cid_pdf([1, 0x0FFF, 5]))
    assert out2["text"] == "Do"


def test_cid_without_cmap_suppressed():
    from trollflow2_spark.extensions.pdftext import extract_pdf_text

    out = extract_pdf_text(_cid_pdf([1, 5, 6], with_cmap=False))
    # no ToUnicode: nothing to decode with — text suppressed (never
    # emitted as raw latin-1 CID bytes), document stays flagged
    assert out["has_cid"] == 1
    assert out["text"] == ""


def test_tounicode_utf16_surrogates_and_multiunit():
    from trollflow2_spark.extensions.pdftext import parse_tounicode

    cm = parse_tounicode(
        b"beginbfchar\n<0001> <D83DDE00>\n<0002> <00660066>\nendbfchar"
    )
    assert cm[1] == "\U0001f600"  # surrogate pair -> one codepoint
    assert cm[2] == "ff"  # multi-code-unit destination


def test_cid_flag_and_non_pdf():
    from trollflow2_spark.extensions.pdftext import extract_pdf_text

    extra = b"5 0 obj << /Subtype /Type0 >> endobj\n"
    out = extract_pdf_text(_pdf(b"BT (x) Tj ET", extra=extra))
    assert out["has_cid"] == 1 and out["text"] == "x"
    assert extract_pdf_text(b"GIF89a...") == {"ok": 0}
    # corrupt flate stream: page counted, text skipped, no crash
    broken = _pdf(b"BT (x) Tj ET", flate=True).replace(b"stream\nx", b"stream\nZ")
    res = extract_pdf_text(broken)
    assert res["ok"] == 1


def test_objstm_unpacks_page_tree_and_fonts():
    """PDF 1.5 object streams: page-tree and font dicts that exist
    ONLY inside a Flate /Type /ObjStm must resolve — pages counted,
    text extracted, CID fonts decoded through the packed font dict."""
    from trollflow2_spark.queries import _pdf_objstm_blob
    from trollflow2_spark.extensions.pdftext import extract_pdf_text

    m = extract_pdf_text(_pdf_objstm_blob(1))
    assert m["ok"] == 1 and m["version"] == "1.5"
    assert m["n_pages"] == 2 and m["has_cid"] == 1
    assert m["encrypted"] == 0
    assert m["text"] == "pg0 d1 Doc 1\npg1 d1 Doc 1"
    # sanity: the page dicts really are NOT top-level objects
    blob = _pdf_objstm_blob(1)
    assert b"/Type /Page /Parent" not in blob  # packed, compressed


def test_objstm_malformed_header_yields_no_packed_objects():
    from trollflow2_spark.extensions.pdftext import _unpack_objstm

    assert _unpack_objstm(b"<< /Type /ObjStm >>", b"10 0 x") == []
    # header promises more pairs than the prelude carries
    assert _unpack_objstm(
        b"<< /Type /ObjStm /N 3 /First 4 >>", b"10 0 <<>>"
    ) == []


def test_encrypted_pdf_flagged_not_failed():
    from trollflow2_spark.queries import _pdf_objstm_blob
    from trollflow2_spark.extensions.pdftext import extract_pdf_text

    m = extract_pdf_text(_pdf_objstm_blob(6))
    assert m["ok"] == 1 and m["encrypted"] == 1
    assert m["text"] == ""  # ciphertext suppressed, never garbled
    assert m["n_pages"] == 1  # structure still accounted


# --- standard security handler (empty user password) -------------------------


def test_rc4_and_aes_published_vectors():
    """The from-scratch ciphers pin to published vectors: classic RC4
    pairs, the FIPS-197 AES-128 block, and an SP800-38A CBC block."""
    from trollflow2_spark.extensions.pdftext import (
        _aes128_cbc_decrypt,
        _aes128_cbc_encrypt,
        _aes_decrypt_block,
        _aes_encrypt_block,
        _aes_expand_key,
        _rc4,
    )

    assert _rc4(b"Key", b"Plaintext").hex().upper() == "BBF316E8D940AF0AD3"
    assert _rc4(b"Wiki", b"pedia").hex().upper() == "1021BF0420"
    key = bytes(range(16))
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct = bytes.fromhex("69c4e0d86a7b0430d8cdb78070b4c55a")
    rks = _aes_expand_key(key)
    assert _aes_encrypt_block(rks, pt) == ct
    assert _aes_decrypt_block(rks, ct) == pt
    k2 = bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c")
    iv = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    ct1 = bytes.fromhex("7649abac8119b246cee98e9b12e9197d")
    pt1 = bytes.fromhex("6bc1bee22e409f96e93d7e117393172a")
    dec = bytes(
        a ^ b
        for a, b in zip(_aes_decrypt_block(_aes_expand_key(k2), ct1), iv)
    )
    assert dec == pt1
    msg = b"pdf aes cbc roundtrip" * 5
    assert _aes128_cbc_decrypt(
        k2, _aes128_cbc_encrypt(k2, iv, msg)
    ) == msg


def test_empty_password_decrypts_all_three_cipher_modes():
    """RC4-40 (/V1/R2), RC4-128 (/V2/R3) and AES-128 (/V4/R4/AESV2)
    fixtures all open with the empty user password and yield the
    planted text; the encrypted flag stays honest (=1)."""
    from trollflow2_spark.queries import _encrypted_pdf_blob
    from trollflow2_spark.extensions.pdftext import extract_pdf_text

    for d in (3, 1, 2):  # modes 0, 1, 2; none divisible by 7
        r = extract_pdf_text(_encrypted_pdf_blob(d))
        assert r["ok"] == 1 and r["encrypted"] == 1
        assert r["text"] == f"enc doc {d} code {d % 5}", d


def test_real_user_password_stays_suppressed():
    """A real (non-empty) user password fails the /U check: the doc
    stays encrypted=1 with text suppressed but fully accounted —
    never a task failure."""
    from trollflow2_spark.queries import _encrypted_pdf_blob
    from trollflow2_spark.extensions.pdftext import extract_pdf_text

    for d in (0, 7, 14):  # locked docs across all three cipher modes
        r = extract_pdf_text(_encrypted_pdf_blob(d))
        assert r["ok"] == 1 and r["encrypted"] == 1
        assert r["text"] == "" and r["n_pages"] == 1


def test_malformed_encrypt_dict_stays_suppressed():
    """An /Encrypt dict without usable /O//U (the legacy fixture
    shape, and any unsupported /V) keeps the old behavior verbatim:
    encrypted=1, text empty."""
    from trollflow2_spark.extensions.pdftext import extract_pdf_text

    blob = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length 24 >> stream\nBT (never seen) Tj ET\nendstream endobj\n"
        b"9 0 obj << /Filter /Standard /V 1 >> endobj\n"
        b"trailer << /Root 1 0 R /Encrypt 9 0 R >>\n%%EOF"
    )
    r = extract_pdf_text(blob)
    assert r["encrypted"] == 1 and r["text"] == ""


def test_aes256_fips_vectors_and_hardened_hash_shape():
    """AES-256/192 pin to FIPS-197 known answers; the R6 hardened
    hash is deterministic, 32 bytes, and password/salt sensitive."""
    from trollflow2_spark.extensions.pdftext import (
        _aes_cbc_decrypt_nopad,
        _aes_cbc_encrypt_nopad,
        _aes_decrypt_block,
        _aes_encrypt_block,
        _aes_expand_key,
        pdf2_hardened_hash,
    )

    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    k256 = bytes(range(32))
    ct256 = bytes.fromhex("8ea2b7ca516745bfeafc49904b496089")
    rks = _aes_expand_key(k256)
    assert _aes_encrypt_block(rks, pt) == ct256
    assert _aes_decrypt_block(rks, ct256) == pt
    k192 = bytes(range(24))
    assert _aes_encrypt_block(
        _aes_expand_key(k192), pt
    ) == bytes.fromhex("dda97ca4864cdfe06eaf70a0ec0d7191")
    msg = bytes(range(48))
    wrapped = _aes_cbc_encrypt_nopad(k256, bytes(16), msg)
    assert _aes_cbc_decrypt_nopad(k256, bytes(16), wrapped) == msg
    h1 = pdf2_hardened_hash(b"", b"saltsalt")
    assert len(h1) == 32
    assert h1 == pdf2_hardened_hash(b"", b"saltsalt")
    assert h1 != pdf2_hardened_hash(b"x", b"saltsalt")
    assert h1 != pdf2_hardened_hash(b"", b"SALTSALT")


def test_v5_r6_empty_password_opens_and_real_stays_locked():
    """PDF 2.0 AES-256 (/V 5 /R 6): the hardened-hash /U check with
    the empty password recovers the file key from /UE and decrypts
    the content; a real user password stays suppressed. (Fixture
    doc_ids with d % 4 == 3 take the V5 path; 21 is locked AND V5.)"""
    from trollflow2_spark.queries import _encrypted_pdf_blob
    from trollflow2_spark.extensions.pdftext import extract_pdf_text

    for d in (3, 11, 15):  # open V5 docs
        r = extract_pdf_text(_encrypted_pdf_blob(d))
        assert r["encrypted"] == 1
        assert r["text"] == f"enc doc {d} code {d % 5}", d
    r = extract_pdf_text(_encrypted_pdf_blob(35))  # 35 % 7 == 0, % 4 == 3
    assert r["encrypted"] == 1 and r["text"] == ""


def test_cipher_vectors_on_the_pure_python_route(monkeypatch):
    """The published-vector tests above also hold with the native
    backend absent (the stdlib-only route)."""
    from trollflow2_spark.extensions import pdftext

    monkeypatch.setattr(pdftext, "_native", lambda: None)
    pdftext.pdf2_hardened_hash.cache_clear()
    try:
        test_rc4_and_aes_published_vectors()
        test_aes256_fips_vectors_and_hardened_hash_shape()
    finally:
        pdftext.pdf2_hardened_hash.cache_clear()


def test_import_leaves_cryptography_unloaded():
    """Importing the PDF source does not import the native cipher
    backend; the first cipher call does (when it is installed)."""
    import os
    import subprocess
    import sys

    code = (
        "import sys\n"
        "import trollflow2_spark.extensions.pdftext as p\n"
        "before = 'cryptography' in sys.modules\n"
        "p._rc4(bytes(16), b'x')\n"
        "print(before, p._native() is None or 'cryptography' in sys.modules)\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], cwd=repo, capture_output=True,
                         text=True, check=True).stdout.split()
    assert out == ["False", "True"]
