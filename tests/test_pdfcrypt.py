"""PDF standard security handler (RC4 R2/R3) — from-scratch crypto."""

from __future__ import annotations

import numpy as np
import pytest

from pdf_ocr_spark.sources.glyphs import render_text_image
from pdf_ocr_spark.sources.pdfcodec import decode_pdf, encode_pdf, page_count
from pdf_ocr_spark.sources.pdfcrypt import (
    check_user_password,
    file_key,
    owner_entry,
    rc4,
    user_entry,
)


def test_rc4_known_vectors():
    """Published RC4 test vectors (RFC 6229 lineage / classic set) —
    pins the cipher independent of our own round trips."""
    assert rc4(b"Key", b"Plaintext").hex() == "bbf316e8d940af0ad3"
    assert rc4(b"Wiki", b"pedia").hex() == "1021bf0420"
    assert rc4(b"Secret", b"Attack at dawn").hex() == "45a01f645fc35b383552544b9bf5"


def test_rc4_symmetric():
    data = bytes(range(256)) * 17
    assert rc4(b"k" * 16, rc4(b"k" * 16, data)) == data


def test_key_derivation_self_consistent():
    """Algorithm 2/3/5/6 chain: the key derived from the empty user
    password must validate against the generated /U for both
    revisions, and fail for a different O entry."""
    id1 = bytes(range(16))
    for rev, nbytes in ((2, 5), (3, 16)):
        o = owner_entry(nbytes, rev)
        k = file_key(o, -1, id1, rev, nbytes)
        u = user_entry(k, id1, rev)
        assert check_user_password(k, u, id1, rev)
        o2 = owner_entry(nbytes, rev, owner_password=b"hunter2")
        k2 = file_key(o2, -1, id1, rev, nbytes)
        assert not check_user_password(k2, u, id1, rev)


@pytest.mark.parametrize("object_streams", [False, True])
@pytest.mark.parametrize("compress", [False, True])
def test_encrypted_pdf_roundtrip(object_streams, compress):
    page = render_text_image("ENCRYPTED PDF TEST 789")
    data = encode_pdf(
        [page, page], compress=compress, object_streams=object_streams, encrypt=True
    )
    assert b"/Encrypt" in data
    assert page_count(data) == 2
    out = decode_pdf(data)
    assert len(out) == 2
    for img in out:
        np.testing.assert_array_equal(img, page)


def test_encrypted_dct_and_rgb_roundtrip():
    gray = render_text_image("MIXED 1")
    rgb = np.stack([gray] * 3, axis=-1)
    out = decode_pdf(encode_pdf([rgb], compress=True, encrypt=True))
    np.testing.assert_array_equal(out[0], rgb)
    out = decode_pdf(encode_pdf([gray], dct=True, encrypt=True))
    assert out[0].shape == gray.shape  # lossy; shape + OCR pinned elsewhere


def test_ciphertext_really_encrypted_and_stable():
    page = render_text_image("SECRET CONTENT")
    raw = np.ascontiguousarray(page).tobytes()
    enc = encode_pdf([page], encrypt=True)
    assert raw in encode_pdf([page]) and raw not in enc
    assert enc == encode_pdf([page], encrypt=True)  # byte-stable


def test_password_protected_is_typed_error():
    """A /U that the empty-password key cannot validate (i.e. a real
    password) must surface as ValueError naming the password, so the
    Spark source emits an error row instead of crashing."""
    data = bytearray(encode_pdf([render_text_image("X")], encrypt=True))
    at = bytes(data).find(b"/U <") + 4
    data[at : at + 8] = b"00000000"
    with pytest.raises(ValueError, match="password"):
        decode_pdf(bytes(data))
    with pytest.raises(ValueError, match="password"):
        page_count(bytes(data))


def test_aes_is_typed_error():
    data = bytearray(encode_pdf([render_text_image("X")], encrypt=True))
    at = bytes(data).find(b"/V 2")
    data[at : at + 4] = b"/V 4"
    with pytest.raises(ValueError, match="V=4"):
        decode_pdf(bytes(data))


def test_spark_source_reads_encrypted_pdfs(spark, tmp_path):
    """The binaryFile -> parse -> OCR chain handles encrypted files
    transparently; a password-protected one becomes an error row."""
    from pdf_ocr_spark.sources.pdfsource import extract_pdf_documents

    good = encode_pdf([render_text_image("SPARK ENCRYPTED DOC")], encrypt=True)
    locked = bytearray(good)
    at = bytes(locked).find(b"/U <") + 4
    locked[at : at + 8] = b"00000000"
    (tmp_path / "doc_enc.pdf").write_bytes(good)
    (tmp_path / "doc_locked.pdf").write_bytes(bytes(locked))
    by_doc = {r.doc_id: r for r in extract_pdf_documents(spark, str(tmp_path)).collect()}
    assert (by_doc["enc"].txt, by_doc["enc"].n_errors) == ("SPARK ENCRYPTED DOC", 0)
    assert (by_doc["locked"].n_pages, by_doc["locked"].n_errors) == (1, 1)
    assert "password" in by_doc["locked"].txt


def test_fixture_corpus_contains_variant_files(spark, tmp_path):
    """The oracle fixture corpus must really carry the planted
    heterogeneity: encrypted files at id % 5 == 1 and progressive
    scans at id % 3 == 1 (DCT corpus), all decoding to the same text."""
    import pandas as pd

    from pdf_ocr_spark.sources.pdfsource import (
        ENCRYPT_RESIDUES,
        PROGRESSIVE_RESIDUES,
        write_pdf_corpus,
    )

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [str(i) for i in range(14)],
                      "text": [f"alpha beta gamma delta {i}" for i in range(14)]})
    )
    out = str(tmp_path / "corpus")
    write_pdf_corpus(docs, out, dct=True).count()
    for i in range(14):
        data = open(f"{out}/doc_{i}.pdf", "rb").read()
        assert (b"/Encrypt" in data) == (i % ENCRYPT_RESIDUES == 1), i
        # id 11 is the first AES-256 slot ((11 // 5) % 25 == 2)
        assert (b"/AESV3" in data) == (i == 11), i
        if i % ENCRYPT_RESIDUES != 1:  # SOF marker visible only in plaintext
            assert (b"\xff\xc2" in data) == (i % PROGRESSIVE_RESIDUES == 1), i
        imgs = decode_pdf(data)
        assert len(imgs) >= 1


def test_aes128_fips197_vectors():
    """FIPS-197 appendix B and C.1 — pins the from-scratch cipher,
    generated S-box included, independent of our own round trips."""
    from pdf_ocr_spark.sources.pdfcrypt import (
        _aes_decrypt_block,
        _aes_encrypt_block,
        _expand_key,
    )

    key = bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c")
    pt = bytes.fromhex("3243f6a8885a308d313198a2e0370734")
    assert _aes_encrypt_block(_expand_key(key), pt).hex() == (
        "3925841d02dc09fbdc118597196a0b32"
    )
    key2 = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    pt2 = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct2 = _aes_encrypt_block(_expand_key(key2), pt2)
    assert ct2.hex() == "69c4e0d86a7b0430d8cdb78070b4c55a"
    assert _aes_decrypt_block(_expand_key(key2), ct2) == pt2


def test_aes_cbc_roundtrip_and_padding_errors():
    from pdf_ocr_spark.sources.pdfcrypt import aes128_cbc_decrypt, aes128_cbc_encrypt

    key = bytes(range(16))
    for n in (0, 1, 15, 16, 17, 100):
        data = bytes(range(256))[:n]
        enc = aes128_cbc_encrypt(key, data, iv=b"\x01" * 16)
        assert aes128_cbc_decrypt(key, enc) == data
    with pytest.raises(ValueError, match="length"):
        aes128_cbc_decrypt(key, b"short")
    enc = aes128_cbc_encrypt(key, b"hello", iv=b"\x02" * 16)
    with pytest.raises(ValueError, match="padding"):
        aes128_cbc_decrypt(bytes(16), enc)  # wrong key -> bad padding


@pytest.mark.parametrize("object_streams", [False, True])
def test_aes_encrypted_pdf_roundtrip(object_streams):
    """V4 /AESV2 — the post-2006 default encrypted-but-readable shape."""
    page = render_text_image("AES ENCRYPTED PDF 456")
    data = encode_pdf(
        [page, page], compress=True, object_streams=object_streams,
        encrypt=True, cipher="aes",
    )
    assert b"/AESV2" in data and b"/V 4" in data
    assert page_count(data) == 2
    out = decode_pdf(data)
    assert len(out) == 2
    np.testing.assert_array_equal(out[0], page)
    raw = np.ascontiguousarray(page).tobytes()
    assert raw not in data
    assert data == encode_pdf(
        [page, page], compress=True, object_streams=object_streams,
        encrypt=True, cipher="aes",
    )


def test_aes_wrong_password_and_unknown_cfm():
    page = render_text_image("X")
    data = bytearray(encode_pdf([page], encrypt=True, cipher="aes"))
    at = bytes(data).find(b"/U <") + 4
    tampered = bytearray(data)
    tampered[at : at + 8] = b"00000000"
    with pytest.raises(ValueError, match="password"):
        decode_pdf(bytes(tampered))
    at = bytes(data).find(b"/CFM /AESV2")
    data[at : at + 11] = b"/CFM /AESV3"
    with pytest.raises(ValueError, match="AESV3"):
        decode_pdf(bytes(data))


def test_pdf_string_literal_octal_escapes():
    """/O and /U are often written as LITERAL strings with octal
    escapes for binary bytes (Acrobat). _pdf_string must decode the
    full escape set via _parse_pdf_literal, not an ad-hoc table
    (ADVICE r4)."""
    from pdf_ocr_spark.sources.pdfcodec import _pdf_string

    d = rb"<< /O (\101\102\000\377ab\n\(x\)\\) /U <414243> >>"
    assert _pdf_string(d, b"O") == b"AB\x00\xffab\n(x)\\"
    assert _pdf_string(d, b"U") == b"ABC"
    # unknown escape: backslash ignored, char stands (ISO 32000-1
    # 7.3.4.2); \<EOL> is a line continuation
    d2 = b"<< /O (a\\qb\\\nc) >>"
    assert _pdf_string(d2, b"O") == b"aqbc"
    # unterminated literal -> typed error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unterminated"):
        _pdf_string(b"<< /O (never closed", b"O")


def test_aes256_fips197_c3_vector():
    """FIPS-197 Appendix C.3: AES-256 with the generalized key
    schedule (Nk=8, Nr=14)."""
    from pdf_ocr_spark.sources.pdfcrypt import (
        _aes_decrypt_block,
        _aes_encrypt_block,
        _expand_key,
    )

    key = bytes.fromhex(
        "000102030405060708090a0b0c0d0e0f101112131415161718191a1b1c1d1e1f"
    )
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct = bytes.fromhex("8ea2b7ca516745bfeafc49904b496089")
    rk = _expand_key(key)
    assert _aes_encrypt_block(rk, pt) == ct
    assert _aes_decrypt_block(rk, ct) == pt


def test_r6_entries_authenticate_both_roles():
    import hashlib

    from pdf_ocr_spark.sources import pdfcrypt

    fkey = hashlib.sha256(b"round5").digest()
    e = pdfcrypt.r6_entries(fkey, -4, b"seed", user_password=b"u", owner_password=b"o")
    assert pdfcrypt.file_key_r6(e["U"], e["UE"], e["O"], e["OE"], b"u") == fkey
    assert pdfcrypt.file_key_r6(e["U"], e["UE"], e["O"], e["OE"], b"o") == fkey
    with pytest.raises(ValueError, match="password required"):
        pdfcrypt.file_key_r6(e["U"], e["UE"], e["O"], e["OE"], b"x")
    assert pdfcrypt.check_perms_r6(fkey, e["Perms"], -4)
    assert not pdfcrypt.check_perms_r6(fkey, e["Perms"], -8)


@pytest.mark.parametrize("object_streams", [False, True])
def test_aes256_pdf_round_trip(object_streams):
    """V5/R6 /AESV3 files with empty passwords open transparently —
    raster, page count, byte-stable output."""
    import numpy as np

    from pdf_ocr_spark.sources import pdfcodec

    img = (np.arange(25 * 35, dtype=np.uint8).reshape(25, 35) * 3 % 251).astype(
        np.uint8
    )
    data = pdfcodec.encode_pdf(
        [img], compress=True, encrypt=True, cipher="aes256",
        object_streams=object_streams,
    )
    assert b"/AESV3" in data and b"/R 6" in data
    got = pdfcodec.decode_pdf(data)
    assert len(got) == 1 and (got[0] == img).all()
    assert pdfcodec.page_count(data) == 1
    assert data == pdfcodec.encode_pdf(
        [img], compress=True, encrypt=True, cipher="aes256",
        object_streams=object_streams,
    )


def test_password_protected_pdfs_all_ciphers():
    """Password threading: wrong/missing password -> typed error; the
    user password and the owner password (Algorithm 7 for legacy, 2.A
    for R6) both open the file."""
    import numpy as np

    from pdf_ocr_spark.sources import pdfcodec

    img = np.full((10, 12), 77, dtype=np.uint8)
    for cipher in ("rc4", "aes", "aes256"):
        data = pdfcodec.encode_pdf(
            [img], compress=True, encrypt=True, cipher=cipher,
            user_password="usr", owner_password="own",
        )
        with pytest.raises(ValueError, match="password required"):
            pdfcodec.decode_pdf(data)
        with pytest.raises(ValueError, match="password required"):
            pdfcodec.decode_pdf(data, password=b"bad")
        for pw in (b"usr", b"own"):
            got = pdfcodec.decode_pdf(data, password=pw)
            assert (got[0] == img).all(), (cipher, pw)


def test_spark_reads_password_protected_corpus(spark, tmp_path):
    """ExtractionConfig.pdf_password flows through the Spark source:
    without it the protected file is an error row, with it the pages
    extract."""
    import numpy as np

    from pdf_ocr_spark.config import ExtractionConfig
    from pdf_ocr_spark.sources import pdfcodec
    from pdf_ocr_spark.sources.pdfsource import extract_pdf_documents

    img = np.full((12, 15), 9, dtype=np.uint8)
    p = tmp_path / "doc_locked.pdf"
    p.write_bytes(
        pdfcodec.encode_pdf(
            [img, img], compress=True, encrypt=True, cipher="aes256",
            user_password="pw",
        )
    )
    (no_pw,) = extract_pdf_documents(spark, str(tmp_path)).collect()
    assert (no_pw.n_pages, no_pw.n_errors) == (1, 1)
    assert "password required" in no_pw.txt
    cfg = ExtractionConfig(pdf_password="pw")
    (with_pw,) = extract_pdf_documents(spark, str(tmp_path), cfg).collect()
    assert (with_pw.n_pages, with_pw.n_errors) == (2, 0)


def test_evp_path_matches_reference_core():
    """Round 8: AES-CBC routes through the platform libcrypto when
    loadable. Pin the EVP path against the FIPS-197 T-table core on
    randomized whole-block vectors (both key sizes, both directions),
    and pin that a probed-out library leaves the pure path reachable."""
    import random

    from pdf_ocr_spark.sources import pdfcrypt

    rng = random.Random(0xE5)
    lib = pdfcrypt._evp_lib()
    for _ in range(16):
        key = bytes(rng.randrange(256) for _ in range(rng.choice((16, 32))))
        iv = bytes(rng.randrange(256) for _ in range(16))
        data = bytes(rng.randrange(256) for _ in range(16 * rng.randrange(1, 30)))
        enc_py = pdfcrypt._aes_cbc_nopad_py(key, iv, data, decrypt=False)
        assert pdfcrypt._aes_cbc_nopad(key, iv, data, decrypt=False) == enc_py
        assert pdfcrypt._aes_cbc_nopad(key, iv, enc_py, decrypt=True) == data
        if lib is not False:
            assert pdfcrypt._evp_cbc(lib, key, iv, data, True) == enc_py
            assert pdfcrypt._evp_cbc(lib, key, iv, enc_py, False) == data


def test_evp_disabled_falls_back_pure_python(monkeypatch):
    """With libcrypto unavailable the public surface must keep working
    on the pure-Python core (the always-available fallback contract)."""
    from pdf_ocr_spark.sources import pdfcrypt

    monkeypatch.setattr(pdfcrypt, "_EVP_LIB", False)
    key, iv = bytes(range(16)), bytes(range(16, 32))
    data = bytes(range(64))
    enc = pdfcrypt._aes_cbc_nopad(key, iv, data, decrypt=False)
    assert enc == pdfcrypt._aes_cbc_nopad_py(key, iv, data, decrypt=False)
    assert pdfcrypt._aes_cbc_nopad(key, iv, enc, decrypt=True) == data


def test_r6_dual_role_falls_back_to_owner_key_when_ue_fails_perms():
    """A password valid as both user and owner whose /UE decrypts to a
    key that fails /Perms resolves through /OE; the typed /Perms error
    remains when both keys fail, and a file with a garbled /UE still
    decodes."""
    import hashlib
    import re

    from pdf_ocr_spark.sources import pdfcrypt

    fkey = hashlib.sha256(b"dual-role").digest()
    e = pdfcrypt.r6_entries(fkey, -4, b"seed", user_password=b"pw", owner_password=b"pw")
    bad_ue = bytes(32) + e["UE"][32:]
    bad_oe = bytes(32) + e["OE"][32:]
    assert pdfcrypt.file_key_r6(e["U"], bad_ue, e["O"], e["OE"], b"pw", e["Perms"], -4) == fkey
    assert pdfcrypt.file_key_r6(e["U"], e["UE"], e["O"], bad_oe, b"pw", e["Perms"], -4) == fkey
    with pytest.raises(ValueError, match="corrupt /Perms"):
        pdfcrypt.file_key_r6(e["U"], bad_ue, e["O"], bad_oe, b"pw", e["Perms"], -4)
    with pytest.raises(ValueError, match="password required"):
        pdfcrypt.file_key_r6(e["U"], bad_ue, e["O"], e["OE"], b"x", e["Perms"], -4)

    # the empty password opens the writer's AES-256 files in both roles
    img = np.full((10, 12), 77, dtype=np.uint8)
    data = encode_pdf([img], compress=True, encrypt=True, cipher="aes256")
    garbled = re.sub(
        rb"/UE <([0-9A-F]+)>", lambda m: b"/UE <" + b"0" * len(m.group(1)) + b">", data
    )
    assert garbled != data and len(garbled) == len(data)
    assert (decode_pdf(garbled)[0] == img).all()
