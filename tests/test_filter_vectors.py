"""The reference's filter/crypto regression vectors
(tests/test_pdfminer_crypto.py there) asserted against our
implementations — ascii85/hex edge forms, RC4, LZW, RLE, AES unpadding
including false-padding robustness."""

import base64
import binascii
import random

from pdfminer_six_spark.core.crypto import _unpad_aes, rc4
from pdfminer_six_spark.core.filters import (
    _a85_fast,
    ascii85decode,
    asciihexdecode,
    lzwdecode,
    rldecode,
)


def _outcome(fn, arg):
    """fn(arg), or the ValueError text it raised: equal outcomes mean the
    same bytes or the same error."""
    try:
        return fn(arg)
    except ValueError as e:
        return ("ValueError", str(e))


def test_ascii85():
    assert ascii85decode(b"9jqo^BlbD-BleB1DJ+*+F(f,q") == b"Man is distinguished"
    assert ascii85decode(b"E,9)oF*2M7/c~>") == b"pleasure."
    assert ascii85decode(b"zE,9)oF*2M7/c~>") == b"\0\0\0\0pleasure."
    assert ascii85decode(b"E,9)oF*2M7/c") == b"pleasure."
    assert ascii85decode(b"E,9)oF*2M7/c~") == b"pleasure."
    assert ascii85decode(b"<~E,9)oF*2M7/c~") == b"pleasure."
    assert ascii85decode(b"<~E,9)oF*2M7/c~\n>") == b"pleasure."
    assert (
        ascii85decode(b"<^BVT:K:=9<E)pd;BS_1:/aSV;ag~>") == b"VARIOUS UTTER NONSENSE"
    )
    assert (
        ascii85decode(b"<~<^BVT:K:=9<E)pd;BS_1:/aSV;ag~>")
        == b"VARIOUS UTTER NONSENSE"
    )
    assert (
        ascii85decode(b"<^BVT:K:=9<E)pd;BS_1:/aSV;ag~") == b"VARIOUS UTTER NONSENSE"
    )
    # >= 512-byte bodies take the numpy branch; stdlib is the reference
    rng = random.Random(85)
    data = bytes(rng.randrange(256) for _ in range(600))
    zeros = b"\0" * 40 + data[:200] + b"\0" * 16 + data[200:400] + b"\0" * 8
    fast = [base64.a85encode(zeros, wrapcol=76)]  # 'z' runs + line breaks
    fast += [base64.a85encode(data[: 500 + k]) for k in range(4)]  # each tail
    body = base64.a85encode(data)
    fallback = [
        body[:300] + b"{" + body[300:],  # invalid character
        body[:302] + b"z" + body[302:],  # 'z' inside a group
        body + b"!",  # 1-character tail
        body + b"uuuuu",  # 32-bit overflow
    ]
    for vec in fast + fallback:
        assert len(vec) >= 512
        want = _outcome(base64.a85decode, vec)
        assert _outcome(ascii85decode, vec) == want
        assert _outcome(ascii85decode, b"<~" + vec + b"~>") == want
    assert all(_a85_fast(v) is not None for v in fast)
    assert all(_a85_fast(v) is None for v in fallback)


def test_b85decode_fast_matches_stdlib():
    """The pipeline's vectorized payload decode gives stdlib's bytes, or
    stdlib's ValueError text, on every input shape."""
    from pdfminer_six_spark.spark.pipeline import _b85decode_fast

    rng = random.Random(5)
    data = bytes(rng.randrange(256) for _ in range(1000))
    inputs = [base64.b85encode(data[: 900 + k]).decode() for k in range(4)]
    body = inputs[0]
    inputs += [
        body + "0",  # 1-character tail ('~'-padded, no overflow)
        body + "~",  # 1-character tail that overflows
        "",
        "\u00e9" * 10,  # non-ASCII
        body[:500] + '"' + body[500:],  # invalid character
        body[:500] + "|NsC1" + body[500:],  # 2**32: overflow hunk
        "|NsC0",  # 2**32 - 1: the largest valid hunk
    ]
    assert {(-len(s)) % 5 for s in inputs} == {0, 1, 2, 3, 4}
    for s in inputs:
        assert _outcome(_b85decode_fast, s) == _outcome(base64.b85decode, s)


def test_asciihex():
    assert asciihexdecode(b"61 62 2e6364   65") == b"ab.cde"
    assert asciihexdecode(b"61 62 2e6364   657>") == b"ab.cdep"
    assert asciihexdecode(b"7>") == b"p"


def test_rc4():
    assert binascii.hexlify(rc4(b"Key", b"Plaintext")) == b"bbf316e8d940af0ad3"
    assert binascii.hexlify(rc4(b"Wiki", b"pedia")) == b"1021bf0420"
    assert (
        binascii.hexlify(rc4(b"Secret", b"Attack at dawn"))
        == b"45a01f645fc35b383552544b9bf5"
    )


def test_lzw():
    assert (
        lzwdecode(b"\x80\x0b\x60\x50\x22\x0c\x0c\x85\x01")
        == b"\x2d\x2d\x2d\x2d\x2d\x41\x2d\x2d\x2d\x42"
    )


def test_rle():
    assert rldecode(b"\x05123456\xfa7\x04abcde\x80junk") == b"1234567777777abcde"


def test_unpad_aes():
    assert _unpad_aes(b"\x10" * 16) == b""
    assert _unpad_aes(b"0123456789abcdef" + b"\x10" * 16) == b"0123456789abcdef"
    assert _unpad_aes(b"0123456789abc\x03\x03\x03") == b"0123456789abc"
    assert (
        _unpad_aes(b"0123456789abcdef0123456789abc\x03\x03\x03")
        == b"0123456789abcdef0123456789abc"
    )
    assert _unpad_aes(b"foo\x01bar\x01bazquux\x01") == b"foo\x01bar\x01bazquux"
    # robust to false padding bytes (not valid pad runs)
    assert _unpad_aes(b"0123456789abc\x02\x03\x04") == b"0123456789abc\x02\x03\x04"
    assert _unpad_aes(b"0123456789abc\x05\x05\x05") == b"0123456789abc\x05\x05\x05"
