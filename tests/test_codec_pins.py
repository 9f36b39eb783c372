"""Byte pins and scalar references for the Goldman and Reed-Solomon kernels.

The codec's outputs are stored artifacts: DNA strings, Reed-Solomon streams
and parity tails, and chunk checksums all land in the chunk table and the
reports, so any kernel rewrite must leave them byte-identical.  Two guards:

* ``PAYLOAD_PINS`` / ``TEXT_PINS`` hold md5 digests (first 16 hex digits)
  of the outputs on fixed payloads (sizes on both sides of the 245-byte RS
  block and the 1000-byte chunk, all-NUL, all-0xFF, leading-NUL) and on the
  vendored golden corpus plus the synthetic FIXTURES.md A1 texts.  They were
  recorded from the per-chunk kernels that preceded the batched ones.
* Hypothesis compares the kernels with the textbook algorithms kept below:
  a ``divmod(v, 3)`` digit loop, Horner decode, the rotation rule applied
  base by base, and byte-wise synthetic division over GF(2^8).
"""

import hashlib
import os

import pytest
from hypothesis import given, settings, strategies as st

from airflow_pipeline_text_processing_spark.codec import (
    build_chunks,
    bytes_to_dna,
    bytes_to_trits,
    chunk_utf8_bytes,
    dna_to_bytes,
    dna_to_trits,
    rs_encode,
    rs_parity_tail,
    trits_to_bytes,
    trits_to_dna,
)

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden_corpus")
SIZES = (0, 1, 244, 245, 246, 489, 490, 491, 999, 1000, 1001, 1500, 5000)


def _stream(n: int, seed: bytes = b"codec") -> bytes:
    """``n`` deterministic pseudo-random bytes (sha256 in counter mode)."""
    out = bytearray()
    i = 0
    while len(out) < n:
        out += hashlib.sha256(seed + i.to_bytes(4, "big")).digest()
        i += 1
    return bytes(out[:n])


def payload_cases() -> dict:
    cases = {"empty": b""}
    for n in SIZES[1:]:
        cases[f"random_{n}"] = _stream(n)
        cases[f"nul_{n}"] = bytes(n)
        cases[f"ff_{n}"] = b"\xff" * n
        if n >= 3:
            cases[f"lead_nul_{n}"] = b"\x00\x00" + _stream(n - 2)
    return cases


def text_cases() -> dict:
    cases = {}
    for name in sorted(os.listdir(GOLDEN)):
        with open(os.path.join(GOLDEN, name), encoding="utf-8") as f:
            cases[name] = f.read()
    cases["empty"] = ""
    cases["leading_nul"] = "\x00leading nul byte then text\n"
    cases["straddle_2byte"] = "x" * 999 + "é" + "y" * 50
    cases["straddle_4byte"] = "z" * 998 + "\U0001F600" + "w" * 40
    return cases


def _md5(data) -> str:
    if isinstance(data, str):
        data = data.encode("ascii")
    return hashlib.md5(data).hexdigest()[:16]


def payload_digest(data: bytes) -> tuple:
    return (_md5(bytes_to_dna(data)), _md5(rs_encode(data)), _md5(rs_parity_tail(data)))


def text_digest(text: str) -> str:
    lines = [
        f"{r['chunk_id']}|{r['index']}|{r['dna_sequence']}|"
        f"{r['original_length_bytes']}|{r['error_correction_code'].hex()}|"
        f"{r['checksum']}|{r['chunk_size']}\n"
        for r in build_chunks(text)
    ]
    return _md5("".join(lines))


# (bytes_to_dna, rs_encode, rs_parity_tail) md5 prefixes
PAYLOAD_PINS = {
    "empty": ("7fc56270e7a70fa8", "a63c90cc3684ad8b", "a63c90cc3684ad8b"),
    "random_1": ("e33e935513697401", "242296b982843750", "36f144327c11642a"),
    "nul_1": ("7fc56270e7a70fa8", "74da4121dc1c0ed2", "a63c90cc3684ad8b"),
    "ff_1": ("520bd0210b9e4e1f", "91a5acb5db101b1b", "19aeb47de88f7504"),
    "random_244": ("5f2a047b1ff1942d", "7eb6407c6d0cf3db", "0c80f12a049e9b67"),
    "nul_244": ("7fc56270e7a70fa8", "78cda06746a4e592", "a63c90cc3684ad8b"),
    "ff_244": ("a1d6e62c4db58541", "d5878cfb3829f970", "39e3a2da1ce99fb9"),
    "lead_nul_244": ("a4694651cf07d622", "a9267b5951276416", "1515a8cb497192bf"),
    "random_245": ("588e65937ea1b183", "a09917a4dc31c9f7", "02a8f6e15896be32"),
    "nul_245": ("7fc56270e7a70fa8", "6df9012b2b7cb3c5", "a63c90cc3684ad8b"),
    "ff_245": ("74d31ad9e9db21ac", "2f92c5863432c9d3", "8fd9e5b61c8d4a38"),
    "lead_nul_245": ("4220a173a45bb8c6", "33b10787f1cccb55", "4a0860e6ec1bb0a3"),
    "random_246": ("63f71b7db78c4d5f", "26e4cae6b9e53dc9", "9e0f37ba6e7b3610"),
    "nul_246": ("7fc56270e7a70fa8", "fa75a367ca8b7688", "4410185252084577"),
    "ff_246": ("c38018d5a9b4797f", "6aa850a307b168b0", "0c0430f1ce9a5fef"),
    "lead_nul_246": ("5f2a047b1ff1942d", "ce5c71446033e855", "c0651d2092029e26"),
    "random_489": ("df75e9845dc75b85", "5045539dc9249956", "18a7c876ba1568ec"),
    "nul_489": ("7fc56270e7a70fa8", "63be8c1a5f7e53d8", "4410185252084577"),
    "ff_489": ("6db9907397d7a834", "6af83ed685c2ff85", "3dc9b10deef3ce6c"),
    "lead_nul_489": ("b9bc02e6e2e62059", "909231606219398b", "f7b141dbcae5e81d"),
    "random_490": ("d22ed1ef2d2b8c30", "40405f9909fbae10", "db46c8c02ae77346"),
    "nul_490": ("7fc56270e7a70fa8", "4fb90e5f1623b15a", "4410185252084577"),
    "ff_490": ("ba6a3b90e44e603c", "f7ae0b234ad662d1", "f991ff2a4ec1d2ea"),
    "lead_nul_490": ("97c971d1be2843e2", "389a55d4c4931bbd", "2fd005f7c5439e34"),
    "random_491": ("7108e6500c586baa", "d4efa4406e72730d", "590ffa002000326c"),
    "nul_491": ("7fc56270e7a70fa8", "28840766f7d339b8", "862dec5c27142824"),
    "ff_491": ("c6492994a11a45bd", "de8419bee7c4c107", "8b56851e316621bf"),
    "lead_nul_491": ("df75e9845dc75b85", "ca4edf638e9ec238", "2f4f37c26a80eec8"),
    "random_999": ("041334e282c11d7c", "bfb9c80873422e72", "b1f5903f4c40bf7a"),
    "nul_999": ("7fc56270e7a70fa8", "76b133750b5ac359", "871bdd96b159c14d"),
    "ff_999": ("e1bbcf0ced8570a8", "fdad9c21aac446c8", "e97187e7db1d524c"),
    "lead_nul_999": ("caed401fee15816a", "39b1c4ea54771ae8", "eeeca3a029fb9fc1"),
    "random_1000": ("5c183594812afcb8", "d52c78836033054b", "999185f95fa96adc"),
    "nul_1000": ("7fc56270e7a70fa8", "7770081423123a97", "871bdd96b159c14d"),
    "ff_1000": ("5b6b23af971289a6", "e7c56d938d14fdcf", "5e797839f9561710"),
    "lead_nul_1000": ("ce30d2fdb06d4ca3", "8218fbbe18c9ae1c", "820d22b9f53314f4"),
    "random_1001": ("102ad6b7fe08f1ea", "1589371c0f9dc7c4", "0b39c60121d4df83"),
    "nul_1001": ("7fc56270e7a70fa8", "213eee25ae2e5dca", "871bdd96b159c14d"),
    "ff_1001": ("a0a445f6607af3c4", "50714f4084e79885", "4082c17ea17f3162"),
    "lead_nul_1001": ("041334e282c11d7c", "834617128b05d67b", "18056ecfd1938f74"),
    "random_1500": ("0e7e08fd618c7beb", "294754d85e36c38c", "60259faa8197b04e"),
    "nul_1500": ("7fc56270e7a70fa8", "1595ed4372d33dbe", "3287282fa1a1523a"),
    "ff_1500": ("d8cacf73809878dc", "0c982ff1714fac6e", "2b443b11d9b5112c"),
    "lead_nul_1500": ("927b435e1075582e", "f044bb02ba027837", "a3888535355b1b39"),
    "random_5000": ("ca923c2d440d7ee6", "d63b50a6eaba02b2", "ee7f22d048c015ec"),
    "nul_5000": ("7fc56270e7a70fa8", "7a4dd853c71b36d6", "78d9c664c638a1d5"),
    "ff_5000": ("ca3e86342e853555", "d2f42dfcda874789", "0f85ed7a9027bb7b"),
    "lead_nul_5000": ("a002db30db8cfb0a", "f82ef8ea490649a4", "a5799a7ff4f3b893"),
}

# md5 prefix of the serialized build_chunks records
TEXT_PINS = {
    "sample2.txt": "d68a47b66c11f319",
    "sample3.txt": "a7f877e9a54456bb",
    "sample_input.txt": "a679dbf90b592542",
    "test_shakespear.txt": "4973d6cf46fdefbb",
    "empty": "d41d8cd98f00b204",
    "leading_nul": "4f4bf93e6de79489",
    "straddle_2byte": "8688f2b7a1909827",
    "straddle_4byte": "c32aa552fb77eae7",
}


@pytest.mark.parametrize("name", sorted(PAYLOAD_PINS))
def test_payload_bytes_are_pinned(name):
    assert payload_digest(payload_cases()[name]) == PAYLOAD_PINS[name]


@pytest.mark.parametrize("name", sorted(TEXT_PINS))
def test_chunk_records_are_pinned(name):
    assert text_digest(text_cases()[name]) == TEXT_PINS[name]


def test_pins_cover_every_case():
    assert set(PAYLOAD_PINS) == set(payload_cases())
    assert set(TEXT_PINS) == set(text_cases())


# ---------------------------------------------------------------- references


def ref_bytes_to_trits(data: bytes) -> list:
    value = int.from_bytes(data, "big")
    digits = []
    while value:
        value, r = divmod(value, 3)
        digits.append(r)
    return digits[::-1] or [0]


def ref_trits_to_bytes(trits, width: int) -> bytes:
    value = 0
    for t in trits:
        value = value * 3 + t
    data = value.to_bytes(max(1, width, (value.bit_length() + 7) // 8), "big")
    return data[-width:]  # keeps the rightmost bytes; width 0 keeps all


def ref_trits_to_dna(trits) -> str:
    out, prev = [], None
    for t in trits:
        choices = "ACG" if prev is None else [b for b in "ACGT" if b != prev]
        prev = choices[t]
        out.append(prev)
    return "".join(out)


def gf_mul(a: int, b: int) -> int:
    """Carry-less multiply modulo x^8 + x^4 + x^3 + x^2 + 1 (0x11d)."""
    p = 0
    while b:
        if b & 1:
            p ^= a
        a <<= 1
        if a & 0x100:
            a ^= 0x11D
        b >>= 1
    return p


def ref_generator(nsym: int) -> list:
    g, root = [1], 1
    for _ in range(nsym):
        nxt = g + [0]
        for j, c in enumerate(g):
            nxt[j + 1] ^= gf_mul(c, root)
        g, root = nxt, gf_mul(root, 2)
    return g


def ref_rs_encode(data: bytes, nsym: int, nsize: int) -> bytes:
    gen = ref_generator(nsym)
    step = nsize - nsym
    blocks = [data[i : i + step] for i in range(0, len(data), step)] or [b""]
    out = bytearray()
    for msg in blocks:
        rem = list(msg) + [0] * nsym
        for i in range(len(msg)):
            coef = rem[i]
            if coef:
                for j in range(1, len(gen)):
                    rem[i + j] ^= gf_mul(gen[j], coef)
        out += msg + bytes(rem[len(msg):])
    return bytes(out)


payloads = st.one_of(
    st.binary(max_size=3000),
    st.builds(lambda k, b: b"\x00" * k + b, st.integers(1, 40), st.binary(max_size=1200)),
    st.builds(lambda k: b"\xff" * k, st.integers(0, 1200)),
)


@given(payloads)
@settings(max_examples=120, deadline=None)
def test_goldman_matches_scalar_reference(data):
    trits = ref_bytes_to_trits(data)
    dna = ref_trits_to_dna(trits)
    assert bytes_to_trits(data) == trits
    assert trits_to_dna(trits) == dna
    assert bytes_to_dna(data) == dna
    assert dna_to_trits(dna) == trits
    assert dna_to_bytes(dna, len(data)) == ref_trits_to_bytes(trits, len(data))


@given(st.lists(st.integers(0, 2), max_size=6000), st.integers(0, 1300))
@settings(max_examples=120, deadline=None)
def test_trit_decode_matches_horner(trits, width):
    want = ref_trits_to_bytes(trits, width)
    assert trits_to_bytes(trits, width) == want
    if trits:
        assert dna_to_bytes(ref_trits_to_dna(trits), width) == want


@given(
    st.binary(max_size=1500),
    st.sampled_from([(10, 255), (16, 255), (4, 32), (2, 8), (1, 3)]),
)
@settings(max_examples=120, deadline=None)
def test_rs_matches_synthetic_division(data, shape):
    nsym, nsize = shape
    stream = ref_rs_encode(data, nsym, nsize)
    assert rs_encode(data, nsym, nsize) == stream
    assert rs_parity_tail(data, nsym, nsize) == stream[len(data):]


@given(st.text(max_size=3000), st.sampled_from([1, 3, 40, 245, 1000]))
@settings(max_examples=80, deadline=None)
def test_build_chunks_matches_per_chunk_reference(text, chunk_size):
    records = build_chunks(text, chunk_size)
    pieces = chunk_utf8_bytes(text, chunk_size)
    assert len(records) == len(pieces)
    for i, (r, piece) in enumerate(zip(records, pieces)):
        assert r["index"] == i and r["chunk_id"] == f"dna_chunk_{i:03d}"
        assert r["dna_sequence"] == ref_trits_to_dna(ref_bytes_to_trits(piece))
        assert r["error_correction_code"] == ref_rs_encode(piece, 10, 255)[len(piece):]
        assert r["checksum"] == hashlib.md5(piece).hexdigest()
        assert r["original_length_bytes"] == r["chunk_size"] == len(piece)
