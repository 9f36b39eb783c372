"""UTF-8-safe byte-budget chunker -- semantics parity with the reference.

Reference behavior (``/root/reference/plugins/utils/dna_encoding.py:270-335``):
slice the UTF-8 byte stream into windows of at most ``chunk_size`` bytes,
backing the window end off until the slice decodes as valid UTF-8 (never
split a code point); if backing off reaches the window start, force a
single-byte slice (the degenerate branch at ``:300-304``).  Each slice
becomes one chunk carrying:

* ``chunk_id``   -- ``f"dna_chunk_{index:03d}"`` (ref ``:319``)
* ``index``      -- dense 0..n-1
* ``dna_sequence`` -- Goldman encoding of the slice bytes
* ``original_length_bytes`` / ``chunk_size`` -- slice byte length
* ``error_correction_code`` -- Reed-Solomon tail (ref ``:324``)
* ``checksum``   -- md5 hex of the slice bytes (ref ``:312``)

Note: the reference README claims word-aware chunking; the code only respects
code-point boundaries (SURVEY.md op 23), and so do we.
"""

from __future__ import annotations

import hashlib
from typing import Dict, List

from .goldman import bytes_to_dna_many
from .reed_solomon import rs_parity_tails

DEFAULT_CHUNK_SIZE = 1000
DEFAULT_RS_NSYM = 10


def chunk_utf8_bytes(text: str, chunk_size: int = DEFAULT_CHUNK_SIZE) -> List[bytes]:
    """Split ``text``'s UTF-8 bytes into <=chunk_size windows on code-point
    boundaries; a window that cannot hold one full code point degrades to a
    single raw byte (matching the reference's force-1-byte branch)."""
    data = text.encode("utf-8")
    max_bytes = max(1, chunk_size)
    out: List[bytes] = []
    start = 0
    n = len(data)
    while start < n:
        end = min(start + max_bytes, n)
        piece = data[start:end]
        while True:
            try:
                piece.decode("utf-8")
                break
            except UnicodeDecodeError:
                end -= 1
                if end <= start:
                    end = start + 1
                    piece = data[start:end]
                    break
                piece = data[start:end]
        out.append(piece)
        start = end
    return out


def build_chunks(
    text: str,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    nsym: int = DEFAULT_RS_NSYM,
) -> List[Dict]:
    """Full chunk records for one document (one dict per DNAChunk field set,
    minus the always-empty ``original_binary`` -- see SURVEY.md §1.1).

    The document's chunks go through the Goldman and Reed-Solomon kernels
    together, one batched pass each."""
    pieces = chunk_utf8_bytes(text, chunk_size)
    return [
        {
            "chunk_id": f"dna_chunk_{i:03d}",
            "index": i,
            "dna_sequence": dna,
            "original_length_bytes": len(piece),
            "error_correction_code": ecc,
            "checksum": hashlib.md5(piece).hexdigest(),
            "chunk_size": len(piece),
        }
        for i, (piece, dna, ecc) in enumerate(
            zip(pieces, bytes_to_dna_many(pieces), rs_parity_tails(pieces, nsym))
        )
    ]
