"""Multimodal column semantics — frozen, shared engine/oracle.

Image/audio/video payloads are opaque `binary` columns with typed metadata
(SURVEY-extra; the 100-TB training-data shape).  Real decoders (PIL,
librosa, av) are NOT in this container, so the decode step is a
deterministic fake — the Spark-side plumbing (schema, partitioning, Arrow
batch shape) is real and tested; swapping `fake_decode_features` for a real
decoder changes nothing structurally.
"""

from __future__ import annotations

import hashlib

FEAT_DIM = 8


def fake_decode_features(payload: bytes, media_type: str) -> list[float]:
    """Deterministic stand-in for decode+feature-extract: blake2b(payload)
    -> FEAT_DIM doubles in [0, 1).  STUB — a real implementation would
    decode the image/audio/video and run a feature extractor; see
    `operators/multimodal.py` for the import-guarded real path."""
    d = hashlib.blake2b(
        payload + media_type.encode("utf-8"), digest_size=FEAT_DIM * 8
    ).digest()
    return [
        int.from_bytes(d[i * 8 : (i + 1) * 8], "big") / float(1 << 64)
        for i in range(FEAT_DIM)
    ]


def make_payload(media_id: int, media_type: str, size: int = 64) -> bytes:
    """Deterministic pseudo-random payload bytes for the synth media table."""
    out = b""
    counter = 0
    seed = f"{media_id}:{media_type}".encode()
    while len(out) < size:
        out += hashlib.blake2b(seed + counter.to_bytes(4, "big"),
                               digest_size=32).digest()
        counter += 1
    return out[:size]
