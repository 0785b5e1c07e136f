"""Document-length quantization ("fieldnorm") — 256-bucket table.

Semantics match the reference table `FIELDNORM_TO_LENGTH`
(/root/reference/crates/bm25/src/bm25.rs:15-283): lengths 0..=40 are
exact; after that, buckets grow in groups of eight with a doubling
increment (2, 4, 8, ...). `length_to_fieldnorm` rounds *down* to the
nearest representable length (bm25.rs:278-283), so BM25 scores are
computed from the quantized length, never the raw one.

The table is generated, not copied. `tests/test_core.py` checks golden
values lifted from the reference, and checks the full table against
Lucene's `SmallFloat.byte4ToInt` and, where the reference source is
present, against bm25.rs itself.
"""

from __future__ import annotations

import numpy as np


def _build_table() -> np.ndarray:
    table = list(range(41))  # 0..=40 exact
    delta, val = 2, 40
    while len(table) < 256:
        for _ in range(8):
            val += delta
            table.append(val)
            if len(table) == 256:
                break
        delta *= 2
    return np.asarray(table, dtype=np.int64)


#: FIELDNORM_TO_LENGTH[fieldnorm] -> representable document length.
FIELDNORM_TO_LENGTH: np.ndarray = _build_table()


def fieldnorm_to_length(fieldnorm: int | np.ndarray) -> np.ndarray | int:
    """Inverse of :func:`length_to_fieldnorm` on representable lengths."""
    return FIELDNORM_TO_LENGTH[fieldnorm]


def length_to_fieldnorm(length: int | np.ndarray) -> np.ndarray | int:
    """Quantize a document length to an 8-bit fieldnorm (round down).

    Matches the reference's `binary_search` + `Err(index) => index - 1`
    (bm25.rs:278-283). Vectorized over numpy arrays.
    """
    idx = np.searchsorted(FIELDNORM_TO_LENGTH, np.asarray(length), side="right") - 1
    return idx.astype(np.uint8)
