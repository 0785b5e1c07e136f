"""Posting-block compression: delta + bitpack / bytepack, NumPy.

Format semantics follow the reference
(/root/reference/crates/bm25/src/compression.rs:36-136 and
crates/simd/src/{bit,byte}packing_u32_*.rs):

- full 128-entry blocks: per-element delta against the previous value
  (the first against the block minimum) for *ordered* streams
  (doc-ids), or the raw values for *unordered* streams (tfs, delta
  against 0); bitwidth = 1 + ilog2(OR of all deltas) (0 if all zero);
  payload = 128*bitwidth/8 bytes; metadata byte = (0<<7) | bitwidth.
- tail blocks (< 128 entries): same deltas, bytepacked at
  bytewidth = max(1, ceil(bitwidth/8)) little-endian bytes each;
  metadata byte = (1<<7) | bytewidth.

The *byte layout* of the full-block bitpacked payload intentionally
differs from the reference: its SIMD kernels interleave four 32-bit
lanes (an in-memory detail of its page format), while we pack plain
LSB-first — our on-disk artifact is Parquet, not PostgreSQL pages, so
only sizes, metadata convention and exact roundtrip semantics are kept.
"""

from __future__ import annotations

import numpy as np

FULL_BLOCK = 128
_BIT_FLAG = 1 << 7


def _bitwidth(deltas: np.ndarray) -> int:
    m = int(np.bitwise_or.reduce(deltas)) if len(deltas) else 0
    return m.bit_length()


def _deltas(values: np.ndarray, base: int) -> np.ndarray:
    v = values.astype(np.uint32, copy=False)
    out = np.empty_like(v)
    if len(v):
        out[0] = v[0] - np.uint32(base)
        np.subtract(v[1:], v[:-1], out=out[1:])
    return out


def _undeltas(deltas: np.ndarray, base: int) -> np.ndarray:
    return (np.cumsum(deltas.astype(np.uint64)) + np.uint64(base)).astype(np.uint32)


def _bitpack(deltas: np.ndarray, bitwidth: int) -> bytes:
    if bitwidth == 0:
        return b""
    bits = np.unpackbits(
        deltas.astype(">u4").view(np.uint8).reshape(-1, 4)
    ).reshape(-1, 32)[:, -bitwidth:]
    return np.packbits(bits.reshape(-1)).tobytes()

def _bitunpack(data: bytes, bitwidth: int, n: int) -> np.ndarray:
    if bitwidth == 0:
        return np.zeros(n, dtype=np.uint32)
    bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8), count=n * bitwidth)
    full = np.zeros((n, 32), dtype=np.uint8)
    full[:, -bitwidth:] = bits.reshape(n, bitwidth)
    return np.packbits(full.reshape(-1)).view(">u4").astype(np.uint32)


def _bytepack(deltas: np.ndarray, bytewidth: int) -> bytes:
    le = deltas.astype("<u4").view(np.uint8).reshape(-1, 4)
    return le[:, :bytewidth].tobytes()


def _byteunpack(data: bytes, bytewidth: int) -> np.ndarray:
    raw = np.frombuffer(data, dtype=np.uint8).reshape(-1, bytewidth)
    full = np.zeros((raw.shape[0], 4), dtype=np.uint8)
    full[:, :bytewidth] = raw
    return full.reshape(-1).view("<u4").astype(np.uint32)


def _compress(values: np.ndarray, base: int) -> tuple[int, bytes]:
    deltas = _deltas(np.asarray(values), base)
    if len(deltas) == FULL_BLOCK:
        bw = _bitwidth(deltas)
        return bw, _bitpack(deltas, bw)
    bw = max(1, (_bitwidth(deltas) + 7) // 8)
    return _BIT_FLAG | bw, _bytepack(deltas, bw)


def _decompress(metadata: int, data: bytes, base: int) -> np.ndarray:
    if metadata & _BIT_FLAG:
        bw = metadata & (_BIT_FLAG - 1)
        deltas = _byteunpack(data, bw)
    else:
        bw = metadata
        deltas = _bitunpack(data, bw, FULL_BLOCK)
    return _undeltas(deltas, base)


def compress_document_ids(min_doc_id: int, doc_ids: np.ndarray) -> tuple[int, bytes]:
    """Ordered stream: deltas vs previous, first vs block min
    (compression.rs:36-63)."""
    if len(doc_ids) > FULL_BLOCK:
        raise ValueError("block size exceeds 128")
    return _compress(doc_ids, min_doc_id)


def decompress_document_ids(min_doc_id: int, metadata: int, data: bytes) -> np.ndarray:
    return _decompress(metadata, data, min_doc_id)


def _bit_lengths(m: np.ndarray) -> np.ndarray:
    """Vectorized bit_length for uint32 values (frexp exponent is the
    exact bit length for integers below 2^53)."""
    return np.where(m > 0, np.frexp(m.astype(np.float64))[1], 0).astype(np.int64)


def _batch_bitpack(deltas2d: np.ndarray) -> list[tuple[int, bytes]]:
    """Pack many full 128-entry blocks at once: blocks are grouped by
    bitwidth so each distinct width costs one vector op instead of one
    op per block. Output is byte-identical to per-block
    compress_document_ids/compress_term_frequencies full-block paths."""
    nb = deltas2d.shape[0]
    widths = _bit_lengths(np.bitwise_or.reduce(deltas2d, axis=1))
    out: list[tuple[int, bytes] | None] = [None] * nb
    for w in np.unique(widths):
        idx = np.flatnonzero(widths == w)
        if w == 0:
            for i in idx:
                out[i] = (0, b"")
            continue
        bits = np.unpackbits(
            deltas2d[idx].astype(">u4").view(np.uint8).reshape(len(idx), FULL_BLOCK, 4),
            axis=-1,
        )[:, :, -int(w):]
        packed = np.packbits(bits.reshape(len(idx), -1), axis=-1)
        for j, i in enumerate(idx):
            out[i] = (int(w), packed[j].tobytes())
    return out  # type: ignore[return-value]


def compress_id_blocks(ids2d: np.ndarray) -> list[tuple[int, bytes]]:
    """Batch form of :func:`compress_document_ids` for (nb, 128)
    matrices of ascending doc ids (block min = first element)."""
    v = ids2d.astype(np.uint32, copy=False)
    deltas = np.diff(v, axis=1, prepend=v[:, :1])
    return _batch_bitpack(deltas)


def compress_tf_blocks(tfs2d: np.ndarray) -> list[tuple[int, bytes]]:
    """Batch form of :func:`compress_term_frequencies` for (nb, 128)."""
    return _batch_bitpack(tfs2d.astype(np.uint32, copy=False))


def compress_tail_blocks(
    values: np.ndarray, lengths: np.ndarray, ordered: bool
) -> tuple[np.ndarray, list[bytes]]:
    """Batch form of the tail-block (< 128 entries) bytepack path of
    :func:`compress_document_ids` (``ordered=True``: deltas against the
    previous id, the first against the block minimum = itself) and
    :func:`compress_term_frequencies` (``ordered=False``: raw values).
    ``values`` is the concatenation of the blocks, ``lengths`` their
    sizes. Returns (metadata per block, payload per block), one
    segmented vector pass instead of one call per block; byte-identical
    to the per-block functions (tested)."""
    v = np.asarray(values).astype(np.uint32, copy=False)
    lengths = np.asarray(lengths, dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(lengths)[:-1])).astype(np.int64)
    if ordered:
        d = np.empty_like(v)
        d[1:] = v[1:] - v[:-1]
        d[starts] = 0
    else:
        d = v
    widths = np.maximum(
        1, (_bit_lengths(np.bitwise_or.reduceat(d, starts)) + 7) // 8
    )
    le = d.astype("<u4").view(np.uint8).reshape(-1, 4)
    payloads = [
        le[s : s + n, :w].tobytes() for s, n, w in zip(starts, lengths, widths)
    ]
    return _BIT_FLAG | widths, payloads


def decompress_blocks_batch(
    metas,
    datas: list[bytes],
    counts,
    bases=None,
) -> list[np.ndarray]:
    """Batched decompression of many blocks: full (bitpacked) blocks are
    grouped by bitwidth so each distinct width costs one unpack vector
    op instead of one per block — the decode-side twin of
    :func:`_batch_bitpack`. Tail (bytepacked) blocks are rare (at most
    one per (term, shard) run) and decode individually.

    ``bases`` given -> ordered-delta streams (doc ids): per-block
    cumsum + base, exactly :func:`decompress_document_ids`. ``bases``
    omitted -> raw streams (term frequencies), exactly
    :func:`decompress_term_frequencies`. Outputs are element-identical
    to the per-block functions (tested)."""
    metas = np.asarray(metas, dtype=np.int64)
    counts = np.asarray(counts, dtype=np.int64)
    nb = len(metas)
    out: list[np.ndarray | None] = [None] * nb
    full = (metas & _BIT_FLAG) == 0
    base_arr = None if bases is None else np.asarray(bases, dtype=np.int64)

    for w in np.unique(metas[full]) if full.any() else []:
        idx = np.flatnonzero(full & (metas == w))
        w = int(w)
        if w == 0:
            deltas = np.zeros((len(idx), FULL_BLOCK), dtype=np.uint32)
        else:
            buf = np.frombuffer(
                b"".join(datas[i] for i in idx), dtype=np.uint8
            ).reshape(len(idx), FULL_BLOCK * w // 8)
            bits = np.unpackbits(buf, axis=-1).reshape(len(idx), FULL_BLOCK, w)
            wide = np.zeros((len(idx), FULL_BLOCK, 32), dtype=np.uint8)
            wide[:, :, 32 - w:] = bits
            deltas = (
                np.packbits(wide.reshape(len(idx), -1), axis=-1)
                .view(">u4")
                .astype(np.uint32)
            )
        if base_arr is not None:
            vals = (
                np.cumsum(deltas.astype(np.uint64), axis=1)
                + base_arr[idx, None].astype(np.uint64)
            ).astype(np.uint32)
        else:
            vals = deltas
        for j, i in enumerate(idx):
            out[i] = vals[j]

    for i in np.flatnonzero(~full):
        if base_arr is not None:
            out[i] = _decompress(int(metas[i]), datas[i], int(base_arr[i]))[
                : counts[i]
            ]
        else:
            out[i] = decompress_term_frequencies(int(metas[i]), datas[i])[
                : counts[i]
            ]
    return out  # type: ignore[return-value]


def compress_term_frequencies(tfs: np.ndarray) -> tuple[int, bytes]:
    """Unordered stream: values packed raw (delta base 0, no chaining)
    (compression.rs:94-110)."""
    if len(tfs) > FULL_BLOCK:
        raise ValueError("block size exceeds 128")
    v = np.asarray(tfs, dtype=np.uint32)
    if len(v) == FULL_BLOCK:
        bw = _bitwidth(v)
        return bw, _bitpack(v, bw)
    bw = max(1, (_bitwidth(v) + 7) // 8)
    return _BIT_FLAG | bw, _bytepack(v, bw)


def decompress_term_frequencies(metadata: int, data: bytes) -> np.ndarray:
    if metadata & _BIT_FLAG:
        return _byteunpack(data, metadata & (_BIT_FLAG - 1))
    return _bitunpack(data, metadata, FULL_BLOCK)
