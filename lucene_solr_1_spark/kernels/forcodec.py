"""FOR (Frame-of-Reference) block codec — vectorized NumPy bit-packing.

Semantics modeled on the reference's 128-int postings blocks
(/root/reference/lucene/core/src/java/org/apache/lucene/codecs/lucene50/
ForUtil.java:157-204 — per-block bit-width = max required, all-values-equal
fast path; Lucene50PostingsWriter.java:223-255 — docID deltas, 128-doc
blocks). Byte layout is OUR OWN (exact Lucene byte compatibility is not a
goal — this is a from-scratch format with the same structure: fixed-size
blocks, per-block width, random block access via an offset array).

Layout per block: [count-1: u8][width: u8][payload]
  width == 255 : ALL_EQUAL marker; payload = 8-byte LE value
  width ∈ 0..64: payload = ceil(count*width/8) bytes, LSB-first packing

`encode_blocks`/`encode_doc_deltas` encode one stream and are the pinned
contract. `encode_streams` encodes many streams in one pass (what segment
inversion calls): per-block max/min by `reduceat`, every block of one
width packed by one `packbits`, headers and payloads scattered into one
buffer; each stream's bytes and block offsets equal `encode_blocks`'.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128  # Lucene50PostingsFormat.BLOCK_SIZE (ForUtil.java / format docs)
_ALL_EQUAL = 255
# bit_length(v) == count of powers of two <= v
_POW2 = np.uint64(1) << np.arange(64, dtype=np.uint64)


def _pack_bits(vals: np.ndarray, width: int) -> bytes:
    """Pack uint64 values LSB-first into a little-endian bitstream."""
    if width == 0:
        return b""
    v = vals.astype(np.uint64)
    shifts = np.arange(width, dtype=np.uint64)
    bits = ((v[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.uint8)
    return np.packbits(bits.ravel(), bitorder="little").tobytes()


def _unpack_bits(buf: memoryview, count: int, width: int) -> np.ndarray:
    if width == 0:
        return np.zeros(count, dtype=np.int64)
    nbytes = (count * width + 7) // 8
    raw = np.frombuffer(buf[:nbytes], dtype=np.uint8)
    bits = np.unpackbits(raw, count=count * width, bitorder="little")
    bits = bits.reshape(count, width).astype(np.uint64)
    weights = np.uint64(1) << np.arange(width, dtype=np.uint64)
    return (bits * weights).sum(axis=1).astype(np.int64)


def encode_blocks(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Encode non-negative int64s into BLOCK_SIZE blocks.

    Returns (payload bytes, int64 array of per-block byte offsets) — the
    offset array is the skip structure: random access to block b without
    decoding blocks < b (replaces MultiLevelSkipListWriter file pointers).
    """
    values = np.asarray(values, dtype=np.int64)
    out = bytearray()
    offsets = []
    for start in range(0, len(values), BLOCK_SIZE):
        blk = values[start : start + BLOCK_SIZE]
        offsets.append(len(out))
        count = len(blk)
        first = blk[0]
        if np.all(blk == first):
            out.append(count - 1)
            out.append(_ALL_EQUAL)
            out += int(first).to_bytes(8, "little")
        else:
            width = int(blk.max()).bit_length()
            out.append(count - 1)
            out.append(width)
            out += _pack_bits(blk, width)
    return bytes(out), np.asarray(offsets, dtype=np.int64)


def _ranges(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenation of `arange(starts[i], starts[i] + counts[i])` over i."""
    counts = np.asarray(counts, dtype=np.int64)
    total = int(counts.sum())
    ends = np.cumsum(counts)
    return np.arange(total, dtype=np.int64) + np.repeat(starts - (ends - counts), counts)


def block_layout(lengths: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """BLOCK_SIZE blocks of streams of `lengths` laid back to back: each
    block's first index and value count, and per-stream block bounds
    (stream i owns blocks bounds[i]:bounds[i+1])."""
    lengths = np.asarray(lengths, dtype=np.int64)
    n_blocks = -(-lengths // BLOCK_SIZE)
    bounds = np.concatenate(([0], np.cumsum(n_blocks)))
    stream = np.repeat(np.arange(len(lengths)), n_blocks)
    within = (np.arange(bounds[-1]) - bounds[stream]) * BLOCK_SIZE
    first = (np.cumsum(lengths) - lengths)[stream] + within
    count = np.minimum(lengths[stream] - within, BLOCK_SIZE)
    return first, count, bounds


def encode_streams(values: np.ndarray, starts: np.ndarray, ends: np.ndarray
                   ) -> tuple[bytes, np.ndarray, np.ndarray, np.ndarray]:
    """`encode_blocks` of every stream `values[starts[i]:ends[i]]` of
    non-negative int64s, in one pass.

    Returns (buf, byte_bounds, offsets, block_bounds): stream i's bytes are
    buf[byte_bounds[i]:byte_bounds[i+1]] and its block offsets (relative to
    its own first byte) are offsets[block_bounds[i]:block_bounds[i+1]]."""
    values = np.asarray(values, dtype=np.int64)
    starts = np.asarray(starts, dtype=np.int64)
    lengths = np.asarray(ends, dtype=np.int64) - starts
    if not np.array_equal(starts, np.cumsum(lengths) - lengths):
        values = values[_ranges(starts, lengths)]  # streams do not tile values
    # cut at the last stream's end: reduceat's last block runs to the array end
    values = values[:int(lengths.sum())].view(np.uint64)
    first, count, block_bounds = block_layout(lengths)
    if len(first) == 0:
        return b"", np.zeros(len(starts) + 1, dtype=np.int64), first, block_bounds
    hi = np.maximum.reduceat(values, first)
    equal = hi == np.minimum.reduceat(values, first)
    width = np.where(equal, _ALL_EQUAL, np.searchsorted(_POW2, hi, side="right"))
    size = 2 + np.where(equal, 8, (count * width + 7) // 8)
    edges = np.concatenate(([0], np.cumsum(size)))
    at = edges[:-1]
    buf = np.empty(int(edges[-1]), dtype=np.uint8)
    buf[at] = count - 1
    buf[at + 1] = width
    eq = np.flatnonzero(equal)
    buf[_ranges(at[eq] + 2, np.full(len(eq), 8))] = hi[eq].astype("<u8").view(np.uint8)
    pk = np.flatnonzero(~equal)
    if len(pk):
        # packed blocks in width order; each is zero-padded to a multiple
        # of 8 values so its bits start on a byte (the zeros leave its
        # ceil(count*width/8)-byte prefix unchanged)
        pk = pk[np.argsort(width[pk], kind="stable")]
        w_pk, cnt = width[pk], count[pk]
        padded = (cnt + 7) & ~7
        slot = np.concatenate(([0], np.cumsum(padded)))
        flat = np.zeros(int(slot[-1]), dtype="<u8")
        flat[_ranges(slot[:-1], cnt)] = values[_ranges(first[pk], cnt)]
        group = np.concatenate(([0], np.flatnonzero(np.diff(w_pk)) + 1, [len(pk)]))
        parts = []
        for g in range(len(group) - 1):
            w = int(w_pk[group[g]])
            low = flat[slot[group[g]]:slot[group[g + 1]]].view(np.uint8).reshape(-1, 8)
            bits = np.unpackbits(low[:, :(w + 7) // 8], axis=1, bitorder="little")
            parts.append(np.packbits(bits[:, :w], bitorder="little"))
        padded_bytes = padded * w_pk // 8
        nbytes = (cnt * w_pk + 7) // 8
        payload = np.concatenate(parts)
        buf[_ranges(at[pk] + 2, nbytes)] = payload[_ranges(np.cumsum(padded_bytes) - padded_bytes, nbytes)]
    byte_bounds = edges[block_bounds]
    offsets = at - np.repeat(byte_bounds[:-1], np.diff(block_bounds))
    return buf.tobytes(), byte_bounds, offsets, block_bounds


def decode_block(buf: bytes, offset: int) -> np.ndarray:
    """Decode a single block starting at byte `offset`."""
    mv = memoryview(buf)
    count = mv[offset] + 1
    width = mv[offset + 1]
    body = mv[offset + 2 :]
    if width == _ALL_EQUAL:
        val = int.from_bytes(bytes(body[:8]), "little")
        return np.full(count, val, dtype=np.int64)
    return _unpack_bits(body, count, width)


def decode_all(buf: bytes, offsets: np.ndarray) -> np.ndarray:
    """Decode every block (exhaustive path)."""
    if len(buf) == 0:
        return np.empty(0, dtype=np.int64)
    parts = [decode_block(buf, int(o)) for o in offsets]
    return np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)


def encode_doc_deltas(doc_ids: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Delta-encode a strictly-increasing docID list then block-pack it
    (Lucene50PostingsWriter.startDoc doc-delta semantics)."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    deltas = np.diff(doc_ids, prepend=np.int64(0))
    deltas[0] = doc_ids[0] if len(doc_ids) else 0
    return encode_blocks(deltas)


def decode_doc_deltas(buf: bytes, offsets: np.ndarray) -> np.ndarray:
    """Inverse of encode_doc_deltas → absolute docIDs."""
    return np.cumsum(decode_all(buf, offsets))


def decode_doc_block(buf: bytes, offsets: np.ndarray, block_idx: int, first_doc_minus1: int) -> np.ndarray:
    """Random-access decode of doc block `block_idx` given the docID just
    before the block (from the skip metadata) — the skip-list seek analog."""
    deltas = decode_block(buf, int(offsets[block_idx]))
    return np.cumsum(deltas) + first_doc_minus1
