"""FOR codec round-trip tests — mirrors BasePostingsFormatTestCase /
TestForUtil randomized round-trips (FIXTURES.md §4)."""

import numpy as np
import pytest

from lucene_solr_1_spark.kernels import forcodec as fc


@pytest.mark.parametrize("n", [1, 2, 127, 128, 129, 255, 256, 1000, 100_000])
def test_roundtrip_random_sorted_docids(n):
    rng = np.random.default_rng(n)
    doc_ids = np.sort(rng.choice(np.arange(n * 10, dtype=np.int64), size=n, replace=False))
    buf, offsets = fc.encode_doc_deltas(doc_ids)
    assert len(offsets) == (n + fc.BLOCK_SIZE - 1) // fc.BLOCK_SIZE
    back = fc.decode_doc_deltas(buf, offsets)
    np.testing.assert_array_equal(back, doc_ids)


@pytest.mark.parametrize("n", [1, 128, 129, 1000])
def test_roundtrip_freqs_zipf(n):
    rng = np.random.default_rng(n + 7)
    freqs = np.minimum(rng.zipf(1.5, size=n), 10**6).astype(np.int64)
    buf, offsets = fc.encode_blocks(freqs)
    np.testing.assert_array_equal(fc.decode_all(buf, offsets), freqs)


def test_all_equal_block_fast_path():
    vals = np.full(fc.BLOCK_SIZE, 7, dtype=np.int64)
    buf, offsets = fc.encode_blocks(vals)
    # marker layout: 2 header bytes + 8-byte value
    assert len(buf) == 10
    np.testing.assert_array_equal(fc.decode_all(buf, offsets), vals)


def test_all_zero_block():
    vals = np.zeros(130, dtype=np.int64)
    buf, offsets = fc.encode_blocks(vals)
    np.testing.assert_array_equal(fc.decode_all(buf, offsets), vals)


def test_random_block_access():
    rng = np.random.default_rng(3)
    doc_ids = np.sort(rng.choice(np.arange(10**6, dtype=np.int64), size=1000, replace=False))
    buf, offsets = fc.encode_doc_deltas(doc_ids)
    # decode block 3 alone, seeded with last doc of block 2 (skip-list seek)
    prev = doc_ids[3 * fc.BLOCK_SIZE - 1]
    blk = fc.decode_doc_block(buf, offsets, 3, int(prev))
    np.testing.assert_array_equal(blk, doc_ids[3 * fc.BLOCK_SIZE : 4 * fc.BLOCK_SIZE])
    # block 0 is seeded with 0
    blk0 = fc.decode_doc_block(buf, offsets, 0, 0)
    np.testing.assert_array_equal(blk0, doc_ids[: fc.BLOCK_SIZE])


def test_wide_values():
    vals = np.array([0, 1, 2**40, 2**52 + 3], dtype=np.int64)
    buf, offsets = fc.encode_blocks(vals)
    np.testing.assert_array_equal(fc.decode_all(buf, offsets), vals)


def test_empty():
    buf, offsets = fc.encode_blocks(np.empty(0, dtype=np.int64))
    assert fc.decode_all(buf, offsets).size == 0


def _check_streams(streams, doc_streams=()):
    """encode_streams over the concatenation of `streams` gives, per
    stream, the bytes and block offsets of encode_blocks alone (of
    encode_doc_deltas for the indices in `doc_streams`, whose values are
    fed as their deltas), and the bytes decode back."""
    lengths = np.asarray([len(s) for s in streams], dtype=np.int64)
    ends = np.cumsum(lengths)
    feed = [np.diff(s, prepend=np.int64(0)) if i in doc_streams else s
            for i, s in enumerate(streams)]
    values = np.concatenate(feed) if feed else np.empty(0, dtype=np.int64)
    buf, byte_bounds, offsets, block_bounds = fc.encode_streams(values, ends - lengths, ends)
    assert len(byte_bounds) == len(block_bounds) == len(streams) + 1
    assert byte_bounds[-1] == len(buf)
    for i, s in enumerate(streams):
        enc = fc.encode_doc_deltas if i in doc_streams else fc.encode_blocks
        want_buf, want_off = enc(s)
        got_buf = buf[byte_bounds[i]:byte_bounds[i + 1]]
        got_off = offsets[block_bounds[i]:block_bounds[i + 1]]
        assert got_buf == want_buf, i
        np.testing.assert_array_equal(got_off, want_off)
        decode = fc.decode_doc_deltas if i in doc_streams else fc.decode_all
        np.testing.assert_array_equal(decode(got_buf, got_off), s)


@pytest.mark.parametrize("n", [1, 127, 128, 129, 257])
def test_encode_streams_equals_scalar_per_length(n):
    rng = np.random.default_rng(n)
    _check_streams([
        rng.integers(0, 2**62, size=n),
        rng.integers(0, 50, size=n),
        np.cumsum(rng.integers(1, 9, size=n)),
    ], doc_streams={2})


def test_encode_streams_all_equal_and_zero_blocks():
    _check_streams([
        np.full(300, 2**62, dtype=np.int64),
        np.zeros(129, dtype=np.int64),
        np.concatenate((np.full(128, 5), np.arange(128), np.zeros(3))).astype(np.int64),
        np.asarray([2**62 - 1, 0], dtype=np.int64),
    ])


def test_encode_streams_zero_length_stream_between_others():
    empty = np.empty(0, dtype=np.int64)
    _check_streams([np.arange(130, dtype=np.int64), empty, np.asarray([9, 1, 4])])
    _check_streams([empty, np.asarray([3]), empty, empty])


def test_encode_streams_empty_input():
    buf, byte_bounds, offsets, block_bounds = fc.encode_streams(
        np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))
    assert buf == b""
    assert byte_bounds.tolist() == block_bounds.tolist() == [0]
    assert offsets.size == 0


def test_encode_streams_out_of_order_streams():
    """Streams need not tile `values`: each is cut from its own range."""
    rng = np.random.default_rng(5)
    values = rng.integers(0, 1000, size=600)
    starts = np.asarray([400, 0, 130, 130], dtype=np.int64)
    ends = np.asarray([600, 129, 130, 390], dtype=np.int64)
    buf, byte_bounds, offsets, block_bounds = fc.encode_streams(values, starts, ends)
    for i, (a, b) in enumerate(zip(starts, ends)):
        want_buf, want_off = fc.encode_blocks(values[a:b])
        assert buf[byte_bounds[i]:byte_bounds[i + 1]] == want_buf
        np.testing.assert_array_equal(offsets[block_bounds[i]:block_bounds[i + 1]], want_off)
