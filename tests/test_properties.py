"""Hypothesis property tests — BaseSimilarityTestCase /
BasePostingsFormatTestCase randomized-property model (SURVEY.md §5):
scores finite, bounded, monotone; codec round-trips arbitrary inputs;
SmallFloat quantization sound."""

import numpy as np
from hypothesis import given, settings, strategies as st

from lucene_solr_1_spark.kernels import bm25, forcodec as fc
from lucene_solr_1_spark.kernels.smallfloat import (
    LENGTH_TABLE, byte4_to_int, int_to_byte4,
)

NONNEG = st.integers(min_value=0, max_value=2**40)


@settings(max_examples=200, deadline=None)
@given(st.lists(NONNEG, min_size=1, max_size=400))
def test_forcodec_roundtrip_any_values(vals):
    arr = np.asarray(vals, dtype=np.int64)
    buf, offsets = fc.encode_blocks(arr)
    np.testing.assert_array_equal(fc.decode_all(buf, offsets), arr)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**40), min_size=1,
                max_size=300, unique=True))
def test_doc_delta_roundtrip(vals):
    docs = np.sort(np.asarray(vals, dtype=np.int64))
    buf, offsets = fc.encode_doc_deltas(docs)
    np.testing.assert_array_equal(fc.decode_doc_deltas(buf, offsets), docs)


@settings(max_examples=200, deadline=None)
@given(st.lists(
    st.one_of(
        st.lists(st.integers(min_value=0, max_value=2**62), max_size=300),
        st.builds(lambda v, n: [v] * n,
                  st.integers(min_value=0, max_value=2**62), st.integers(0, 300)),
    ),
    max_size=8,
))
def test_encode_streams_equals_encode_blocks(streams):
    """The batch encoder gives every stream of a concatenation the bytes
    and block offsets encode_blocks gives it alone, and they decode back
    (zero-length, all-equal and all-zero streams included)."""
    arrs = [np.asarray(s, dtype=np.int64) for s in streams]
    lengths = np.asarray([len(a) for a in arrs], dtype=np.int64)
    ends = np.cumsum(lengths)
    values = np.concatenate(arrs) if arrs else np.empty(0, dtype=np.int64)
    buf, byte_bounds, offsets, block_bounds = fc.encode_streams(values, ends - lengths, ends)
    for i, arr in enumerate(arrs):
        want_buf, want_off = fc.encode_blocks(arr)
        got_buf = buf[byte_bounds[i]:byte_bounds[i + 1]]
        got_off = offsets[block_bounds[i]:block_bounds[i + 1]]
        assert got_buf == want_buf
        np.testing.assert_array_equal(got_off, want_off)
        np.testing.assert_array_equal(fc.decode_all(got_buf, got_off), arr)


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=0, max_value=2**31 - 1))
def test_smallfloat_quantization_sound(x):
    """intToByte4 round-trip: lossy but lower-bounding and monotone
    (SmallFloat.java:101-156 contract)."""
    b = int_to_byte4(np.asarray([x], dtype=np.int64))
    back = int(byte4_to_int(b)[0])
    assert back <= x
    assert 0 <= int(b[0]) <= 255
    # idempotent: re-encoding the decoded value is stable
    assert int(int_to_byte4(np.asarray([back]))[0]) == int(b[0])


@settings(max_examples=150, deadline=None)
@given(
    st.integers(min_value=1, max_value=10**6),   # doc_freq n
    st.integers(min_value=1, max_value=10**7),   # doc_count N (>= n below)
    st.integers(min_value=1, max_value=10**4),   # freq
    st.integers(min_value=0, max_value=255),     # norm byte
    st.floats(min_value=1.0, max_value=10**4),   # avgdl
)
def test_bm25_score_properties(n, N, f, nb, avgdl):
    """Score finite, 0 <= score <= weight (maxScore bound), monotone ↑ in
    freq and ↓ in field length (BaseSimilarityTestCase.java:252-400)."""
    N = max(N, n)
    w = bm25.term_weight(bm25.idf(n, N))
    cache = bm25.norm_cache(np.float32(avgdl))
    s = float(bm25.score(np.asarray([f]), np.asarray([nb]), w, cache)[0])
    assert np.isfinite(s) and s >= 0
    assert s <= float(bm25.max_score(w)) + 1e-9
    s_more = float(bm25.score(np.asarray([f + 1]), np.asarray([nb]), w, cache)[0])
    assert s_more >= s  # monotone in freq
    if nb < 255 and LENGTH_TABLE[nb + 1] > LENGTH_TABLE[nb]:
        s_longer = float(bm25.score(np.asarray([f]), np.asarray([nb + 1]), w, cache)[0])
        assert s_longer <= s + 1e-9  # longer doc never scores higher


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=0, max_value=10**7),
       st.integers(min_value=0, max_value=10**7))
def test_idf_monotone_decreasing_in_df(n1, n2):
    N = 10**7 + 1
    lo, hi = sorted((n1, n2))
    assert float(bm25.idf(hi, N)) <= float(bm25.idf(lo, N)) + 1e-12
