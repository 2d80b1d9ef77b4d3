"""Driver-local evaluation (search_local): identical results to the
distributed path for every query shape, with zero Spark jobs once the
term cache is warm — the single-node-throughput parity mode."""

import time

import numpy as np
import pandas as pd
import pytest

from lucene_solr_1_spark.index.builder import build_index
from lucene_solr_1_spark.kernels import forcodec
from lucene_solr_1_spark.search import kernel as K
from lucene_solr_1_spark.search.query import (
    Bool, FunctionScore, Fuzzy, IntervalsQuery, NumericRange, Occur, Phrase,
    Prefix, SpanNear, SpanOr, Term, Wildcard,
)
from lucene_solr_1_spark.search.searcher import LuceneSparkSearcher


@pytest.fixture(scope="module")
def local_setup(spark, tmp_path_factory):
    from lucene_solr_1_spark.corpus import corpus_spark_df

    d = str(tmp_path_factory.mktemp("idx_local"))
    build_index(spark, corpus_spark_df(spark, 600, partitions=4), d,
                num_segments=4)
    return LuceneSparkSearcher(spark, d)


QUERIES = [
    Term("return"),
    Term("id_0042"),
    Term("zzz_missing"),
    Bool.of((Occur.MUST, Term("return")), (Occur.SHOULD, Term("class")),
            (Occur.MUST_NOT, Term("while"))),
    Bool.of((Occur.SHOULD, Term("public")), (Occur.SHOULD, Term("static")),
            min_should_match=2),
    Phrase(("return", "int")),
    Phrase(("return", "int"), slop=3),
    SpanNear((SpanOr(("public", "private")), "static"), slop=3),
    Fuzzy("retorn", max_edits=1),
    Prefix("id_00"),
    Wildcard("cl?ss"),
    Bool.of((Occur.MUST, Term("return")),
            (Occur.FILTER, NumericRange("dl", 50, 200))),
    FunctionScore(Term("return"), "dl", "multiply", 0.01),
    Bool.of((Occur.MUST, Term("return")),
            (Occur.FILTER, Term("python", field="lang"))),
]


@pytest.mark.parametrize("q", QUERIES, ids=[repr(q)[:50] for q in QUERIES])
def test_local_equals_distributed(local_setup, q):
    s = local_setup
    dist = s.search(q, k=20, with_stored=False)
    loc = s.search_local(q, k=20, with_stored=False)
    pd.testing.assert_frame_equal(
        dist.reset_index(drop=True), loc.reset_index(drop=True)
    )
    assert dist.attrs["total_hits"] == loc.attrs["total_hits"]
    assert dist.attrs["relation"] == loc.attrs["relation"]


def test_local_search_after_pages(local_setup):
    s = local_setup
    p1 = s.search_local(Term("return"), k=5)
    after = (float(p1["score"].iloc[-1]), int(p1["global_doc_id"].iloc[-1]))
    p2d = s.search(Term("return"), k=5, after=after, with_stored=False)
    p2l = s.search_local(Term("return"), k=5, after=after)
    pd.testing.assert_frame_equal(
        p2d.reset_index(drop=True), p2l.reset_index(drop=True)
    )


def test_service_local_routing(local_setup):
    """SearcherService local=True serves concurrent callers from the
    driver-local kernels with results identical to search()."""
    from lucene_solr_1_spark.search.service import SearcherService

    s = local_setup
    svc = SearcherService(searcher=s, max_concurrent=4)
    qs = {f"q{i}": Term(t) for i, t in
          enumerate(["return", "class", "public", "static", "void", "int"])}
    got = svc.search_all(qs, k=10, local=True, with_stored=False)
    svc.close()
    for name, q in qs.items():
        want = s.search(q, k=10, with_stored=False)
        pd.testing.assert_frame_equal(
            got[name].reset_index(drop=True), want.reset_index(drop=True)
        )


def test_local_mode_zero_jobs_when_warm(local_setup, count_jobs):
    """Once the term cache is warm, repeated local queries run without
    ANY Spark job — the resident single-node posture."""
    s = local_setup
    s.search_local(Term("return"), k=10)  # warm the term cache
    n = 30
    with count_jobs() as jobs:
        t0 = time.monotonic()
        for _ in range(n):
            s.search_local(Term("return"), k=10)
        wall = time.monotonic() - t0
    assert jobs == []  # zero new Spark jobs
    # and it's fast: well under the ~0.5 s/job dispatch floor
    assert wall / n < 0.05, f"{wall / n:.4f}s per warm local query"


def test_cold_local_term_runs_no_spark_job(local_setup, count_jobs):
    """search_local reads a missing key's posting rows from the segment
    files: opening a searcher and a cold term query launch no Spark job."""
    with count_jobs() as jobs:
        s = LuceneSparkSearcher(local_setup.spark, local_setup.index_dir)
        hits = s.search_local(Term("return"), k=10)
    assert jobs == []
    pd.testing.assert_frame_equal(
        hits, local_setup.search(Term("return"), k=10, with_stored=False)
    )


POSITIONAL = [
    Phrase(("return", "int")),
    SpanNear((SpanOr(("public", "private")), "static"), slop=3),
    IntervalsQuery(("public", "static"), ordered=True),
]


@pytest.mark.parametrize("q", POSITIONAL, ids=[type(q).__name__ for q in POSITIONAL])
def test_warm_positional_query_decodes_nothing(local_setup, monkeypatch, q):
    """A warm search_local reads postings and positions from the decode
    memo: a repeat of a phrase, span or interval query runs no FOR
    decode."""
    s = local_setup
    want = s.search_local(q, k=10)
    assert len(want)
    calls = []

    def counting(buf, offsets):
        calls.append(len(offsets))
        return forcodec.decode_all(buf, offsets)

    monkeypatch.setattr(K, "decode_all", counting)
    got = s.search_local(q, k=10)
    assert calls == []
    pd.testing.assert_frame_equal(got, want)


def test_allowed_views_share_the_decode_memo(local_setup):
    """The four small segments are one slice view (K.SliceData) in the
    local cache; with_allowed gives a per-query view of it whose decodes
    land in the slice's one memo."""
    s = local_setup
    s.search_local(Term("return"), k=10)
    (sl,) = s._local_slices.values()
    assert isinstance(sl, K.SliceData) and len(sl.shifts) == 4
    view = sl.with_allowed({"set": np.arange(3, dtype=np.int64)})
    assert view._decoded is sl._decoded
    key = ("content", "return")
    sl._decoded.pop((key, "positions"), None)
    got = view.positions(key)
    assert sl.positions(key) is got
    assert sl.allowed is None


def test_slice_view_is_its_segments_shifted(local_setup):
    """A slice's postings and positions for a key are its segments' own,
    docIDs shifted by each segment's doc_base, concatenated in order."""
    s = local_setup
    s.search_local(Term("return"), k=10)
    (sl,) = s._local_slices.values()
    key = ("content", "return")
    want = [[], [], [], []]
    for shift, row in sl.rows[key]:
        seg = K.SegmentData(pd.DataFrame([row]), 0)
        docs, freqs, _, pos = seg.positions(key)
        for out, part in zip(want, (docs + shift, freqs, pos, seg.postings(key)[2])):
            out.append(part)
    docs, freqs, starts, pos = sl.positions(key)
    for got, parts in zip((docs, freqs, pos, sl.postings(key)[2]), want):
        np.testing.assert_array_equal(got, np.concatenate(parts))
    assert (np.diff(docs) > 0).all()
    np.testing.assert_array_equal(starts[1:], np.cumsum(freqs)[:-1])


@pytest.mark.parametrize("q", QUERIES[:8], ids=[repr(q)[:50] for q in QUERIES[:8]])
def test_warm_local_query_makes_one_kernel_call(local_setup, count_kernel_calls, q):
    """The index's four small segments are one slice: a warm search_local
    scores a plan in one exhaustive kernel call over all 600 docs."""
    s = local_setup
    want = s.search_local(q, k=10)
    with count_kernel_calls() as calls:
        got = s.search_local(q, k=10)
    pd.testing.assert_frame_equal(got, want)
    assert calls == ([] if q == Term("zzz_missing") else [("exhaustive", 600)])


def test_mutating_a_result_leaves_the_next_one_alone(local_setup):
    """The result frame owns its columns: writing into one in place does
    not reach the decode memo or the next identical query."""
    s = local_setup
    q = Phrase(("return", "int"))
    first = s.search_local(q, k=10)
    want = first.copy()
    first["doc_id"].to_numpy()[:] = -1
    first["score"].to_numpy()[:] = 0
    first.loc[:, "global_doc_id"] = -1
    pd.testing.assert_frame_equal(s.search_local(q, k=10), want)
