"""Driver-local evaluation (search_local): identical results to the
distributed path for every query shape, with zero Spark jobs once the
term cache is warm — the single-node-throughput parity mode."""

import time

import numpy as np
import pandas as pd
import pytest

from lucene_solr_1_spark.index.builder import build_index
from lucene_solr_1_spark.search.query import (
    Bool, FunctionScore, Fuzzy, NumericRange, Occur, Phrase, Prefix,
    SpanNear, SpanOr, Term, Wildcard,
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
