"""The searcher's plan memo: a query is analyzed, rewritten, expanded and
compiled once per searcher.

LuceneSparkSearcher._prepare keeps each prepared plan per (query,
similarity) in a bounded LRU (search.searcher._LRU, the helper the
result cache uses too). The index is immutable under a searcher's
manifest generation, so a plan never goes stale; a reopened searcher
starts empty. Every route then scores the one shared plan, so no route
may write into it.
"""

import copy

import numpy as np
import pandas as pd
import pytest

from lucene_solr_1_spark.corpus import make_corpus_pandas
from lucene_solr_1_spark.index import deletes as D
from lucene_solr_1_spark.index.builder import add_documents, build_index
from lucene_solr_1_spark.search import kernel as K
from lucene_solr_1_spark.search import searcher as S
from lucene_solr_1_spark.search.query import Bool, Occur, Prefix, Term

from .oracle import OracleIndex
from .test_driver_route import SEED, _random_queries, _route, _three_routes

K_TOP = 10
QUERY = Bool.of((Occur.MUST, Term("return")), (Occur.SHOULD, Prefix("id_00")),
                (Occur.FILTER, Term("public")))


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    """120 docs in two segments and an appended one, one tombstone."""
    corpus = make_corpus_pandas(128)
    d = str(tmp_path_factory.mktemp("idx_memo") / "idx")
    build_index(spark, spark.createDataFrame(corpus.iloc[:120]), d, num_segments=2)
    add_documents(spark, spark.createDataFrame(corpus.iloc[120:]), d, num_segments=1)
    D.delete_by_term(spark, d, corpus["path"].iloc[7], field="path")
    return d, corpus


def _counting(monkeypatch):
    """Count compile_plan and expand calls (recursive ones included)."""
    calls = {"compile_plan": 0, "expand": 0}

    def wrap(owner, name):
        real = getattr(owner, name)

        def counted(*args, **kwargs):
            calls[name] += 1
            return real(*args, **kwargs)
        monkeypatch.setattr(owner, name, counted)

    wrap(K, "compile_plan")
    wrap(S.LuceneSparkSearcher, "expand")
    return calls


def test_repeated_query_is_planned_once(spark, index, monkeypatch):
    s = S.LuceneSparkSearcher(spark, index[0])
    calls = _counting(monkeypatch)
    first = s.search_local(QUERY, k=K_TOP)
    planned = dict(calls)
    assert planned["compile_plan"] and planned["expand"]
    for k in (K_TOP, 5):
        pd.testing.assert_frame_equal(s.search_local(QUERY, k=k), first.head(k))
    # search() with two k values: two result-cache misses, one plan
    assert s.search(QUERY, k=K_TOP, with_stored=False).equals(first)
    assert s.search(QUERY, k=3, with_stored=False).equals(first.head(3))
    assert calls == planned
    assert len(s._plans) == 1


def test_unhashable_similarity_is_prepared_uncached(spark, index):
    s = S.LuceneSparkSearcher(spark, index[0])
    want = s.search_local(QUERY, k=K_TOP, similarity=("multi", ("classic", "boolean")))
    assert len(s._plans) == 1
    got = s.search_local(QUERY, k=K_TOP, similarity=("multi", ["classic", "boolean"]))
    pd.testing.assert_frame_equal(got, want)
    assert len(s._plans) == 1
    assert len(got) and got.attrs == want.attrs


def test_memo_holds_at_most_its_bound(spark, index, monkeypatch):
    monkeypatch.setattr(S, "PLAN_CACHE_SIZE", 4)
    s = S.LuceneSparkSearcher(spark, index[0])
    queries = [Term(t) for t in ("return", "public", "class", "int", "static", "void")]
    for q in queries:
        s.search_local(q, k=K_TOP)
        assert len(s._plans) <= 4
    assert len(s._plans) == 4
    # the least recently used plans went first
    assert s._plans.get((queries[0], None)) is None
    assert s._plans.get((queries[-1], None)) is not None


def test_lru_evicts_least_recent_and_skips_unhashable_keys():
    lru = S._LRU(2)
    lru.put("a", 1)
    lru.put("b", 2)
    assert lru.get("a") == 1  # "b" is now the least recent
    lru.put("c", 3)
    assert (lru.get("a"), lru.get("b"), lru.get("c")) == (1, None, 3)
    lru.put(["unhashable"], 4)
    assert lru.get(["unhashable"]) is None and len(lru) == 2


def test_reopened_searcher_starts_empty(spark, tmp_path):
    """A new manifest generation gets new plans: its term stats differ."""
    corpus = make_corpus_pandas(40)
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(corpus.iloc[:30]), d, num_segments=1)
    old = S.LuceneSparkSearcher(spark, d)
    q = Term("return")
    old.search_local(q, k=K_TOP)
    assert len(old._plans) == 1
    add_documents(spark, spark.createDataFrame(corpus.iloc[30:]), d, num_segments=1)
    new = S.LuceneSparkSearcher(spark, d)
    assert len(new._plans) == 0
    hits = new.search_local(q, k=K_TOP)
    assert new._prepare(q).plan["weight"] != old._prepare(q).plan["weight"]
    assert hits.attrs["total_hits"] > old.search_local(q, k=K_TOP).attrs["total_hits"]


def _same(a, b) -> bool:
    """Deep equality of two plans, arrays and scalars by type and bits."""
    if type(a) is not type(b):
        return False
    if isinstance(a, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    if isinstance(a, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, (np.ndarray, np.generic)):
        return a.dtype == b.dtype and np.asarray(a).tobytes() == np.asarray(b).tobytes()
    return a == b


def test_routes_leave_the_shared_plan_unchanged(spark, index, monkeypatch):
    """Each route scores the memoized plan itself: afterwards it equals
    its copy from before scoring, and the memo still hands out the same
    object. rescore and explain read it too."""
    s = S.LuceneSparkSearcher(spark, index[0])
    # test_driver_route's random trees, drawn from its 248-doc corpus
    # (this index holds its first 128 docs)
    queries = [QUERY] + _random_queries(OracleIndex(make_corpus_pandas(248)), SEED + 4, 12)
    for q in queries:
        prepared = s._prepare(q)
        if prepared.plan is None:
            continue
        before = copy.deepcopy(prepared.plan)
        hits = _three_routes(s, monkeypatch, q, route=_route(s, q))
        if len(hits):
            after = (float(hits["score"].iloc[-1]), int(hits["global_doc_id"].iloc[-1]))
            _three_routes(s, monkeypatch, q, route=_route(s, q), after=after)
            s.rescore(Term("return"), q, first_k=20, k=K_TOP)
            s.explain(q, int(hits["global_doc_id"].iloc[0]))
        assert s._prepare(q) is prepared, q
        assert _same(prepared.plan, before), q
