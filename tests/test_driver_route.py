"""Driver-scored vs Spark-dispatched search: one answer per query.

search() scores a query whose postings fit one slice (summed global ttf of
its keys <= MAX_DOCS_PER_SLICE) on the driver and sends everything else
through the Spark dispatch. Over seeded random queries on an index with
tombstones and a merged (directory) segment, the driver route, the Spark
route (forced by setting the bound to -1) and search_local must return
equal frames and attrs, and the BM25 top-10 must match the brute-force
oracle.
"""

import math
import os

import numpy as np
import pandas as pd
import pytest

from lucene_solr_1_spark.corpus import KEYWORDS, make_corpus_pandas
from lucene_solr_1_spark.index import deletes as D
from lucene_solr_1_spark.index import manifest as mf
from lucene_solr_1_spark.index.builder import build_index, postings_paths
from lucene_solr_1_spark.index.merge import merge_down
from lucene_solr_1_spark.search import searcher as S
from lucene_solr_1_spark.search.query import Bool, Occur, Phrase, Term

from .oracle import OracleIndex

SEED = 20261017
K = 10
RTOL = 2e-5  # float32 engine scores against float64 oracle scores
N_DELETED = 12


@pytest.fixture(scope="module")
def routed(spark, tmp_path_factory):
    corpus = make_corpus_pandas(240)
    d = str(tmp_path_factory.mktemp("idx_route") / "idx")
    build_index(spark, spark.createDataFrame(corpus), d, num_segments=4)
    merge_down(spark, d, target_segments=3)
    rng = np.random.default_rng(SEED)
    deleted = set(rng.choice(corpus["path"].to_numpy(), size=N_DELETED, replace=False))
    for path in sorted(deleted):
        D.delete_by_term(spark, d, path, field="path")
    m = mf.read_manifest(d)
    assert any(os.path.isdir(p) for p in postings_paths(d, m))
    assert len(m["segments"]) > 1
    s = S.LuceneSparkSearcher(spark, d)
    assert sum(len(v) for v in s.tombstones.values()) == N_DELETED
    return s, OracleIndex(corpus), deleted


def _spec_queries(oracle: OracleIndex, rng: np.random.Generator) -> list:
    """(spec, query) pairs in the five benchmark shapes — term, 2-clause
    AND, 2-clause OR, 2-term phrase, term under a lang FILTER — plus a
    3-term phrase, each drawn from one random document so it matches."""
    out = []
    shapes = ("term", "and", "or", "phrase", "filter") * 3 + ("phrase3",)
    for shape in shapes:
        d = int(rng.integers(5, oracle.n_docs))
        tf = oracle.docs[d]
        tail = sorted(t for t in tf if t.startswith("id_"))
        hot = sorted(t for t in tf if t in KEYWORDS)
        a = str(rng.choice(tail or hot))
        b = str(rng.choice(hot or tail))
        if shape == "term":
            spec, q = ("term", (a,), ""), Term(a)
        elif shape == "and":
            spec = ("and", (a, b), "")
            q = Bool.of((Occur.MUST, Term(a)), (Occur.MUST, Term(b)))
        elif shape == "or":
            spec = ("or", (a, b), "")
            q = Bool.of((Occur.SHOULD, Term(a)), (Occur.SHOULD, Term(b)))
        elif shape == "filter":
            lang = str(oracle.pdf["lang"].iloc[d])
            spec = ("filter", (a,), lang)
            q = Bool.of((Occur.MUST, Term(a)), (Occur.FILTER, Term(lang, field="lang")))
        else:
            n = 3 if shape == "phrase3" else 2
            at = {p: t for t, ps in oracle.positions[d].items() for p in ps}
            starts = [p for p in sorted(at) if all(p + i in at for i in range(n))]
            p = starts[int(rng.integers(len(starts)))]
            terms = tuple(at[p + i] for i in range(n))
            spec, q = ("phrase", terms, ""), Phrase(terms)
        out.append((spec, q))
    return out


def _oracle_scores(oracle: OracleIndex, spec: tuple) -> dict:
    shape, terms, lang = spec
    if shape == "term":
        return oracle.term_scores(terms[0])
    if shape == "and":
        return oracle.bool_and(list(terms))
    if shape == "or":
        return oracle.bool_or(list(terms))
    if shape == "phrase":
        return oracle.phrase_scores(list(terms))
    langs = oracle.pdf["lang"].to_numpy()
    return {d: s for d, s in oracle.term_scores(terms[0]).items() if langs[d] == lang}


def _assert_oracle_top_k(oracle: OracleIndex, deleted: set, spec: tuple, hits):
    """Rank identity modulo float ties: rank i's score is the oracle's
    rank-i score, and each hit really has that score in the oracle."""
    live = oracle.pdf["path"].to_numpy()
    want = {
        d: s for d, s in _oracle_scores(oracle, spec).items() if live[d] not in deleted
    }
    top = oracle.top_k(want, K)
    assert len(hits) == len(top), spec
    doc_of = {p: i for i, p in enumerate(live)}
    for path, score, (_, ws) in zip(hits["path"], hits["score"], top):
        assert math.isclose(score, ws, rel_tol=RTOL), spec
        assert math.isclose(want[doc_of[path]], score, rel_tol=RTOL), spec


def _three_routes(s, monkeypatch, q, **kw) -> pd.DataFrame:
    """search() on the driver route and on the Spark route, and
    search_local: all three frames and attrs must be equal."""
    routes = []
    orig = S.LuceneSparkSearcher._score_on_driver

    def spy(self, *args):
        routes.append("driver")
        return orig(self, *args)

    with monkeypatch.context() as m:
        m.setattr(S.LuceneSparkSearcher, "_score_on_driver", spy)
        s._result_cache.clear()
        driver = s.search(q, k=K, with_stored=True, **kw)
        assert routes == ["driver"], q
        m.setattr(S, "MAX_DOCS_PER_SLICE", -1)
        s._result_cache.clear()
        dispatched = s.search(q, k=K, with_stored=True, **kw)
        assert routes == ["driver"], q
    local = s.search_local(q, k=K, with_stored=True, **kw)
    for other in (dispatched, local):
        pd.testing.assert_frame_equal(driver, other)
        assert driver.attrs == other.attrs, q
    return driver


def test_routes_agree_on_random_queries(routed, monkeypatch):
    s, oracle, deleted = routed
    rng = np.random.default_rng(SEED + 1)
    for spec, q in _spec_queries(oracle, rng):
        hits = _three_routes(s, monkeypatch, q)
        _assert_oracle_top_k(oracle, deleted, spec, hits)


def test_routes_agree_on_keyword_terms_and_empty_results(routed, monkeypatch):
    s, oracle, deleted = routed
    rng = np.random.default_rng(SEED + 2)
    live = sorted(set(oracle.pdf["path"]) - deleted)
    path = str(rng.choice(live))
    hits = _three_routes(s, monkeypatch, Term(path, field="path"))
    assert hits["path"].tolist() == [path]
    lang = str(rng.choice(sorted(set(oracle.pdf["lang"]))))
    hits = _three_routes(s, monkeypatch, Term(lang, field="lang"))
    assert len(hits) == K and (hits["lang"] == lang).all()
    # a deleted key and an absent term: empty frames with the same dtypes
    for q in (Term(sorted(deleted)[0], field="path"), Term("zzz_absent")):
        hits = _three_routes(s, monkeypatch, q)
        assert len(hits) == 0 and hits.attrs["total_hits"] == 0


def test_routes_agree_with_after_paging_and_lmd(routed, monkeypatch):
    s, oracle, _ = routed
    rng = np.random.default_rng(SEED + 3)
    for spec, q in _spec_queries(oracle, rng)[:5]:
        page1 = _three_routes(s, monkeypatch, q)
        if len(page1):
            after = (float(page1["score"].iloc[-1]), int(page1["global_doc_id"].iloc[-1]))
            _three_routes(s, monkeypatch, q, after=after)
        if spec[0] != "phrase":  # LM similarities score single-term stats only
            _three_routes(s, monkeypatch, q, similarity="lmd")
