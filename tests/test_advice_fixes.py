"""Regression tests for the round-1 ADVICE findings:

1. A Bool containing MatchAll (e.g. '*:* -foo') must return docs from
   segments that hold NONE of the query's terms (sentinel dispatch).
2. _match_all paging honors the score component of `after` and returns
   the same column order as search().
3. An index analyzed with only `turkish_case` still re-analyzes query
   terms (the searcher's query-analysis short-circuit lists the flag).
"""

import numpy as np
import pytest

from lucene_solr_1_spark.index.builder import build_index
from lucene_solr_1_spark.search.parser import parse
from lucene_solr_1_spark.search.query import MatchAll, Term
from lucene_solr_1_spark.search.searcher import LuceneSparkSearcher

from .oracle import OracleIndex


@pytest.fixture(scope="module")
def searcher(spark, tiny_corpus_pdf, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("idx_advice"))
    build_index(spark, spark.createDataFrame(tiny_corpus_pdf), index_dir, num_segments=4)
    return LuceneSparkSearcher(spark, index_dir)


@pytest.fixture(scope="module")
def oracle(tiny_corpus_pdf):
    return OracleIndex(tiny_corpus_pdf)


def test_matchall_in_bool_spans_all_segments(searcher, oracle):
    # 'tail_marker' lives in exactly one doc (corpus edge-case row 4), so
    # 3 of the 4 segments hold no posting of any query term — before the
    # sentinel-dispatch fix their docs silently vanished from the result.
    q = parse("*:* -tail_marker")
    hits = searcher.search(q, k=oracle.n_docs + 5, with_stored=False)
    excluded = set(oracle.term_scores("tail_marker"))
    want = [d for d in range(oracle.n_docs) if d not in excluded]
    assert sorted(hits["global_doc_id"].tolist()) == want
    assert len(excluded) >= 1
    # constant score 1.0 everywhere → rank order is global docID asc
    assert hits["global_doc_id"].tolist() == want


def test_matchall_in_bool_conjunction(searcher, oracle):
    # MatchAll as a SHOULD next to a MUST term: must-clause drives matching,
    # matchall adds +1.0 to every candidate — scores shift, ranks preserved
    q_plain = searcher.search(Term("return"), k=10, with_stored=False)
    q_mixed = searcher.search(parse("+return *:*"), k=10, with_stored=False)
    assert q_plain["global_doc_id"].tolist() == q_mixed["global_doc_id"].tolist()
    np.testing.assert_allclose(
        q_mixed["score"].to_numpy(np.float64),
        q_plain["score"].to_numpy(np.float64) + 1.0,
        rtol=1e-6,
    )


def test_match_all_after_score_semantics(searcher, oracle):
    base = searcher.search(MatchAll(), k=5, with_stored=False)
    assert base["global_doc_id"].tolist() == [0, 1, 2, 3, 4]

    # after-score below 1.0: nothing sorts after it under (score desc, doc asc)
    empty = searcher.search(MatchAll(), k=5, with_stored=False, after=(0.5, -1))
    assert len(empty) == 0

    # after-score exactly 1.0: page by global docID
    page2 = searcher.search(MatchAll(), k=5, with_stored=False, after=(1.0, 4))
    assert page2["global_doc_id"].tolist() == [5, 6, 7, 8, 9]

    # after-score above 1.0: every hit (score 1.0) sorts after the mark
    allhits = searcher.search(MatchAll(), k=5, with_stored=False, after=(2.0, 999))
    assert allhits["global_doc_id"].tolist() == [0, 1, 2, 3, 4]


def test_match_all_columns_match_search(searcher):
    ma = searcher.search(MatchAll(), k=3, with_stored=False)
    ts = searcher.search(Term("return"), k=3, with_stored=False)
    assert list(ma.columns) == list(ts.columns)
    ma_empty = searcher.search(MatchAll(), k=3, with_stored=False, after=(0.0, -1))
    assert list(ma_empty.columns) == list(ts.columns)


def test_turkish_case_only_index_reanalyzes_query_terms(spark, tmp_path, monkeypatch):
    """A custom chain whose ONLY reshaping flag is turkish_case must still
    route query terms through the index analyzer: I/İ are Turkish-lowered
    at index time, so a raw query term would never match."""
    import pandas as pd

    from lucene_solr_1_spark.kernels.analyzer import ANALYZERS, AnalyzerConfig

    cfg = AnalyzerConfig(turkish_case=True)
    monkeypatch.setitem(ANALYZERS, "turkish_case_only", cfg)
    docs = pd.DataFrame({
        "repo": "r", "path": ["a.txt", "b.txt"], "commit": "c", "lang": "tr",
        "content": ["IŞIK yanıyor", "İSTANBUL güzel"],
    })
    d = str(tmp_path / "idx_tr_case")
    m = build_index(spark, spark.createDataFrame(docs), d, num_segments=1, cfg=cfg)
    assert m["analyzer"] == "turkish_case_only"
    s = LuceneSparkSearcher(spark, d)
    assert s._analyze_query(Term("IŞIK")) == Term("ışık")
    assert s._analyze_query(Term("İSTANBUL")) == Term("istanbul")
    assert s.search(Term("IŞIK"), k=5)["path"].tolist() == ["a.txt"]
    assert s.search(Term("İSTANBUL"), k=5)["path"].tolist() == ["b.txt"]
