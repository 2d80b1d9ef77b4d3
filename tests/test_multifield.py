"""Multi-field engine tests: field-qualified search, keyword-field postings,
metadata FILTER on the kernel path, and numeric doc-values range filters.

Reference contracts modeled: document/Field.java + index/FieldInfos.java
(per-field postings/norms/stats), queryparser TestQueryParser /
TestMultiFieldQueryParser (field resolution), search/PointRangeQuery.java +
core TestPointQueries (numeric ranges), Boolean FILTER clause semantics
(BooleanQuery.java FILTER: matches constrain, never score)."""

import math

import numpy as np
import pytest

from lucene_solr_1_spark.index.builder import build_index
from lucene_solr_1_spark.search.parser import parse
from lucene_solr_1_spark.search.query import (
    Bool, MatchAll, NumericRange, Occur, Prefix, Term,
)
from lucene_solr_1_spark.search.searcher import LuceneSparkSearcher

from .oracle import OracleIndex


@pytest.fixture(scope="module")
def searcher(spark, tiny_corpus_pdf, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("idx_mf"))
    build_index(spark, spark.createDataFrame(tiny_corpus_pdf), index_dir, num_segments=4)
    return LuceneSparkSearcher(spark, index_dir)


@pytest.fixture(scope="module")
def oracle(tiny_corpus_pdf):
    return OracleIndex(tiny_corpus_pdf)


def _lang_docs(oracle, lang):
    return [i for i, l in enumerate(oracle.pdf["lang"]) if l == lang]


def _kw_score(df: int, n_docs: int) -> float:
    """float32 BM25 for a keyword-field term: tf=1, dl=1, avgdl=1."""
    f32 = np.float32
    idf = f32(math.log(1 + (n_docs - df + 0.5) / (df + 0.5)))
    cache = f32(f32(1.2) * (f32(0.25) + f32(0.75) * f32(1.0) / f32(1.0)))
    return float(f32(idf * f32(np.float64(f32(1.0)) / (np.float64(f32(1.0)) + np.float64(cache)))))


def test_keyword_field_term(searcher, oracle):
    """lang:python matches exactly the python docs, constant per-doc score
    (uniform tf/dl/avgdl within the keyword field)."""
    want = _lang_docs(oracle, "python")
    hits = searcher.search(Term("python", field="lang"), k=100, with_stored=False)
    assert sorted(hits["global_doc_id"].tolist()) == want
    # equal scores ⇒ ranked by global docID asc
    assert hits["global_doc_id"].tolist() == want
    expected = _kw_score(len(want), oracle.n_docs)
    np.testing.assert_allclose(hits["score"].to_numpy(np.float64), expected, rtol=1e-6)


def test_field_stats_are_per_field(searcher, oracle):
    fs = searcher.field_stats
    assert fs["content"]["sum_ttf"] == oracle.sum_ttf
    assert fs["lang"]["sum_ttf"] == oracle.n_docs  # one token per doc
    assert fs["lang"]["doc_count"] == oracle.n_docs


def test_metadata_filter_on_kernel_path(searcher, oracle):
    """BM25 match AND lang FILTER: scores = pure content scores, match set
    restricted — the 'lang:python AND tokenizer' class of query."""
    lang_set = set(_lang_docs(oracle, "python"))
    want = {
        d: s for d, s in oracle.term_scores("return").items() if d in lang_set
    }
    q = Bool.of(
        (Occur.MUST, Term("return")),
        (Occur.FILTER, Term("python", field="lang")),
    )
    hits = searcher.search(q, k=10, with_stored=False)
    top = oracle.top_k(want, 10)
    assert hits["global_doc_id"].tolist() == [d for d, _ in top]
    np.testing.assert_allclose(
        hits["score"].to_numpy(np.float64),
        [s for _, s in top],
        rtol=2e-5,
    )


def test_parsed_field_query_scored(searcher, oracle):
    """parse('lang:java AND return'): MUST keyword term + MUST content term
    — scores add (keyword clause contributes its BM25 score)."""
    q = parse("lang:java AND return")
    hits = searcher.search(q, k=10, with_stored=False)
    lang_docs = _lang_docs(oracle, "java")
    kw = _kw_score(len(lang_docs), oracle.n_docs)
    want = {
        d: s + kw
        for d, s in oracle.term_scores("return").items()
        if d in set(lang_docs)
    }
    top = oracle.top_k(want, 10)
    assert hits["global_doc_id"].tolist() == [d for d, _ in top]
    np.testing.assert_allclose(
        hits["score"].to_numpy(np.float64), [s for _, s in top], rtol=2e-5
    )


def test_keyword_exact_values(searcher, oracle):
    """repo/path keyword terms match verbatim (StringField, no analysis)."""
    repo = oracle.pdf["repo"].iloc[10]
    want = [i for i, r in enumerate(oracle.pdf["repo"]) if r == repo]
    hits = searcher.search(parse(f"repo:{repo}"), k=100, with_stored=False)
    assert sorted(hits["global_doc_id"].tolist()) == want

    path = oracle.pdf["path"].iloc[7]
    hits = searcher.search(Term(path, field="path"), k=10, with_stored=False)
    assert hits["global_doc_id"].tolist() == [7]


def test_keyword_prefix_expansion(searcher, oracle):
    """lang:j* → prefix expansion within the lang field only."""
    hits = searcher.search(Prefix("j", field="lang"), k=100, with_stored=False)
    want = _lang_docs(oracle, "java")
    assert sorted(hits["global_doc_id"].tolist()) == want


def test_numeric_range_standalone(searcher, oracle):
    """PointRangeQuery alone: constant score 1.0, docID order."""
    lo, hi = 50, 200
    want = [int(d) for d in np.flatnonzero(
        (oracle.exact_dl >= lo) & (oracle.exact_dl <= hi)
    )]
    hits = searcher.search(NumericRange("dl", lo, hi), k=100, with_stored=False)
    assert hits["global_doc_id"].tolist() == want
    assert (hits["score"] == 1.0).all()


def test_numeric_filter_with_bm25(searcher, oracle):
    """BM25 MUST + numeric FILTER: match set restricted, scores unchanged
    (the 'return AND dl in [50,200]' indexed plan)."""
    lo, hi = 50, 200
    in_range = set(np.flatnonzero(
        (oracle.exact_dl >= lo) & (oracle.exact_dl <= hi)
    ).tolist())
    want = {
        d: s for d, s in oracle.term_scores("return").items() if d in in_range
    }
    q = Bool.of(
        (Occur.MUST, Term("return")),
        (Occur.FILTER, NumericRange("dl", lo, hi)),
    )
    hits = searcher.search(q, k=10, with_stored=False)
    top = oracle.top_k(want, 10)
    assert hits["global_doc_id"].tolist() == [d for d, _ in top]
    np.testing.assert_allclose(
        hits["score"].to_numpy(np.float64), [s for _, s in top], rtol=2e-5
    )


def test_numeric_set_standalone(searcher, oracle):
    """PointInSetQuery alone: docs whose doc-value is in the explicit
    set, constant score 1.0, docID order (PointInSetQuery.java:63)."""
    from lucene_solr_1_spark.search.query import NumericSet

    vals = sorted({int(v) for v in oracle.exact_dl[::7]})[:12]
    want = [int(d) for d in np.flatnonzero(np.isin(oracle.exact_dl, vals))]
    hits = searcher.search(NumericSet("dl", tuple(vals)), k=1000,
                           with_stored=False)
    assert hits["global_doc_id"].tolist() == want
    assert (hits["score"] == 1.0).all()


def test_numeric_set_equals_dense_range(searcher):
    """An integer doc-value set covering [lo, hi] contiguously must be
    result-identical to the NumericRange filter — same doc-values sets,
    two different set_ids."""
    from lucene_solr_1_spark.search.query import NumericSet

    lo, hi = 50, 200
    qr = Bool.of(
        (Occur.MUST, Term("return")),
        (Occur.FILTER, NumericRange("dl", lo, hi)),
    )
    qs = Bool.of(
        (Occur.MUST, Term("return")),
        (Occur.FILTER, NumericSet("dl", tuple(range(lo, hi + 1)))),
    )
    hr = searcher.search(qr, k=10, with_stored=False)
    hs = searcher.search(qs, k=10, with_stored=False)
    assert hr["global_doc_id"].tolist() == hs["global_doc_id"].tolist()
    np.testing.assert_array_equal(
        hr["score"].to_numpy(np.float32), hs["score"].to_numpy(np.float32)
    )


def test_numeric_set_local_mode_matches(searcher):
    """search_local resolves NumericSet through the same cached
    doc-values channel as the distributed path."""
    from lucene_solr_1_spark.search.query import NumericSet

    q = Bool.of(
        (Occur.MUST, Term("return")),
        (Occur.FILTER, NumericSet("dl", (60, 75, 90, 105, 120, 150))),
    )
    dist = searcher.search(q, k=10, with_stored=False)
    loc = searcher.search_local(q, k=10)
    assert dist["global_doc_id"].tolist() == loc["global_doc_id"].tolist()
    np.testing.assert_array_equal(
        dist["score"].to_numpy(np.float32), loc["score"].to_numpy(np.float32)
    )


def test_numeric_must_not_with_matchall(searcher, oracle):
    """*:* minus a numeric range — a matchall plan with a doc-values set
    (segments whose docs ALL fall outside the range must still be
    scored and returned)."""
    q = Bool.of(
        (Occur.SHOULD, MatchAll()),
        (Occur.MUST_NOT, NumericRange("dl", 0, 50)),
    )
    hits = searcher.search(q, k=oracle.n_docs + 5, with_stored=False)
    want = [int(d) for d in np.flatnonzero(oracle.exact_dl > 50)]
    assert hits["global_doc_id"].tolist() == want


def test_searcher_service_concurrent_identical(spark, searcher):
    """SearcherService: concurrent independent queries return results
    identical to sequential search() (thread-safe driver caches + Spark
    job submission)."""
    from lucene_solr_1_spark.search.service import SearcherService

    svc = SearcherService(searcher=searcher, max_concurrent=4)
    try:
        qs = {
            "a": Term("return"),
            "b": Term("class"),
            "c": Bool.of((Occur.MUST, Term("return")), (Occur.SHOULD, Term("public"))),
            "d": Term("python", field="lang"),
        }
        conc = svc.search_all(qs, k=10, with_stored=False)
        for n, q in qs.items():
            seq = searcher.search(q, k=10, with_stored=False)
            assert conc[n]["global_doc_id"].tolist() == seq["global_doc_id"].tolist()
            np.testing.assert_array_equal(
                conc[n]["score"].to_numpy(), seq["score"].to_numpy()
            )
    finally:
        svc.close()


def test_search_many_with_numeric_filter(searcher):
    """Batch path supports NumericRange clauses: one job, per-query results
    identical to sequential search()."""
    q1 = Bool.of(
        (Occur.MUST, Term("return")),
        (Occur.FILTER, NumericRange("dl", 50, 200)),
    )
    q2 = Term("class")
    batch = searcher.search_many({"a": q1, "b": q2}, k=10)
    for name, q in [("a", q1), ("b", q2)]:
        solo = searcher.search(q, k=10, with_stored=False)
        sub = batch[batch["query"] == name]
        assert sub["global_doc_id"].tolist() == solo["global_doc_id"].tolist()
        np.testing.assert_array_equal(
            sub["score"].to_numpy(), solo["score"].to_numpy()
        )


def test_parsed_numeric_range_end_to_end(searcher, oracle):
    """parse('return AND dl:[50 TO 200]') runs the doc-values
    filter; as a MUST clause the constant-score range adds 1.0."""
    q = parse("return AND dl:[50 TO 200]")
    hits = searcher.search(q, k=10, with_stored=False)
    in_range = set(np.flatnonzero(
        (oracle.exact_dl >= 50) & (oracle.exact_dl <= 200)
    ).tolist())
    want = {
        d: s + 1.0
        for d, s in oracle.term_scores("return").items()
        if d in in_range
    }
    # the +1.0 shift compresses float32 resolution: near-ties collapse to
    # equal f32 scores and break by docID — rank the expectation in f32
    top = sorted(want.items(), key=lambda kv: (-np.float32(kv[1]), kv[0]))[:10]
    assert hits["global_doc_id"].tolist() == [d for d, _ in top]
    np.testing.assert_allclose(
        hits["score"].to_numpy(np.float64), [s for _, s in top], rtol=2e-5
    )


def test_numeric_unknown_field_raises(searcher):
    with pytest.raises(ValueError):
        searcher.search(NumericRange("nope", 0, 1), k=5)


def test_highlight_passages_best_window(searcher, oracle):
    """highlight_passages returns the densest query-term window, verified
    brute-force against the tokenized stored content."""
    from lucene_solr_1_spark.kernels.analyzer import tokenize_one

    q = Bool.of((Occur.SHOULD, Term("return")), (Occur.SHOULD, Term("class")))
    hits = searcher.search(q, k=5, with_stored=True)
    passages = searcher.highlight_passages(hits, q, window=8)
    assert len(passages) == len(hits)
    for hit, p in zip(hits.itertuples(index=False), passages.itertuples(index=False)):
        toks, _ = tokenize_one(hit.content)
        terms = {"return", "class"}
        best = max(
            (sum(1 for t in toks[s:s + 8] if t in terms), -s)
            for s, t in enumerate(toks)
            if t in terms
        )
        assert p.n_matches == best[0]
        assert p.start_pos == -best[1]
        assert p.passage == " ".join(toks[p.start_pos:p.start_pos + 8])
        assert any(t in terms for t in p.passage.split())


def test_stored_fields_include_content(searcher, oracle):
    hits = searcher.search(Term("return"), k=3, with_stored=True)
    assert "content" in hits.columns and "n_chars" in hits.columns
    for r in hits.itertuples(index=False):
        src = oracle.pdf[
            (oracle.pdf["repo"] == r.repo) & (oracle.pdf["path"] == r.path)
        ]["content"].iloc[0]
        assert r.content == src
        assert r.n_chars == len(src)
