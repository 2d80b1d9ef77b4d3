"""End-to-end engine tests: build index on the tiny synthetic corpus, run
the query set, assert rank-identity against the brute-force oracle
(FIXTURES.md §5), WAND↔exhaustive equivalence, merge invariance and the
content-sha ingest invariant."""

import numpy as np
import pandas as pd
import pytest

from lucene_solr_1_spark.index.builder import build_index
from lucene_solr_1_spark.search.query import (
    Bool, Boost, DisjunctionMax, Fuzzy, MatchAll, Occur, Phrase, Prefix,
    Synonym, Term, Wildcard,
)
from lucene_solr_1_spark.search.searcher import LuceneSparkSearcher

from .oracle import OracleIndex


@pytest.fixture(scope="module")
def tiny_index(spark, tiny_corpus_pdf, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("idx_tiny"))
    df = spark.createDataFrame(tiny_corpus_pdf)
    manifest = build_index(spark, df, index_dir, num_segments=4)
    return index_dir, manifest


@pytest.fixture(scope="module")
def oracle(tiny_corpus_pdf):
    return OracleIndex(tiny_corpus_pdf)


@pytest.fixture(scope="module")
def searcher(spark, tiny_index):
    index_dir, _ = tiny_index
    return LuceneSparkSearcher(spark, index_dir)


def keys_of(hits: pd.DataFrame) -> list[str]:
    return [f"{r.repo}|{r.path}|{r.commit}" for r in hits.itertuples(index=False)]


def assert_matches_oracle(hits, oracle_topk, oracle):
    got = keys_of(hits)
    want = [oracle.key_of(d) for d, _ in oracle_topk]
    assert got == want, f"\ngot:  {got}\nwant: {want}"
    got_scores = hits["score"].to_numpy(dtype=np.float64)
    want_scores = np.array([s for _, s in oracle_topk])
    np.testing.assert_allclose(got_scores, want_scores, rtol=2e-5)


def test_manifest_global_stats(tiny_index, oracle):
    _, manifest = tiny_index
    assert manifest["doc_count"] == oracle.n_docs
    assert manifest["sum_ttf"] == oracle.sum_ttf
    assert len(manifest["segments"]) == 4
    for s in manifest["segments"]:
        assert s["input_fingerprint"]
        assert s["total_postings"] >= 0


def test_single_hot_term(searcher, oracle):
    hits = searcher.search(Term("return"), k=10)
    assert_matches_oracle(hits, oracle.top_k(oracle.term_scores("return"), 10), oracle)
    assert hits.attrs["total_hits"] == len(oracle.term_scores("return"))


def test_single_rare_term(searcher, oracle):
    hits = searcher.search(Term("tail_marker"), k=10)
    assert_matches_oracle(
        hits, oracle.top_k(oracle.term_scores("tail_marker"), 10), oracle
    )


def test_absent_term(searcher):
    hits = searcher.search(Term("zzz_not_there"), k=10)
    assert len(hits) == 0
    assert hits.attrs["total_hits"] == 0


def test_bool_or(searcher, oracle):
    q = Bool.of((Occur.SHOULD, Term("return")), (Occur.SHOULD, Term("class")))
    hits = searcher.search(q, k=10)
    assert_matches_oracle(
        hits, oracle.top_k(oracle.bool_or(["return", "class"]), 10), oracle
    )


def test_bool_and(searcher, oracle):
    q = Bool.of((Occur.MUST, Term("return")), (Occur.MUST, Term("public")))
    hits = searcher.search(q, k=10)
    assert_matches_oracle(
        hits, oracle.top_k(oracle.bool_and(["return", "public"]), 10), oracle
    )


def test_must_not(searcher, oracle):
    q = Bool.of((Occur.MUST, Term("return")), (Occur.MUST_NOT, Term("class")))
    hits = searcher.search(q, k=10)
    want = {
        d: s
        for d, s in oracle.term_scores("return").items()
        if d not in oracle.term_scores("class")
    }
    assert_matches_oracle(hits, oracle.top_k(want, 10), oracle)


def test_min_should_match(searcher, oracle):
    terms = ["return", "class", "import"]
    q = Bool.of(*((Occur.SHOULD, Term(t)) for t in terms), min_should_match=2)
    hits = searcher.search(q, k=10)
    assert_matches_oracle(
        hits, oracle.top_k(oracle.bool_or(terms, min_should_match=2), 10), oracle
    )


def test_boost(searcher, oracle):
    hits = searcher.search(Boost(Term("return"), 2.5), k=5)
    want = oracle.top_k(oracle.term_scores("return", boost=2.5), 5)
    # float32 boost multiply — slightly looser tolerance
    got = keys_of(hits)
    assert got == [oracle.key_of(d) for d, _ in want]
    np.testing.assert_allclose(
        hits["score"].to_numpy(np.float64), [s for _, s in want], rtol=3e-5
    )


def test_synonym_freqs_summed(searcher, oracle):
    hits = searcher.search(Synonym(("return", "int")), k=10)
    # oracle: summed freqs, summed idf, scored once
    w = oracle.idf("return") + oracle.idf("int")
    want = {}
    for d in range(oracle.n_docs):
        f = oracle.docs[d].get("return", 0) + oracle.docs[d].get("int", 0)
        if f:
            denom = f + 1.2 * (0.25 + 0.75 * oracle.dl[d] / oracle.avgdl)
            want[d] = w * f / denom
    assert_matches_oracle(hits, oracle.top_k(want, 10), oracle)


def test_dismax(searcher, oracle):
    q = DisjunctionMax((Term("return"), Term("class")), tie_breaker=0.3)
    hits = searcher.search(q, k=10)
    a, b = oracle.term_scores("return"), oracle.term_scores("class")
    want = {}
    for d in set(a) | set(b):
        s = sorted((a.get(d, 0.0), b.get(d, 0.0)))
        want[d] = s[1] + 0.3 * s[0]
    assert_matches_oracle(hits, oracle.top_k(want, 10), oracle)


def test_match_all(searcher, oracle):
    hits = searcher.search(MatchAll(), k=oracle.n_docs + 10)
    assert len(hits) == oracle.n_docs
    assert hits.attrs["total_hits"] == oracle.n_docs
    assert (hits["score"] == 1.0).all()


def test_phrase_exact(searcher, oracle):
    # edge doc 2: "alpha <300-char token> beta gamma" — "beta gamma" adjacent
    hits = searcher.search(Phrase(("beta", "gamma")), k=10)
    want_docs = [
        d
        for d in range(oracle.n_docs)
        if any(
            p + 1 in oracle.positions[d].get("gamma", [])
            for p in oracle.positions[d].get("beta", [])
        )
    ]
    assert sorted(keys_of(hits)) == sorted(oracle.key_of(d) for d in want_docs)
    assert len(hits) > 0


def test_prefix_and_wildcard(searcher, oracle):
    hits = searcher.search(Prefix("tail_"), k=10)
    assert keys_of(hits) == [
        oracle.key_of(d) for d, _ in oracle.top_k(oracle.term_scores("tail_marker"), 10)
    ]
    hits_w = searcher.search(Wildcard("tail_*"), k=10)
    assert keys_of(hits_w) == keys_of(hits)


def test_fuzzy(searcher, oracle):
    # 'returm' ~1 → 'return' (and possibly other 1-OSA-edit vocab terms)
    from .oracle import osa_distance

    hits = searcher.search(Fuzzy("returm", max_edits=1), k=10)
    assert len(hits) > 0
    assert set(keys_of(hits)) <= {
        oracle.key_of(d)
        for t in oracle.df
        if osa_distance(t, "returm") <= 1
        for d in oracle.term_scores(t)
    }


def test_query_result_cache(searcher):
    """LRU query cache (LRUQueryCache analog at query granularity):
    a repeated identical search runs ZERO uncached work; returned frames
    are copies, so caller mutation cannot poison the cache."""
    calls = []
    orig = searcher._search_uncached

    def counting(*a):
        calls.append(1)
        return orig(*a)

    searcher._search_uncached = counting
    try:
        searcher._result_cache.clear()
        a = searcher.search(Term("return"), k=5)
        b = searcher.search(Term("return"), k=5)
        assert len(calls) == 1
        pd.testing.assert_frame_equal(a, b)
        assert b.attrs["total_hits"] == a.attrs["total_hits"]
        assert b.attrs["relation"] == a.attrs["relation"]
        b.loc[:, "score"] = 0.0
        c = searcher.search(Term("return"), k=5)
        assert len(calls) == 1
        assert (c["score"].to_numpy() > 0).all()
        # different k = different entry
        searcher.search(Term("return"), k=7)
        assert len(calls) == 2
    finally:
        searcher._search_uncached = orig
        searcher._result_cache.clear()


def test_fuzzy_scoring_rewrite(searcher, oracle):
    """FuzzyQuery scoring rewrite: per-expanded-term boost 1 - ed/min-len
    (FuzzyTermsEnum.java:218-238) — rank-identical to the brute-force
    fuzzy oracle (OSA distance: transpositions count one edit,
    FuzzyQuery.java:58), closer matches outranking farther ones. The
    'reutrn' case is OSA 1 / levenshtein 2 from 'return' — it matches at
    max_edits=1 ONLY under transposition-aware distance."""
    for text, me in [("returm", 1), ("returm", 2), ("clasz", 2), ("reutrn", 1)]:
        hits = searcher.search(Fuzzy(text, max_edits=me), k=10, with_stored=False)
        want = oracle.top_k(oracle.fuzzy_scores(text, me), 10)
        got = hits["global_doc_id"].tolist()
        assert got == [d for d, _ in want], (text, me)
        np.testing.assert_allclose(
            hits["score"].to_numpy(np.float64),
            [s for _, s in want],
            rtol=3e-5,
        )


def test_fuzzy_prefix_length(searcher, oracle):
    """Non-fuzzy prefixLength (FuzzyQuery.java:133-138): candidates carry
    the first min(prefix_length, |text|) chars verbatim, ed is measured
    over the SUFFIXES (FuzzyTermsEnum.java:129-141 builds the automaton
    on the post-prefix substring), boost denominator stays the FULL
    length min; prefix >= |text| or maxEdits 0 matches only the exact
    term (FuzzyQuery.java:151). Rank+score vs the brute-force oracle."""
    cases = [
        ("returm", 1, 1), ("returm", 2, 3), ("clasz", 2, 2),
        ("reutrn", 1, 2),      # transposition INSIDE the suffix
        ("return", 2, 99),     # prefix covers the text -> exact only
        ("return", 0, 0),      # maxEdits 0 -> exact only
    ]
    for text, me, pl in cases:
        hits = searcher.search(
            Fuzzy(text, max_edits=me, prefix_length=pl), k=10,
            with_stored=False,
        )
        want = oracle.top_k(oracle.fuzzy_scores(text, me, prefix_length=pl), 10)
        got = hits["global_doc_id"].tolist()
        assert got == [d for d, _ in want], (text, me, pl)
        np.testing.assert_allclose(
            hits["score"].to_numpy(np.float64),
            [s for _, s in want],
            rtol=3e-5,
        )
    # the prefix changes the expansion SET, not just cost: 'reutrn'~1 with
    # prefix 2 locks 're' so the transposed vocab term 'return' (suffix ed
    # 'utrn'->'turn' = 1) still matches, while any 1-edit term not starting
    # 're' is excluded vs prefix 0
    hits_p0 = searcher.search(Fuzzy("reutrn", max_edits=1), k=10,
                              with_stored=False)
    assert len(hits_p0) > 0


def test_fuzzy_prefix_parser_threading():
    """setFuzzyPrefixLength threads through the classic-config and
    flexible parsers (StandardQueryParser.java:419)."""
    from lucene_solr_1_spark.search.flexparser import StandardQueryParser

    p = StandardQueryParser()
    p.set_fuzzy_prefix_length(2)
    q = p.parse("returm~1", "content", do_rewrite=False)
    assert isinstance(q, Fuzzy) and q.prefix_length == 2 and q.max_edits == 1
    # classic default stays 0 (reference default prefixLength=0)
    from lucene_solr_1_spark.search.parser import parse

    q0 = parse("returm~1")
    assert isinstance(q0, Fuzzy) and q0.prefix_length == 0


def _lev(a, b):
    if abs(len(a) - len(b)) > 2:
        return 99
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
    return dp[-1]


def test_wand_equals_exhaustive(searcher):
    queries = [
        Term("return"),
        Term("id_0001"),
        Bool.of((Occur.SHOULD, Term("return")), (Occur.SHOULD, Term("int")),
                (Occur.SHOULD, Term("id_0002"))),
    ]
    for q in queries:
        for k in (3, 10, 100):
            a = searcher.search(q, k=k, use_wand=True, with_stored=False)
            b = searcher.search(q, k=k, use_wand=False, with_stored=False)
            np.testing.assert_array_equal(
                a["global_doc_id"].to_numpy(), b["global_doc_id"].to_numpy()
            )
            np.testing.assert_array_equal(
                a["score"].to_numpy(), b["score"].to_numpy()
            )


def test_merge_invariance_partitioning(spark, tiny_corpus_pdf, tmp_path_factory, oracle):
    """1-segment and 8-segment indexes give identical stats and top-k
    (FIXTURES.md §5 merge invariance)."""
    df = spark.createDataFrame(tiny_corpus_pdf)
    results = []
    for n in (1, 8):
        d = str(tmp_path_factory.mktemp(f"idx_{n}"))
        m = build_index(spark, df, d, num_segments=n)
        s = LuceneSparkSearcher(spark, d)
        assert m["doc_count"] == oracle.n_docs
        assert m["sum_ttf"] == oracle.sum_ttf
        hits = s.search(Term("return"), k=10)
        results.append((keys_of(hits), hits["score"].round(5).tolist()))
    assert results[0] == results[1]


def test_content_sha_invariant(spark, tiny_index, tiny_corpus_pdf):
    """Per-row sha256(content) equality vs ingest (BASELINE.json input_hint)."""
    from pyspark.sql import functions as F
    from lucene_solr_1_spark.index.builder import norms_paths

    index_dir, manifest = tiny_index
    norms = spark.read.parquet(*norms_paths(index_dir, manifest))
    ingest = spark.createDataFrame(tiny_corpus_pdf).select(
        "repo", "path", "commit", F.sha2(F.col("content"), 256).alias("sha_ingest")
    )
    joined = norms.join(ingest, ["repo", "path", "commit"])
    n_bad = joined.where(F.col("content_sha") != F.col("sha_ingest")).count()
    assert n_bad == 0
    assert joined.count() == len(tiny_corpus_pdf)


def test_edge_cases_indexed(searcher, oracle):
    # empty doc and stopword-only docs are present but unmatchable by rare terms
    assert searcher.manifest["doc_count"] == 64
    # overlong token must NOT be searchable
    hits = searcher.search(Term("z" * 300), k=5)
    assert len(hits) == 0
    # unicode identifier is searchable
    hits = searcher.search(Term("δelta"), k=5)
    assert len(hits) == 1


def test_search_after_paging(searcher, oracle):
    """searchAfter pages exactly partition the full ranking
    (IndexSearcher.java:391-420 semantics)."""
    full = searcher.search(Term("return"), k=30, with_stored=False)
    pages, after = [], None
    for _ in range(6):
        p = searcher.search(Term("return"), k=5, with_stored=False, after=after)
        if len(p) == 0:
            break
        pages.append(p)
        last = p.iloc[-1]
        after = (float(last["score"]), int(last["global_doc_id"]))
    got = pd.concat(pages, ignore_index=True)
    np.testing.assert_array_equal(
        got["global_doc_id"].to_numpy(), full["global_doc_id"].to_numpy()
    )
    np.testing.assert_array_equal(got["score"].to_numpy(), full["score"].to_numpy())


def test_search_after_wand_matches_exhaustive(searcher):
    q = Bool.of((Occur.SHOULD, Term("return")), (Occur.SHOULD, Term("int")))
    first = searcher.search(q, k=7, with_stored=False)
    last = first.iloc[-1]
    after = (float(last["score"]), int(last["global_doc_id"]))
    a = searcher.search(q, k=7, with_stored=False, after=after, use_wand=True)
    b = searcher.search(q, k=7, with_stored=False, after=after, use_wand=False)
    np.testing.assert_array_equal(
        a["global_doc_id"].to_numpy(), b["global_doc_id"].to_numpy()
    )
    np.testing.assert_array_equal(a["score"].to_numpy(), b["score"].to_numpy())


def test_parsed_query_end_to_end(searcher, oracle):
    """parse() → search() equals the hand-built query tree path."""
    from lucene_solr_1_spark.search.parser import parse

    q1 = parse("return AND int")
    q2 = Bool.of((Occur.MUST, Term("return")), (Occur.MUST, Term("int")))
    a = searcher.search(q1, k=10, with_stored=False)
    b = searcher.search(q2, k=10, with_stored=False)
    np.testing.assert_array_equal(
        a["global_doc_id"].to_numpy(), b["global_doc_id"].to_numpy()
    )
    hits = searcher.search(parse('"return int"'), k=5, with_stored=False)
    exp = searcher.search(Phrase(("return", "int")), k=5, with_stored=False)
    np.testing.assert_array_equal(
        hits["global_doc_id"].to_numpy(), exp["global_doc_id"].to_numpy()
    )


def test_sloppy_freq_golden():
    """Hand-computed sloppy windows (SloppyPhraseMatcher model)."""
    from lucene_solr_1_spark.search.kernel import _sloppy_freq

    # doc "a b c": phrase (a, c) → adjusted positions a:[0], c:[2-1=1]
    # window dist = 1 ≤ slop 1 → freq = 1/(1+1)
    assert _sloppy_freq([np.array([0]), np.array([1])], 1) == 0.5
    # exact adjacency: dist 0 → weight 1
    assert _sloppy_freq([np.array([0]), np.array([0])], 1) == 1.0
    # too far apart for slop
    assert _sloppy_freq([np.array([0]), np.array([5])], 2) == 0.0
    # two disjoint exact windows
    assert _sloppy_freq([np.array([0, 10]), np.array([0, 10])], 0) == 2.0


def test_sloppy_phrase_superset_of_exact(searcher):
    exact = searcher.search(Phrase(("return", "int")), k=64, with_stored=False)
    sloppy = searcher.search(Phrase(("return", "int"), slop=3), k=64, with_stored=False)
    assert set(exact["global_doc_id"]) <= set(sloppy["global_doc_id"])
    assert len(sloppy) >= len(exact)


def test_blockmax_conjunction_equals_exhaustive(searcher):
    """MUST / MUST+SHOULD / FILTER shapes under block-max pruning rank
    identically to exhaustive scoring (TestBlockMaxConjunction model)."""
    from lucene_solr_1_spark.search.query import Clause

    shapes = [
        Bool.of((Occur.MUST, Term("return")), (Occur.MUST, Term("int"))),
        Bool.of(
            (Occur.MUST, Term("return")),
            (Occur.SHOULD, Term("class")),
            (Occur.SHOULD, Term("id_0002")),
        ),
        Bool.of((Occur.FILTER, Term("return")), (Occur.SHOULD, Term("int"))),
        Bool.of(
            (Occur.MUST, Term("return")),
            (Occur.MUST, Term("int")),
            (Occur.MUST, Term("public")),
        ),
    ]
    from lucene_solr_1_spark.search import kernel as K

    for q in shapes:
        for k in (3, 10, 50):
            a = searcher.search(q, k=k, use_wand=True, with_stored=False)
            b = searcher.search(q, k=k, use_wand=False, with_stored=False)
            np.testing.assert_array_equal(
                a["global_doc_id"].to_numpy(), b["global_doc_id"].to_numpy()
            )
            np.testing.assert_array_equal(a["score"].to_numpy(), b["score"].to_numpy())


def test_wand_applicable_shapes():
    from lucene_solr_1_spark.search import kernel as K

    gdf = {"a": 5, "b": 3}
    plan = K.compile_plan(
        Bool.of((Occur.MUST, Term("a")), (Occur.SHOULD, Term("b"))), gdf, 10
    )
    assert K.wand_applicable(plan)
    plan = K.compile_plan(
        Bool.of((Occur.MUST, Term("a")), (Occur.MUST_NOT, Term("b"))), gdf, 10
    )
    assert not K.wand_applicable(plan)
    plan = K.compile_plan(
        Bool.of(
            (Occur.SHOULD, Term("a")), (Occur.SHOULD, Term("b")),
            min_should_match=2,
        ),
        gdf, 10,
    )
    assert not K.wand_applicable(plan)


def test_explain_matches_score(searcher):
    """Explanation value == scorer score for every top hit
    (BaseSimilarityTestCase explanation==score property)."""
    qs = [
        Term("return"),
        Bool.of((Occur.MUST, Term("return")), (Occur.SHOULD, Term("int"))),
        Bool.of((Occur.SHOULD, Term("return")), (Occur.SHOULD, Term("class"))),
        Prefix("retu"),  # constant-score multi-term query: 1.0 per hit
    ]
    for q in qs:
        hits = searcher.search(q, k=5, with_stored=False)
        for r in hits.itertuples(index=False):
            ex = searcher.explain(q, int(r.global_doc_id))
            assert ex["value"] == pytest.approx(float(r.score), rel=1e-6), (
                q, r.global_doc_id, ex
            )
        # a non-matching doc explains to 0
        missing = set(range(searcher.doc_count)) - set(hits["global_doc_id"])
        if missing and len(hits) == searcher.manifest["doc_count"]:
            ex0 = searcher.explain(q, sorted(missing)[0])
            assert ex0["value"] == 0.0


def test_search_many_matches_sequential(searcher):
    """Batch search returns exactly what per-query search() returns."""
    queries = {
        "t1": Term("return"),
        "t2": Term("id_0001"),
        "b1": Bool.of((Occur.MUST, Term("return")), (Occur.SHOULD, Term("int"))),
        "none": Term("zzz_not_there"),
    }
    batch = searcher.search_many(queries, k=8)
    for name, q in queries.items():
        single = searcher.search(q, k=8, with_stored=False)
        got = batch[batch["query"] == name]
        np.testing.assert_array_equal(
            got["global_doc_id"].to_numpy(), single["global_doc_id"].to_numpy()
        )
        np.testing.assert_array_equal(
            got["score"].to_numpy(), single["score"].to_numpy()
        )


def test_filter_only_query_returns_zero_score_matches(searcher):
    """A FILTER-only Boolean matches docs at score 0 (ConstantScore-like
    semantics without score contribution) — and WAND must not prune them
    (regression: FILTER shapes route to the exhaustive path)."""
    from lucene_solr_1_spark.search.query import Clause

    q = Bool.of((Occur.FILTER, Term("tail_marker")))
    a = searcher.search(q, k=5, use_wand=True, with_stored=False)
    b = searcher.search(q, k=5, use_wand=False, with_stored=False)
    assert len(a) == len(b) == 1
    assert float(a["score"].iloc[0]) == 0.0
    # FILTER + SHOULD: zero-score FILTER-only matches must survive with
    # a large k under both strategies
    q2 = Bool.of((Occur.FILTER, Term("return")), (Occur.SHOULD, Term("id_0002")))
    a2 = searcher.search(q2, k=60, use_wand=True, with_stored=False)
    b2 = searcher.search(q2, k=60, use_wand=False, with_stored=False)
    np.testing.assert_array_equal(
        a2["global_doc_id"].to_numpy(), b2["global_doc_id"].to_numpy()
    )
    assert (a2["score"].to_numpy() == 0).any()  # zero-score hits present


def test_zero_boost_query_keeps_matches(searcher):
    """boost=0 zeroes scores but must not drop matches (WAND falls back)."""
    q = Boost(Term("tail_marker"), 0.0)
    a = searcher.search(q, k=5, use_wand=True, with_stored=False)
    b = searcher.search(q, k=5, use_wand=False, with_stored=False)
    assert len(a) == len(b) == 1
    assert float(a["score"].iloc[0]) == 0.0


def test_more_like_this_finds_source_doc(searcher, tiny_corpus_pdf):
    """MLT on a document's own text ranks that document first
    (MoreLikeThis.java self-similarity sanity)."""
    src = tiny_corpus_pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    probe = src.iloc[10]  # a regular (non-edge-case) generated file
    hits = searcher.more_like_this(probe["content"], k=5)
    assert len(hits) > 0
    top = hits.iloc[0]
    assert (top.repo, top.path, top.commit) == (
        probe["repo"], probe["path"], probe["commit"]
    )


def test_spannear_golden(spark, tmp_path_factory):
    """SpanNear ordered/unordered golden cases on a hand-built corpus."""
    from lucene_solr_1_spark.search.query import SpanNear

    pdf = pd.DataFrame(
        [
            ("r", "a", "c1", "x", "alpha beta gamma"),
            ("r", "b", "c2", "x", "gamma beta alpha"),
            ("r", "c", "c3", "x", "alpha filler filler filler gamma"),
        ],
        columns=["repo", "path", "commit", "lang", "content"],
    )
    d = str(tmp_path_factory.mktemp("idx_span"))
    build_index(spark, spark.createDataFrame(pdf), d, num_segments=1)
    s = LuceneSparkSearcher(spark, d)

    # ordered, gap <= 1: doc a (alpha..gamma gap 1); doc b is reversed; doc c gap 3
    hits = s.search(SpanNear(("alpha", "gamma"), slop=1, in_order=True), k=5)
    assert sorted(h.path for h in hits.itertuples(index=False)) == ["a"]
    # unordered picks up the reversed doc too
    hits = s.search(SpanNear(("alpha", "gamma"), slop=1, in_order=False), k=5)
    assert sorted(h.path for h in hits.itertuples(index=False)) == ["a", "b"]
    # wider slop reaches doc c
    hits = s.search(SpanNear(("alpha", "gamma"), slop=3, in_order=True), k=5)
    assert sorted(h.path for h in hits.itertuples(index=False)) == ["a", "c"]
    # zero-slop ordered == exact adjacency
    hits = s.search(SpanNear(("alpha", "beta"), slop=0, in_order=True), k=5)
    assert sorted(h.path for h in hits.itertuples(index=False)) == ["a"]


def test_common_terms_split_and_promotion(searcher, oracle):
    """CommonTermsQuery: df-based split — low-freq terms gate, high-freq
    terms boost; the all-high case promotes to a conjunction
    (CommonTermsQuery.java:148-209)."""
    from lucene_solr_1_spark.search.query import CommonTerms

    n = oracle.n_docs
    # derive a genuinely rare term from the corpus (df < 0.2n) so the
    # split is unambiguous at any corpus seed
    from collections import Counter

    df_all = Counter(
        t for toks in (set(x) for x in map(
            lambda s: __import__(
                "lucene_solr_1_spark.kernels.analyzer", fromlist=["x"]
            ).tokenize_one(s)[0], oracle.pdf["content"]))
        for t in toks
    )
    rare = min(
        (t for t in df_all if t.startswith("id_") and df_all[t] >= 2),
        key=lambda t: (df_all[t], t),
    )
    assert len(oracle.term_scores("return")) > n * 0.5
    assert df_all[rare] < n * 0.2
    q = CommonTerms(("return", rare), max_term_frequency=0.5)
    explicit = Bool.of(
        (Occur.MUST, Bool.of((Occur.SHOULD, Term(rare)))),
        (Occur.SHOULD, Bool.of((Occur.SHOULD, Term("return")))),
    )
    got = searcher.search(q, k=20, with_stored=False)
    want = searcher.search(explicit, k=20, with_stored=False)
    assert got["global_doc_id"].tolist() == want["global_doc_id"].tolist()
    np.testing.assert_array_equal(
        got["score"].to_numpy(np.float32), want["score"].to_numpy(np.float32)
    )
    # low-freq term gates: every hit contains it
    low_docs = set(oracle.term_scores(rare))
    assert set(got["global_doc_id"]) <= low_docs
    # all-high promotion: both terms common -> conjunction semantics
    q2 = CommonTerms(("return", "class"), max_term_frequency=0.2)
    got2 = searcher.search(q2, k=20, with_stored=False)
    want2 = searcher.search(
        Bool.of((Occur.MUST, Term("return")), (Occur.MUST, Term("class"))),
        k=20, with_stored=False,
    )
    assert got2["global_doc_id"].tolist() == want2["global_doc_id"].tolist()
    np.testing.assert_array_equal(
        got2["score"].to_numpy(np.float32), want2["score"].to_numpy(np.float32)
    )
