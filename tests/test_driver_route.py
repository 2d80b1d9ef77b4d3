"""One query pipeline, four ways to run it: one answer per query.

search() scores a query whose work fits one thread (the summed global
ttf of its keys, plus doc_count when it reads every doc, at most
MAX_DOCS_PER_SLICE) on the driver and sends everything else to Spark, one
task per leaf slice; search_local scores on the driver from its
per-slice cache and search_many scores a batch. Every route scores each
leaf slice (a run of small segments) in one kernel call. Over seeded
random queries on an index with tombstones, a merged segment and
appended tiny segments, the driver route, the Spark route (forced by
setting the bound to -1), search_local and a one-query search_many must
return equal frames and attrs, and the BM25 top-10 of the benchmark
shapes must match the brute-force oracle. Random query trees (Lucene's
QueryUtils.check posture) mix Term, Phrase, nested Bool, Boost,
ConstantScore, nested and top-level Prefix/Wildcard/Regexp/TermRange,
Fuzzy, NumericRange/NumericSet/RangeField filters, a FunctionScore, a
bare MatchAll and a MatchAll in a Bool, and explain must give each
tree's top hit its score; rescore must agree between its routes too,
and so must payload queries and an index whose merged segment is forced
above WAND_WINDOW. Hits carry global docIDs from slice to result: the
Spark route returns one row per (query, slice), and a hit maps back
past an empty segment to the segment that holds it.
"""

import math
import re

import numpy as np
import pandas as pd
import pytest

from lucene_solr_1_spark.corpus import CORPUS_DDL, KEYWORDS, make_corpus_pandas
from lucene_solr_1_spark.index import deletes as D
from lucene_solr_1_spark.index import manifest as mf
from lucene_solr_1_spark.index.builder import add_documents, build_index
from lucene_solr_1_spark.index.merge import merge_down
from lucene_solr_1_spark.search import kernel
from lucene_solr_1_spark.search import searcher as S
from lucene_solr_1_spark.search.query import (
    Bool, Boost, ConstantScore, FunctionScore, Fuzzy, MatchAll, NumericRange,
    NumericSet, Occur, PayloadScore, Phrase, Prefix, RangeField, Regexp,
    SpanNear, SpanOr, SpanTerm, Term, TermRange, Wildcard,
)

from .oracle import OracleIndex

SEED = 20261017
K = 10
RTOL = 2e-5  # float32 engine scores against float64 oracle scores
N_DELETED = 12


@pytest.fixture(scope="module")
def routed(spark, tmp_path_factory):
    """240 docs in 4 segments merged down to 3, two appended 4-doc
    segments, and N_DELETED tombstones, one of them in an appended
    segment: the driver routes read all five as one slice."""
    corpus = make_corpus_pandas(248)
    d = str(tmp_path_factory.mktemp("idx_route") / "idx")
    build_index(spark, spark.createDataFrame(corpus.iloc[:240]), d, num_segments=4)
    merge_down(spark, d, target_segments=3)
    for lo in (240, 244):
        add_documents(spark, spark.createDataFrame(corpus.iloc[lo:lo + 4]), d,
                      num_segments=1)
    rng = np.random.default_rng(SEED)
    deleted = set(rng.choice(corpus["path"].to_numpy()[:240], size=N_DELETED - 1,
                             replace=False)) | {corpus["path"].iloc[245]}
    for path in sorted(deleted):
        D.delete_by_term(spark, d, path, field="path")
    m = mf.read_manifest(d)
    assert any(s.get("merged_from") for s in m["segments"])
    assert len(m["segments"]) == 5
    s = S.LuceneSparkSearcher(spark, d)
    assert sum(len(v) for v in s.tombstones.values()) == N_DELETED
    assert [len(sl.sids) for sl in s._slices] == [5]
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


def _three_routes(s, monkeypatch, q, route="driver", **kw) -> pd.DataFrame:
    """search() on `route` (None: the query rewrites to nothing and
    scores nowhere) and on the forced Spark route,
    search_local and, without paging or a similarity, a one-query
    search_many: all frames and attrs must be equal."""
    routes = []
    cls = S.LuceneSparkSearcher

    def spy(name, label):
        orig = getattr(cls, name)

        def wrapped(self, *args):
            routes.append(label)
            return orig(self, *args)
        return wrapped

    with monkeypatch.context() as m:
        m.setattr(cls, "_file_slices", spy("_file_slices", "driver"))
        m.setattr(cls, "_score_spark", spy("_score_spark", "spark"))
        s._result_cache.clear()
        driver = s.search(q, k=K, with_stored=True, **kw)
        taken = [route] if route else []
        assert routes == taken, q
        m.setattr(S, "MAX_DOCS_PER_SLICE", -1)
        s._result_cache.clear()
        dispatched = s.search(q, k=K, with_stored=True, **kw)
        assert routes == taken + ["spark"] * len(taken), q
    local = s.search_local(q, k=K, with_stored=True, **kw)
    for other in (dispatched, local):
        pd.testing.assert_frame_equal(driver, other)
        assert driver.attrs == other.attrs, q
    if not kw:
        batch = s.search_many({"q": q}, k=K)
        bare = driver[["rank", "segment_id", "doc_id", "score", "global_doc_id"]]
        pd.testing.assert_frame_equal(bare, batch.drop(columns="query"))
        assert (batch["query"] == "q").all()
        assert batch.attrs == {k: {"q": v} for k, v in driver.attrs.items()}, q
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


# ---------------- random query trees ----------------------------------------

def _leaf(oracle: OracleIndex, rng: np.random.Generator, kind: str = ""):
    """A Term, a 2-term Phrase, a Prefix, a Wildcard, a Regexp, a
    TermRange or a Fuzzy drawn from one random document (`kind` picks
    one, else a weighted draw)."""
    d = int(rng.integers(oracle.n_docs))
    t = str(rng.choice(sorted(oracle.docs[d])))
    kind = kind or str(rng.choice(["term", "term", "phrase", "prefix", "wildcard",
                                   "regexp", "range", "fuzzy"]))
    if kind == "phrase":
        at = {p: w for w, ps in oracle.positions[d].items() for p in ps}
        starts = [p for p in sorted(at) if p + 1 in at]
        if starts:
            p = starts[int(rng.integers(len(starts)))]
            return Phrase((at[p], at[p + 1]))
    if kind == "prefix":
        return Prefix(t[: max(2, len(t) - 2)])
    if kind == "wildcard":
        i = int(rng.integers(len(t)))
        return Wildcard(t[:i] + "?" + t[i + 1:])
    if kind == "regexp":
        return Regexp(f"{re.escape(t[:2])}.*|{re.escape(t)}")
    if kind == "range":
        return TermRange(t, t[:-1] + chr(ord(t[-1]) + 1), include_upper=bool(rng.integers(2)))
    if kind == "fuzzy":
        i = int(rng.integers(len(t)))
        return Fuzzy(t[:i] + t[i + 1:] if len(t) > 3 else t + "x",
                     int(rng.integers(1, 3)), prefix_length=int(rng.integers(3)))
    return Term(t)


def _tree(oracle: OracleIndex, rng: np.random.Generator, depth: int, kind: str = ""):
    """A random query tree: leaves, Boost, ConstantScore and Bool with
    MUST/SHOULD/FILTER/MUST_NOT clauses (the first one positive)."""
    if not kind:
        kind = str(rng.choice(["leaf", "boost", "const", "bool", "bool"])) if depth else "leaf"
    if kind == "leaf":
        return _leaf(oracle, rng)
    if kind == "boost":
        return Boost(_tree(oracle, rng, depth - 1), float(rng.choice([0.5, 2.0])))
    if kind == "const":
        return ConstantScore(_tree(oracle, rng, depth - 1), 1.5)
    occurs = [Occur.MUST, Occur.SHOULD, Occur.FILTER, Occur.MUST_NOT]
    clauses = [(occurs[int(rng.integers(3))], _tree(oracle, rng, depth - 1))]
    for _ in range(int(rng.integers(1, 4))):
        clauses.append((occurs[int(rng.integers(4))], _tree(oracle, rng, depth - 1)))
    return Bool.of(*clauses)


def _doc_values_filter(rng: np.random.Generator, j: int):
    """A NumericRange (open at one end every other time), a NumericSet or
    a RangeField under one of its four relations, by `j`."""
    lo = int(rng.integers(20, 120))
    if j % 3 == 0:
        return NumericRange("dl", lo if j % 2 else None, lo + 150)
    if j % 3 == 1:
        return NumericSet("dl", tuple(range(lo, lo + 40, 2)))
    rel = ("intersects", "within", "contains", "crosses")[j % 4]
    return RangeField((("dl", "n_chars"),), (lo,), (lo * 8,), rel)


def _random_queries(oracle: OracleIndex, seed: int, n: int) -> list:
    """Random Bool trees, random trees of any shape, top-level
    Prefix/Wildcard/Regexp/TermRange (constant-score) and Fuzzy, trees
    under a doc-values FILTER and under a FunctionScore, a MatchAll
    beside a tree in a Bool and a bare MatchAll, in turn."""
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n):
        j = i // 6
        if i % 6 == 0:
            out.append(_tree(oracle, rng, 2, kind="bool"))
        elif i % 6 == 1:
            kinds = ("prefix", "wildcard", "regexp", "range", "fuzzy")
            out.append(_leaf(oracle, rng, kind=kinds[j % len(kinds)]))
        elif i % 6 == 2:
            out.append(_tree(oracle, rng, 2))
        elif i % 6 == 3:
            out.append(Bool.of((Occur.MUST, _tree(oracle, rng, 2)),
                               (Occur.FILTER, _doc_values_filter(rng, j))))
        elif i % 6 == 4:
            out.append(FunctionScore(_tree(oracle, rng, 1), "dl",
                                     ("multiply", "sum")[j % 2], 0.01))
        elif j % 3 == 0:  # every doc but the tree's matches
            out.append(Bool.of((Occur.MUST, MatchAll()),
                               (Occur.MUST_NOT, _tree(oracle, rng, 1))))
        elif j % 3 == 1:
            out.append(Bool.of((Occur.SHOULD, MatchAll()),
                               (Occur.SHOULD, _tree(oracle, rng, 1))))
        else:
            out.append(MatchAll())
    return out


def _has_phrase(q) -> bool:
    if isinstance(q, Phrase):
        return True
    if isinstance(q, Bool):
        return any(_has_phrase(c.query) for c in q.clauses)
    return isinstance(q, (Boost, ConstantScore, FunctionScore)) and _has_phrase(q.query)


def _route(s, q):
    """The route search() must take: none for a query that rewrites to
    nothing, else the driver — the index's doc_count plus every key set
    here is far below MAX_DOCS_PER_SLICE, multi-term, doc-values and
    MatchAll plans included."""
    return None if s._prepare(q).plan is None else "driver"


def test_random_trees_agree_on_every_entry_point(routed, monkeypatch):
    s, oracle, _ = routed
    for q in _random_queries(oracle, SEED + 4, 30):
        route = _route(s, q)
        hits = _three_routes(s, monkeypatch, q, route=route)
        if isinstance(q, (Prefix, Wildcard, Regexp, TermRange, MatchAll)):
            assert (hits["score"] == 1.0).all(), q
        if len(hits):
            top = s.explain(q, int(hits["global_doc_id"].iloc[0]))
            assert np.float32(top["value"]) == hits["score"].iloc[0], q
            after = (float(hits["score"].iloc[-1]), int(hits["global_doc_id"].iloc[-1]))
            _three_routes(s, monkeypatch, q, route=route, after=after)
        if not _has_phrase(q):  # LM similarities score single-term stats only
            _three_routes(s, monkeypatch, q, route=route, similarity="lmd")


def test_explain_reads_the_doc_values_search_scores_with(routed):
    """A hit of a doc-values FILTER and of a FunctionScore explains to its
    float32 score on the driver route, from whichever segment of the
    five-segment slice it comes; a docID outside the index raises."""
    s, _, _ = routed
    for q in (Bool.of((Occur.MUST, Term("return")),
                      (Occur.FILTER, NumericRange("dl", 0, 100000))),
              FunctionScore(Term("return"), "dl", "multiply", 0.01)):
        assert _route(s, q) == "driver"
        hits = s.search(q, k=K, with_stored=False)
        assert len(hits) == K and hits["segment_id"].nunique() > 1, q
        for gid, score in zip(hits["global_doc_id"], hits["score"]):
            assert np.float32(s.explain(q, int(gid))["value"]) == score, (q, gid)
        for gid in (-1, sum(sl.n_docs for sl in s._slices)):
            with pytest.raises(ValueError, match="not in the index"):
                s.explain(q, gid)


def test_spark_route_returns_one_row_per_query_and_slice(routed, monkeypatch, tmp_path):
    """A forced Spark search_many of three queries over the one slice of
    five segments gets one mapInPandas row per query, and each query's
    total_hits is the driver's, also on a page past a query's last hit,
    which is empty."""
    s, oracle, deleted = routed
    path = sorted(set(oracle.pdf["path"]) - deleted)[0]
    queries = {
        "term": Term("return"),
        "or": Bool.of((Occur.SHOULD, Term("return")), (Occur.SHOULD, Term("class"))),
        "path": Term(path, field="path"),
    }
    driver = s.search_many(queries, k=K)
    hit = driver[driver["query"] == "path"]
    after = (float(hit["score"].iloc[0]), int(hit["global_doc_id"].iloc[0]))
    s._result_cache.clear()
    driver_page = s.search(queries["path"], k=K, with_stored=False, after=after)
    log = tmp_path / "rows"
    task = S._slice_task

    def counted(batches, **kw):  # runs in the Python worker: logs to a file
        for out in task(batches, **kw):
            with open(log, "a") as fh:
                fh.write(f"{len(out)}\n")
            yield out

    def rows() -> list:
        got = [int(n) for n in log.read_text().split()]
        log.unlink()
        return got

    monkeypatch.setattr(S, "_slice_task", counted)
    monkeypatch.setattr(S, "MAX_DOCS_PER_SLICE", -1)
    dispatched = s.search_many(queries, k=K)
    assert rows() == [3]
    assert dispatched.attrs == driver.attrs
    assert driver.attrs["total_hits"]["term"] > K
    pd.testing.assert_frame_equal(dispatched, driver)
    s._result_cache.clear()
    page = s.search(queries["path"], k=K, with_stored=False, after=after)
    assert rows() == [1]
    assert len(page) == 0 and page.attrs == driver_page.attrs
    assert page.attrs["total_hits"] == 1


def test_hits_locate_past_an_empty_segment(spark, tmp_path, monkeypatch):
    """An index built from no rows holds one empty segment, whose doc_base
    the appended segment shares: every hit of the driver, cache and
    forced Spark routes, of rescore and of search_sorted names the
    appended segment, and its doc_base plus doc_id is its global docID."""
    corpus = make_corpus_pandas(12)
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(corpus.iloc[:0], schema=CORPUS_DDL), d,
                num_segments=2, index_sort="n_chars")
    add_documents(spark, spark.createDataFrame(corpus), d, num_segments=1)
    s = S.LuceneSparkSearcher(spark, d)
    (empty,) = [sid for sid, n in s.seg_doc_count.items() if n == 0]
    (full,) = [sid for sid, n in s.seg_doc_count.items() if n == len(corpus)]
    assert s.doc_base[empty] == s.doc_base[full] == 0
    q = Term("return")

    def check(hits):
        assert len(hits) and (hits["segment_id"] == full).all()
        np.testing.assert_array_equal(
            hits["segment_id"].map(s.doc_base) + hits["doc_id"], hits["global_doc_id"])

    check(s.search(q, k=K, with_stored=True))
    check(s.search_local(q, k=K))
    check(s.rescore(q, Term("class"), first_k=K, k=K))
    check(s.search_sorted(q, k=K))
    with monkeypatch.context() as m:
        m.setattr(S, "MAX_DOCS_PER_SLICE", -1)
        s._result_cache.clear()
        check(s.search(q, k=K, with_stored=True))
        check(s.rescore(q, Term("class"), first_k=K, k=K))
        check(s.search_sorted(q, k=K))


def test_after_page_counts_every_match(routed, monkeypatch):
    """A searchAfter page reports the unpaged total_hits on the driver,
    Spark and cache routes alike: PagingTopScoreDocCollector counts each
    match before its after test."""
    s, oracle, _ = routed
    rng = np.random.default_rng(SEED + 8)
    paged = 0
    for q in [Term("return"), MatchAll()] + [_tree(oracle, rng, 2, kind="bool")
                                            for _ in range(8)]:
        route = _route(s, q)
        hits = _three_routes(s, monkeypatch, q, route=route)
        if len(hits) < 2:
            continue
        after = (float(hits["score"].iloc[1]), int(hits["global_doc_id"].iloc[1]))
        page = _three_routes(s, monkeypatch, q, route=route, after=after)
        assert page.attrs == hits.attrs, q
        paged += 1
    assert paged >= 4


def test_rescore_routes_agree_on_random_trees(routed, monkeypatch):
    s, oracle, _ = routed
    queries = _random_queries(oracle, SEED + 5, 8)
    for first, second in zip(queries, queries[1:]):
        s._result_cache.clear()
        driver = s.rescore(first, second, weight=2.0, first_k=40, k=K)
        with monkeypatch.context() as m:
            m.setattr(S, "MAX_DOCS_PER_SLICE", -1)
            s._result_cache.clear()
            dispatched = s.rescore(first, second, weight=2.0, first_k=40, k=K)
        pd.testing.assert_frame_equal(driver, dispatched)
        assert driver.attrs == dispatched.attrs, (first, second)


def test_routes_agree_around_a_large_segment(routed, monkeypatch, count_kernel_calls):
    """With WAND_WINDOW under the merged segment's size, that segment is a
    slice alone and keeps block-max WAND, and the small segments around
    it form slices of their own: one kernel call per slice, and every
    route still returns the same frames."""
    s0, oracle, _ = routed
    monkeypatch.setattr(kernel, "WAND_WINDOW", 100)
    s = S.LuceneSparkSearcher(s0.spark, s0.index_dir)
    (big,) = [sid for sid, n in s.seg_doc_count.items() if n > 100]
    assert [big] in [sl.sids for sl in s._slices] and len(s._slices) > 1
    for sl in s._slices:
        assert sl.n_docs == sum(s.seg_doc_count[sid] for sid in sl.sids)
    held = s._file_slices({("content", "return")}, {}, s._slices)
    assert len(held) == len(s._slices)  # every slice holds the term
    with count_kernel_calls() as calls:
        hits = s.search_local(Term("return"), k=K)
    assert sorted(calls) == sorted(
        ("wand" if sl.sids == [big] else "exhaustive", sl.n_docs) for sl in s._slices)
    assert hits.attrs["relation"] == "EQUAL_TO"
    for q in [Term("return")] + _random_queries(oracle, SEED + 6, 12):
        route = _route(s, q)
        hits = _three_routes(s, monkeypatch, q, route=route)
        if len(hits):
            after = (float(hits["score"].iloc[-1]), int(hits["global_doc_id"].iloc[-1]))
            _three_routes(s, monkeypatch, q, route=route, after=after)


def test_cold_path_lookup_makes_one_kernel_call(spark, tmp_path, count_kernel_calls):
    """On an NRT update's index shape (two segments, an appended
    one-segment flush, a tombstone) a new searcher's path lookup reads
    one segment's row and scores it in one kernel call."""
    corpus = make_corpus_pandas(64)
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(corpus.iloc[:60]), d, num_segments=2)
    add_documents(spark, spark.createDataFrame(corpus.iloc[60:]), d, num_segments=1)
    D.delete_by_term(spark, d, corpus["path"].iloc[3], field="path")
    s = S.LuceneSparkSearcher(spark, d)
    assert len(s.doc_base) == 3
    path = corpus["path"].iloc[62]
    with count_kernel_calls() as calls:
        hits = s.search(Term(path, field="path"), k=1, with_stored=True)
    assert calls == [("exhaustive", 64)]
    assert hits["path"].tolist() == [path]


def test_routes_agree_on_a_payload_index(spark, tmp_path, monkeypatch):
    """PayloadScore queries over a store_payloads index of three segments
    and an appended one (one slice): the slice's concatenated payload
    stream scores as the per-segment Spark route does."""
    from .test_payloads import _annotated_corpus

    pdf = _annotated_corpus(n_docs=40)
    d = str(tmp_path / "idx_pay")
    build_index(spark, spark.createDataFrame(pdf.iloc[:34]), d, num_segments=3,
                store_payloads=True)
    add_documents(spark, spark.createDataFrame(pdf.iloc[34:]), d, num_segments=1)
    D.delete_by_term(spark, d, pdf["path"].iloc[5], field="path")
    s = S.LuceneSparkSearcher(spark, d)
    assert [len(sl.sids) for sl in s._slices] == [4]
    queries = [
        PayloadScore(SpanTerm("rain"), func=func, include_span_score=inc)
        for func, inc in (("max", True), ("min", False), ("sum", True), ("avg", False))
    ] + [PayloadScore(SpanNear(("rain", "snow"), slop=2, in_order=False), func="sum"),
         PayloadScore(SpanOr(("hail", "fog")), func="avg")]
    for q in queries:
        hits = _three_routes(s, monkeypatch, q)
        assert len(hits) == K, q
        after = (float(hits["score"].iloc[-1]), int(hits["global_doc_id"].iloc[-1]))
        _three_routes(s, monkeypatch, q, after=after)


def test_top_level_prefix_is_uncapped_constant_score(spark, tmp_path):
    """Prefix("zq") over 1,100 unique zqNNNNN terms: more terms than
    MAX_CLAUSE_COUNT (1024), all matched at constant score 1.0 by search,
    search_local and search_many alike (CONSTANT_SCORE_REWRITE has no
    clause limit)."""
    n = 1100
    pdf = pd.DataFrame({
        "repo": "r", "path": [f"p/{i:05d}" for i in range(n)], "commit": "c",
        "lang": "en", "content": [f"zq{i:05d} common" for i in range(n)],
    })
    d = str(tmp_path / "idx_zq")
    build_index(spark, spark.createDataFrame(pdf), d, num_segments=2)
    s = S.LuceneSparkSearcher(spark, d)
    q = Prefix("zq")
    single = s.search(q, k=n, with_stored=False)
    local = s.search_local(q, k=n)
    batch = s.search_many({"zq": q}, k=n)
    for hits, total in (
        (single, single.attrs["total_hits"]),
        (local, local.attrs["total_hits"]),
        (batch, batch.attrs["total_hits"]["zq"]),
    ):
        assert total == n
        assert len(hits) == n and (hits["score"] == 1.0).all()
