"""Block-max WAND over several windows: identical top-k to exhaustive.

The searcher scores a segment of at most K.WAND_WINDOW docs exhaustively,
because a single window leaves WAND nothing to skip. Every index the
other tests build has segments that small, so their WAND-vs-exhaustive
checks compare the exhaustive path with itself. Here the kernels are
called directly on one ~600-doc segment with tombstones, with windows of
16, 64 and 256 docs, so WAND really visits, bounds and skips windows.
A Hypothesis differential adds random flat plans, similarities, windows
of 16-512 docs, k, tombstones and searchAfter pages.
"""

import copy
import math

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from lucene_solr_1_spark.corpus import make_corpus_pandas
from lucene_solr_1_spark.index.segment import build_segment_frames
from lucene_solr_1_spark.kernels import bm25
from lucene_solr_1_spark.search import kernel as K
from lucene_solr_1_spark.search import searcher as S
from lucene_solr_1_spark.search.query import (
    Bool, Boost, DisjunctionMax, Occur, Synonym, Term,
)

N_DOCS = 600
N_DELETED = 30
DOC_BASE = 1000
K_TOP = 10
WINDOWS = (16, 64, 256)

# hot (df ~590), mid (df 92-262) and rare (df 9-26) terms of the corpus
HOT, HOT2, MID, MID2, RARE, RARE2 = (
    "return", "public", "id_0010", "id_0100", "id_0500", "id_1000",
)

SHAPES = {
    "term_hot": Term(HOT),
    "term_rare": Term(RARE),
    "or": Bool.of((Occur.SHOULD, Term(HOT)), (Occur.SHOULD, Term(RARE)),
                  (Occur.SHOULD, Term(MID2))),
    "and": Bool.of((Occur.MUST, Term(HOT)), (Occur.MUST, Term(MID))),
    "must_should": Bool.of((Occur.MUST, Term(MID)), (Occur.SHOULD, Term(RARE)),
                           (Occur.SHOULD, Term(HOT2))),
    "dismax_0": DisjunctionMax((Term(HOT), Term(MID2), Term(RARE2)), 0.0),
    "dismax_037": DisjunctionMax((Term(HOT), Term(MID2), Term(RARE2)), 0.37),
    "dismax_1": DisjunctionMax((Term(HOT), Term(MID2), Term(RARE2)), 1.0),
    "synonym": Synonym((MID2, RARE, RARE2)),
    "must_dismax_should_synonym": Bool.of(
        (Occur.MUST, DisjunctionMax((Term(MID), Term(RARE)), 0.37)),
        (Occur.SHOULD, Synonym((HOT2, RARE2))),
    ),
}


@pytest.fixture(scope="module")
def segment():
    postings, _norms, stats = build_segment_frames(make_corpus_pandas(N_DOCS))
    seg = K.SegmentData(postings, stats["doc_count"])
    df = {(r.field, r.term): int(r.doc_freq) for r in postings.itertuples(index=False)}
    cache = bm25.norm_cache(bm25.avg_field_length(stats["sum_ttf"], stats["doc_count"]))
    rng = np.random.default_rng(8)
    deleted = np.sort(rng.choice(stats["doc_count"], size=N_DELETED, replace=False))
    return seg, df, stats["doc_count"], cache, deleted.astype(np.int64)


def _plan(segment, q):
    _seg, df, n_docs, _cache, _deleted = segment
    plan = K.compile_plan(q, df, n_docs)
    assert K.wand_applicable(plan)
    return plan


def _after(segment, plan):
    """The (score, global docID) of the exhaustive top-k's 4th hit."""
    seg, _df, _n, cache, deleted = segment
    d, s, _t, _r = K.score_exhaustive(plan, seg, cache, K_TOP,
                                      doc_base=DOC_BASE, deleted=deleted)
    assert len(d) > 4
    return float(s[3]), int(d[3]) + DOC_BASE


_CASES = [(name, window, paged) for name in SHAPES for window in WINDOWS
          for paged in (False, True)]


@pytest.mark.parametrize("name,window,paged", _CASES)
def test_wand_equals_exhaustive_over_windows(segment, name, window, paged):
    seg, _df, _n, cache, deleted = segment
    plan = _plan(segment, SHAPES[name])
    after = _after(segment, plan) if paged else None
    kw = dict(after=after, doc_base=DOC_BASE, deleted=deleted)
    ed, es, et, er = K.score_exhaustive(plan, seg, cache, K_TOP, **kw)
    wd, ws, wt, wr = K.score_wand(plan, seg, cache, K_TOP, window=window, **kw)
    assert er == "EQUAL_TO"
    np.testing.assert_array_equal(wd, ed)
    assert ws.dtype == es.dtype == np.float32
    np.testing.assert_array_equal(ws.view(np.uint32), es.view(np.uint32))
    assert not np.isin(wd, deleted).any()
    assert wt <= et
    if wr == "EQUAL_TO":
        assert wt == et


@pytest.mark.parametrize("name", list(SHAPES))
def test_after_page_counts_every_live_match(segment, name):
    """Paged or not, the exhaustive total is every live match, and so is
    WAND's wherever it reports EQUAL_TO."""
    seg, _df, _n, cache, deleted = segment
    plan = _plan(segment, SHAPES[name])
    kw = dict(doc_base=DOC_BASE, deleted=deleted)
    _d, _s, unpaged, _r = K.score_exhaustive(plan, seg, cache, K_TOP, **kw)
    after = _after(segment, plan)
    _d, _s, et, _r = K.score_exhaustive(plan, seg, cache, K_TOP, after=after, **kw)
    assert et == unpaged
    for window in WINDOWS:
        _d, _s, wt, wr = K.score_wand(plan, seg, cache, K_TOP, window=window,
                                      after=after, **kw)
        assert wt == et if wr == "EQUAL_TO" else wt <= et


def test_wand_prunes_some_window(segment):
    """At least one case skips a window that holds matches: relation
    GREATER_THAN_OR_EQUAL_TO and a total below the exhaustive count."""
    seg, _df, _n, cache, deleted = segment
    undercounted = []
    for name, window, paged in _CASES:
        plan = _plan(segment, SHAPES[name])
        after = _after(segment, plan) if paged else None
        kw = dict(after=after, doc_base=DOC_BASE, deleted=deleted)
        _ed, _es, et, _er = K.score_exhaustive(plan, seg, cache, K_TOP, **kw)
        _wd, _ws, wt, wr = K.score_wand(plan, seg, cache, K_TOP, window=window, **kw)
        if wr == "GREATER_THAN_OR_EQUAL_TO" and wt < et:
            undercounted.append((name, window, paged))
    assert undercounted


def test_wand_count_is_exact_past_the_last_posting(segment):
    """A term whose postings end before the last window leaves UB-0
    windows behind its last block. With only positive weights they hold
    no match, so stopping there is not pruning: with k above the term's
    df (θ never prunes) WAND reports exhaustive scoring's exact count."""
    seg, _df, _n, cache, deleted = segment
    window, term = 16, "id_0242"
    assert seg.rows[("content", term)].block_last_doc[-1] < seg.n_docs - window
    plan = _plan(segment, Term(term))
    kw = dict(doc_base=DOC_BASE, deleted=deleted)
    _ed, _es, et, er = K.score_exhaustive(plan, seg, cache, 100, **kw)
    wd, _ws, wt, wr = K.score_wand(plan, seg, cache, 100, window=window, **kw)
    assert (wt, wr) == (et, er) == (len(wd), "EQUAL_TO")


@pytest.mark.parametrize("n_docs,kernel", [
    (K.WAND_WINDOW, "score_exhaustive"),
    (K.WAND_WINDOW + 1, "score_wand"),
])
def test_score_segment_routes_by_window(segment, monkeypatch, n_docs, kernel):
    """_score_segment sends a WAND-applicable plan to score_wand only when
    the segment spans more than one window; both routes agree."""
    seg, _df, _n, cache, deleted = segment
    plan = _plan(segment, SHAPES["or"])
    view = copy.copy(seg)
    view.n_docs = n_docs
    called = []

    def spy(fn):
        real = getattr(K, fn)

        def wrapped(*args, **kwargs):
            called.append(fn)
            return real(*args, **kwargs)
        return wrapped

    for fn in ("score_wand", "score_exhaustive"):
        monkeypatch.setattr(K, fn, spy(fn))
    docs, scores, total, _rel = S._score_segment(
        view, {"q": plan}, cache, K_TOP, True, None, DOC_BASE, deleted)["q"]
    assert called[0] == kernel
    ed, es, et, _er = K.score_exhaustive(plan, seg, cache, K_TOP,
                                         doc_base=DOC_BASE, deleted=deleted)
    np.testing.assert_array_equal(docs, ed)
    np.testing.assert_array_equal(scores, es)
    assert total == et


@pytest.mark.parametrize("name", list(SHAPES))
def test_wand_scores_each_batch_with_one_eval_node(segment, monkeypatch, name):
    """score_wand has no scorer of its own: it scores batches of 1, 2, 4,
    ... windows, each with one top-level eval_node call over a view of
    the batch, so 38 windows take at most ceil(log2(38)) + 1 calls."""
    seg, _df, _n, cache, deleted = segment
    window = 16
    n_win = -(-seg.n_docs // window)
    assert n_win == 38
    plan = _plan(segment, SHAPES[name])
    real = K.eval_node
    depth, top = [0], [0]

    def spy(node, view, cache_):
        top[0] += depth[0] == 0
        depth[0] += 1
        try:
            return real(node, view, cache_)
        finally:
            depth[0] -= 1

    monkeypatch.setattr(K, "eval_node", spy)
    K.score_wand(plan, seg, cache, K_TOP, window=window,
                 doc_base=DOC_BASE, deleted=deleted)
    assert 1 <= top[0] <= math.ceil(math.log2(n_win)) + 1


def test_window_view_serves_only_postings_and_docs(segment):
    """The batch view cuts postings() and docs() to its windows; a reader
    it does not cut (positions, payloads, rows) fails by name instead of
    reading the whole segment or a missing attribute."""
    seg = segment[0]
    view = K._WindowView(seg, np.array([1, 3]), 16)
    docs = seg.postings(HOT)[0]
    want = docs[((docs >= 16) & (docs < 32)) | ((docs >= 48) & (docs < 64))]
    np.testing.assert_array_equal(view.postings(HOT)[0], want)
    np.testing.assert_array_equal(view.docs(HOT), want)
    for read in (lambda: view.positions(HOT), lambda: view.payloads(HOT),
                 lambda: view.rows):
        with pytest.raises(AttributeError, match="only postings"):
            read()


# the fixture's hot, mid and rare terms, plus one it lacks
_VOCAB = (HOT, HOT2, MID, MID2, RARE, RARE2, "static", "class", "id_0242",
          "no_such_term")
# synonyms score multi-term stats, which only these sims model
_MULTI_TERM_SIMS = (None, "classic", "boolean")


@st.composite
def _wand_case(draw):
    """A flat wand_applicable query (term, synonym and dismax leaves under
    MUST/SHOULD) with positive boosts under a WAND-safe similarity, and a
    window, k, tombstone set and optional searchAfter mark."""
    sim = draw(st.sampled_from((None, *sorted(K._WAND_SAFE_SIMS))))
    kinds = ("term", "synonym", "dismax") if sim in _MULTI_TERM_SIMS else (
        "term", "dismax")
    boost = st.floats(0.1, 4.0, allow_nan=False)

    def term():
        return Term(draw(st.sampled_from(_VOCAB)))

    def leaf():
        kind = draw(st.sampled_from(kinds))
        if kind == "term":
            q = term()
        elif kind == "synonym":
            q = Synonym(tuple(draw(st.lists(st.sampled_from(_VOCAB), min_size=2,
                                            max_size=3, unique=True))))
        else:
            q = DisjunctionMax(tuple(term() for _ in range(draw(st.integers(1, 3)))),
                               draw(st.floats(0.0, 1.0)))
        return Boost(q, draw(boost)) if draw(st.booleans()) else q

    if draw(st.booleans()):
        q = leaf()
    else:
        occurs = draw(st.lists(st.sampled_from((Occur.MUST, Occur.SHOULD)),
                               min_size=1, max_size=4))
        msm = 0 if Occur.MUST in occurs else draw(st.integers(0, 1))
        q = Bool.of(*((o, leaf()) for o in occurs), min_should_match=msm)
    deleted = draw(st.sets(st.integers(0, N_DOCS - 1), max_size=60))
    return (q, sim, draw(st.integers(16, 512)), draw(st.integers(1, 50)),
            np.array(sorted(deleted), dtype=np.int64), draw(st.booleans()),
            draw(st.integers(0, 49)))


@settings(max_examples=150, deadline=None)
@given(case=_wand_case())
def test_wand_equals_exhaustive_hypothesis(segment, case):
    """Over random flat plans, sims, windows, k, tombstones and pages,
    score_wand returns exhaustive scoring's docs and float32 scores bit
    for bit, its total wherever it reports EQUAL_TO, and never more."""
    seg, df, n_docs, cache, _deleted = segment
    q, sim_name, window, k, deleted, paged, at = case
    sim = None if sim_name is None else {
        "name": sim_name,
        "ttf": {key: int(r.ttf) for key, r in seg.rows.items()},
        "field_tokens": {"content": sum(int(r.ttf) for (f, _t), r in seg.rows.items()
                                        if f == "content")},
    }
    plan = K.compile_plan(q, df, n_docs, sim=sim)
    assert K.wand_applicable(plan)
    kw = dict(doc_base=DOC_BASE, deleted=deleted)
    after = None
    if paged:
        d, s, _t, _r = K.score_exhaustive(plan, seg, cache, 50, **kw)
        if len(d):
            i = at % len(d)
            after = (float(s[i]), int(d[i]) + DOC_BASE)
    ed, es, et, er = K.score_exhaustive(plan, seg, cache, k, after=after, **kw)
    wd, ws, wt, wr = K.score_wand(plan, seg, cache, k, window=window,
                                  after=after, **kw)
    assert er == "EQUAL_TO"
    np.testing.assert_array_equal(wd, ed)
    assert ws.dtype == es.dtype == np.float32
    np.testing.assert_array_equal(ws.view(np.uint32), es.view(np.uint32))
    if wr == "EQUAL_TO":
        assert wt == et
    else:
        assert wr == "GREATER_THAN_OR_EQUAL_TO" and wt <= et

