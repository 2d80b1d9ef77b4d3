"""Randomized engine-vs-oracle equivalence — the RandomIndexWriter /
RandomPostingsTester analog (test-framework/.../index/RandomIndexWriter.java,
BasePostingsFormatTestCase.java): seeded random corpora + random query
shapes + random segment counts; the engine's top-k must be rank-identical
to the brute-force oracle every time."""

import numpy as np
import pandas as pd
import pytest

from lucene_solr_1_spark.index.builder import build_index
from lucene_solr_1_spark.search.query import Bool, Occur, Phrase, Term
from lucene_solr_1_spark.search.searcher import LuceneSparkSearcher

from .oracle import OracleIndex

VOCAB = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa return int "
    "public void class static final if else for while"
).split()


def _random_corpus(rng: np.random.Generator, n_docs: int) -> pd.DataFrame:
    rows = []
    for i in range(n_docs):
        n = int(rng.integers(0, 40))  # includes empty docs
        content = " ".join(rng.choice(VOCAB, size=n)) if n else ""
        rows.append(
            (f"r/{i % 3}", f"p/{i}", f"c{i:04d}", "x", content)
        )
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])


def _random_query(rng: np.random.Generator):
    kind = rng.integers(0, 5)
    t = lambda: Term(str(rng.choice(VOCAB)))  # noqa: E731
    if kind == 0:
        return t()
    if kind == 1:
        return Bool.of((Occur.MUST, t()), (Occur.MUST, t()))
    if kind == 2:
        return Bool.of(
            (Occur.SHOULD, t()), (Occur.SHOULD, t()), (Occur.SHOULD, t())
        )
    if kind == 3:
        return Phrase((str(rng.choice(VOCAB)), str(rng.choice(VOCAB))))
    return Bool.of((Occur.MUST, t()), (Occur.SHOULD, t()), (Occur.MUST_NOT, t()))


def _random_corpus_ml(rng: np.random.Generator, n_docs: int) -> pd.DataFrame:
    """Multi-lang corpus for field/numeric/span fuzzing."""
    langs = ["python", "java", "scala"]
    rows = []
    for i in range(n_docs):
        n = int(rng.integers(0, 40))
        content = " ".join(rng.choice(VOCAB, size=n)) if n else ""
        rows.append(
            (f"r/{i % 3}", f"p/{i}", f"c{i:04d}", str(rng.choice(langs)), content)
        )
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])


def _random_query_r2(rng: np.random.Generator):
    """Round-2 query shapes: field filters, numeric ranges, fuzzy,
    sloppy phrase, span proximity, parsed text."""
    from lucene_solr_1_spark.search.parser import parse
    from lucene_solr_1_spark.search.query import (
        Fuzzy, NumericRange, SpanNear, SpanOr,
    )

    t = lambda: Term(str(rng.choice(VOCAB)))  # noqa: E731
    kind = rng.integers(0, 8)
    if kind == 0:
        return Bool.of(
            (Occur.MUST, t()),
            (Occur.FILTER, Term(str(rng.choice(["python", "java", "scala"])), field="lang")),
        )
    if kind == 1:
        lo = int(rng.integers(0, 20))
        return Bool.of(
            (Occur.MUST, t()),
            (Occur.FILTER, NumericRange("dl", lo, lo + int(rng.integers(5, 30)))),
        )
    if kind == 2:
        return Fuzzy(str(rng.choice(VOCAB)), max_edits=int(rng.integers(1, 3)))
    if kind == 3:
        return Phrase(
            (str(rng.choice(VOCAB)), str(rng.choice(VOCAB))),
            slop=int(rng.integers(0, 4)),
        )
    if kind == 4:
        return SpanNear(
            (str(rng.choice(VOCAB)), str(rng.choice(VOCAB))),
            slop=int(rng.integers(0, 5)),
            in_order=bool(rng.integers(0, 2)),
        )
    if kind == 5:
        return SpanNear(
            (SpanOr((str(rng.choice(VOCAB)), str(rng.choice(VOCAB)))),
             str(rng.choice(VOCAB))),
            slop=int(rng.integers(1, 5)),
        )
    if kind == 6:
        a, b = rng.choice(VOCAB), rng.choice(VOCAB)
        return parse(f"{a} AND ({b} OR lang:java)")
    return Bool.of(
        (Occur.SHOULD, t()), (Occur.SHOULD, t()),
        (Occur.MUST_NOT, Term(str(rng.choice(["python", "java"])), field="lang")),
    )


@pytest.mark.parametrize("seed", [5, 97])
def test_randomized_r2_invariances(spark, tmp_path_factory, seed):
    """Round-2 query shapes under two universal invariants: WAND ==
    exhaustive, and results independent of segment count (1 vs n) —
    covers multi-field merge, numeric doc-values filters, span matching
    and fuzzy rewrite without per-shape oracle code."""
    rng = np.random.default_rng(seed)
    pdf = _random_corpus_ml(rng, int(rng.integers(30, 90)))
    d1 = str(tmp_path_factory.mktemp(f"r2a{seed}"))
    dn = str(tmp_path_factory.mktemp(f"r2b{seed}"))
    build_index(spark, spark.createDataFrame(pdf), d1, num_segments=1)
    build_index(
        spark, spark.createDataFrame(pdf), dn,
        num_segments=int(rng.integers(2, 6)),
    )
    s1 = LuceneSparkSearcher(spark, d1)
    sn = LuceneSparkSearcher(spark, dn)
    for _ in range(8):
        q = _random_query_r2(rng)
        k = int(rng.integers(1, 15))
        a = sn.search(q, k=k, use_wand=True, with_stored=False)
        b = sn.search(q, k=k, use_wand=False, with_stored=False)
        np.testing.assert_array_equal(
            a["global_doc_id"].to_numpy(), b["global_doc_id"].to_numpy(), err_msg=repr(q)
        )
        np.testing.assert_array_equal(
            a["score"].to_numpy(), b["score"].to_numpy(), err_msg=repr(q)
        )
        c = s1.search(q, k=k, use_wand=True, with_stored=False)
        np.testing.assert_array_equal(
            a["global_doc_id"].to_numpy(), c["global_doc_id"].to_numpy(), err_msg=repr(q)
        )
        np.testing.assert_array_equal(
            a["score"].to_numpy(), c["score"].to_numpy(), err_msg=repr(q)
        )


@pytest.mark.parametrize("seed", [7, 23, 1009])
def test_randomized_rank_identity(spark, tmp_path_factory, seed):
    rng = np.random.default_rng(seed)
    pdf = _random_corpus(rng, int(rng.integers(20, 80)))
    oracle = OracleIndex(pdf)
    d = str(tmp_path_factory.mktemp(f"ridx{seed}"))
    n_seg = int(rng.integers(1, 6))
    build_index(spark, spark.createDataFrame(pdf), d, num_segments=n_seg)
    s = LuceneSparkSearcher(spark, d)
    for _ in range(6):
        q = _random_query(rng)
        k = int(rng.integers(1, 15))
        hits = s.search(q, k=k)
        # oracle evaluation of the same query shape
        if isinstance(q, Term):
            scores = oracle.term_scores(q.text)
        elif isinstance(q, Phrase):
            scores = oracle.phrase_scores(list(q.terms))
        else:
            musts = [c.query.text for c in q.clauses if c.occur == Occur.MUST]
            shoulds = [c.query.text for c in q.clauses if c.occur == Occur.SHOULD]
            nots = [c.query.text for c in q.clauses if c.occur == Occur.MUST_NOT]
            if musts:
                base = oracle.bool_and(musts)
                for d_id in list(base):
                    for t2 in shoulds:
                        extra = oracle.term_scores(t2).get(d_id)
                        if extra:
                            base[d_id] += extra
                scores = base
            else:
                scores = oracle.bool_or(shoulds)
            for t2 in nots:
                for d_id in oracle.term_scores(t2):
                    scores.pop(d_id, None)
        want = oracle.top_k(scores, k)
        got_keys = [
            f"{r.repo}|{r.path}|{r.commit}" for r in hits.itertuples(index=False)
        ]
        want_keys = [oracle.key_of(i) for i, _ in want]
        assert got_keys == want_keys, (seed, q, k)
        np.testing.assert_allclose(
            hits["score"].to_numpy(dtype=np.float64),
            np.array([sc for _, sc in want]),
            rtol=2e-5,
        )
