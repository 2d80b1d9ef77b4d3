"""Query generation and the correctness check against the brute-force oracle.

Queries come in five shapes, each mixing tail identifiers (``id_NNNN``)
with hot keywords: a term, a 2-clause AND, a 2-clause OR, a 2-term phrase
and a content term under a ``lang`` FILTER. Every query is drawn from the
generated corpus through the oracle, so each one matches at least one
document.
"""

from __future__ import annotations

import math
from typing import NamedTuple

import numpy as np

from lucene_solr_1_spark.corpus import KEYWORDS
from lucene_solr_1_spark.search.query import Bool, Occur, Phrase, Term

SHAPES = ("term", "and", "or", "phrase", "filter")
K = 10
RTOL = 2e-5  # float32 engine scores against float64 oracle scores
TAIL_MAX_DF = 50


class Spec(NamedTuple):
    shape: str
    terms: tuple
    lang: str = ""

    def query(self):
        a = Term(self.terms[0])
        if self.shape == "term":
            return a
        if self.shape == "and":
            return Bool.of((Occur.MUST, a), (Occur.MUST, Term(self.terms[1])))
        if self.shape == "or":
            return Bool.of((Occur.SHOULD, a), (Occur.SHOULD, Term(self.terms[1])))
        if self.shape == "phrase":
            return Phrase(self.terms)
        return Bool.of((Occur.MUST, a), (Occur.FILTER, Term(self.lang, field="lang")))


class Sampler:
    """Builds query specs from the oracle's view of the corpus. Tail
    identifiers (document frequency at most TAIL_MAX_DF) are handed out
    without replacement, so every spec built from ``fresh()`` names an
    identifier no earlier spec used. The hot keyword of the n-th spec is
    picked by rotation, not at random: the keywords' long postings set a
    query's cost, so rotation keeps the cost of the n-th query alike
    across seeds."""

    def __init__(self, oracle, rng: np.random.Generator):
        self.oracle = oracle
        self.rng = rng
        self.made = 0
        self.hot = [t for t in dict.fromkeys(KEYWORDS) if oracle.df.get(t, 0) > 0]
        self.docs_of: dict[str, list[int]] = {}
        for d, tf in enumerate(oracle.docs):
            for t in tf:
                if t.startswith("id_"):
                    self.docs_of.setdefault(t, []).append(d)
        tail = sorted(t for t, docs in self.docs_of.items() if len(docs) <= TAIL_MAX_DF)
        self.tail = [tail[i] for i in rng.permutation(len(tail))]

    def fresh(self, shape: str) -> Spec:
        spec = self.make(shape, self.tail.pop())
        self.made += 1
        return spec

    def make(self, shape: str, tid: str) -> Spec:
        docs = self.docs_of[tid]
        d = docs[int(self.rng.integers(len(docs)))]
        n = self.made % len(self.hot)
        rotated = self.hot[n:] + self.hot[:n]
        if shape == "term":
            return Spec("term", (tid,))
        if shape == "and":
            co = [t for t in rotated if t in self.oracle.docs[d]]
            return Spec("and", (tid, co[0])) if co else Spec("term", (tid,))
        if shape == "or":
            return Spec("or", (tid, rotated[0]))
        if shape == "phrase":
            pos = self.oracle.positions[d]
            at = {p: t for t, ps in pos.items() for p in ps}
            p = pos[tid][0]
            if p + 1 in at:
                return Spec("phrase", (tid, at[p + 1]))
            if p - 1 in at:
                return Spec("phrase", (at[p - 1], tid))
            return Spec("term", (tid,))
        return Spec("filter", (tid,), lang=str(self.oracle.pdf["lang"].iloc[d]))


def oracle_scores(oracle, spec: Spec) -> dict:
    if spec.shape == "term":
        return oracle.term_scores(spec.terms[0])
    if spec.shape == "and":
        return oracle.bool_and(list(spec.terms))
    if spec.shape == "or":
        return oracle.bool_or(list(spec.terms))
    if spec.shape == "phrase":
        return oracle.phrase_scores(list(spec.terms))
    langs = oracle.pdf["lang"].to_numpy()
    return {d: s for d, s in oracle.term_scores(spec.terms[0]).items()
            if langs[d] == spec.lang}


class Checker:
    """Rank identity with the oracle, modulo float ties: rank i's score
    equals the oracle's rank-i score, and each returned document really
    has that score in the oracle. Verdicts are cached per (spec, hits)."""

    def __init__(self, oracle):
        self.oracle = oracle
        self._scores: dict = {}
        self._verdicts: dict = {}

    def ok(self, spec: Spec, gids: tuple, scores: tuple) -> bool:
        key = (spec, gids, scores)
        if key not in self._verdicts:
            self._verdicts[key] = self._check(spec, gids, scores)
        return self._verdicts[key]

    def _check(self, spec, gids, scores) -> bool:
        if spec not in self._scores:
            self._scores[spec] = oracle_scores(self.oracle, spec)
        want = self._scores[spec]
        top = self.oracle.top_k(want, K)
        if len(gids) != len(top) or len(set(gids)) != len(gids):
            return False
        for g, s, (_, ws) in zip(gids, scores, top):
            if not math.isclose(s, ws, rel_tol=RTOL):
                return False
            if g not in want or not math.isclose(want[g], s, rel_tol=RTOL):
                return False
        return True


def hits_key(hits) -> tuple[tuple, tuple]:
    """(global doc ids, scores) of a result frame, as hashable tuples."""
    return (
        tuple(int(g) for g in hits["global_doc_id"]),
        tuple(float(s) for s in hits["score"]),
    )


def union_query(specs) -> Bool:
    """One OR over every term of ``specs`` (content and ``lang``): a single
    call that fetches, and decodes, the postings the specs will touch."""
    keys = {(t, "content") for s in specs for t in s.terms}
    keys |= {(s.lang, "lang") for s in specs if s.lang}
    return Bool.of(*((Occur.SHOULD, Term(t, field=f)) for t, f in sorted(keys)))
