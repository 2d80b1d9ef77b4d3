"""Distributed IndexSearcher (SURVEY.md §3.2 Spark shape).

One query pipeline — search, search_many, rescore, search_local and
search_sorted all run the same three steps (IndexSearcher.search builds a
Weight once and runs it per leaf slice):
 1. _prepare: analyze → rewrite; a top-level multi-term query is scored
    constant 1.0 over every term it matches (CONSTANT_SCORE_REWRITE: the
    plan lists the terms, no clause cap), anything else is expanded
    against the term dictionary (TopTermsRewrite cap 1024), rewritten and
    compiled behind the global-stats barrier: per-term docFreq summed
    across segments, docCount/sumTTF from the manifest — baked into a
    picklable float32 plan (createWeight analog), memoized per (query,
    similarity) for the searcher's lifetime. The term dictionary
    (Terms.intersect) and the stats (TermStates.build) are read on the
    driver from the segment files' field/term/doc_freq/ttf columns (no
    Spark job; index/segfiles.py).
 2. _score: one route decision per batch of plans, then one per-slice
    step (_score_slice) over ONLY the pruned posting rows of the plans'
    keys (norm bytes ride inside each row — no norms-table join) and the
    batch's doc-values sets, read from the docmap files' columns; the
    DAAT kernel → per-slice top-k. A slice (IndexSearcher.slices) is a
    maximal run of consecutive segments in doc_base order, each of at
    most K.WAND_WINDOW docs, read as one docBase-shifted segment
    (K.SliceData, the MultiPostingsEnum analog) and scored
    exhaustively; a larger segment is its own slice and keeps block-max
    WAND. Above the kernel every docID is global: the doc-values sets
    and rescore's first-pass docs are sorted global arrays that each
    slice cuts to its own span on the way in, and a slice's hits leave
    it as global docIDs (the leaf collector adding docBase). A batch
    whose work fits one thread (the summed global ttf of its keys, plus
    doc_count when a plan reads every doc — a matchall, a doc-values
    set or a value source — at most MAX_DOCS_PER_SLICE) is scored on
    the driver, as IndexSearcher.search runs a single slice on the
    caller thread — a Spark dispatch costs ~100x the kernel work of
    such a query. A bigger batch runs the same step as one Spark task
    per slice, reading the slice's own segment files (leaves on
    executors, no shuffle) and returning one row per (query, slice);
    search_local runs it on the driver over its persistent per-slice
    cache.
 3. _merge: NumPy k-way merge of the slices' global hits with the
    reference tie-break: score desc, then global docID asc
    (TopDocs.merge, TopDocs.java:203-265); only the top k are mapped
    back to (segment_id, local docID), by _locate (ReaderUtil.subIndex),
    and their stored fields are read on the driver from their segments'
    docmaps. explain reads the slice holding its doc through the same
    views and doc-values sets.

Total hits: a WAND segment kernel scores its windows in bound order, in
batches of 1, 2, 4, ... windows, and stops at the first window whose
bound is below θ, the kth score after the batches before it. If it left
a window that could match, it reports relation GREATER_THAN_OR_EQUAL_TO,
and total_hits counts only the windows it scored: every window of a
batch counts, so the total can exceed what a window-at-a-time scorer
would report.
Lucene's rule of counting exactly up to
TOTAL_HITS_THRESHOLD = 1000 hits (IndexSearcher.java:101) before pruning
is not implemented. A segment of at most K.WAND_WINDOW docs is scored
exhaustively, alone or in a slice, so its count is always exact. A
searchAfter page counts every match, not only those past the mark
(PagingTopScoreDocCollector counts before its after test).
"""

from __future__ import annotations

import re
import threading
from functools import cached_property, partial
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from ..index import manifest as mf
from ..index import segfiles
from ..kernels import bm25
from ..kernels.osa import osa_series
from . import kernel as K
from .query import (
    Blended, Bool, Clause, FunctionScore, Fuzzy, MatchNone,
    NUMERIC_DOCVALUES, NumericSet, Occur,
    Prefix, Query, RangeField, Regexp, Term, TermRange, Wildcard,
    numeric_ranges, query_terms, rewrite, value_source_fields,
    MAX_CLAUSE_COUNT,
)


# IndexSearcher.MAX_DOCS_PER_SLICE: a batch whose cost (its keys' summed
# global ttf — the positions a positional plan decodes, an upper bound on
# postings for every other plan — plus doc_count when a plan reads every
# doc) stays within it is one slice, scored on the driver.
MAX_DOCS_PER_SLICE = 250_000

# whole results kept per searcher (search()'s result cache)
RESULT_CACHE_SIZE = 128

# prepared plans kept per searcher (_prepare's memo): LRUQueryCache's
# default maxSize
PLAN_CACHE_SIZE = 1000

_STORED_COLUMNS = [
    "segment_id", "doc_id", "repo", "path", "commit", "lang", "dl",
    "n_chars", "content",
]

# the Spark route's rows: one per (query, slice), the slice's top-k as
# global docIDs and scores, so a slice with no hit still carries its
# total
_PART_SCHEMA = (
    "query string, global_doc_id array<bigint>, score array<float>, "
    "total bigint, relation string"
)


class _Prepared(NamedTuple):
    """A query made ready to score: its compiled plan (None when it
    rewrote to MatchNone), the (field, term) keys whose posting rows it
    reads, and its NumericRange sets and value-source fields (the
    doc-values sets)."""
    plan: dict | None
    keys: set
    nrs: set
    vsf: set


_NOTHING = _Prepared(None, set(), set(), set())

# posting rows of a segment that holds none of the keys
_NO_ROWS = pd.DataFrame(columns=["field", "term"])

# the dictionary of a field no segment holds: (terms, doc_freqs)
_NO_TERMS = (np.empty(0, object), np.empty(0, np.int64))


class _LRU:
    """A bounded least-recently-used map, LRUQueryCache's policy: a hit
    moves to the back, an insert evicts from the front. An unhashable
    key is never cached: get misses and put does nothing. Safe to share
    between threads."""

    def __init__(self, size: int):
        self.size = size
        self._d: dict = {}
        self._lock = threading.Lock()

    def __len__(self) -> int:
        return len(self._d)

    def clear(self) -> None:
        with self._lock:
            self._d.clear()

    def get(self, key):
        with self._lock:
            try:
                value = self._d.pop(key)
            except (KeyError, TypeError):  # TypeError: unhashable key
                return None
            self._d[key] = value  # re-insert = most recent
            return value

    def put(self, key, value) -> None:
        with self._lock:
            try:
                self._d[key] = value
            except TypeError:
                return
            while len(self._d) > self.size:
                self._d.pop(next(iter(self._d)))


class _Slice(NamedTuple):
    """A leaf slice: its segments in doc_base order, each one's docID
    shift (its doc_base minus the slice's `base`), the doc span and the
    tombstones in slice docIDs."""
    sids: list
    offsets: np.ndarray
    base: int
    n_docs: int
    deleted: np.ndarray | None

    def view(self, rows: pd.DataFrame):
        """The kernel's input for this slice: a one-segment slice is its
        segment, more are read as one (K.SliceData)."""
        if len(self.sids) == 1:
            return K.SegmentData(rows, self.n_docs)
        return K.SliceData(rows, self.n_docs, dict(zip(self.sids, self.offsets.tolist())))

    def allowed(self, sets: dict) -> dict | None:
        """The global doc sets ({set_id: sorted global docIDs | (docs,
        values)}: doc-values sets, rescore's first pass) cut to this
        slice's span [base, base + n_docs), in slice docIDs."""
        if not sets:
            return None
        out = {}
        for set_id, payload in sets.items():
            docs = payload[0] if isinstance(payload, tuple) else payload
            lo, hi = np.searchsorted(docs, (self.base, self.base + self.n_docs))
            cut = docs[lo:hi] - self.base
            out[set_id] = (cut, payload[1][lo:hi]) if isinstance(payload, tuple) else cut
        return out


# ---------------- the term dictionary (Terms.intersect) --------------------

def _fuzzy_parts(q: Fuzzy) -> tuple[int, str, bool]:
    """(effective prefix length, fuzzy suffix, exact-only?) for a Fuzzy
    query — FuzzyTermsEnum.java:129 clamps the prefix to the term length;
    FuzzyQuery.java:151 degrades to exact-term match when maxEdits == 0
    or the prefix covers the whole text."""
    pl = min(max(q.prefix_length, 0), len(q.text))
    exact_only = q.max_edits == 0 or pl >= len(q.text)
    return pl, q.text[pl:], exact_only


def _fuzzy_matches(q: Fuzzy, terms: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(ascending indices, edit distances) of the `terms` within q's
    edits. Transpositions count ONE edit (FuzzyQuery.java:58
    defaultTranspositions=true): the code-point length window and the
    non-fuzzy prefix (FuzzyTermsEnum.java:129-141) pick the candidates,
    and `osa_series` measures them. With a prefix the distance is the
    SUFFIX's, as FuzzyTermsEnum's automata are prefix + lev(suffix)."""
    pl, suffix, exact_only = _fuzzy_parts(q)
    if exact_only:
        idx = np.flatnonzero(terms == q.text)
        return idx, np.zeros(len(idx), np.int64)
    n, e, head = len(q.text), q.max_edits, q.text[:pl]
    cand = np.flatnonzero(np.fromiter(
        (n - e <= len(t) <= n + e and t.startswith(head) for t in terms),
        bool, len(terms)))
    dist = osa_series(pd.Series([t[pl:] for t in terms[cand]], dtype=object),
                      suffix).to_numpy(np.int64)
    keep = dist <= e
    return cand[keep], dist[keep]


def _wildcard_regex(pattern: str) -> str:
    """A Wildcard pattern as a regex: `*` any run, `?` one character."""
    return re.escape(pattern).replace(r"\*", ".*").replace(r"\?", ".")


def _dictionary_matches(q: Query, terms: np.ndarray) -> np.ndarray:
    """Ascending indices of the `terms` (one field's dictionary, in
    code-point order) that the multi-term query `q` matches — its
    automaton intersected with the term dictionary. Wildcard and Regexp
    match whole terms (RegexpQuery); TermRange compares code points."""
    if isinstance(q, Fuzzy):
        return _fuzzy_matches(q, terms)[0]
    if isinstance(q, Prefix):
        hit = (t.startswith(q.prefix) for t in terms)
    elif isinstance(q, (Wildcard, Regexp)):
        rx = re.compile(_wildcard_regex(q.pattern) if isinstance(q, Wildcard)
                        else q.pattern)
        hit = (rx.fullmatch(t) is not None for t in terms)
    elif isinstance(q, TermRange):
        lo, hi = q.lower, q.upper
        hit = ((lo is None or t > lo or (q.include_lower and t == lo))
               and (hi is None or t < hi or (q.include_upper and t == hi))
               for t in terms)
    else:
        raise TypeError(f"not a multi-term query: {q!r}")
    return np.flatnonzero(np.fromiter(hit, bool, len(terms)))


# ---------------- doc values (NumericDocValues) ---------------------------

def _docvalue_columns(nrs, vsf) -> list[str]:
    """The docmap columns that the doc-values sets `nrs` and value
    sources `vsf` read; an unknown column raises ValueError."""
    cols = set(vsf)
    for nr in nrs:
        cols |= ({c for dim in nr.dims for c in dim} if isinstance(nr, RangeField)
                 else {nr.field})
    for c in sorted(cols):
        if c not in NUMERIC_DOCVALUES:
            raise ValueError(
                f"unknown numeric doc-values field {c!r}; "
                f"available: {NUMERIC_DOCVALUES}"
            )
    return sorted(cols)


def _range_match(nr, vals: dict) -> np.ndarray:
    """The docs (as a mask over `vals`' float64 columns, NaN = null) that
    a NumericRange, NumericSet or RangeField matches. A null matches no
    comparison, so it matches no bounded range."""
    if isinstance(nr, RangeField):
        # RangeFieldQuery.QueryType per-dim relations, ANDed over the
        # dimensions; crosses = INTERSECTS && !WITHIN over the whole box
        # (RangeFieldQuery.java:192-193)
        def rel(name):
            m = np.ones(len(vals["doc_id"]), bool)
            for (mn, mx), lo, hi in zip(nr.dims, nr.lower, nr.upper):
                a, b = vals[mn], vals[mx]
                if name == "intersects":
                    m &= (a <= hi) & (b >= lo)
                elif name == "within":
                    m &= (a >= lo) & (b <= hi)
                else:  # contains
                    m &= (a <= lo) & (b >= hi)
            return m

        if nr.relation == "crosses":
            return rel("intersects") & ~rel("within")
        return rel(nr.relation)
    v = vals[nr.field]
    if isinstance(nr, NumericSet):  # PointInSetQuery
        return np.isin(v, [int(x) for x in nr.values])
    m = np.ones(len(v), bool)
    if nr.lower is not None:
        m &= v >= int(nr.lower)
    if nr.upper is not None:
        m &= v <= int(nr.upper)
    return m


def _doc_values(index_dir: str, manifest: dict, nrs, vsf) -> dict:
    """The doc-values sets of the manifest's segments, read from the
    docmap files' columns (the NumericDocValues / points read of each
    leaf) and laid end to end in doc_base order: {set_id: sorted global
    docIDs} for each NumericRange, NumericSet or RangeField, and
    {"values:<field>": (sorted global docs, float64 values)} for each
    value-source field."""
    cols = _docvalue_columns(nrs, vsf)
    base = {s["segment_id"]: s["doc_base"] for s in manifest["segments"]}
    read = segfiles.read_docvalues(index_dir, manifest, cols)
    order = sorted(read, key=base.__getitem__)
    docs = np.concatenate([read[sid]["doc_id"].to_numpy(np.int64) + base[sid]
                           for sid in order] + [np.empty(0, np.int64)])
    vals = {c: np.concatenate([read[sid][c].to_numpy(np.float64) for sid in order]
                              + [np.empty(0)]) for c in cols}
    vals["doc_id"] = docs
    out = {K.numeric_set_id(nr): docs[_range_match(nr, vals)] for nr in nrs}
    out.update({f"values:{f}": (docs, vals[f]) for f in vsf})
    return out


# ---------------- the per-slice step --------------------------------------

def _slice_index(slices: list) -> dict:
    """{segment_id: index of its slice in `slices`}."""
    return {sid: i for i, sl in enumerate(slices) for sid in sl.sids}


def _score_segment(seg, plans: dict, caches, k: int, use_wand: bool, after,
                   doc_base: int, deleted, allowed=None) -> dict:
    """Score every plan of a batch against one leaf: a large segment or a
    slice of small ones read as one, in its own docIDs from `doc_base`
    on. Plans share
    `seg`'s decode cache; the doc-values sets of this call ride in a view
    of `seg`, so the shared SegmentData is never written. Returns {name:
    (docs, float32 scores, total, relation)}."""
    if allowed is not None:
        seg = seg.with_allowed(allowed)
    # a segment of one WAND window has nothing to skip: WAND would score
    # every doc, as the exhaustive path does, after building its bounds;
    # a slice of several segments is scored exhaustively, as each of them
    use_wand = (use_wand and seg.n_docs > K.WAND_WINDOW
                and not isinstance(seg, K.SliceData))
    out = {}
    for name, plan in plans.items():
        score = (K.score_wand if use_wand and K.wand_applicable(plan)
                 else K.score_exhaustive)
        docs, scores, total, relation = score(
            plan, seg, caches, k, after=after, doc_base=doc_base, deleted=deleted
        )
        out[name] = (docs, scores.astype(np.float32), int(total), relation)
    return out


def _score_slice(sl: _Slice, seg, sets: dict, *, plans: dict, caches, k: int,
                 use_wand: bool, after) -> dict:
    """The one per-slice step of every route: the slice's view `seg`
    scored by _score_segment under the global doc sets `sets` (the
    doc-values sets and rescore's first pass) cut to the slice. Returns
    {name: (global docs, scores, total, relation)} for _merge."""
    res = _score_segment(seg, plans, caches, k, use_wand, after, sl.base,
                         sl.deleted, sl.allowed(sets))
    return {name: (docs + sl.base, *rest) for name, (docs, *rest) in res.items()}


def _slice_task(batches, *, index_dir: str, manifest: dict, slices: list,
                keys: set, columns: list, nrs: set, vsf: set, extra: dict,
                **score):
    """mapInPandas body of the Spark route: leaf slice `id` (one per
    task) read from its own segment files — the keys' posting rows and
    the doc-values sets — through _score_slice, returned as _PART_SCHEMA
    rows, one per plan."""
    for pdf in batches:
        for i in pdf["id"].tolist():
            sl = slices[i]
            mine = {**manifest, "segments": [
                s for s in manifest["segments"] if s["segment_id"] in sl.sids]}
            rows = segfiles.read_postings(index_dir, mine, keys, columns)
            dv = _doc_values(index_dir, mine, nrs, vsf) if nrs or vsf else {}
            res = _score_slice(sl, sl.view(rows), {**dv, **extra}, **score)
            yield pd.DataFrame({
                "query": list(res),
                "global_doc_id": [r[0].astype(np.int64) for r in res.values()],
                "score": [r[1] for r in res.values()],
                "total": np.asarray([r[2] for r in res.values()], np.int64),
                "relation": [r[3] for r in res.values()],
            })


class LuceneSparkSearcher:
    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        self.manifest = mf.read_manifest(index_dir)
        if self.manifest is None:
            raise FileNotFoundError(f"no committed manifest in {index_dir}")
        self.doc_count = self.manifest["doc_count"]
        self.sum_ttf = self.manifest["sum_ttf"]
        self.avgdl = bm25.avg_field_length(self.sum_ttf, max(self.doc_count, 1))
        # per-field CollectionStatistics → per-field norm cache (each field
        # has its own avgdl; FieldInfos / CollectionStatistics analog)
        fs = self.manifest.get("field_stats") or {
            "content": {"sum_ttf": self.sum_ttf, "doc_count": self.doc_count}
        }
        self.field_stats = fs
        self.doc_counts = {
            f: max(int(st["doc_count"]), 1) for f, st in fs.items()
        }
        self.caches = {
            f: bm25.norm_cache(
                bm25.avg_field_length(
                    int(st["sum_ttf"]), max(int(st["doc_count"]), 1)
                )
            )
            for f, st in fs.items()
        }
        self.cache = self.caches["content"]
        self.doc_base = {
            s["segment_id"]: s["doc_base"] for s in self.manifest["segments"]
        }
        self.seg_doc_count = {
            s["segment_id"]: s["doc_count"] for s in self.manifest["segments"]
        }
        self._df_cache: dict = {}
        self._ttf_cache: dict = {}
        self._dv_sets: dict = {}  # set_id -> global docs | (docs, values)
        from ..index.deletes import read_tombstones

        # tombstoned local docIDs per segment (live-docs analog) — tiny,
        # shipped to the scoring kernels alongside the query plan
        self.tombstones = read_tombstones(index_dir, self.manifest)
        # whole-result LRU keyed by (query, k, wand, after) — the
        # LRUQueryCache analog at query granularity — and the plan memo
        # keyed by (query, similarity): the index is IMMUTABLE under this
        # manifest generation, so entries never go stale; a reopened
        # searcher (new generation) starts empty.
        self._result_cache = _LRU(RESULT_CACHE_SIZE)
        self._plans = _LRU(PLAN_CACHE_SIZE)
        # the analyzer the index was BUILT with (manifest-persisted name):
        # query terms are re-analyzed with the same chain so a stemmed
        # index stems query terms too (QueryParser-with-analyzer parity).
        from ..kernels.analyzer import ANALYZERS, STANDARD

        self.analyzer_cfg = ANALYZERS.get(
            self.manifest.get("analyzer", "standard"), STANDARD
        )

    @cached_property
    def _postings_columns(self) -> list[str]:
        """Column names of the postings files, as their scan sees them."""
        return segfiles.postings_columns(self.index_dir, self.manifest)

    def _analyze_query(self, q: Query) -> Query:
        cfg = self.analyzer_cfg
        if not cfg.reshapes_query:
            # no stage of the index chain reshapes a parsed query term
            # (standard/english): the raw terms match as they are
            return q
        from ..index.segment import KEYWORD_FIELDS
        from .query import analyze_query_terms

        return analyze_query_terms(q, cfg, frozenset(KEYWORD_FIELDS))

    # ---------------- multi-term expansion (§2.5 PrefixQuery etc.) --------

    @cached_property
    def _dictionary(self) -> dict:
        """{field: (terms, global doc_freqs)}: the committed segments'
        term dictionary (segfiles.term_dictionary), terms in code-point
        order, read on first use and kept for the searcher's lifetime."""
        d = segfiles.term_dictionary(self.index_dir, self.manifest)
        return {f: (g["term"].to_numpy(object), g["doc_freq"].to_numpy(np.int64))
                for f, g in d.groupby("field", sort=False)}

    def _expand_terms(self, q: Query, cap: int | None = MAX_CLAUSE_COUNT) -> list[str]:
        """Terms of q's field that the multi-term query `q` matches: the
        top `cap` by global docFreq then term (TopTermsRewrite), or all
        of them in term order (cap=None, CONSTANT_SCORE_REWRITE)."""
        terms, dfs = self._dictionary.get(q.field, _NO_TERMS)
        idx = _dictionary_matches(q, terms)
        if cap is not None:
            idx = idx[np.lexsort((idx, -dfs[idx]))[:cap]]
        return terms[idx].tolist()

    _MTQ_TYPES = (Prefix, Wildcard, Regexp, Fuzzy, TermRange)

    def _expand_fuzzy(self, q: Fuzzy, cap: int = MAX_CLAUSE_COUNT) -> list:
        """[(term, edit_distance)] for a fuzzy query.

        When the 1024 cap binds, the survivors are the top by BOOST
        (1 - ed/min(|term|, |query|)) then term — TopTermsRewrite.java:106
        keeps its priority queue by boost, so close-but-rare terms beat
        popular-but-far ones (r2 VERDICT 'what's wrong' #5). With a
        non-fuzzy prefix the distance is the suffix's while the boost
        denominator stays the FULL-length min (FuzzyTermsEnum.java:
        231-237)."""
        terms = self._dictionary.get(q.field, _NO_TERMS)[0]
        idx, dist = _fuzzy_matches(q, terms)
        lens = np.fromiter((len(t) for t in terms[idx]), np.int64, len(idx))
        boost = 1.0 - dist / np.minimum(lens, len(q.text))
        order = np.lexsort((idx, -boost))[:cap]
        return [(terms[i], int(d)) for i, d in zip(idx[order], dist[order])]

    def complex_phrase(self, slots: tuple, slop: int = 0,
                       field: str = "content") -> Query:
        """ComplexPhraseQueryParser analog (lucene/queryparser/src/java/
        org/apache/lucene/queryparser/complexPhrase/
        ComplexPhraseQueryParser.java:40-120; Solr
        ComplexPhraseQParserPlugin.java): a phrase where a slot may be a
        wildcard/prefix pattern. Each pattern slot expands against the
        term dictionary (the same 1024-cap expansion as standalone
        MTQs) and the whole thing evaluates as ONE
        MultiPhraseQuery — per-slot union posting streams, standard
        phrase matching, allTermStats weight."""
        from .query import MatchNone as _MN, MultiPhrase, Prefix, Wildcard

        positions = []
        for spec in slots:
            if isinstance(spec, str) and ("*" in spec or "?" in spec):
                if spec.endswith("*") and "*" not in spec[:-1] and "?" not in spec:
                    mtq: Query = Prefix(spec[:-1], field=field)
                else:
                    mtq = Wildcard(spec, field=field)
                alts = self._expand_terms(mtq)
                if not alts:
                    return _MN()  # a dead slot kills the phrase
                positions.append(tuple(sorted(alts)))
            else:
                positions.append((spec,) if isinstance(spec, str) else tuple(spec))
        return MultiPhrase(tuple(positions), slop=slop, field=field)

    def expand(self, q: Query) -> Query:
        """Rewrite multi-term queries to term disjunctions (ScoringRewrite /
        TopTermsRewrite: terms ranked by docFreq, capped at 1024).

        FuzzyQuery uses the scoring rewrite with per-term boost
        1 - ed/min(|term|, |query|) (FuzzyTermsEnum.java:218-238
        boostAtt.setBoost(similarity); FuzzyQuery's
        TopTermsBlendedFreqScoringRewrite) — closer matches outrank
        farther ones instead of pure docFreq ranking."""
        from .query import CommonTerms

        if isinstance(q, CommonTerms):
            return self._rewrite_common_terms(q)
        if isinstance(q, Blended):
            return self._rewrite_blended(q)
        if isinstance(q, Fuzzy):
            from .query import Boost

            pairs = self._expand_fuzzy(q)
            if not pairs:
                return MatchNone()
            clauses = []
            for t, d in pairs:
                if d == 0:
                    sub: Query = Term(t, field=q.field)
                else:
                    boost = 1.0 - d / min(len(t), len(q.text))
                    sub = Boost(Term(t, field=q.field), boost)
                clauses.append((Occur.SHOULD, sub))
            return Bool.of(*clauses)
        from .query import SPAN_TYPES as _SPAN, SpanMultiTerm as _SMT

        if isinstance(q, _SPAN + (_SMT,)):
            return self._expand_span_tree(q)
        from .query import IntervalsQuery as _IQ

        if isinstance(q, _IQ) and q.source is not None:
            from dataclasses import replace as _dc_replace

            return _dc_replace(
                q, source=self._expand_interval_tree(q.source, q.field))
        if isinstance(q, self._MTQ_TYPES):
            terms = self._expand_terms(q)
        elif isinstance(q, Bool):
            return Bool(
                tuple(Clause(c.occur, self.expand(c.query)) for c in q.clauses),
                q.min_should_match,
            )
        else:
            from .query import Boost, ConstantScore, DisjunctionMax

            if isinstance(q, DisjunctionMax):
                return DisjunctionMax(
                    tuple(self.expand(s) for s in q.queries), q.tie_breaker
                )
            if isinstance(q, Boost):
                return Boost(self.expand(q.query), q.boost)
            if isinstance(q, ConstantScore):
                return ConstantScore(self.expand(q.query), q.score)
            if isinstance(q, FunctionScore):
                from dataclasses import replace as _dc_replace

                return _dc_replace(q, query=self.expand(q.query))
            from .query import Covering as _Covering, FunctionExpr as _FE

            if isinstance(q, _FE):
                from dataclasses import replace as _dc_replace

                return _dc_replace(q, query=self.expand(q.query))
            if isinstance(q, _Covering):
                from dataclasses import replace as _dc_replace

                return _dc_replace(
                    q, queries=tuple(self.expand(s) for s in q.queries)
                )
            from .query import PayloadScore as _PS

            if isinstance(q, _PS):
                from dataclasses import replace as _dc_replace

                return _dc_replace(q, query=self.expand(q.query))
            return q
        if not terms:
            return MatchNone()
        if len(terms) == 1:
            return Term(terms[0], field=q.field)
        return Bool.of(*((Occur.SHOULD, Term(t, field=q.field)) for t in terms))

    def _expand_interval_tree(self, src, field: str):
        """Interval-source rewrite: replace every IPrefix/IWildcard leaf
        with an IOr of ITerms expanded from the live term dictionary
        (MultiTermIntervalsSource.java:41-85 — the reference walks the
        automaton's TermsEnum and THROWS past maxExpansions, default 128
        (Intervals.java:85-107); we raise ValueError at the same cap).
        Combinator interiors are rebuilt with dataclasses.replace."""
        from dataclasses import replace as _dc_replace

        from .query import (IAtLeast, IContainedBy, IContaining, IExtend,
                            IFixField, IMaxGaps, IMaxWidth,
                            INonOverlapping, INotContainedBy,
                            INotContaining, IOffset, IOr, IOrdered,
                            IOverlapping, IPhrase, IPrefix, ITerm,
                            IUnordered, IWildcard)

        w = self._expand_interval_tree
        if isinstance(src, ITerm):
            return src
        if isinstance(src, IFixField):
            # leaves under a fixField expand against ITS field's terms
            return _dc_replace(src, source=w(src.source, src.field))
        if isinstance(src, (IMaxWidth, IMaxGaps, IExtend, IOffset)):
            return _dc_replace(src, source=w(src.source, field))
        if isinstance(src, (IContainedBy, INotContainedBy)):
            return _dc_replace(
                src, small=w(src.small, field), big=w(src.big, field))
        if isinstance(src, IOverlapping):
            return _dc_replace(
                src, source=w(src.source, field),
                reference=w(src.reference, field))
        if isinstance(src, INonOverlapping):
            return _dc_replace(
                src, minuend=w(src.minuend, field),
                subtrahend=w(src.subtrahend, field))
        if isinstance(src, (IPrefix, IWildcard)):
            if isinstance(src, IPrefix):
                mtq, what = Prefix(src.prefix, field=field), f"prefix {src.prefix!r}"
            else:
                mtq = Wildcard(src.pattern, field=field)
                what = f"wildcard {src.pattern!r}"
            terms = self._expand_terms(mtq, cap=None)
            if len(terms) > src.max_expansions:
                raise ValueError(
                    f"interval {what} expanded to too many terms "
                    f"(limit {src.max_expansions})"
                )
            if not terms:
                # impossible leaf — never indexed, yields no intervals
                return ITerm("\x00<no-expansion>")
            if len(terms) == 1:
                return ITerm(terms[0])
            return IOr(tuple(ITerm(t) for t in terms))
        if isinstance(src, (IOrdered, IUnordered, IOr, IAtLeast, IPhrase)):
            return _dc_replace(
                src, sources=tuple(w(s, field) for s in src.sources))
        if isinstance(src, IContaining):
            return _dc_replace(
                src, big=w(src.big, field), small=w(src.small, field))
        if isinstance(src, INotContaining):
            return _dc_replace(
                src, minuend=w(src.minuend, field),
                subtrahend=w(src.subtrahend, field))
        raise TypeError(f"not an interval source: {src!r}")

    def _expand_span_tree(self, q):
        """SpanMultiTermQueryWrapper rewrite
        (spans/SpanMultiTermQueryWrapper.java:153-247 SpanRewriteMethod):
        walk the span algebra, replacing each wrapped MTQ with a SpanOr
        of SpanTerms expanded from the term dictionary (docFreq-ranked,
        1024 cap — the _expand_terms every MTQ uses). An
        empty expansion becomes an impossible leaf (a term containing
        \\x00 can never be indexed), which produces no spans — exactly
        SpanOrQuery-with-zero-clauses semantics through the existing
        machinery (a SpanNot exclude side with it passes everything)."""
        from dataclasses import replace as _dc_replace

        from .query import (
            SpanContaining, SpanFirst, SpanMultiTerm, SpanNear, SpanNot,
            SpanOr, SpanPositionRange, SpanTerm, SpanWithin,
        )

        w = self._expand_span_tree
        if isinstance(q, (str, SpanTerm)):
            return q
        if isinstance(q, SpanMultiTerm):
            field = getattr(q.wrapped, "field", q.field)
            terms = self._expand_terms(q.wrapped)
            if not terms:
                return SpanTerm("\x00<no-expansion>", field=field)
            if len(terms) == 1:
                return SpanTerm(terms[0], field=field)
            return SpanOr(
                tuple(SpanTerm(t, field=field) for t in terms), field=field
            )
        if isinstance(q, SpanOr):
            return SpanOr(tuple(w(c) for c in q.clauses), field=q.field)
        if isinstance(q, SpanNear):
            return SpanNear(
                tuple(w(c) for c in q.terms),
                slop=q.slop, in_order=q.in_order, field=q.field,
            )
        if isinstance(q, SpanNot):
            return SpanNot(w(q.include), w(q.exclude), field=q.field)
        if isinstance(q, SpanFirst):
            return SpanFirst(w(q.match), q.end, field=q.field)
        if isinstance(q, SpanPositionRange):
            return _dc_replace(q, match=w(q.match))
        if isinstance(q, (SpanContaining, SpanWithin)):
            return type(q)(w(q.big), w(q.little), field=q.field)
        return q

    def _rewrite_blended(self, q: Blended) -> Query:
        """BlendedTermQuery.rewrite (search/BlendedTermQuery.java:265-294):
        the blended docFreq is max(df) over the terms (:279), substituted
        into each term's stats via adjustFrequencies (:297-308 — here the
        Term leaf's df_override), and the term queries combine under the
        default DISJUNCTION_MAX_REWRITE, tie_breaker 0.01 (:183).
        Deviation (documented): the reference also blends ttf (sum);
        BM25 never reads ttf, so only df is blended here — non-default
        sims that read ttf see the true per-term value."""
        from .query import Boost, DisjunctionMax

        dfs = self._global_df({(q.field, t) for t in q.terms})
        df_max = max(dfs.values(), default=0)
        boosts = q.boosts or (1.0,) * len(q.terms)
        subs = []
        for t, b in zip(q.terms, boosts):
            leaf: Query = Term(t, field=q.field, df_override=df_max)
            subs.append(leaf if b == 1.0 else Boost(leaf, b))
        if len(subs) == 1:
            return subs[0]
        return DisjunctionMax(tuple(subs), q.tie_breaker)

    def _rewrite_common_terms(self, q) -> Query:
        """CommonTermsQuery.buildQuery (queries/CommonTermsQuery.java:
        148-209): split terms by the global-df cutoff, wrap the low-freq
        group as a MUST clause and the high-freq group as SHOULD; with no
        low-freq terms the high group is promoted to a conjunction
        (:179-187). Uses the searcher's df cache — the collectTermStates
        stats pass, already one aggregation job per novel term set."""
        import math

        dfs = self._global_df({(q.field, t) for t in q.terms})
        max_doc = self.doc_count
        mtf = float(q.max_term_frequency)
        cutoff = mtf if mtf >= 1.0 else math.ceil(mtf * max_doc)
        low, high = [], []
        for t in q.terms:
            (high if dfs[(q.field, t)] > cutoff else low).append(t)
        high_occur, high_msm = q.high_freq_occur, q.high_freq_msm
        if not low and high_msm == 0 and high_occur != Occur.MUST:
            high_occur = Occur.MUST  # conjunction promotion (:179-187)
        clauses = []
        if low:
            clauses.append((
                Occur.MUST,
                Bool.of(*((q.low_freq_occur, Term(t, field=q.field)) for t in low),
                        min_should_match=q.low_freq_msm
                        if q.low_freq_occur == Occur.SHOULD else 0),
            ))
        if high:
            clauses.append((
                Occur.SHOULD,
                Bool.of(*((high_occur, Term(t, field=q.field)) for t in high),
                        min_should_match=high_msm
                        if high_occur == Occur.SHOULD else 0),
            ))
        if not clauses:
            return MatchNone()
        return rewrite(Bool.of(*clauses))

    @staticmethod
    def _kernel_columns(columns: list[str], *plans) -> list[str]:
        """The posting columns the plans' kernels read. The position
        streams are dropped when no plan needs positions — the
        .doc-vs-.pos file distinction (Lucene50PostingsFormat):
        term/bool/WAND queries never read the prox stream, and it is the
        LARGEST posting column, so parquet column pruning cuts the scan
        accordingly."""
        types = set().union(*(K.plan_node_types(p) for p in plans)) if plans else set()
        drop = set()
        if not ({"phrase", "multiphrase", "span", "intervals", "payload"} & types):
            drop |= {"pos_enc", "pos_offsets"}
        if "payload" not in types:
            # the payload stream is read ONLY by payload nodes (.pay
            # column pruning, like .pos for non-positional queries)
            drop.add("pay_enc")
        return [c for c in columns if c not in drop]

    # ---------------- stats + search --------------------------------------

    def _term_stats(self, pairs: set) -> None:
        """Fill the df and ttf caches for (field, term) keys: doc_freq and
        ttf summed over every segment's posting row, read together
        driver-side from the segment files (TermStates.build seeking each
        leaf's term dictionary), no Spark job; once segfiles' reader pool
        holds the files' key columns, no file is opened. Cached for the
        searcher's lifetime: the index is immutable under this manifest,
        so entries never go stale."""
        missing = pairs - self._ttf_cache.keys()
        if missing:
            rows = segfiles.read_postings(
                self.index_dir, self.manifest, missing,
                ["field", "term", "doc_freq", "ttf"],
            )
            for key in missing:
                self._df_cache[key] = self._ttf_cache[key] = 0
            for key, df, ttf in zip(zip(rows["field"], rows["term"]),
                                    rows["doc_freq"].tolist(), rows["ttf"].tolist()):
                self._df_cache[key] += df
                self._ttf_cache[key] += ttf

    def _global_df(self, pairs: set) -> dict:
        """Global docFreq per (field, term) key (the createWeight stats
        barrier)."""
        self._term_stats(pairs)
        return {key: self._df_cache[key] for key in pairs}

    def _global_ttf(self, pairs: set) -> dict:
        """Global totalTermFreq per (field, term) key — the
        TermStatistics.totalTermFreq stat LM similarities consume."""
        self._term_stats(pairs)
        return {key: self._ttf_cache[key] for key in pairs}

    def search(
        self,
        q: Query,
        k: int = 10,
        use_wand: bool = True,
        with_stored: bool = True,
        after: tuple | None = None,
        similarity=None,
    ) -> pd.DataFrame:
        """`after=(score, global_doc_id)` pages past a previous hit
        (searchAfter, IndexSearcher.java:391-420).

        `similarity` swaps the scoring model per query
        (IndexSearcher.setSimilarity): None/"bm25" (default),
        "classic" (TF-IDF), "boolean", ("lmd", mu) or "lmd",
        ("lmjm", lambda) or "lmjm". The same index serves all of them
        (unified SmallFloat norm encoding); strictly-positive sims
        keep block-max WAND pruning (impact UBs scored through the sim),
        zero-clamping sims (lmd/dfi) route exhaustive.

        Routing (IndexSearcher.search's `leafSlices.length <= 1` branch,
        see _score): a query whose cost — its keys' summed global ttf,
        plus doc_count when it holds a MatchAll, a doc-values filter or a
        value source — is at most MAX_DOCS_PER_SLICE is scored on the
        driver from the segment files, so a cold search runs no Spark
        job; for such a query a Spark dispatch costs ~100x the kernel
        work. A bigger query runs the same per-slice step as one Spark
        task per leaf slice; both routes return the same frame.

        Results are LRU-cached per (query, k, use_wand, after, similarity)
        — the filter/query-cache analog (search/LRUQueryCache.java):
        repeated queries against an immutable manifest skip all Spark
        jobs."""
        cache_key = (q, k, use_wand, with_stored, after, similarity)
        hits = self._result_cache.get(cache_key)
        if hits is None:
            hits = self._search_uncached(q, k, use_wand, with_stored, after, similarity)
            self._result_cache.put(cache_key, hits)
        out = hits.copy()
        out.attrs.update(hits.attrs)
        return out

    def _sim_ctx(self, similarity, terms: set) -> dict | None:
        """Normalize the user-facing `similarity` arg into the compile_plan
        sim dict, fetching global ttf stats for LM sims (the
        CollectionStatistics.sumTotalTermFreq / TermStatistics.totalTermFreq
        barrier — read driver-side like _global_df)."""
        if similarity in (None, "bm25"):
            return None
        name, param = similarity, None
        if isinstance(similarity, tuple):
            name, param = similarity
        if name in ("classic", "boolean"):
            return {"name": name}
        if name == "sweetspot":
            # similarity=("sweetspot", (ln_min, ln_max[, steep])) —
            # SweetSpotSimilarity.setLengthNormFactors; defaults degrade
            # to classic 1/sqrt(length)
            sim = {"name": "sweetspot"}
            if param is not None:
                ln = tuple(param)
                sim["ln"] = ln if len(ln) == 3 else (*ln, 0.5)
            return sim
        if name == "multi":
            # MultiSimilarity: similarity=("multi", ("classic", "boolean"))
            subs = [self._sim_ctx(sub, terms) for sub in (param or ())]
            if not subs:
                raise ValueError("multi similarity needs sub-similarities")
            return {"name": "multi", "subs": subs}
        if name in ("f2exp", "axiomatic"):
            sim = {
                "name": "f2exp",
                "field_tokens": {
                    f: int(st["sum_ttf"]) for f, st in self.field_stats.items()
                },
            }
            if param is not None:
                sim["s"] = float(param)
            return sim
        if name in ("dfr", "dfr_inl2", "ib", "ib_ll"):
            sim = {
                "name": "dfr_inl2" if name.startswith("dfr") else "ib_ll",
                "field_tokens": {
                    f: int(st["sum_ttf"]) for f, st in self.field_stats.items()
                },
            }
            if param is not None:
                sim["c"] = float(param)
            return sim
        if name in ("lmd", "lmjm", "dfi"):
            sim = {
                "name": name,
                "ttf": self._global_ttf(terms),
                "field_tokens": {
                    f: int(st["sum_ttf"]) for f, st in self.field_stats.items()
                },
            }
            if param is not None and name != "dfi":
                sim["mu" if name == "lmd" else "lam"] = float(param)
            return sim
        raise ValueError(f"unknown similarity {similarity!r}")

    # ---------------- prepare → score → merge ------------------------------

    def _prepare(self, q: Query, similarity=None) -> _Prepared:
        """_plan_query's result, memoized per (query, similarity) for the
        searcher's lifetime (an unhashable query or similarity is
        prepared uncached). Callers share the memoized plan, so nothing
        may write into it after compile_plan: search_sorted and rescore
        wrap it in new nodes."""
        key = (q, similarity)
        prepared = self._plans.get(key)
        if prepared is None:
            prepared = self._plan_query(q, similarity)
            self._plans.put(key, prepared)
        return prepared

    def _plan_query(self, q: Query, similarity=None) -> _Prepared:
        """analyze → rewrite, then one of two: a top-level multi-term
        query takes MultiTermQuery's default CONSTANT_SCORE_REWRITE —
        every matching term listed under the plan's "keys", score 1.0, no
        clause cap and no per-term stats barrier; anything else is
        expanded against the term dictionary, rewritten and compiled with
        global stats. Fuzzy is not constant-score: FuzzyQuery's default
        rewrite is the top-terms SCORING rewrite with per-term distance
        boosts (FuzzyQuery.java), handled in expand()."""
        q = rewrite(self._analyze_query(q))
        if isinstance(q, self._MTQ_TYPES) and not isinstance(q, Fuzzy):
            keys = {(q.field, t) for t in self._expand_terms(q, cap=None)}
            plan = {"type": "anyterm", "score": np.float32(1.0), "keys": sorted(keys)}
            return _Prepared(plan, keys, set(), set())
        q = rewrite(self.expand(q))
        if isinstance(q, MatchNone):
            return _NOTHING
        keys = query_terms(q)
        plan = K.compile_plan(
            q, self._global_df(keys), self.doc_counts,
            sim=self._sim_ctx(similarity, keys),
        )
        return _Prepared(plan, keys, numeric_ranges(q), value_source_fields(q))

    def _score(self, prepared: dict, k: int, use_wand: bool, after=None,
               source: str = "files", extra: dict | None = None,
               slices: list | None = None) -> dict:
        """Score a batch of prepared queries: the one route decision and
        the one per-slice loop of every entry point. Returns {name:
        [(global docs, scores, total, relation) per slice]} for _merge.

        Routes (IndexSearcher.search's `leafSlices.length <= 1` branch):
        with `source="files"` a batch whose cost — the summed global ttf
        of its keys, plus doc_count when a plan reads every doc (a
        matchall, a doc-values set or a value source) — is within
        MAX_DOCS_PER_SLICE is scored here from the segment files; any
        other batch runs the same per-slice step as one Spark task per
        slice (_score_spark). `source="cache"` (search_local) scores here
        from the persistent per-slice cache, whatever the size. Here each
        slice holding a key (every slice when a plan reads every doc) is
        one _score_slice call, which cuts the batch's global doc sets to
        the slice. `slices` replaces the searcher's (self._slices) on the
        files route. `extra` adds driver-held doc sets ({set_id: sorted
        global docIDs}, rescore's first-pass docs)."""
        parts: dict = {n: [] for n in prepared}
        plans = {n: p.plan for n, p in prepared.items() if p.plan is not None}
        if not plans:
            return parts
        keys = set().union(*(p.keys for p in prepared.values()))
        nrs = set().union(*(p.nrs for p in prepared.values()))
        vsf = set().union(*(p.vsf for p in prepared.values()))
        if nrs or vsf:
            _docvalue_columns(nrs, vsf)  # an unknown field raises here, not in a task
        whole = bool(nrs or vsf) or any(
            "matchall" in K.plan_node_types(p) for p in plans.values())
        slices = self._slices if source == "cache" else slices or self._slices
        extra = extra or {}
        score = dict(plans=plans, caches=self.caches, k=k, use_wand=use_wand,
                     after=after)
        if source == "cache":
            views = self._cached_slices(keys, whole)
        elif (sum(self._global_ttf(keys).values())
              + (self.doc_count if whole else 0)) <= MAX_DOCS_PER_SLICE:
            views = self._file_slices(keys, plans, slices)
        else:
            return self._score_spark(slices, keys, nrs, vsf, extra, score, parts)
        sets = {**self._local_allowed_maps(nrs, vsf), **extra}
        for i in (range(len(slices)) if whole else views):
            sl = slices[i]
            seg = views.get(i) or sl.view(_NO_ROWS)
            for n, r in _score_slice(sl, seg, sets, **score).items():
                parts[n].append(r)
        return parts

    def _leaf_slices(self, max_docs: int) -> list[_Slice]:
        """IndexSearcher.slices: maximal runs of consecutive segments in
        doc_base order, each of at most `max_docs` docs and starting
        where the previous one ends; a larger segment is a slice alone."""
        runs: list[list] = []
        for s in sorted(self.manifest["segments"], key=lambda s: s["doc_base"]):
            prev = runs[-1][-1] if runs else None
            if (prev is not None and prev["doc_count"] <= max_docs
                    and s["doc_count"] <= max_docs
                    and prev["doc_base"] + prev["doc_count"] == s["doc_base"]):
                runs[-1].append(s)
            else:
                runs.append([s])
        out = []
        for run in runs:
            base = run[0]["doc_base"]
            sids = [s["segment_id"] for s in run]
            offsets = np.asarray([s["doc_base"] - base for s in run], dtype=np.int64)
            dels = [self.tombstones[sid] + off for sid, off in zip(sids, offsets)
                    if len(self.tombstones.get(sid, ()))]
            out.append(_Slice(
                sids, offsets, base, sum(s["doc_count"] for s in run),
                np.concatenate(dels) if dels else None,
            ))
        return out

    @cached_property
    def _slices(self) -> list[_Slice]:
        """The searcher's leaf slices: runs of segments of at most
        K.WAND_WINDOW docs, each scored by one kernel call."""
        return self._leaf_slices(K.WAND_WINDOW)

    def _file_slices(self, keys: set, plans: dict, slices: list) -> dict:
        """{slice index: view} over the keys' posting rows read from the
        segment files — the columns the plans' kernels read only."""
        rows = segfiles.read_postings(
            self.index_dir, self.manifest, keys,
            self._kernel_columns(self._postings_columns, *plans.values()),
        )
        where = _slice_index(slices)
        views: dict = {}
        for sid, g in rows.groupby("segment_id", sort=False):
            i = where[sid]
            if i in views:
                views[i].add_rows(g)
            else:
                views[i] = slices[i].view(g)
        return views

    def _cached_slices(self, keys: set, whole: bool) -> dict:
        """{slice index: view} from the persistent local cache: the
        slices holding at least one of the keys, or all of them for a
        plan that reads every doc. A key's posting rows are read from the
        segment files once (segfiles.read_postings, no Spark job) and
        kept, with their decoded arrays, in their slice's view for the
        searcher's lifetime — the hot shard's page-cache analog, safe because the
        index is immutable under this manifest generation."""
        if not hasattr(self, "_local_slices"):
            self._local_slices = {
                i: sl.view(_NO_ROWS) for i, sl in enumerate(self._slices)
            }
            self._local_keys: set = set()
        missing = keys - self._local_keys
        if missing:
            rows = segfiles.read_postings(
                self.index_dir, self.manifest, missing, self._postings_columns
            )
            where = _slice_index(self._slices)
            for sid, g in rows.groupby("segment_id", sort=False):
                self._local_slices[where[sid]].add_rows(g)
            self._local_keys |= missing
        return {
            i: view for i, view in self._local_slices.items()
            if whole or any(kk in view.rows for kk in keys)
        }

    def _score_spark(self, slices: list, keys: set, nrs: set, vsf: set,
                     extra: dict, score: dict, parts: dict) -> dict:
        """The Spark route of _score: one job of one mapInPandas task per
        leaf slice (spark.range(n, numPartitions=n) — no scan, no
        shuffle), each running the driver's per-slice step over its own
        segment files (_slice_task) and cutting the driver-held `extra`
        sets itself; executors must see the index directory, as the
        merge's tasks do."""
        task = partial(
            _slice_task, index_dir=self.index_dir, manifest=self.manifest,
            slices=slices, keys=keys, nrs=nrs, vsf=vsf, extra=extra,
            columns=self._kernel_columns(self._postings_columns,
                                         *score["plans"].values()),
            **score,
        )
        n = len(slices)
        rows = (self.spark.range(n, numPartitions=n)
                .mapInPandas(task, schema=_PART_SCHEMA).toPandas())
        for r in rows.itertuples(index=False):
            parts[r.query].append((
                np.asarray(r.global_doc_id, np.int64),
                np.asarray(r.score, np.float32), int(r.total), r.relation,
            ))
        return parts

    @cached_property
    def _leaves(self) -> tuple[np.ndarray, np.ndarray]:
        """(doc_bases, segment_ids) of the segments holding docs, in
        doc_base order: an empty segment shares its doc_base with the
        next one and owns no docID."""
        segs = sorted((s for s in self.manifest["segments"] if s["doc_count"]),
                      key=lambda s: s["doc_base"])
        return (np.asarray([s["doc_base"] for s in segs], np.int64),
                np.asarray([s["segment_id"] for s in segs], object))

    def _locate(self, gids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(segment_ids, local docIDs) of global docIDs: ReaderUtil.subIndex
        by one searchsorted over the doc_bases, the only way back from a
        global docID to its segment."""
        bases, sids = self._leaves
        i = np.searchsorted(bases, gids, side="right") - 1
        return sids[i], gids - bases[i]

    def _merge(self, parts: list, k: int | None) -> pd.DataFrame:
        """TopDocs.merge (TopDocs.java:203-265), the one top-k merge: the
        slices' global hits ranked score desc, then global docID asc, cut
        to k (None keeps all), and only those mapped to (segment_id,
        local docID); total_hits sums the slices' totals and the relation
        is EQUAL_TO only if every slice's is. NumPy only — it runs on
        every driver-local query."""
        total = sum(p[2] for p in parts)
        equal = all(p[3] == "EQUAL_TO" for p in parts)
        gids = np.concatenate([p[0] for p in parts] + [np.empty(0, np.int64)])
        scores = np.concatenate([p[1] for p in parts] + [np.empty(0, np.float32)])
        order = np.lexsort((gids, -scores.astype(np.float64)))[:k]
        gids = gids[order]
        sids, docs = self._locate(gids)
        # every column is a fresh fancy-indexed array, so the frame can
        # take it without a copy and still never alias a decode cache
        out = pd.DataFrame({
            "rank": np.arange(len(order)),
            "segment_id": sids,
            "doc_id": docs,
            "score": scores[order],
            "global_doc_id": gids,
        }, copy=False)
        out.attrs["total_hits"] = total
        out.attrs["relation"] = "EQUAL_TO" if equal else "GREATER_THAN_OR_EQUAL_TO"
        return out

    def _with_stored(self, hits: pd.DataFrame) -> pd.DataFrame:
        """`hits` joined with their stored fields, attrs kept."""
        if not len(hits):
            return hits
        out = hits.merge(self._fetch_stored(hits), on=["segment_id", "doc_id"], how="left")
        out.attrs.update(hits.attrs)
        return out

    def _search_uncached(self, q: Query, k: int, use_wand: bool, with_stored: bool,
                         after: tuple | None, similarity=None,
                         source: str = "files") -> pd.DataFrame:
        prepared = self._prepare(q, similarity)
        parts = self._score({"q": prepared}, k, use_wand, after, source)
        hits = self._merge(parts["q"], k)
        return self._with_stored(hits) if with_stored else hits

    def search_sorted(self, q: Query, k: int = 10) -> pd.DataFrame:
        """Early-terminating field-sorted top-k over a SORT-BUILT index
        (IndexWriterConfig.setIndexSort + TopFieldCollector's
        canEarlyTerminate path, search/TopFieldCollector.java:52-74):
        because docID order inside every segment IS the sort order, each
        segment emits only its FIRST k matches in docID order — no
        scoring, no full-match-set ranking — and the driver merges the
        per-segment candidates by (sort value, global docID). TotalHits
        relation is GREATER_THAN_OR_EQUAL_TO, exactly like the
        reference's early-terminated collector.

        Scoring is skipped by wrapping the match plan in a constant-score
        node: with all scores equal, the kernel's (score desc, docID asc)
        top-k degenerates to first-k-by-docID — the early-termination
        cut expressed in the existing kernel contract."""
        srt = self.manifest.get("index_sort")
        if not srt:
            raise ValueError(
                "search_sorted needs an index built with index_sort="
                f"'n_chars' (manifest has none: {self.index_dir})"
            )
        prepared = self._prepare(q)
        if prepared.plan is not None:
            prepared = prepared._replace(plan={
                "type": "const", "node": prepared.plan, "score": np.float32(1.0),
            })
        # early termination is per segment (TopFieldCollector's per-leaf
        # cut): a segment's first k docIDs are its k best, a slice's are not
        parts = self._score({"q": prepared}, k, use_wand=False,
                            slices=self._leaf_slices(-1))
        hits = self._merge(parts["q"], None)
        if not len(hits):
            out = pd.DataFrame(
                columns=["rank", "global_doc_id", "segment_id", "doc_id",
                         srt["field"]]
            )
            out.attrs["total_hits"] = 0
            out.attrs["relation"] = "EQUAL_TO"
            return out
        # stored fields ride along (the sort value itself is one of them)
        out = self._with_stored(hits).sort_values(
            [srt["field"], "global_doc_id"],
            ascending=[not srt.get("desc"), True], kind="mergesort",
        ).head(k).reset_index(drop=True)
        out = out.drop(columns=["rank", "score"])
        out.insert(0, "rank", np.arange(len(out)))
        out.attrs["total_hits"] = hits.attrs["total_hits"]
        out.attrs["relation"] = "GREATER_THAN_OR_EQUAL_TO"
        return out

    def search_many(
        self,
        queries: dict[str, Query],
        k: int = 10,
        use_wand: bool = True,
    ) -> pd.DataFrame:
        """Batch search: every query is prepared as in search() and the
        batch is scored as ONE — one route decision, and on the Spark
        route one job.

        The reference's benchmark harness issues thousands of sequential
        searches (micro-standard.alg); per-job dispatch would dominate on
        Spark, so the batch ships every compiled plan to the segment
        kernels together — posting rows for the union of query keys are
        read once and per-term decodes are shared across queries via the
        SegmentData cache. Returns a frame with a `query` column whose
        rows per query equal search(with_stored=False); attrs
        `total_hits` and `relation` map each query name to its value.
        """
        prepared = {name: self._prepare(q) for name, q in queries.items()}
        parts = self._score(prepared, k, use_wand)
        frames = {name: self._merge(parts[name], k) for name in prepared}
        for name, hits in frames.items():
            hits.insert(0, "query", name)
        if frames:
            out = pd.concat(frames.values(), ignore_index=True)
        else:
            out = self._merge([], k)
            out.insert(0, "query", pd.Series(dtype=object))
        out.attrs["total_hits"] = {n: h.attrs["total_hits"] for n, h in frames.items()}
        out.attrs["relation"] = {n: h.attrs["relation"] for n, h in frames.items()}
        return out

    def rescore(
        self,
        first_q: Query,
        rescore_q: Query,
        weight: float = 1.0,
        first_k: int = 100,
        k: int = 10,
        with_stored: bool = True,
        use_wand: bool = True,
    ) -> pd.DataFrame:
        """Two-pass query rescoring (QueryRescorer.java:51-139 rescore
        loop; :168-180 the linear-combination sugar): first-pass top-N
        by `first_q`, then `rescore_q` scored ONLY on those N docs;
        combined = float32(first + weight * second) when the second pass
        matches, else the first-pass score unchanged; re-ranked by
        (score desc, global docID asc) and truncated to k.

        The second pass is an ordinary _score of
        Bool(MUST=rescore_q, FILTER=docidset) whose doc set (set_id
        "rescore:first") is the first-pass hits, added to the doc-values
        sets — so each segment scores rescore_q against at most
        first_k candidate docs, on whichever route the batch takes.
        FILTER makes WAND inapplicable by invariant, so the second pass
        routes exhaustive (which is exactly Lucene's ScoreMode.COMPLETE
        advance-and-score loop)."""
        hits = self.search(
            first_q, k=first_k, use_wand=use_wand, with_stored=False
        )
        if not len(hits):
            return hits
        prepared = self._prepare(rescore_q)
        if prepared.plan is not None:
            prepared = prepared._replace(plan={
                "type": "bool",
                "msm": 0,
                "clauses": [
                    {"occur": "MUST", "node": prepared.plan},
                    {"occur": "FILTER", "node": {
                        "type": "docidset", "set_id": "rescore:first",
                        "score": np.float32(1.0),
                    }},
                ],
            })
        first = {"rescore:first": np.sort(hits["global_doc_id"].to_numpy(np.int64))}
        second = self._score(
            {"q": prepared}, first_k, use_wand=False, extra=first
        )
        merged = hits.merge(
            self._merge(second["q"], None)[["global_doc_id", "score"]]
            .rename(columns={"score": "score2"}),
            on="global_doc_id",
            how="left",
        )
        first32 = merged["score"].to_numpy(np.float32)
        score2 = merged["score2"].to_numpy(np.float64)  # NaN = no match
        matched = ~np.isnan(score2)
        combined = first32.copy()
        # Java compound assignment `score += weight * secondPassScore`:
        # double arithmetic, ONE float32 cast of the result
        # (QueryRescorer.java:173-176)
        combined[matched] = np.float32(
            first32[matched].astype(np.float64) + float(weight) * score2[matched]
        )
        out = self._merge(
            [(merged["global_doc_id"].to_numpy(np.int64), combined, 0, "EQUAL_TO")], k)
        out.attrs.update(hits.attrs)
        return self._with_stored(out) if with_stored else out

    def search_local(
        self,
        q: Query,
        k: int = 10,
        use_wand: bool = True,
        with_stored: bool = False,
        after: tuple | None = None,
        similarity=None,
    ) -> pd.DataFrame:
        """Driver-LOCAL evaluation: the same prepare → score → merge as
        search(), with the driver route fed from posting rows read once
        per (field, term) from the segment files and kept — repeated
        queries over a hot term set execute with ZERO Spark jobs at NumPy
        speed (ms-level), matching a resident single-node Lucene process.
        Results are IDENTICAL to search() for every query shape,
        multi-term queries included (same prepare, kernels, merge and
        tie-breaks — pinned by tests/test_local_mode.py and
        tests/test_driver_route.py).

        This is the single-node-throughput parity mode for SMALL/HOT
        indexes (the postings working set must fit driver memory); the
        distributed search() path remains the 100 TB shape. Mirrors how
        a Lucene shard serves from page cache once warm."""
        return self._search_uncached(
            q, k, use_wand, with_stored, after, similarity, source="cache"
        )

    def _local_allowed_maps(self, nrs: set, vsf: set) -> dict:
        """The doc-values sets of a batch (NumericRange sets + FunctionScore
        values) in _doc_values' global form, {set_id: sorted global
        docIDs | (docs, values)}: each distinct set_id is read once from
        the docmap files and kept for the searcher's lifetime."""
        need_nrs = {nr for nr in nrs if K.numeric_set_id(nr) not in self._dv_sets}
        need_vsf = {f for f in vsf if f"values:{f}" not in self._dv_sets}
        if need_nrs or need_vsf:
            # published whole: a concurrent search never sees a set half-filled
            self._dv_sets.update(
                _doc_values(self.index_dir, self.manifest, need_nrs, need_vsf))
        ids = [K.numeric_set_id(nr) for nr in nrs] + [f"values:{f}" for f in vsf]
        return {set_id: self._dv_sets[set_id] for set_id in ids}

    def highlight_passages(
        self, hits: pd.DataFrame, q: Query, window: int = 10
    ) -> pd.DataFrame:
        """Token-positional passage per hit (UnifiedHighlighter shape,
        lucene/highlighter): the `window`-token passage starting at a
        query-term match covering the MOST query-term occurrences (tie:
        earliest). Reads the STORED content column returned by
        search(with_stored=True) — no extra Spark job, no corpus table."""
        import bisect

        from ..kernels.analyzer import tokenize_one

        q = rewrite(self.expand(rewrite(q)))
        terms = {t for f, t in query_terms(q) if f == "content"}
        rows = []
        for r in hits.itertuples(index=False):
            toks, _ = tokenize_one(getattr(r, "content", "") or "")
            matches = [p for p, t in enumerate(toks) if t in terms]
            if not matches:
                rows.append((r.segment_id, r.doc_id, -1, 0, ""))
                continue
            best_p, best_n = matches[0], 0
            for p in matches:
                n = bisect.bisect_left(matches, p + window) - bisect.bisect_left(
                    matches, p
                )
                if n > best_n:
                    best_p, best_n = p, n
            rows.append(
                (
                    r.segment_id, r.doc_id, best_p, best_n,
                    " ".join(toks[best_p:best_p + window]),
                )
            )
        return pd.DataFrame(
            rows,
            columns=["segment_id", "doc_id", "start_pos", "n_matches", "passage"],
        )

    def more_like_this(
        self,
        text: str,
        k: int = 10,
        max_query_terms: int = 25,
        min_doc_freq: int = 2,
    ) -> pd.DataFrame:
        """MoreLikeThis (lucene/queries/.../mlt/MoreLikeThis.java): analyze
        the input, keep its `max_query_terms` highest tf·idf terms (terms
        rarer than `min_doc_freq` dropped, MLT's noise guard), search them
        as a boosted OR. Returns the usual hits frame."""
        from ..kernels.analyzer import tokenize_one
        from ..kernels import bm25
        from .query import Boost, Clause

        terms, _ = tokenize_one(text)
        if not terms:
            return self.search(MatchNone(), k=k)
        tf: dict[str, int] = {}
        for t in terms:
            tf[t] = tf.get(t, 0) + 1
        gdf = self._global_df({("content", t) for t in tf})
        scored = [
            (tf[t] * float(bm25.idf(gdf[("content", t)], max(self.doc_count, 1))), t)
            for t in tf
            if gdf.get(("content", t), 0) >= min_doc_freq
        ]
        scored.sort(key=lambda x: (-x[0], x[1]))
        top = scored[:max_query_terms]
        if not top:
            return self.search(MatchNone(), k=k)
        # per-term boost = its tf in the source doc (MLT boost heuristic)
        q = Bool(
            tuple(
                Clause(Occur.SHOULD, Boost(Term(t), float(tf[t])))
                for _, t in top
            )
        )
        return self.search(q, k=k)

    def highlight_offsets(
        self, q: Query, k: int = 10, width: int = 30
    ) -> pd.DataFrame:
        """Offsets-based highlighting: snippets cut via the INDEXED token
        character spans (off_starts/off_ends docmap columns written by
        `build_index(store_offsets=True)`) — NO re-tokenization of stored
        content. This is the reference's postings-offsets highlighting
        (IndexOptions ..._AND_OFFSETS, the .pay stream) expressed as a
        per-doc span array in the docmap: postings positions index
        straight into it. Snippet convention matches the substring
        highlighter (window of 2*width from max(start+1-width, 1))."""
        if not self.manifest.get("offsets"):
            raise ValueError(
                "index was built without store_offsets=True — offsets "
                "highlighting needs the offsets IndexOption"
            )
        hits = self.search(q, k=k, with_stored=False)
        if not len(hits):
            return hits.assign(match_start=pd.Series(dtype="int64"),
                               snippet=pd.Series(dtype="object"))
        aq = rewrite(self.expand(rewrite(self._analyze_query(q))))
        terms = sorted(query_terms(aq))
        post = segfiles.read_postings(
            self.index_dir, self.manifest, set(terms), self._postings_columns
        )
        seg_data = {
            sid: K.SegmentData(g, self.seg_doc_count.get(sid, 0))
            for sid, g in post.groupby("segment_id")
        }
        stored = segfiles.read_docmap(
            self.index_dir, self.manifest, hits[["segment_id", "doc_id"]],
            ["segment_id", "doc_id", "path", "content", "off_starts", "off_ends"],
        ).set_index(["segment_id", "doc_id"])
        # FastVectorHighlighter-grade positional highlighting
        # (highlighter/.../vectorhighlight/FastVectorHighlighter.java:277
        # posture): for phrase/span queries the highlighted region is the
        # FIRST ACTUAL MATCH SPAN — positions identify the matching
        # occurrence, indexed offsets give its character extent — never
        # just the first occurrence of any leaf term. Exact phrases map
        # onto the ordered slop-0 span stream (identical match spans);
        # sloppy phrases keep the leaf fallback (documented).
        from .query import SPAN_TYPES as _ST
        from .query import Phrase as _Ph
        from .query import SpanNear as _SN

        span_dict = None
        if isinstance(aq, _Ph) and aq.slop == 0 and len(aq.terms) > 1:
            span_dict = K._span_tree(
                _SN(aq.terms, slop=0, in_order=True, field=aq.field), aq.field
            )
        elif isinstance(aq, _ST):
            span_dict = K._span_tree(aq, getattr(aq, "field", "content"))
        starts_out, snips = [], []
        for r in hits.itertuples(index=False):
            seg = seg_data.get(r.segment_id)
            row = stored.loc[(r.segment_id, r.doc_id)]
            if span_dict is not None:
                spans = (
                    K._doc_spans(span_dict, seg, int(r.doc_id))
                    if seg is not None else []
                )
                if not spans:
                    starts_out.append(-1)
                    snips.append("")
                    continue
                s_pos, e_pos = spans[0]
                off_s = np.frombuffer(row["off_starts"], dtype=np.int32)
                off_e = np.frombuffer(row["off_ends"], dtype=np.int32)
                start = int(off_s[s_pos])
                end_c = int(off_e[e_pos - 1])
                s0 = max(start + 1 - width, 1) - 1
                starts_out.append(start)
                snips.append(row["content"][s0:end_c + width])
                continue
            first_pos = None
            if seg is not None:
                for key in terms:
                    p = seg.positions(key)
                    if p is None:
                        continue
                    docs_i, freqs_i, starts_i, pos_i = p
                    j = int(np.searchsorted(docs_i, r.doc_id))
                    if j < len(docs_i) and docs_i[j] == r.doc_id and freqs_i[j]:
                        cand = int(pos_i[int(starts_i[j])])
                        if first_pos is None or cand < first_pos:
                            first_pos = cand
            if first_pos is None:
                starts_out.append(-1)
                snips.append("")
                continue
            offs = np.frombuffer(row["off_starts"], dtype=np.int32)
            start = int(offs[first_pos])
            s0 = max(start + 1 - width, 1) - 1  # 1-indexed window convention
            snips.append(row["content"][s0:s0 + 2 * width])
            starts_out.append(start)
        out = hits.copy()
        out["path"] = [
            stored.loc[(r.segment_id, r.doc_id)]["path"]
            for r in hits.itertuples(index=False)
        ]
        out["match_start"] = np.asarray(starts_out, dtype=np.int64)
        out["snippet"] = snips
        return out

    # ---------------- explain (Explanation parity) ------------------------

    def explain(self, q: Query, global_doc_id: int, similarity=None) -> dict:
        """Score breakdown for one hit — Lucene's IndexSearcher.explain /
        Explanation tree (BM25Similarity.explain, BM25Similarity.java:
        222-226 formula terms). The reference's similarity property tests
        assert explanation value == scorer score; tests do the same here.
        `similarity` swaps the scoring model exactly as in search(): the
        plan is search()'s (_prepare), evaluated over the view of the
        leaf slice holding the doc (_file_slices) under the same cut
        doc-values sets."""
        prepared = self._prepare(q, similarity)
        if prepared.plan is None:
            return {"value": 0.0, "description": "MatchNone", "details": []}
        i, sl = next(((i, sl) for i, sl in enumerate(self._slices)
                      if sl.base <= global_doc_id < sl.base + sl.n_docs), (None, None))
        if sl is None:
            raise ValueError(f"global_doc_id {global_doc_id} is not in the index")
        seg =(self._file_slices(prepared.keys, {"q": prepared.plan}, self._slices).get(i)
               or sl.view(_NO_ROWS))
        seg = seg.with_allowed(sl.allowed(self._local_allowed_maps(prepared.nrs, prepared.vsf)))
        local = int(self._locate(np.asarray([global_doc_id]))[1][0])
        return self._explain_node(prepared.plan, seg, global_doc_id - sl.base, local)

    def _explain_node(self, node: dict, seg, doc: int, local: int) -> dict:
        """The Explanation of `node` at `doc` of the slice view `seg`;
        descriptions name the segment-local docID `local`."""
        from ..kernels.smallfloat import byte4_to_int

        docs, scores = K.eval_node(node, seg, self.caches)
        i = np.searchsorted(docs, doc)
        matched = i < len(docs) and docs[i] == doc
        value = float(np.float32(scores[i])) if matched else 0.0
        t = node["type"]
        if t == "term":
            if not matched:
                return {"value": 0.0, "description": f"no match on term {node['term']!r}", "details": []}
            fld = node.get("field", "content")
            d, f, n = seg.postings((fld, node["term"]))
            j = np.searchsorted(d, doc)
            freq = int(f[j])
            dl = int(byte4_to_int(np.asarray([int(n[j])]))[0])
            sim_name = node.get("sim", {}).get("name") if "sim" in node else None
            model = sim_name or "BM25, k1=1.2, b=0.75"
            return {
                "value": value,
                "description": f"weight({fld}:{node['term']} in {local}) [{model}]",
                "details": [
                    {"value": float(node["weight"]), "description": "boost * idf", "details": []},
                    {"value": freq, "description": "freq", "details": []},
                    {"value": dl, "description": "dl (norm-quantized field length)", "details": []},
                    {"value": float(self.avgdl), "description": "avgdl", "details": []},
                ],
            }
        details = []
        if t == "bool":
            for cl in node["clauses"]:
                sub = self._explain_node(cl["node"], seg, doc, local)
                sub["description"] = f"{cl['occur']}: " + sub["description"]
                details.append(sub)
        elif t in ("dismax",):
            details = [self._explain_node(s, seg, doc, local) for s in node["nodes"]]
        elif t == "const":
            details = [self._explain_node(node["node"], seg, doc, local)]
        return {
            "value": value,
            "description": {"bool": "sum of", "dismax": "max plus tie-broken sum of",
                            "const": "constant score", "synonym": "synonym(freq-summed)",
                            "phrase": "phrase", "matchall": "*:*", "anyterm": "multi-term"}.get(t, t),
            "details": details,
        }

    def index_field_stats(self) -> pd.DataFrame:
        """Index introspection (Solr LukeRequestHandler / Lucene
        FieldInfos + Terms.getSumDocFreq surface): per field, the number
        of distinct terms and the summed docFreq of the term dictionary,
        read on the driver from the segment files (no Spark job) — the
        per-field term dictionary sizes a CheckIndex-style invariant can
        compare against corpus truth."""
        return pd.DataFrame(
            [(f, len(t), int(df.sum())) for f, (t, df) in sorted(self._dictionary.items())],
            columns=["field", "n_terms", "sum_df"],
        ).astype({"n_terms": np.int64, "sum_df": np.int64})

    def get_documents(self, paths: tuple) -> pd.DataFrame:
        """Real-time get (solr/core/src/java/org/apache/solr/handler/
        component/RealTimeGetComponent.java use case): fetch stored fields
        by unique key with NO search — a driver-side read of each docmap's
        `path` column, tombstones masked so a replaced doc returns only
        its LIVE version. Rows come back in path order."""
        out = segfiles.read_docmap_by_path(
            self.index_dir, self.manifest, paths, _STORED_COLUMNS
        )
        live = [
            did not in self.tombstones.get(sid, ())
            for sid, did in zip(out["segment_id"], out["doc_id"])
        ]
        out = out[np.asarray(live, dtype=bool)]
        return out.sort_values(["path", "segment_id"]).reset_index(drop=True)

    def _fetch_stored(self, hits: pd.DataFrame) -> pd.DataFrame:
        """Stored-fields retrieval (StoredFieldsReader analog): the hits'
        docmap rows read driver-side from their segments' files — no
        Spark job (SURVEY.md §2.1)."""
        return segfiles.read_docmap(
            self.index_dir, self.manifest, hits[["segment_id", "doc_id"]],
            _STORED_COLUMNS,
        )
