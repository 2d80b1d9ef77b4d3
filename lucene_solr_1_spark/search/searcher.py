"""Distributed IndexSearcher (SURVEY.md §3.2 Spark shape).

search flow:
 1. rewrite the query tree; expand multi-term queries against the term
    dictionary (a Catalyst filter over the postings table — predicate
    pushdown replaces the FST seek; TopTermsRewrite cap 1024).
 2. global-stats barrier: per-term docFreq summed across segments, read
    on the driver from the segment files' field/term/doc_freq columns
    (no Spark job; index/segfiles.py), docCount/sumTTF from the manifest
    — then bake float32 weights into a picklable plan (createWeight
    analog).
 3. per-segment scoring: ONLY the pruned posting rows of the query terms
    reach the kernels (norm bytes ride inside each row — no norms-table
    join or shuffle); applyInPandas runs the DAAT kernel → per-segment
    top-k (IndexSearcher leaf slices on executors).
 4. driver k-way merge with the reference tie-break: score desc, then
    global docID asc (TopDocs.merge, TopDocs.java:203-265); the top-k
    stored fields are read on the driver from their segments' docmaps.

TOTAL_HITS_THRESHOLD = 1000 (IndexSearcher.java:101): once a segment kernel
has ≥1000 hits it may prune, reporting relation GREATER_THAN_OR_EQUAL_TO.
"""

from __future__ import annotations

import re
from functools import cached_property, partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..index import manifest as mf
from ..index import segfiles
from ..index.builder import norms_paths, postings_paths
from ..kernels import bm25
from ..kernels.osa import osa_udf
from . import kernel as K
from .query import (
    Blended, Bool, Clause, FunctionScore, Fuzzy, MatchNone, NUMERIC_DOCVALUES,
    NumericSet, Occur,
    Prefix, Query, Regexp, Synonym, Term, TermRange, Wildcard,
    numeric_ranges, query_terms, rewrite, value_source_fields,
    MAX_CLAUSE_COUNT,
)

TOTAL_HITS_THRESHOLD = 1000

_STORED_COLUMNS = [
    "segment_id", "doc_id", "repo", "path", "commit", "lang", "dl",
    "n_chars", "content",
]

_HIT_SCHEMA = (
    "segment_id string, doc_id bigint, score float, total bigint, relation string"
)


def _allowed_from_pdf(allowed_pdf):
    """Cogrouped norms rows → {set_id: sorted unique local docIDs} for
    NumericRange filter sets, plus {"values:<field>": (sorted docs,
    aligned float64 values)} for FunctionScore value sources."""
    if allowed_pdf is None or not len(allowed_pdf):
        return None
    out = {}
    for set_id, g in allowed_pdf.groupby("set_id"):
        docs = g["doc_id"].to_numpy(np.int64)
        if str(set_id).startswith("values:"):
            udocs, idx = np.unique(docs, return_index=True)
            out[set_id] = (udocs, g["val"].to_numpy(np.float64)[idx])
        else:
            out[set_id] = np.sort(np.unique(docs))
    return out


def _kernel_udf(key, postings_pdf, plan, cache, k, use_wand,
                after=None, doc_bases=None, tombstones=None, doc_counts=None,
                allowed_pdf=None):
    segment_id = key[0]
    n_docs = (doc_counts or {}).get(segment_id, 0)
    seg = K.SegmentData(postings_pdf, n_docs, allowed=_allowed_from_pdf(allowed_pdf))
    base = (doc_bases or {}).get(segment_id, 0)
    deleted = (tombstones or {}).get(segment_id)
    if use_wand and K.wand_applicable(plan):
        docs, scores, total, relation = K.score_wand(
            plan, seg, cache, k, after=after, doc_base=base, deleted=deleted
        )
    else:
        docs, scores, total, relation = K.score_exhaustive(
            plan, seg, cache, k, after=after, doc_base=base, deleted=deleted
        )
    return pd.DataFrame(
        {
            "segment_id": segment_id,
            "doc_id": docs,
            "score": scores.astype(np.float32),
            "total": np.int64(total),
            "relation": relation,
        }
    )


def _kernel_many_udf(key, postings_pdf, plans, cache, k, use_wand,
                     tombstones=None, doc_counts=None, allowed_pdf=None):
    """Batch kernel: one SegmentData (shared decode cache) scores every
    compiled plan; output rows carry the query name."""
    segment_id = key[0]
    seg = K.SegmentData(
        postings_pdf, (doc_counts or {}).get(segment_id, 0),
        allowed=_allowed_from_pdf(allowed_pdf),
    )
    deleted = (tombstones or {}).get(segment_id)
    frames = []
    for name, plan in plans.items():
        if use_wand and K.wand_applicable(plan):
            docs, scores, total, relation = K.score_wand(
                plan, seg, cache, k, deleted=deleted
            )
        else:
            docs, scores, total, relation = K.score_exhaustive(
                plan, seg, cache, k, deleted=deleted
            )
        frames.append(
            pd.DataFrame(
                {
                    "query": name,
                    "segment_id": segment_id,
                    "doc_id": docs,
                    "score": scores.astype(np.float32),
                    "total": np.int64(total),
                    "relation": relation,
                }
            )
        )
    return pd.concat(frames, ignore_index=True)


class LuceneSparkSearcher:
    def __init__(self, spark: SparkSession, index_dir: str,
                 cache_postings: bool = False):
        """`cache_postings=True` pins the postings DataFrame in executor
        storage memory (the hot-searcher / OS-page-cache posture a
        resident Lucene process gets for free): repeated queries skip the
        parquet scan, cutting the latency tail ~2x. Memory is bounded by
        index size — opt in per hot index, don't default it at 100 TB."""
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
        from ..index.deletes import read_tombstones

        # tombstoned local docIDs per segment (live-docs analog) — tiny,
        # shipped to the scoring kernels alongside the query plan
        self.tombstones = read_tombstones(index_dir, self.manifest)
        self._postings = spark.read.parquet(*postings_paths(index_dir, self.manifest))
        if "field" not in self._postings.columns:
            raise ValueError(
                f"{index_dir} was built before multi-field support "
                "(postings lack the 'field' column) — rebuild the index"
            )
        if cache_postings:
            self._postings = self._postings.cache()
        self._sentinels = None
        # whole-result LRU keyed by (query, k, wand, after) — the
        # LRUQueryCache analog at query granularity: the index is
        # IMMUTABLE under this manifest generation, so entries never go
        # stale; a reopened searcher (new generation) starts empty.
        self._result_cache: dict = {}
        self.result_cache_size = 128
        import threading

        self._cache_lock = threading.Lock()
        # the analyzer the index was BUILT with (manifest-persisted name):
        # query terms are re-analyzed with the same chain so a stemmed
        # index stems query terms too (QueryParser-with-analyzer parity).
        from ..kernels.analyzer import ANALYZERS, STANDARD

        self.analyzer_cfg = ANALYZERS.get(
            self.manifest.get("analyzer", "standard"), STANDARD
        )

    @cached_property
    def _norms(self) -> DataFrame:
        """The docmap/doc-values table as a Spark scan, opened on first use
        (doc-values filters, MatchAll, offsets highlighting): stored-field
        and real-time-get reads go through index/segfiles.py instead, so
        a plain search never pays the scan's schema-inference job."""
        return self.spark.read.parquet(*norms_paths(self.index_dir, self.manifest))

    def _analyze_query(self, q: Query) -> Query:
        cfg = self.analyzer_cfg
        if not (cfg.stem or cfg.possessive or cfg.ascii_fold
                or cfg.word_delimiter or cfg.phonetic
                or cfg.stem_keep_original or getattr(cfg, "german", False)
                or getattr(cfg, "french", False)
                or getattr(cfg, "light_lang", "")
                or getattr(cfg, "synonyms", ())
                or getattr(cfg, "common_grams", frozenset())
                or getattr(cfg, "compound_dict", frozenset())
                or getattr(cfg, "hyphen_spec", None) is not None
                or getattr(cfg, "char_filters", ())
                or getattr(cfg, "token_pattern", "")
                or getattr(cfg, "cjk_bigram", 0)
                or getattr(cfg, "turkish_case", False)):
            # standard/english indexes: today's raw-term behavior, exactly
            return q
        from ..index.segment import KEYWORD_FIELDS
        from .query import analyze_query_terms

        return analyze_query_terms(q, cfg, frozenset(KEYWORD_FIELDS))

    def _sentinel_rows(self):
        """One zero-posting row per live segment, unioned into the kernel
        input whenever the compiled plan can match docs WITHOUT postings
        (MatchAll inside a Bool): groupBy(segment_id) otherwise dispatches
        kernels only for segments holding the query's terms, silently
        dropping every all-match doc in term-free segments."""
        if self._sentinels is None:
            from ..index.schemas import POSTINGS_DDL

            rows = [
                (sid, "\x00", K.SENTINEL_TERM, 0, 0,
                 bytearray(), [], bytearray(), [], bytearray(), [],
                 bytearray(), [], [], [], bytearray())
                for sid in self.doc_base
            ]
            self._sentinels = self.spark.createDataFrame(
                rows, schema="segment_id string, " + POSTINGS_DDL
            )
        return self._sentinels

    def _union_sentinels(self, post: DataFrame) -> DataFrame:
        """Union sentinel rows, projected to the postings scan's actual
        columns (pre-payload indexes lack pay_enc)."""
        return post.unionByName(self._sentinel_rows().select(post.columns))

    # ---------------- multi-term expansion (§2.5 PrefixQuery etc.) --------

    def _terms_filter(self, pairs):
        """Column predicate selecting the posting rows of a set of
        (field, term) keys — one isin per field, OR-combined; Catalyst
        pushes both columns to the parquet scan."""
        by_field: dict[str, list] = {}
        for f, t in pairs:
            by_field.setdefault(f, []).append(t)
        cond = None
        for f in sorted(by_field):
            c = (F.col("field") == f) & F.col("term").isin(by_field[f])
            cond = c if cond is None else cond | c
        return cond if cond is not None else F.lit(False)

    def _expand_terms(self, cond, cap: int = MAX_CLAUSE_COUNT) -> list[str]:
        t = self._postings.groupBy("field", "term").agg(
            F.sum("doc_freq").alias("df")
        )
        rows = t.where(cond).orderBy(F.desc("df"), F.asc("term")).limit(cap).collect()
        return [r["term"] for r in rows]

    def _mtq_cond(self, q: Query):
        """Column predicate over the term dictionary for a multi-term query
        — Catalyst pushes it to the postings parquet scan (the FST-seek
        analog; .explain shows PushedFilters). Scoped to the query's field."""
        col = F.col("term")
        in_field = F.col("field") == q.field
        if isinstance(q, Prefix):
            return in_field & col.startswith(q.prefix)
        if isinstance(q, Wildcard):
            rx = "^" + re.escape(q.pattern).replace(r"\*", ".*").replace(r"\?", ".") + "$"
            return in_field & col.rlike(rx)
        if isinstance(q, Regexp):
            return in_field & col.rlike("^" + q.pattern + "$")
        if isinstance(q, Fuzzy):
            # Transpositions count ONE edit (FuzzyQuery.java:58
            # defaultTranspositions=true): exact OSA distance via an
            # Arrow-batched UDF behind Catalyst-pushable prefilters —
            # the length window, the non-fuzzy prefix startswith, and
            # levenshtein <= 2*max_edits (sound: osa <= e implies
            # levenshtein <= 2e) reach the scan, the Python stage sees
            # only the survivors.
            pl, suffix, exact_only = self._fuzzy_parts(q)
            if exact_only:
                # FuzzyQuery.java:151 — maxEdits 0 or prefix covers the
                # whole text: can only match the exact term
                return in_field & (col == q.text)
            cond = in_field
            if pl:
                # non-fuzzy prefix (FuzzyTermsEnum.java:129-141): exact
                # prefix pushed down; edits measured on the suffixes
                cond = cond & col.startswith(q.text[:pl])
            suf_col = F.expr(f"substring(term, {pl + 1})") if pl else col
            lo, hi = len(q.text) - q.max_edits, len(q.text) + q.max_edits
            return cond & (F.length(col).between(lo, hi)) & (
                F.levenshtein(suf_col, F.lit(suffix)) <= 2 * q.max_edits
            ) & (osa_udf(suffix)(suf_col) <= q.max_edits)
        if isinstance(q, TermRange):
            cond = in_field
            if q.lower is not None:
                cond = cond & (col >= q.lower if q.include_lower else col > q.lower)
            if q.upper is not None:
                cond = cond & (col <= q.upper if q.include_upper else col < q.upper)
            return cond
        return None

    _MTQ_TYPES = (Prefix, Wildcard, Regexp, Fuzzy, TermRange)

    @staticmethod
    def _fuzzy_parts(q: Fuzzy) -> tuple[int, str, bool]:
        """(effective prefix length, fuzzy suffix, exact-only?) for a
        Fuzzy query — FuzzyTermsEnum.java:129 clamps the prefix to the
        term length; FuzzyQuery.java:151 degrades to exact-term match
        when maxEdits == 0 or the prefix covers the whole text."""
        pl = min(max(q.prefix_length, 0), len(q.text))
        exact_only = q.max_edits == 0 or pl >= len(q.text)
        return pl, q.text[pl:], exact_only

    def _expand_fuzzy(self, q: Fuzzy, cap: int = MAX_CLAUSE_COUNT) -> list:
        """[(term, edit_distance)] for a fuzzy query — distance computed in
        the same dictionary scan that expands the term set; the per-term
        global docFreq from that scan primes the stats cache so compile
        does not re-aggregate the same terms in a second job.

        When the 1024 cap binds, the survivors are the top by BOOST
        (1 - ed/min(|term|, |query|)) then term — TopTermsRewrite.java:106
        keeps its priority queue by boost, so close-but-rare terms beat
        popular-but-far ones (r2 VERDICT 'what's wrong' #5)."""
        t = self._postings.groupBy("field", "term").agg(
            F.sum("doc_freq").alias("df")
        )
        # with a non-fuzzy prefix the reported distance is the SUFFIX
        # edit distance (FuzzyTermsEnum's automata are prefix+lev(suffix));
        # the boost denominator below stays the FULL-length min
        # (FuzzyTermsEnum.java:231-237)
        pl, suffix, exact_only = self._fuzzy_parts(q)
        if exact_only:
            dist_col = F.lit(0)
        elif pl:
            dist_col = osa_udf(suffix)(F.expr(f"substring(term, {pl + 1})"))
        else:
            dist_col = osa_udf(q.text)(F.col("term"))
        rows = (
            t.where(self._mtq_cond(q))
            .withColumn("dist", dist_col)
            .withColumn(
                "boost",
                1.0
                - F.col("dist")
                / F.least(F.length("term"), F.lit(len(q.text))),
            )
            .orderBy(F.desc("boost"), F.asc("term"))
            .limit(cap)
            .collect()
        )
        for r in rows:
            self._df_cache[(q.field, r["term"])] = int(r["df"])
        return [(r["term"], int(r["dist"])) for r in rows]

    def complex_phrase(self, slots: tuple, slop: int = 0,
                       field: str = "content") -> Query:
        """ComplexPhraseQueryParser analog (lucene/queryparser/src/java/
        org/apache/lucene/queryparser/complexPhrase/
        ComplexPhraseQueryParser.java:40-120; Solr
        ComplexPhraseQParserPlugin.java): a phrase where a slot may be a
        wildcard/prefix pattern. Each pattern slot expands against the
        LIVE term dictionary (the same pushdown + 1024-cap machinery as
        standalone MTQs) and the whole thing evaluates as ONE
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
                alts = self._expand_terms(self._mtq_cond(mtq))
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
            terms = self._expand_terms(self._mtq_cond(q))
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
            col = F.col("term")
            if isinstance(src, IPrefix):
                cond = col.startswith(src.prefix)
                what = f"prefix {src.prefix!r}"
            else:
                rx = ("^" + re.escape(src.pattern)
                      .replace(r"\*", ".*").replace(r"\?", ".") + "$")
                cond = col.rlike(rx)
                what = f"wildcard {src.pattern!r}"
            cap = src.max_expansions
            rows = (
                self._postings.where((F.col("field") == field) & cond)
                .select("term").distinct()
                .orderBy("term").limit(cap + 1).collect()
            )
            if len(rows) > cap:
                raise ValueError(
                    f"interval {what} expanded to too many terms "
                    f"(limit {cap})"
                )
            if not rows:
                # impossible leaf — never indexed, yields no intervals
                return ITerm("\x00<no-expansion>")
            if len(rows) == 1:
                return ITerm(rows[0]["term"])
            return IOr(tuple(ITerm(r["term"]) for r in rows))
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
        1024 cap — the same pushdown _expand_terms every MTQ uses). An
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
            terms = self._expand_terms(self._mtq_cond(q.wrapped))
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

    def _prune_positions(self, post: DataFrame, *plans) -> DataFrame:
        """Drop the position-stream columns from the kernel input when no
        plan needs positions — the .doc-vs-.pos file distinction
        (Lucene50PostingsFormat): term/bool/WAND queries never read the
        prox stream, and it is the LARGEST posting column, so parquet
        column pruning cuts the scan accordingly."""
        types = set().union(*(K.plan_node_types(p) for p in plans)) if plans else set()
        drop = set()
        if not ({"phrase", "multiphrase", "span", "intervals", "payload"} & types):
            drop |= {"pos_enc", "pos_offsets"}
        if "payload" not in types:
            # the payload stream is read ONLY by payload nodes (.pay
            # column pruning, like .pos for non-positional queries)
            drop.add("pay_enc")
        if not drop:
            return post
        keep = [c for c in post.columns if c not in drop]
        return post.select(*keep)

    def _numeric_allowed_df(self, nrs, vsources=()) -> DataFrame:
        """(segment_id, doc_id, set_id, val) rows: one filtered scan of
        the norms table per distinct NumericRange (val = NULL), plus one
        full projection per FunctionScore value-source field (val = the
        doc-value) — all unioned, all distributed (the docvalues columnar
        read analog; no driver-side collect)."""
        from .query import RangeField

        out = None
        for nr in sorted(nrs, key=K.numeric_set_id):
            if isinstance(nr, RangeField):
                for mn, mx in nr.dims:
                    for col in (mn, mx):
                        if col not in NUMERIC_DOCVALUES:
                            raise ValueError(
                                f"unknown numeric doc-values field {col!r};"
                                f" available: {NUMERIC_DOCVALUES}"
                            )
                # RangeFieldQuery.QueryType per-dim relations, ANDed over
                # dimensions (parquet pushes the comparisons into the
                # doc-values scan exactly like the BETWEEN path)
                def _rel(rel):
                    cond = F.lit(True)
                    for (mn, mx), lo, hi in zip(nr.dims, nr.lower, nr.upper):
                        if rel == "intersects":
                            c = (F.col(mn) <= hi) & (F.col(mx) >= lo)
                        elif rel == "within":
                            c = (F.col(mn) >= lo) & (F.col(mx) <= hi)
                        else:  # contains
                            c = (F.col(mn) <= lo) & (F.col(mx) >= hi)
                        cond = cond & c
                    return cond

                if nr.relation == "crosses":
                    # INTERSECTS && !WITHIN over the whole box
                    # (RangeFieldQuery.java:192-193)
                    cond = _rel("intersects") & ~_rel("within")
                else:
                    cond = _rel(nr.relation)
                part = self._norms.where(cond).select(
                    "segment_id", "doc_id",
                    F.lit(K.numeric_set_id(nr)).alias("set_id"),
                    F.lit(None).cast("double").alias("val"),
                )
                out = part if out is None else out.unionByName(part)
                continue
            if nr.field not in NUMERIC_DOCVALUES:
                raise ValueError(
                    f"unknown numeric doc-values field {nr.field!r}; "
                    f"available: {NUMERIC_DOCVALUES}"
                )
            if isinstance(nr, NumericSet):
                # PointInSetQuery: explicit value set (parquet turns this
                # into an In pushdown over the doc-values column)
                cond = F.col(nr.field).isin([int(v) for v in nr.values])
            else:
                cond = F.lit(True)
                if nr.lower is not None:
                    cond = cond & (F.col(nr.field) >= int(nr.lower))
                if nr.upper is not None:
                    cond = cond & (F.col(nr.field) <= int(nr.upper))
            part = self._norms.where(cond).select(
                "segment_id", "doc_id",
                F.lit(K.numeric_set_id(nr)).alias("set_id"),
                F.lit(None).cast("double").alias("val"),
            )
            out = part if out is None else out.unionByName(part)
        for field in sorted(vsources):
            if field not in NUMERIC_DOCVALUES:
                raise ValueError(
                    f"unknown numeric doc-values field {field!r}; "
                    f"available: {NUMERIC_DOCVALUES}"
                )
            part = self._norms.select(
                "segment_id", "doc_id",
                F.lit(f"values:{field}").alias("set_id"),
                F.col(field).cast("double").alias("val"),
            )
            out = part if out is None else out.unionByName(part)
        return out

    # ---------------- stats + search --------------------------------------

    def _term_stats(self, pairs: set, column: str, cache: dict) -> dict:
        """Per (field, term) key, `column` (doc_freq or ttf) summed over
        every segment's posting row — read driver-side from the segment
        files (TermStates.build seeking each leaf's term dictionary), no
        Spark job. Cached for the searcher's lifetime: the index is
        immutable under this manifest, so entries never go stale."""
        missing = pairs - cache.keys()
        if missing:
            rows = segfiles.read_postings(
                self.index_dir, self.manifest, missing, ["field", "term", column]
            )
            found = rows.groupby(["field", "term"])[column].sum()
            for key in missing:
                cache[key] = int(found.get(key, 0))
        return {key: cache[key] for key in pairs}

    def _global_df(self, pairs: set) -> dict:
        """Global docFreq per (field, term) key (the createWeight stats
        barrier)."""
        return self._term_stats(pairs, "doc_freq", self._df_cache)

    def _global_ttf(self, pairs: set) -> dict:
        """Global totalTermFreq per (field, term) key — the
        TermStatistics.totalTermFreq stat LM similarities consume."""
        return self._term_stats(pairs, "ttf", self._ttf_cache)

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

        Results are LRU-cached per (query, k, use_wand, after, similarity)
        — the filter/query-cache analog (search/LRUQueryCache.java):
        repeated queries against an immutable manifest skip all Spark
        jobs."""
        cache_key = (q, k, use_wand, with_stored, after, similarity)
        with self._cache_lock:
            try:
                cached = self._result_cache.pop(cache_key)
            except (KeyError, TypeError):  # TypeError: unhashable query
                cached = None
            else:
                self._result_cache[cache_key] = cached  # re-insert = MRU
        if cached is not None:
            out = cached.copy()
            out.attrs.update(cached.attrs)
            return out
        hits = self._search_uncached(q, k, use_wand, with_stored, after, similarity)
        with self._cache_lock:
            try:
                self._result_cache[cache_key] = hits
            except TypeError:
                return hits
            while len(self._result_cache) > self.result_cache_size:
                self._result_cache.pop(next(iter(self._result_cache)))
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

    def _search_uncached(
        self,
        q: Query,
        k: int,
        use_wand: bool,
        with_stored: bool,
        after: tuple | None,
        similarity=None,
    ) -> pd.DataFrame:
        q = rewrite(self._analyze_query(q))
        from .query import MatchAll

        if isinstance(q, MatchAll):
            return self._match_all(k, after, with_stored)
        hits = self._dispatch_segments(q, k, use_wand, after, similarity)
        if hits is None:  # rewrote to MatchNone
            out = pd.DataFrame(
                columns=["rank", "score", "global_doc_id", "segment_id", "doc_id"]
            )
            out.attrs["total_hits"] = 0
            out.attrs["relation"] = "EQUAL_TO"
            return out
        return self._merge_hits(hits, k, with_stored)

    def _dispatch_segments(
        self, q: Query, k: int, use_wand: bool, after: tuple | None, similarity
    ) -> pd.DataFrame | None:
        """Compile + per-segment kernel dispatch: returns the RAW
        per-segment top-k hit rows (pre-merge), or None if the query
        rewrites to MatchNone. Shared by search() (score merge) and
        search_sorted() (index-sort merge)."""
        if isinstance(q, self._MTQ_TYPES) and not isinstance(q, Fuzzy):
            # top-level multi-term query: CONSTANT_SCORE_REWRITE fast path
            # (MultiTermQuery.java default) — the dictionary predicate goes
            # straight into the postings scan; no expansion round-trip, no
            # per-term stats barrier. Fuzzy is EXCLUDED: FuzzyQuery's
            # default rewrite is the top-terms SCORING rewrite with
            # per-term distance boosts (FuzzyQuery.java), handled in
            # expand().
            plan = {"type": "anyterm", "score": np.float32(1.0)}
            post = self._postings.where(self._mtq_cond(q))
        else:
            q = rewrite(self.expand(q))
            if isinstance(q, MatchNone):
                return None
            terms = query_terms(q)
            plan = K.compile_plan(
                q, self._global_df(terms), self.doc_counts,
                sim=self._sim_ctx(similarity, terms),
            )
            post = self._postings.where(self._terms_filter(terms)) if terms else self._postings.limit(0)
        if "matchall" in K.plan_node_types(plan):
            # the plan matches docs without postings: dispatch EVERY segment
            post = self._union_sentinels(post)
        post = self._prune_positions(post, plan)
        kernel = partial(
            _kernel_udf, plan=plan, cache=self.caches, k=k,
            use_wand=use_wand, after=after, doc_bases=self.doc_base,
            tombstones=self.tombstones, doc_counts=self.seg_doc_count,
        )
        nrs = numeric_ranges(q)
        vsf = value_source_fields(q)
        if nrs or vsf:
            # doc-values FILTER resolution (PointRangeQuery analog): the
            # norms/docmap table is range-filtered DISTRIBUTED (parquet
            # row-group min/max pruning = the BKD-tree cut) and cogrouped
            # with the posting rows per segment — no driver-side collect
            # of the (potentially huge) match set.
            allowed = self._numeric_allowed_df(nrs, vsf)
            grouped = post.groupBy("segment_id").cogroup(
                allowed.groupBy("segment_id")
            )
            hits = grouped.applyInPandas(
                lambda key, l, r: kernel(key, l, allowed_pdf=r),
                schema=_HIT_SCHEMA,
            ).toPandas()
        else:
            # scoring input = ONLY the pruned posting rows (norm bytes ride
            # in each row — no norms-table join/shuffle; schemas.py norms_enc)
            hits = (
                post.groupBy("segment_id")
                .applyInPandas(kernel, schema=_HIT_SCHEMA)
                .toPandas()
            )
        return hits

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

        Scoring is skipped by wrapping the match plan in ConstantScore:
        with all scores equal, the kernel's (score desc, docID asc)
        top-k degenerates to first-k-by-docID — the early-termination
        cut expressed in the existing kernel contract."""
        from .query import ConstantScore

        srt = self.manifest.get("index_sort")
        if not srt:
            raise ValueError(
                "search_sorted needs an index built with index_sort="
                f"'n_chars' (manifest has none: {self.index_dir})"
            )
        q = rewrite(self._analyze_query(q))
        hits = self._dispatch_segments(
            ConstantScore(q, 1.0), k, use_wand=False, after=None,
            similarity=None,
        )
        if hits is None or not len(hits):
            out = pd.DataFrame(
                columns=["rank", "global_doc_id", "segment_id", "doc_id",
                         srt["field"]]
            )
            out.attrs["total_hits"] = 0
            out.attrs["relation"] = "EQUAL_TO"
            return out
        hits["global_doc_id"] = (
            hits["segment_id"].map(self.doc_base) + hits["doc_id"]
        )
        total_hits = int(hits.groupby("segment_id")["total"].first().sum())
        # stored fields ride along (the sort value itself is one of them)
        hits = hits.merge(
            self._fetch_stored(hits), on=["segment_id", "doc_id"], how="left"
        )
        hits = hits.sort_values(
            [srt["field"], "global_doc_id"],
            ascending=[not srt.get("desc"), True], kind="mergesort",
        ).head(k).reset_index(drop=True)
        hits = hits.drop(columns=["score", "total", "relation"], errors="ignore")
        hits.insert(0, "rank", np.arange(len(hits)))
        hits.attrs["total_hits"] = total_hits
        hits.attrs["relation"] = "GREATER_THAN_OR_EQUAL_TO"
        return hits

    def _merge_hits(self, hits: pd.DataFrame, k: int, with_stored: bool) -> pd.DataFrame:
        """TopDocs.merge: score desc → global docID asc (leaf order, doc
        order) — shared by the distributed and driver-local paths."""
        if len(hits):
            hits["global_doc_id"] = (
                hits["segment_id"].map(self.doc_base) + hits["doc_id"]
            )
            totals = hits.groupby("segment_id").agg(
                total=("total", "first"), relation=("relation", "first")
            )
            total_hits = int(totals["total"].sum())
            relation = (
                "EQUAL_TO"
                if (totals["relation"] == "EQUAL_TO").all()
                else "GREATER_THAN_OR_EQUAL_TO"
            )
            hits = hits.sort_values(
                ["score", "global_doc_id"], ascending=[False, True], kind="mergesort"
            ).head(k)
        else:
            hits = hits.assign(global_doc_id=pd.Series(dtype="int64"))
            total_hits, relation = 0, "EQUAL_TO"
        hits = hits.reset_index(drop=True)
        hits.insert(0, "rank", np.arange(len(hits)))
        hits = hits.drop(columns=["total", "relation"], errors="ignore")
        if with_stored and len(hits):
            stored = self._fetch_stored(hits)
            hits = hits.merge(stored, on=["segment_id", "doc_id"], how="left")
        hits.attrs["total_hits"] = total_hits
        hits.attrs["relation"] = relation
        return hits

    def search_many(
        self,
        queries: dict[str, Query],
        k: int = 10,
        use_wand: bool = True,
    ) -> pd.DataFrame:
        """Batch search: ALL queries scored in ONE Spark job.

        The reference's benchmark harness issues thousands of sequential
        searches (micro-standard.alg); per-job dispatch would dominate on
        Spark, so the batch path ships every compiled plan to the segment
        kernels together — posting rows for the union of query terms are
        scanned once, per-term decodes are shared across queries via the
        SegmentData cache, and the driver merge runs per query. Returns a
        frame with a `query` column; per-query rank/tie-break semantics
        identical to search().
        """
        compiled: dict[str, dict] = {}
        all_terms: set = set()
        empties: list[str] = []
        prepared: dict[str, Query] = {}
        all_nrs: set = set()
        all_vsf: set = set()
        for name, q in queries.items():
            q = rewrite(self.expand(rewrite(self._analyze_query(q))))
            all_nrs |= numeric_ranges(q)
            all_vsf |= value_source_fields(q)
            if isinstance(q, MatchNone):
                empties.append(name)
                continue
            prepared[name] = q
            all_terms |= query_terms(q)
        gdf = self._global_df(all_terms)
        for name, q in prepared.items():
            compiled[name] = K.compile_plan(q, gdf, self.doc_counts)
        if not compiled:
            return pd.DataFrame(
                columns=["query", "rank", "score", "global_doc_id", "segment_id", "doc_id"]
            )
        post = self._postings.where(self._terms_filter(all_terms))
        if any("matchall" in K.plan_node_types(p) for p in compiled.values()):
            post = self._union_sentinels(post)
        post = self._prune_positions(post, *compiled.values())
        kernel = partial(
            _kernel_many_udf, plans=compiled, cache=self.caches, k=k,
            use_wand=use_wand, tombstones=self.tombstones,
            doc_counts=self.seg_doc_count,
        )
        if all_nrs or all_vsf:
            allowed = self._numeric_allowed_df(all_nrs, all_vsf)
            hits = (
                post.groupBy("segment_id")
                .cogroup(allowed.groupBy("segment_id"))
                .applyInPandas(
                    lambda key, l, r: kernel(key, l, allowed_pdf=r),
                    schema="query string, " + _HIT_SCHEMA,
                )
                .toPandas()
            )
        else:
            hits = (
                post.groupBy("segment_id")
                .applyInPandas(kernel, schema="query string, " + _HIT_SCHEMA)
                .toPandas()
            )
        out_frames = []
        for name in compiled:
            h = hits[hits["query"] == name].copy()
            if len(h):
                h["global_doc_id"] = h["segment_id"].map(self.doc_base) + h["doc_id"]
                h = h.sort_values(
                    ["score", "global_doc_id"], ascending=[False, True], kind="mergesort"
                ).head(k)
            else:
                h = h.assign(global_doc_id=pd.Series(dtype="int64"))
            h = h.reset_index(drop=True)
            h.insert(1, "rank", np.arange(len(h)))
            out_frames.append(h.drop(columns=["total", "relation"], errors="ignore"))
        return pd.concat(out_frames, ignore_index=True)

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

        Spark shape: the first pass is the normal WAND path; the second
        pass ships the tiny first-pass doc set to the segment kernels
        through the SAME cogrouped allowed channel NumericRange filters
        use (set_id "rescore:first"), compiled as
        Bool(MUST=rescore_q, FILTER=docidset) — so each segment scores
        rescore_q against at most first_k candidate docs, never its full
        posting lists. FILTER makes WAND inapplicable by invariant, so
        the second pass routes exhaustive (which is exactly Lucene's
        ScoreMode.COMPLETE advance-and-score loop)."""
        hits = self.search(
            first_q, k=first_k, use_wand=use_wand, with_stored=False
        )
        attrs = dict(hits.attrs)
        if not len(hits):
            return hits
        q2 = rewrite(self.expand(rewrite(self._analyze_query(rescore_q))))
        if isinstance(q2, MatchNone):
            hits2 = pd.DataFrame(columns=["segment_id", "doc_id", "score"])
        else:
            terms = query_terms(q2)
            plan2 = {
                "type": "bool",
                "msm": 0,
                "clauses": [
                    {
                        "occur": "MUST",
                        "node": K.compile_plan(
                            q2, self._global_df(terms), self.doc_counts
                        ),
                    },
                    {
                        "occur": "FILTER",
                        "node": {
                            "type": "docidset",
                            "set_id": "rescore:first",
                            "score": np.float32(1.0),
                        },
                    },
                ],
            }
            post = (
                self._postings.where(self._terms_filter(terms))
                if terms
                else self._postings.limit(0)
            )
            if "matchall" in K.plan_node_types(plan2):
                post = self._union_sentinels(post)
            post = self._prune_positions(post, plan2)
            allowed = self.spark.createDataFrame(
                pd.DataFrame(
                    {
                        "segment_id": hits["segment_id"].astype(str),
                        "doc_id": hits["doc_id"].astype("int64"),
                        "set_id": "rescore:first",
                        "val": np.full(len(hits), np.nan, dtype=np.float64),
                    }
                ),
                schema="segment_id string, doc_id bigint, set_id string, val double",
            )
            nrs = numeric_ranges(q2)
            vsf = value_source_fields(q2)
            if nrs or vsf:
                allowed = allowed.unionByName(self._numeric_allowed_df(nrs, vsf))
            kernel = partial(
                _kernel_udf, plan=plan2, cache=self.caches, k=first_k,
                use_wand=False, after=None, doc_bases=self.doc_base,
                tombstones=self.tombstones, doc_counts=self.seg_doc_count,
            )
            hits2 = (
                post.groupBy("segment_id")
                .cogroup(allowed.groupBy("segment_id"))
                .applyInPandas(
                    lambda key, l, r: kernel(key, l, allowed_pdf=r),
                    schema=_HIT_SCHEMA,
                )
                .toPandas()
            )
        merged = hits.merge(
            hits2[["segment_id", "doc_id", "score"]].rename(
                columns={"score": "score2"}
            ),
            on=["segment_id", "doc_id"],
            how="left",
        )
        first32 = merged["score"].to_numpy(np.float32)
        second = merged["score2"].to_numpy(np.float64)  # NaN = no match
        matched = ~np.isnan(second)
        combined = first32.copy()
        # Java compound assignment `score += weight * secondPassScore`:
        # double arithmetic, ONE float32 cast of the result
        # (QueryRescorer.java:173-176)
        combined[matched] = np.float32(
            first32[matched].astype(np.float64) + float(weight) * second[matched]
        )
        merged["score"] = combined
        merged = (
            merged.drop(columns=["score2"])
            .sort_values(
                ["score", "global_doc_id"], ascending=[False, True],
                kind="mergesort",
            )
            .head(k)
            .reset_index(drop=True)
        )
        merged["rank"] = np.arange(len(merged))
        merged.attrs.update(attrs)
        if with_stored and len(merged):
            stored = self._fetch_stored(merged)
            merged = merged.merge(stored, on=["segment_id", "doc_id"], how="left")
            merged.attrs.update(attrs)
        return merged

    def search_local(
        self,
        q: Query,
        k: int = 10,
        use_wand: bool = True,
        with_stored: bool = False,
        after: tuple | None = None,
        similarity=None,
    ) -> pd.DataFrame:
        """Driver-LOCAL evaluation: the exact same compiled plan and
        segment kernels run in-process over posting rows fetched once and
        cached per (field, term) — repeated queries over a hot term set
        execute with ZERO Spark jobs at NumPy speed (ms-level), matching
        a resident single-node Lucene process. Results are IDENTICAL to
        search() (same kernels, same merge, same tie-breaks — pinned by
        tests/test_local_mode.py).

        This is the single-node-throughput parity mode for SMALL/HOT
        indexes (the postings working set must fit driver memory); the
        distributed search() path remains the 100 TB shape. Mirrors how
        a Lucene shard serves from page cache once warm."""
        q0 = rewrite(self._analyze_query(q))
        from .query import MatchAll

        if isinstance(q0, MatchAll):
            return self._match_all(k, after, with_stored)
        if isinstance(q0, self._MTQ_TYPES) and not isinstance(q0, Fuzzy):
            expanded = self._expand_terms(self._mtq_cond(q0))
            keys = {(q0.field, t) for t in expanded}
            plan: dict = {
                "type": "anyterm",
                "score": np.float32(1.0),
                "keys": sorted(keys),
            }
            qq: Query = q0
        else:
            qq = rewrite(self.expand(q0))
            if isinstance(qq, MatchNone):
                out = pd.DataFrame(
                    columns=["rank", "score", "global_doc_id", "segment_id", "doc_id"]
                )
                out.attrs["total_hits"] = 0
                out.attrs["relation"] = "EQUAL_TO"
                return out
            keys = query_terms(qq)
            plan = K.compile_plan(
                qq, self._global_df(keys), self.doc_counts,
                sim=self._sim_ctx(similarity, keys),
            )
        self._local_postings(keys)
        segdata = self._local_segdata()
        nrs = numeric_ranges(qq)
        vsf = value_source_fields(qq)
        allowed_maps = self._local_allowed_maps(nrs, vsf) if (nrs or vsf) else None
        if "matchall" in K.plan_node_types(plan):
            segs = sorted(self.doc_base)
        else:
            segs = sorted(
                {
                    sid
                    for sid, seg in segdata.items()
                    if any(kk in seg.rows for kk in keys)
                }
            )
        parts = []  # (sid, local docs, float64 scores)
        total_hits, all_equal = 0, True
        for sid in segs:
            seg = segdata[sid]
            # per-query doc-values channel (NOT thread-safe: local mode
            # assumes one caller, like an IndexSearcher instance)
            seg.allowed = allowed_maps.get(sid) if allowed_maps else None
            base = self.doc_base.get(sid, 0)
            deleted = self.tombstones.get(sid)
            if use_wand and K.wand_applicable(plan):
                docs, scores, total, relation = K.score_wand(
                    plan, seg, self.caches, k, after=after, doc_base=base,
                    deleted=deleted,
                )
            else:
                docs, scores, total, relation = K.score_exhaustive(
                    plan, seg, self.caches, k, after=after, doc_base=base,
                    deleted=deleted,
                )
            total_hits += int(total)
            all_equal &= relation == "EQUAL_TO"
            if len(docs):
                parts.append((sid, docs, scores))
        if parts:
            sids = np.concatenate(
                [np.full(len(d), i, dtype=np.int64) for i, (_, d, _) in enumerate(parts)]
            )
            docs = np.concatenate([d for _, d, _ in parts])
            scores = np.concatenate([s for _, _, s in parts]).astype(np.float32)
            bases = np.asarray(
                [self.doc_base.get(sid, 0) for sid, _, _ in parts], dtype=np.int64
            )
            gids = bases[sids] + docs
            order = np.lexsort((gids, -scores.astype(np.float64)))[:k]
            sid_names = np.asarray([sid for sid, _, _ in parts], dtype=object)
            out = pd.DataFrame(
                {
                    "segment_id": sid_names[sids[order]],
                    "doc_id": docs[order],
                    "score": scores[order],
                    "global_doc_id": gids[order],
                }
            )
        else:
            out = pd.DataFrame(
                {
                    "segment_id": pd.Series(dtype="object"),
                    "doc_id": pd.Series(dtype="int64"),
                    "score": pd.Series(dtype="float32"),
                    "global_doc_id": pd.Series(dtype="int64"),
                }
            )
        out.insert(0, "rank", np.arange(len(out)))
        if with_stored and len(out):
            stored = self._fetch_stored(out)
            out = out.merge(stored, on=["segment_id", "doc_id"], how="left")
        out.attrs["total_hits"] = total_hits
        out.attrs["relation"] = "EQUAL_TO" if all_equal else "GREATER_THAN_OR_EQUAL_TO"
        return out

    def _local_segdata(self) -> dict:
        """Persistent per-segment SegmentData over ALL locally cached
        posting rows — the FOR-block decode cache survives across
        queries (a warm query touches no pandas rows at all). Rebuilt
        only when new terms were fetched; existing decoded arrays are
        carried over."""
        rev = getattr(self, "_local_rev", 0)
        if getattr(self, "_local_segs_rev", -1) != rev:
            rows = (
                pd.concat(list(self._local_rows.values()), ignore_index=True)
                if getattr(self, "_local_rows", None)
                else pd.DataFrame(columns=["field", "term"])
            )
            old = getattr(self, "_local_segs", {})
            segs = {}
            for sid in self.doc_base:
                sub = (
                    rows[rows["segment_id"] == sid]
                    if "segment_id" in rows.columns
                    else rows
                )
                seg = K.SegmentData(sub, self.seg_doc_count.get(sid, 0))
                if sid in old:  # keep already-decoded postings
                    seg._decoded.update(old[sid]._decoded)
                segs[sid] = seg
            self._local_segs = segs
            self._local_segs_rev = rev
        return self._local_segs

    def _local_postings(self, keys: set) -> pd.DataFrame:
        """Posting rows for (field, term) keys, fetched from the
        distributed table ONCE per key and cached driver-side (the hot
        shard's page-cache analog). Cache is safe: the index is immutable
        under this manifest generation."""
        if not hasattr(self, "_local_rows"):
            self._local_rows: dict = {}
            self._local_rev = 0
        missing = sorted(kk for kk in keys if kk not in self._local_rows)
        if missing:
            pdf = self._postings.where(self._terms_filter(set(missing))).toPandas()
            for kk in missing:
                self._local_rows[kk] = pdf[
                    (pdf["field"] == kk[0]) & (pdf["term"] == kk[1])
                ]
            self._local_rev += 1

    def _local_allowed_maps(self, nrs: set, vsf: set) -> dict:
        """Doc-values channel (NumericRange sets + FunctionScore values)
        fetched once per distinct set_id, pre-grouped per segment into
        the exact SegmentData.allowed payloads, and cached driver-side:
        {segment_id: {set_id: sorted docIDs | (docs, values)}}."""
        if not hasattr(self, "_local_sets"):
            self._local_sets: dict = {}  # set_id -> {sid: payload}
        need_nrs = {nr for nr in nrs if K.numeric_set_id(nr) not in self._local_sets}
        need_vsf = {f for f in vsf if f"values:{f}" not in self._local_sets}
        if need_nrs or need_vsf:
            pdf = self._numeric_allowed_df(need_nrs, need_vsf).toPandas()
            for (set_id, sid), g in pdf.groupby(["set_id", "segment_id"]):
                per_sid = self._local_sets.setdefault(set_id, {})
                payload = _allowed_from_pdf(g)
                per_sid[sid] = payload[set_id]
            for set_id in (
                {K.numeric_set_id(nr) for nr in need_nrs}
                | {f"values:{f}" for f in need_vsf}
            ):
                self._local_sets.setdefault(set_id, {})
        wanted = [K.numeric_set_id(nr) for nr in nrs] + [f"values:{f}" for f in vsf]
        out: dict = {}
        for set_id in wanted:
            for sid, payload in self._local_sets[set_id].items():
                out.setdefault(sid, {})[set_id] = payload
        return out

    def _match_all(self, k: int, after, with_stored: bool) -> pd.DataFrame:
        """MatchAllDocsQuery: constant score 1.0 over the docmap — a
        TakeOrdered over the norms table (no posting work at all). Ties
        are all-equal, so ranking = global docID asc (HitQueue tie-break).

        `after` semantics match apply_after (float32-compared): every hit
        scores exactly 1.0, so an after-score > 1.0 keeps all docs,
        == 1.0 pages by global docID, and < 1.0 yields nothing (under
        (score desc, docID asc) order nothing sorts after a lower score)."""
        n_deleted = sum(len(v) for v in self.tombstones.values())
        if after is not None and np.float32(after[0]) < np.float32(1.0):
            hits = pd.DataFrame(
                columns=["rank", "segment_id", "doc_id", "score", "global_doc_id"]
            )
            hits.attrs["total_hits"] = self.doc_count - n_deleted
            hits.attrs["relation"] = "EQUAL_TO"
            return hits
        # doc_base as a broadcast-joined frame, not a literal map: a
        # 100k-segment index would blow up a create_map expression tree
        bases = self.spark.createDataFrame(
            pd.DataFrame(
                {
                    "segment_id": list(self.doc_base),
                    "_doc_base": list(self.doc_base.values()),
                }
            )
        )
        df = (
            self._norms.select("segment_id", "doc_id")
            .join(F.broadcast(bases), "segment_id")
            .withColumn("global_doc_id", F.col("_doc_base") + F.col("doc_id"))
            .drop("_doc_base")
        )
        if n_deleted:
            del_pdf = pd.concat(
                [
                    pd.DataFrame({"segment_id": sid, "doc_id": ids})
                    for sid, ids in self.tombstones.items()
                ]
            )
            df = df.join(
                F.broadcast(self.spark.createDataFrame(del_pdf)),
                on=["segment_id", "doc_id"],
                how="left_anti",
            )
        if after is not None and np.float32(after[0]) == np.float32(1.0):
            df = df.where(F.col("global_doc_id") > int(after[1]))
        hits = df.orderBy("global_doc_id").limit(k).toPandas()
        hits.insert(2, "score", np.float32(1.0))
        hits.insert(0, "rank", np.arange(len(hits)))
        if with_stored and len(hits):
            stored = self._fetch_stored(hits)
            hits = hits.merge(stored, on=["segment_id", "doc_id"], how="left")
        hits.attrs["total_hits"] = self.doc_count - n_deleted
        hits.attrs["relation"] = "EQUAL_TO"
        return hits

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
        segs = sorted(set(hits["segment_id"]))
        post = self._postings.where(
            F.col("segment_id").isin(segs) & self._terms_filter(set(terms))
        ).toPandas()
        seg_data = {
            sid: K.SegmentData(
                g.drop(columns=["segment_id"]), self.seg_doc_count.get(sid, 0)
            )
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
        `similarity` swaps the scoring model exactly as in search()."""
        q = rewrite(self.expand(rewrite(self._analyze_query(q))))
        if isinstance(q, MatchNone):
            return {"value": 0.0, "description": "MatchNone", "details": []}
        # locate the owning segment
        sid, base = None, -1
        for s, b in self.doc_base.items():
            if b <= global_doc_id and b > base:
                sid, base = s, b
        local = global_doc_id - base
        terms = query_terms(q)
        plan = K.compile_plan(q, self._global_df(terms), self.doc_counts,
                              sim=self._sim_ctx(similarity, terms))
        post = (
            self._postings.where(
                (F.col("segment_id") == sid) & self._terms_filter(terms)
            ).toPandas()
            if terms
            else pd.DataFrame(columns=["field", "term"])
        )
        seg = K.SegmentData(post, self.seg_doc_count.get(sid, local + 1))
        return self._explain_node(plan, seg, local)

    def _explain_node(self, node: dict, seg, local: int) -> dict:
        from ..kernels.smallfloat import byte4_to_int

        docs, scores = K.eval_node(node, seg, self.caches)
        i = np.searchsorted(docs, local)
        matched = i < len(docs) and docs[i] == local
        value = float(np.float32(scores[i])) if matched else 0.0
        t = node["type"]
        if t == "term":
            if not matched:
                return {"value": 0.0, "description": f"no match on term {node['term']!r}", "details": []}
            fld = node.get("field", "content")
            d, f, n = seg.postings((fld, node["term"]))
            j = np.searchsorted(d, local)
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
                sub = self._explain_node(cl["node"], seg, local)
                sub["description"] = f"{cl['occur']}: " + sub["description"]
                details.append(sub)
        elif t in ("dismax",):
            details = [self._explain_node(s, seg, local) for s in node["nodes"]]
        elif t == "const":
            details = [self._explain_node(node["node"], seg, local)]
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
        of distinct terms and the summed docFreq, aggregated from the
        live posting rows (sentinel rows excluded). One distributed agg
        over the postings scan — the per-field term dictionary sizes a
        CheckIndex-style invariant can compare against corpus truth."""
        out = (
            self._postings.where(~F.col("term").startswith("\x00"))
            .groupBy("field")
            .agg(
                F.count_distinct("term").cast("bigint").alias("n_terms"),
                F.sum("doc_freq").cast("bigint").alias("sum_df"),
            )
            .orderBy("field")
            .toPandas()
        )
        return out

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
