"""Immutable query tree + rewrite rules.

Python analog of Lucene's Query classes (search/TermQuery.java,
search/BooleanQuery.java, search/SynonymQuery.java, search/PhraseQuery.java,
multi-term queries search/PrefixQuery.java etc.) and of the
IndexSearcher.rewrite fixpoint (search/IndexSearcher.java:665-668,
BooleanQuery rewrite simplifications search/BooleanQuery.java:211-290).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace as _dc_replace
from enum import Enum


class Occur(Enum):
    MUST = "MUST"
    SHOULD = "SHOULD"
    MUST_NOT = "MUST_NOT"
    FILTER = "FILTER"


# Default search field (document/Field.java, index/FieldInfos.java: every
# Lucene term lives in a named field; queries resolve `field:term`).
DEFAULT_FIELD = "content"

# Numeric doc-values columns of the norms table usable in NumericRange
# (NumericDocValuesField / IntPoint analog) — the ONE canonical list
# shared by the parser (range syntax) and the searcher (validation).
NUMERIC_DOCVALUES = ("dl", "n_chars")


class Query:
    """Marker base class."""


@dataclass(frozen=True)
class Term(Query):
    text: str
    field: str = DEFAULT_FIELD
    # BlendedTermQuery support (search/BlendedTermQuery.java:297-308
    # adjustFrequencies): when set, compile_plan computes idf from THIS
    # docFreq instead of the index's — the TermStates df override.
    df_override: int | None = None


@dataclass(frozen=True)
class Synonym(Query):
    """Multi-term scored as one: freqs summed, idfs summed
    (SynonymQuery.java:54,253-272)."""
    terms: tuple
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class Phrase(Query):
    """Exact phrase (slop=0) — positional intersection (PhraseQuery.java)."""
    terms: tuple
    slop: int = 0
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class MultiPhrase(Query):
    """MultiPhraseQuery (search/MultiPhraseQuery.java:60-115 builder,
    :216-238 weight over allTermStats, :285-294 UnionPostingsEnum →
    ExactPhraseMatcher): a phrase where each position admits ANY of
    several terms — "app*-style phrase" / query-time synonyms inside a
    phrase. Per slot the posting streams union (one token per position,
    so the union has no duplicate positions); matching and freq follow
    PhraseQuery exactly (slop=0 adjacency; slop>0 greedy sloppy windows).
    Scoring: ONE weight from the idfs of every term in every position
    (allTermStats → BM25 idf sum), scored against the doc's norm —
    exactly the Synonym/Phrase multi-term shape."""
    positions: tuple  # tuple of tuple[str, ...] — alternatives per slot
    slop: int = 0
    field: str = DEFAULT_FIELD

    def __post_init__(self):
        # normalize: bare string = single-alternative slot; dedupe
        # alternatives order-preserving (duplicate terms in one slot would
        # double-count union positions)
        object.__setattr__(
            self, "positions",
            tuple(tuple(dict.fromkeys((p,) if isinstance(p, str) else p))
                  for p in self.positions),
        )


@dataclass(frozen=True)
class Blended(Query):
    """BlendedTermQuery (search/BlendedTermQuery.java:265-294 rewrite):
    blends index statistics across terms so equally-relevant spellings
    score identically — df becomes max(df) over the terms (:279), and
    the blended term queries combine under the default
    DISJUNCTION_MAX_REWRITE with tie_breaker 0.01 (:183). The searcher's
    expand() resolves the blend against its global-df cache and emits
    DisjunctionMax of df-overridden Term leaves."""
    terms: tuple
    boosts: tuple = ()   # per-term boosts, defaults to 1.0 each
    tie_breaker: float = 0.01
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class SpanNear(Query):
    """Proximity query (search/spans/SpanNearQuery.java analog): all
    clauses within `slop` total gap positions, optionally in clause
    order. `terms` entries may be plain strings (term sugar) or nested
    span queries (SpanTerm/SpanOr/SpanNot/SpanFirst/SpanNear) — the
    compositional span algebra. Match = one span per clause with
    (max_end - min_start) - Σ span_len <= slop; freq = greedy
    non-overlapping window count, scored like Phrase."""
    terms: tuple
    slop: int = 0
    in_order: bool = False
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class SpanTerm(Query):
    """Span leaf: one term, spans = [(p, p+1)] per occurrence
    (search/spans/SpanTermQuery.java)."""
    text: str
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class SpanOr(Query):
    """Union of sub-span streams (search/spans/SpanOrQuery.java)."""
    clauses: tuple  # span queries (or bare term strings)
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class SpanNot(Query):
    """Spans of `include` that do NOT overlap any span of `exclude`
    (search/spans/SpanNotQuery.java)."""
    include: Query
    exclude: Query
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class SpanFirst(Query):
    """Spans of `match` ending at position <= `end`
    (search/spans/SpanFirstQuery.java)."""
    match: Query
    end: int
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class SpanPositionRange(Query):
    """Spans of `match` with start >= `start` and end <= `end`
    (search/spans/SpanPositionRangeQuery.java:35-60; SpanFirstQuery is
    the start=0 special case)."""
    match: Query
    start: int
    end: int
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class SpanContaining(Query):
    """Spans of `big` that CONTAIN at least one span of `little`
    (search/spans/SpanContainingQuery.java:80-111, ContainSpans.java):
    emit (s, e) of big when some little span has s_l >= s and e_l <= e
    in the same doc. ConjunctionSpans: only docs holding both sides."""
    big: Query
    little: Query
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class SpanWithin(Query):
    """Spans of `little` that fall WITHIN a span of `big`
    (search/spans/SpanWithinQuery.java, ContainSpans.java): emit (s, e)
    of little when some big span has s_b <= s and e_b >= e in the same
    doc. ConjunctionSpans: only docs holding both sides."""
    big: Query
    little: Query
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class SpanMultiTerm(Query):
    """SpanMultiTermQueryWrapper
    (core/.../search/spans/SpanMultiTermQueryWrapper.java:1-247): wraps a
    multi-term query (Prefix/Wildcard/Regexp/TermRange/Fuzzy) so it can
    sit anywhere in the span algebra. The searcher's expand() rewrites it
    to SpanOr(SpanTerm per matched dictionary term) under the 1024
    TopTermsRewrite cap, ranked by docFreq (the wrapper's
    SpanRewriteMethod -> SpanOrQuery; spans carry no per-term boosts, so
    the fuzzy distance boost is intentionally dropped — same as the
    reference's constant-score span rewrite)."""
    wrapped: Query
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class PayloadScore(Query):
    """PayloadScoreQuery (queries/payloads/PayloadScoreQuery.java:50-235):
    wraps a span query over a payload-storing index; every leaf-term
    occurrence collected inside a matching span contributes its float32
    payload (unannotated occurrences carry the null-payload default 1.0,
    PayloadDecoder.FLOAT_DECODER convention). Per doc the payloads
    aggregate through `func` (Min/Max/Sum/AveragePayloadFunction —
    docScore defaults to 1 when no payloads were seen), and the final
    score is f32(span_score * factor) when include_span_score else the
    factor alone.

    Documented deviation: the reference's SpanCollector visits exactly
    the leaf occurrences that FORMED each span; here every leaf-term
    occurrence inside the span's [start, end) window is collected — the
    two differ only when another occurrence of a leaf term falls inside
    a sloppy span's window."""
    query: Query  # span tree (term leaves)
    func: str = "max"  # min | max | sum | avg
    include_span_score: bool = True
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class Boost(Query):
    query: Query
    boost: float = 1.0


@dataclass(frozen=True)
class ConstantScore(Query):
    query: Query
    score: float = 1.0


@dataclass(frozen=True)
class FunctionScore(Query):
    """FunctionScoreQuery analog (queries/function/FunctionScoreQuery.java:45,
    DoubleValuesSource.fromField): shape the inner query's score with a
    numeric doc-values column v (dl / n_chars — recency/stars/quality
    style boosting). multiply: score = f32(inner * (weight * v));
    sum: score = f32(inner + weight * v). Matching docs = inner's docs;
    values ride the same doc-values sets as NumericRange.

    Feature modes — FeatureField's scoring functions and the distance
    feature query (document/FeatureField.java newSaturationQuery /
    newLogQuery / newSigmoidQuery; document/LongDistanceFeatureQuery.java),
    collapsed into the usual Bool(MUST text, SHOULD feature) composition:
    score = f32(inner + weight * fn(v)) with fn computed in double:
      saturation:   v / (v + pivot)
      log:          ln(scaling + v)
      sigmoid:      v^exp / (v^exp + pivot^exp)
      dist_feature: pivot / (pivot + |v - origin|)   (recency/geo boost)
    """

    query: Query
    field: str  # numeric doc-values column: 'dl' or 'n_chars'
    mode: str = "multiply"  # sum | saturation | log | sigmoid | dist_feature
    weight: float = 1.0
    pivot: float = 1.0    # saturation / sigmoid / dist_feature
    origin: float = 0.0   # dist_feature
    exp: float = 1.0      # sigmoid
    scaling: float = 1.0  # log


@dataclass(frozen=True)
class FunctionExpr(Query):
    """Compiled score-expression query — the lucene/expressions module +
    Solr FunctionQParser surface (expressions/src/java/org/apache/lucene/
    expressions/js/JavascriptCompiler.java; solr/core/src/java/org/apache/
    solr/search/FunctionQParser.java, ValueSourceParser.java standard
    sources): the final score is an arithmetic expression over `_score`
    (the inner query's score) and numeric doc-values fields, evaluated
    per matching doc in double with ONE final float32 cast.

    `expr` is a parsed AST (tuples) produced by
    parser.parse_function_expr from Solr function syntax, e.g.
    'product(_score, recip(n_chars, 1, 1000, 1000))' — the classic
    recency/size boost. Supported sources: literals, _score, doc-values
    fields; functions: sum, sub, product, div, log (base 10, per Solr),
    ln, sqrt, abs, pow, min, max, recip(x,m,a,b) = a/(m*x+b)."""

    query: Query
    expr: tuple  # AST: ("lit", v) | ("score",) | ("field", name) | (fn, args...)


@dataclass(frozen=True)
class Covering(Query):
    """CoveringQuery (sandbox/src/java/org/apache/lucene/search/
    CoveringQuery.java:35-60, CoveringScorer.java:120-133): a disjunction
    whose REQUIRED number of matching clauses is a per-document long
    value from a numeric doc-values source. The value source here is the
    affine map floor(value(field) * scale + offset); per the reference,
    values < 1 are treated as 1 (min_match = max(1, ...)). Matching docs
    score as the SUM of their matching clauses (SHOULD semantics).
    The values ride the same doc-values sets as
    FunctionScore/NumericRange; WAND is inapplicable (the per-doc
    threshold invalidates fixed window upper bounds) so covering plans
    route exhaustive."""

    queries: tuple
    field: str  # numeric doc-values column: 'dl' or 'n_chars'
    scale: float = 1.0
    offset: float = 0.0


@dataclass(frozen=True)
class MatchAll(Query):
    pass


@dataclass(frozen=True)
class MatchNone(Query):
    pass


@dataclass(frozen=True)
class Clause:
    occur: Occur
    query: Query


@dataclass(frozen=True)
class Bool(Query):
    clauses: tuple
    min_should_match: int = 0

    @staticmethod
    def of(*pairs, min_should_match: int = 0) -> "Bool":
        return Bool(
            tuple(Clause(o, q) for o, q in pairs), min_should_match=min_should_match
        )


@dataclass(frozen=True)
class DisjunctionMax(Query):
    """score = max(clauses) + tie_breaker * (sum - max)
    (DisjunctionMaxQuery.java)."""
    queries: tuple
    tie_breaker: float = 0.0


# --- multi-term queries: expand against the term dictionary, then rewrite ---

@dataclass(frozen=True)
class Prefix(Query):
    prefix: str
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class Wildcard(Query):
    """? = one char, * = any run (WildcardQuery.java)."""
    pattern: str
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class Regexp(Query):
    pattern: str
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class Fuzzy(Query):
    """FuzzyQuery (core/search/FuzzyQuery.java:82-108). prefix_length is
    the non-fuzzy prefix (FuzzyQuery.java:133-138): candidate terms must
    share the first min(prefix_length, |text|) chars VERBATIM and the
    edit distance is computed over the remaining suffixes only
    (FuzzyTermsEnum.java:129-141 builds the Levenshtein automaton on the
    post-prefix substring and concatenates the exact prefix in front);
    the rewrite boost stays 1 - ed/min(FULL lengths)
    (FuzzyTermsEnum.java:231-237). max_edits == 0 or prefix_length >=
    |text| can only match the exact term (FuzzyQuery.java:151)."""
    text: str
    max_edits: int = 2
    field: str = DEFAULT_FIELD
    prefix_length: int = 0


@dataclass(frozen=True)
class TermRange(Query):
    lower: str | None
    upper: str | None
    include_lower: bool = True
    include_upper: bool = True
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class NumericRange(Query):
    """PointRangeQuery analog over a numeric doc-values column of the
    docmap/norms table (search/PointRangeQuery.java:413,
    document/IntPoint.java). Constant-score; usable standalone or as a
    FILTER/MUST clause combined with scored text clauses."""
    field: str  # numeric doc-values column: 'dl' or 'n_chars'
    lower: int | None = None
    upper: int | None = None


@dataclass(frozen=True)
class RangeField(Query):
    """Multi-dimensional range field query (document/RangeFieldQuery
    .java:62-213 relation algebra; document/LongRange.java:183-208
    factory surface): the doc's stored range per dimension is a
    (min_column, max_column) pair of numeric doc-values columns; the
    query carries [lower, upper] per dimension plus a relation, and a
    doc matches when the relation holds on EVERY dimension
    (RangeFieldQuery.QueryType.matches ANDs the per-dim tests; CROSSES
    = INTERSECTS && !WITHIN over the whole box,
    RangeFieldQuery.java:192-193). Constant-score; rides the same
    doc-values sets as NumericRange/NumericSet."""
    dims: tuple  # ((min_col, max_col), ...), 1..4 dimensions
    lower: tuple  # query box min per dimension
    upper: tuple  # query box max per dimension
    relation: str = "intersects"  # intersects | within | contains | crosses

    def __post_init__(self):
        if not (1 <= len(self.dims) <= 4):
            raise ValueError("RangeField supports 1..4 dimensions")
        if len(self.lower) != len(self.dims) or len(self.upper) != len(self.dims):
            raise ValueError("lower/upper must have one bound per dimension")
        if self.relation not in ("intersects", "within", "contains", "crosses"):
            raise ValueError(f"unknown range relation {self.relation!r}")
        object.__setattr__(self, "dims", tuple(tuple(d) for d in self.dims))
        object.__setattr__(self, "lower", tuple(int(v) for v in self.lower))
        object.__setattr__(self, "upper", tuple(int(v) for v in self.upper))


@dataclass(frozen=True)
class NumericSet(Query):
    """PointInSetQuery analog (search/PointInSetQuery.java:63 — the
    query IntPoint.newSetQuery builds): docs whose numeric doc-value is
    one of an explicit value set. Constant-score; rides the same
    doc-values sets as NumericRange, so it composes as a
    FILTER/MUST clause with scored text exactly like the reference's
    IndexOrDocValuesQuery path."""
    field: str
    values: tuple  # sorted unique ints (PointInSetQuery requires sorted input)

    def __post_init__(self):
        object.__setattr__(
            self, "values", tuple(sorted({int(v) for v in self.values}))
        )


@dataclass(frozen=True)
class CommonTerms(Query):
    """CommonTermsQuery (queries/CommonTermsQuery.java:67-221): terms are
    split by document frequency at query time — df > max_term_frequency
    (absolute when >= 1, else ceil(ratio · maxDoc)) makes a term HIGH
    frequency. Low-freq terms gate (their sub-Bool is a MUST clause);
    high-freq terms only boost (SHOULD clause) — unless there are no
    low-freq terms, in which case the high group is promoted to a
    conjunction "to prevent slow queries" (buildQuery:179-187). The
    searcher resolves the split against its global-df cache (the
    collectTermStates pass) in expand()."""
    terms: tuple
    max_term_frequency: float = 0.01
    low_freq_occur: Occur = Occur.SHOULD
    high_freq_occur: Occur = Occur.SHOULD
    low_freq_msm: int = 0
    high_freq_msm: int = 0
    field: str = DEFAULT_FIELD


# --- Interval sources (Intervals.java factory surface) -------------------
# Each node denotes a per-doc MINIMAL interval set (Vigna semantics: no
# member nests inside another). Composition rules live in
# kernel._iv_eval; the brute-force contract in tests/test_intervals_*.


@dataclass(frozen=True)
class ITerm:
    """Intervals.term — every occurrence as a [p, p] interval."""
    text: str


@dataclass(frozen=True)
class IPrefix:
    """Intervals.prefix (MultiTermIntervalsSource.java:38-60): expands
    against the term dictionary, capped at max_expansions (the reference
    throws past 128; the searcher rewrite raises ValueError)."""
    prefix: str
    max_expansions: int = 128


@dataclass(frozen=True)
class IWildcard:
    """Intervals.wildcard — '*'/'?' pattern, same expansion cap."""
    pattern: str
    max_expansions: int = 128


@dataclass(frozen=True)
class IOrdered:
    """Intervals.ordered — chained sub-intervals, each starting after
    the previous one ends (OrderedIntervalIterator)."""
    sources: tuple


@dataclass(frozen=True)
class IUnordered:
    """Intervals.unordered — minimal spans containing one interval from
    every sub-source, overlaps allowed (UnorderedIntervalIterator)."""
    sources: tuple


@dataclass(frozen=True)
class IOr:
    """Intervals.or (DisjunctionIntervalsSource) — minimalized union."""
    sources: tuple


@dataclass(frozen=True)
class IContaining:
    """Intervals.containing (FilteringConjunctionIntervalsSource +
    ContainingIntervalFunction): big intervals that contain a small."""
    big: object
    small: object


@dataclass(frozen=True)
class INotContaining:
    """Intervals.notContaining (DifferenceIntervalsSource +
    NonContainingIntervalFunction): minuend intervals containing no
    subtrahend interval."""
    minuend: object
    subtrahend: object


@dataclass(frozen=True)
class IAtLeast:
    """Intervals.atLeast (MinimumShouldMatchIntervalsSource): minimal
    spans containing intervals from >= min_should_match sub-sources."""
    sources: tuple
    min_should_match: int


@dataclass(frozen=True)
class IPhrase:
    """Intervals.phrase (ConjunctionIntervalsSource + BLOCK function):
    sub-intervals in exact adjacency — each starts at the previous
    one's end + 1."""
    sources: tuple


@dataclass(frozen=True)
class IMaxWidth:
    """Intervals.maxwidth (FilteredIntervalsSource, Intervals.java:
    109-116): keep sub-intervals with end − start + 1 <= width."""
    source: object
    width: int


@dataclass(frozen=True)
class IMaxGaps:
    """Intervals.maxgaps as a COMBINATOR (Intervals.java:123-130):
    keep sub-intervals whose gaps <= the bound. gaps is realized as
    width − minExtent(source), exact whenever the wrapped conjunction's
    direct children are fixed-width (term / or-of-term) — the same
    contract the root-level IntervalsQuery.max_gaps uses."""
    source: object
    gaps: int


@dataclass(frozen=True)
class IExtend:
    """Intervals.extend (ExtendedIntervalsSource): every sub-interval
    [s, e] widens to [max(s − before, 0), e + after]."""
    source: object
    before: int
    after: int


@dataclass(frozen=True)
class IOffset:
    """OffsetIntervalsSource (internal — the before/after building
    block): a zero-length interval just before (max(0, start − 1)) or
    just after (end + 1) each sub-interval."""
    source: object
    before: bool = True


@dataclass(frozen=True)
class IContainedBy:
    """Intervals.containedBy (FilteringConjunctionIntervalsSource +
    ContainedByIntervalFunction): small intervals nested inside some
    big interval."""
    small: object
    big: object


@dataclass(frozen=True)
class INotContainedBy:
    """Intervals.notContainedBy (DifferenceIntervalsSource +
    NOT_CONTAINED_BY): small intervals NOT nested inside any big."""
    small: object
    big: object


@dataclass(frozen=True)
class IOverlapping:
    """Intervals.overlapping (FilteringConjunctionIntervalsSource +
    OVERLAPPING): source intervals sharing >= 1 position with a
    reference interval."""
    source: object
    reference: object


@dataclass(frozen=True)
class INonOverlapping:
    """Intervals.nonOverlapping (DifferenceIntervalsSource +
    NON_OVERLAPPING): minuend intervals sharing no position with any
    subtrahend interval."""
    minuend: object
    subtrahend: object


@dataclass(frozen=True)
class IFixField:
    """Intervals.fixField (FixedFieldIntervalsSource): the wrapped
    source reads postings from `field` regardless of the enclosing
    query's field."""
    field: str
    source: object


_IV_BIG = 1 << 29  # "unbounded" extend for before/after; stays < 2^32 packing


def interval_within(source, positions, reference):
    """Intervals.within (Intervals.java:244-249): source intervals
    within `positions` of a reference interval — the reference's own
    composition containedBy(source, extend(ref, positions, positions))."""
    return IContainedBy(source, IExtend(reference, positions, positions))


def interval_not_within(minuend, positions, subtrahend):
    """Intervals.notWithin (Intervals.java:231-238):
    nonOverlapping(minuend, extend(subtrahend, positions, positions))."""
    return INonOverlapping(minuend, IExtend(subtrahend, positions, positions))


def interval_before(source, reference):
    """Intervals.before (Intervals.java:308-312): source intervals that
    end before a reference interval starts —
    containedBy(source, extend(offset(ref, before), MAX, 0))."""
    return IContainedBy(source, IExtend(IOffset(reference, True), _IV_BIG, 0))


def interval_after(source, reference):
    """Intervals.after (Intervals.java:317-321)."""
    return IContainedBy(source, IExtend(IOffset(reference, False), 0, _IV_BIG))


def _iv_children(src) -> list:
    """(child sources, recursing targets) of any interval node."""
    if isinstance(src, (IOrdered, IUnordered, IOr, IAtLeast, IPhrase)):
        return list(src.sources)
    if isinstance(src, (IMaxWidth, IMaxGaps, IExtend, IOffset, IFixField)):
        return [src.source]
    if isinstance(src, IContaining):
        return [src.big, src.small]
    if isinstance(src, INotContaining):
        return [src.minuend, src.subtrahend]
    if isinstance(src, (IContainedBy, INotContainedBy)):
        return [src.small, src.big]
    if isinstance(src, IOverlapping):
        return [src.source, src.reference]
    if isinstance(src, INonOverlapping):
        return [src.minuend, src.subtrahend]
    raise TypeError(f"not an interval source: {src!r}")


def interval_source_terms(src) -> set:
    """All concrete leaf terms of a source tree (multi-term leaves must
    be expanded first — the searcher rewrite does this)."""
    if isinstance(src, ITerm):
        return {src.text}
    if isinstance(src, (IPrefix, IWildcard)):
        raise TypeError(
            f"unexpanded multi-term interval source: {src!r} — "
            "call expand() first"
        )
    kids = _iv_children(src)
    return set().union(*(interval_source_terms(s) for s in kids))


def interval_field_terms(src, field: str) -> set:
    """All (field, term) posting keys, respecting IFixField overrides."""
    if isinstance(src, ITerm):
        return {(field, src.text)}
    if isinstance(src, (IPrefix, IWildcard)):
        raise TypeError(
            f"unexpanded multi-term interval source: {src!r} — "
            "call expand() first"
        )
    if isinstance(src, IFixField):
        return interval_field_terms(src.source, src.field)
    kids = _iv_children(src)
    return set().union(*(interval_field_terms(s, field) for s in kids))


def interval_min_extent(src) -> int:
    """IntervalsSource.minExtent: term/multi-term 1; conjunctions
    (ordered/unordered/phrase) sum (ConjunctionIntervalsSource.java:
    66-71); or takes the min (DisjunctionIntervalsSource.java:94-99);
    filters/differences pass the kept side through
    (FilteredIntervalsSource.java:81, DifferenceIntervalsSource.java:91,
    FilteringConjunctionIntervalsSource.java:36); atLeast sums the n
    smallest (MinimumShouldMatchIntervalsSource.java:95-106); extend
    adds before + after (ExtendedIntervalsSource.java:65-71); offset is
    1 (OffsetIntervalsSource.java:152)."""
    if isinstance(src, (ITerm, IPrefix, IWildcard)):
        return 1
    if isinstance(src, (IOrdered, IUnordered, IPhrase)):
        return sum(interval_min_extent(s) for s in src.sources)
    if isinstance(src, IOr):
        return min(interval_min_extent(s) for s in src.sources)
    if isinstance(src, IContaining):
        return interval_min_extent(src.big)
    if isinstance(src, INotContaining):
        return interval_min_extent(src.minuend)
    if isinstance(src, (IContainedBy, INotContainedBy)):
        return interval_min_extent(src.small)
    if isinstance(src, IOverlapping):
        return interval_min_extent(src.source)
    if isinstance(src, INonOverlapping):
        return interval_min_extent(src.minuend)
    if isinstance(src, (IMaxWidth, IMaxGaps, IFixField)):
        return interval_min_extent(src.source)
    if isinstance(src, IExtend):
        return src.before + interval_min_extent(src.source) + src.after
    if isinstance(src, IOffset):
        return 1
    if isinstance(src, IAtLeast):
        exts = sorted(interval_min_extent(s) for s in src.sources)
        return sum(exts[:src.min_should_match])
    raise TypeError(f"not an interval source: {src!r}")


@dataclass(frozen=True)
class IntervalsQuery(Query):
    """IntervalQuery over interval sources (the sandbox intervals
    module: sandbox/.../search/intervals/IntervalQuery.java,
    Intervals.java, IntervalFunction.java): minimal-interval proximity
    scored with the saturation function
    f32(weight · (1 − pivot / (pivot + freq))),
    freq = Σ 1 / max(length − minExtent + 1, 1) over the doc's minimal
    intervals (IntervalScorer.java:62-70).

    Legacy flat shape: `terms` + ordered=True chains any number of term
    sources (OrderedIntervalIterator); unordered supports exactly two
    (the closed-form pair shape). The combinator shape passes `source`
    (a tree of ITerm/IPrefix/IWildcard/IOrdered/IUnordered/IOr/
    IContaining/INotContaining/IAtLeast) and ignores `terms`/`ordered`;
    n-ary IUnordered is supported there. max_gaps filters intervals
    with length − minExtent > max_gaps before accumulation
    (Intervals.maxgaps over the root source)."""
    terms: tuple = ()
    ordered: bool = False
    max_gaps: int | None = None
    pivot: float = 1.0
    field: str = DEFAULT_FIELD
    source: object = None


MAX_CLAUSE_COUNT = 1024  # BooleanQuery.maxClauseCount


def _expand_synonym_term(t: str, cfg, field: str):
    """Query-time SynonymGraphFilter on ONE analyzed token — the
    QueryBuilder shapes (util/QueryBuilder.java analyzeGraphBoolean):
    all paths single-token -> SynonymQuery; otherwise an OR of
    Term/Phrase per path (one bare path returns unwrapped). None when no
    rule triggers."""
    from ..kernels.synonyms import expand_query_token, rules_map

    paths = expand_query_token(t, rules_map(cfg.synonyms))
    if not paths:
        return None
    if all(len(p) == 1 for p in paths):
        members = tuple(dict.fromkeys(p[0] for p in paths))
        if len(members) == 1:
            return Term(members[0], field=field)
        return Synonym(members, field=field)
    clauses = [
        Term(p[0], field=field) if len(p) == 1 else Phrase(p, field=field)
        for p in paths
    ]
    if len(clauses) == 1:
        return clauses[0]
    return Bool.of(*((Occur.SHOULD, c) for c in clauses))


def _expand_synonym_phrase(terms: tuple, cfg, node):
    """Query-time synonym graph over a PHRASE's token sequence
    (QueryBuilder.createPhraseQuery over a graph stream): run the same
    graph+flatten the index ran; if the flattened stream is one token
    per position -> Phrase of the rewrite (Term for a single position);
    if positions stack but every slot is single tokens -> MultiPhrase.
    A multi-word side path inside a phrase is not representable -> None
    (caller keeps the plain analyzed Phrase)."""
    from ..kernels.synonyms import apply_synonym_graph, rules_map

    out_terms, out_pos = apply_synonym_graph(list(terms), rules_map(cfg.synonyms))
    if list(out_terms) == list(terms):
        return None
    slots: dict[int, list] = {}
    for t, p in zip(out_terms, out_pos):
        slots.setdefault(p, []).append(t)
    ordered = [tuple(slots[p]) for p in sorted(slots)]
    if all(len(s) == 1 for s in ordered):
        if len(ordered) == 1:
            return Term(ordered[0][0], field=node.field)
        return Phrase(
            tuple(s[0] for s in ordered), slop=node.slop, field=node.field
        )
    # stacked alternatives: only exact MultiPhrase when the graph had no
    # multi-word side path spanning >1 slot — the flatten sausage makes
    # that undetectable here, so only emit MultiPhrase for slop-0 single
    # stacking shapes produced by pure single-token equivalence classes
    if all(len(set(s)) == len(s) for s in ordered):
        return MultiPhrase(tuple(ordered), slop=node.slop, field=node.field)
    return None


def analyze_query_terms(q: Query, cfg, keyword_fields: frozenset) -> Query:
    """Re-analyze the TERM leaves of a query tree with the index's
    analyzer chain — what Lucene's QueryParser does with the analyzer it
    was constructed with. A stemmed index must stem query terms (`merges`
    -> `merg`) or recall silently collapses. Keyword fields stay verbatim
    (per-field KeywordAnalyzer); multi-term queries (Prefix/Wildcard/
    Regexp/Fuzzy/TermRange) are NOT analyzed, matching QueryParser's
    raw-term handling of MTQs. Stop words are left as-is — like a direct
    TermQuery for a stopped term, they simply match nothing.

    word_delimiter chains split ONE query term into MANY (`RowScan` ->
    row, scan): a Term leaf becomes an OR of the parts (QueryBuilder
    createBooleanQuery on a multi-token analysis, same shape the parser
    emits for analyzer-split tokens); Phrase slots flatten their parts
    into the sequence (createPhraseQuery). Span text keeps only the
    FIRST part — spans over split compounds are not representable in a
    single SpanTerm (compose SpanNear of parts explicitly instead).

    Per-token forms come from the chain's own stages
    (kernels.analyzer.query_forms): stacked-token stages (KeywordRepeat,
    phonetic, compounds) turn a Term into a SynonymQuery of their
    members, and the stages declaring phrase_slots turn a Phrase slot
    into MultiPhrase alternatives."""
    from ..kernels.analyzer import query_forms, tokenize_one

    def one(text: str) -> str:
        return query_forms(text, cfg, "none")[0]

    def many(text: str) -> list[str]:
        # chains that re-tokenize (wd / cjk bigram) or change the token
        # boundaries (char filters / pattern tokenizer) run the full
        # analyzer — one query term may become several ('data-driven'
        # under a hyphen-joining char filter becomes 'datadriven'; a CJK
        # run becomes its bigram sequence, and the multi-bigram Term ->
        # OR-of-parts below is QueryBuilder.analyzeMultiBoolean's shape)
        if cfg.retokenizes:
            return tokenize_one(text, cfg)[0]
        return [one(text)]

    def walk(node, field=DEFAULT_FIELD):
        if isinstance(node, str):  # span term sugar
            if field in keyword_fields:
                return node
            parts = many(node)
            return parts[0] if parts else one(node)
        if isinstance(node, Term):
            if node.field in keyword_fields:
                return node
            if cfg.retokenizes:
                parts = many(node.text)
                if len(parts) > 1:
                    return Bool.of(*((Occur.SHOULD, Term(p, field=node.field))
                                     for p in parts))
                forms = (parts[0] if parts else one(node.text),)
            else:
                forms = query_forms(node.text, cfg)
            if len(forms) > 1:
                # stacked tokens at one position -> SynonymQuery
                # (QueryBuilder over posIncr-0 tokens); members dedupe so
                # a compound part equal to the whole token does not
                # double-count the freq sum
                return Synonym(forms, field=node.field)
            if cfg.synonyms:
                syn = _expand_synonym_term(forms[0], cfg, node.field)
                if syn is not None:
                    return syn
            return Term(forms[0], field=node.field, df_override=node.df_override)
        if isinstance(node, MultiPhrase):
            if node.field in keyword_fields:
                return node
            return MultiPhrase(
                tuple(tuple(one(t) for t in slot) for slot in node.positions),
                slop=node.slop, field=node.field,
            )
        if isinstance(node, Blended):
            if node.field in keyword_fields:
                return node
            return Blended(
                tuple(one(t) for t in node.terms), boosts=node.boosts,
                tie_breaker=node.tie_breaker, field=node.field,
            )
        if isinstance(node, SpanTerm):
            if node.field in keyword_fields:
                return node
            return SpanTerm(one(node.text), field=node.field)
        if isinstance(node, (Synonym, Phrase)):
            if node.field in keyword_fields:
                return node
            if isinstance(node, Synonym):
                return Synonym(tuple(one(t) for t in node.terms), field=node.field)
            if cfg.retokenizes:
                slots = tuple((p,) for t in node.terms
                              for p in (many(t) or [one(t)]))
            else:
                slots = tuple(query_forms(t, cfg, "phrase") for t in node.terms)
            terms = tuple(slot[0] for slot in slots)
            if cfg.synonyms:
                syn = _expand_synonym_phrase(terms, cfg, node)
                if syn is not None:
                    return syn
            if cfg.common_grams:
                # CommonGramsQueryFilter: grams whenever possible,
                # displaced unigrams dropped; every emitted token takes
                # posIncr 1, so the rewritten phrase is consecutive
                from ..kernels.commongrams import common_grams_query

                toks = common_grams_query(list(terms), cfg.common_grams)
                if len(toks) == 1:
                    return Term(toks[0], field=node.field)
                return Phrase(tuple(toks), slop=node.slop, field=node.field)
            if any(len(slot) > 1 for slot in slots):
                # stacked parts at a slot -> MultiPhrase alternatives
                # (QueryBuilder.createPhraseQuery over a stream with
                # posIncr-0 tokens yields a MultiPhraseQuery)
                return MultiPhrase(slots, slop=node.slop, field=node.field)
            return Phrase(terms, slop=node.slop, field=node.field)
        if isinstance(node, SpanOr):
            return SpanOr(
                tuple(walk(c, node.field) for c in node.clauses), field=node.field
            )
        if isinstance(node, SpanNear):
            return SpanNear(
                tuple(walk(c, node.field) for c in node.terms),
                slop=node.slop, in_order=node.in_order, field=node.field,
            )
        if isinstance(node, SpanNot):
            return SpanNot(
                walk(node.include, node.field), walk(node.exclude, node.field),
                field=node.field,
            )
        if isinstance(node, SpanFirst):
            return SpanFirst(walk(node.match, node.field), node.end, field=node.field)
        if isinstance(node, SpanPositionRange):
            return _dc_replace(node, match=walk(node.match, node.field))
        if isinstance(node, (SpanContaining, SpanWithin)):
            return type(node)(
                walk(node.big, node.field), walk(node.little, node.field),
                field=node.field,
            )
        if isinstance(node, Boost):
            return Boost(walk(node.query), node.boost)
        if isinstance(node, ConstantScore):
            return ConstantScore(walk(node.query), node.score)
        if isinstance(node, (FunctionScore, FunctionExpr, PayloadScore)):
            return _dc_replace(node, query=walk(node.query))
        if isinstance(node, Bool):
            return Bool(
                tuple(Clause(c.occur, walk(c.query)) for c in node.clauses),
                node.min_should_match,
            )
        if isinstance(node, DisjunctionMax):
            return DisjunctionMax(
                tuple(walk(s) for s in node.queries), node.tie_breaker
            )
        if isinstance(node, Covering):
            return _dc_replace(node, queries=tuple(walk(s) for s in node.queries))
        return node  # MTQs, MatchAll/None, NumericRange: untouched

    return walk(q)


def rewrite(q: Query) -> Query:
    """Fixpoint simplification (BooleanQuery.java:211-290 subset):
    1-clause positive Bool → clause; empty Bool → MatchNone; pure-negative
    Bool → MatchNone; nested SHOULD-Bool flattening; Boost(1.0) unwrap."""
    while True:
        r = _rewrite_once(q)
        if r == q:
            return r
        q = r


def _rewrite_once(q: Query) -> Query:
    if isinstance(q, Boost):
        inner = rewrite(q.query)
        if q.boost == 1.0:
            return inner
        if isinstance(inner, MatchNone):
            return inner
        return Boost(inner, q.boost)
    if isinstance(q, DisjunctionMax):
        qs = tuple(rewrite(s) for s in q.queries)
        qs = tuple(s for s in qs if not isinstance(s, MatchNone))
        if not qs:
            return MatchNone()
        if len(qs) == 1:
            return qs[0]
        return DisjunctionMax(qs, q.tie_breaker)
    if isinstance(q, FunctionScore):
        inner = rewrite(q.query)
        if isinstance(inner, MatchNone):
            return inner
        return _dc_replace(q, query=inner)
    if isinstance(q, Covering):
        qs = tuple(s for s in (rewrite(c) for c in q.queries)
                   if not isinstance(s, MatchNone))
        if not qs:
            return MatchNone()
        return _dc_replace(q, queries=qs)
    if isinstance(q, FunctionExpr):
        inner = rewrite(q.query)
        if isinstance(inner, MatchNone):
            return inner
        return _dc_replace(q, query=inner)
    if not isinstance(q, Bool):
        return q
    clauses = []
    msm = q.min_should_match
    for cl in q.clauses:
        sub = rewrite(cl.query)
        if isinstance(sub, MatchNone):
            if cl.occur in (Occur.MUST, Occur.FILTER):
                return MatchNone()
            continue  # drop no-op SHOULD / MUST_NOT
        # flatten nested SHOULD-only Bool into a SHOULD context
        if (
            cl.occur == Occur.SHOULD
            and isinstance(sub, Bool)
            and sub.min_should_match <= 1
            and all(c.occur == Occur.SHOULD for c in sub.clauses)
        ):
            clauses.extend(sub.clauses)
            continue
        clauses.append(Clause(cl.occur, sub))
    if not clauses:
        return MatchNone()
    positive = [c for c in clauses if c.occur != Occur.MUST_NOT]
    if not positive:
        return MatchNone()  # pure negation matches nothing
    if len(clauses) == 1 and clauses[0].occur in (Occur.MUST, Occur.SHOULD):
        return clauses[0].query
    n_should = sum(1 for c in clauses if c.occur == Occur.SHOULD)
    if msm > n_should:
        return MatchNone()
    return Bool(tuple(clauses), min_should_match=msm)


def numeric_ranges(q: Query) -> set:
    """All NumericRange / NumericSet leaves in a query tree (resolved by
    the searcher against the doc-values columns of the norms table before
    scoring)."""
    if isinstance(q, (NumericRange, NumericSet, RangeField)):
        return {q}
    if isinstance(q, (Boost, ConstantScore, FunctionScore)):
        return numeric_ranges(q.query)
    if isinstance(q, Bool):
        return set().union(*(numeric_ranges(c.query) for c in q.clauses)) if q.clauses else set()
    if isinstance(q, DisjunctionMax):
        return set().union(*(numeric_ranges(s) for s in q.queries)) if q.queries else set()
    return set()


SPAN_TYPES = (SpanTerm, SpanOr, SpanNot, SpanFirst, SpanPositionRange, SpanNear,
              SpanContaining, SpanWithin)


def expr_fields(expr: tuple) -> set:
    """Doc-values fields referenced anywhere in a FunctionExpr AST."""
    op = expr[0]
    if op == "field":
        return {expr[1]}
    if op in ("lit", "score"):
        return set()
    return set().union(*(expr_fields(a) for a in expr[1:])) if expr[1:] else set()


def value_source_fields(q: Query) -> set:
    """Doc-values fields needed as SCORE INPUTS (FunctionScore leaves) —
    resolved by the searcher from the docmap's columns."""
    if isinstance(q, FunctionScore):
        return {q.field} | value_source_fields(q.query)
    if isinstance(q, Covering):
        return {q.field}.union(*(value_source_fields(s) for s in q.queries))
    if isinstance(q, FunctionExpr):
        return expr_fields(q.expr) | value_source_fields(q.query)
    if isinstance(q, (Boost, ConstantScore)):
        return value_source_fields(q.query)
    if isinstance(q, Bool):
        return set().union(*(value_source_fields(c.query) for c in q.clauses)) if q.clauses else set()
    if isinstance(q, DisjunctionMax):
        return set().union(*(value_source_fields(s) for s in q.queries)) if q.queries else set()
    return set()


def span_leaf_terms(q, field: str = DEFAULT_FIELD) -> set:
    """All (field, term) leaves of a span subtree (bare strings are term
    sugar in the enclosing query's field)."""
    if isinstance(q, str):
        return {(field, q)}
    if isinstance(q, SpanTerm):
        return {(q.field, q.text)}
    if isinstance(q, SpanOr):
        return set().union(*(span_leaf_terms(c, q.field) for c in q.clauses)) if q.clauses else set()
    if isinstance(q, SpanNear):
        return set().union(*(span_leaf_terms(c, q.field) for c in q.terms)) if q.terms else set()
    if isinstance(q, SpanNot):
        return span_leaf_terms(q.include, q.field) | span_leaf_terms(q.exclude, q.field)
    if isinstance(q, (SpanFirst, SpanPositionRange)):
        return span_leaf_terms(q.match, q.field)
    if isinstance(q, (SpanContaining, SpanWithin)):
        return span_leaf_terms(q.big, q.field) | span_leaf_terms(q.little, q.field)
    raise TypeError(f"not a span query: {q!r}")


def query_terms(q: Query) -> set:
    """All (field, term) posting keys the query touches (after expansion)."""
    if isinstance(q, Term):
        return {(q.field, q.text)}
    if isinstance(q, IntervalsQuery):
        if q.source is not None:
            return interval_field_terms(q.source, q.field)
        return {(q.field, t) for t in q.terms}
    if isinstance(q, (Synonym, Phrase)):
        return {(q.field, t) for t in q.terms}
    if isinstance(q, MultiPhrase):
        return {(q.field, t) for slot in q.positions for t in slot}
    if isinstance(q, SPAN_TYPES):
        return span_leaf_terms(q)
    if isinstance(q, PayloadScore):
        return span_leaf_terms(q.query, q.field)
    if isinstance(q, (Boost, ConstantScore, FunctionScore, FunctionExpr)):
        return query_terms(q.query)
    if isinstance(q, Bool):
        return set().union(*(query_terms(c.query) for c in q.clauses)) if q.clauses else set()
    if isinstance(q, (DisjunctionMax, Covering)):
        return set().union(*(query_terms(s) for s in q.queries)) if q.queries else set()
    if isinstance(q, (MatchAll, MatchNone, NumericRange, NumericSet,
                      RangeField)):
        return set()
    raise TypeError(f"unexpanded multi-term query: {q!r} — call expand() first")


def apply_synonyms(q: Query, synmap: dict) -> Query:
    """Query-time synonym expansion — what QueryBuilder does when the
    query analyzer chain contains a SynonymGraphFilter
    (analysis/synonym/SynonymGraphFilter.java + util/QueryBuilder.java
    :350-380 newSynonymQuery): a Term leaf whose text has an entry in
    the synonym map becomes a SynonymQuery over {term} ∪ synonyms
    (freqs summed, idfs summed — score-neutral between spellings).
    Single-token synonyms only (multi-word synonym paths would need the
    graph's positionLength handling); keyword-field leaves and MTQs stay
    untouched, like the analyzer-chain placement in the reference."""
    def walk(node):
        if isinstance(node, Term):
            # analyzed default field only: keyword fields are verbatim
            # (KeywordAnalyzer carries no synonym filter)
            syns = synmap.get(node.text) if node.field == DEFAULT_FIELD else None
            if syns:
                terms = tuple(dict.fromkeys((node.text, *syns)))  # stable-unique
                return Synonym(terms, field=node.field)
            return node
        if isinstance(node, Boost):
            return Boost(walk(node.query), node.boost)
        if isinstance(node, ConstantScore):
            return ConstantScore(walk(node.query), node.score)
        if isinstance(node, FunctionScore):
            return _dc_replace(node, query=walk(node.query))
        if isinstance(node, Bool):
            return Bool(
                tuple(Clause(c.occur, walk(c.query)) for c in node.clauses),
                node.min_should_match,
            )
        if isinstance(node, DisjunctionMax):
            return DisjunctionMax(
                tuple(walk(s) for s in node.queries), node.tie_breaker
            )
        return node  # Phrase/spans/MTQs/MatchAll/None/numeric: untouched
    return walk(q)
