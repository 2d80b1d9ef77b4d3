"""The searcher reads its term dictionary and doc values on the driver.

Multi-term expansion (TopTermsRewrite, the fuzzy boost order, the
uncapped constant-score list, span and interval leaves), index_field_stats
and the doc-values sets (NumericRange, NumericSet, RangeField, value
sources) are read from the segment files. Each must equal the Spark scan
the searcher used to run for it, kept here as the reference: a Catalyst
predicate over the postings table, or a filter over the norms table. The
index has tombstones, an appended segment, a doc-values generation
(`norms-g<N>.parquet`), non-ASCII terms and more than 1,024 terms under
one prefix, so the cap binds. A Regexp matches whole terms, as Lucene's
RegexpQuery does.

Every such query shape on a cold searcher runs no Spark job. A batch past
MAX_DOCS_PER_SLICE runs one Spark job of one task per leaf slice, and its
plan holds no Exchange.
"""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lucene_solr_1_spark.corpus import make_corpus_pandas
from lucene_solr_1_spark.index import deletes as D
from lucene_solr_1_spark.index import manifest as mf
from lucene_solr_1_spark.index.builder import (
    add_documents, build_index, norms_paths, postings_paths,
)
from lucene_solr_1_spark.index.docvalues import update_numeric_docvalue
from lucene_solr_1_spark.kernels.osa import osa_udf
from lucene_solr_1_spark.search import searcher as S
from lucene_solr_1_spark.search.parser import parse
from lucene_solr_1_spark.search.query import (
    MAX_CLAUSE_COUNT, Bool, FunctionScore, Fuzzy, IntervalsQuery, IOrdered,
    IPrefix, ITerm, IWildcard, MatchAll, NumericRange, NumericSet, Occur,
    Prefix, RangeField, Regexp, SpanMultiTerm, SpanNear, SpanTerm, Term,
    TermRange, Wildcard,
)

N_ZQ = 1100  # zqNNNN terms: more than MAX_CLAUSE_COUNT under one prefix
NON_ASCII = ["café", "cafe", "caffè", "naïve", "ñandú", "über", "cafés", "çà"]


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    """300 corpus files and 40 files of zqNNNN terms (1 to 3 files each)
    in 3 segments, an appended segment of non-ASCII terms, two
    tombstones and a doc-values generation."""
    corpus = make_corpus_pandas(300)
    zq = pd.DataFrame({
        "repo": "z", "path": [f"zq/{i:03d}" for i in range(40)], "commit": "c",
        "lang": "en",
        "content": [" ".join(f"zq{j:04d}" for j in range(N_ZQ) if j % 40 == i
                             or (j * 7) % 40 == i or (j % 3 == 0 and (j * 11) % 40 == i))
                    for i in range(40)],
    })
    words = pd.DataFrame({
        "repo": "u", "path": [f"u/{i}" for i in range(8)], "commit": "c",
        "lang": "fr", "content": [" ".join(NON_ASCII[i:] + ["return"]) for i in range(8)],
    })
    d = str(tmp_path_factory.mktemp("idx_reads") / "idx")
    build_index(spark, spark.createDataFrame(pd.concat([corpus, zq], ignore_index=True)),
                d, num_segments=3)
    add_documents(spark, spark.createDataFrame(words), d, num_segments=1)
    for path in (corpus["path"].iloc[7], "u/3"):
        D.delete_by_term(spark, d, path, field="path")
    update_numeric_docvalue(spark, d, "fr", "dl", 77)
    m = mf.read_manifest(d)
    assert any(s.get("norms_file") for s in m["segments"])
    return d


@pytest.fixture
def searcher(spark, index):
    return S.LuceneSparkSearcher(spark, index)


# ---------------- the Spark scans the searcher used to run ------------------

def _postings(spark, d):
    return spark.read.parquet(*postings_paths(d, mf.read_manifest(d)))


def _norms(spark, d):
    return spark.read.parquet(*norms_paths(d, mf.read_manifest(d)))


def _fuzzy_parts(q):
    pl = min(max(q.prefix_length, 0), len(q.text))
    return pl, q.text[pl:], q.max_edits == 0 or pl >= len(q.text)


def _mtq_cond(q):
    """The Catalyst predicate of a multi-term query over the term
    dictionary; a Regexp is anchored around the whole pattern."""
    col, in_field = F.col("term"), F.col("field") == q.field
    if isinstance(q, Prefix):
        return in_field & col.startswith(q.prefix)
    if isinstance(q, Wildcard):
        rx = re.escape(q.pattern).replace(r"\*", ".*").replace(r"\?", ".")
        return in_field & col.rlike("^" + rx + "$")
    if isinstance(q, Regexp):
        return in_field & col.rlike("^(?:" + q.pattern + ")$")
    if isinstance(q, Fuzzy):
        pl, suffix, exact_only = _fuzzy_parts(q)
        if exact_only:
            return in_field & (col == q.text)
        cond = in_field & col.startswith(q.text[:pl]) if pl else in_field
        suf_col = F.expr(f"substring(term, {pl + 1})") if pl else col
        lo, hi = len(q.text) - q.max_edits, len(q.text) + q.max_edits
        return cond & F.length(col).between(lo, hi) & (
            osa_udf(suffix)(suf_col) <= q.max_edits)
    cond = in_field
    if q.lower is not None:
        cond = cond & (col >= q.lower if q.include_lower else col > q.lower)
    if q.upper is not None:
        cond = cond & (col <= q.upper if q.include_upper else col < q.upper)
    return cond


def _dictionary(spark, d):
    return _postings(spark, d).groupBy("field", "term").agg(F.sum("doc_freq").alias("df"))


def _spark_terms(spark, d, q, cap=MAX_CLAUSE_COUNT) -> list:
    t = _dictionary(spark, d).where(_mtq_cond(q))
    if cap is None:
        return sorted(r["term"] for r in t.collect())
    return [r["term"] for r in
            t.orderBy(F.desc("df"), F.asc("term")).limit(cap).collect()]


def _spark_fuzzy(spark, d, q) -> list:
    pl, suffix, exact_only = _fuzzy_parts(q)
    if exact_only:
        dist = F.lit(0)
    else:
        dist = osa_udf(suffix)(F.expr(f"substring(term, {pl + 1})") if pl else F.col("term"))
    rows = (_dictionary(spark, d).where(_mtq_cond(q)).withColumn("dist", dist)
            .withColumn("boost", 1.0 - F.col("dist")
                        / F.least(F.length("term"), F.lit(len(q.text))))
            .orderBy(F.desc("boost"), F.asc("term")).limit(MAX_CLAUSE_COUNT).collect())
    return [(r["term"], int(r["dist"])) for r in rows]


def _end_to_end(d, pdf: pd.DataFrame) -> pd.DataFrame:
    """`pdf`'s rows in global docIDs: each segment's rows sorted by
    doc_id and shifted by its doc_base, the segments laid end to end in
    doc_base order."""
    parts = []
    for s in sorted(mf.read_manifest(d)["segments"], key=lambda s: s["doc_base"]):
        g = pdf[pdf["segment_id"] == s["segment_id"]].sort_values("doc_id")
        parts.append(g.assign(doc_id=g["doc_id"].to_numpy(np.int64) + s["doc_base"]))
    return pd.concat(parts)


def _spark_doc_values(spark, d, nr) -> np.ndarray:
    """The global docs of a doc-values filter over the norms scan."""
    if isinstance(nr, RangeField):
        def rel(name):
            cond = F.lit(True)
            for (mn, mx), lo, hi in zip(nr.dims, nr.lower, nr.upper):
                a, b = F.col(mn), F.col(mx)
                cond = cond & {"intersects": (a <= hi) & (b >= lo),
                               "within": (a >= lo) & (b <= hi),
                               "contains": (a <= lo) & (b >= hi)}[name]
            return cond
        cond = (rel("intersects") & ~rel("within") if nr.relation == "crosses"
                else rel(nr.relation))
    elif isinstance(nr, NumericSet):
        cond = F.col(nr.field).isin([int(v) for v in nr.values])
    else:
        cond = F.lit(True)
        if nr.lower is not None:
            cond = cond & (F.col(nr.field) >= int(nr.lower))
        if nr.upper is not None:
            cond = cond & (F.col(nr.field) <= int(nr.upper))
    pdf = _norms(spark, d).where(cond).select("segment_id", "doc_id").toPandas()
    return _end_to_end(d, pdf)["doc_id"].to_numpy(np.int64)


# ---------------- the term dictionary --------------------------------------

MTQS = [
    Prefix("re"), Prefix("zq"), Prefix("caf"), Prefix("nope"), Prefix("en", field="lang"),
    Wildcard("*e?"), Wildcard("r?t*"), Wildcard("caf?"), Wildcard("zq1*"),
    Regexp("[a-m].*[0-9]"), Regexp("zq[0-9]+"), Regexp("ret|class"), Regexp("caf.*"),
    TermRange("a", "m"), TermRange("zq0000", "zq9999"), TermRange(None, "c", include_upper=False),
    TermRange("id_1", "id_3", False, False), TermRange("cafe", "cafê"), TermRange("ñ", None),
]


@pytest.mark.parametrize("q", MTQS, ids=repr)
def test_expansion_equals_the_catalyst_predicate(spark, index, searcher, q):
    assert searcher._expand_terms(q) == _spark_terms(spark, index, q)
    assert sorted(searcher._expand_terms(q, cap=None)) == _spark_terms(spark, index, q, None)


def test_the_cap_binds_in_top_terms_order(spark, index, searcher):
    for q in (Regexp("zq[0-9]+"), TermRange("zq0000", "zq9999"), Prefix("zq")):
        capped = searcher._expand_terms(q)
        assert len(capped) == MAX_CLAUSE_COUNT
        assert len(searcher._expand_terms(q, cap=None)) == N_ZQ
        assert capped == _spark_terms(spark, index, q)
        dfs = searcher._global_df({("content", t) for t in capped})
        assert len(set(dfs.values())) > 1  # the df order is exercised


@pytest.mark.parametrize("text", ["retrn", "clas", "cafe", "zq0123"])
@pytest.mark.parametrize("max_edits", [0, 1, 2])
@pytest.mark.parametrize("prefix_length", [0, 2, 9])
def test_fuzzy_expansion_equals_the_osa_scan(spark, index, searcher, text, max_edits,
                                             prefix_length):
    q = Fuzzy(text, max_edits, prefix_length=prefix_length)
    assert searcher._expand_fuzzy(q) == _spark_fuzzy(spark, index, q)
    assert sorted(searcher._expand_terms(q, cap=None)) == _spark_terms(spark, index, q, None)


def test_fuzzy_counts_code_points(searcher):
    """`café` is one edit from `cafe` in code points (two in UTF-8 bytes),
    `cafés` two."""
    pairs = dict(searcher._expand_fuzzy(Fuzzy("cafe", 1)))
    assert pairs["cafe"] == 0 and pairs["café"] == 1 and "cafés" not in pairs


def test_regexp_matches_whole_terms(searcher):
    """`ret|class` is `(ret)|(class)`: `return` starts with `ret` but is
    not the whole of it."""
    assert searcher._expand_terms(Regexp("ret|class"), cap=None) == ["class"]
    hits = searcher.search(Regexp("ret|class"), k=5, with_stored=False)
    assert hits.attrs["total_hits"] == searcher.search(Term("class"), k=5).attrs["total_hits"]


def test_span_and_interval_leaves(spark, index, searcher):
    span = searcher.expand(SpanMultiTerm(Wildcard("zq00?1")))
    assert [c.text for c in span.clauses] == _spark_terms(spark, index, Wildcard("zq00?1"))
    leaf = searcher._expand_interval_tree(IPrefix("zq00"), "content")
    assert [t.text for t in leaf.sources] == _spark_terms(spark, index, Prefix("zq00"), None)
    leaf = searcher._expand_interval_tree(IWildcard("caf?"), "content")
    assert [t.text for t in leaf.sources] == ["cafe", "café"]
    with pytest.raises(ValueError, match="too many terms"):
        searcher._expand_interval_tree(IPrefix("zq", max_expansions=128), "content")
    searcher._expand_interval_tree(IPrefix("zq00", max_expansions=100), "content")
    with pytest.raises(ValueError, match="too many terms"):
        searcher._expand_interval_tree(IPrefix("zq00", max_expansions=99), "content")


def test_index_field_stats_equals_the_aggregation(spark, index, searcher):
    want = (_postings(spark, index).groupBy("field")
            .agg(F.count_distinct("term").cast("bigint").alias("n_terms"),
                 F.sum("doc_freq").cast("bigint").alias("sum_df"))
            .orderBy("field").toPandas())
    pd.testing.assert_frame_equal(searcher.index_field_stats(), want)


# ---------------- doc values ------------------------------------------------

DV = [
    NumericRange("dl", 20, 200), NumericRange("dl", None, 60), NumericRange("n_chars", 300, None),
    NumericRange("dl", None, None), NumericRange("dl", 77, 77),
    NumericSet("dl", (50, 51, 77)), NumericSet("n_chars", (1,)),
    *(RangeField((("dl", "n_chars"),), (60,), (700,), rel)
      for rel in ("intersects", "within", "contains", "crosses")),
    RangeField((("dl", "n_chars"),), (300,), (310,), "contains"),
    RangeField((("dl", "dl"), ("n_chars", "n_chars")), (10, 100), (80, 900), "within"),
]


@pytest.mark.parametrize("nr", DV, ids=repr)
def test_doc_values_sets_equal_the_norms_filter(spark, index, nr):
    m = mf.read_manifest(index)
    got = S._doc_values(index, m, {nr}, set())
    assert set(got) == {S.K.numeric_set_id(nr)}
    np.testing.assert_array_equal(got[S.K.numeric_set_id(nr)],
                                  _spark_doc_values(spark, index, nr))


def test_value_sources_read_the_live_generation(spark, index):
    m = mf.read_manifest(index)
    got = S._doc_values(index, m, set(), {"dl", "n_chars"})
    pdf = _norms(spark, index).select("segment_id", "doc_id", "dl", "n_chars").toPandas()
    assert (pdf["dl"] == 77).sum() >= 7  # the generation's updated values
    want = _end_to_end(index, pdf)
    assert set(got) == {"values:dl", "values:n_chars"}
    for f in ("dl", "n_chars"):
        docs, vals = got[f"values:{f}"]
        np.testing.assert_array_equal(docs, want["doc_id"].to_numpy(np.int64))
        np.testing.assert_array_equal(vals, want[f].to_numpy(np.float64))


def test_unknown_doc_values_field_raises_before_any_route(searcher, monkeypatch):
    q = Bool.of((Occur.MUST, Term("return")), (Occur.FILTER, NumericRange("size", 1, 2)))
    with pytest.raises(ValueError, match="unknown numeric doc-values"):
        searcher.search(q)
    monkeypatch.setattr(S, "MAX_DOCS_PER_SLICE", -1)
    searcher._result_cache.clear()
    with pytest.raises(ValueError, match="unknown numeric doc-values"):
        searcher.search(q)


# ---------------- job and plan pins -----------------------------------------

COLD_SHAPES = {
    "prefix": Prefix("re"), "wildcard": Wildcard("r?t*"), "regexp": Regexp("caf.*"),
    "termrange": TermRange("a", "c"), "fuzzy": Fuzzy("retrn", 2),
    "matchall": MatchAll(), "matchall_not": parse("*:* -return"),
    "term_numeric_filter": Bool.of((Occur.MUST, Term("return")),
                                   (Occur.FILTER, NumericRange("dl", 20, 200))),
    "numeric_set": Bool.of((Occur.SHOULD, Term("class")),
                           (Occur.FILTER, NumericSet("dl", (50, 77)))),
    "function_score": FunctionScore(Term("return"), "dl", "multiply", 0.01),
    "span_multiterm": SpanNear((SpanMultiTerm(Prefix("ret")), SpanTerm("class")),
                               slop=5, in_order=False),
    "interval_prefix": IntervalsQuery(source=IOrdered((IPrefix("ret"), ITerm("class")))),
}


@pytest.mark.parametrize("name", sorted(COLD_SHAPES))
def test_cold_searcher_runs_no_spark_job(spark, index, count_jobs, name):
    s = S.LuceneSparkSearcher(spark, index)
    with count_jobs() as jobs:
        hits = s.search(COLD_SHAPES[name], k=10, with_stored=True)
    assert len(jobs) == 0, name
    assert len(hits), name


def test_search_local_doc_values_and_field_stats_run_no_spark_job(spark, index, count_jobs):
    s = S.LuceneSparkSearcher(spark, index)
    with count_jobs() as jobs:
        s.search_local(COLD_SHAPES["term_numeric_filter"], k=10)
        s.index_field_stats()
    assert len(jobs) == 0


@pytest.fixture
def executed_plans(spark, monkeypatch):
    """The executed physical plan of every DataFrame collected with
    toPandas inside the test."""
    plans = []
    cls = type(spark.range(1))
    to_pandas = cls.toPandas

    def recorded(self):
        out = to_pandas(self)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(cls, "toPandas", recorded)
    return plans


@pytest.mark.parametrize("name", ["term", "matchall_not", "term_numeric_filter", "prefix"])
def test_spark_route_is_one_job_without_exchange(spark, index, count_jobs, executed_plans,
                                                 monkeypatch, name):
    q = Term("return") if name == "term" else COLD_SHAPES[name]
    s = S.LuceneSparkSearcher(spark, index)
    want = s.search(q, k=10, with_stored=False)
    monkeypatch.setattr(S, "MAX_DOCS_PER_SLICE", -1)
    s._result_cache.clear()
    with count_jobs() as jobs:
        got = s.search(q, k=10, with_stored=False)
    assert len(jobs) == 1
    (plan,) = executed_plans
    assert "MapInPandas" in plan and "Exchange" not in plan, plan
    pd.testing.assert_frame_equal(want, got)
    assert want.attrs == got.attrs


def test_cost_counts_every_doc_for_matchall(spark, index, monkeypatch):
    """Just below doc_count, a MatchAll goes to Spark while a rare term
    stays on the driver."""
    s = S.LuceneSparkSearcher(spark, index)
    routes = []
    spark_route = S.LuceneSparkSearcher._score_spark

    def spy(self, *args):
        routes.append("spark")
        return spark_route(self, *args)

    monkeypatch.setattr(S.LuceneSparkSearcher, "_score_spark", spy)
    monkeypatch.setattr(S, "MAX_DOCS_PER_SLICE", s.doc_count - 1)
    s.search(Term("zq0001"), k=5)
    assert routes == []
    s.search(MatchAll(), k=5)
    assert routes == ["spark"]
