"""HyphenationCompoundWordTokenFilter: the Liang/TeX hyphenator and the
decompose contract pinned by the reference's own test goldens over its
public Danish pattern file (analysis/common/src/test/.../compound/
TestCompoundWordTokenFilter.java:48-135 + da_UTF8.xml, read at test
time, not copied), plus scalar==vectorized stream agreement and the
query-side Synonym/MultiPhrase reshaping."""

import pandas as pd
import pytest

from lucene_solr_1_spark.kernels.analyzer import (
    HYPHEN_SPEC, HYPHENATION, AnalyzerConfig, analyze_series,
    flatten_tokens, tokenize_one,
)
from lucene_solr_1_spark.kernels.hyphenation import (
    HyphenationSpec, hyphen_decompose,
    hyphenation_points, parse_pattern_values, parse_patterns_xml,
)
from tests.conftest import reference_file


DA_XML = (
    "/root/reference/lucene/analysis/common/src/test/org/apache/lucene/"
    "analysis/compound/da_UTF8.xml"
)


@pytest.fixture(scope="module")
def da_spec():
    with open(reference_file(DA_XML), encoding="utf-8") as f:
        return parse_patterns_xml(f.read())


def test_pattern_value_extraction():
    # PatternParser.getPattern / getInterletterValues
    assert parse_pattern_values("ab5le") == ("able", (0, 0, 5, 0, 0))
    assert parse_pattern_values(".ae3") == (".ae", (0, 0, 0, 3))
    assert parse_pattern_values("3abst") == ("abst", (3, 0, 0, 0, 0))
    assert parse_pattern_values("ne4t5") == ("net", (0, 0, 4, 5))


def test_da_grammar_loads(da_spec):
    assert len(da_spec.patterns) > 1000
    assert dict(da_spec.classes)["A"] == "a"
    assert dict(da_spec.classes)["æ"] == "æ"


def test_hyphenation_da_golden(da_spec):
    """TestCompoundWordTokenFilter.testHyphenationCompoundWordsDA:
    dict {læse, hest}, defaults -> læsehest emits læse, hest."""
    d = frozenset({"læse", "hest"})
    assert hyphen_decompose("læsehest", da_spec, d) == ["læse", "hest"]
    # the other words of the golden sentence emit nothing
    for w in ("min", "veninde", "som", "er", "lidt", "af", "en"):
        assert hyphen_decompose(w, da_spec, d) == []


def test_hyphenation_longest_match_golden(da_spec):
    """testHyphenationCompoundWordsDELongestMatch: max=40 onlyLongest
    -> basketballkurv emits basketball, ball, kurv (basket suppressed
    by the longer basketball at the same start point)."""
    d = frozenset({"basketball", "basket", "ball", "kurv"})
    assert hyphen_decompose(
        "basketballkurv", da_spec, d, max_sub=40, only_longest=True
    ) == ["basketball", "ball", "kurv"]


def test_hyphenation_only_goldens(da_spec):
    """testHyphenationOnly: no dictionary, three min/max windows."""
    w = "basketballkurv"
    assert hyphen_decompose(w, da_spec, None, min_sub=2, max_sub=4) == [
        "ba", "sket", "bal", "ball", "kurv"
    ]
    assert hyphen_decompose(w, da_spec, None, min_sub=4, max_sub=6) == [
        "basket", "sket", "ball", "lkurv", "kurv"
    ]
    assert hyphen_decompose(w, da_spec, None, min_sub=4, max_sub=10) == [
        "basket", "basketbal", "basketball", "sket", "sketbal",
        "sketball", "ball", "ballkurv", "lkurv", "kurv"
    ]


def test_points_bounds(da_spec):
    # remain/push=1 (the filter's call): no point before the first or
    # after the last letter; word shorter than remain+push -> None
    pts = hyphenation_points("basketballkurv", da_spec)
    assert pts[0] == 0 and pts[-1] == 14
    assert all(1 <= p <= 13 for p in pts[1:-1])
    assert hyphenation_points("a", da_spec) is None


def test_non_class_char_aborts(da_spec):
    # a non-class char after letters -> not hyphenated (reference null)
    assert hyphenation_points("læse7hest", da_spec) is None
    assert hyphen_decompose("læse7hest", da_spec, None) == []


def test_exceptions_parse_and_apply():
    xml = """<?xml version="1.0" encoding="utf-8"?>
<hyphenation-info>
<classes>
aA bB eE lL tT
</classes>
<exceptions>
ta-ble
</exceptions>
<patterns>
a1b
</patterns>
</hyphenation-info>"""
    spec = parse_patterns_xml(xml)
    assert spec.exceptions == (("table", (2,)),)
    # exception word takes the stoplist path (points from the markers,
    # patterns ignored)
    assert hyphenation_points("table", spec) == [0, 2, 5]
    # non-exception words use patterns: a1b fires in "aabb" -> aa-bb
    assert hyphenation_points("aabb", spec) == [0, 2, 4]


def test_min_word_size_gate(da_spec):
    d = frozenset({"læse", "hest"})
    # 8 letters >= default min_word 5: processed
    assert hyphen_decompose("læsehest", da_spec, d)
    # below min_word: untouched even though parts would match
    assert hyphen_decompose("hest", da_spec, d, min_word=5) == []


def test_genitive_s_retry(da_spec):
    """The part-minus-last-char dictionary retry
    (HyphenationCompoundWordTokenFilter.java:178-198)."""
    # 'basketsballkurv'? keep it simple: part 'balls' not in dict but
    # 'ball' is -> 'ball' emitted via the one-shorter retry. Build a
    # word whose hyphen points isolate such a part.
    d_with = frozenset({"basketball", "kurv"})
    # parts of basketballkurv include 'ballkurv' etc.; craft instead on
    # the known points [0,2,6,9,10,14]: part (9,14)='lkurv', retry
    # 'lkur' — not in dict. Use (10,14)='kurv' directly vs a dict that
    # only has 'kur': retry of 'kurv' -> 'kur' IS emitted.
    d_kur = frozenset({"kur"})
    out = hyphen_decompose("basketballkurv", da_spec, d_kur)
    assert "kur" in out and "kurv" not in out
    out2 = hyphen_decompose("basketballkurv", da_spec, d_with)
    assert "basketball" in out2 and "kurv" in out2


def test_scalar_vectorized_flatten_agree():
    texts = [
        "Customer window merges fast",
        "the customer sort stream",
        "",
        "win dow merge customer window",
        "customer customer window",
    ]
    s = pd.Series(texts)
    vec = analyze_series(s, HYPHENATION)
    for t, v in zip(texts, vec):
        assert tokenize_one(t, HYPHENATION)[0] == list(v)
    ft, fr, fp, fd = flatten_tokens(s, HYPHENATION)
    for i, t in enumerate(texts):
        terms, poss = tokenize_one(t, HYPHENATION)
        m = fr == i
        assert list(ft[m]) == terms
        assert list(fp[m]) == poss
        assert fd[i] == len(terms)


def test_query_side_synonym_and_multiphrase():
    from lucene_solr_1_spark.search.query import (
        MultiPhrase, Phrase, Synonym, Term, analyze_query_terms,
    )

    q = analyze_query_terms(Term("customer"), HYPHENATION, frozenset())
    assert isinstance(q, Synonym)
    assert q.terms == ("customer", "cus", "custom", "tom")
    # non-decomposing term stays a Term
    q2 = analyze_query_terms(Term("merge"), HYPHENATION, frozenset())
    assert isinstance(q2, Term)
    # phrase slots stack the parts -> MultiPhrase
    q3 = analyze_query_terms(
        Phrase(("customer", "merge")), HYPHENATION, frozenset()
    )
    assert isinstance(q3, MultiPhrase)
    assert q3.positions[0] == ("customer", "cus", "custom", "tom")
    assert q3.positions[1] == ("merge",)


def test_config_guards():
    from lucene_solr_1_spark.kernels.analyzer import COMPOUND_DICT

    with pytest.raises(ValueError, match="hyphen_dict requires"):
        AnalyzerConfig(hyphen_dict=frozenset({"x"}))
    with pytest.raises(ValueError, match="one compound mode"):
        AnalyzerConfig(hyphen_spec=HYPHEN_SPEC, compound_dict=COMPOUND_DICT)
    with pytest.raises(ValueError, match="composes only"):
        AnalyzerConfig(hyphen_spec=HYPHEN_SPEC, stem=True)


def test_e2e_hyphenation_recall(spark, tmp_path_factory):
    """Index with the hyphenation chain: a query for a PART ('tom')
    finds docs that only contain 'customer' — the decompounding-recall
    contract, end to end."""
    from lucene_solr_1_spark.index.builder import build_index
    from lucene_solr_1_spark.search.query import Term
    from lucene_solr_1_spark.search.searcher import LuceneSparkSearcher

    rows = [
        ("org/r-0", "a.txt", "c0", "txt", "customer orders data"),
        ("org/r-0", "b.txt", "c1", "txt", "window scan merge"),
        ("org/r-1", "c.txt", "c2", "txt", "tom writes code"),
        ("org/r-1", "d.txt", "c3", "txt", "plain row batch"),
    ]
    pdf = pd.DataFrame(
        rows, columns=["repo", "path", "commit", "lang", "content"]
    )
    d = str(tmp_path_factory.mktemp("idx_hyph"))
    build_index(spark, spark.createDataFrame(pdf), d, num_segments=2,
                cfg=HYPHENATION)
    s = LuceneSparkSearcher(spark, d)
    hits = s.search(Term("tom"), k=10, with_stored=True)
    contents = set(hits["content"])
    assert any("customer" in c for c in contents)  # via the injected part
    assert any("tom writes" in c for c in contents)  # the raw token
    # parts ride at the compound's position: phrase across the original
    # stream still works
    hits2 = s.search(Term("win"), k=10, with_stored=True)
    assert any("window" in c for c in hits2["content"])
