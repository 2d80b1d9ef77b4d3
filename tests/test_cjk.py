"""CJK bigram chain — goldens mirror the reference's
TestCJKBigramFilter.java (testAllScripts / testHanOnly /
testUnigramsAndBigrams* / testHuge) plus CJKWidthFilter folding and the
scalar==vectorized stream equivalence the round-3 invariants require.
"""

import sys
from pathlib import Path

import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from lucene_solr_1_spark.kernels.analyzer import (  # noqa: E402
    CJK,
    CJK_UNIBI,
    AnalyzerConfig,
    analyze_series,
    flatten_tokens,
    tokenize_one,
)
from lucene_solr_1_spark.kernels.cjk import (  # noqa: E402
    CJK_ALL,
    HAN,
    HANGUL,
    HIRAGANA,
    KATAKANA,
    cjk_expand,
    cjk_width_fold,
    segment_token,
)

S = "多くの学生が試験に落ちた。"
NOSTOP = AnalyzerConfig(cjk_bigram=CJK_ALL)
NOSTOP_UNIBI = AnalyzerConfig(cjk_bigram=CJK_ALL, cjk_output_unigrams=True)


def test_all_scripts_golden():
    # TestCJKBigramFilter.testAllScripts
    terms, pos = tokenize_one(S, NOSTOP)
    assert terms == ["多く", "くの", "の学", "学生", "生が", "が試",
                     "試験", "験に", "に落", "落ち", "ちた"]
    assert pos == list(range(11))


def test_han_only_golden():
    # TestCJKBigramFilter.testHanOnly: hiragana pass through per-char,
    # Han runs bigram (学生, 試験), lone Han chars emit unigrams
    terms, pos = tokenize_one(S, AnalyzerConfig(cjk_bigram=HAN))
    assert terms == ["多", "く", "の", "学生", "が", "試験", "に",
                     "落", "ち", "た"]
    assert pos == list(range(10))


def test_unigrams_and_bigrams_golden():
    # TestCJKBigramFilter.testUnigramsAndBigramsAllScripts: unigram then
    # its bigram stacked at the same position (posInc 0, posLength 2)
    terms, pos = tokenize_one(S, NOSTOP_UNIBI)
    assert terms == [
        "多", "多く", "く", "くの", "の", "の学", "学", "学生", "生",
        "生が", "が", "が試", "試", "試験", "験", "験に", "に", "に落",
        "落", "落ち", "ち", "ちた", "た",
    ]
    assert pos == [0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6, 7, 7, 8, 8,
                   9, 9, 10, 10, 11]


def test_unigrams_and_bigrams_han_only_golden():
    # TestCJKBigramFilter.testUnigramsAndBigramsHanOnly
    terms, pos = tokenize_one(
        S, AnalyzerConfig(cjk_bigram=HAN, cjk_output_unigrams=True)
    )
    assert terms == ["多", "く", "の", "学", "学生", "生", "が", "試",
                     "試験", "験", "に", "落", "ち", "た"]
    assert pos == [0, 1, 2, 3, 3, 4, 5, 6, 6, 7, 8, 9, 10, 11, 12][:14]


def test_huge_run_bigrams_across_repeats():
    # TestCJKBigramFilter.testHuge: one unbroken 132-char run bigrams
    # straight through the sentence repeats (no punctuation = no break)
    text = "多くの学生が試験に落ちた" * 11
    terms, _ = tokenize_one(text, NOSTOP)
    assert len(terms) == 12 * 11 - 1
    assert terms[:12] == ["多く", "くの", "の学", "学生", "生が", "が試",
                          "試験", "験に", "に落", "落ち", "ちた", "た多"]
    assert terms[-1] == "ちた"


def test_non_cjk_passthrough_and_stop():
    # non-CJK tokens pass through unmodified; CJKAnalyzer stops apply
    # AFTER bigramming and consume positions
    terms, pos = tokenize_one("the index of 学生 data", CJK)
    assert terms == ["index", "学生", "data"]
    assert pos == [1, 3, 4]


def test_mixed_scripts_one_run():
    # adjacent enabled scripts bigram ACROSS the script boundary
    # (offset-aligned buffer, CJKBigramFilter.java:185-200)
    terms, _ = tokenize_one("委員会が", NOSTOP)
    assert terms == ["委員", "員会", "会が"]
    # katakana run + hiragana continues the buffer
    terms2, _ = tokenize_one("グッズが", NOSTOP)
    assert terms2 == ["グッ", "ッズ", "ズが"]


def test_hangul_and_mixed_alphanum():
    # pure-Hangul token bigrams; Hangul+Latin mixed token is <ALPHANUM>
    # and passes through whole (CJKBigramFilter.java:46-54 javadoc)
    terms, _ = tokenize_one("한국어", NOSTOP)
    assert terms == ["한국", "국어"]
    terms2, _ = tokenize_one("한국abc", NOSTOP)
    assert terms2 == ["한국abc"]
    # latin adjacent but separate: han splits from latin inside a token
    terms3, _ = tokenize_one("abc多く", NOSTOP)
    assert terms3 == ["abc", "多く"]


def test_lone_cjk_unigram():
    terms, pos = tokenize_one("see 図 now", NOSTOP)
    assert terms == ["see", "図", "now"]
    assert pos == [0, 1, 2]


def test_width_fold():
    # CJKWidthFilter: fullwidth Latin -> halfwidth; halfwidth katakana ->
    # composed fullwidth (ｶ + voice mark -> ガ)
    assert cjk_width_fold("Ｔｅｓｔ １２３") == "Test 123"
    assert cjk_width_fold("ｶﾞｷﾞｸﾞ") == "ガギグ"
    terms, _ = tokenize_one("Ｔｅｓｔ ｶﾞｷﾞ", NOSTOP)
    assert terms == ["test", "ガギ"]


def test_width_fold_astral_chars():
    # emoji and astral Han sort above U+FFEF but are not width forms
    astral = "ok 😀 𠀋𠂉 done"
    assert cjk_width_fold(astral) == astral
    assert cjk_width_fold("😀Ｔｅｓｔ𠀋ｶﾞ") == "😀Test𠀋ガ"


def test_segment_token_types():
    assert segment_token("学生") == [("学", HAN), ("生", HAN)]
    assert segment_token("くの") == [("く", HIRAGANA), ("の", HIRAGANA)]
    assert segment_token("グッズ") == [("グッズ", KATAKANA)]
    assert segment_token("한국") == [("한국", HANGUL)]
    assert segment_token("한국abc") == [("한국abc", 0)]
    assert segment_token("abc") == [("abc", 0)]


def test_expand_width_accounting():
    # bigram-only: n codepoints consume n-1 positions; unigram 1;
    # unigram+bigram: n positions
    _, w = cjk_expand("学生試")
    assert w == 2
    _, w1 = cjk_expand("図")
    assert w1 == 1
    _, wu = cjk_expand("学生試", output_unigrams=True)
    assert wu == 3


def test_scalar_vs_vectorized_streams():
    texts = pd.Series([
        S, "多くの学生が試験に落ちた" * 3, "plain ascii text only",
        "mixed 学生 and ガギ data", "한국어 조사 the 図", "",
        "Ｔｅｓｔ ｶﾞ fullwidth", "abc한국 mixed alnum",
        None, "委員会が " + S,
    ])
    for cfg in (CJK, CJK_UNIBI, NOSTOP,
                AnalyzerConfig(cjk_bigram=HAN | HANGUL)):
        want_terms = [tokenize_one(t or "", cfg)[0] for t in texts]
        got_series = analyze_series(texts, cfg)
        assert list(got_series) == want_terms, cfg
        terms, rows, pos, dl = flatten_tokens(texts, cfg)
        for d in range(len(texts)):
            wt, wp = tokenize_one(texts[d] or "", cfg)
            sel = rows == d
            assert list(terms[sel]) == wt, (cfg, d)
            assert list(pos[sel]) == wp, (cfg, d)
            assert dl[d] == len(wt)


def test_config_guards():
    import pytest

    with pytest.raises(ValueError):
        AnalyzerConfig(cjk_bigram=CJK_ALL, stem=True)
    with pytest.raises(ValueError):
        AnalyzerConfig(cjk_output_unigrams=True)
    with pytest.raises(ValueError):
        AnalyzerConfig(cjk_bigram=CJK_ALL, word_delimiter=1)


def test_query_side_shapes():
    from lucene_solr_1_spark.search.query import (Bool, Phrase, Term,
                                                  analyze_query_terms)

    kw = frozenset({"repo", "path", "commit", "lang"})
    # multi-bigram Term -> OR of bigrams (QueryBuilder.analyzeMultiBoolean)
    q = analyze_query_terms(Term("学生試"), CJK, kw)
    assert isinstance(q, Bool)
    assert {c.query.text for c in q.clauses} == {"学生", "生試"}
    # two-char run -> single bigram Term
    q1 = analyze_query_terms(Term("学生"), CJK, kw)
    assert isinstance(q1, Term) and q1.text == "学生"
    # phrase slots flatten into the bigram sequence
    q2 = analyze_query_terms(Phrase(("多くの", "学生")), CJK, kw)
    assert isinstance(q2, Phrase)
    assert q2.terms == ("多く", "くの", "学生")


def test_index_guard_rejects_offsets():
    import pytest

    from lucene_solr_1_spark.index.segment import build_segment_frames

    pdf = pd.DataFrame({
        "repo": ["r"], "path": ["p"], "commit": ["c"], "lang": ["x"],
        "content": ["多くの学生"],
    })
    with pytest.raises(ValueError):
        build_segment_frames(pdf, cfg=CJK, store_offsets=True)


def test_e2e_index_and_search(tmp_path):
    """End-to-end: a CJK-annotated mini corpus indexed with the CJK
    analyzer; a two-char query stems to one bigram and ranks docs by
    BM25 over bigram tf."""
    import pytest

    spark = pytest.importorskip("pyspark.sql").SparkSession.getActiveSession()
    if spark is None:
        from lucene_solr_1_spark.session import get_spark

        spark = get_spark("cjktest", master="local[2]")
    from lucene_solr_1_spark.index.builder import build_index
    from lucene_solr_1_spark.search.query import Term
    from lucene_solr_1_spark.search.searcher import LuceneSparkSearcher

    rows = [
        ("r", f"p{i}", "c", "x", txt)
        for i, txt in enumerate([
            "会社員 works at 会社 every day",
            "the 会社 merged", "図 only a lone char here",
            "no cjk at all", "会社員 and 会社員 twice",
        ])
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    idx = tmp_path / "cjkidx"
    build_index(spark, df, str(idx), num_segments=2, cfg=CJK)
    s = LuceneSparkSearcher(spark, str(idx))
    hits = s.search(Term("会社"), k=10, with_stored=False)
    # docs 0,1,4 contain the 会社 bigram (会社員 contributes it too)
    assert len(hits) == 3
    # manifest stickiness: the searcher re-analyzed the query through
    # the cjk chain; a 3-char query becomes an OR of two bigrams
    hits2 = s.search(Term("会社員"), k=10, with_stored=False)
    assert len(hits2) == 3


def test_oracle_plant_expansion_is_one_pass():
    """kernel_cjk_duck's plant replacement runs in one pass over the
    original text: two 3-char plants whose bigram streams overlap (both
    hold 京都, itself a plant) give the engine's stream for each, and a
    replacement that contains another plant is never replaced again."""
    import duckdb

    from lucene_solr_1_spark.sql.kernel_oracle import _replace_all_sql

    def expand(mapping, text):
        sql = _replace_all_sql("t", mapping)
        return duckdb.execute(f"SELECT {sql} FROM (SELECT ? AS t)", [text]).fetchone()[0]

    plants = ("東京都", "京都府", "京都")
    mapping = {p: " ".join(t for t, _ in cjk_expand(p)[0]) for p in plants}
    assert mapping["東京都"] == "東京 京都" and mapping["京都府"] == "京都 都府"
    text = "x 東京都 y 京都府 z 京都\n東京都"
    got = expand(mapping, text)
    assert got == "x 東京 京都 y 京都 都府 z 京都\n東京 京都"
    assert got.split() == [t for w in text.split() for t in tokenize_one(w, CJK)[0]]
    # 社員 is inside 会社員's replacement: a chained replace would rewrite it
    assert expand({"会社員": "会社 社員", "社員": "X"}, "会社員 社員") == "会社 社員 X"
    assert expand(mapping, "") == ""
