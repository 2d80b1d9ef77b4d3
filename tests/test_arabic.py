"""Arabic analyzer chain — normalizer and light-8 stemmer pinned by the
reference's OWN golden pairs, parsed out of TestArabicStemFilter.java /
TestArabicNormalizationFilter.java at test time (the vocab-zip posture:
reference data read, never copied), plus chain/stream agreement."""

import re

import pandas as pd
import pytest

from lucene_solr_1_spark.kernels.analyzer import (
    ARABIC, analyze_series, analyzer_name, flatten_tokens, tokenize_one,
)
from lucene_solr_1_spark.kernels.arabic import (
    ARABIC_STOP_WORDS, arabic_normalize, arabic_stem_token, arabic_term,
    fold_decimal_digits,
)
from lucene_solr_1_spark.kernels.romance import light_stem
from tests.conftest import reference_file


_TEST_DIR = (
    "/root/reference/lucene/analysis/common/src/test/org/apache/lucene/"
    "analysis/ar"
)


def _golden_pairs(fname: str):
    with open(reference_file(f"{_TEST_DIR}/{fname}"), encoding="utf-8") as f:
        src = f.read()
    pairs = re.findall(r'check\("([^"]*)",\s*"([^"]*)"\)', src)
    assert len(pairs) >= 10
    return pairs


def test_stemmer_reference_goldens():
    bad = [
        (a, arabic_stem_token(a), b)
        for a, b in _golden_pairs("TestArabicStemFilter.java")
        if arabic_stem_token(a) != b
    ]
    assert bad == []


def test_normalizer_reference_goldens():
    bad = [
        (a, arabic_normalize(a), b)
        for a, b in _golden_pairs("TestArabicNormalizationFilter.java")
        if arabic_normalize(a) != b
    ]
    assert bad == []


def test_stemmer_shapes():
    # one prefix only, then multiple suffixes off the shrinking buffer
    assert arabic_term("والساهدون") == "ساهد"
    # length guards: و needs >= 4 chars, ال needs >= 4
    assert arabic_stem_token("الو") == "الو"
    # non-Arabic text passes through
    assert arabic_term("english") == "english"


def test_decimal_digit_fold():
    assert fold_decimal_digits("٣٤abc") == "34abc"
    assert fold_decimal_digits("plain123") == "plain123"


def test_chain_stop_and_stem():
    # من is a stop word; the rest normalize + stem
    terms, pos = tokenize_one("من الساهدون ساهدة", ARABIC)
    # ساهدة normalizes teh marbuta -> heh BEFORE the stem, so the ه
    # suffix rule strips it: both tokens land on the bare lemma
    assert terms == ["ساهد", "ساهد"]
    assert pos == [1, 2]


def test_registry_and_name():
    assert light_stem("ar", "الساهد") == "ساهد"
    assert analyzer_name(ARABIC) == "arabic"
    assert len(ARABIC_STOP_WORDS) == 119


def test_scalar_matches_vectorized_and_flatten():
    texts = [
        "من الساهدون ساهدة",
        "والحسن زوجها",
        "", "plain ascii ١٢٣",
    ]
    s = pd.Series(texts)
    vec = analyze_series(s, ARABIC)
    ft, fr, fp, _ = flatten_tokens(s, ARABIC)
    for i, t in enumerate(texts):
        terms, poss = tokenize_one(t, ARABIC)
        assert list(vec[i]) == terms
        assert list(ft[fr == i]) == terms
        assert list(fp[fr == i]) == poss


def test_e2e_arabic_recall(spark, tmp_path_factory):
    from lucene_solr_1_spark.index.builder import build_index
    from lucene_solr_1_spark.search.query import Term
    from lucene_solr_1_spark.search.searcher import LuceneSparkSearcher

    rows = [
        ("org/r-0", "a.txt", "c0", "txt", "الساهد قال شيئا"),
        ("org/r-0", "b.txt", "c1", "txt", "ساهدون كثيرون"),
        ("org/r-1", "c.txt", "c2", "txt", "ساهدة واحدة"),
        ("org/r-1", "d.txt", "c3", "txt", "كلام آخر تماما"),
    ]
    pdf = pd.DataFrame(
        rows, columns=["repo", "path", "commit", "lang", "content"]
    )
    d = str(tmp_path_factory.mktemp("idx_ar"))
    build_index(spark, spark.createDataFrame(pdf), d, num_segments=2,
                cfg=ARABIC)
    s = LuceneSparkSearcher(spark, d)
    hits = s.search(Term("ساهدين"), k=10, with_stored=True)
    assert len(hits) == 3  # all three inflections, not the fourth doc
