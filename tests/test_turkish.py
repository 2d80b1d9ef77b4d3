"""Turkish analyzer chain — the snowball Turkish program pinned by the
reference's full canonical vocabulary (TestSnowballVocabData.zip
turkish/, 96,325 words, read at test time), plus TurkishLowerCaseFilter
and ApostropheFilter contracts (tr/TurkishLowerCaseFilter.java,
tr/ApostropheFilter.java, TestTurkishLowerCaseFilter /
TestApostropheFilter shapes)."""

import zipfile

import pandas as pd
import pytest

from lucene_solr_1_spark.kernels.analyzer import (
    TURKISH, AnalyzerConfig, analyze_series, analyzer_name,
    flatten_tokens, tokenize_one,
)
from lucene_solr_1_spark.kernels.romance import light_stem
from lucene_solr_1_spark.kernels.turkish import (
    TURKISH_STOP_WORDS, strip_apostrophe, turkish_lower, turkish_stem,
)
from tests.conftest import reference_file


_VOC_ZIP = (
    "/root/reference/lucene/analysis/common/src/test/org/apache/lucene/"
    "analysis/snowball/TestSnowballVocabData.zip"
)


def test_turkish_canonical_vocabulary():
    with zipfile.ZipFile(reference_file(_VOC_ZIP)) as z:
        # splitlines, not split: some canonical stems are EMPTY lines
        voc = z.read("turkish/voc.txt").decode("utf-8").splitlines()
        out = z.read("turkish/output.txt").decode("utf-8").splitlines()
    assert len(voc) == len(out) and len(voc) > 90000
    bad = [(v, turkish_stem(v), o) for v, o in zip(voc, out)
           if turkish_stem(v) != o]
    assert bad == []


def test_turkish_shapes():
    # noun chain: plural / accusative+devoicing / locative of kitap
    assert turkish_stem("kitaplar") == "kitap"  # lAr (flag-unsetting)
    assert turkish_stem("kitabı") == "kitap"    # sU + b->p devoicing
    assert turkish_stem("kitapta") == "kitap"   # DA
    # the ki chain's INTERIOR delete: the trailing nA survives
    assert turkish_stem("insanlarınkine") == "insanlarne"
    # single-syllable words never stem
    assert turkish_stem("bir") == "bir"
    # reserved words skip the postlude
    assert turkish_stem("soyadları") == "soyad"


def test_turkish_lowercase_filter():
    # TestTurkishLowerCaseFilter shapes: dotted/dotless I
    assert turkish_lower("İSTANBUL") == "istanbul"
    assert turkish_lower("ISPARTA") == "ısparta"
    assert turkish_lower("DİYARBAKIR") == "diyarbakır"
    # I followed by combining dot above -> i, dot consumed
    assert turkish_lower("İSTANBUL") == "istanbul"


def test_apostrophe_filter():
    assert strip_apostrophe("türkiye'nin") == "türkiye"
    assert strip_apostrophe("ankara") == "ankara"
    assert strip_apostrophe("x’den") == "x"  # U+2019 too


def test_chain_stop_case_apostrophe_stem():
    terms, pos = tokenize_one("Türkiye'nin KİTAPLARI ve kitabı", TURKISH)
    # türkiye'nin -> apostrophe strip -> türkiye -> stem 'türki';
    # KİTAPLARI lowercases through İ->i then stems; 've' is a stop
    assert terms == ["türki", "kitap", "kitap"]
    assert pos == [0, 1, 3]


def test_registry_and_name():
    assert light_stem("tr", "kitapları") == "kitap"
    assert analyzer_name(TURKISH) == "turkish"
    assert "bir" in TURKISH_STOP_WORDS and len(TURKISH_STOP_WORDS) == 209


def test_scalar_matches_vectorized_and_flatten():
    texts = [
        "Türkiye'nin KİTAPLARI ve kitabı",
        "Istanbul'dan kitapta BİR", "",
        "Muğla'dakine kitap masada",
        "plain ascii code_tokens 123",
    ]
    s = pd.Series(texts)
    vec = analyze_series(s, TURKISH)
    ft, fr, fp, _fd = flatten_tokens(s, TURKISH)
    for i, t in enumerate(texts):
        terms, poss = tokenize_one(t, TURKISH)
        assert list(vec[i]) == terms
        assert list(ft[fr == i]) == terms
        assert list(fp[fr == i]) == poss


def test_turkish_case_guard():
    with pytest.raises(ValueError, match="turkish_case"):
        AnalyzerConfig(turkish_case=True, lowercase=False)


def test_e2e_turkish_recall(spark, tmp_path_factory):
    from lucene_solr_1_spark.index.builder import build_index
    from lucene_solr_1_spark.search.query import Term
    from lucene_solr_1_spark.search.searcher import LuceneSparkSearcher

    rows = [
        ("org/r-0", "a.txt", "c0", "txt", "kitaplar masada duruyor"),
        ("org/r-0", "b.txt", "c1", "txt", "KİTABI okudum"),
        ("org/r-1", "c.txt", "c2", "txt", "kitapta yazıyor"),
        ("org/r-1", "d.txt", "c3", "txt", "masa sandalye"),
    ]
    pdf = pd.DataFrame(
        rows, columns=["repo", "path", "commit", "lang", "content"]
    )
    d = str(tmp_path_factory.mktemp("idx_tr"))
    build_index(spark, spark.createDataFrame(pdf), d, num_segments=2,
                cfg=TURKISH)
    s = LuceneSparkSearcher(spark, d)
    hits = s.search(Term("kitapları"), k=10, with_stored=True)
    # the query re-analyzes through the manifest's turkish chain ->
    # 'kitap' and matches all three inflected docs
    assert len(hits) == 3
    assert all("masa sandalye" not in c for c in hits["content"])
