"""Snowball Danish/Dutch/Romanian stemmer + analyzer chain tests —
pinned by the reference's full canonical vocabularies
(analysis/common/src/test/.../snowball/TestSnowballVocabData.zip, the
same data TestSnowballVocab.java runs) and mirroring the
DanishAnalyzer / DutchAnalyzer / RomanianAnalyzer chain expectations
(nl/TestDutchAnalyzer.java's stem-dict cases)."""

import zipfile

import pandas as pd
import pytest

from lucene_solr_1_spark.kernels.analyzer import (
    DANISH, DUTCH, ROMANIAN, analyze_series, analyzer_name, tokenize_one,
)
from lucene_solr_1_spark.kernels.romance import light_stem
from lucene_solr_1_spark.kernels.snowball import (
    DUTCH_STEM_OVERRIDES, danish_stem, dutch_stem, dutch_term,
    romanian_stem,
)
from tests.conftest import reference_file


_VOC_ZIP = (
    "/root/reference/lucene/analysis/common/src/test/org/apache/lucene/"
    "analysis/snowball/TestSnowballVocabData.zip"
)


def _vocab(lang: str):
    with zipfile.ZipFile(reference_file(_VOC_ZIP)) as z:
        voc = z.read(f"{lang}/voc.txt").decode("utf-8").split()
        out = z.read(f"{lang}/output.txt").decode("utf-8").split()
    assert len(voc) == len(out) and len(voc) > 20000
    return voc, out


@pytest.mark.parametrize("lang,fn", [
    ("danish", danish_stem),
    ("dutch", dutch_stem),
    ("romanian", romanian_stem),
    ("english", __import__(
        "lucene_solr_1_spark.kernels.snowball", fromlist=["x"]
    ).english_stem),
])
def test_snowball_canonical_vocabulary(lang, fn):
    voc, out = _vocab(lang)
    bad = [(v, fn(v), o) for v, o in zip(voc, out) if fn(v) != o]
    assert bad == []


def test_danish_shapes():
    # s-ending gate: valid consonant before s deletes, vowel keeps
    assert danish_stem("husets") == "hus"
    assert danish_stem("indtagelse") == "indtag"  # els + consonant_pair
    # the løst->løs rule needs the whole suffix inside R1
    assert danish_stem("løst") == "løst"
    assert danish_stem("frygtløst") == "frygtløs"
    # undouble in R1
    assert danish_stem("kat" + "t" * 2) == "katt"  # final copy in R1 only


def test_dutch_shapes():
    assert dutch_stem("lichamelijk") == "licham"
    assert dutch_stem("lichamelijke") == "licham"
    # undouble vowel: CVVD -> CVD
    assert dutch_stem("banen") == "ban"
    # heden -> heid, then step 3a strips the heid (lijk stays: R2 cut)
    assert dutch_stem("mogelijkheden") == "mogelijk"
    # e-ending removal (bar itself stays: R2 cut on this short word)
    assert dutch_stem("eetbare") == "eetbar"


def test_dutch_stem_dict_overrides():
    # nl/DutchAnalyzer.java:80-84 — StemmerOverrideFilter beats snowball
    for k, v in DUTCH_STEM_OVERRIDES.items():
        assert dutch_term(k) == v
    assert dutch_stem("fiets") == "fiet"  # the raw program result
    assert dutch_term("fietsen") == "fiets"  # only exact keys override


def test_romanian_shapes():
    assert romanian_stem("capitalistă") == "capitalist"
    assert romanian_stem("abilitate") == "abil"
    assert romanian_stem("cartea") == "cart"


def test_registry_routes_snowball():
    assert light_stem("da", "husets") == "hus"
    assert light_stem("nl", "kind") == "kinder"
    assert light_stem("ro", "cartea") == "cart"


def test_chain_stop_and_stem():
    terms, pos = tokenize_one("de boeken en boekjes werden gelezen", DUTCH)
    assert terms == ["boek", "boekjes", "werd", "gelez"]
    assert pos == [1, 3, 4, 5]  # stops consume positions
    terms, _ = tokenize_one("husene og huset i byen", DANISH)
    assert terms == ["hus", "hus", "byen"]
    terms, _ = tokenize_one("cartea şi cărţile frumoase", ROMANIAN)
    assert terms == ["cart", "cărţ", "frumoas"]


def test_analyzer_names_round_trip():
    assert analyzer_name(DANISH) == "danish"
    assert analyzer_name(DUTCH) == "dutch"
    assert analyzer_name(ROMANIAN) == "romanian"


@pytest.mark.parametrize("cfg", [DANISH, DUTCH, ROMANIAN])
def test_scalar_matches_vectorized(cfg):
    texts = [
        "de boeken en boekjes werden gelezen",
        "kind ei fiets lichamelijk eetbare banen",
        "husene og huset i byen indtagelse",
        "cartea şi cărţile frumoase abilitate",
        "", "mixed ascii text with code_tokens 123",
    ]
    vec = analyze_series(pd.Series(texts), cfg)
    for text, got in zip(texts, vec):
        assert list(got) == tokenize_one(text, cfg)[0]


def test_english_porter2_shapes():
    from lucene_solr_1_spark.kernels.snowball import english_stem as en

    # Porter2 departures from classic Porter (kernels/porter.py)
    assert en("generously") == "generous"   # gener- R1 override
    assert en("communism") == "communism"   # commun- override: ism not in R2
    assert en("dying") == "die"             # exception1
    assert en("skies") == "sky"
    assert en("news") == "news"             # invariant
    assert en("proceed") == "proceed"       # exception2 after step 1a
    assert en("conflated") == "conflat"
    assert en("hopping") == "hop"           # undouble
    assert en("hoping") == "hope"           # short-syllable +e
    assert en("cry") == "cri"
    assert en("say") == "say"               # y after vowel is Y, kept
    assert en("'twas") == "twas"            # prelude strips '; vowel gates s


def test_english_porter2_differs_from_classic_porter():
    """Lucene ships BOTH: PorterStemFilter (kernels/porter.py) and
    SnowballFilter("English") — they are different algorithms and the
    engine keeps them distinct."""
    from lucene_solr_1_spark.kernels.porter import porter_stem
    from lucene_solr_1_spark.kernels.snowball import english_stem

    # 'generously': Porter2's gener- region override vs classic
    assert english_stem("generously") != porter_stem("generously")
    assert english_stem("dying") == "die" and porter_stem("dying") == "dy"
