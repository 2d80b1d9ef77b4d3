"""German analysis chain (kernels/german.py + the GERMAN analyzer) —
mirrors analysis/common/src/test/.../de/TestGermanLightStemFilter.java
(the 35k-word delight.txt canonical vocabulary),
TestGermanNormalizationFilter.java, and TestGermanAnalyzer.java's chain
expectations (Tisch/Tische/Tischen -> tisch)."""

import sys
import zipfile
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from lucene_solr_1_spark.kernels.analyzer import (  # noqa: E402
    GERMAN,
    AnalyzerConfig,
    analyze_series,
    flatten_tokens,
    tokenize_one,
)
from lucene_solr_1_spark.kernels.german import (  # noqa: E402
    GERMAN_STOP_WORDS,
    german_light_stem,
    german_normalize,
    german_term,
)
from tests.conftest import reference_file  # noqa: E402


_VOC_ZIP = (
    "/root/reference/lucene/analysis/common/src/test/org/apache/lucene/"
    "analysis/de/delighttestdata.zip"
)


def test_light_stem_canonical_vocabulary():
    """The full 35k-word canonical vocabulary from the UniNE reference
    implementation (same data TestGermanLightStemFilter.testVocabulary
    runs)."""
    with zipfile.ZipFile(reference_file(_VOC_ZIP)) as z:
        lines = z.read("delight.txt").decode("utf-8").splitlines()
    pairs = [ln.split("\t") for ln in lines if ln]
    assert len(pairs) > 30000
    bad = [(w, german_light_stem(w), e)
           for w, e in pairs if german_light_stem(w) != e]
    assert bad == []


def test_normalization_reference_vectors():
    # TestGermanNormalizationFilter (lowercased — the chain lowercases
    # before the filter; the filter itself is case-sensitive ASCII here)
    assert german_normalize("schaltflächen") == "schaltflachen"
    assert german_normalize("schaltflaechen") == "schaltflachen"
    # ue NOT folded after a vowel or q
    assert german_normalize("dauer") == "dauer"
    assert german_normalize("quelle") == "quelle"
    # sharp-s expansion
    assert german_normalize("weißbier") == "weissbier"
    assert german_normalize("") == ""
    # one deletion per umlaut-state entry, FSM leaves V after the delete
    assert german_normalize("aee") == "ae"


def test_analyzer_chain_goldens():
    # TestGermanAnalyzer.testReusableTokenStream
    for w in ("Tisch", "Tische", "Tischen"):
        t, p = tokenize_one(w, GERMAN)
        assert t == ["tisch"], w
    # stop words drop with position consumed
    t, p = tokenize_one("der Tisch und die Tische", GERMAN)
    assert t == ["tisch", "tisch"]
    assert p == [1, 4]  # der/und/die dropped, positions consumed


def test_german_term_composition():
    # digraph fold + e-deletion + light stem collapse inflections
    assert german_term("haeuser") == "haus"
    assert german_term("hauses") == "haus"
    assert german_term("haus") == "haus"
    assert german_term("häuser") == "haus"


def test_scalar_matches_vectorized():
    import random

    rng = random.Random(13)
    frag = ["tische", "tischen", "haeuser", "hauses", "haus", "der",
            "die", "und", "laufen", "quelle", "dauer", "x42", "query"]
    docs = [" ".join(rng.choice(frag) for _ in range(rng.randint(0, 8)))
            for _ in range(150)]
    s = pd.Series(docs)
    terms, rows, pos, dl = flatten_tokens(s, GERMAN)
    st, sr, sp = [], [], []
    sdl = np.zeros(len(s), dtype=np.int64)
    for i, text in enumerate(docs):
        tt, pp = tokenize_one(text, GERMAN)
        st.extend(tt)
        sr.extend([i] * len(tt))
        sp.extend(pp)
        sdl[i] = len(tt)
    assert list(terms) == st
    assert list(rows) == sr
    assert list(pos) == sp
    assert list(dl) == list(sdl)
    assert [x for lst in analyze_series(s, GERMAN) for x in lst] == st


def test_config_exclusivity():
    with pytest.raises(ValueError):
        AnalyzerConfig(german=True, stem=True)
    with pytest.raises(ValueError):
        AnalyzerConfig(german=True, phonetic="soundex")


def test_stop_set_is_snowball():
    assert len(GERMAN_STOP_WORDS) == 231
    assert "für" in GERMAN_STOP_WORDS and "und" in GERMAN_STOP_WORDS


def test_query_side_and_recall(spark, tmp_path_factory):
    """A query inflection finds docs containing other inflections of the
    lemma: the searcher re-analyzes Terms with the manifest's german
    chain."""
    from lucene_solr_1_spark.index.builder import build_index
    from lucene_solr_1_spark.search.query import Term
    from lucene_solr_1_spark.search.searcher import LuceneSparkSearcher

    rows = [
        ("r", "p0", "c", "de", "das Haus steht am Ufer"),
        ("r", "p1", "c", "de", "die Häuser sind alt"),
        ("r", "p2", "c", "de", "des Hauses Dach"),
        ("r", "p3", "c", "de", "völlig anderes Thema"),
    ]
    pdf = pd.DataFrame(rows,
                       columns=["repo", "path", "commit", "lang", "content"])
    d = str(tmp_path_factory.mktemp("idx_de"))
    m = build_index(spark, spark.createDataFrame(pdf), d, num_segments=2,
                    cfg=GERMAN)
    assert m["analyzer"] == "german"
    s = LuceneSparkSearcher(spark, d)
    analyzed = s._analyze_query(Term("haeuser"))
    assert analyzed == Term("haus", field="content")
    hits = s.search(Term("haeuser"), k=10)
    assert set(hits["path"]) == {"p0", "p1", "p2"}
    # WAND == exhaustive on the german index
    a = s.search(Term("haus"), k=5, use_wand=True, with_stored=False)
    b = s.search(Term("haus"), k=5, use_wand=False, with_stored=False)
    assert a.equals(b)
