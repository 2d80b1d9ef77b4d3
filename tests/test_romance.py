"""UniNE light analysis chains (kernels/romance.py + the SPANISH /
PORTUGUESE / ITALIAN / SWEDISH / HUNGARIAN analyzers) — mirrors the reference's
Test{Spanish,Portuguese,Italian}LightStemFilter.testVocabulary (the full
canonical vocabulary zips) and the analyzer chain expectations
(elision[it] + snowball stop + light stem)."""

import sys
import zipfile
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from lucene_solr_1_spark.kernels.analyzer import (  # noqa: E402
    ITALIAN,
    PORTUGUESE,
    SPANISH,
    AnalyzerConfig,
    analyze_series,
    flatten_tokens,
    tokenize_one,
)
from lucene_solr_1_spark.kernels.romance import (  # noqa: E402
    HUNGARIAN_STOP_WORDS,
    ITALIAN_STOP_WORDS,
    PORTUGUESE_STOP_WORDS,
    SPANISH_STOP_WORDS,
    SWEDISH_STOP_WORDS,
    FINNISH_STOP_WORDS,
    NORWEGIAN_STOP_WORDS,
    RUSSIAN_STOP_WORDS,
    finnish_light_stem,
    french_minimal_stem,
    german_minimal_stem,
    russian_light_stem,
    hungarian_light_stem,
    italian_light_stem,
    portuguese_light_stem,
    norwegian_light_stem,
    norwegian_minimal_stem,
    spanish_light_stem,
    swedish_light_stem,
)
from tests.conftest import reference_file  # noqa: E402


_BASE = (
    "/root/reference/lucene/analysis/common/src/test/org/apache/lucene/"
    "analysis/"
)


@pytest.mark.parametrize("zname,inner,fn", [
    ("es/eslighttestdata.zip", "eslight.txt", spanish_light_stem),
    ("pt/ptlighttestdata.zip", "ptlight.txt", portuguese_light_stem),
    ("it/itlighttestdata.zip", "itlight.txt", italian_light_stem),
    ("sv/svlighttestdata.zip", "svlight.txt", swedish_light_stem),
    ("hu/hulighttestdata.zip", "hulight.txt", hungarian_light_stem),
    ("fi/filighttestdata.zip", "filight.txt", finnish_light_stem),
    ("ru/rulighttestdata.zip", "rulight.txt", russian_light_stem),
    ("de/deminimaltestdata.zip", "deminimal.txt", german_minimal_stem),
    ("fr/frminimaltestdata.zip", "frminimal.txt", french_minimal_stem),
])
def test_light_stem_canonical_vocabulary(zname, inner, fn):
    with zipfile.ZipFile(reference_file(_BASE + zname)) as z:
        lines = z.read(inner).decode("utf-8").splitlines()
    pairs = [ln.split("\t") for ln in lines if ln.strip()]
    assert len(pairs) > 20000
    bad = [(w, fn(w), e) for w, e in pairs if fn(w) != e]
    assert bad == []


def test_chain_goldens():
    # stop words removed (positions preserved), light stems applied
    t, p = tokenize_one("los libros grandes", SPANISH)
    assert (t, p) == (["libr", "grand"], [1, 2])
    t, p = tokenize_one("os livros grandes", PORTUGUESE)
    assert (t, p) == (["livr", "grand"], [1, 2])
    # Italian elision: l'amico -> amico (short, unstemmed); dei stopped
    t, p = tokenize_one("l'amico dei ragazzi", ITALIAN)
    assert (t, p) == (["amico", "ragazz"], [0, 2])


def test_inflection_collapse():
    for w in ("libros", "libro", "libra", "libras"):
        assert spanish_light_stem(w) == "libr", w
    for w in ("livros", "livro", "livra", "livras"):
        assert portuguese_light_stem(w) == "livr", w
    for w in ("ragazzi", "ragazzo", "ragazza", "ragazze"):
        assert italian_light_stem(w) == "ragazz", w
    for w in ("flickor", "flickorna", "flicka", "flickors"):
        assert swedish_light_stem(w) == "flick", w
    # a stem ENDING in -k is itself clipped by the plural pass — pick a
    # k-free lemma (the reference behaves identically: banknak -> ban)
    assert hungarian_light_stem("banknak") == "ban"
    for w in ("hazak", "hazban", "hazat", "hazert"):
        assert hungarian_light_stem(w) == "haz", w
    for w in ("talossa", "taloja", "taloon", "talolla"):
        assert finnish_light_stem(w) == "talo", w
    for w in ("kinder", "kindes", "kinde"):
        assert german_minimal_stem(w) == "kind", w
    for w in ("portes", "porter", "porters"):
        assert french_minimal_stem(w) == "port", w
    assert french_minimal_stem("chevaux") == "cheval"  # -aux -> -al
    for w in ("huset", "husene", "husa", "husets"):
        assert norwegian_light_stem(w) == "hus", w
    # Nynorsk-only endings strip only under the nynorsk flag
    assert norwegian_light_stem("gutane") == "gutan"
    assert norwegian_light_stem("gutane", bokmaal=False, nynorsk=True) == "gut"
    assert norwegian_minimal_stem("husene") == "hus"
    assert norwegian_minimal_stem("hemmeligheten") == "hemmelighet"


def test_portuguese_fold_runs_last():
    # ções -> ção rewrite, final-vowel strip, THEN the nasal fold —
    # goldens straight from the reference's ptlight.txt
    assert portuguese_light_stem("nações") == "naca"
    assert portuguese_light_stem("coração") == "coraca"
    assert portuguese_light_stem("nacionalmente") == "nacional"


def test_scalar_matches_vectorized():
    import random

    rng = random.Random(17)
    frag = ["libros", "libro", "grandes", "los", "livros", "ragazzi",
            "ragazzo", "l'amico", "dell'arte", "cantare", "x42", "que"]
    docs = [" ".join(rng.choice(frag) for _ in range(rng.randint(0, 8)))
            for _ in range(150)]
    s = pd.Series(docs)
    for cfg in (SPANISH, PORTUGUESE, ITALIAN):
        terms, rows, pos, dl = flatten_tokens(s, cfg)
        st, sr, sp = [], [], []
        sdl = np.zeros(len(s), dtype=np.int64)
        for i, text in enumerate(docs):
            tt, pp = tokenize_one(text, cfg)
            st.extend(tt)
            sr.extend([i] * len(tt))
            sp.extend(pp)
            sdl[i] = len(tt)
        assert list(terms) == st, cfg.light_lang
        assert list(rows) == sr
        assert list(pos) == sp
        assert list(dl) == list(sdl)
        assert [x for lst in analyze_series(s, cfg) for x in lst] == st


def test_config_exclusivity():
    with pytest.raises(ValueError):
        AnalyzerConfig(light_lang="es", stem=True)
    with pytest.raises(ValueError):
        AnalyzerConfig(light_lang="pt", german=True)
    with pytest.raises(ValueError):
        AnalyzerConfig(light_lang="it", french=True)


def test_stop_sets_are_snowball():
    assert "que" in SPANISH_STOP_WORDS and len(SPANISH_STOP_WORDS) > 300
    assert "não" in PORTUGUESE_STOP_WORDS and len(PORTUGUESE_STOP_WORDS) > 200
    assert "che" in ITALIAN_STOP_WORDS and len(ITALIAN_STOP_WORDS) > 270
    assert "och" in SWEDISH_STOP_WORDS and len(SWEDISH_STOP_WORDS) > 110
    assert "hogy" in HUNGARIAN_STOP_WORDS and len(HUNGARIAN_STOP_WORDS) > 190
    assert "mutta" in FINNISH_STOP_WORDS and len(FINNISH_STOP_WORDS) > 220
    assert "для" in RUSSIAN_STOP_WORDS and len(RUSSIAN_STOP_WORDS) > 150
    assert "ikke" in NORWEGIAN_STOP_WORDS and len(NORWEGIAN_STOP_WORDS) > 150


def test_query_side_and_recall(spark, tmp_path_factory):
    from lucene_solr_1_spark.index.builder import build_index
    from lucene_solr_1_spark.search.query import Term
    from lucene_solr_1_spark.search.searcher import LuceneSparkSearcher

    rows = [
        ("r", "p0", "c", "es", "los libros rojos"),
        ("r", "p1", "c", "es", "un libro grande"),
        ("r", "p2", "c", "es", "una libra entera"),
        ("r", "p3", "c", "es", "nada relevante"),
    ]
    pdf = pd.DataFrame(rows,
                       columns=["repo", "path", "commit", "lang", "content"])
    d = str(tmp_path_factory.mktemp("idx_es"))
    m = build_index(spark, spark.createDataFrame(pdf), d, num_segments=2,
                    cfg=SPANISH)
    assert m["analyzer"] == "spanish"
    s = LuceneSparkSearcher(spark, d)
    assert s._analyze_query(Term("libras")) == Term("libr", field="content")
    hits = s.search(Term("libras"), k=10)
    assert set(hits["path"]) == {"p0", "p1", "p2"}
    a = s.search(Term("libros"), k=5, use_wand=True, with_stored=False)
    b = s.search(Term("libros"), k=5, use_wand=False, with_stored=False)
    assert a.equals(b)


def test_russian_cyrillic_end_to_end(spark, tmp_path_factory):
    """Cyrillic flows through the whole engine: tokenizer (\\w+), stop
    filter, light stem, index, query re-analysis. No driver oracle (the
    SQL twin token pattern is ASCII) — the canonical-vocabulary golden
    plus this e2e pin the chain."""
    from lucene_solr_1_spark.index.builder import build_index
    from lucene_solr_1_spark.kernels.analyzer import RUSSIAN
    from lucene_solr_1_spark.search.query import Term
    from lucene_solr_1_spark.search.searcher import LuceneSparkSearcher

    t, p = tokenize_one("и школа для детей", RUSSIAN)
    assert t == ["школ", "дет"]  # и/для stopped; школа/детей stem
    rows = [
        ("r", "p0", "c", "ru", "новая школа для детей"),
        ("r", "p1", "c", "ru", "старые школы города"),
        ("r", "p2", "c", "ru", "ничего похожего"),
    ]
    pdf = pd.DataFrame(rows,
                       columns=["repo", "path", "commit", "lang", "content"])
    d = str(tmp_path_factory.mktemp("idx_ru"))
    m = build_index(spark, spark.createDataFrame(pdf), d, num_segments=2,
                    cfg=RUSSIAN)
    assert m["analyzer"] == "russian"
    s = LuceneSparkSearcher(spark, d)
    assert s._analyze_query(Term("школами")) == Term("школ", field="content")
    hits = s.search(Term("школами"), k=10)
    assert set(hits["path"]) == {"p0", "p1"}


def test_norwegian_reference_vocabularies():
    """All four reference vocabulary files (nb/nn x light/minimal) —
    TestNorwegian{Light,Minimal}StemFilter.testVocabulary data."""
    from lucene_solr_1_spark.kernels.romance import (
        _nb_light, _nb_minimal, _nn_light, _nn_minimal)

    base = ("/root/reference/lucene/analysis/common/src/test/org/apache/"
            "lucene/analysis/no/")
    for fname, fn in (("nb_light.txt", _nb_light),
                      ("nn_light.txt", _nn_light),
                      ("nb_minimal.txt", _nb_minimal),
                      ("nn_minimal.txt", _nn_minimal)):
        pairs = []
        for ln in open(reference_file(base + fname), encoding="utf-8"):
            ln = ln.strip()
            if not ln or ln.startswith("#"):
                continue
            pairs.append(ln.split("\t"))
        assert len(pairs) > 50
        bad = [(w, fn(w), e) for w, e in pairs if fn(w) != e]
        assert bad == [], fname
