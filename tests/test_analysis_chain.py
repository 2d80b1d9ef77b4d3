"""One analysis chain: the index side (tokenize_one / flatten_tokens) and
the query side (analyze_query_terms) derive from the same stage list, and
the searcher's short-circuit, the query side's re-tokenize route and the
offsets/payloads guard read properties derived from it."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lucene_solr_1_spark.kernels.analyzer import (  # noqa: E402
    ANALYZERS, ENGLISH_STOP_WORDS, AnalyzerConfig, analyzer_name,
    tokenize_one,
)
from lucene_solr_1_spark.search.query import (  # noqa: E402
    Bool, Phrase, Synonym, Term, analyze_query_terms,
)

# query words; each test keeps those the chain tokenizes to ONE raw token
WORDS = (
    "running runners merges merged customer customers window windows "
    "stream streaming tabular columns John's Ankara'da İstanbul'un IŞIK "
    "ışık İzmir KITAPLAR kitaplarımız l'avion d'eau qu'il dell'acqua "
    "nell'anno naïve café résumé Straße Mädchen häuser Größe Äpfel niños "
    "canción nações cidadãos città bilarna flickorna gyerekek házakban "
    "taloissa книги книгами домов huset bøker boeken huizen copiilor "
    "الكتاب والمكتبات 東京大学 日本語 한국어 ＡＢＣｄｅｆ getFooBar "
    "parseHTTPResponse snake_case_name XMLHttpRequest2 photograph Robert "
    "Smith quick fast consolidate quicksort sliding return int class "
    "id_0042 file.name O'Reilly's"
).split()

TURKISH_CASE_ONLY = AnalyzerConfig(turkish_case=True)

CHAINS = sorted(ANALYZERS) + ["turkish_case_only"]


@pytest.fixture
def registry(monkeypatch):
    monkeypatch.setitem(ANALYZERS, "turkish_case_only", TURKISH_CASE_ONLY)
    return ANALYZERS


def _raw_tokens(text: str, cfg) -> list:
    """The chain's char filters then its tokenizer."""
    for stage in cfg.stages:
        if stage.kind == "text":
            text = stage.fn(text)
        elif stage.kind == "tokenize":
            return stage.fn(text)


def _terms(q) -> set:
    if isinstance(q, Term):
        return {q.text}
    if isinstance(q, Synonym):
        return set(q.terms)
    if isinstance(q, Bool):
        return set().union(*(_terms(c.query) for c in q.clauses))
    raise TypeError(type(q).__name__)


def _has_phrase(q) -> bool:
    if isinstance(q, Phrase):
        return True
    return isinstance(q, Bool) and any(_has_phrase(c.query) for c in q.clauses)


@pytest.mark.parametrize("name", CHAINS)
def test_query_terms_match_index_terms(name, registry):
    """A one-token query word analyzes to exactly the terms the index
    emits for it. The synonym graph's multi-word rewrite is the one
    exemption (its query side is a phrase, not a term set)."""
    cfg = registry[name]
    for w in WORDS:
        if len(_raw_tokens(w, cfg)) != 1:
            continue
        index_terms = set(tokenize_one(w, cfg)[0])
        if not index_terms:
            continue  # stopped/overlong: the query keeps it as-is
        q = analyze_query_terms(Term(w), cfg, frozenset())
        if cfg.synonyms and _has_phrase(q):
            continue
        assert _terms(q) == index_terms, (name, w, q)


@pytest.mark.parametrize("name", sorted(ANALYZERS))
def test_short_circuit_chains_index_the_parsed_term(name):
    """A chain with no query-reshaping stage indexes a word as the
    parser's lowercased term, so skipping query analysis is exact."""
    cfg = ANALYZERS[name]
    if cfg.reshapes_query:
        return
    for w in WORDS:
        if len(_raw_tokens(w, cfg)) != 1:
            continue
        terms = tokenize_one(w, cfg)[0]
        assert terms in ([], [w.lower()]), (name, w, terms)


def test_derived_properties_of_the_registry():
    def having(prop):
        return {n for n, c in ANALYZERS.items() if getattr(c, prop)}

    assert set(ANALYZERS) - having("reshapes_query") == {
        "standard", "english", "html"}
    assert having("retokenizes") == {
        "code", "pattern_charfilter", "pattern_letters", "cjk", "cjk_unibi"}
    assert having("breaks_alignment") == {
        "code", "html", "pattern_charfilter", "pattern_letters",
        "synonym_en", "cjk", "cjk_unibi"}


def test_turkish_case_strips_apostrophes_on_both_sides():
    assert tokenize_one("Ankara'da", TURKISH_CASE_ONLY)[0] == ["ankara"]
    q = analyze_query_terms(Term("Ankara'da"), TURKISH_CASE_ONLY, frozenset())
    assert q == Term("ankara")


def test_with_english_stop_keeps_every_other_field():
    cfg = AnalyzerConfig(phonetic="soundex", max_token_length=40,
                         ascii_fold=True)
    stopped = cfg.with_english_stop()
    assert stopped.stop_words == ENGLISH_STOP_WORDS
    assert (stopped.phonetic, stopped.max_token_length, stopped.ascii_fold) == (
        "soundex", 40, True)
    with pytest.raises(ValueError, match="common_grams"):
        ANALYZERS["common_grams_en"].with_english_stop()


def test_analyzer_name_rejects_unregistered_config():
    assert analyzer_name(ANALYZERS["english_stem"]) == "english_stem"
    with pytest.raises(ValueError, match="ANALYZERS"):
        analyzer_name(TURKISH_CASE_ONLY)


def test_build_index_rejects_unregistered_config(spark, tmp_path):
    import pandas as pd

    from lucene_solr_1_spark.index.builder import build_index

    docs = pd.DataFrame({"repo": ["r"], "path": ["a.txt"], "commit": ["c"],
                         "lang": ["tr"], "content": ["IŞIK yanıyor"]})
    d = tmp_path / "idx_unregistered"
    with pytest.raises(ValueError, match="ANALYZERS"):
        build_index(spark, spark.createDataFrame(docs), str(d),
                    num_segments=1, cfg=TURKISH_CASE_ONLY)
    assert not d.exists()
