"""Analysis chains — one ordered stage list per `AnalyzerConfig`.

`AnalyzerConfig.stages` derives the chain once: char filters, the
tokenizer, token filters, stacked-token filters and graph filters, in
the reference's chain order. Every entry point runs that one list:

  - `flatten_tokens` runs it over a batch of documents as flat
    (terms, row_idx, pos) arrays — the index inversion input;
  - `tokenize_one` (one text) and `analyze_series` (terms split by row)
    are thin wrappers over it;
  - `query_forms` runs one query token through the per-token stages for
    `search.query.analyze_query_terms`.

Token-level stages act on the UNIQUE terms of the stream (Zipf: the
vocabulary is far smaller than the token stream) and gather back over
integer codes, so a 1k-document batch pays per-vocabulary Python calls
while a one-word query pays only a few small NumPy calls. Each stage
declares what it does to queries and offsets; the searcher's query
short-circuit, the query side's re-tokenize route and the segment
builder's offsets/payloads guard read the derived
`AnalyzerConfig.reshapes_query` / `retokenizes` / `breaks_alignment`, so
a new stage reaches all of them by construction.

Reference semantics:
  - StandardTokenizer: UAX#29 word-break; tokens longer than
    maxTokenLength (255) are DROPPED but still consume a position
    (analysis/standard/StandardTokenizer.java:39-190, :154-164).
    Our regex approximates UAX#29 on code-like text: runs of word chars
    (unicode letters/digits/underscore) optionally joined by interior
    '.' or ''' between word chars (WB6/WB7 MidNumLetQ) — golden-token
    tests in tests/test_analyzer.py define the contract.
  - LowerCaseFilter (analysis/LowerCaseFilter.java:40-46). The source is
    lowercased before tokenizing, which equals tokenize-then-lowercase
    on this tokenizer.
  - StopFilter: removed tokens still consume position increments
    (analysis/StopFilter.java, FilteringTokenFilter). NOTE the reference
    StandardAnalyzer defaults to an EMPTY stop set
    (analysis/standard/StandardAnalyzer.java:51-53, LUCENE-7444); the
    33-word English set lives in EnglishAnalyzer.java:43-55.
  - Field length for norms = number of tokens actually emitted
    (FieldInvertState.getLength(); stopped/overlong tokens don't count),
    numOverlap = 0 for our single-valued field.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, replace
from functools import lru_cache, partial
from itertools import chain
from typing import Callable

import numpy as np
import pandas as pd

from .arabic import ARABIC_STOP_WORDS
from .cjk import CJK_ALL, CJK_STOP_WORDS, cjk_expand, cjk_width_fold
from .commongrams import SEPARATOR as GRAM_SEPARATOR
from .compound import decompose as compound_decompose
from .french import FRENCH_STOP_WORDS, elide, french_term
from .german import GERMAN_STOP_WORDS, german_normalize, german_term
from .htmlstrip import html_strip
from .hyphenation import (HyphenationSpec, hyphen_decompose,
                          parse_pattern_values)
from .phonetic import phonetic_code
from .porter import porter_stem, strip_possessive
from .romance import (FINNISH_STOP_WORDS, HUNGARIAN_STOP_WORDS,
                      ITALIAN_ARTICLES, ITALIAN_STOP_WORDS,
                      NORWEGIAN_STOP_WORDS, PORTUGUESE_STOP_WORDS,
                      RUSSIAN_STOP_WORDS, SPANISH_STOP_WORDS,
                      SWEDISH_STOP_WORDS, light_stem)
from .snowball import (DANISH_STOP_WORDS, DUTCH_STOP_WORDS,
                       ROMANIAN_STOP_WORDS)
from .synonyms import SYN_RULES, apply_synonym_graph, rules_map
from .turkish import TURKISH_STOP_WORDS, strip_apostrophe, turkish_lower
from .worddelim import WD_DEFAULT, wd_split

# EnglishAnalyzer.ENGLISH_STOP_WORDS_SET (EnglishAnalyzer.java:43-55)
ENGLISH_STOP_WORDS = frozenset(
    """a an and are as at be but by for if in into is it no not of on or
    such that the their then there these they this to was will with""".split()
)

MAX_TOKEN_LENGTH = 255  # StandardTokenizer.java DEFAULT_MAX_TOKEN_LENGTH

# Word-char runs joined by interior '.' / ''' (UAX#29 WB6/WB7 approximation).
_TOKEN_RE = re.compile(r"\w+(?:['.]\w+)*", re.UNICODE)

# ASCIIFoldingFilter (analysis/miscellaneous/ASCIIFoldingFilter.java:57-187):
# Latin-1 Supplement + Latin Extended-A folded to their ASCII equivalents
# (the filter's giant switch covers more blocks; this is the subset that
# occurs in practice for European text — tests pin the contract). Values
# may be multi-char (ß→ss, Æ→AE) exactly like the reference.
_FOLD_PAIRS = {
    "À": "A", "Á": "A", "Â": "A", "Ã": "A", "Ä": "A", "Å": "A", "Ā": "A",
    "Ă": "A", "Ą": "A", "Æ": "AE", "Ç": "C", "Ć": "C", "Ĉ": "C", "Ċ": "C",
    "Č": "C", "Ð": "D", "Ď": "D", "Đ": "D", "È": "E", "É": "E", "Ê": "E",
    "Ë": "E", "Ē": "E", "Ĕ": "E", "Ė": "E", "Ę": "E", "Ě": "E", "Ĝ": "G",
    "Ğ": "G", "Ġ": "G", "Ģ": "G", "Ĥ": "H", "Ħ": "H", "Ì": "I", "Í": "I",
    "Î": "I", "Ï": "I", "Ĩ": "I", "Ī": "I", "Ĭ": "I", "Į": "I", "İ": "I",
    "Ĳ": "IJ", "Ĵ": "J", "Ķ": "K", "Ĺ": "L", "Ļ": "L", "Ľ": "L", "Ŀ": "L",
    "Ł": "L", "Ñ": "N", "Ń": "N", "Ņ": "N", "Ň": "N", "Ŋ": "N", "Ò": "O",
    "Ó": "O", "Ô": "O", "Õ": "O", "Ö": "O", "Ø": "O", "Ō": "O", "Ŏ": "O",
    "Ő": "O", "Œ": "OE", "Ŕ": "R", "Ŗ": "R", "Ř": "R", "Ś": "S", "Ŝ": "S",
    "Ş": "S", "Š": "S", "Ţ": "T", "Ť": "T", "Ŧ": "T", "Þ": "TH", "Ù": "U",
    "Ú": "U", "Û": "U", "Ü": "U", "Ũ": "U", "Ū": "U", "Ŭ": "U", "Ů": "U",
    "Ű": "U", "Ų": "U", "Ŵ": "W", "Ý": "Y", "Ŷ": "Y", "Ÿ": "Y", "Ź": "Z",
    "Ż": "Z", "Ž": "Z",
    "à": "a", "á": "a", "â": "a", "ã": "a", "ä": "a", "å": "a", "ā": "a",
    "ă": "a", "ą": "a", "æ": "ae", "ç": "c", "ć": "c", "ĉ": "c", "ċ": "c",
    "č": "c", "ð": "d", "ď": "d", "đ": "d", "è": "e", "é": "e", "ê": "e",
    "ë": "e", "ē": "e", "ĕ": "e", "ė": "e", "ę": "e", "ě": "e", "ĝ": "g",
    "ğ": "g", "ġ": "g", "ģ": "g", "ĥ": "h", "ħ": "h", "ì": "i", "í": "i",
    "î": "i", "ï": "i", "ĩ": "i", "ī": "i", "ĭ": "i", "į": "i", "ı": "i",
    "ĳ": "ij", "ĵ": "j", "ķ": "k", "ĸ": "q", "ĺ": "l", "ļ": "l", "ľ": "l",
    "ŀ": "l", "ł": "l", "ñ": "n", "ń": "n", "ņ": "n", "ň": "n", "ŉ": "n",
    "ŋ": "n", "ò": "o", "ó": "o", "ô": "o", "õ": "o", "ö": "o", "ø": "o",
    "ō": "o", "ŏ": "o", "ő": "o", "œ": "oe", "ŕ": "r", "ŗ": "r", "ř": "r",
    "ś": "s", "ŝ": "s", "ş": "s", "š": "s", "ß": "ss", "ţ": "t", "ť": "t",
    "ŧ": "t", "þ": "th", "ù": "u", "ú": "u", "û": "u", "ü": "u", "ũ": "u",
    "ū": "u", "ŭ": "u", "ů": "u", "ű": "u", "ų": "u", "ŵ": "w", "ý": "y",
    "ŷ": "y", "ÿ": "y", "ź": "z", "ż": "z", "ž": "z", "ſ": "s",
}
_FOLD_TABLE = {ord(k): v for k, v in _FOLD_PAIRS.items()}


def ascii_fold(text: str) -> str:
    """Fold accented Latin characters to ASCII (ASCIIFoldingFilter
    subset). Identity on pure-ASCII input."""
    return text.translate(_FOLD_TABLE)

# ASCII-only pattern used by the SQL oracle path — must stay in sync with
# sql/relational.py's regexp_extract_all pattern.
SQL_TOKEN_PATTERN = "[a-z0-9_]+"
_SQL_TOKEN_RE = re.compile(SQL_TOKEN_PATTERN)


# The chain combinations AnalyzerConfig accepts, checked in order: each
# (flag, needs one of, excludes, reason) rejects a config that sets `flag`
# without any of `needs` or together with any of `excludes`.
_STD_ONLY = "stem phonetic word_delimiter synonyms ascii_fold possessive"
_COMPOSITION = (
    ("stem_keep_original", "stem", "", "stem_keep_original requires stem=True"),
    ("stem_keep_original", "", "word_delimiter",
     "stem_keep_original is not supported with word_delimiter"),
    ("phonetic", "", "word_delimiter",
     "phonetic and word_delimiter filters are mutually exclusive in this "
     "chain"),
    ("german", "", _STD_ONLY + " french",
     "german composes only with the standard chain (GermanAnalyzer.java:"
     "132-142 has no Porter/phonetic/wd/synonym stages)"),
    ("french", "", _STD_ONLY,
     "french composes only with the standard chain (FrenchAnalyzer.java:"
     "136-146 has no Porter/phonetic/wd/synonym stages)"),
    ("light_lang", "", _STD_ONLY + " german french",
     "light_lang composes only with the standard chain ({es,pt,it} "
     "analyzers have no Porter/phonetic/wd/synonym stages)"),
    ("stem_exclusions", "stem german french light_lang", "",
     "stem_exclusions require a stemming stage"),
    ("stem_exclusions", "",
     "stem_keep_original phonetic word_delimiter synonyms common_grams "
     "compound_dict",
     "stem_exclusions compose with the plain stemming chains only "
     "(KeywordRepeat/phonetic/wd/synonym/gram/compound chains are out of "
     "the reference's exclusion slot)"),
    ("token_pattern", "", "word_delimiter",
     "token_pattern replaces the tokenizer; word_delimiter re-tokenizes the "
     "case-preserving source — exclusive"),
    ("common_grams", "",
     "stem phonetic word_delimiter synonyms german stop_words",
     "common_grams composes only with the standard chain and an empty stop "
     "set (the grams ARE the stopword strategy)"),
    ("compound_dict", "",
     "stem phonetic word_delimiter synonyms german french common_grams "
     "stem_keep_original",
     "compound_dict composes only with the standard chain (+ stop words): "
     "DictionaryCompoundWordTokenFilter sits directly after the stop filter "
     "in the reference chains"),
    ("hyphen_dict", "hyphen_spec", "", "hyphen_dict requires hyphen_spec"),
    ("hyphen_spec", "",
     "stem phonetic word_delimiter synonyms german french common_grams "
     "stem_keep_original compound_dict",
     "hyphen_spec composes only with the standard chain (+ stop words), and "
     "is exclusive with compound_dict — one compound mode per chain, "
     "matching the reference's either/or factory choice"),
    ("synonyms", "", "word_delimiter phonetic stem",
     "synonyms compose only with the standard chain (no word_delimiter/"
     "phonetic/stem in this engine)"),
    ("synonyms", "", "stop_words",
     "synonyms require an empty stop set (the graph matcher assumes a dense "
     "token stream)"),
    ("cjk_output_unigrams", "cjk_bigram", "",
     "cjk_output_unigrams requires cjk_bigram"),
    ("turkish_case", "lowercase", "word_delimiter cjk_bigram ascii_fold",
     "turkish_case replaces the plain lowercase step (requires "
     "lowercase=True; exclusive with wd/cjk/fold)"),
    ("cjk_bigram", "",
     "stem german french light_lang word_delimiter phonetic synonyms "
     "common_grams compound_dict token_pattern char_filters html_strip "
     "ascii_fold possessive stem_keep_original stem_exclusions",
     "cjk_bigram composes only with lowercase + stop words (CJKAnalyzer.java:"
     "89-96 is width -> lower -> bigram -> stop; no other stages in the "
     "reference chain)"),
)


@dataclass(frozen=True)
class AnalyzerConfig:
    """StandardAnalyzer-equivalent pipeline configuration.

    With possessive/stem enabled the chain order mirrors
    EnglishAnalyzer.java:107-117: tokenize -> EnglishPossessiveFilter ->
    lowercase -> StopFilter -> PorterStemFilter (we lowercase the source
    before tokenizing, which commutes with the possessive strip since
    both apostrophe+s cases are handled)."""

    stop_words: frozenset = frozenset()  # reference default: EMPTY set
    max_token_length: int = MAX_TOKEN_LENGTH
    lowercase: bool = True
    possessive: bool = False  # EnglishPossessiveFilter.java
    stem: bool = False  # PorterStemFilter.java
    ascii_fold: bool = False  # ASCIIFoldingFilter.java (Latin subset)
    # HTMLStripCharFilter (analysis/charfilter/HTMLStripCharFilter.java):
    # a CHAR filter — markup removed from the source BEFORE tokenization
    # (kernels/htmlstrip.py pins the behavioral contract).
    html_strip: bool = False
    # PatternReplaceCharFilter chain (analysis/pattern/
    # PatternReplaceCharFilter.java:49-80; the Solr charFilter idiom):
    # tuple of (regex, replacement) applied IN ORDER to the source
    # before tokenization (after html_strip when both are set, matching
    # Solr's declaration-order charFilter stack). () = absent.
    char_filters: tuple = ()
    # PatternTokenizer in match mode, group 0 (analysis/pattern/
    # PatternTokenizer.java:54-130; the Solr pattern-tokenizer idiom):
    # when set, this regex REPLACES the standard UAX#29 approximation —
    # every match is one token. "" = standard tokenizer.
    token_pattern: str = ""
    # WordDelimiterGraphFilter flag bitmask; 0 = filter absent. Chain
    # order mirrors the Solr code-field idiom: tokenize (CASE-PRESERVING
    # — splits need it) -> WDGF -> lowercase -> stop -> stem; positions
    # renumber over the post-split stream (graph semantics: parts take
    # consecutive positions, catenations/original stack at their start).
    word_delimiter: int = 0
    # PhoneticFilter with inject=true (analysis/phonetic/
    # PhoneticFilter.java:43-90): each emitted token is followed by its
    # phonetic code AT THE SAME POSITION (posIncr 0); query-side Term
    # leaves become SynonymQuery(term, code). Value = encoder name
    # (kernels/phonetic.ENCODERS), "" = filter absent.
    phonetic: str = ""
    # KeywordRepeatFilter + PorterStemFilter + RemoveDuplicatesTokenFilter
    # (analysis/miscellaneous/KeywordRepeatFilter.java + RemoveDuplicates
    # TokenFilter.java — the Solr keep-original stemming idiom): each
    # token emits ORIGINAL then STEM at ONE position when they differ;
    # query Terms become SynonymQuery(original, stem). Requires stem.
    stem_keep_original: bool = False
    # GermanNormalizationFilter + GermanLightStemFilter
    # (de/GermanAnalyzer.java:132-142 chain; kernels/german.py pins both
    # stages — the light stemmer against the full 35k canonical
    # vocabulary). 1:1 token mapping applied AFTER the stop filter;
    # composes with the standard chain only (the reference's German
    # stack has no Porter/phonetic/wd variants).
    german: bool = False
    # ElisionFilter(DEFAULT_ARTICLES) + FrenchLightStemFilter
    # (fr/FrenchAnalyzer.java:136-146 chain; kernels/french.py pins the
    # stemmer against the full 20k canonical vocabulary). Elision strips
    # "l'avion" -> "avion" pre-stop; the stemmer is a 1:1 post-stop
    # stage. Composes with the standard chain only.
    french: bool = False
    # Spanish / Portuguese / Italian light chains ({es,pt,it}/*Analyzer
    # .java: tokenize -> [it: ElisionFilter] -> lowercase -> snowball
    # stops -> UniNE light stem; kernels/romance.py pins all three
    # stemmers against the full canonical vocabularies). Value = "es" /
    # "pt" / "it" / "sv" / "hu", "" = absent. 1:1 post-stop stage (it
    # adds elision pre-stop); composes with the
    # standard chain only, like german/french.
    light_lang: str = ""
    # SetKeywordMarkerFilter stem exclusion set (analysis/miscellaneous/
    # SetKeywordMarkerFilter.java; every language analyzer's
    # stemExclusionSet constructor arg): tokens in the set bypass the
    # stemming stage (Porter / German light / French light / UniNE
    # light). Position: AFTER the stop filter, exactly the reference
    # chain slot. GermanNormalizationFilter is NOT keyword-aware
    # (de/GermanNormalizationFilter.java has no KeywordAttribute) —
    # excluded German tokens still normalize, only the stem is skipped.
    stem_exclusions: frozenset = frozenset()
    # CommonGramsFilter (analysis/commongrams/CommonGramsFilter.java:
    # 52-180; kernels/commongrams.py pins both stream contracts with the
    # reference's full s/n golden matrix): unigrams stay, plus a
    # "prev_cur" gram stacked at the previous token's position whenever
    # either member is in the set. Query-side Phrases re-analyze through
    # CommonGramsQueryFilter (grams whenever possible, displaced
    # unigrams dropped). frozenset() = filter absent. Requires an empty
    # stop set (the grams ARE the stopword strategy).
    common_grams: frozenset = frozenset()
    # DictionaryCompoundWordTokenFilter (compound/DictionaryCompoundWord
    # TokenFilter.java:73-100 over CompoundWordTokenFilterBase.java:90-116
    # defaults min_word=5/min_sub=2/max_sub=15; kernels/compound.py pins
    # the decompose contract): every token >= 5 chars additionally emits
    # its dictionary subwords AT THE SAME POSITION (posIncr 0, original
    # kept) — the Germanic compound-recall idiom. Query-side Terms become
    # SynonymQuery(term, *subwords). frozenset() = filter absent.
    compound_dict: frozenset = frozenset()
    # HyphenationCompoundWordTokenFilter (compound/HyphenationCompound
    # WordTokenFilter.java:135-205 decompose over a Liang/TeX pattern
    # grammar — kernels/hyphenation.py pins the hyphenator and the
    # decompose contract with the reference's public da_UTF8.xml
    # goldens): every token >= 5 chars additionally emits the parts
    # between its hyphen points AT THE SAME POSITION (posIncr 0,
    # original kept), dictionary-filtered when hyphen_dict is set,
    # every min/max-sized part when hyphen_dict is None (the
    # reference's no-dictionary mode). None = filter absent; exclusive
    # with compound_dict (one compound mode per chain).
    hyphen_spec: object = None
    hyphen_dict: frozenset | None = None
    # SynonymGraphFilter + FlattenGraphFilter at index time
    # (synonym/SynonymGraphFilter.java:426-545, core/FlattenGraphFilter
    # .java:268-340 — kernels/synonyms.py pins the graph+flatten
    # contract with reference-mirroring goldens). Value = tuple of
    # Solr-format rule lines ("a, b" equivalence / "x y => z" explicit);
    # () = filter absent. Positions renumber DENSELY over the flattened
    # stream (the flatten sausage); query-side Terms expand to
    # SynonymQuery (all-single-token paths) or OR-of-Term/Phrase.
    synonyms: tuple = ()
    # CJKBigramFilter flag bitmask (cjk/CJKBigramFilter.java:59-66 —
    # kernels/cjk.py pins the stream contract with reference-mirroring
    # goldens); 0 = filter absent. The chain is CJKAnalyzer.java:89-96:
    # width fold -> lowercase -> tokenize+bigram -> stop; positions
    # renumber over the expanded stream (a CJK run's width differs from
    # its raw token count), so offsets/payloads are rejected at index
    # time like the wd/html chains.
    cjk_bigram: int = 0
    # CJKBigramFilter outputUnigrams (the combined unigram+bigram
    # index): bigrams stack at their first unigram's position
    # (posInc 0, CJKBigramFilter.java:300-308).
    cjk_output_unigrams: bool = False
    # TurkishLowerCaseFilter (tr/TurkishLowerCaseFilter.java:49-90):
    # I→ı (or i when a combining dot above follows), İ→i, everything
    # else standard lowercase — replaces the plain lowercase stage.
    # Composes with the Turkish snowball chain.
    turkish_case: bool = False

    def __post_init__(self):
        for flag, needs, excludes, why in _COMPOSITION:
            if self._on(flag) and (
                (needs and not any(map(self._on, needs.split())))
                or any(map(self._on, excludes.split()))
            ):
                raise ValueError(why)

    def _on(self, name: str) -> bool:
        value = getattr(self, name)
        # an empty hyphen_dict is a configured (empty) dictionary
        return value is not None if name == "hyphen_dict" else bool(value)

    def with_english_stop(self) -> "AnalyzerConfig":
        return replace(self, stop_words=ENGLISH_STOP_WORDS)

    @property
    def stages(self) -> tuple:
        """The ordered chain of this config (derived once per config)."""
        return _derive_stages(self)

    @property
    def reshapes_query(self) -> bool:
        """Query terms must pass through the chain to match the index."""
        return any(s.reshapes_query for s in self.stages)

    @property
    def retokenizes(self) -> bool:
        """One query term can analyze to several tokens."""
        return any(s.retokenizes for s in self.stages)

    @property
    def breaks_alignment(self) -> bool:
        """Positions or characters stop lining up with the raw tokens of
        the stored content (offsets/payloads cannot be stored)."""
        return any(s.breaks_alignment for s in self.stages)



STANDARD = AnalyzerConfig()
ENGLISH = AnalyzerConfig(stop_words=ENGLISH_STOP_WORDS)
# full EnglishAnalyzer chain (EnglishAnalyzer.java:107-117)
ENGLISH_STEM = AnalyzerConfig(
    stop_words=ENGLISH_STOP_WORDS, possessive=True, stem=True
)
# StandardAnalyzer + ASCIIFoldingFilter: accent-insensitive matching
# (fold runs on the lowercased SOURCE, which commutes with tokenization:
# every folded codepoint is a letter mapping to letters)
STANDARD_FOLD = AnalyzerConfig(ascii_fold=True)
# code-identifier chain: WordDelimiterGraphFilter with the Solr factory
# defaults (camelCase / snake_case / letter-digit splits, per-subword
# possessive strip) then lowercase — `getFooBar` indexes get/foo/bar
CODE = AnalyzerConfig(word_delimiter=WD_DEFAULT)
# StandardAnalyzer behind an HTMLStripCharFilter (the Solr text_html idiom)
HTML = AnalyzerConfig(html_strip=True)
# StandardAnalyzer + PhoneticFilter(Soundex, inject=true)
PHONETIC = AnalyzerConfig(phonetic="soundex")
# KeywordRepeat + Porter + RemoveDuplicates: original AND stem indexed
STEM_KEEP = AnalyzerConfig(stem=True, stem_keep_original=True)
# StandardAnalyzer + SynonymGraphFilter + FlattenGraphFilter with the
# shipped SYN_RULES (kernels/synonyms.py — the DuckDB twin generator
# derives from the SAME tuple)
SYNONYM_EN = AnalyzerConfig(synonyms=SYN_RULES)
# GermanAnalyzer: lowercase + snowball german stops + normalization +
# light stem (de/GermanAnalyzer.java:132-142)
GERMAN = AnalyzerConfig(stop_words=GERMAN_STOP_WORDS, german=True)
# StandardAnalyzer + CommonGramsFilter over the corpus's function words
# (the Solr phrase-performance idiom: no stop filter, grams instead)
COMMON_GRAMS_EN = AnalyzerConfig(common_grams=frozenset({"the", "a"}))
# FrenchAnalyzer: elision + lowercase + snowball french stops + light
# stem (fr/FrenchAnalyzer.java:136-146)
FRENCH = AnalyzerConfig(stop_words=FRENCH_STOP_WORDS, french=True)
# StandardAnalyzer behind a PatternReplaceCharFilter that joins
# hyphenated compounds ("data-driven" -> one token "datadriven")
PATTERN_CF = AnalyzerConfig(char_filters=(("-", ""),))
# PatternTokenizer in match mode: letters-only tokens (digits split,
# the Solr pattern-tokenizer idiom)
PATTERN_TOK = AnalyzerConfig(token_pattern="[a-z]+")
# EnglishAnalyzer with a stemExclusionSet (EnglishAnalyzer.java:117
# stemExclusionSet constructor arg -> SetKeywordMarkerFilter before the
# Porter stem): 'customer' stays verbatim while everything else stems
ENGLISH_STEM_EXCL = AnalyzerConfig(
    stop_words=ENGLISH_STOP_WORDS, possessive=True, stem=True,
    stem_exclusions=frozenset({"customer"}),
)
# SpanishAnalyzer / PortugueseAnalyzer / ItalianAnalyzer: snowball
# stops + UniNE light stemmers ({es,pt,it}/*Analyzer.java chains;
# Italian includes its ElisionFilter article set)
SPANISH = AnalyzerConfig(stop_words=SPANISH_STOP_WORDS, light_lang="es")
PORTUGUESE = AnalyzerConfig(stop_words=PORTUGUESE_STOP_WORDS,
                            light_lang="pt")
ITALIAN = AnalyzerConfig(stop_words=ITALIAN_STOP_WORDS, light_lang="it")
# SwedishAnalyzer / HungarianAnalyzer: snowball stops + UniNE light
# stemmers ({sv,hu}/*Analyzer.java chains)
SWEDISH = AnalyzerConfig(stop_words=SWEDISH_STOP_WORDS, light_lang="sv")
HUNGARIAN = AnalyzerConfig(stop_words=HUNGARIAN_STOP_WORDS,
                           light_lang="hu")
# FinnishAnalyzer: snowball stops + UniNE light stemmer
# (fi/FinnishAnalyzer.java chain)
FINNISH = AnalyzerConfig(stop_words=FINNISH_STOP_WORDS, light_lang="fi")
# RussianAnalyzer: snowball stops + UniNE light stemmer — Cyrillic
# end-to-end (the \w+ tokenizer handles it natively)
RUSSIAN = AnalyzerConfig(stop_words=RUSSIAN_STOP_WORDS, light_lang="ru")
# NorwegianAnalyzer (no/NorwegianAnalyzer.java: snowball stops +
# NorwegianLightStemmer with the BOKMAAL flag); the Nynorsk and
# minimal variants ride the same registry
NORWEGIAN = AnalyzerConfig(stop_words=NORWEGIAN_STOP_WORDS,
                           light_lang="nb")
NORWEGIAN_NYNORSK = AnalyzerConfig(stop_words=NORWEGIAN_STOP_WORDS,
                                   light_lang="nn")
NORWEGIAN_MINIMAL = AnalyzerConfig(stop_words=NORWEGIAN_STOP_WORDS,
                                   light_lang="nb_min")
# The UniNE MINIMAL stemmer variants (GermanMinimalStemFilter /
# FrenchMinimalStemFilter — one-pass plural strips, a lighter touch
# than the light stemmers) behind the same snowball stop sets
GERMAN_MINIMAL = AnalyzerConfig(stop_words=GERMAN_STOP_WORDS,
                                light_lang="de_min")
FRENCH_MINIMAL = AnalyzerConfig(stop_words=FRENCH_STOP_WORDS,
                                light_lang="fr_min")
# StandardAnalyzer + DictionaryCompoundWordTokenFilter over a dictionary
# tuned to the testdata documents vocabulary (the Germanic
# compound-recall idiom: `customer` additionally indexes
# `custom`+`tom`, `window` indexes `wind`; `stream` exercises the
# whole-token-in-dictionary duplicate the reference also emits). The
# DuckDB twin generator derives its mapping table from the SAME
# decompose over the testdata vocabulary.
COMPOUND_DICT = frozenset({"custom", "tom", "wind", "col", "tab", "stream"})
COMPOUND = AnalyzerConfig(compound_dict=COMPOUND_DICT)
# StandardAnalyzer + HyphenationCompoundWordTokenFilter: a tiny Liang
# pattern grammar tuned to the testdata documents vocabulary ('s1t'
# and 'm1e' hyphenate customer -> cus-tom-er, 'n1d' hyphenates
# window -> win-dow) plus a subword dictionary — `customer` indexes
# cus+custom+tom (hyphen-point-ALIGNED parts only, unlike the
# every-offset dictionary scan above). The DuckDB twin derives its
# mapping table from the SAME hyphen_decompose over the testdata
# vocabulary; the hyphenator itself is pinned by the reference's
# public da_UTF8.xml goldens in tests/test_hyphenation.py.
HYPHEN_SPEC = HyphenationSpec(
    classes=tuple((c, c) for c in "abcdefghijklmnopqrstuvwxyz"),
    patterns=tuple(
        parse_pattern_values(p) for p in ("s1t", "m1e", "n1d")
    ),
)
HYPHEN_DICT = frozenset({"cus", "custom", "tom", "win", "dow"})
HYPHENATION = AnalyzerConfig(hyphen_spec=HYPHEN_SPEC,
                             hyphen_dict=HYPHEN_DICT)
# Snowball-program analyzers (da/DanishAnalyzer.java:103-109,
# nl/DutchAnalyzer.java:147-156 with its DEFAULT_STEM_DICT override,
# ro/RomanianAnalyzer.java:106-112): snowball stops + SnowballFilter,
# riding the 1:1 light_lang registry (kernels/snowball.py, vocab-pinned)
DANISH = AnalyzerConfig(stop_words=DANISH_STOP_WORDS, light_lang="da")
# SnowballFilter("English") — the Porter2 program (snowball/ext/
# EnglishStemmer.java; the Solr SnowballPorterFilterFactory
# language="English" idiom), distinct from the classic PorterStemFilter
# chain above; vocab-pinned bit-exact (29,417 words)
ENGLISH_SNOWBALL = AnalyzerConfig(stop_words=ENGLISH_STOP_WORDS,
                                  light_lang="en")
# TurkishAnalyzer (tr/TurkishAnalyzer.java:103-112): TurkishLowerCase
# (dotted/dotless I) + snowball stops + the snowball Turkish program —
# the largest snowball stemmer, vocab-pinned bit-exact (96,325 words).
# (ApostropheFilter is structurally a no-op here: the engine tokenizer
# never emits apostrophes inside tokens; kernels/turkish.py ships
# strip_apostrophe for faithful standalone use.)
TURKISH = AnalyzerConfig(stop_words=TURKISH_STOP_WORDS,
                         light_lang="tr", turkish_case=True)
# ArabicAnalyzer (ar/ArabicAnalyzer.java:134-145): published stop list
# + ArabicNormalizationFilter + the Larkey light-8 ArabicStemFilter
# (kernels/arabic.py, pinned by the reference's own golden pairs)
ARABIC = AnalyzerConfig(stop_words=ARABIC_STOP_WORDS, light_lang="ar")
DUTCH = AnalyzerConfig(stop_words=DUTCH_STOP_WORDS, light_lang="nl")
ROMANIAN = AnalyzerConfig(stop_words=ROMANIAN_STOP_WORDS,
                          light_lang="ro")
# CJKAnalyzer.java:89-96 chain (width -> lower -> bigram -> stopwords.txt)
CJK = AnalyzerConfig(stop_words=CJK_STOP_WORDS, cjk_bigram=CJK_ALL)
# the combined unigram+bigram index (CJKBigramFilter outputUnigrams=true)
CJK_UNIBI = AnalyzerConfig(stop_words=CJK_STOP_WORDS, cjk_bigram=CJK_ALL,
                           cjk_output_unigrams=True)

# named registry: the manifest persists the analyzer by name so the
# searcher analyzes query terms with the INDEX's chain (a stemmed index
# must stem query terms too, or `merges` misses `merge`)
ANALYZERS: dict = {
    "standard": STANDARD,
    "english": ENGLISH,
    "english_stem": ENGLISH_STEM,
    "standard_fold": STANDARD_FOLD,
    "code": CODE,
    "html": HTML,
    "phonetic": PHONETIC,
    "stem_keep": STEM_KEEP,
    "synonym_en": SYNONYM_EN,
    "german": GERMAN,
    "common_grams_en": COMMON_GRAMS_EN,
    "french": FRENCH,
    "compound": COMPOUND,
    "spanish": SPANISH,
    "portuguese": PORTUGUESE,
    "italian": ITALIAN,
    "english_stem_excl": ENGLISH_STEM_EXCL,
    "pattern_charfilter": PATTERN_CF,
    "pattern_letters": PATTERN_TOK,
    "swedish": SWEDISH,
    "hungarian": HUNGARIAN,
    "finnish": FINNISH,
    "russian": RUSSIAN,
    "german_minimal": GERMAN_MINIMAL,
    "french_minimal": FRENCH_MINIMAL,
    "norwegian": NORWEGIAN,
    "norwegian_nynorsk": NORWEGIAN_NYNORSK,
    "norwegian_minimal": NORWEGIAN_MINIMAL,
    "cjk": CJK,
    "cjk_unibi": CJK_UNIBI,
    "danish": DANISH,
    "dutch": DUTCH,
    "romanian": ROMANIAN,
    "hyphenation": HYPHENATION,
    "english_snowball": ENGLISH_SNOWBALL,
    "turkish": TURKISH,
    "arabic": ARABIC,
}


def analyzer_name(cfg: AnalyzerConfig) -> str:
    """The registry name the manifest persists for `cfg`. Readers map the
    name back through ANALYZERS, so a config outside the registry cannot
    be persisted: it raises instead of silently reading back as another
    chain."""
    for name, c in ANALYZERS.items():
        if c == cfg:
            return name
    raise ValueError(
        "analyzer config is not registered in ANALYZERS: the manifest "
        "persists the analyzer by name, so register the config under a "
        "name first"
    )


@dataclass(frozen=True)
class Stage:
    """One step of an analysis chain. `kind` says how it acts on the flat
    (terms, row_idx, pos) stream:

      text      str -> str over each document before tokenization
      tokenize  document -> raw tokens; position = raw token index
      split     token -> ([(part, rel_pos), ...], width): the parts
                replace the token and later positions shift by width - 1
      filter    token -> keep?; a dropped token still consumes its
                position
      map       token -> token
      stack     token -> (token, *extra): the tuple replaces the token,
                every member at its position
      stream    (terms, row_idx, pos, n_docs) -> (terms, row_idx, pos)
                over whole documents (graph filters)

    The flags declare what the stage means for queries and offsets:

      reshapes_query    a query term must pass through the chain to match
      retokenizes       one query term can become several tokens
      breaks_alignment  positions or characters no longer line up with
                        the raw tokens of the stored content
      phrase_slots      (stack) the members become phrase alternatives
      primary           (stack) index of the member a one-term query
                        slot takes
    """

    name: str
    kind: str
    fn: Callable
    reshapes_query: bool = True
    retokenizes: bool = False
    breaks_alignment: bool = False
    phrase_slots: bool = False
    primary: int = 0


def _fits(limit: int, tok: str) -> bool:
    return len(tok) <= limit


def _not_in(words: frozenset, tok: str) -> bool:
    return tok not in words


def _keyword_aware(stem: Callable, keywords: frozenset,
                   keyword_form: Callable | None = None) -> Callable:
    """SetKeywordMarkerFilter: tokens in `keywords` skip `stem` (taking
    `keyword_form` instead, when given)."""
    if not keywords:
        return stem
    keep = keyword_form or (lambda t: t)
    return lambda t: keep(t) if t in keywords else stem(t)


def _wd_parts(flags: int, tok: str):
    parts, width = wd_split(tok, flags)
    return [(text, start) for text, start, _end in parts], width


def _with_original(tok: str) -> tuple:
    """KeywordRepeat + Porter + RemoveDuplicates: original then stem."""
    stem = porter_stem(tok)
    return (tok, stem) if stem != tok else (stem,)


def _with_code(encoder: str, tok: str) -> tuple:
    code = phonetic_code(tok, encoder)
    return (tok, code) if code else (tok,)


def _with_parts(decompose: Callable, tok: str) -> tuple:
    return (tok, *decompose(tok))


def _synonym_stream(smap, terms, row_idx, pos, n: int):
    """SynonymGraphFilter + FlattenGraphFilter over the flat stream: a
    per-token trigger test splits docs into a no-match fast path
    (positions renumber densely, everything stays NumPy) and a per-doc
    scalar graph pass for the docs containing a trigger — work is
    proportional to trigger-doc tokens, not corpus tokens."""
    if len(terms) == 0 or not smap:
        return terms, row_idx, pos
    # dense per-doc renumbering (apply_synonym_graph numbers the
    # flattened stream 0..k-1)
    counts = np.bincount(row_idx, minlength=n)
    offsets = np.cumsum(counts) - counts
    dense_pos = np.arange(len(terms), dtype=np.int64) - np.repeat(
        offsets[counts > 0], counts[counts > 0]
    )
    hit = np.fromiter(map(smap.by_first.__contains__, terms.tolist()),
                      bool, len(terms))
    if not hit.any():
        return terms, row_idx, dense_pos
    doc_hit = np.bincount(row_idx[hit], minlength=n) > 0
    tok_hit = doc_hit[row_idx]
    out_t = [terms[~tok_hit]]
    out_r = [row_idx[~tok_hit]]
    out_p = [dense_pos[~tok_hit]]
    out_s = [dense_pos[~tok_hit]]  # emission seq == dense pos on fast path
    for d in np.nonzero(doc_hit)[0]:
        lo, hi = offsets[d], offsets[d] + counts[d]
        t, p = apply_synonym_graph(terms[lo:hi].tolist(), smap)
        k = len(t)
        out_t.append(np.asarray(t, dtype=object))
        out_r.append(np.full(k, d, dtype=np.int64))
        out_p.append(np.asarray(p, dtype=np.int64))
        out_s.append(np.arange(k, dtype=np.int64))
    order = np.lexsort((np.concatenate(out_s), np.concatenate(out_r)))
    return (np.concatenate(out_t)[order], np.concatenate(out_r)[order],
            np.concatenate(out_p)[order])


def _common_grams_stream(common: frozenset, terms, row_idx, pos, n: int):
    """CommonGramsFilter: a "left_right" gram follows every consecutive
    same-doc pair where either member is common, stacked at the left
    member's position (uni p, gram p, uni p+1 ... — the filter's
    emission order; kernels/commongrams.py is the scalar contract)."""
    if len(terms) < 2:
        return terms, row_idx, pos
    common_at = np.fromiter(map(common.__contains__, terms.tolist()),
                            bool, len(terms))
    left = np.nonzero((row_idx[:-1] == row_idx[1:])
                      & (common_at[:-1] | common_at[1:]))[0]
    if len(left) == 0:
        return terms, row_idx, pos
    grams = np.empty(len(left), dtype=object)
    grams[:] = [a + GRAM_SEPARATOR + b for a, b in
                zip(terms[left].tolist(), terms[left + 1].tolist())]
    at = left + 1
    return (np.insert(terms, at, grams), np.insert(row_idx, at, row_idx[left]),
            np.insert(pos, at, pos[left]))


@lru_cache(maxsize=None)
def _derive_stages(cfg: AnalyzerConfig) -> tuple:
    """The ordered stage list of `cfg` (the reference chain order; the
    config's __post_init__ rejects the combinations this order does not
    cover). Cached per config value: configs are few (the registry plus
    the odd custom chain)."""
    stages = []

    def add(name, kind, fn, **flags):
        stages.append(Stage(name, kind, fn, **flags))

    def tokenizer(rx=_TOKEN_RE, **flags):
        add("tokenizer", "tokenize", rx.findall, **flags)
        add("max_token_length", "filter",
            partial(_fits, cfg.max_token_length), reshapes_query=False)

    if cfg.html_strip:
        add("html_strip", "text", html_strip, reshapes_query=False,
            breaks_alignment=True)
    for pat, rep in cfg.char_filters:
        add("pattern_replace", "text", partial(re.compile(pat).sub, rep),
            retokenizes=True, breaks_alignment=True)
    if cfg.word_delimiter:
        # WordDelimiterGraphFilter splits on case changes: the source
        # keeps its case until the parts are lowercased
        if cfg.ascii_fold:
            add("ascii_fold", "text", ascii_fold)
        tokenizer(reshapes_query=False)
        add("word_delimiter", "split", partial(_wd_parts, cfg.word_delimiter),
            retokenizes=True, breaks_alignment=True)
        if cfg.lowercase:
            add("lowercase", "map", str.lower, reshapes_query=False)
    elif cfg.cjk_bigram:
        # CJKAnalyzer.java:89-96: width fold -> lowercase -> bigram -> stop
        add("cjk_width", "text", cjk_width_fold)
        if cfg.lowercase:
            add("lowercase", "text", str.lower, reshapes_query=False)
        tokenizer(reshapes_query=False)
        add("cjk_bigram", "split",
            partial(cjk_expand, flags=cfg.cjk_bigram,
                    output_unigrams=cfg.cjk_output_unigrams),
            retokenizes=True, breaks_alignment=True)
    else:
        # the parser lowercases query terms itself, so plain lowercase
        # does not reshape them; Turkish I/İ folding does
        if cfg.turkish_case:
            add("turkish_lowercase", "text", turkish_lower)
        elif cfg.lowercase:
            add("lowercase", "text", str.lower, reshapes_query=False)
        if cfg.ascii_fold:
            add("ascii_fold", "text", ascii_fold)
        if cfg.token_pattern:
            tokenizer(re.compile(cfg.token_pattern), retokenizes=True,
                      breaks_alignment=True)
        else:
            tokenizer(reshapes_query=False)
        if cfg.possessive:
            add("possessive", "map", strip_possessive)
        if cfg.french:
            add("elision", "map", elide)  # pre-stop (FrenchAnalyzer)
        if cfg.light_lang == "it":
            add("elision", "map", partial(elide, articles=ITALIAN_ARTICLES))
        if cfg.turkish_case:
            add("apostrophe", "map", strip_apostrophe)  # pre-stop
    if cfg.stop_words:
        add("stop", "filter", partial(_not_in, cfg.stop_words),
            reshapes_query=False)
    keywords = cfg.stem_exclusions
    if cfg.french:
        add("french_light_stem", "map", _keyword_aware(french_term, keywords))
    if cfg.german:
        # GermanNormalizationFilter is not keyword-aware; the stem is
        add("german_light_stem", "map",
            _keyword_aware(german_term, keywords, german_normalize))
    if cfg.light_lang:
        add("light_stem", "map",
            _keyword_aware(partial(light_stem, cfg.light_lang), keywords))
    if cfg.stem and cfg.stem_keep_original:
        add("keyword_repeat_porter", "stack", _with_original, primary=-1)
    elif cfg.stem:
        add("porter_stem", "map", _keyword_aware(porter_stem, keywords))
    if cfg.phonetic:
        add("phonetic", "stack", partial(_with_code, cfg.phonetic))
    if cfg.compound_dict:
        add("dictionary_compound", "stack",
            partial(_with_parts, partial(compound_decompose,
                                         dictionary=cfg.compound_dict)),
            phrase_slots=True)
    if cfg.hyphen_spec is not None:
        add("hyphenation_compound", "stack",
            partial(_with_parts, partial(hyphen_decompose,
                                         spec=cfg.hyphen_spec,
                                         dictionary=cfg.hyphen_dict)),
            phrase_slots=True)
    if cfg.synonyms:
        # the flatten renumbers positions and multi-word rules extend
        # them past the raw token count
        add("synonym_graph", "stream",
            partial(_synonym_stream, rules_map(cfg.synonyms)),
            breaks_alignment=True)
    if cfg.common_grams:
        add("common_grams", "stream",
            partial(_common_grams_stream, cfg.common_grams))
    return tuple(stages)


def _encode(tokens: list):
    """tokens -> (vocabulary, int64 codes into it)."""
    ids = dict.fromkeys(tokens)
    for i, tok in enumerate(ids):
        ids[tok] = i
    return list(ids), np.fromiter(map(ids.__getitem__, tokens), np.int64,
                                  len(tokens))


def _take(vocab: list, codes: np.ndarray) -> np.ndarray:
    return np.array(vocab, dtype=object)[codes]


def _expand(stage: Stage, vocab: list, codes, row_idx, pos, n: int):
    """A split or stack stage: each vocabulary entry becomes its parts,
    then every token gathers its entry's part slice."""
    split = stage.kind == "split"
    parts, rels, sizes, extra = [], [], [], []
    for tok in vocab:
        if split:
            out, width = stage.fn(tok)
            parts.extend(text for text, _ in out)
            rels.extend(rel for _, rel in out)
            extra.append(width - 1)
        else:
            out = stage.fn(tok)
            parts.extend(out)
        sizes.append(len(out))
    if all(k == 1 for k in sizes) and not any(extra) and not any(rels):
        return parts, codes, row_idx, pos  # one part per token: a map
    if any(extra):
        # a token's start moves by the extra width of the earlier tokens
        # of its document (dropped tokens kept width 1: no shift)
        shift = np.asarray(extra, dtype=np.int64)[codes]
        shift = np.cumsum(shift) - shift
        per_doc = np.bincount(row_idx, minlength=n)
        pos = pos + shift - shift[(np.cumsum(per_doc) - per_doc)[row_idx]]
    sizes = np.asarray(sizes, dtype=np.int64)
    first = np.cumsum(sizes) - sizes
    counts = sizes[codes]
    seg = np.cumsum(counts) - counts
    new_codes = np.repeat(first[codes] - seg, counts)
    new_codes += np.arange(len(new_codes), dtype=np.int64)
    pos = np.repeat(pos, counts)
    if any(rels):
        pos += np.asarray(rels, dtype=np.int64)[new_codes]
    return parts, new_codes, np.repeat(row_idx, counts), pos


def _run(texts: list, cfg: AnalyzerConfig):
    """The chain of `cfg` over document texts -> flat (terms, row_idx,
    pos). Tokens travel as int64 codes into a vocabulary; map, filter,
    split and stack stages call their function once per vocabulary
    entry."""
    n = len(texts)
    vocab, codes, row_idx, pos = [], None, None, None
    for stage in cfg.stages:
        kind = stage.kind
        if kind == "text":
            texts = list(map(stage.fn, texts))
        elif kind == "tokenize":
            tokens = list(map(stage.fn, texts))
            counts = np.fromiter(map(len, tokens), np.int64, n)
            vocab, codes = _encode(list(chain.from_iterable(tokens)))
            row_idx = np.repeat(np.arange(n, dtype=np.int64), counts)
            pos = np.arange(len(codes), dtype=np.int64) - np.repeat(
                np.cumsum(counts) - counts, counts)
        elif kind == "filter":
            keep = list(map(stage.fn, vocab))
            if not all(keep):
                sel = np.asarray(keep, dtype=bool)[codes]
                codes, row_idx, pos = codes[sel], row_idx[sel], pos[sel]
        elif kind == "map":
            vocab = list(map(stage.fn, vocab))
        elif kind == "stream":
            terms, row_idx, pos = stage.fn(_take(vocab, codes), row_idx, pos, n)
            vocab, codes = terms.tolist(), np.arange(len(terms), dtype=np.int64)
        else:
            vocab, codes, row_idx, pos = _expand(stage, vocab, codes,
                                                 row_idx, pos, n)
    return _take(vocab, codes), row_idx, pos


def flatten_tokens(texts: pd.Series, cfg: AnalyzerConfig = STANDARD):
    """Inversion prep: Series[str] -> (terms ndarray[object], row_idx
    int64, pos int64, doc_len int64). doc_len is the emitted token count
    per row (the norm input)."""
    terms, row_idx, pos = _run(texts.fillna("").tolist(), cfg)
    return terms, row_idx, pos, np.bincount(row_idx, minlength=len(texts))


def tokenize_one(text: str, cfg: AnalyzerConfig = STANDARD) -> tuple[list, list]:
    """Analyze one string -> (terms, positions). Positions reflect the
    pre-filter token index, so stop/overlong removals keep increments."""
    if not text:
        return [], []
    terms, _, pos = _run([text], cfg)
    return terms.tolist(), pos.tolist()


def analyze_series(texts: pd.Series, cfg: AnalyzerConfig = STANDARD) -> pd.Series:
    """Series[str] -> Series[list[str]] of each row's emitted terms."""
    terms, _, _, doc_len = flatten_tokens(texts, cfg)
    terms = terms.tolist()
    ends = np.cumsum(doc_len).tolist()
    return pd.Series([terms[a:b] for a, b in zip([0] + ends[:-1], ends)],
                     index=texts.index, dtype=object)


def query_forms(text: str, cfg: AnalyzerConfig, stacks: str = "all") -> tuple:
    """One query token through the chain's per-token stages (text, map,
    filter and stack; the query is one raw token, so the tokenizer,
    split and stream stages do not apply). A token a filter drops comes
    back as it is at that point: like a TermQuery for a stopped term, it
    matches nothing. `stacks` picks which stack stages contribute all
    their members: "all" (a Term's SynonymQuery), "phrase" (the stages
    declaring phrase_slots) or "none"; the others contribute their
    primary member."""
    forms = (text,)
    for stage in cfg.stages:
        kind = stage.kind
        if kind in ("text", "map"):
            forms = tuple(map(stage.fn, forms))
        elif kind == "filter":
            if not all(map(stage.fn, forms)):
                return forms
        elif kind == "stack":
            if stacks == "all" or (stacks == "phrase" and stage.phrase_slots):
                forms = tuple(dict.fromkeys(
                    m for f in forms for m in stage.fn(f)))
            else:
                forms = tuple(stage.fn(f)[stage.primary] for f in forms)
    return forms


def shingle_tokens(
    terms: list,
    min_n: int = 2,
    max_n: int = 2,
    sep: str = " ",
    output_unigrams: bool = True,
) -> list:
    """ShingleFilter (analysis/shingle/ShingleFilter.java:61-146): emit
    word n-grams of consecutive tokens for every size in [min_n, max_n],
    in the reference's position-ordered interleaving (at each position:
    the unigram if outputUnigrams, then each shingle size starting
    there). min_n >= 2 like the reference's minShingleSize contract."""
    if min_n < 2 or max_n < min_n:
        raise ValueError("shingle sizes need 2 <= min_n <= max_n")
    out = []
    n_terms = len(terms)
    for i in range(n_terms):
        if output_unigrams:
            out.append(terms[i])
        for n in range(min_n, max_n + 1):
            if i + n <= n_terms:
                out.append(sep.join(terms[i:i + n]))
    return out


def shingle_series(
    texts: pd.Series,
    cfg: AnalyzerConfig = STANDARD,
    min_n: int = 2,
    max_n: int = 2,
    output_unigrams: bool = True,
) -> pd.Series:
    """Analyze then shingle each row — Series[str] → Series[list[str]]
    (the analyzer-chain composition a shingled field indexes)."""
    return analyze_series(texts, cfg).map(
        lambda t: shingle_tokens(t, min_n, max_n, " ", output_unigrams)
    )


def ngram_tokens(
    terms: list, min_n: int = 1, max_n: int = 2, preserve_original: bool = False
) -> list:
    """NGramTokenFilter (analysis/ngram/NGramTokenFilter.java:60-160):
    per input token, every char n-gram in emission order — for each start
    offset, gram sizes min..max, then the next offset. preserve_original
    keeps tokens shorter than min_n (emitted alone, :87-92) and appends
    tokens longer than max_n after their grams (:110-117)."""
    if min_n < 1 or min_n > max_n:
        raise ValueError("ngram sizes need 1 <= min_n <= max_n")
    out = []
    for t in terms:
        L = len(t)
        if L < min_n:
            if preserve_original:
                out.append(t)
            continue
        for pos in range(L):
            for n in range(min_n, max_n + 1):
                if pos + n <= L:
                    out.append(t[pos:pos + n])
        if preserve_original and L > max_n:
            out.append(t)
    return out


def edge_ngram_tokens(
    terms: list, min_n: int = 1, max_n: int = 2, preserve_original: bool = False
) -> list:
    """EdgeNGramTokenFilter (analysis/ngram/EdgeNGramTokenFilter.java:
    60-130): per input token, the front-anchored grams of sizes min..max;
    preserve_original keeps shorter-than-min tokens and appends
    longer-than-max originals after their grams."""
    if min_n < 1 or min_n > max_n:
        raise ValueError("edge ngram sizes need 1 <= min_n <= max_n")
    out = []
    for t in terms:
        L = len(t)
        if L < min_n:
            if preserve_original:
                out.append(t)
            continue
        for n in range(min_n, min(max_n, L) + 1):
            out.append(t[:n])
        if preserve_original and L > max_n:
            out.append(t)
    return out


def ngram_series(
    texts: pd.Series,
    cfg: AnalyzerConfig = STANDARD,
    min_n: int = 1,
    max_n: int = 2,
    edge: bool = False,
    preserve_original: bool = False,
) -> pd.Series:
    """Analyze then n-gram each row — Series[str] → Series[list[str]]:
    the (Edge)NGram analyzer-chain composition a substring/prefix-search
    field indexes (the filters compose AFTER stop filtering, like
    ShingleFilter)."""
    fn = edge_ngram_tokens if edge else ngram_tokens
    return analyze_series(texts, cfg).map(
        lambda t: fn(t, min_n, max_n, preserve_original)
    )


# DelimitedPayloadTokenFilter (analysis/payloads/
# DelimitedPayloadTokenFilter.java + FloatEncoder.java): `token|2.5`
# attaches payload 2.5 to `token`. The annotation must terminate the
# token (delimiter is a non-word char) and be followed by whitespace or
# end-of-text, like the whitespace-tokenized form the reference filter
# consumes. Unannotated tokens carry the null-payload default 1.0
# (PayloadDecoder.FLOAT_DECODER's null -> 1 convention).
_PAYLOAD_ANNOT = re.compile(r"\|(-?\d+(?:\.\d+)?)(?=\s|$)")


def parse_delimited_payloads(text: str) -> tuple[str, np.ndarray]:
    """One doc's annotated text → (clean_text, float32 payload array
    aligned with the clean text's RAW token positions). Token counting is
    per-part incremental: an annotation always ends a token and is
    followed by non-word input, so tokens never span part boundaries."""
    if not text or "|" not in text:
        n = len(_TOKEN_RE.findall(text or ""))
        return text or "", np.ones(n, dtype=np.float32)
    parts = []
    pays = []  # (raw_pos, value)
    tok_count = 0
    last = 0
    for m in _PAYLOAD_ANNOT.finditer(text):
        seg = text[last:m.start()]
        parts.append(seg)
        tok_count += len(_TOKEN_RE.findall(seg))
        if tok_count > 0:
            pays.append((tok_count - 1, float(m.group(1))))
        last = m.end()
    tail = text[last:]
    parts.append(tail)
    tok_count += len(_TOKEN_RE.findall(tail))
    out = np.ones(tok_count, dtype=np.float32)
    for pos, v in pays:
        out[pos] = np.float32(v)
    return "".join(parts), out
