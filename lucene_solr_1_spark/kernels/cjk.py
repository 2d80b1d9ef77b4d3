"""CJK bigram analysis — CJKBigramFilter + CJKWidthFilter semantics.

Reference contract:
- analysis/common/src/java/org/apache/lucene/analysis/cjk/
  CJKBigramFilter.java:1-380 — forms overlapping bigrams from the CJK
  tokens the StandardTokenizer emits (Han/IDEOGRAPHIC and Hiragana as
  single-codepoint tokens, Katakana and Hangul as runs); buffered
  codepoints bigram ACROSS tokens while offsets stay adjacent (:185-200
  refill keeps the run while startOffset == lastEndOffset), so a
  contiguous CJK run of mixed enabled scripts bigrams as one sequence.
  A lone CJK codepoint (run length 1) emits as a unigram (:320-330
  flushUnigram); a run of length n >= 2 emits exactly n-1 bigrams and
  NO trailing unigram (:343-352 hasBufferedUnigram). Non-enabled
  scripts and non-CJK tokens pass through unmodified (:205-218). With
  outputUnigrams=true every codepoint also emits as a unigram and each
  bigram stacks on its first unigram (posInc 0, posLength 2 — :300-308),
  i.e. A + AB + B + BC + C.
- CJKWidthFilter.java:36-50 — folds fullwidth ASCII variants to
  halfwidth and halfwidth Katakana variants to fullwidth (composing
  halfwidth voice marks): an explicit subset of NFKC, implemented here
  as NFKC over maximal U+FF00-U+FFEF runs.
- CJKAnalyzer.java:89-96 — StandardTokenizer -> CJKWidthFilter ->
  LowerCaseFilter -> CJKBigramFilter -> StopFilter(stopwords.txt).

StandardTokenizer parity notes (CJKBigramFilter.java:46-54 javadoc):
Hangul behaves as a word character under UAX#29, so a token mixing
Hangul and Latin ("한국abc") is typed <ALPHANUM> and is NOT bigrammed;
a pure-Hangul token is typed <HANGUL> and is. Han/Hiragana/Katakana
always split from adjacent Latin.
"""

from __future__ import annotations

import re
import unicodedata

HAN = 1        # CJKBigramFilter.HAN
HIRAGANA = 2   # CJKBigramFilter.HIRAGANA
KATAKANA = 4   # CJKBigramFilter.KATAKANA
HANGUL = 8     # CJKBigramFilter.HANGUL
CJK_ALL = HAN | HIRAGANA | KATAKANA | HANGUL

_WIDTH_RUN = re.compile("[＀-￯]+")


def cjk_width_fold(text: str) -> str:
    """CJKWidthFilter: NFKC over halfwidth/fullwidth-forms runs — folds
    fullwidth Latin/digits to ASCII and halfwidth Katakana (plus its
    combining voice marks) to composed fullwidth. Runs keep the voice
    mark adjacent to its base so NFKC composes it (ｶ + ﾞ -> ガ)."""
    if _WIDTH_RUN.search(text) is None:  # cheap reject: no width forms
        return text
    return _WIDTH_RUN.sub(
        lambda m: unicodedata.normalize("NFKC", m.group(0)), text
    )


def script_of(ch: str) -> int:
    """CJK script class of one codepoint, 0 for everything else. Ranges
    follow the blocks StandardTokenizer's UAX#29-with-CJ grammar types
    as IDEOGRAPHIC / HIRAGANA / KATAKANA / HANGUL."""
    cp = ord(ch)
    if 0x4E00 <= cp <= 0x9FFF or 0x3400 <= cp <= 0x4DBF \
            or 0xF900 <= cp <= 0xFAFF or 0x20000 <= cp <= 0x2FA1F:
        return HAN
    if 0x3040 <= cp <= 0x309F:
        return HIRAGANA
    if 0x30A0 <= cp <= 0x30FF or 0x31F0 <= cp <= 0x31FF:
        return KATAKANA
    if 0xAC00 <= cp <= 0xD7AF or 0x1100 <= cp <= 0x11FF \
            or 0x3130 <= cp <= 0x318F or 0xA960 <= cp <= 0xA97F \
            or 0xD7B0 <= cp <= 0xD7FF:
        return HANGUL
    return 0


def segment_token(tok: str) -> list[tuple[str, int]]:
    """Split one regex-tokenizer token into StandardTokenizer-shaped
    (text, script) segments: Han and Hiragana one codepoint each,
    Katakana maximal runs, everything else (Latin/digits/Hangul)
    accumulates into word segments — a word segment is typed HANGUL
    only when EVERY char is Hangul (mixed-script tokens stay <ALPHANUM>
    and bypass bigramming, CJKBigramFilter.java:46-54)."""
    segs: list[tuple[str, int]] = []
    word: list[str] = []
    word_all_hangul = True

    def flush_word():
        nonlocal word, word_all_hangul
        if word:
            segs.append(("".join(word), HANGUL if word_all_hangul else 0))
            word, word_all_hangul = [], True

    kata: list[str] = []
    for ch in tok:
        s = script_of(ch)
        if s == KATAKANA:
            flush_word()
            kata.append(ch)
            continue
        if kata:
            segs.append(("".join(kata), KATAKANA))
            kata = []
        if s in (HAN, HIRAGANA):
            flush_word()
            segs.append((ch, s))
        else:
            word.append(ch)
            if s != HANGUL:
                word_all_hangul = False
    if kata:
        segs.append(("".join(kata), KATAKANA))
    flush_word()
    return segs


def cjk_expand(tok: str, flags: int = CJK_ALL,
               output_unigrams: bool = False) -> tuple[list, int]:
    """One token -> ([(term, rel_pos)], width). Enabled-script segments
    buffer codepoints; the buffer bigrams at a segment-type break or the
    token end. width = number of positions the expansion consumes (every
    non-stacked emission advances by 1; stacked bigrams take posInc 0).
    Pass-through segments (non-CJK or disabled script) emit verbatim at
    one position each."""
    parts: list[tuple[str, int]] = []
    pos = 0
    buf: list[str] = []

    def flush_buf():
        nonlocal pos
        if not buf:
            return
        if len(buf) == 1:
            parts.append((buf[0], pos))
            pos += 1
        elif output_unigrams:
            # A + AB(stacked) + B + BC(stacked) + C
            for i, c in enumerate(buf):
                parts.append((c, pos))
                if i + 1 < len(buf):
                    parts.append((c + buf[i + 1], pos))  # posInc 0
                pos += 1
        else:
            # n codepoints -> n-1 bigrams, no trailing unigram
            for i in range(len(buf) - 1):
                parts.append((buf[i] + buf[i + 1], pos))
                pos += 1
        buf.clear()

    for text, script in segment_token(tok):
        if script and (flags & script):
            buf.extend(text)
        else:
            flush_buf()
            parts.append((text, pos))
            pos += 1
    flush_buf()
    return parts, max(pos, 1)


# CJKAnalyzer default stop set (analysis/cjk/stopwords.txt — the
# published Apache list; English function words plus bare s/t/www)
CJK_STOP_WORDS = frozenset(
    "a and are as at be but by for if in into is it no not of on or s "
    "such t that the their then there these they this to was will with "
    "www".split()
)
