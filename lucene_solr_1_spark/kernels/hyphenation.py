"""HyphenationCompoundWordTokenFilter — Liang/TeX pattern hyphenation
driving compound decomposition (the reference's default German/Danish
decompounding mode when no full dictionary is available).

Reference contract (lucene/analysis/common/src/java/org/apache/lucene/
analysis/compound/):
- hyphenation/HyphenationTree.java:168-256 (searchPatterns) + :300-392
  (hyphenate): word is normalized through the character-class map
  (non-class leading chars ignored; a non-class char after letters
  aborts), wrapped in '.' start/end markers, and every pattern that is
  a prefix of any suffix contributes its interletter digits with max();
  gaps with an ODD value inside [remain, len-push] are hyphen points;
  the returned point list is [0, points..., len].
- hyphenation/PatternParser.java:166-237 — a raw pattern "ab5le" splits
  into the letter key "able" and the value string "00500" (one digit
  per gap, len(key)+1 of them, '0' where absent).
- HyphenationCompoundWordTokenFilter.java:135-205 (decompose): for every
  hyphen-point pair (i, i+j) the part word[hyp[i]:hyp[i+j]] is emitted
  when minSubwordSize <= len <= maxSubwordSize and (no dictionary, or
  the part — or the part minus its last char, the genitive-s case — is
  in the dictionary); onlyLongestMatch keeps one longest part per start
  point. Parts longer than maxSubwordSize break the inner loop (j
  ascends). Defaults CompoundWordTokenFilterBase.java:37-47:
  minWordSize=5, minSubwordSize=2, maxSubwordSize=15.

The scalar `hyphen_decompose` below is the pinned contract (reference
goldens over the public da_UTF8.xml pattern file in
tests/test_hyphenation.py)."""

from __future__ import annotations

import re
from dataclasses import dataclass

from .compound import (DEFAULT_MAX_SUBWORD_SIZE, DEFAULT_MIN_SUBWORD_SIZE,
                       DEFAULT_MIN_WORD_SIZE)


@dataclass(frozen=True)
class HyphenationSpec:
    """Parsed TeX hyphenation grammar — hashable (tuples only) so it can
    ride inside the frozen AnalyzerConfig and pickle to executors."""

    classes: tuple = ()   # (char, normalized_char) pairs
    patterns: tuple = ()  # (letter_key, digit_values) pairs
    exceptions: tuple = ()  # (word, hyphen-point letter indices) pairs


def parse_pattern_values(raw: str) -> tuple:
    """One raw TeX pattern → (letter key, interletter values)
    (PatternParser.getPattern / getInterletterValues: values has one
    digit per gap, len(key)+1 entries, 0 where no digit is written)."""
    key = "".join(c for c in raw if not c.isdigit())
    vals = []
    # walk gaps: a digit belongs to the gap BEFORE the following letter
    w = raw + "a"  # sentinel letter so the trailing gap is emitted
    i = 0
    while i < len(w):
        c = w[i]
        if c.isdigit():
            vals.append(int(c))
            i += 2  # digit + the letter it precedes
        else:
            vals.append(0)
            i += 1
    return key, tuple(vals)


def parse_patterns_xml(text: str) -> HyphenationSpec:
    """Parse a TeX hyphenation XML grammar (the FOP/OFFO format the
    reference loads: <classes>, <patterns>, optional <exceptions> with
    '-' break markers). DOCTYPE is stripped (no external DTD fetch)."""
    import xml.etree.ElementTree as ET

    text = re.sub(r"<!DOCTYPE[^>]*>", "", text)
    root = ET.fromstring(text)
    classes = []
    for el in root.iter("classes"):
        for group in (el.text or "").split():
            norm = group[0]
            for ch in group:
                classes.append((ch, norm))
    patterns = []
    for el in root.iter("patterns"):
        for raw in (el.text or "").split():
            patterns.append(parse_pattern_values(raw))
    exceptions = []
    for el in root.iter("exceptions"):
        for raw in (el.text or "").split():
            parts = raw.split("-")
            word = "".join(parts)
            pts, j = [], 0
            for p in parts[:-1]:
                j += len(p)
                pts.append(j)
            exceptions.append((word, tuple(pts)))
    return HyphenationSpec(tuple(classes), tuple(patterns), tuple(exceptions))


_COMPILED: dict = {}


def _compiled(spec: HyphenationSpec):
    c = _COMPILED.get(spec)
    if c is None:
        classes = dict(spec.classes)
        patterns = dict(spec.patterns)
        maxlen = max((len(k) for k in patterns), default=0)
        exceptions = dict(spec.exceptions)
        c = (classes, patterns, maxlen, exceptions)
        _COMPILED[spec] = c
    return c


def hyphenation_points(
    word: str, spec: HyphenationSpec, remain: int = 1, push: int = 1
):
    """Hyphen-point list [0, p1, ..., len] or None
    (HyphenationTree.hyphenate; the filter calls remain=push=1). Only
    fully class-mapped words hyphenate — a non-class char after the
    first letter aborts (the reference returns null)."""
    classes, patterns, maxlen, exceptions = _compiled(spec)
    n = len(word)
    norm = []
    ignore_lead = 0
    for i, ch in enumerate(word):
        nc = classes.get(ch)
        if nc is None:
            if i == ignore_lead:
                ignore_lead += 1  # non-letter before any letter
            else:
                return None  # non-letter after letters w/ more letters
        else:
            norm.append(nc)
    ln = len(norm)
    if ln < remain + push:
        return None
    sw = "".join(norm)
    points = []
    if sw in exceptions:
        points = [
            j + ignore_lead
            for j in exceptions[sw]
            if remain <= j < ln - push
        ]
    else:
        w = "." + sw + "."
        il = [0] * (ln + 3)
        for i in range(ln + 1):
            top = min(maxlen, len(w) - i)
            for plen in range(1, top + 1):
                vals = patterns.get(w[i:i + plen])
                if vals is not None:
                    for k, v in enumerate(vals):
                        if i + k < len(il) and v > il[i + k]:
                            il[i + k] = v
        points = [
            i + ignore_lead
            for i in range(ln)
            if (il[i + 1] & 1) == 1 and remain <= i <= ln - push
        ]
    if not points:
        return None
    return [0, *points, ln]


def hyphen_decompose(
    token: str,
    spec: HyphenationSpec,
    dictionary: frozenset | None = None,
    min_word: int = DEFAULT_MIN_WORD_SIZE,
    min_sub: int = DEFAULT_MIN_SUBWORD_SIZE,
    max_sub: int = DEFAULT_MAX_SUBWORD_SIZE,
    only_longest: bool = False,
) -> list:
    """Subwords between hyphen-point pairs, in the reference's emission
    order (outer start point asc, inner end point asc; onlyLongestMatch
    keeps the longest per start). The original token is NOT included
    (the base filter passes it through separately)."""
    if len(token) < min_word:
        return []
    hyp = hyphenation_points(token, spec)
    if hyp is None:
        return []
    out = []
    m = len(hyp)
    for i in range(m):
        start = hyp[i]
        longest = None
        for j in range(1, m - i):
            plen = hyp[i + j] - start
            if plen > max_sub:
                break
            if plen < min_sub:
                continue
            part = token[start:start + plen]
            if dictionary is None or part in dictionary:
                if only_longest:
                    if longest is None or len(longest) < plen:
                        longest = part
                else:
                    out.append(part)
            elif part[:-1] in dictionary:
                # genitive-s / binding-char retry one shorter
                if only_longest:
                    if longest is None or len(longest) < plen - 1:
                        longest = part[:-1]
                else:
                    out.append(part[:-1])
        if only_longest and longest is not None:
            out.append(longest)
    return out
