"""Porter stemmer (Martin Porter, 1980) + English possessive stripping.

Reference parity targets:
  - analysis/en/PorterStemFilter.java + PorterStemmer.java (a port of
    Porter's original C program — includes the two classic departures
    from the 1980 paper: step-2 'bli'->'ble' (paper: 'abli'->'able')
    and the extra 'logi'->'log' rule);
  - analysis/en/EnglishPossessiveFilter.java:43-52 (strip trailing
    's / ’s / ＇s, case-insensitive s);
  - analysis/en/EnglishAnalyzer.java:107-117 chain order: tokenize ->
    possessive -> lowercase -> stop -> stem.

This is an independent implementation of the published algorithm
(https://tartarus.org/martin/PorterStemmer/ — public domain test data),
golden-checked in tests/test_porter.py against Porter's canonical
voc.txt/output.txt vocabulary (the same data TestPorterStemFilter uses).

Words of length <= 2 are returned unchanged (the classic k <= k0+1
early-out). Tokens containing characters outside [a-z] are returned
unchanged — on this engine stemming runs AFTER lowercasing, and
code-like tokens (id_0042, v1.2) should never be reshaped.
"""

from __future__ import annotations

from functools import lru_cache

_VOWELS = frozenset("aeiou")


def _is_cons(w: str, i: int) -> bool:
    c = w[i]
    if c in _VOWELS:
        return False
    if c == "y":
        return True if i == 0 else not _is_cons(w, i - 1)
    return True


def _measure(w: str) -> int:
    """m in [C](VC)^m[V] — the number of vowel->consonant transitions."""
    m = 0
    prev_cons = True
    for i in range(len(w)):
        c = _is_cons(w, i)
        if c and not prev_cons:
            m += 1
        prev_cons = c
    return m


def _has_vowel(w: str) -> bool:
    return any(not _is_cons(w, i) for i in range(len(w)))


def _ends_double_cons(w: str) -> bool:
    return len(w) >= 2 and w[-1] == w[-2] and _is_cons(w, len(w) - 1)


def _ends_cvc(w: str) -> bool:
    """*o: ends consonant-vowel-consonant where the final consonant is
    not w, x or y (the 'add back an e' trigger)."""
    if len(w) < 3:
        return False
    return (
        _is_cons(w, len(w) - 3)
        and not _is_cons(w, len(w) - 2)
        and _is_cons(w, len(w) - 1)
        and w[-1] not in "wxy"
    )


# (suffix, replacement, min_measure) rule tables; within a step the FIRST
# matching suffix is binding — if its measure condition fails, the step
# ends with no change (the longest-match-then-test contract).
_STEP2 = (
    ("ational", "ate"), ("tional", "tion"), ("enci", "ence"),
    ("anci", "ance"), ("izer", "ize"), ("bli", "ble"), ("alli", "al"),
    ("entli", "ent"), ("eli", "e"), ("ousli", "ous"), ("ization", "ize"),
    ("ation", "ate"), ("ator", "ate"), ("alism", "al"),
    ("iveness", "ive"), ("fulness", "ful"), ("ousness", "ous"),
    ("aliti", "al"), ("iviti", "ive"), ("biliti", "ble"), ("logi", "log"),
)
_STEP3 = (
    ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
    ("ical", "ic"), ("ful", ""), ("ness", ""),
)
_STEP4 = (
    "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
    "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
)


def _rule_match(w: str, rules) -> tuple[str, str] | None:
    """Longest matching suffix among the rules (tables are checked in
    order of suffix length desc per original program's switch-on-last
    -letter; ties can't collide here)."""
    best = None
    for suf, rep in rules:
        if w.endswith(suf) and (best is None or len(suf) > len(best[0])):
            best = (suf, rep)
    return best


@lru_cache(maxsize=65536)
def porter_stem(w: str) -> str:
    if len(w) <= 2 or not w.isascii() or not w.isalpha():
        return w
    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif w.endswith("ss"):
        pass
    elif w.endswith("s"):
        w = w[:-1]
    # step 1b
    fix = False
    if w.endswith("eed"):
        if _measure(w[:-3]) > 0:
            w = w[:-1]
    elif w.endswith("ed"):
        if _has_vowel(w[:-2]):
            w = w[:-2]
            fix = True
    elif w.endswith("ing"):
        if _has_vowel(w[:-3]):
            w = w[:-3]
            fix = True
    if fix:
        if w.endswith(("at", "bl", "iz")):
            w = w + "e"
        elif _ends_double_cons(w) and w[-1] not in "lsz":
            w = w[:-1]
        elif _measure(w) == 1 and _ends_cvc(w):
            w = w + "e"
    # step 1c
    if w.endswith("y") and _has_vowel(w[:-1]):
        w = w[:-1] + "i"
    # step 2
    m2 = _rule_match(w, _STEP2)
    if m2 is not None:
        suf, rep = m2
        stem = w[: len(w) - len(suf)]
        if _measure(stem) > 0:
            w = stem + rep
    # step 3
    m3 = _rule_match(w, _STEP3)
    if m3 is not None:
        suf, rep = m3
        stem = w[: len(w) - len(suf)]
        if _measure(stem) > 0:
            w = stem + rep
    # step 4
    best = None
    for suf in _STEP4:
        if w.endswith(suf) and (best is None or len(suf) > len(best)):
            best = suf
    if best is not None:
        stem = w[: len(w) - len(best)]
        if _measure(stem) > 1 and (best != "ion" or stem.endswith(("s", "t"))):
            w = stem
    # step 5a
    if w.endswith("e"):
        stem = w[:-1]
        m = _measure(stem)
        if m > 1 or (m == 1 and not _ends_cvc(stem)):
            w = stem
    # step 5b
    if w.endswith("ll") and _measure(w) > 1:
        w = w[:-1]
    return w


def strip_possessive(w: str) -> str:
    """EnglishPossessiveFilter.java:43-52: strip a trailing
    {'|’|＇}{s|S} (length >= 2)."""
    if len(w) >= 2 and w[-1] in "sS" and w[-2] in "'’＇":
        return w[:-2]
    return w
