"""French analysis chain — FrenchAnalyzer's filter stack re-implemented
from the published algorithms (NOT a port):

  - FrenchAnalyzer chain (analysis/common/src/java/org/apache/lucene/
    analysis/fr/FrenchAnalyzer.java:136-146): StandardTokenizer ->
    ElisionFilter(DEFAULT_ARTICLES) -> LowerCaseFilter ->
    StopFilter(french_stop.txt) -> FrenchLightStemFilter.
  - ElisionFilter (analysis/util/ElisionFilter.java): strips a leading
    "article'" prefix (l'avion -> avion) when the pre-apostrophe text is
    one of the article set.
  - FrenchLightStemmer (fr/FrenchLightStemmer.java:64-266): the UniNE
    light stemmer from Jacques Savoy, "Light Stemming Approaches for the
    French, Portuguese, German and Hungarian Languages" — plural strip,
    a suffix-rewrite cascade (issement->ir, ateur/atrice->er,
    cateur->quer, teuse/teur->ter, ive->if, ique/esse/ation/... cuts),
    then norm(): accent fold, repeated-letter collapse, -ie cut, and the
    final r/e/e/duplicate trailer strips.

The full 38k-word canonical vocabulary (the reference's
frlighttestdata.zip) pins french_light_stem in tests/test_french.py.

Stop set: the published Snowball french_stop.txt, FrenchAnalyzer's
default; articles: FrenchAnalyzer.DEFAULT_ARTICLES.
"""

from __future__ import annotations

FRENCH_ARTICLES = frozenset({
    "l", "m", "t", "qu", "n", "s", "j", "d", "c",
    "jusqu", "quoiqu", "lorsqu", "puisqu",
})

FRENCH_STOP_WORDS = frozenset({
    "au", "aux", "avec", "ce", "ces", "dans", "de", "des", "du", "elle",
    "en", "et", "eux", "il", "je", "la", "le", "leur", "lui", "ma",
    "mais", "me", "même", "mes", "moi", "mon", "ne", "nos", "notre",
    "nous", "on", "ou", "par", "pas", "pour", "qu", "que", "qui", "sa",
    "se", "ses", "son", "sur", "ta", "te", "tes", "toi", "ton", "tu",
    "un", "une", "vos", "votre", "vous", "c", "d", "j", "l", "à", "m",
    "n", "s", "t", "y", "été", "étée", "étées", "étés", "étant", "suis",
    "es", "est", "sommes", "êtes", "sont", "serai", "seras", "sera",
    "serons", "serez", "seront", "serais", "serait", "serions",
    "seriez", "seraient", "étais", "était", "étions", "étiez",
    "étaient", "fus", "fut", "fûmes", "fûtes", "furent", "sois", "soit",
    "soyons", "soyez", "soient", "fusse", "fusses", "fût", "fussions",
    "fussiez", "fussent", "ayant", "eu", "eue", "eues", "eus", "ai",
    "as", "avons", "avez", "ont", "aurai", "auras", "aura", "aurons",
    "aurez", "auront", "aurais", "aurait", "aurions", "auriez",
    "auraient", "avais", "avait", "avions", "aviez", "avaient", "eut",
    "eûmes", "eûtes", "eurent", "aie", "aies", "ait", "ayons", "ayez",
    "aient", "eusse", "eusses", "eût", "eussions", "eussiez", "eussent",
    "ceci", "cela", "celà", "cet", "cette", "ici", "ils", "les",
    "leurs", "quel", "quels", "quelle", "quelles", "sans", "soi",
})


def elide(token: str, articles: frozenset = FRENCH_ARTICLES) -> str:
    """ElisionFilter: strip "article'" (or typographic ’) prefixes."""
    for apos in ("'", "’"):
        i = token.find(apos)
        if i >= 0 and token[:i].lower() in articles:
            return token[i + 1:]
    return token


_FOLD = str.maketrans({
    "à": "a", "á": "a", "â": "a", "ô": "o",
    "è": "e", "é": "e", "ê": "e",
    "ù": "u", "û": "u", "î": "i", "ç": "c",
})


def _norm(s: str) -> str:
    """FrenchLightStemmer.norm (fr/FrenchLightStemmer.java:230-266)."""
    if len(s) > 4:
        s = s.translate(_FOLD)
        # collapse every run of a repeated letter to one
        out = [s[0]]
        for c in s[1:]:
            if c == out[-1] and c.isalpha():
                continue
            out.append(c)
        s = "".join(out)
    if len(s) > 4 and s.endswith("ie"):
        s = s[:-2]
    if len(s) > 4:
        if s[-1] == "r":
            s = s[:-1]
        if s[-1] == "e":
            s = s[:-1]
        if s[-1] == "e":
            s = s[:-1]
        if len(s) >= 2 and s[-1] == s[-2] and s[-1].isalpha():
            s = s[:-1]
    return s


def french_light_stem(word: str) -> str:
    """FrenchLightStemmer.stem (fr/FrenchLightStemmer.java:66-228) —
    the exact rule cascade with its early-return structure."""
    s = word
    if len(s) > 5 and s[-1] == "x":
        if s[-3] == "a" and s[-2] == "u" and s[-4] != "e":
            s = s[:-2] + "l" + s[-1]
        s = s[:-1]
    if len(s) > 3 and s[-1] == "x":
        s = s[:-1]
    if len(s) > 3 and s[-1] == "s":
        s = s[:-1]
    if len(s) > 9 and s.endswith("issement"):
        return _norm(s[:-7] + "r")
    if len(s) > 8 and s.endswith("issant"):
        return _norm(s[:-5] + "r")
    if len(s) > 6 and s.endswith("ement"):
        s = s[:-4]
        if len(s) > 3 and s.endswith("ive"):
            s = s[:-2] + "f"
        return _norm(s)
    if len(s) > 11 and s.endswith("ficatrice"):
        return _norm(s[:-7] + "er")
    if len(s) > 10 and s.endswith("ficateur"):
        return _norm(s[:-6] + "er")
    if len(s) > 9 and s.endswith("catrice"):
        # len -= 3, then rewrite the last 3 of the survivors to 'que'
        # (the final char is already 'r'): ...catr -> ...quer
        s = s[:-7] + "quer"
        return _norm(s)
    if len(s) > 8 and s.endswith("cateur"):
        return _norm(s[:-6] + "quer")
    if len(s) > 8 and s.endswith("atrice"):
        return _norm(s[:-6] + "er")
    if len(s) > 7 and s.endswith("ateur"):
        return _norm(s[:-5] + "er")
    if len(s) > 6 and s.endswith("trice"):
        s = s[:-5] + "teur"
    if len(s) > 5 and s.endswith("ième"):
        return _norm(s[:-4])
    if len(s) > 7 and s.endswith("teuse"):
        return _norm(s[:-4] + "r")
    if len(s) > 6 and s.endswith("teur"):
        return _norm(s[:-2] + "r")
    if len(s) > 5 and s.endswith("euse"):
        return _norm(s[:-2])
    if len(s) > 8 and s.endswith("ère"):
        return _norm(s[:-3] + "er")
    if len(s) > 7 and s.endswith("ive"):
        return _norm(s[:-2] + "f")
    if len(s) > 4 and (s.endswith("folle") or s.endswith("molle")):
        return _norm(s[:-3] + "u")
    if len(s) > 9 and s.endswith("nnelle"):
        return _norm(s[:-5])
    if len(s) > 9 and s.endswith("nnel"):
        return _norm(s[:-3])
    if len(s) > 4 and s.endswith("ète"):
        s = s[:-3] + "et"
    if len(s) > 8 and s.endswith("ique"):
        s = s[:-4]
    if len(s) > 8 and s.endswith("esse"):
        return _norm(s[:-3])
    if len(s) > 7 and s.endswith("inage"):
        return _norm(s[:-3])
    if len(s) > 9 and s.endswith("isation"):
        s = s[:-7]
        if len(s) > 5 and s.endswith("ual"):
            s = s[:-2] + "el"
        return _norm(s)
    if len(s) > 9 and s.endswith("isateur"):
        return _norm(s[:-7])
    if len(s) > 8 and s.endswith("ation"):
        return _norm(s[:-5])
    if len(s) > 8 and s.endswith("ition"):
        return _norm(s[:-5])
    return _norm(s)


def french_term(word: str) -> str:
    """Elision is a pre-lowercase tokenizer-adjacent step; this helper
    covers the post-stop stage only (stemming; elision is applied by the
    chain before the stop filter)."""
    return french_light_stem(word)
