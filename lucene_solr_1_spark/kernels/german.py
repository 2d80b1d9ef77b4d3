"""German analysis chain — GermanAnalyzer's filter stack re-implemented
from the published algorithms (NOT a port):

  - GermanAnalyzer chain (analysis/common/src/java/org/apache/lucene/
    analysis/de/GermanAnalyzer.java:132-142): StandardTokenizer ->
    LowerCaseFilter -> StopFilter(german_stop.txt) ->
    GermanNormalizationFilter -> GermanLightStemFilter.
  - GermanNormalizationFilter (de/GermanNormalizationFilter.java:41-105):
    the German2-snowball umlaut treatment as a 3-state FSM — ß -> ss,
    ä/ö/ü -> a/o/u, and 'e' deleted after a/o (and after 'u' when the u
    did not itself follow a vowel or q), so written digraphs ae/oe/ue
    fold onto the umlaut-stripped forms.
  - GermanLightStemmer (de/GermanLightStemmer.java:64-140): the UniNE
    light stemmer from Jacques Savoy, "Light Stemming Approaches for the
    French, Portuguese, German and Hungarian Languages" — accent fold,
    then two suffix-strip steps (-ern/-e[mnrs]/-e/-s·stEnding, then
    -est/-er/-en/-st·stEnding).

The full 35k-word canonical vocabulary (the reference's
delighttestdata.zip) pins german_light_stem in tests/test_german.py —
the same posture as kernels/porter.py's 23k-word golden.

Stop set: the published Snowball german_stop.txt (analysis/common/src/
resources/org/apache/lucene/analysis/snowball/german_stop.txt),
GermanAnalyzer's default.
"""

from __future__ import annotations

GERMAN_STOP_WORDS = frozenset({
    "aber", "alle", "allem", "allen", "aller", "alles", "als", "also",
    "am", "an", "ander", "andere", "anderem", "anderen", "anderer",
    "anderes", "anderm", "andern", "anderr", "anders", "auch", "auf",
    "aus", "bei", "bin", "bis", "bist", "da", "damit", "dann", "der",
    "den", "des", "dem", "die", "das", "daß", "derselbe", "derselben",
    "denselben", "desselben", "demselben", "dieselbe", "dieselben",
    "dasselbe", "dazu", "dein", "deine", "deinem", "deinen", "deiner",
    "deines", "denn", "derer", "dessen", "dich", "dir", "du", "dies",
    "diese", "diesem", "diesen", "dieser", "dieses", "doch", "dort",
    "durch", "ein", "eine", "einem", "einen", "einer", "eines", "einig",
    "einige", "einigem", "einigen", "einiger", "einiges", "einmal",
    "er", "ihn", "ihm", "es", "etwas", "euer", "eure", "eurem", "euren",
    "eurer", "eures", "für", "gegen", "gewesen", "hab", "habe", "haben",
    "hat", "hatte", "hatten", "hier", "hin", "hinter", "ich", "mich",
    "mir", "ihr", "ihre", "ihrem", "ihren", "ihrer", "ihres", "euch",
    "im", "in", "indem", "ins", "ist", "jede", "jedem", "jeden",
    "jeder", "jedes", "jene", "jenem", "jenen", "jener", "jenes",
    "jetzt", "kann", "kein", "keine", "keinem", "keinen", "keiner",
    "keines", "können", "könnte", "machen", "man", "manche", "manchem",
    "manchen", "mancher", "manches", "mein", "meine", "meinem",
    "meinen", "meiner", "meines", "mit", "muss", "musste", "nach",
    "nicht", "nichts", "noch", "nun", "nur", "ob", "oder", "ohne",
    "sehr", "sein", "seine", "seinem", "seinen", "seiner", "seines",
    "selbst", "sich", "sie", "ihnen", "sind", "so", "solche", "solchem",
    "solchen", "solcher", "solches", "soll", "sollte", "sondern",
    "sonst", "über", "um", "und", "uns", "unse", "unsem", "unsen",
    "unser", "unses", "unter", "viel", "vom", "von", "vor", "während",
    "war", "waren", "warst", "was", "weg", "weil", "weiter", "welche",
    "welchem", "welchen", "welcher", "welches", "wenn", "werde",
    "werden", "wie", "wieder", "will", "wir", "wird", "wirst", "wo",
    "wollen", "wollte", "würde", "würden", "zu", "zum", "zur", "zwar",
    "zwischen",
})

# GermanNormalizationFilter FSM states
_N, _V, _U = 0, 1, 2


def german_normalize(word: str) -> str:
    """GermanNormalizationFilter.java:56-100: single pass, one char at a
    time; deleting an 'e' does NOT re-examine the char that replaces it
    (the reference's i-- then i++ nets to advancing past the shifted-in
    char having processed it next iteration — we simply continue)."""
    state = _N
    out = []
    for c in word:
        if c in "ao":
            out.append(c)
            state = _U
        elif c == "u":
            out.append(c)
            state = _U if state == _N else _V
        elif c == "e":
            if state == _U:
                state = _V  # e deleted; the FSM still records the 'e'
                continue
            out.append(c)
            state = _V
        elif c in "iqy":
            out.append(c)
            state = _V
        elif c == "ä":
            out.append("a")
            state = _V
        elif c == "ö":
            out.append("o")
            state = _V
        elif c == "ü":
            out.append("u")
            state = _V
        elif c == "ß":
            out.append("ss")
            state = _N
        else:
            out.append(c)
            state = _N
    return "".join(out)


_FOLD = str.maketrans({
    "ä": "a", "à": "a", "á": "a", "â": "a",
    "ö": "o", "ò": "o", "ó": "o", "ô": "o",
    "ï": "i", "ì": "i", "í": "i", "î": "i",
    "ü": "u", "ù": "u", "ú": "u", "û": "u",
})

_ST_ENDING = frozenset("bdfghklmnt")


def german_light_stem(word: str) -> str:
    """GermanLightStemmer.java:66-140 — accent fold, step1, step2."""
    s = word.translate(_FOLD)
    # step1
    n = len(s)
    if n > 5 and s.endswith("ern"):
        s = s[:-3]
    elif n > 4 and len(s) >= 2 and s[-2] == "e" and s[-1] in "mnrs":
        s = s[:-2]
    elif n > 3 and s[-1] == "e":
        s = s[:-1]
    elif n > 3 and s[-1] == "s" and s[-2] in _ST_ENDING:
        s = s[:-1]
    # step2
    n = len(s)
    if n > 5 and s.endswith("est"):
        s = s[:-3]
    elif n > 4 and len(s) >= 2 and s[-2] == "e" and s[-1] in "rn":
        s = s[:-2]
    elif n > 4 and s.endswith("st") and s[-3] in _ST_ENDING:
        s = s[:-2]
    return s


def german_term(word: str) -> str:
    """The two post-stop chain stages applied to one lowercased token
    (GermanAnalyzer.java:132-142 order: normalize, then light-stem)."""
    return german_light_stem(german_normalize(word))
