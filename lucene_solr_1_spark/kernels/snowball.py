"""Snowball stemmer programs: Danish, Dutch, Romanian.

Re-expressions of the published Snowball algorithms (snowballstem.org)
that Lucene ships as generated automata —
analysis/common/src/java/org/tartarus/snowball/ext/DanishStemmer.java,
DutchStemmer.java, RomanianStemmer.java — behind SnowballFilter.java
(nl/DutchAnalyzer.java:147-156, da/DanishAnalyzer.java:103-109,
ro/RomanianAnalyzer.java:106-112 chains).  Each stemmer is a pure
1:1 token -> stem function, pinned bit-exact by the reference's full
canonical vocabularies (TestSnowballVocabData.zip: dutch 49k / danish
24k / romanian 22k word pairs, read at test time in
tests/test_snowball.py).

Implementation notes shared by all three programs:

* Suffix "among" tables are longest-match: we scan candidates sorted
  by length descending and the first string match decides the action;
  a failed region/condition check does NOT fall back to a shorter
  suffix (snowball among semantics).  The exception is a `setlimit`-
  restricted among (Danish step 1/2/3b-inner, Romanian verb suffixes)
  where the match itself cannot see past the region start — there the
  first match that BOTH matches and fits the region wins.
* Region marks (R1/R2/RV) are absolute indexes computed up front; all
  edits are tail slices, so the marks stay valid as the word shrinks.
* Characters outside the vowel set (digits, foreign letters) behave as
  consonants, matching snowball's out_grouping.

These ride the LIGHT_STEMMERS registry (kernels/romance.py) as
languages "da" / "nl" / "ro": 1:1 post-stop token mapping, identical
chain position to the UniNE light stemmers.
"""

from __future__ import annotations


def _std_region(w: str, vowels: frozenset, start: int = 0) -> int:
    """Position after the first non-vowel following a vowel, scanning
    from `start` (the standard snowball R1/R2 mark); len(w) if absent."""
    n = len(w)
    i = start
    while i < n and w[i] not in vowels:
        i += 1
    i += 1  # consume the vowel
    if i > n:
        return n
    while i < n and w[i] in vowels:
        i += 1
    if i >= n:
        return n
    return i + 1  # consume the non-vowel


# ---------------------------------------------------------------------------
# Danish (DanishStemmer.java; snowball danish.sbl)
# ---------------------------------------------------------------------------

_DA_VOWELS = frozenset("aeiouyæåø")  # a e i o u y æ å ø
_DA_S_ENDINGS = frozenset("abcdfghjklmnoprtvyzå")
# step-1 delete suffixes + the conditional bare 's', longest-first
_DA_STEP1 = sorted(
    ["hed", "ethed", "ered", "e", "erede", "ende", "erende", "ene",
     "erne", "ere", "en", "heden", "eren", "er", "heder", "erer",
     "heds", "es", "endes", "erendes", "enes", "ernes", "eres", "ens",
     "hedens", "erens", "ers", "ets", "erets", "et", "eret", "s"],
    key=len, reverse=True)
_DA_STEP3 = sorted(["ig", "lig", "elig", "els", "løst"],
                   key=len, reverse=True)


def _da_consonant_pair(w: str, p1: int) -> str:
    """Step 2: drop the final letter of a gd/dt/gt/kt ending lying
    entirely in R1."""
    if len(w) >= 2 and w[-2:] in ("gd", "dt", "gt", "kt") \
            and len(w) - 2 >= p1:
        return w[:-1]
    return w


def danish_stem(w: str) -> str:
    if len(w) < 3:
        return w  # the hop-3 mark fails: no region, no step applies
    p1 = max(_std_region(w, _DA_VOWELS), 3)
    # step 1: longest suffix fitting in R1 (setlimit among)
    for suf in _DA_STEP1:
        i = len(w) - len(suf)
        if i >= p1 and w.endswith(suf):
            if suf != "s":
                w = w[:i]
            elif i >= 1 and w[i - 1] in _DA_S_ENDINGS:
                w = w[:i]
            break
    # step 2
    w = _da_consonant_pair(w, p1)
    # step 3: 'igst' loses its 'st' (region-free), then the R1 among
    if w.endswith("igst"):
        w = w[:-2]
    for suf in _DA_STEP3:
        i = len(w) - len(suf)
        if i >= p1 and w.endswith(suf):
            if suf == "løst":
                w = w[:-1]  # løst -> løs
            else:
                w = w[:i]
                w = _da_consonant_pair(w, p1)
            break
    # step 4: undouble a final consonant whose last copy lies in R1
    if len(w) >= 2 and w[-1] == w[-2] and w[-1] not in _DA_VOWELS \
            and len(w) - 1 >= p1:
        w = w[:-1]
    return w


# ---------------------------------------------------------------------------
# Dutch (DutchStemmer.java; snowball dutch.sbl)
# ---------------------------------------------------------------------------

_NL_VOWELS = frozenset("aeiouyè")  # a e i o u y è
_NL_V_J = _NL_VOWELS | {"j"}
_NL_FOLD = str.maketrans("áäéëíï"
                         "óöúü", "aaeeiioouu")


def _nl_undouble(w: str) -> str:
    if w[-2:] in ("dd", "kk", "tt"):
        return w[:-1]
    return w


def _nl_en_ending(w: str, length: int, p1: int) -> str:
    """Delete an en/ene ending in R1 preceded by a valid en-ending
    (a non-vowel, and not 'gem'), then undouble."""
    i = len(w) - length
    if i >= p1 and i >= 1 and w[i - 1] not in _NL_VOWELS \
            and w[max(0, i - 3):i] != "gem":
        return _nl_undouble(w[:i])
    return w


def _nl_e_ending(w: str, p1: int) -> tuple[str, bool]:
    """Delete a final e in R1 preceded by a non-vowel, undouble; the
    flag feeds the 'bar' case of step 3b."""
    if w.endswith("e") and len(w) - 1 >= p1 and len(w) >= 2 \
            and w[-2] not in _NL_VOWELS:
        return _nl_undouble(w[:-1]), True
    return w, False


def dutch_stem(w: str) -> str:
    # prelude: fold accents; initial y, y after vowel -> Y; i between
    # vowels -> I (uppercased chars are opaque to later vowel tests)
    w = w.translate(_NL_FOLD)
    chars = list(w)
    if chars and chars[0] == "y":
        chars[0] = "Y"
    for p in range(len(chars) - 1):
        if chars[p] in _NL_VOWELS:
            if chars[p + 1] == "i" and p + 2 < len(chars) \
                    and chars[p + 2] in _NL_VOWELS:
                chars[p + 1] = "I"
            elif chars[p + 1] == "y":
                chars[p + 1] = "Y"
    w = "".join(chars)
    p1_raw = _std_region(w, _NL_VOWELS)
    p2 = _std_region(w, _NL_VOWELS, start=p1_raw)
    p1 = max(p1_raw, 3)
    e_found = False
    # step 1: longest of heden/ene/en/se/s, conditions without fallback
    if w.endswith("heden"):
        if len(w) - 5 >= p1:
            w = w[:-5] + "heid"
    elif w.endswith("ene"):
        w = _nl_en_ending(w, 3, p1)
    elif w.endswith("en"):
        w = _nl_en_ending(w, 2, p1)
    elif w.endswith("se"):
        if len(w) - 2 >= p1 and len(w) >= 3 and w[-3] not in _NL_V_J:
            w = w[:-2]
    elif w.endswith("s"):
        if len(w) - 1 >= p1 and len(w) >= 2 and w[-2] not in _NL_V_J:
            w = w[:-1]
    # step 2
    w, e_found = _nl_e_ending(w, p1)
    # step 3a: heid in R2 not preceded by c; then a following en ending
    if w.endswith("heid") and len(w) - 4 >= p2 \
            and (len(w) < 5 or w[-5] != "c"):
        w = w[:-4]
        if w.endswith("en"):
            w = _nl_en_ending(w, 2, p1)
    # step 3b: longest of lijk/baar/end/ing/bar/ig, R2 conditions
    if w.endswith("lijk"):
        if len(w) - 4 >= p2:
            w = w[:-4]
            w, found = _nl_e_ending(w, p1)
            e_found = e_found or found
    elif w.endswith("baar"):
        if len(w) - 4 >= p2:
            w = w[:-4]
    elif w.endswith("end") or w.endswith("ing"):
        if len(w) - 3 >= p2:
            w = w[:-3]
            if w.endswith("ig") and len(w) - 2 >= p2 \
                    and (len(w) < 3 or w[-3] != "e"):
                w = w[:-2]
            else:
                w = _nl_undouble(w)
    elif w.endswith("bar"):
        if len(w) - 3 >= p2 and e_found:
            w = w[:-3]
    elif w.endswith("ig"):
        if len(w) - 2 >= p2 and (len(w) < 3 or w[-3] != "e"):
            w = w[:-2]
    # step 4: undouble vowel — C + aa/ee/oo/uu + consonant-other-than-I
    if (len(w) >= 4 and w[-1] not in _NL_VOWELS and w[-1] != "I"
            and w[-2] == w[-3] and w[-2] in "aeou"
            and w[-4] not in _NL_VOWELS):
        w = w[:-2] + w[-1]
    # postlude
    return w.replace("Y", "y").replace("I", "i")


# nl/DutchAnalyzer.java:80-84 DEFAULT_STEM_DICT (StemmerOverrideFilter
# runs before the snowball stage and keywords its hits)
DUTCH_STEM_OVERRIDES = {
    "fiets": "fiets", "bromfiets": "bromfiets",
    "ei": "eier", "kind": "kinder",
}


def dutch_term(w: str) -> str:
    """The DutchAnalyzer chain's stem stage: override dict, else
    snowball."""
    override = DUTCH_STEM_OVERRIDES.get(w)
    return override if override is not None else dutch_stem(w)


# ---------------------------------------------------------------------------
# Romanian (RomanianStemmer.java; snowball romanian.sbl — the cedilla
# forms ş U+015F / ţ U+0163 this Lucene version uses)
# ---------------------------------------------------------------------------

_RO_VOWELS = frozenset("aeiouâîă")  # a e i o u â î ă

# step 0 (plural/article), R1, longest-first: (suffix, replacement)
_RO_STEP0 = sorted([
    ("ul", ""), ("ului", ""),
    ("aua", "a"),
    ("ea", "e"), ("ele", "e"), ("elor", "e"),
    ("ii", "i"), ("iua", "i"), ("iei", "i"), ("iile", "i"),
    ("ilor", "i"), ("iilor", "i"),
    ("ile", "i"),  # special: not when preceded by 'ab'
    ("atei", "at"),
    ("aţia", "aţi"), ("aţie", "aţi"),
], key=lambda t: len(t[0]), reverse=True)

# combining (derivational) suffixes, R1, repeatable: (suffix, repl)
_RO_COMBO = sorted([
    ("abilitate", "abil"), ("abilitati", "abil"),
    ("abilităi", "abil"), ("abilităţi", "abil"),
    ("ibilitate", "ibil"),
    ("ivitate", "iv"), ("ivitati", "iv"), ("ivităi", "iv"),
    ("ivităţi", "iv"),
    ("icala", "ic"), ("iciva", "ic"), ("icale", "ic"),
    ("icitate", "ic"), ("icive", "ic"), ("icali", "ic"),
    ("icatori", "ic"), ("icitati", "ic"), ("icivi", "ic"),
    ("icităi", "ic"), ("icităţi", "ic"), ("ical", "ic"),
    ("icator", "ic"), ("iciv", "ic"), ("icală", "ic"),
    ("icivă", "ic"),
    ("ativa", "at"), ("aţiune", "at"), ("atoare", "at"),
    ("ătoare", "at"), ("ative", "at"), ("atori", "at"),
    ("ători", "at"), ("ativi", "at"), ("ator", "at"),
    ("ător", "at"), ("ativ", "at"), ("ativă", "at"),
    ("itiva", "it"), ("iţiune", "it"), ("itoare", "it"),
    ("itive", "it"), ("itori", "it"), ("itivi", "it"),
    ("itor", "it"), ("itiv", "it"), ("itivă", "it"),
], key=lambda t: len(t[0]), reverse=True)

# standard suffixes, R2: action 1 = delete, 2 = ţ+iune/iuni -> t,
# 3 = -> ist
_RO_STD = sorted(
    [(s, 1) for s in (
        "ica", "abila", "ibila", "oasa", "ata", "ita", "anta", "uta",
        "iva", "ic", "ice", "abile", "ibile", "oase", "ate", "itate",
        "ite", "ante", "ute", "ive", "ici", "abili", "ibili", "atori",
        "osi", "ati", "itati", "iti", "anti", "uti", "ivi",
        "ităi", "oşi", "ităţi", "abil", "ibil",
        "ator", "os", "at", "it", "ant", "ut", "iv", "ică",
        "abilă", "ibilă", "oasă", "ată",
        "ită", "antă", "ută", "ivă")]
    + [("iune", 2), ("iuni", 2)]
    + [(s, 3) for s in ("ista", "isme", "iste", "isti", "işti",
                        "ism", "ist", "istă")],
    key=lambda t: len(t[0]), reverse=True)

# verb suffixes, RV-limited: action 1 requires a preceding consonant
# or 'u' (within RV), action 2 deletes unconditionally
_RO_VERB = sorted(
    [(s, 1) for s in (
        "ea", "ia", "esc", "ăsc", "ind", "ând", "are", "ere",
        "ire", "âre", "ase", "ise", "use", "âse",
        "eşte", "ăşte", "eze", "ai", "eai", "iai",
        "eşti", "ăşti", "ui", "ezi", "âi",
        "aşi", "aseşi", "iseşi", "useşi",
        "âseşi", "işi", "uşi", "âşi",
        "eaţi", "iaţi", "arăţi",
        "aserăţi", "iserăţi", "userăţi",
        "âserăţi", "irăţi", "urăţi",
        "ârăţi", "am", "eam", "iam", "asem", "isem",
        "usem", "âsem", "arăm", "aserăm", "iserăm",
        "userăm", "âserăm", "irăm", "urăm",
        "ârăm", "au", "eau", "iau", "indu", "ându",
        "ez", "ească", "ară", "aseră", "iseră",
        "useră", "âseră", "iră", "ură",
        "âră", "ează")]
    + [(s, 2) for s in (
        "se", "sese", "sei", "seşi", "seseşi", "aţi",
        "eţi", "iţi", "âţi", "serăţi",
        "seserăţi", "em", "sesem", "im", "âm",
        "ăm", "serăm", "seserăm", "seră",
        "seseră")],
    key=lambda t: len(t[0]), reverse=True)

_RO_VOWEL_SUF = ("ie", "a", "e", "i", "ă")  # longest-first


def _ro_mark_rv(w: str) -> int:
    """RV per the romance-family definition: after the next vowel for
    V-C starts, after the next consonant for V-V starts, position 3
    for C-V starts, after the next vowel for C-C starts."""
    n = len(w)
    if n < 2:
        return n
    if w[0] in _RO_VOWELS:
        if w[1] not in _RO_VOWELS:
            i = 2
            while i < n and w[i] not in _RO_VOWELS:
                i += 1
            return i + 1 if i < n else n
        i = 2
        while i < n and w[i] in _RO_VOWELS:
            i += 1
        return i + 1 if i < n else n
    if w[1] not in _RO_VOWELS:
        i = 2
        while i < n and w[i] not in _RO_VOWELS:
            i += 1
        return i + 1 if i < n else n
    return 3 if n >= 3 else n


def romanian_stem(w: str) -> str:
    # prelude: u / i between vowels are uppercased (treated as
    # consonants thereafter)
    chars = list(w)
    for p in range(len(chars) - 2):
        if chars[p] in _RO_VOWELS and chars[p + 2] in _RO_VOWELS:
            if chars[p + 1] == "u":
                chars[p + 1] = "U"
            elif chars[p + 1] == "i":
                chars[p + 1] = "I"
    w = "".join(chars)
    pv = _ro_mark_rv(w)
    p1 = _std_region(w, _RO_VOWELS)
    p2 = _std_region(w, _RO_VOWELS, start=p1)
    # step 0: longest match, then the R1 condition (no fallback)
    for suf, repl in _RO_STEP0:
        if w.endswith(suf):
            i = len(w) - len(suf)
            if i >= p1 and not (suf == "ile"
                                and w[max(0, i - 2):i] == "ab"):
                w = w[:i] + repl
            break
    # standard suffixes: repeat the R1 combining among, then one R2 pass
    removed = False
    while True:
        for suf, repl in _RO_COMBO:
            if w.endswith(suf) and len(w) - len(suf) >= p1:
                w = w[:len(w) - len(suf)] + repl
                removed = True
                break
        else:
            break
    for suf, action in _RO_STD:
        if w.endswith(suf):
            i = len(w) - len(suf)
            if i >= p2:
                if action == 1:
                    w = w[:i]
                    removed = True
                elif action == 2:
                    if i >= 1 and w[i - 1] == "ţ":
                        w = w[:i - 1] + "t"
                        removed = True
                else:
                    w = w[:i] + "ist"
                    removed = True
            break
    # verb suffixes only when no standard suffix was removed;
    # RV-limited among (longest suffix that FITS the region wins)
    if not removed:
        for suf, action in _RO_VERB:
            i = len(w) - len(suf)
            if i >= pv and w.endswith(suf):
                if action == 1:
                    if i - 1 >= pv and (w[i - 1] not in _RO_VOWELS
                                        or w[i - 1] == "u"):
                        w = w[:i]
                else:
                    w = w[:i]
                break
    # final vowel: longest match, then the RV condition
    for suf in _RO_VOWEL_SUF:
        if w.endswith(suf):
            if len(w) - len(suf) >= pv:
                w = w[:len(w) - len(suf)]
            break
    return w.replace("I", "i").replace("U", "u")


# ---------------------------------------------------------------------------
# Published stop word lists (the same public snowball / Savoy lists the
# reference analyzers load: snowball/danish_stop.txt, dutch_stop.txt,
# ro/stopwords.txt)
# ---------------------------------------------------------------------------

DANISH_STOP_WORDS = frozenset({
    "ad", "af", "alle", "alt", "anden", "at", "blev", "blive",
    "bliver", "da", "de", "dem", "den", "denne", "der", "deres", "det",
    "dette", "dig", "din", "disse", "dog", "du", "efter", "eller",
    "en", "end", "er", "et", "for", "fra", "ham", "han", "hans", "har",
    "havde", "have", "hende", "hendes", "her", "hos", "hun", "hvad",
    "hvis", "hvor", "i", "ikke", "ind", "jeg", "jer", "jo", "kunne",
    "man", "mange", "med", "meget", "men", "mig", "min", "mine", "mit",
    "mod", "ned", "noget", "nogle", "nu", "når", "og", "også", "om",
    "op", "os", "over", "på", "selv", "sig", "sin", "sine", "sit",
    "skal", "skulle", "som", "sådan", "thi", "til", "ud", "under",
    "var", "vi", "vil", "ville", "vor", "være", "været",
})

DUTCH_STOP_WORDS = frozenset({
    "aan", "al", "alles", "als", "altijd", "andere", "ben", "bij",
    "daar", "dan", "dat", "de", "der", "deze", "die", "dit", "doch",
    "doen", "door", "dus", "een", "eens", "en", "er", "ge", "geen",
    "geweest", "haar", "had", "heb", "hebben", "heeft", "hem", "het",
    "hier", "hij", "hoe", "hun", "iemand", "iets", "ik", "in", "is",
    "ja", "je", "kan", "kon", "kunnen", "maar", "me", "meer", "men",
    "met", "mij", "mijn", "moet", "na", "naar", "niet", "niets", "nog",
    "nu", "of", "om", "omdat", "onder", "ons", "ook", "op", "over",
    "reeds", "te", "tegen", "toch", "toen", "tot", "u", "uit", "uw",
    "van", "veel", "voor", "want", "waren", "was", "wat", "werd",
    "wezen", "wie", "wil", "worden", "wordt", "zal", "ze", "zelf",
    "zich", "zij", "zijn", "zo", "zonder", "zou",
})

ROMANIAN_STOP_WORDS = frozenset({
    "acea", "aceasta", "această", "aceea", "acei", "aceia", "acel",
    "acela", "acele", "acelea", "acest", "acesta", "aceste", "acestea",
    "aceşti", "aceştia", "acolo", "acum", "ai", "aia", "aibă", "aici",
    "al", "ale", "alea", "altceva", "altcineva", "am", "ar", "are",
    "asemenea", "asta", "astea", "astăzi", "asupra", "au", "avea",
    "avem", "aveţi", "azi", "aş", "aşadar", "aţi", "bine", "bucur",
    "bună", "ca", "care", "ce", "cel", "ceva", "chiar", "cine",
    "cineva", "contra", "cu", "cum", "cumva", "curând", "curînd",
    "când", "cât", "câte", "câtva", "câţi", "cînd", "cît", "cîte",
    "cîtva", "cîţi", "că", "căci", "cărei", "căror", "cărui", "către",
    "da", "dacă", "dar", "datorită", "de", "deci", "deja", "deoarece",
    "departe", "deşi", "din", "dinaintea", "dintr", "dintre", "drept",
    "după", "dă", "ea", "ei", "el", "ele", "eram", "este", "eu",
    "eşti", "face", "fi", "fie", "fiecare", "fii", "fim", "fiţi",
    "fără", "iar", "ieri", "la", "le", "li", "lor", "lui", "lângă",
    "lîngă", "mea", "mei", "mele", "mereu", "meu", "mi", "mine",
    "mult", "multă", "mulţi", "mâine", "mă", "ne", "nici", "nicăieri",
    "nimeni", "nişte", "noastre", "noastră", "noi", "nostru", "noştri",
    "nu", "ori", "oricare", "orice", "oricine", "oricum", "oricând",
    "oricât", "oricînd", "oricît", "oriunde", "pe", "pentru", "peste",
    "poate", "pot", "prea", "prima", "primul", "prin", "printr",
    "până", "pînă", "sa", "sale", "sau", "se", "spre", "sub", "sunt",
    "suntem", "sunteţi", "sînt", "sîntem", "sînteţi", "să", "săi",
    "său", "ta", "tale", "te", "tine", "toate", "toată", "tot",
    "totuşi", "toţi", "tu", "tăi", "tău", "un", "una", "unde",
    "undeva", "unei", "unele", "uneori", "unor", "vi", "voastre",
    "voastră", "voi", "vostru", "vouă", "voştri", "vreo", "vreun",
    "vă", "îi", "îl", "îmi", "împotriva", "în", "înainte", "înaintea",
    "încotro", "încât", "încît", "între", "întrucât", "întrucît",
    "îţi", "ăla", "ălea", "ăsta", "ăstea", "ăştia", "şi", "ţi", "ţie",
})


# ---------------------------------------------------------------------------
# English (Porter2) — the SnowballFilter("English") program
# (org/tartarus/snowball/ext/EnglishStemmer.java; the published english.sbl
# algorithm). Pinned bit-exact against the reference's english/voc.txt in
# tests/test_snowball.py. NOTE: this is the snowball Porter2 program, NOT
# the classic PorterStemFilter in kernels/porter.py — Lucene ships both.
# ---------------------------------------------------------------------------

_EN_VOWELS = frozenset("aeiouy")
_EN_DOUBLES = ("bb", "dd", "ff", "gg", "mm", "nn", "pp", "rr", "tt")
_EN_LI_VALID = frozenset("cdeghkmnrt")

_EN_EXCEPTION1 = {
    "skis": "ski", "skies": "sky", "dying": "die", "lying": "lie",
    "tying": "tie", "idly": "idl", "gently": "gentl", "ugly": "ugli",
    "early": "earli", "only": "onli", "singly": "singl",
    "sky": "sky", "news": "news", "howe": "howe", "atlas": "atlas",
    "cosmos": "cosmos", "bias": "bias", "andes": "andes",
}
_EN_EXCEPTION2 = frozenset({
    "inning", "outing", "canning", "herring", "earring",
    "proceed", "exceed", "succeed",
})


def _en_is_vowel(w: str, i: int) -> bool:
    return w[i] in "aeiouy"  # Y (marked consonant) is uppercase


def _en_ends_short_syllable(w: str) -> bool:
    n = len(w)
    if n < 2:
        return False
    if n == 2:
        return _en_is_vowel(w, 0) and not _en_is_vowel(w, 1)
    # vowel at n-2, non-vowel non-wxY at n-1, non-vowel at n-3
    return (
        _en_is_vowel(w, n - 2)
        and not _en_is_vowel(w, n - 1)
        and w[n - 1] not in "wxY"
        and not _en_is_vowel(w, n - 3)
    )


def _en_r1(w: str) -> int:
    for pre in ("gener", "commun", "arsen"):
        if w.startswith(pre):
            return len(pre)
    return _std_region(w, frozenset("aeiouy"))


def english_stem(word: str) -> str:
    """Porter2 (snowball English): exception lists, Y-marking, R1/R2
    with the gener/commun/arsen override, steps 0-5, postlude."""
    w = word
    if w in _EN_EXCEPTION1:
        return _EN_EXCEPTION1[w]
    if len(w) <= 2:
        return w
    # prelude: strip one leading apostrophe (the length-3 gate applies
    # to the ORIGINAL word only); mark consonant-y as Y
    if w.startswith("'"):
        w = w[1:]
    chars = list(w)
    if chars and chars[0] == "y":
        chars[0] = "Y"
    for i in range(1, len(chars)):
        if chars[i] == "y" and chars[i - 1] in "aeiouy":
            chars[i] = "Y"
    w = "".join(chars)
    p1 = _en_r1(w)
    p2 = _std_region(w, frozenset("aeiouy"), start=p1)

    # Step 0: longest of 's' / 's / '
    for suf in ("'s'", "'s", "'"):
        if w.endswith(suf):
            w = w[: -len(suf)]
            break

    # Step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ied") or w.endswith("ies"):
        w = w[:-3] + ("i" if len(w) > 4 else "ie")
    elif w.endswith("us") or w.endswith("ss"):
        pass
    elif w.endswith("s"):
        # delete if the preceding part contains a vowel NOT immediately
        # before the s
        if any(_en_is_vowel(w, i) for i in range(0, len(w) - 2)):
            w = w[:-1]

    if w in _EN_EXCEPTION2:
        return w

    # Step 1b
    done_1b = False
    for suf in ("eedly", "eed"):
        if w.endswith(suf):
            if len(w) - len(suf) >= p1:
                w = w[: -len(suf)] + "ee"
            done_1b = True
            break
    if not done_1b:
        for suf in ("ingly", "edly", "ing", "ed"):
            if w.endswith(suf):
                stem = w[: -len(suf)]
                if any(_en_is_vowel(stem, i) for i in range(len(stem))):
                    w = stem
                    if w.endswith(("at", "bl", "iz")):
                        w = w + "e"
                    elif w.endswith(_EN_DOUBLES):
                        w = w[:-1]
                    elif _en_ends_short_syllable(w) and p1 >= len(w):
                        w = w + "e"
                break

    # Step 1c: y/Y -> i after a non-vowel that is not the first letter
    if (
        len(w) > 2
        and w[-1] in "yY"
        and not _en_is_vowel(w, len(w) - 2)
    ):
        w = w[:-1] + "i"

    # Step 2 (suffix must lie in R1); longest match governs
    _STEP2 = (
        ("ization", "ize"), ("ational", "ate"), ("ousness", "ous"),
        ("iveness", "ive"), ("fulness", "ful"), ("biliti", "ble"),
        ("lessli", "less"), ("tional", "tion"), ("ation", "ate"),
        ("alism", "al"), ("aliti", "al"), ("ousli", "ous"),
        ("iviti", "ive"), ("fulli", "ful"), ("entli", "ent"),
        ("enci", "ence"), ("anci", "ance"), ("abli", "able"),
        ("izer", "ize"), ("ator", "ate"), ("alli", "al"),
        ("bli", "ble"), ("ogi", None), ("li", None),
    )
    for suf, rep in _STEP2:
        if w.endswith(suf):
            if len(w) - len(suf) >= p1:
                if suf == "ogi":
                    if len(w) > 3 and w[-4] == "l":
                        w = w[:-1]  # ogi -> og
                elif suf == "li":
                    if len(w) > 2 and w[-3] in _EN_LI_VALID:
                        w = w[:-2]
                else:
                    w = w[: -len(suf)] + rep
            break

    # Step 3 (in R1; 'ative' requires R2)
    _STEP3 = (
        ("ational", "ate"), ("tional", "tion"), ("alize", "al"),
        ("icate", "ic"), ("iciti", "ic"), ("ative", ""),
        ("ical", "ic"), ("ness", ""), ("ful", ""),
    )
    for suf, rep in _STEP3:
        if w.endswith(suf):
            if len(w) - len(suf) >= p1:
                if suf == "ative":
                    if len(w) - len(suf) >= p2:
                        w = w[: -len(suf)]
                else:
                    w = w[: -len(suf)] + rep
            break

    # Step 4 (in R2); longest match
    _STEP4 = (
        "ement", "ance", "ence", "able", "ible", "ment", "ant", "ent",
        "ism", "ate", "iti", "ous", "ive", "ize", "ion", "al", "er",
        "ic",
    )
    for suf in _STEP4:
        if w.endswith(suf):
            if len(w) - len(suf) >= p2:
                if suf == "ion":
                    if len(w) > 3 and w[-4] in "st":
                        w = w[:-3]
                else:
                    w = w[: -len(suf)]
            break

    # Step 5
    if w.endswith("e"):
        if len(w) - 1 >= p2 or (
            len(w) - 1 >= p1 and not _en_ends_short_syllable(w[:-1])
        ):
            w = w[:-1]
    elif w.endswith("l"):
        if len(w) - 1 >= p2 and len(w) > 1 and w[-2] == "l":
            w = w[:-1]

    return w.replace("Y", "y")
