"""sha256 pins of every stemmer, decompounder and normalizer output over a
deterministic synthetic vocabulary — no reference files needed.

The reference's canonical vocabularies (tests/test_porter.py and its
siblings) verify these functions bit-exact, but they are read at test time
and skip when the reference checkout is absent. These pins keep the same
functions from drifting without it. Each module's vocabulary is built from
its own tables: every short string literal in its source (suffixes,
prefixes, articles, stop words) is appended to a fixed set of stems, the
short ones are also prepended (with and without an apostrophe, for the
elision and prefix rules), and the words its tests quote are added. A
change to any table or rule changes a digest.

Regenerate only for a deliberate change:
    python tests/test_stemmer_pins.py
"""

import ast
import hashlib
import os
import sys
from functools import lru_cache, partial

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from lucene_solr_1_spark.kernels import (  # noqa: E402
    arabic, compound, french, german, hyphenation, porter, romance,
    snowball, turkish,
)
from lucene_solr_1_spark.kernels.analyzer import (  # noqa: E402
    COMPOUND_DICT, HYPHEN_DICT, HYPHEN_SPEC,
)

STEMS = ("nation", "kitap", "casa", "bewerb", "talo", "hus", "книг", "كتب")

# words the module's tests quote
QUOTED = {
    "porter": "DOG analog analogi bone caress caresses condit conditional "
              "dog dogs merg merge merges merging poni ponies probabl "
              "probably quickli quickly relat relational score segments "
              "sensibility sensibl walk work John's dog’s",
    "snowball": "abil abilitate ban banen boek boekjes byen capitalist "
                "capitalistă cart cartea communism conflat conflated cri cry "
                "cărţ die dy dying eetbar eetbare fiet fiets fietsen frumoas "
                "frygtløs frygtløst gelez generous generously hop hope hoping "
                "hopping hus husets indtag indtagelse kat katt kind kinder "
                "licham lichamelijk lichamelijke løst mogelijk mogelijkheden "
                "news proceed say skies sky twas werd",
    "turkish": "DİYARBAKIR ISPARTA ankara bir diyarbakır insanlarne "
               "insanlarınkine istanbul kitabı kitap kitaplar kitapları "
               "kitapta soyad soyadları türki türkiye İSTANBUL ısparta "
               "Ankara'da İstanbul’un IŞIK",
    "arabic": "الساهد الو ساهد ساهدين والساهدون الكتاب والمكتبات ١٢٣",
    "romance": "amico ban banknak cantare che cheval chevaux coraca coração "
               "flick flicka flickor flickorna flickors grand grandes gut "
               "gutan gutane haz hazak hazat hazban hazert hemmelighet "
               "hemmeligheten hogy hus husa husene huset husets ikke kind "
               "kinde kinder kindes libr libra libras libro libros livr livra "
               "livras livro livros los mutta naca nacional nacionalmente "
               "nações não och port porter porters portes que ragazz ragazza "
               "ragazze ragazzi ragazzo talo taloja talolla taloon talossa "
               "дет для школ школами dell'acqua l'amica",
    "french": "ador adorateur adoration adoratrices adore adorent avion chat "
              "chats chien chiens et hautes hauteur ici il les une être "
              "l'avion d'une qu'il jusqu'ici l’avion aujourd'hui",
    "german": "Tisch Tische Tischen ae aee dauer der die für haeuser haus "
              "hauses häuser laufen quelle schaltflachen schaltflaechen "
              "schaltflächen tisch tische tischen und weissbier weißbier",
    "decompound": "aabb able abst af ba bal ball ballkurv basket basketbal "
                  "basketball basketballkurv cus custom customer er hest kur "
                  "kurv lidt lkurv læse læsehest merge min net sket sketbal "
                  "sketball som table tom veninde win window abcd aufgabe "
                  "column data draht fast fleisch gesetz key rind schere "
                  "stream wind überwachung",
}

# a tiny Liang grammar: the analyzer's patterns plus the shapes the
# hyphenation tests parse
_GRAMMAR = hyphenation.HyphenationSpec(
    classes=tuple((c, c) for c in "abcdefghijklmnopqrstuvwxyzæøåü"),
    patterns=tuple(hyphenation.parse_pattern_values(p) for p in (
        "s1t", "m1e", "n1d", "ab5le", ".ae3", "3abst", "ne4t5", "1ba",
        "l1k", "t1b", "e1s", "r1k", "1ll", "a1f", "e1w", "2ch", "h1t",
    )),
)


def _literals(module) -> set:
    with open(module.__file__, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    return {
        node.value for node in ast.walk(tree)
        if isinstance(node, ast.Constant) and isinstance(node.value, str)
        and 0 < len(node.value) <= 12
        and not any(c.isspace() for c in node.value)
    }


@lru_cache(maxsize=None)
def affix_vocabulary(module, quoted: str) -> list:
    affixes = _literals(module)
    words = set(affixes) | set(quoted.split())
    for stem in STEMS:
        words.update(stem + a for a in affixes)
        words.update(a + stem for a in affixes if len(a) <= 4)
        words.update(a + "'" + stem for a in affixes if len(a) <= 4)
    return sorted(words)


@lru_cache(maxsize=None)
def compound_vocabulary() -> list:
    quoted = QUOTED["decompound"].split()
    return sorted(set(quoted) | {a + b for a in quoted for b in quoted})


def _digest(fn, words) -> str:
    h = hashlib.sha256()
    for w in words:
        h.update(f"{w}\t{fn(w)!r}\n".encode("utf-8"))
    return h.hexdigest()


def _functions():
    """pin name -> (function, vocabulary builder)"""
    def vocab(module, key):
        return partial(affix_vocabulary, module, QUOTED[key])

    dq = frozenset(QUOTED["decompound"].split())
    fns = {
        "porter.porter_stem": (porter.porter_stem, vocab(porter, "porter")),
        "porter.strip_possessive": (porter.strip_possessive,
                                    vocab(porter, "porter")),
        "turkish.turkish_stem": (turkish.turkish_stem,
                                 vocab(turkish, "turkish")),
        "turkish.turkish_lower": (turkish.turkish_lower,
                                  vocab(turkish, "turkish")),
        "turkish.strip_apostrophe": (turkish.strip_apostrophe,
                                     vocab(turkish, "turkish")),
        "french.french_light_stem": (french.french_light_stem,
                                     vocab(french, "french")),
        "french.french_term": (french.french_term, vocab(french, "french")),
        "french.elide": (french.elide, vocab(french, "french")),
        "german.german_normalize": (german.german_normalize,
                                    vocab(german, "german")),
        "german.german_light_stem": (german.german_light_stem,
                                     vocab(german, "german")),
        "german.german_term": (german.german_term, vocab(german, "german")),
        "compound.decompose": (partial(compound.decompose,
                                       dictionary=COMPOUND_DICT),
                               compound_vocabulary),
        "compound.decompose_quoted": (partial(compound.decompose,
                                              dictionary=dq),
                                      compound_vocabulary),
        "hyphenation.points": (partial(hyphenation.hyphenation_points,
                                       spec=_GRAMMAR), compound_vocabulary),
        "hyphenation.decompose_all": (
            partial(hyphenation.hyphen_decompose, spec=_GRAMMAR,
                    dictionary=None), compound_vocabulary),
        "hyphenation.decompose_quoted": (
            partial(hyphenation.hyphen_decompose, spec=_GRAMMAR,
                    dictionary=dq), compound_vocabulary),
        "hyphenation.decompose_analyzer": (
            partial(hyphenation.hyphen_decompose, spec=HYPHEN_SPEC,
                    dictionary=HYPHEN_DICT), compound_vocabulary),
    }
    for name in ("danish_stem", "dutch_stem", "dutch_term", "romanian_stem",
                 "english_stem"):
        fns[f"snowball.{name}"] = (getattr(snowball, name),
                                   vocab(snowball, "snowball"))
    for name in ("arabic_normalize", "arabic_stem_token", "arabic_term",
                 "fold_decimal_digits"):
        fns[f"arabic.{name}"] = (getattr(arabic, name),
                                 vocab(arabic, "arabic"))
    for lang in sorted(romance.LIGHT_STEMMERS):
        fns[f"romance.light_stem.{lang}"] = (
            partial(romance.light_stem, lang), vocab(romance, "romance"))
    return fns


FUNCTIONS = _functions()

# sha256 over (word, repr(output)) lines of each function's vocabulary
PINS = {
    "arabic.arabic_normalize":
        "e56b9e110241944eacdbdf775503ecb1bde614a01a6d06575e48c0d1c3bfd10f",
    "arabic.arabic_stem_token":
        "4ae4d7e3b6be635c2aa8ce2b18c61a6eb64ea9f8ca0fa7a60a5950bf255155dd",
    "arabic.arabic_term":
        "27845bfde629c90a0f4531b4af1e4187bca34543ace2431dc506915eb85e2440",
    "arabic.fold_decimal_digits":
        "6ada54e8b55c73748bcd10cf6ad9b14843976f4fd7c61debc7643be8ce307ae5",
    "compound.decompose":
        "77930c95ebc24f65466df5eed3b88ae557f04414a9c1030cab59edca6fbbbdc9",
    "compound.decompose_quoted":
        "2bf6b8c1a78e0e1593f9fcf39dd7a4184a4f99e22098e137bfec5c8834034194",
    "french.elide":
        "17b83850184c6c1cb7823cc258e844f7310c1c8fd7e8c0316317dc6bf062caee",
    "french.french_light_stem":
        "cd97696f419d8516b1beb653eac2f8f0608394281559a0ffb6a2a049bffe2ccb",
    "french.french_term":
        "cd97696f419d8516b1beb653eac2f8f0608394281559a0ffb6a2a049bffe2ccb",
    "german.german_light_stem":
        "ae6e5db4372fe7d0fc065806fa72496de0949fe6b898dfacc10fe49bff21543f",
    "german.german_normalize":
        "9131d9f7b315534303732449408840d71a860f43f3bb7df0750555e34d703972",
    "german.german_term":
        "7452f62bcf7ff3326d485ee2360540f6fb69fb3dcab87f32ad4a8cfbc3013b60",
    "hyphenation.decompose_all":
        "99ab543f3ff7d35f8cd1105fe89bc7181bb7cb4047533911e8fe2e00565cc277",
    "hyphenation.decompose_analyzer":
        "d13be692533b52d8c256deb8e397b342a8a427d88c69a696427024f71c57c090",
    "hyphenation.decompose_quoted":
        "f95ccdf92e49eb62fa59956ce1be0130bbc3eb8aca97cabddb24b27b909406a9",
    "hyphenation.points":
        "c25bc19b60d4848a2b9a07b1433b3fe68bd071ad16159d855a2dfe2e2cab748e",
    "porter.porter_stem":
        "9e14ec44fbc4e89e586566570752b93bbb4156411257ee6bc9578ec81ae4b383",
    "porter.strip_possessive":
        "830eb22458c79ab6cb9dc9121af64de73b4665901cf80acf94ccd2163e9aca40",
    "romance.light_stem.ar":
        "7f1f611af312684e33cfdc89475f8f5d05ac8f53a5741429649cf66443fdfedf",
    "romance.light_stem.da":
        "d6cc337174888ea9218588b844afb7a0468dd938a0b711c0d9ffb71d1f97a2bb",
    "romance.light_stem.de_min":
        "8c116547696ee52a114f9fb71891e564a3b419783bdb270a654187335bd9559c",
    "romance.light_stem.en":
        "65563936f79751ec92f38302d40b091e73f8ab31ee49985324b49e69969bf828",
    "romance.light_stem.es":
        "d0aaea0b1368e03e3bce684472189b6e7269bb1b7cc13706849a5235e3bc6d99",
    "romance.light_stem.fi":
        "51215c6dd0f8e2de9d1a019ab12043fb697d32ee49877ec150b557f2345aafce",
    "romance.light_stem.fr_min":
        "0b3ee21a2e54e86ff74707dc601473de566c500db136c13c1d6f8f2c4bd319af",
    "romance.light_stem.hu":
        "34796c002bf82d5b324b2f6ebea3913234277a1561e3dcb6a491078d4e660574",
    "romance.light_stem.it":
        "e0a362c2d42c6d5cf08cd93b372d1da7c557b1cd0cac1edbae92c6cc170a99fa",
    "romance.light_stem.nb":
        "543cccb85b0a1072d895613471fd558bdea40d6b4b119fc18831414aea7b3d31",
    "romance.light_stem.nb_min":
        "0f4dcefb0eccbc1415ba4579b5e58646ce61540c5aac331f10f07f1edccea5e7",
    "romance.light_stem.nl":
        "b85c175e7ec5c26ca4aa0e3d97bfb4d130d27d78f145c4b4da0b94b99a138a62",
    "romance.light_stem.nn":
        "79d0635101c7c2a7fd191145ad7d9e37634865fc775e56882d1d99cea2f04c55",
    "romance.light_stem.nn_min":
        "d2cd94060b17ea34ecb1d7464d57b4eeae8edc475c75161025f9a7cdaa008f38",
    "romance.light_stem.pt":
        "0801382b386c78c5ec459af553f41c6b69b1b15620053ef7cda8ff3d91c1ebdb",
    "romance.light_stem.ro":
        "c733a45573272921b73df8f6c481ef69699260493c7611b1449fb7b2d4d6cf73",
    "romance.light_stem.ru":
        "5595b06421535d1681d8e76dcca40ed6c800b91e4226ec52b2fb4ce35fe06019",
    "romance.light_stem.sv":
        "34aa824ddf6126e8fdb9242da6205a3d07b77ca86985ceea71516a2c44e89714",
    "romance.light_stem.tr":
        "0c3976f82a5c91465dd134af8b4047ca39549ff8281bd0e8f2752616070e830d",
    "snowball.danish_stem":
        "98f5cdab8137dbd979fbc8b838bd09ff678c9db807d9646b3181b927bb572191",
    "snowball.dutch_stem":
        "d2a133ac25f1b967cef16e926821f302d2ea5927b36f404c046806d0851ab0b9",
    "snowball.dutch_term":
        "3b4c23e21b95c35e5014dc4c5cae8f00034ad8915a6fb8511963ba31fc1f87f3",
    "snowball.english_stem":
        "c9de6ed5758cffaf88d60d64966ca58452d964ec382b14b8676e3c973cfb612d",
    "snowball.romanian_stem":
        "3cce8740cc91d1432c81e98194c026feb6cceaa2d9755f7deab4a7d2c5b95cfe",
    "turkish.strip_apostrophe":
        "0f056ecbd9bb036d24a9f083c7751387e669aa7c60c52dcc1dc1041d6e4d21f4",
    "turkish.turkish_lower":
        "ff4b4f0659306b697475d381152580bf0049517b83307db112b67de766740601",
    "turkish.turkish_stem":
        "c22e80a6a699a8a5cabe827b98a4944a601ce1aaeaa9cab28c84872045b933a4",
}


def test_every_function_is_pinned():
    assert sorted(PINS) == sorted(FUNCTIONS)


@pytest.mark.parametrize("name", sorted(FUNCTIONS))
def test_output_pins(name):
    fn, vocabulary = FUNCTIONS[name]
    assert _digest(fn, vocabulary()) == PINS[name]


if __name__ == "__main__":
    print("PINS = {")
    for name in sorted(FUNCTIONS):
        fn, vocabulary = FUNCTIONS[name]
        print(f'    "{name}":\n        "{_digest(fn, vocabulary())}",')
    print("}")
