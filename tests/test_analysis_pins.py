"""Stream pins for every registered analysis chain (no Spark).

For each `ANALYZERS` entry, the flat inversion stream of `flatten_tokens`
(terms, row_idx, pos, doc_len) and the per-text `tokenize_one` output over
one seeded mixed corpus are hashed with sha256 and compared to recorded
digests. The corpus mixes bench-generator files with text that exercises
every chain stage: apostrophes, Turkish I/İ, accents, CJK and full-width
forms, HTML, camelCase identifiers, hyphenated compounds, an overlong
token, the empty string and None.

The three entry points must also agree with each other: `flatten_tokens`
grouped by row equals `tokenize_one` of that row, and `analyze_series`
equals `tokenize_one`'s terms.

Regenerate the digests only for a deliberate stream change:
    python tests/test_analysis_pins.py
"""

import hashlib
import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lucene_solr_1_spark.corpus import make_corpus_pandas  # noqa: E402
from lucene_solr_1_spark.kernels.analyzer import (  # noqa: E402
    ANALYZERS, analyze_series, flatten_tokens, tokenize_one,
)

_WORDS = (
    "the running runners ran easily customer customers window windows "
    "streaming stream tabular columns merges merged merging John's "
    "Ankara'da İstanbul'un IŞIK ışık Işık İzmir KITAPLAR kitaplarımız "
    "l'avion d'eau qu'il l'amour dell'acqua nell'anno un'amica "
    "naïve café résumé Straße Mädchen häuser Größe Äpfel Übung "
    "niños canción corazones nações ações cidadãos città "
    "bilarna flickorna gyerekek házakban talossa taloissa "
    "книги книгами домов hus huset bøker "
    "kanslerforbundet boeken huizen copiilor "
    "الكتاب والمكتبات "
    "東京大学 日本語の文章 中文分词 한국어 텍스트 ＡＢＣｄｅｆ ｶﾀｶﾅ "
    "getFooBar parseHTTPResponse snake_case_name XMLHttpRequest2 "
    "data-driven state-of-the-art e-mail wi-fi "
    "win dow cus tom custom wind col tab "
    "photograph phonetic Robert Rupert Smith Smyth "
    "a an and of to in is it that this"
).split()

_EXTRA = [
    "",
    None,
    "<p>The <b>customer</b> merges &amp; streams</p><br/>data-driven",
    "<script>var x = 1;</script><div class='a'>Ankara'da İSTANBUL</div>",
    "alpha " + "q" * 300 + " beta " + "Ünïcode" * 40 + " gamma",
    "getFooBar merges data",
    "The quick brown fox's jumps over the lazy dog's tail",
    "ＦＵＬＬ－ＷＩＤＴＨ ｔｅｘｔ 全角テキスト and 東京 tokyo",
    "l'homme et l'avion d'Air France, dell'acqua e dell'aria",
    "version 1.2.3 and file.name.ext and O'Reilly's isn't",
]


def pin_corpus() -> pd.Series:
    """Seeded mixed corpus: bench-generator files plus sentences drawn
    from the multilingual word pool, plus the fixed edge texts."""
    rng = np.random.default_rng(20261017)
    base = make_corpus_pandas(40)["content"].tolist()
    words = np.asarray(_WORDS, dtype=object)
    mixed = []
    for _ in range(60):
        toks = rng.choice(words, size=int(rng.integers(3, 40)))
        seps = rng.choice(np.asarray([" ", " ", ", ", ". ", "\n", "-"]),
                          size=len(toks))
        mixed.append("".join(t + s for t, s in zip(toks, seps)))
    return pd.Series(base + mixed + _EXTRA, dtype=object)


def _sha(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p)
        h.update(b"\x1f")
    return h.hexdigest()


def _terms_bytes(terms) -> bytes:
    return "\x00".join(str(t) for t in terms).encode("utf-8")


def stream_digests(cfg, texts: pd.Series) -> tuple[str, str]:
    terms, row_idx, pos, doc_len = flatten_tokens(texts, cfg)
    flat = _sha(
        _terms_bytes(terms),
        np.asarray(row_idx, dtype=np.int64).tobytes(),
        np.asarray(pos, dtype=np.int64).tobytes(),
        np.asarray(doc_len, dtype=np.int64).tobytes(),
    )
    per_text = []
    for text in texts:
        t, p = tokenize_one(text, cfg)
        per_text.append(_terms_bytes(t))
        per_text.append(np.asarray(p, dtype=np.int64).tobytes())
    return flat, _sha(*per_text)


# sha256 of (flatten_tokens stream, per-text tokenize_one output) per
# registered chain over pin_corpus()
PINS = {
    "arabic": (
        "f5772d966d3caaef628901d196dbeb6d9c76f9c92e9cecea1b3c3e4b2df5bcf3",
        "e0d0bbbdcc8718e68fe74839c7581ef18df1e437e4a21f19b21fde3134c502ce",
    ),
    "cjk": (
        "9265194809af22391734c6248a1364bd103bd906836f979037eda2218df394ea",
        "ccee9bc169e90dfbe9ce4aca6c9d0fde735996d7d4eec8e3332c071943a05f87",
    ),
    "cjk_unibi": (
        "acf31bf4cf287ad90ae176c3d8ab14cd7a60d9fa5064700f09b384ba6e51d025",
        "d1e456abd72feb1918f8cc6c0d49abe31bbdc9c1c4d355eb75167d355abe22df",
    ),
    "code": (
        "3aea25cfa0d9b796b6dff4fe3d11e92e8b35560cb8371e3e39300e18f61ec843",
        "dd451f454c2a3602c452ba55d44ff7c88ca401265590cc05a845f61f35c0ce5d",
    ),
    "common_grams_en": (
        "cf75a0dcced05179c60c690ae26cb53db3306d93ee2758de77b1c2a1277d956b",
        "146fecb8bc2012433d271288112738f5d55b8d90b63c1c5b2bd7bcde31253ec0",
    ),
    "compound": (
        "b2a20f8f721d50f0d07add5072bee9ecd8f207c8e94d9d9ed61718d8c91d42d8",
        "5b7aa14f952a9ccba03ea8ce3b1f169f120e57f66612ee4f2aa965b4ff3df9f7",
    ),
    "danish": (
        "08f395ccc4eec3ebf834129d928183c9351b178530bfedb8f9c0dcd8ab2f8605",
        "cfeed0ab782ca482540d2df6857bf7538e404c21a43228d825110c1e50306847",
    ),
    "dutch": (
        "c28a9dddb97db86db8efac4d73526a8ee4fb80e77f774d94fd54aa5ffe5c954e",
        "53d70b40ff2fe135fb2528b55462542f58da7dd50e0928497339ca89d70e2095",
    ),
    "english": (
        "3b77f3c7479fa91d36cf48162e26e62a8d92658d4de546cd8bdbd5089e7606cd",
        "a4372168563e8c95fdd9f8298a030de042ff0027fea780a4efb1ebc247addfe3",
    ),
    "english_snowball": (
        "a9e3c3714e9a6b3243ed001344a73fc240fa2815f3ed03185a28334a4e38d0c1",
        "aa0dcf447780ba3b4acda779aace27c2d9ef60e4f518bcec3fa55d7fb2e67557",
    ),
    "english_stem": (
        "aea0d3fab0b1a8501a484e75a08533930f2587563cf1bc70625862cac48ad7c8",
        "f078828ea61a7b67e2f86bbe5e3a9eb5b98e28d728b4aef3964c13e03d3d0b1f",
    ),
    "english_stem_excl": (
        "3fbd8269c20cb43dfaf04ac18efba9ed3be41e2c54d6d6346113a37171c347ab",
        "b41c474a7f7553b92062392a16ef5dc61b269a341cf6932c958956878a86b414",
    ),
    "finnish": (
        "d89d090a8e00a778a58278ea81a1716059f5ed508a99637156c33cf99e0a5786",
        "2613257965142cea352db5b51a68945730141d7a98f2f8ee32159cb99ac7da36",
    ),
    "french": (
        "1d4f3f5f17ba50193502356bdc2597ae9496814041291958ebc6ee594a11ba3e",
        "7ea6b706053fd99b6f5ac624f9a343036389acaf253b4269b2c73a1f1b051cc5",
    ),
    "french_minimal": (
        "a6481a7c5d977ceddb02ce2bcd4004cb43b5abd6e2048f072b0cf2c9722e3120",
        "48522e2cebc2e3b5c6e8f036e397d246a193479f75d91517447e6ed1c9892e9e",
    ),
    "german": (
        "9a85ca680707ba89ad6dd1117dbc9d8ac91e0bfdfe78e27b6b4e32ca4544af89",
        "5644f2e8bd81c451ffebe57fad444d8509f0bcb579b8210b291b59df74887124",
    ),
    "german_minimal": (
        "5ea6ccbfe3d9fb23d8c85d4b69526578f0fb650b82581a94c092122a78bccadc",
        "eb58be40149eb0b4f4ebd28eb394ec7d439513c7a6ce931a873e93e4eef6df54",
    ),
    "html": (
        "9fe077dfa9e235deaf1adf5126c9bac69f3d6f2fa8bb87a724516f907c96d49f",
        "0a60c67bab3e32cb0d5544788b803b258dc5ec0eaf4908e76161e613513284ef",
    ),
    "hungarian": (
        "abfedb903d43bdc1e288a52af650fc00c79468ccdf4f4100d8aef7d1eeb96f37",
        "6e95a7715efe1c4278d27b06d0399200c983bc33f848b4c5e271f45728504fe0",
    ),
    "hyphenation": (
        "f1146663e85c7344d62ed8d5e9e496aabc61ee117fa8406fc819ba237fd91f90",
        "51fe0bc5c69e1d14bc8efb8f820ded493ee541d1a1120e8dc9e36c7dfd547eb5",
    ),
    "italian": (
        "8ab0f1592dfe3f6068737e4b8943415d123ee5aefa168af068d57ea8c7f9a86a",
        "8177efad21ad454a9547cd0fd03a76ca7dc37f83a83f54e367f1eb4c41c68ae3",
    ),
    "norwegian": (
        "933af025d17840609fb616aaac8bec020c66f14c77ded1abaa410188ec6216f7",
        "34d0936ca8958970f239f027752022d285253d71508fa58eaee1ac7014ccba4a",
    ),
    "norwegian_minimal": (
        "6a91fe0ca66e0791f622a7a56169d37ee40ff659941681895aa5805dea17d553",
        "f8bee0ff8cd819f7d771ef0788e434482cc7d05253aa56b27f2304ecbf718bfd",
    ),
    "norwegian_nynorsk": (
        "a44e6fef0178d9899465de3d2fa3df62a5fd834bea8dc76739760e6ca0fe93df",
        "b93d5a6f5fbdcd238cbb5f3c696204b942eef94ad91f4da159e1ae572ab8ac38",
    ),
    "pattern_charfilter": (
        "f886e8dfc56d2493694df5a836053202774409918f6142dc5d43204c8d6412ff",
        "afbd732d2c3059797f5f751ee58bcedc5dbec079c0936813e48b6ef4448016f0",
    ),
    "pattern_letters": (
        "dc0c56fd98364298e97aa58469ec0a233b9c1ecf1ae029671e17dbeb3d89d688",
        "ad673a6cfcf4f0bf1818812f88ddfe31deae373ecc5478a6f4623397eabb4734",
    ),
    "phonetic": (
        "9d65303e2ec76d8b8bce60b2d8e5d930f34d365c43331e17662cbbbaefb9191d",
        "aebb2175bb05b75a11920f120d46bddbc8d021555cbd641759e4f327646d262f",
    ),
    "portuguese": (
        "37fbed38ce9864bb62438665f4d1d65428b3c062efa474def7eccbac5cf3b5b3",
        "8a423829b4e60593ffdba4ed82db981507254a1d9d100f0f0eabe17495d0f1ce",
    ),
    "romanian": (
        "da8461a1b0c3e2b0cd0db7335a3b8ba2f3bbc21d93b2160dcd07da280171a65a",
        "b4d3679427382b4c927abdd51999cb608af12742907614e6a2598d5df440bb90",
    ),
    "russian": (
        "1a104db55a26b41d6dcf250ccc8fdcfd1d118b082f85af62009bc7e09ac8a212",
        "43e242fa46a4518e0a5da35765a1b5313c67d94a41295594fc6251e2d7c88d69",
    ),
    "spanish": (
        "34493c50bf98a89df5b835a26998c1b6ede3532eb6e58e707e24daad6e5f9f25",
        "8bd97c307162908f649180276d75739588fb8158e27ae6b438d0107fa97f5ff3",
    ),
    "standard": (
        "8dc631274edc9401d71334092fcd2a0c175245bbf09ce753ebb8327b0f568c1b",
        "855af3af63df9b96f597bfff8f4250087134b1c8107d1bd92e453aef238f0ea1",
    ),
    "standard_fold": (
        "ff525be1fa08e48832e0afcfe2b3755f39d181a7cd5a807174b01de3788f0e47",
        "7fbbc76dc3b73f902a10d3629343ecfa084927e5b1ea7a79455929ec807b5616",
    ),
    "stem_keep": (
        "20eab23392bbd299e43d287627f07edbb319b2da6a4078c0a67014b3bee6f4be",
        "bc819118e961353bc25c48651a162706c68de1891b5874b41a175a8cc5e924e6",
    ),
    "swedish": (
        "f43f2bcec9679cb265d3bbb7d79fb190df7dcdd885ecec775cfcf2f533396910",
        "89d8808ca2199c2cafe2d289839d880a424a0150e1d98eff98540c892a05e10d",
    ),
    "synonym_en": (
        "4821bd7b69312eaf5fc63570ec7bbe30e63c5691c918f6a6f2842b36fafc683f",
        "4eed304e8cba6c2356e545fc7a0ee6edfb5a78b6c987986d2e9d5a688e7c0564",
    ),
    "turkish": (
        "e0ba42c057b85f51900682cf70e560df1bf69ca50a10d5c161a27055d0b6d85e",
        "9aa7b5c91b4f19614b4a870f0a5c3ba7ef1d3bc2fe863b93e5cf55f3840b7f23",
    ),
}


@pytest.fixture(scope="module")
def texts():
    return pin_corpus()


def test_every_registered_chain_is_pinned():
    assert sorted(PINS) == sorted(ANALYZERS)


@pytest.mark.parametrize("name", sorted(ANALYZERS))
def test_stream_pins(name, texts):
    assert stream_digests(ANALYZERS[name], texts) == PINS[name]


@pytest.mark.parametrize("name", sorted(ANALYZERS))
def test_entry_points_agree(name, texts):
    cfg = ANALYZERS[name]
    terms, row_idx, pos, doc_len = flatten_tokens(texts, cfg)
    series = analyze_series(texts, cfg)
    assert len(doc_len) == len(texts)
    for i, text in enumerate(texts):
        t, p = tokenize_one(text, cfg)
        sel = row_idx == i
        assert list(terms[sel]) == t, (name, i)
        assert list(pos[sel]) == p, (name, i)
        assert doc_len[i] == len(t), (name, i)
        assert list(series.iloc[i]) == t, (name, i)


if __name__ == "__main__":
    corpus = pin_corpus()
    print("PINS = {")
    for name in sorted(ANALYZERS):
        flat, per_text = stream_digests(ANALYZERS[name], corpus)
        print(f'    "{name}": (\n        "{flat}",\n        "{per_text}",\n    ),')
    print("}")
