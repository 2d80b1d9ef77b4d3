"""Porter stemmer + EnglishPossessiveFilter + ENGLISH_STEM chain tests —
mirrors analysis/common/src/test/.../en/TestPorterStemFilter.java (which
runs Martin Porter's canonical voc.txt -> output.txt vocabulary) and
TestEnglishAnalyzer.java's chain expectations."""

import zipfile

import numpy as np
import pandas as pd
import pytest

from lucene_solr_1_spark.kernels.analyzer import (
    ENGLISH_STEM, STANDARD, analyze_series, analyzer_name, flatten_tokens,
    tokenize_one,
)
from lucene_solr_1_spark.kernels.porter import (
    porter_stem, strip_possessive,
)
from tests.conftest import reference_file


_VOC_ZIP = (
    "/root/reference/lucene/analysis/common/src/test/org/apache/lucene/"
    "analysis/en/porterTestData.zip"
)


def test_porter_canonical_vocabulary():
    """The full 23k-word canonical test vocabulary (public-domain data
    from tartarus.org, same data TestPorterStemFilter uses)."""
    with zipfile.ZipFile(reference_file(_VOC_ZIP)) as z:
        voc = z.read("voc.txt").decode().split()
        out = z.read("output.txt").decode().split()
    assert len(voc) == len(out) and len(voc) > 20000
    bad = [(v, porter_stem(v), o) for v, o in zip(voc, out) if porter_stem(v) != o]
    assert bad == []


def test_porter_classic_cases():
    # the famous examples from the paper + Lucene departures
    assert porter_stem("caresses") == "caress"
    assert porter_stem("ponies") == "poni"
    assert porter_stem("relational") == "relat"
    assert porter_stem("conditional") == "condit"
    assert porter_stem("sensibility") == "sensibl"  # biliti -> ble
    assert porter_stem("probably") == "probabl"  # bli -> ble departure
    assert porter_stem("analogi") == "analog"  # logi -> log departure
    assert porter_stem("merges") == "merg"
    assert porter_stem("merging") == "merg"
    assert porter_stem("merge") == "merg"
    # length <= 2 and non-alpha tokens unchanged
    assert porter_stem("as") == "as"
    assert porter_stem("id_0042") == "id_0042"
    assert porter_stem("v1") == "v1"


def test_possessive_filter():
    # EnglishPossessiveFilter.java:43-52
    assert strip_possessive("dog's") == "dog"
    assert strip_possessive("DOG'S") == "DOG"
    assert strip_possessive("dog’s") == "dog"
    assert strip_possessive("dogs") == "dogs"
    assert strip_possessive("'s") == ""
    assert strip_possessive("s") == "s"


def test_english_stem_chain_order():
    """possessive -> stop -> stem (EnglishAnalyzer.java:107-117): the
    possessive strip happens BEFORE the stop check, the stop check before
    stemming; positions consume removed slots."""
    terms, pos = tokenize_one("The dog's bones are walking", ENGLISH_STEM)
    # 'the'/'are' stopped; dog's -> dog; bones -> bone; walking -> walk
    assert terms == ["dog", "bone", "walk"]
    assert pos == [1, 2, 4]
    # it's -> possessive-strip 'it' -> stopped entirely
    terms2, _ = tokenize_one("it's working", ENGLISH_STEM)
    assert terms2 == ["work"]


def test_flatten_tokens_matches_tokenize_one_stemmed():
    texts = pd.Series(
        [
            "The dog's bones are walking merrily",
            "merges merging merged merge",
            "",
            "relational conditionally id_0042 probably",
        ]
    )
    terms, row_idx, pos, doc_len = flatten_tokens(texts, ENGLISH_STEM)
    for d in range(len(texts)):
        want_t, want_p = tokenize_one(texts[d], ENGLISH_STEM)
        got_t = list(terms[row_idx == d])
        got_p = list(pos[row_idx == d])
        assert got_t == want_t, d
        assert got_p == want_p, d
        assert doc_len[d] == len(want_t)
    # analyze_series agrees too
    for d, toks in enumerate(analyze_series(texts, ENGLISH_STEM)):
        assert toks == tokenize_one(texts[d], ENGLISH_STEM)[0]


def test_analyzer_names_roundtrip():
    from lucene_solr_1_spark.kernels.analyzer import ANALYZERS

    for name, cfg in ANALYZERS.items():
        assert analyzer_name(cfg) == name
    assert analyzer_name(STANDARD.with_english_stop()) == "english"


def test_stemmed_index_recall(spark, tmp_path):
    """End-to-end: an ENGLISH_STEM index built from docs containing only
    inflected forms must be hit by a differently-inflected query term —
    the analyzer name rides the manifest and the searcher re-analyzes
    query terms (the 'merges finds merge' recall contract), surviving an
    incremental append (sticky manifest setting)."""
    from lucene_solr_1_spark.index.builder import add_documents, build_index
    from lucene_solr_1_spark.search.query import Phrase, Term
    from lucene_solr_1_spark.search.searcher import LuceneSparkSearcher

    pdf = pd.DataFrame(
        [
            ("r", "p/0", "c0", "en", "the merging of segments"),
            ("r", "p/1", "c1", "en", "nothing interesting here"),
            ("r", "p/2", "c2", "en", "merged yesterday"),
        ],
        columns=["repo", "path", "commit", "lang", "content"],
    )
    d = str(tmp_path / "stemidx")
    build_index(spark, spark.createDataFrame(pdf), d, num_segments=2,
                cfg=ENGLISH_STEM)
    s = LuceneSparkSearcher(spark, d)
    assert s.manifest["analyzer"] == "english_stem"
    hits = s.search(Term("merges"), k=10, with_stored=False)
    assert set(hits["global_doc_id"]) == {0, 2}
    # phrase terms stem too: "merging segments" ~ slop 1 spans the stop gap
    ph = s.search(Phrase(("merging", "segments"), slop=1), k=10, with_stored=False)
    assert len(ph) == 1
    # keyword fields stay verbatim (no stemming of 'en' etc.)
    kw = s.search(Term("en", field="lang"), k=10, with_stored=False)
    assert len(kw) == 3
    # incremental append keeps the analyzer sticky
    pdf2 = pd.DataFrame(
        [("r", "p/3", "c3", "en", "merges again")],
        columns=pdf.columns,
    )
    add_documents(spark, spark.createDataFrame(pdf2), d, num_segments=1)
    s2 = LuceneSparkSearcher(spark, d)
    assert s2.manifest["analyzer"] == "english_stem"
    hits2 = s2.search(Term("merge"), k=10, with_stored=False)
    assert len(hits2) == 3


def test_keyword_repeat_chain_stream():
    """KeywordRepeat + Porter + RemoveDuplicates: ORIGINAL then STEM at
    one position when they differ; equal forms emit once
    (RemoveDuplicatesTokenFilter)."""
    import numpy as np
    import pandas as pd

    from lucene_solr_1_spark.kernels.analyzer import (
        STEM_KEEP,
        AnalyzerConfig,
        flatten_tokens,
        tokenize_one,
    )

    t, p = tokenize_one("merges the merge quickly", STEM_KEEP)
    assert t == ["merges", "merg", "the", "merge", "merg", "quickly", "quickli"]
    assert p == [0, 0, 1, 2, 2, 3, 3]
    # scalar == vectorized
    docs = ["merges the merge quickly", "", "running runs run", "plain x"]
    terms, rows, pos, dl = flatten_tokens(pd.Series(docs), STEM_KEEP)
    st, sp, sdl = [], [], np.zeros(len(docs), dtype=np.int64)
    for i, d in enumerate(docs):
        tt, pp = tokenize_one(d, STEM_KEEP)
        st.extend(tt)
        sp.extend(pp)
        sdl[i] = len(tt)
    assert list(terms) == st and list(pos) == sp and list(dl) == list(sdl)
    import pytest

    with pytest.raises(ValueError):
        AnalyzerConfig(stem_keep_original=True)  # requires stem


def test_keyword_repeat_recall_e2e(spark, tmp_path_factory):
    """A stem-keep index answers BOTH the exact form (boosted by the
    original token) and stem-sharing inflections."""
    import pandas as pd

    from lucene_solr_1_spark.index.builder import build_index
    from lucene_solr_1_spark.kernels.analyzer import STEM_KEEP
    from lucene_solr_1_spark.search.query import Synonym, Term
    from lucene_solr_1_spark.search.searcher import LuceneSparkSearcher

    rows = [
        ("r", "p0", "c", "en", "the merges happened"),
        ("r", "p1", "c", "en", "we merge daily"),
        ("r", "p2", "c", "en", "nothing relevant"),
    ]
    pdf = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    d = str(tmp_path_factory.mktemp("idx_sk"))
    m = build_index(spark, spark.createDataFrame(pdf), d, num_segments=1,
                    cfg=STEM_KEEP)
    assert m["analyzer"] == "stem_keep"
    s = LuceneSparkSearcher(spark, d)
    assert s._analyze_query(Term("merges")) == Synonym(
        ("merges", "merg"), field="content"
    )
    hits = s.search(Term("merges"), k=10, with_stored=False)
    assert len(hits) == 2
    # the exact-form doc outranks the inflection-only doc (freq 2 vs 1)
    assert hits["score"].iloc[0] > hits["score"].iloc[1]
