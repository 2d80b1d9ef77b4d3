"""Index-time SynonymGraphFilter + FlattenGraphFilter (kernels/synonyms.py).

Goldens mirror the reference's expectations:
  - TestSynonymGraphFilter.testFlattenedGraph (analysis/common/src/test/
    org/apache/lucene/analysis/synonym/TestSynonymGraphFilter.java)
  - TestFlattenGraphFilter.testWTF1/testWTF2 (analysis/common/src/test/
    org/apache/lucene/analysis/core/TestFlattenGraphFilter.java)
including the documented LOSSINESS of index-time graph flattening (the
"wtf the" false phrase match / "wtf happened" false miss).

The synonym_graph stream stage of the analysis chain runs for both
flatten_tokens and tokenize_one; the stream tests pin that they agree.
"""

import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from lucene_solr_1_spark.kernels.analyzer import (  # noqa: E402
    SYNONYM_EN,
    AnalyzerConfig,
    analyze_series,
    flatten_tokens,
    tokenize_one,
)
from lucene_solr_1_spark.kernels.synonyms import (  # noqa: E402
    SYN_RULES,
    SynonymMap,
    apply_synonym_graph,
    expand_query_token,
    parse_solr_rules,
    rules_map,
)

# ---------------------------------------------------------------------------
# graph + flatten goldens (reference file:line in module docstring)
# ---------------------------------------------------------------------------


def test_flattened_graph_golden():
    """TestSynonymGraphFilter.testFlattenedGraph: 'wtf => what the fudge'
    keepOrig on 'wtf happened' -> what/wtf stacked at 0, the@1 fudge@2
    happened@3."""
    m = SynonymMap()
    m.add("wtf", "what the fudge", keep_orig=True)
    t, p = apply_synonym_graph(["wtf", "happened"], m)
    assert t == ["what", "wtf", "the", "fudge", "happened"]
    assert p == [0, 0, 1, 2, 3]


def test_wtf_two_side_paths_golden():
    """TestFlattenGraphFilter.testWTF1/2: two parallel side paths + the
    original collapse to the same flattened positions; our emission order
    (side paths first, then keepOrig original) is testWTF2's stream."""
    m = SynonymMap()
    m.add("wtf", "what the fudge", keep_orig=True)
    m.add("wtf", "wow that's funny", keep_orig=True)
    t, p = apply_synonym_graph(["wtf", "happened"], m)
    assert t == ["what", "wow", "wtf", "the", "that's", "fudge", "funny",
                 "happened"]
    assert p == [0, 0, 0, 1, 1, 2, 2, 3]


def test_flatten_lossiness_pinned():
    """The reference test pins that index-time flattening is LOSSY:
    phrase (wtf, the) wrongly becomes adjacent, (wtf, happened) wrongly
    stops being adjacent. Our position assignment must reproduce that."""
    m = SynonymMap()
    m.add("wtf", "what the fudge", keep_orig=True)
    t, p = apply_synonym_graph(["wtf", "happened"], m)
    pos = {term: pp for term, pp in zip(t, p)}
    assert pos["the"] == pos["wtf"] + 1        # bad match made possible
    assert pos["happened"] != pos["wtf"] + 1   # true adjacency lost


def test_contraction_and_expansion():
    m = rules_map(SYN_RULES)
    # multi-word input contraction: positions compress
    t, p = apply_synonym_graph(["a", "fast", "sort", "here"], m)
    assert t == ["a", "quicksort", "here"]
    assert p == [0, 1, 2]
    # multi-word output expansion: positions stretch
    t, p = apply_synonym_graph(["the", "window", "closed"], m)
    assert t == ["the", "sliding", "window", "closed"]
    assert p == [0, 1, 2, 3]
    # equivalence class: posInc-0 stack, original first in rule order
    t, p = apply_synonym_graph(["merge", "now"], m)
    assert t == ["merge", "consolidate", "now"]
    assert p == [0, 0, 1]


def test_greedy_longest_match_and_no_overlap():
    m = SynonymMap()
    m.add("fast", "quick")
    m.add("fast sort", "quicksort")
    # longest input wins at the match point (FST keeps longest accept)
    t, p = apply_synonym_graph(["fast", "sort"], m)
    assert t == ["quicksort"] and p == [0]
    # scan resumes AFTER the match: the consumed 'sort' is not re-scanned
    t, p = apply_synonym_graph(["fast", "fast", "sort"], m)
    assert t == ["quick", "quicksort"]
    assert p == [0, 1]


def test_parse_solr_rules():
    m = parse_solr_rules([
        "# comment",
        "",
        "a, b",
        "x y => z",
        "p => q r, s",
    ])
    # equivalence: every member -> every member (itself included)
    ea = m.entry(("a",))
    assert ea.paths == (("a",), ("b",)) and not ea.keep_orig
    eb = m.entry(("b",))
    assert eb.paths == (("a",), ("b",))
    # explicit mapping: LHS -> RHS only, multi-word split
    ex = m.entry(("x", "y"))
    assert ex.paths == (("z",),)
    ep = m.entry(("p",))
    assert ep.paths == (("q", "r"), ("s",))
    assert m.entry(("z",)) is None  # RHS never becomes an input


def test_expand_query_token():
    m = rules_map(SYN_RULES)
    assert expand_query_token("consolidate", m) == [("merge",),
                                                    ("consolidate",)]
    assert expand_query_token("window", m) == [("sliding", "window")]
    assert expand_query_token("fast", m) is None   # bigram trigger only
    assert expand_query_token("quicksort", m) is None  # outputs don't loop


# ---------------------------------------------------------------------------
# chain integration: scalar == vectorized == series
# ---------------------------------------------------------------------------


def test_tokenize_one_with_synonyms():
    t, p = tokenize_one("A fast Sort of the Window", SYNONYM_EN)
    assert t == ["a", "quicksort", "of", "the", "sliding", "window"]
    assert p == [0, 1, 2, 3, 4, 5]


def test_scalar_matches_vectorized():
    import random

    rng = random.Random(4)
    frag = ["merge", "consolidate", "fast", "sort", "window", "query",
            "data", "the", "a", "fast sort", "sliding window", "x9"]
    docs = [" ".join(rng.choice(frag) for _ in range(rng.randint(0, 9)))
            for _ in range(200)]
    s = pd.Series(docs)
    terms, rows, pos, dl = flatten_tokens(s, SYNONYM_EN)
    st, sr, sp = [], [], []
    sdl = np.zeros(len(s), dtype=np.int64)
    for i, text in enumerate(docs):
        tt, pp = tokenize_one(text, SYNONYM_EN)
        st.extend(tt)
        sr.extend([i] * len(tt))
        sp.extend(pp)
        sdl[i] = len(tt)
    assert list(terms) == st
    assert list(rows) == sr
    assert list(pos) == sp
    assert list(dl) == list(sdl)
    assert [x for lst in analyze_series(s, SYNONYM_EN) for x in lst] == st


def test_vectorized_no_trigger_fast_path():
    """Docs with no trigger tokens must still renumber positions densely
    (the flatten contract) on the pure-NumPy path."""
    s = pd.Series(["plain tokens only here", "and another doc"])
    terms, rows, pos, dl = flatten_tokens(s, SYNONYM_EN)
    assert list(pos) == [0, 1, 2, 3, 0, 1, 2]
    assert list(dl) == [4, 3]


def test_config_composition_rules():
    with pytest.raises(ValueError):
        AnalyzerConfig(synonyms=SYN_RULES, stem=True)
    with pytest.raises(ValueError):
        AnalyzerConfig(synonyms=SYN_RULES,
                       stop_words=frozenset({"the"}))


# ---------------------------------------------------------------------------
# query-side expansion (QueryBuilder.analyzeGraphBoolean shapes)
# ---------------------------------------------------------------------------


def test_query_side_expansion():
    from lucene_solr_1_spark.search.query import (
        Phrase,
        Synonym,
        Term,
        analyze_query_terms,
    )

    kf = frozenset({"repo", "path", "commit", "lang"})
    # single-token equivalence -> SynonymQuery over the class
    q = analyze_query_terms(Term("consolidate"), SYNONYM_EN, kf)
    assert q == Synonym(("merge", "consolidate"), field="content")
    # multi-word output -> PhraseQuery of the expansion
    q = analyze_query_terms(Term("window"), SYNONYM_EN, kf)
    assert q == Phrase(("sliding", "window"), field="content")
    # bigram-trigger first token alone: no rule fires
    q = analyze_query_terms(Term("fast"), SYNONYM_EN, kf)
    assert q == Term("fast", field="content")
    # phrase containing a multi-word input contracts like the index did
    q = analyze_query_terms(Phrase(("fast", "sort")), SYNONYM_EN, kf)
    assert q == Term("quicksort", field="content")
    # phrase whose tokens re-trigger expansion mirrors the indexed stream
    q = analyze_query_terms(Phrase(("sliding", "window")), SYNONYM_EN, kf)
    assert q == Phrase(("sliding", "sliding", "window"), field="content")
    # keyword fields bypass the chain entirely
    q = analyze_query_terms(Term("window", field="lang"), SYNONYM_EN, kf)
    assert q == Term("window", field="lang")


# ---------------------------------------------------------------------------
# end-to-end: index with SYNONYM_EN, manifest-sticky re-analysis
# ---------------------------------------------------------------------------


def test_index_and_search_synonyms(spark, tmp_path_factory):
    from lucene_solr_1_spark.index.builder import build_index
    from lucene_solr_1_spark.search.query import Phrase, Term
    from lucene_solr_1_spark.search.searcher import LuceneSparkSearcher

    rows = [
        ("r", "p0", "c", "en", "we merge the results"),
        ("r", "p1", "c", "en", "a fast sort beats a slow one"),
        ("r", "p2", "c", "en", "look through the window pane"),
        ("r", "p3", "c", "en", "nothing relevant at all"),
        ("r", "p4", "c", "en", "quicksort is a fast sort"),
        ("r", "p5", "c", "en", "the sliding window closed"),
    ]
    pdf = pd.DataFrame(rows,
                       columns=["repo", "path", "commit", "lang", "content"])
    d = str(tmp_path_factory.mktemp("idx_syn"))
    m = build_index(spark, spark.createDataFrame(pdf), d, num_segments=2,
                    cfg=SYNONYM_EN)
    assert m["analyzer"] == "synonym_en"
    s = LuceneSparkSearcher(spark, d)

    # equivalence member absent from the corpus still finds merge docs
    hits = s.search(Term("consolidate"), k=10)
    assert set(hits["path"]) == {"p0"}
    # contraction: both the literal bigram and the output token hit p1+p4
    hits = s.search(Phrase(("fast", "sort")), k=10)
    assert set(hits["path"]) == {"p1", "p4"}
    hits = s.search(Term("quicksort"), k=10)
    assert set(hits["path"]) == {"p1", "p4"}
    # expansion: 'sliding' is injected before every 'window' occurrence
    hits = s.search(Term("sliding"), k=10)
    assert set(hits["path"]) == {"p2", "p5"}
    # Term('window') re-analyzes to Phrase(sliding, window): the injected
    # bigram exists in BOTH docs' indexed streams
    hits = s.search(Term("window"), k=10)
    assert set(hits["path"]) == {"p2", "p5"}
    # faithful Lucene quirk: the user phrase "sliding window" re-triggers
    # the graph on 'window' -> (sliding, sliding, window), which matches
    # only docs that LITERALLY contained "sliding window" (p5) — the same
    # flatten lossiness the reference pins in testFlattenedGraph
    hits = s.search(Phrase(("sliding", "window")), k=10)
    assert set(hits["path"]) == {"p5"}
    # WAND == exhaustive over the synonym-expanded (SynonymQuery) plan
    a = s.search(Term("consolidate"), k=5, use_wand=True,
                 with_stored=False)
    b = s.search(Term("consolidate"), k=5, use_wand=False,
                 with_stored=False)
    assert a.equals(b)


def test_twin_spec_matches_engine_stream():
    """The DuckDB twin's (rewrites, injections) spec must replay the
    engine's own graph on raw text — validated with a generated corpus."""
    import re

    from lucene_solr_1_spark.sql.kernel_oracle import _syn_spec

    rewrites, injections = _syn_spec()
    import random

    rng = random.Random(7)
    frag = ["merge", "consolidate", "fast", "sort", "window", "data",
            "fast sort", "sliding window", "merge window"]
    m = rules_map(SYN_RULES)
    for _ in range(100):
        text = " ".join(rng.choice(frag) for _ in range(rng.randint(0, 7)))
        # engine path
        toks = [t for t in re.split(r"[^a-z0-9_]+", text.lower()) if t]
        et, ep = apply_synonym_graph(toks, m)
        # twin path: sequential regex rewrites, then injections
        s = text.lower()
        for pat, rep in rewrites:
            s = re.sub(pat, rep, s)
        tt = [t for t in re.split(r"[^a-z0-9_]+", s) if t]
        out = []
        for t in tt:
            out.append(t)
            out.extend(injections.get(t, ()))
        # twin is count-exact on terms (positions stack only for
        # injections, which Term/Synonym scoring never reads)
        assert sorted(out) == sorted(et), (text, out, et)
