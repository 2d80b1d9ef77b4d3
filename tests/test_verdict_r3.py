"""Round-3 verdict/advice fixes, pinned.

- TopTermsRewrite cap ordering: when the 1024-term cap binds, fuzzy
  expansion keeps the top by BOOST (closeness) then term
  (TopTermsRewrite.java:106), not by docFreq — close-but-rare terms
  must survive (r2 VERDICT 'what's wrong' #5).
- FunctionScore: kernel score shaping by numeric doc-values matches a
  direct recomputation, and composes with WAND-ineligible routing.
- Grouping two-pass semantics vs a pandas reference.
"""

import numpy as np
import pandas as pd
import pytest

from lucene_solr_1_spark.index.builder import build_index
from lucene_solr_1_spark.search.query import Bool, FunctionScore, Fuzzy, Occur, Term
from lucene_solr_1_spark.search.searcher import LuceneSparkSearcher


def test_fuzzy_cap_keeps_close_but_rare(spark, tmp_path):
    """>1024 dictionary terms within max_edits of the query: the capped
    expansion must retain the distance-1 rare term over distance-2
    popular ones."""
    alphabet = "bcdefghijklmnopqrstuvwxyz0123456789"  # 35 chars, no 'a'
    far_terms = [f"aa{x}{y}" for x in alphabet for y in alphabet]  # ed == 2
    assert len(far_terms) > 1024
    rows = []
    # far terms in 3 docs each (popular)
    for i in range(3):
        rows.append(("r", f"far/{i}", f"c{i}", "en", " ".join(far_terms)))
    # one RARE close term (ed == 1, boost 0.75 > far boost 0.5)
    rows.append(("r", "near/0", "c9", "en", "aaab"))
    pdf = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    d = str(tmp_path / "fuzzidx")
    build_index(spark, spark.createDataFrame(pdf), d, num_segments=2)
    s = LuceneSparkSearcher(spark, d)
    pairs = s._expand_fuzzy(Fuzzy("aaaa", max_edits=2))
    assert len(pairs) == 1024  # the cap binds
    terms = dict(pairs)
    assert terms.get("aaab") == 1  # close-but-rare survived
    # and the search actually hits the rare doc (it outscores: boost 0.75)
    hits = s.search(Fuzzy("aaaa", max_edits=2), k=5, with_stored=True)
    assert "near/0" in set(hits["path"])


def test_function_score_matches_direct_recompute(spark, tmp_path):
    """FunctionScore(multiply/sum) == f32(inner OP weight*dl) recomputed
    from the plain term query's scores and the docmap's dl values."""
    rng = np.random.default_rng(9)
    vocab = ["red", "green", "blue", "quality"]
    rows = []
    for i in range(40):
        toks = rng.choice(vocab, size=rng.integers(5, 60))
        rows.append(("r", f"p/{i:03d}", f"c{i}", "en", " ".join(toks)))
    pdf = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    d = str(tmp_path / "fsidx")
    build_index(spark, spark.createDataFrame(pdf), d, num_segments=3)
    s = LuceneSparkSearcher(spark, d)
    base = s.search(Term("red"), k=100, with_stored=True)
    for mode in ("multiply", "sum"):
        fs = s.search(
            FunctionScore(Term("red"), "dl", mode, 0.05), k=100, with_stored=True
        )
        assert set(fs["global_doc_id"]) == set(base["global_doc_id"])
        b = base.set_index("global_doc_id")
        for _, r in fs.iterrows():
            inner = np.float64(np.float32(b.loc[r["global_doc_id"], "score"]))
            v = np.float64(b.loc[r["global_doc_id"], "dl"])
            want = (
                inner * (0.05 * v) if mode == "multiply" else inner + 0.05 * v
            )
            assert np.float32(want) == np.float32(r["score"])
    # n_chars value source works too, and ranking reorders by doc length
    fs2 = s.search(FunctionScore(Term("red"), "n_chars", "multiply"), k=5,
                   with_stored=False)
    assert len(fs2) > 0


def test_function_score_in_batch_and_explainable(spark, tmp_path):
    pdf = pd.DataFrame(
        [("r", f"p/{i}", f"c{i}", "en", "alpha beta " + "alpha " * i)
         for i in range(8)],
        columns=["repo", "path", "commit", "lang", "content"],
    )
    d = str(tmp_path / "fsidx2")
    build_index(spark, spark.createDataFrame(pdf), d, num_segments=2)
    s = LuceneSparkSearcher(spark, d)
    q = FunctionScore(Term("alpha"), "dl", "multiply", 0.1)
    single = s.search(q, k=8, with_stored=False)
    batch = s.search_many({"fs": q, "plain": Term("alpha")}, k=8)
    got = batch[batch["query"] == "fs"].reset_index(drop=True)
    assert got["global_doc_id"].tolist() == single["global_doc_id"].tolist()
    np.testing.assert_array_equal(
        got["score"].to_numpy(np.float32), single["score"].to_numpy(np.float32)
    )
    # composes inside Bool with a FILTER clause (the doc-values sets
    # carry both the filter set and the value source)
    from lucene_solr_1_spark.search.query import NumericRange

    mixed = s.search(
        Bool.of(
            (Occur.MUST, FunctionScore(Term("alpha"), "dl", "sum", 0.01)),
            (Occur.FILTER, NumericRange("dl", 4, None)),
        ),
        k=8, with_stored=True,
    )
    assert (mixed["dl"] >= 4).all()


def test_grouping_topn_reference(spark):
    """Two-pass grouping == pandas reference on the sf0.001 table."""
    from lucene_solr_1_spark.sql import relational as R

    SF = "/root/testdata/sf0.001"
    got = R.grouping_topn_spark(spark, SF, "query", 4, 2).toPandas()
    scored = R.bm25_bool_spark(spark, SF, should=("query",), k=None).toPandas()
    docs = R.load_documents(spark, SF).select("doc_id", "source").toPandas()
    j = scored.merge(docs, on="doc_id")
    g = (
        j.groupby("source")
        .agg(g_best=("score", "max"), group_total=("doc_id", "count"))
        .reset_index()
        .sort_values(["g_best", "source"], ascending=[False, True])
        .head(4)
    )
    g["group_rank"] = range(1, len(g) + 1)
    ref_rows = []
    for _, grow in g.iterrows():
        top = (
            j[j["source"] == grow["source"]]
            .sort_values(["score", "doc_id"], ascending=[False, True])
            .head(2)
        )
        for dr, (_, r) in enumerate(top.iterrows(), start=1):
            ref_rows.append(
                (grow["source"], grow["group_rank"], grow["group_total"],
                 r["doc_id"], r["score"], dr)
            )
    ref = pd.DataFrame(
        ref_rows,
        columns=["source", "group_rank", "group_total", "doc_id", "score",
                 "doc_rank"],
    )
    got2 = got.astype({"group_rank": int, "group_total": int, "doc_rank": int})
    ref2 = ref.astype({"group_rank": int, "group_total": int, "doc_rank": int})
    pd.testing.assert_frame_equal(
        got2.reset_index(drop=True), ref2.reset_index(drop=True),
        check_dtype=False,
    )
