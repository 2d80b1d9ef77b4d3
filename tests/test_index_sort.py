"""Index sorting (IndexWriterConfig.setIndexSort, index/IndexSorter.java)
and early-terminated field-sorted search (TopFieldCollector's
canEarlyTerminate path).

Contracts pinned:
- every segment's local docID order follows (sort value, doc key);
- a fresh build is ALSO globally sorted (range partitioning on the key);
- appends keep the per-segment guarantee (Lucene's contract), and a merge
  keeps it too: the merged segment is sorted (IndexSorter at merge);
- search_sorted == brute-force field sort of the full match set, with
  relation GREATER_THAN_OR_EQUAL_TO;
- the default (unsorted) build path is byte-identical to before — the
  (repo, path, commit) global docID invariant is untouched.
"""

import numpy as np
import pandas as pd
import pytest

from lucene_solr_1_spark.index.builder import add_documents, build_index, norms_paths
from lucene_solr_1_spark.search.query import Bool, MatchAll, Occur, Term
from lucene_solr_1_spark.search.searcher import LuceneSparkSearcher


@pytest.fixture(scope="module")
def sorted_searcher(spark, tiny_corpus_pdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_sorted"))
    build_index(
        spark, spark.createDataFrame(tiny_corpus_pdf), d, num_segments=4,
        index_sort="n_chars", index_sort_desc=False,
    )
    return LuceneSparkSearcher(spark, d)


def _docmap(searcher):
    """The searcher's docmap files as a Spark scan."""
    return searcher.spark.read.parquet(*norms_paths(searcher.index_dir, searcher.manifest))


def _stored_lengths(searcher):
    """(global_doc_id -> n_chars, content) from the docmap."""
    pdf = _docmap(searcher).select(
        "segment_id", "doc_id", "n_chars", "content"
    ).toPandas()
    pdf["global_doc_id"] = pdf["segment_id"].map(searcher.doc_base) + pdf["doc_id"]
    return pdf.sort_values("global_doc_id").reset_index(drop=True)


def test_segments_internally_sorted(sorted_searcher):
    pdf = _stored_lengths(sorted_searcher)
    for _, g in pdf.groupby("segment_id"):
        v = g.sort_values("doc_id")["n_chars"].to_numpy()
        assert (np.diff(v) >= 0).all()


def test_fresh_build_globally_sorted(sorted_searcher):
    v = _stored_lengths(sorted_searcher)["n_chars"].to_numpy()
    assert (np.diff(v) >= 0).all()


def test_manifest_persists_index_sort(sorted_searcher):
    assert sorted_searcher.manifest["index_sort"] == {
        "field": "n_chars", "desc": False,
    }


def test_search_sorted_matches_bruteforce(sorted_searcher):
    hits = sorted_searcher.search_sorted(Term("return"), k=7)
    # brute force: full match set, sorted by (n_chars, global_doc_id)
    full = sorted_searcher.search(Term("return"), k=10_000, with_stored=True)
    ref = full.sort_values(
        ["n_chars", "global_doc_id"], kind="mergesort"
    ).head(7)
    assert hits["global_doc_id"].tolist() == ref["global_doc_id"].tolist()
    assert hits["n_chars"].tolist() == ref["n_chars"].tolist()
    assert hits.attrs["relation"] == "GREATER_THAN_OR_EQUAL_TO"
    assert hits.attrs["total_hits"] >= len(hits)


def test_search_sorted_bool_query(sorted_searcher):
    q = Bool.of((Occur.MUST, Term("return")), (Occur.MUST_NOT, Term("class")))
    hits = sorted_searcher.search_sorted(q, k=5)
    full = sorted_searcher.search(q, k=10_000, with_stored=True)
    ref = full.sort_values(["n_chars", "global_doc_id"], kind="mergesort").head(5)
    assert hits["global_doc_id"].tolist() == ref["global_doc_id"].tolist()


def test_search_sorted_matchall(sorted_searcher):
    hits = sorted_searcher.search_sorted(MatchAll(), k=5)
    pdf = _stored_lengths(sorted_searcher)
    want = pdf.sort_values(["n_chars", "global_doc_id"]).head(5)
    assert hits["global_doc_id"].tolist() == want["global_doc_id"].tolist()


def test_search_sorted_survives_append(spark, tiny_corpus_pdf, tmp_path_factory):
    """Appends keep per-segment sort; the value merge stays exact even
    though GLOBAL docID order no longer equals value order."""
    d = str(tmp_path_factory.mktemp("idx_sorted_app"))
    half = len(tiny_corpus_pdf) // 2
    build_index(
        spark, spark.createDataFrame(tiny_corpus_pdf.iloc[:half]), d,
        num_segments=2, index_sort="n_chars",
    )
    add_documents(
        spark, spark.createDataFrame(tiny_corpus_pdf.iloc[half:]), d,
        num_segments=2,
    )
    s = LuceneSparkSearcher(spark, d)
    assert s.manifest["index_sort"]["field"] == "n_chars"  # sticky
    pdf = _stored_lengths(s)
    for _, g in pdf.groupby("segment_id"):
        v = g.sort_values("doc_id")["n_chars"].to_numpy()
        assert (np.diff(v) >= 0).all()
    hits = s.search_sorted(Term("return"), k=6)
    full = s.search(Term("return"), k=10_000, with_stored=True)
    ref = full.sort_values(["n_chars", "global_doc_id"], kind="mergesort").head(6)
    assert hits["global_doc_id"].tolist() == ref["global_doc_id"].tolist()


@pytest.mark.parametrize("desc", [False, True])
def test_merge_keeps_index_sort(spark, tmp_path, desc):
    """Merging a sorted index's segments — built and appended, so their
    value ranges overlap — writes one segment in (sort value, doc key)
    order, and search_sorted's per-segment early termination stays exact."""
    from lucene_solr_1_spark.corpus import make_corpus_pandas
    from lucene_solr_1_spark.index.merge import merge_down

    corpus = make_corpus_pandas(400)
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(corpus.iloc[:300]), d, num_segments=2,
                index_sort="n_chars", index_sort_desc=desc)
    add_documents(spark, spark.createDataFrame(corpus.iloc[300:]), d)
    merge_down(spark, d, target_segments=1)
    s = LuceneSparkSearcher(spark, d)
    (seg,) = s.manifest["segments"]
    docmap = _stored_lengths(s)
    assert len(docmap) == len(corpus)
    want = corpus.assign(n_chars=corpus["content"].str.len()).sort_values(
        ["n_chars", "repo", "path", "commit"],
        ascending=[not desc, True, True, True], kind="mergesort",
    )
    assert docmap["content"].tolist() == want["content"].tolist()
    hits = s.search_sorted(Term("return"), k=8)
    full = s.search(Term("return"), k=10_000, with_stored=True)
    ref = full.sort_values(["n_chars", "global_doc_id"],
                           ascending=[not desc, True], kind="mergesort").head(8)
    assert hits["path"].tolist() == ref["path"].tolist()


def test_sorted_desc(spark, tiny_corpus_pdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_sorted_desc"))
    build_index(
        spark, spark.createDataFrame(tiny_corpus_pdf), d, num_segments=3,
        index_sort="n_chars", index_sort_desc=True,
    )
    s = LuceneSparkSearcher(spark, d)
    pdf = _stored_lengths(s)
    for _, g in pdf.groupby("segment_id"):
        v = g.sort_values("doc_id")["n_chars"].to_numpy()
        assert (np.diff(v) <= 0).all()
    hits = s.search_sorted(Term("return"), k=5)
    full = s.search(Term("return"), k=10_000, with_stored=True)
    ref = full.sort_values(
        ["n_chars", "global_doc_id"], ascending=[False, True], kind="mergesort"
    ).head(5)
    assert hits["global_doc_id"].tolist() == ref["global_doc_id"].tolist()


def test_unsorted_search_unaffected(spark, tiny_corpus_pdf, tmp_path_factory):
    """search_sorted refuses on an unsorted index; default docID order
    is still the (repo, path, commit) doc-key order."""
    d = str(tmp_path_factory.mktemp("idx_unsorted"))
    build_index(spark, spark.createDataFrame(tiny_corpus_pdf), d, num_segments=3)
    s = LuceneSparkSearcher(spark, d)
    with pytest.raises(ValueError):
        s.search_sorted(Term("return"), k=5)
    ref = tiny_corpus_pdf.sort_values(["repo", "path", "commit"]).reset_index(
        drop=True
    )
    got = _docmap(s).select("segment_id", "doc_id", "path").toPandas()
    got["gid"] = got["segment_id"].map(s.doc_base) + got["doc_id"]
    got = got.sort_values("gid")
    assert got["path"].tolist() == ref["path"].tolist()


def test_payload_sort_follows_stored_length(spark, tmp_path, monkeypatch):
    """With store_payloads=True the sort value is the STORED n_chars (the
    content once its `tok|<float>` annotations are stripped), not the raw
    length: a flush and a merge of the same annotated docs give the same
    docID order, and it is the stored-n_chars order. A 2-segment build
    is cut by that value too, on the driver and on the Spark route, so
    its global order is the same."""
    from lucene_solr_1_spark.index import builder as B
    from lucene_solr_1_spark.index.merge import merge_down

    docs = pd.DataFrame({
        "repo": "r", "commit": "c", "lang": "python",
        "path": [f"p{i}.py" for i in range(6)],
        "content": ["aa|9.0 bb|9.0", "cccc dddd", "e|2.0 f|2.0 g|2.0 h|2.0",
                    "iiiiiii", "jj kk|3.5", "l m n o p"],
    })
    opts = {"index_sort": "n_chars", "store_payloads": True}
    flushed, merged = str(tmp_path / "flushed"), str(tmp_path / "merged")
    build_index(spark, spark.createDataFrame(docs), flushed, num_segments=1, **opts)
    build_index(spark, spark.createDataFrame(docs.iloc[:3]), merged, num_segments=1, **opts)
    add_documents(spark, spark.createDataFrame(docs.iloc[3:]), merged, num_segments=1)
    merge_down(spark, merged, target_segments=1)
    a = _stored_lengths(LuceneSparkSearcher(spark, flushed))
    b = _stored_lengths(LuceneSparkSearcher(spark, merged))
    assert a["content"].tolist() == b["content"].tolist()
    assert a["n_chars"].tolist() == [5, 5, 7, 7, 9, 9]
    # the raw lengths (13, 9, 23, 7, 9, 9) would order them differently
    assert a["content"].tolist() == ["aa bb", "jj kk", "e f g h", "iiiiiii",
                                     "cccc dddd", "l m n o p"]
    driver, spark_route = str(tmp_path / "driver2"), str(tmp_path / "spark2")
    build_index(spark, spark.createDataFrame(docs), driver, num_segments=2, **opts)
    monkeypatch.setattr(B, "MAX_DOCS_PER_FLUSH", 0)
    build_index(spark, spark.createDataFrame(docs), spark_route, num_segments=2, **opts)
    for d in (driver, spark_route):
        s = LuceneSparkSearcher(spark, d)
        assert len(s.doc_base) == 2
        got = _stored_lengths(s)
        assert got["n_chars"].tolist() == [5, 5, 7, 7, 9, 9]
        assert got["content"].tolist() == a["content"].tolist()
