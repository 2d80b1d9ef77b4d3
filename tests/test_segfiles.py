"""Driver-side segment-file reads (index/segfiles.py).

Term statistics, stored fields, delete-term pairs and real-time get are
read from the committed segment files without a Spark job. Each must
equal a Spark scan of the same files on every awkward index shape:
tombstones, a doc-values generation (`norms-g<N>.parquet`), merged
segments written as a directory of part files, and keys absent from
every segment. A cold search launches at most 2 Spark jobs and
delete_by_term none.
"""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lucene_solr_1_spark.corpus import make_corpus_pandas
from lucene_solr_1_spark.index import deletes as D
from lucene_solr_1_spark.index import manifest as mf
from lucene_solr_1_spark.index.builder import (
    build_index, norms_paths, postings_paths, update_documents,
)
from lucene_solr_1_spark.index.docvalues import update_numeric_docvalue
from lucene_solr_1_spark.index.merge import merge_down
from lucene_solr_1_spark.search.query import Term
from lucene_solr_1_spark.search.searcher import LuceneSparkSearcher

STORED = ["segment_id", "doc_id", "repo", "path", "commit", "lang", "dl",
          "n_chars", "content"]


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values(["segment_id", "doc_id"]).reset_index(drop=True)


def _spark_term_stats(spark, d, keys) -> tuple[dict, dict]:
    """Reference: the Spark aggregation over the postings scan."""
    m = mf.read_manifest(d)
    rows = (
        spark.read.parquet(*postings_paths(d, m))
        .groupBy("field", "term")
        .agg(F.sum("doc_freq").alias("df"), F.sum("ttf").alias("ttf"))
        .collect()
    )
    found = {(r["field"], r["term"]): r for r in rows}
    df = {k: int(found[k]["df"]) if k in found else 0 for k in keys}
    ttf = {k: int(found[k]["ttf"]) if k in found else 0 for k in keys}
    return df, ttf


def _spark_stored(spark, d, pairs: pd.DataFrame) -> pd.DataFrame:
    """Reference: the broadcast join of the hit pairs against the docmap."""
    m = mf.read_manifest(d)
    return (
        spark.read.parquet(*norms_paths(d, m))
        .join(F.broadcast(spark.createDataFrame(pairs)), on=["segment_id", "doc_id"])
        .select(*STORED)
        .toPandas()
    )


def _spark_pairs(spark, d, field: str, terms: tuple) -> pd.DataFrame:
    """Reference: docmap rows whose keyword `field` is one of `terms` (a
    keyword term's postings are exactly these docs)."""
    m = mf.read_manifest(d)
    return (
        spark.read.parquet(*norms_paths(d, m))
        .where(F.col(field).isin(list(terms)))
        .select("segment_id", "doc_id")
        .toPandas()
    )


def _check_equivalent(spark, d, paths: list) -> LuceneSparkSearcher:
    s = LuceneSparkSearcher(spark, d)
    keys = {
        ("content", "return"), ("content", "class"), ("content", "zzz_absent"),
        ("lang", "python"), ("path", paths[0]), ("path", "no/such/file.py"),
    }
    want_df, want_ttf = _spark_term_stats(spark, d, keys)
    assert s._global_df(keys) == want_df
    assert s._global_ttf(keys) == want_ttf
    assert want_df[("content", "zzz_absent")] == 0

    hits = s.search(Term("return"), k=25, with_stored=False)
    assert len(hits)
    pairs = hits[["segment_id", "doc_id"]]
    got = s._fetch_stored(hits)
    assert list(got.columns) == STORED
    pd.testing.assert_frame_equal(_sorted(got), _sorted(_spark_stored(spark, d, pairs)))

    for field, terms in (("lang", ("python", "go")), ("path", tuple(paths[:3]))):
        got = D.pairs_for_terms(d, s.manifest, field, terms)
        pd.testing.assert_frame_equal(_sorted(got), _sorted(_spark_pairs(spark, d, field, terms)))
    none = D.pairs_for_terms(d, s.manifest, "lang", ("cobol",))
    assert len(none) == 0
    assert none.dtypes.to_dict() == {"segment_id": np.dtype(object), "doc_id": np.dtype("int64")}

    want = _spark_stored(spark, d, _spark_pairs(spark, d, "path", tuple(paths[:3])))
    dead = {(sid, int(doc)) for sid, docs in s.tombstones.items() for doc in docs}
    want = want[[(sid, doc) not in dead for sid, doc in zip(want["segment_id"], want["doc_id"])]]
    got = s.get_documents(tuple(paths[:3]) + ("no/such/file.py",))
    pd.testing.assert_frame_equal(
        got, want.sort_values(["path", "segment_id"]).reset_index(drop=True)
    )
    return s


@pytest.fixture(scope="module")
def corpus():
    return make_corpus_pandas(150)


def test_reads_match_spark_scan_on_every_index_shape(spark, corpus, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(corpus), d, num_segments=3)
    paths = corpus["path"].tolist()
    _check_equivalent(spark, d, paths)

    # tombstones: the deleted doc stays in stats and pairs, not in get
    D.delete_by_term(spark, d, paths[1], field="path")
    s = _check_equivalent(spark, d, paths)
    assert sum(len(v) for v in s.tombstones.values()) == 1
    assert paths[1] not in set(s.get_documents((paths[1],))["path"])

    # doc-values generation: stored dl comes from the live norms-g<N> file
    update_numeric_docvalue(spark, d, term="python", field="dl", value=9999,
                            term_field="lang")
    m = mf.read_manifest(d)
    assert any(seg.get("norms_file", "").startswith("norms-g") for seg in m["segments"])
    s = _check_equivalent(spark, d, paths)
    hits = s.search(Term("python", field="lang"), k=5, with_stored=True)
    assert len(hits) and (hits["dl"] == 9999).all()

    # merged segments: postings and docmap are directories of part files
    merge_down(spark, d, target_segments=1)
    m = mf.read_manifest(d)
    assert all(os.path.isdir(p) for p in postings_paths(d, m) + norms_paths(d, m))
    _check_equivalent(spark, d, paths)


def test_update_documents_replaces_by_key(spark, corpus, tmp_path):
    d = str(tmp_path / "idx_upd")
    build_index(spark, spark.createDataFrame(corpus.iloc[:60]), d, num_segments=2)
    new = corpus.iloc[[4, 9]].assign(content="fresh_marker_token body")
    update_documents(spark, spark.createDataFrame(new), d, key_field="path")
    s = _check_equivalent(spark, d, new["path"].tolist() + [corpus["path"].iloc[0]])
    assert sum(len(v) for v in s.tombstones.values()) == 2
    got = s.get_documents(tuple(new["path"]))
    assert got["content"].tolist() == ["fresh_marker_token body"] * 2
    hits = s.search(Term("fresh_marker_token"), k=5, with_stored=True)
    assert sorted(hits["path"]) == sorted(new["path"])


def test_cold_search_and_delete_job_counts(spark, corpus, tmp_path, count_jobs):
    d = str(tmp_path / "idx_jobs")
    build_index(spark, spark.createDataFrame(corpus.iloc[:40]), d, num_segments=2)
    path = corpus["path"].iloc[7]
    s = LuceneSparkSearcher(spark, d)
    with count_jobs() as jobs:
        hits = s.search(Term(path, field="path"), k=1, with_stored=True)
    assert hits["path"].tolist() == [path]
    assert len(jobs) <= 2, jobs
    with count_jobs() as jobs:
        D.delete_by_term(spark, d, path, field="path")
    assert jobs == []
    assert D.live_doc_count(d) == 39
