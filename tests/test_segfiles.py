"""Driver-side segment-file reads (index/segfiles.py).

Term statistics, stored fields, delete-term pairs and real-time get are
read from the committed segment files without a Spark job. Each must
equal a Spark scan of the same files on every awkward index shape:
tombstones, a doc-values generation (`norms-g<N>.parquet`), merged
segments, and keys absent from every segment, read from a cold and
from a warm reader pool. Opening a searcher and running a cold one-slice
search launches no Spark job, and neither does delete_by_term. With the
pool warm they open only the files holding a hit, and a pooled file
replaced, deleted or squeezed out by the budget never serves stale rows.
"""

import os
import shutil
import sys
import threading
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lucene_solr_1_spark.corpus import make_corpus_pandas
from lucene_solr_1_spark.index import deletes as D
from lucene_solr_1_spark.index import manifest as mf
from lucene_solr_1_spark.index import segfiles
from lucene_solr_1_spark.index.builder import (
    add_documents, build_index, norms_paths, postings_paths, update_documents,
)
from lucene_solr_1_spark.kernels.analyzer import ENGLISH
from lucene_solr_1_spark.index.docvalues import update_numeric_docvalue
from lucene_solr_1_spark.index.merge import merge_down
from lucene_solr_1_spark.search import searcher as S
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


def _empty_pool() -> None:
    segfiles.evict(*list(segfiles._POOL.entries))


def _check_equivalent(spark, d, paths: list) -> LuceneSparkSearcher:
    """Every driver-side read equals its Spark scan, first from a cold
    reader pool, then from the pool those reads warmed."""
    _empty_pool()
    _check_reads(spark, d, paths)
    return _check_reads(spark, d, paths)


def _check_reads(spark, d, paths: list) -> LuceneSparkSearcher:
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

    # rollback to before the update, then a new update: the pool serves
    # each generation's own docmap, never a superseded norms-g<N>
    mf.rollback_to(d, m["generation"] - 1)
    s = _check_equivalent(spark, d, paths)
    hits = s.search(Term("python", field="lang"), k=5, with_stored=True)
    assert len(hits) and (hits["dl"] != 9999).all()
    update_numeric_docvalue(spark, d, term="python", field="dl", value=7777,
                            term_field="lang")
    s = _check_equivalent(spark, d, paths)
    hits = s.search(Term("python", field="lang"), k=5, with_stored=True)
    assert len(hits) and (hits["dl"] == 7777).all()

    # merged segments: postings and docmap are single files, like a flush's
    merge_down(spark, d, target_segments=1)
    m = mf.read_manifest(d)
    assert all(os.path.isfile(p) for p in postings_paths(d, m) + norms_paths(d, m))
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


def test_cold_search_and_delete_job_counts(spark, corpus, tmp_path, count_jobs,
                                           monkeypatch):
    d = str(tmp_path / "idx_jobs")
    build_index(spark, spark.createDataFrame(corpus.iloc[:40]), d, num_segments=2)
    path = corpus["path"].iloc[7]
    q = Term(path, field="path")
    with count_jobs() as jobs:
        hits = LuceneSparkSearcher(spark, d).search(q, k=1, with_stored=True)
    assert hits["path"].tolist() == [path]
    assert jobs == []
    # above the slice bound the same query goes through the Spark dispatch
    monkeypatch.setattr(S, "MAX_DOCS_PER_SLICE", 0)
    with count_jobs() as jobs:
        dispatched = LuceneSparkSearcher(spark, d).search(q, k=1, with_stored=True)
    assert jobs
    pd.testing.assert_frame_equal(dispatched, hits)
    with count_jobs() as jobs:
        D.delete_by_term(spark, d, path, field="path")
    assert jobs == []
    assert D.live_doc_count(d) == 39


def test_warm_pool_opens_only_hit_files(spark, corpus, tmp_path, count_file_opens):
    """With the reader pool warm, a second searcher's open plus a cold
    one-slice search opens only the hit segment's postings and docmap,
    each once and with the pooled footer; term statistics and a delete
    of an absent key open no file."""
    d = str(tmp_path / "idx_opens")
    build_index(spark, spark.createDataFrame(corpus.iloc[:40]), d, num_segments=2)
    D.delete_by_term(spark, d, corpus["path"].iloc[3], field="path")
    add_documents(spark, spark.createDataFrame(corpus.iloc[40:44]), d, num_segments=1)
    path = corpus["path"].iloc[7]
    q = Term(path, field="path")
    want = LuceneSparkSearcher(spark, d).search(q, k=1, with_stored=True)

    with count_file_opens() as opens:
        s = LuceneSparkSearcher(spark, d)
        hits = s.search(q, k=1, with_stored=True)
    pd.testing.assert_frame_equal(hits, want)
    sid = hits["segment_id"].iloc[0]
    m = {"segments": [seg for seg in s.manifest["segments"] if seg["segment_id"] == sid]}
    assert opens.files == Counter({postings_paths(d, m)[0]: 1, norms_paths(d, m)[0]: 1})
    assert not opens.footers  # no key-column load, no tombstone parse

    with count_file_opens() as opens:
        D.delete_by_term(spark, d, "no/such/file.py", field="path")
    assert not opens.files
    keys = {("content", "return"), ("path", path), ("lang", "python")}
    s = LuceneSparkSearcher(spark, d)
    with count_file_opens() as opens:
        s._term_stats(keys)
    assert not opens.files
    assert s._global_df(keys) == _spark_term_stats(spark, d, keys)[0]


def _reads(d: str, keys: set, doc_paths: list) -> list:
    """Every pooled read of index `d`: posting rows (pooled-only columns,
    which open no file, then heavy ones), docmap rows by (segment_id,
    doc_id) and by path, tombstones."""
    m = mf.read_manifest(d)
    pairs = pd.DataFrame({
        "segment_id": [seg["segment_id"] for seg in m["segments"] for _ in range(3)],
        "doc_id": [i for _ in m["segments"] for i in (0, 2, 99_999)],
    })
    return [
        segfiles.read_postings(d, m, keys, ["field", "term", "doc_freq", "ttf"]),
        segfiles.read_postings(d, m, keys, ["segment_id", "field", "term", "ttf",
                                            "docs_enc", "docs_offsets"]),
        segfiles.read_docmap(d, m, pairs, STORED),
        segfiles.read_docmap_by_path(d, m, doc_paths, STORED),
        D.read_tombstones(d, m),
    ]


def _assert_same_reads(got: list, want: list) -> None:
    for a, b in zip(got[:4], want[:4]):
        pd.testing.assert_frame_equal(a, b)
    assert got[4].keys() == want[4].keys()
    for sid in want[4]:
        np.testing.assert_array_equal(got[4][sid], want[4][sid])


def _scan_postings(d: str, keys: set) -> pd.DataFrame:
    """Reference: a plain pyarrow read of every postings file, filtered."""
    m = mf.read_manifest(d)
    rows = pd.concat(
        [pd.read_parquet(p, columns=["segment_id", "field", "term", "ttf"])
         for p in postings_paths(d, m)], ignore_index=True,
    )
    hit = [(f, t) in keys for f, t in zip(rows["field"], rows["term"])]
    return rows[hit].reset_index(drop=True)


@pytest.fixture
def pool_index(spark, corpus, tmp_path):
    """A 2-segment index with a tombstone, its lookup keys and paths."""
    d = str(tmp_path / "idx_pool")
    build_index(spark, spark.createDataFrame(corpus.iloc[:60]), d, num_segments=2)
    paths = corpus["path"].tolist()
    D.delete_by_term(spark, d, paths[5], field="path")
    keys = {("content", "return"), ("content", "class"), ("content", "if"),
            ("content", "zzz_absent"), ("lang", "python"), ("path", paths[1]),
            ("path", paths[70])}
    return d, keys, [paths[1], paths[2], paths[70]]


def test_pool_never_serves_a_replaced_file(spark, corpus, pool_index, tmp_path):
    d, keys, doc_paths = pool_index
    before = _reads(d, keys, doc_paths)
    # os.replace: every segment file of `d` becomes another index's file
    # (new inode, no in-process eviction: the stat key catches it)
    other = str(tmp_path / "idx_other")
    build_index(spark, spark.createDataFrame(corpus.iloc[60:120]), other, num_segments=2)
    D.delete_by_term(spark, other, corpus["path"].iloc[61], field="path")

    def files(idx: str) -> list:
        m = mf.read_manifest(idx)
        tombs = [os.path.join(idx, rel) for rel in m["tombstone_files"]]
        return postings_paths(idx, m) + norms_paths(idx, m) + tombs

    for src, dst in zip(files(other), files(d)):
        shutil.copyfile(src, dst + ".tmp")
        os.replace(dst + ".tmp", dst)
    warm = _reads(d, keys, doc_paths)
    _empty_pool()
    cold = _reads(d, keys, doc_paths)
    _assert_same_reads(warm, cold)
    assert not warm[1]["segment_id"].isin(before[1]["segment_id"]).any()
    assert list(warm[4]) == [mf.read_manifest(other)["segments"][0]["segment_id"]]
    assert set(warm[3]["path"]) == {doc_paths[2]}

    # rmtree and an in-process rebuild of the same docs with another
    # analyzer: the same segment ids (same content), so the same paths;
    # ENGLISH drops the stop word "if"
    assert ("content", "if") in set(zip(before[1]["field"], before[1]["term"]))
    shutil.rmtree(d)
    build_index(spark, spark.createDataFrame(corpus.iloc[:60]), d, num_segments=2, cfg=ENGLISH)
    warm = _reads(d, keys, doc_paths)
    assert set(warm[1]["segment_id"]) <= set(before[1]["segment_id"])
    pd.testing.assert_frame_equal(
        warm[1][["segment_id", "field", "term", "ttf"]], _scan_postings(d, keys)
    )
    assert ("content", "if") not in set(zip(warm[0]["field"], warm[0]["term"]))
    assert warm[4] == {}
    _empty_pool()
    _assert_same_reads(warm, _reads(d, keys, doc_paths))


def test_pool_deleted_file_raises_and_leaves_the_pool(pool_index):
    d, keys, doc_paths = pool_index
    _reads(d, keys, doc_paths)
    m = mf.read_manifest(d)
    gone = postings_paths(d, m)[1]
    assert gone in segfiles._POOL.entries
    os.remove(gone)
    with pytest.raises(FileNotFoundError):
        segfiles.read_postings(d, m, keys, ["field", "term", "doc_freq", "ttf"])
    assert gone not in segfiles._POOL.entries
    tomb = os.path.join(d, m["tombstone_files"][0])
    os.remove(tomb)
    with pytest.raises(FileNotFoundError):
        D.read_tombstones(d, m)
    assert tomb not in segfiles._POOL.entries


def test_pool_budget_changes_no_result(pool_index, monkeypatch):
    d, keys, doc_paths = pool_index
    _empty_pool()
    want = _reads(d, keys, doc_paths)
    sizes = sorted(e.nbytes for e in segfiles._POOL.entries.values())
    # nothing fits; then only the smaller entries fit, so LRU evicts
    for budget in (4096, sizes[-1] - 1):
        monkeypatch.setattr(segfiles, "POOL_BYTES", budget)
        _empty_pool()
        for _ in range(2):
            _assert_same_reads(_reads(d, keys, doc_paths), want)
            assert segfiles._POOL.nbytes <= budget
            assert segfiles._POOL.nbytes == sum(e.nbytes for e in segfiles._POOL.entries.values())
    assert len(segfiles._POOL.entries) < len(sizes)


def test_pool_threads_read_what_one_thread_reads(pool_index):
    """8 threads (more than the host's cores) loading and reading the same
    files at once, with a short switch interval, read what one thread
    reads, and the pool's byte count equals the sum of its entries (a
    lost update would break it)."""
    d, keys, doc_paths = pool_index
    _empty_pool()
    want = _reads(d, keys, doc_paths)
    _empty_pool()
    start = threading.Barrier(8, timeout=60)

    def read(_):
        start.wait()
        return [_reads(d, keys, doc_paths) for _ in range(3)]

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as ex:
            futures = [ex.submit(read, i) for i in range(8)]
            results = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    for got in (r for rs in results for r in rs):
        _assert_same_reads(got, want)
    assert segfiles._POOL.nbytes == sum(e.nbytes for e in segfiles._POOL.entries.values())
