"""Tiered merge tests: stats preserved, top-k invariant, docIDs stable
(FIXTURES.md §5 merge invariance; SegmentMerger/TieredMergePolicy analogs)."""

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from lucene_solr_1_spark.corpus import make_corpus_pandas
from lucene_solr_1_spark.index import manifest as mf
from lucene_solr_1_spark.index.builder import build_index
from lucene_solr_1_spark.index.check import check_index
from lucene_solr_1_spark.index.merge import find_merges, merge_down, merge_once
from lucene_solr_1_spark.search.query import Bool, Occur, Phrase, SpanNear, Term
from lucene_solr_1_spark.search.searcher import LuceneSparkSearcher


def test_find_merges_policy():
    manifest = {
        "segments": [
            {"segment_id": f"s{i}", "partition_id": i, "doc_count": 10}
            for i in range(25)
        ]
    }
    groups = find_merges(manifest, target_segments=10)
    merged_away = sum(len(g) - 1 for g in groups)
    assert 25 - merged_away <= 10
    for g in groups:
        assert 2 <= len(g) <= 10
    # groups must be contiguous in partition order and disjoint
    seen = set()
    for g in groups:
        ids = sorted(int(s[1:]) for s in g)
        assert ids == list(range(ids[0], ids[-1] + 1))
        assert not (set(ids) & seen)
        seen |= set(ids)


def test_merge_preserves_results(spark, small_corpus_pdf, tmp_path_factory):
    df = spark.createDataFrame(small_corpus_pdf)
    d = str(tmp_path_factory.mktemp("idx_m"))
    m0 = build_index(spark, df, d, num_segments=8)
    s0 = LuceneSparkSearcher(spark, d)
    queries = [
        Term("return"),
        Bool.of((Occur.MUST, Term("return")), (Occur.SHOULD, Term("class")),
                (Occur.MUST_NOT, Term("id_0003"))),
        Phrase(("beta", "gamma")),
        # multi-field + positional invariants through the bucketed merge:
        # keyword postings and re-encoded position streams must survive
        Term("python", field="lang"),
        Bool.of((Occur.MUST, Term("return")),
                (Occur.FILTER, Term("java", field="lang"))),
        SpanNear(("public", "static"), slop=3),
    ]
    before = [s0.search(q, k=20, with_stored=False) for q in queries]

    m1 = merge_down(spark, d, target_segments=2)
    assert len(m1["segments"]) <= 2
    assert m1["doc_count"] == m0["doc_count"]
    assert m1["sum_ttf"] == m0["sum_ttf"]

    s1 = LuceneSparkSearcher(spark, d)
    after = [s1.search(q, k=20, with_stored=False) for q in queries]
    for b, a in zip(before, after):
        # global docIDs and float32 scores must be bit-identical post-merge
        np.testing.assert_array_equal(
            b["global_doc_id"].to_numpy(), a["global_doc_id"].to_numpy()
        )
        np.testing.assert_array_equal(b["score"].to_numpy(), a["score"].to_numpy())
        assert b.attrs["total_hits"] == a.attrs["total_hits"]

    # WAND still equals exhaustive on the merged (multi-block) index
    aw = s1.search(Term("return"), k=15, use_wand=True, with_stored=False)
    ae = s1.search(Term("return"), k=15, use_wand=False, with_stored=False)
    np.testing.assert_array_equal(
        aw["global_doc_id"].to_numpy(), ae["global_doc_id"].to_numpy()
    )
    np.testing.assert_array_equal(aw["score"].to_numpy(), ae["score"].to_numpy())


def test_merge_global_df_consistent(spark, small_corpus_pdf, tmp_path_factory):
    df = spark.createDataFrame(small_corpus_pdf)
    d = str(tmp_path_factory.mktemp("idx_df"))
    build_index(spark, df, d, num_segments=8)
    s0 = LuceneSparkSearcher(spark, d)
    keys = {("content", t) for t in ("return", "class", "id_0001")}
    df_before = s0._global_df(keys)
    merge_down(spark, d, target_segments=1)
    s1 = LuceneSparkSearcher(spark, d)
    assert len(s1.manifest["segments"]) == 1
    assert s1._global_df(keys) == df_before


def test_concurrent_merge_matches_sequential(spark, tmp_path_factory):
    """merge_down(concurrent=True) — the ConcurrentMergeScheduler analog —
    produces the same live set, stats and rankings as sequential merging."""
    pdf = make_corpus_pandas(300)
    outs = []
    for conc in (False, True):
        d = str(tmp_path_factory.mktemp(f"idx_cm_{conc}"))
        build_index(spark, spark.createDataFrame(pdf), d, num_segments=16)
        m = merge_down(spark, d, target_segments=4, concurrent=conc)
        assert len(m["segments"]) <= 4
        assert check_index(spark, d)["errors"] == []
        s = LuceneSparkSearcher(spark, d)
        h = s.search(Term("return"), k=20, with_stored=False)
        outs.append(
            (m["doc_count"], m["sum_ttf"],
             h["global_doc_id"].tolist(), h["score"].tolist())
        )
    assert outs[0] == outs[1]


def _frame_rows(pdf: pd.DataFrame) -> dict:
    """Columns as plain lists (array cells as lists) for exact comparison."""
    return {
        c: [v.tolist() if isinstance(v, np.ndarray) else v for v in pdf[c]]
        for c in pdf.columns
    }


@pytest.mark.parametrize("shape", ["plain", "reclaim", "offsets"])
def test_merged_segment_matches_fresh_build(spark, tmp_path, shape):
    """SegmentMerger's contract: a merged segment's postings and docmap
    equal build_segment_frames of its live documents in merged docID order
    (input segments in partition order, each in docID order, tombstones
    dropped) — row for row, blocks and impacts included. `reclaim` masks
    random tombstones out of the doc, position and norm streams; every
    shape merges terms held by one input segment and terms held by many."""
    from lucene_solr_1_spark.index import deletes as D
    from lucene_solr_1_spark.index.builder import _CORPUS_COLUMNS
    from lucene_solr_1_spark.index.segment import build_segment_frames

    corpus = make_corpus_pandas(240)
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(corpus), d, num_segments=6,
                store_offsets=shape == "offsets")
    if shape == "reclaim":
        rng = np.random.default_rng(11)
        for path in rng.choice(corpus["path"].to_numpy(), size=30, replace=False):
            D.delete_by_term(spark, d, path, field="path")
    m = mf.read_manifest(d)
    segs = sorted(m["segments"], key=lambda s: s["partition_id"])
    tombs = D.read_tombstones(d, m)
    live, held_by = [], {}
    for s in segs:
        seg_dir = mf.segment_dir(d, s["segment_id"])
        docs = pq.read_table(f"{seg_dir}/norms.parquet").to_pandas().sort_values("doc_id")
        live.append(docs[~docs["doc_id"].isin(tombs.get(s["segment_id"], []))])
        keys = pq.read_table(f"{seg_dir}/postings.parquet", columns=["field", "term"])
        for key in zip(*keys.to_pydict().values()):
            held_by[key] = held_by.get(key, 0) + 1
    assert sum(len(t) for t in tombs.values()) == (30 if shape == "reclaim" else 0)
    assert 1 in held_by.values() and max(held_by.values()) == len(segs)
    want_postings, want_docmap, stats = build_segment_frames(
        pd.concat(live)[_CORPUS_COLUMNS].reset_index(drop=True),
        store_offsets=shape == "offsets", presorted=True,
    )

    merged = merge_down(spark, d, target_segments=1,
                        reclaim_deletes=shape == "reclaim")
    (seg,) = merged["segments"]
    seg_dir = mf.segment_dir(d, seg["segment_id"])
    for name, want in (("postings", want_postings), ("norms", want_docmap)):
        got = pq.read_table(f"{seg_dir}/{name}.parquet").to_pandas()
        assert set(got["segment_id"]) <= {seg["segment_id"]}
        assert _frame_rows(got.drop(columns="segment_id")) == _frame_rows(want), name
    for k in ("doc_count", "sum_ttf", "distinct_terms", "total_postings"):
        assert seg[k] == stats[k], k
    assert json.loads(seg["field_stats"]) == stats["field_stats"]
    assert seg["segment_id"] not in D.read_tombstones(d, merged)


def test_merge_is_byte_reproducible(spark, tmp_path):
    """Merging one snapshot twice writes the same bytes: one file per
    table, written from the same frames."""
    src = tmp_path / "src"
    build_index(spark, spark.createDataFrame(make_corpus_pandas(200)), str(src),
                num_segments=6)
    digests = []
    for name in ("a", "b"):
        d = tmp_path / name
        shutil.copytree(src, d)
        (seg,) = merge_down(spark, str(d), target_segments=1)["segments"]
        seg_dir = mf.segment_dir(str(d), seg["segment_id"])
        digests.append({
            f: hashlib.sha256(open(os.path.join(seg_dir, f), "rb").read()).hexdigest()
            for f in ("postings.parquet", "norms.parquet")
        })
    assert digests[0] == digests[1]


def _commit(d: str, generation: int) -> dict:
    with open(os.path.join(d, f"manifest-{generation}.json")) as fh:
        return json.load(fh)


def test_merge_job_and_commit_counts(spark, tmp_path, count_jobs):
    """A merge round runs ONE Spark job — one task per group, no shuffle:
    concurrent=True publishes the round as one generation, concurrent=False
    publishes (and runs) each group on its own, and merge_once is one job
    and one generation."""
    pdf = make_corpus_pandas(180)
    for concurrent in (True, False):
        d = str(tmp_path / f"idx_{concurrent}")
        m0 = build_index(spark, spark.createDataFrame(pdf), d, num_segments=12)
        groups = find_merges(m0, target_segments=2)
        assert len(groups) >= 2
        with count_jobs() as jobs:
            m = merge_down(spark, d, target_segments=2, concurrent=concurrent)
        assert len(m["segments"]) <= 2
        commits = [_commit(d, g) for g in range(m0["generation"] + 1, m["generation"] + 1)]
        assert len(jobs) == len(commits)
        if concurrent:
            assert len(commits[0]["merge"]) == len(groups)
        else:
            assert len(commits) >= len(groups)
            assert all(len(c["merge"]) == 1 for c in commits)
        assert check_index(spark, d)["errors"] == []

    d = str(tmp_path / "idx_once")
    m0 = build_index(spark, spark.createDataFrame(pdf), d, num_segments=4)
    with count_jobs() as jobs:
        m = merge_once(spark, d, [s["segment_id"] for s in m0["segments"][:2]])
    assert len(jobs) == 1
    assert m["generation"] == m0["generation"] + 1
    assert len(m["segments"]) == 3
