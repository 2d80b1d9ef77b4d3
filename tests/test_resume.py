"""Resumable build from per-partition checkpoints (FIXTURES.md §5 resume;
north_rule: resumable from checkpoint with per-partition lineage+metrics).

Each check runs on both flush routes: the 64-doc corpus fits the driver
flush by default, and the `_spark_route` tests force the Spark build (tasks,
a failed job, killed siblings) by monkeypatching MAX_DOCS_PER_FLUSH to -1."""

import glob
import os

import pytest

from lucene_solr_1_spark.index import builder
from lucene_solr_1_spark.index import manifest as mf
from lucene_solr_1_spark.index.builder import build_index
from lucene_solr_1_spark.search.query import Term
from lucene_solr_1_spark.search.searcher import LuceneSparkSearcher


def _force_spark_route(monkeypatch):
    monkeypatch.setattr(builder, "MAX_DOCS_PER_FLUSH", -1)


def _check_resume_after_partial_failure(spark, tiny_corpus_pdf, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("idx_resume"))
    df = spark.createDataFrame(tiny_corpus_pdf)

    # first attempt: partitions 5,6,7 fail ⇒ job fails, no manifest commit,
    # but successful partitions left their segment checkpoints behind
    with pytest.raises(Exception):
        build_index(
            spark, df, index_dir, num_segments=8, fail_partitions={5, 6, 7}
        )
    assert mf.read_manifest(index_dir) is None  # two-phase commit held
    # NOTE: tasks killed by the job abort may still complete their atomic
    # checkpoint write shortly after the driver returns, so the exact count
    # here is racey — only the lower bound and the reuse contract are firm
    n_checkpoints = len(glob.glob(os.path.join(index_dir, "segments", "*", "meta.json")))
    assert n_checkpoints <= 7  # the failing partitions never checkpoint

    # re-run without failures: completed partitions are REUSED, not rebuilt
    manifest = build_index(spark, df, index_dir, num_segments=8)
    reused = [s for s in manifest["segments"] if s["reused"]]
    built = [s for s in manifest["segments"] if not s["reused"]]
    assert len(reused) >= max(n_checkpoints, 1)  # every checkpoint reused
    assert len(built) >= 3  # the 3 failure-injected partitions were rebuilt
    assert len(reused) + len(built) == 8

    # uninterrupted reference build elsewhere must be equivalent
    ref_dir = str(tmp_path_factory.mktemp("idx_ref"))
    ref = build_index(spark, df, ref_dir, num_segments=8)
    assert manifest["doc_count"] == ref["doc_count"]
    assert manifest["sum_ttf"] == ref["sum_ttf"]
    a = {s["segment_id"]: s["input_fingerprint"] for s in manifest["segments"]}
    b = {s["segment_id"]: s["input_fingerprint"] for s in ref["segments"]}
    assert a == b

    ha = LuceneSparkSearcher(spark, index_dir).search(Term("return"), k=10)
    hb = LuceneSparkSearcher(spark, ref_dir).search(Term("return"), k=10)
    assert ha["global_doc_id"].tolist() == hb["global_doc_id"].tolist()
    assert ha["score"].tolist() == hb["score"].tolist()


def _check_full_rerun_reuses_everything(spark, tiny_corpus_pdf, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("idx_rerun"))
    df = spark.createDataFrame(tiny_corpus_pdf)
    m1 = build_index(spark, df, index_dir, num_segments=4)
    m2 = build_index(spark, df, index_dir, num_segments=4)
    assert m2["generation"] == m1["generation"] + 1
    assert all(s["reused"] for s in m2["segments"])
    assert [s["segment_id"] for s in m2["segments"]] == [
        s["segment_id"] for s in m1["segments"]
    ]


def test_resume_after_partial_failure(spark, tiny_corpus_pdf, tmp_path_factory):
    _check_resume_after_partial_failure(spark, tiny_corpus_pdf, tmp_path_factory)


def test_resume_after_partial_failure_spark_route(
    spark, tiny_corpus_pdf, tmp_path_factory, monkeypatch
):
    _force_spark_route(monkeypatch)
    _check_resume_after_partial_failure(spark, tiny_corpus_pdf, tmp_path_factory)


def test_full_rerun_reuses_everything(spark, tiny_corpus_pdf, tmp_path_factory):
    _check_full_rerun_reuses_everything(spark, tiny_corpus_pdf, tmp_path_factory)


def test_full_rerun_reuses_everything_spark_route(
    spark, tiny_corpus_pdf, tmp_path_factory, monkeypatch
):
    _force_spark_route(monkeypatch)
    _check_full_rerun_reuses_everything(spark, tiny_corpus_pdf, tmp_path_factory)
