"""Small in-memory writes flush on the driver (index/builder.py `_flush`):
the same segment files and manifest rows as the Spark route, and no Spark
job. The Spark route is forced by monkeypatching MAX_DOCS_PER_FLUSH to -1."""

import json
import os
import shutil

import pandas as pd
import pytest

from lucene_solr_1_spark.corpus import CORPUS_DDL, make_corpus_pandas
from lucene_solr_1_spark.index import builder as B
from lucene_solr_1_spark.index import manifest as mf
from lucene_solr_1_spark.index.deletes import read_tombstones
from lucene_solr_1_spark.search.searcher import LuceneSparkSearcher


def _segment_files(index_dir: str) -> dict:
    """{segment_id/file: bytes} of every parquet file under segments/."""
    root = mf.segments_dir(index_dir)
    out = {}
    for sid in sorted(os.listdir(root)):
        for name in sorted(os.listdir(os.path.join(root, sid))):
            if name.endswith(".parquet"):
                with open(os.path.join(root, sid, name), "rb") as f:
                    out[f"{sid}/{name}"] = f.read()
    return out


def _segment_rows(manifest: dict) -> list[str]:
    """The manifest's segment rows as JSON, without the build wall time."""
    return [
        json.dumps({k: v for k, v in s.items() if k != "build_wall_s"}, sort_keys=True)
        for s in manifest["segments"]
    ]


def _on_spark(monkeypatch) -> None:
    monkeypatch.setattr(B, "MAX_DOCS_PER_FLUSH", -1)


def _corpus(n: int, start: int = 0, payloads: bool = False) -> pd.DataFrame:
    pdf = make_corpus_pandas(n, start=start)
    if payloads:
        pdf["content"] = pdf["content"].str.replace(" ", "|2.5 ", n=3)
    return pdf


@pytest.mark.parametrize("options", [
    {},
    {"store_offsets": True},
    {"store_payloads": True},
    {"index_sort": "n_chars"},
    {"index_sort": "n_chars", "index_sort_desc": True},
], ids=["plain", "offsets", "payloads", "sorted", "sorted_desc"])
def test_append_writes_identical_segments(spark, tmp_path, monkeypatch, options):
    payloads = bool(options.get("store_payloads"))
    base = str(tmp_path / "base")
    B.build_index(spark, spark.createDataFrame(_corpus(24, payloads=payloads)),
                  base, num_segments=2, **options)
    extra = _corpus(4, start=500, payloads=payloads)
    out = {}
    for route in ("driver", "spark"):
        d = str(tmp_path / route)
        shutil.copytree(base, d)
        with monkeypatch.context() as m:
            if route == "spark":
                _on_spark(m)
            out[route] = B.add_documents(spark, spark.createDataFrame(extra), d,
                                         num_segments=1)
        out[route + "_files"] = _segment_files(d)
    assert out["driver"]["doc_count"] == 28
    assert out["driver_files"] == out["spark_files"]
    assert _segment_rows(out["driver"]) == _segment_rows(out["spark"])
    assert {k: v for k, v in out["driver"].items()
            if k not in ("segments", "committed_at")} == {
        k: v for k, v in out["spark"].items()
        if k not in ("segments", "committed_at")}


@pytest.mark.parametrize("n_rows,num_segments,options", [
    (0, 4, {}), (1, 4, {}), (2, 4, {}), (5, 4, {}), (6, 4, {}), (10, 6, {}),
    (16, 2, {}), (16, 4, {}),
    (10, 3, {"index_sort": "n_chars"}),
    (10, 3, {"index_sort": "n_chars", "index_sort_desc": True}),
])
def test_build_cuts_the_ranges_spark_cuts(spark, tmp_path, monkeypatch,
                                          n_rows, num_segments, options):
    """The driver route's ranges are repartitionByRange's: the same
    per-segment doc counts, partition ids and fingerprints, also where an
    even split would differ ((6, 4) is [2, 1, 2, 1]), on a sorted index
    (the range key leads with the content length) and for an empty frame
    (one empty segment)."""
    pdf = _corpus(n_rows)
    out = {}
    for route in ("driver", "spark"):
        with monkeypatch.context() as m:
            if route == "spark":
                _on_spark(m)
            man = B.build_index(
                spark, spark.createDataFrame(pdf, schema=CORPUS_DDL),
                str(tmp_path / route), num_segments=num_segments, **options,
            )
        out[route] = [(s["partition_id"], s["doc_count"], s["segment_id"])
                      for s in man["segments"]]
    assert out["driver"] == out["spark"]
    assert sum(c for _, c, _ in out["driver"]) == n_rows


def test_small_writes_run_no_spark_job(spark, tmp_path, count_jobs):
    d = str(tmp_path / "idx")
    B.build_index(spark, spark.createDataFrame(_corpus(40)), d, num_segments=2)
    with count_jobs() as jobs:
        m = B.add_documents(spark, spark.createDataFrame(_corpus(4, start=900)), d,
                            num_segments=2)
    assert len(jobs) == 0
    assert m["doc_count"] == 44

    upd = _corpus(2, start=3)
    upd["content"] = ["zzflushone here", "zzflushtwo here"]
    with count_jobs() as jobs:
        m = B.update_documents(spark, spark.createDataFrame(upd), d, key_field="path")
    assert len(jobs) == 0
    assert m["doc_count"] == 46  # replaced docs stay counted until a merge
    assert sum(len(v) for v in read_tombstones(d, m).values()) == 2

    path = upd["path"].iloc[0]
    with count_jobs() as jobs:
        m = B.atomic_update(spark, d, path, {"lang": "fr"})
    assert len(jobs) == 0
    got = LuceneSparkSearcher(spark, d).get_documents((path,))
    assert got["lang"].tolist() == ["fr"]
    assert got["content"].tolist() == ["zzflushone here"]


def test_non_local_frame_takes_the_spark_route(spark, tmp_path, count_jobs):
    extra = _corpus(4, start=700)
    src = str(tmp_path / "extra.parquet")
    spark.createDataFrame(extra).write.parquet(src)
    read_back = spark.read.parquet(src)
    assert B._driver_rows(read_back) is None
    assert B._driver_rows(spark.createDataFrame(extra)) is not None

    base = str(tmp_path / "base")
    B.build_index(spark, spark.createDataFrame(_corpus(24)), base, num_segments=2)
    files = {}
    for name, frame in (("local", spark.createDataFrame(extra)), ("parquet", read_back)):
        d = str(tmp_path / name)
        shutil.copytree(base, d)
        with count_jobs() as jobs:
            B.add_documents(spark, frame, d, num_segments=1)
        assert (len(jobs) > 0) == (name == "parquet")
        files[name] = _segment_files(d)
    assert files["local"] == files["parquet"]
