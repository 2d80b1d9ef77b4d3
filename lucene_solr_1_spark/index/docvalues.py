"""Numeric doc-values updates without re-indexing.

IndexWriter.updateNumericDocValue(Term, field, value) analog
(lucene/core/src/java/org/apache/lucene/index/IndexWriter.java
updateNumericDocValue; ReadersAndUpdates.java writeFieldUpdates — Lucene
republishes the field's doc-values for the whole segment as a NEW
per-generation .dvd/.dvm file pair and the SegmentCommitInfo points at
the live generation). Here the segment docmap (norms.parquet) IS the
doc-values store, so an update rewrites each AFFECTED segment's docmap
to a new `norms-g<generation>.parquet` — copy-on-write, distributed
(one Arrow batch per segment, the same granularity the builder writes
at) — and a new manifest generation points at it. Readers switch
atomically; prior generations stay on disk for listCommits/rollback;
a later merge reads the live generation and bakes the updates into the
merged segment, exactly like Lucene's merge policy does with pending
doc-values updates.

Scoring norms are NOT touched (matching Lucene: doc-values updates never
change the ranking norms baked into postings) — only the doc-values
channels (NumericRange / NumericSet / FunctionScore / Covering /
field-sort exports) see the new values.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession, functions as F

from ..search.query import NUMERIC_DOCVALUES
from . import deletes as dels
from . import manifest as mf
from .builder import _NORMS_FILE, _write_parquet, norms_paths


def update_numeric_docvalue(
    spark: SparkSession,
    index_dir: str,
    term: str,
    field: str,
    value: float,
    term_field: str = "lang",
) -> dict:
    """Set doc-values `field` to `value` for every live doc whose keyword
    `term_field` contains `term` — one atomic manifest generation."""
    if field not in NUMERIC_DOCVALUES:
        raise ValueError(
            f"unknown numeric doc-values field {field!r}; "
            f"available: {NUMERIC_DOCVALUES}"
        )
    manifest = mf.read_manifest(index_dir)
    pairs = dels.pairs_for_terms(index_dir, manifest, term_field, (term,))
    if len(pairs) == 0:
        return manifest
    affected = set(pairs["segment_id"])
    gen = int(manifest["generation"]) + 1
    seg_by_id = {s["segment_id"]: s for s in manifest["segments"]}
    paths = [
        os.path.join(
            mf.segment_dir(index_dir, sid),
            seg_by_id[sid].get("norms_file", _NORMS_FILE),
        )
        for sid in sorted(affected)
    ]
    norms = spark.read.parquet(*paths)
    upd = spark.createDataFrame(pairs.assign(_dv_upd=True))
    out = (
        norms.join(F.broadcast(upd), ["segment_id", "doc_id"], "left")
        .withColumn(
            field,
            F.when(F.col("_dv_upd"), F.lit(value).cast("long")).otherwise(
                F.col(field)
            ),
        )
        .drop("_dv_upd")
        .select(*norms.columns)
    )
    new_name = f"norms-g{gen}.parquet"

    def _rewrite(key, pdf):
        import pandas as _pd

        sid = key[0]
        # _write_parquet re-inserts the segment_id column
        _write_parquet(
            pdf.drop(columns=["segment_id"]),
            os.path.join(mf.segment_dir(index_dir, sid), new_name),
            sid,
        )
        return _pd.DataFrame({"segment_id": [sid]})

    done = (
        out.groupBy("segment_id")
        .applyInPandas(_rewrite, schema="segment_id string")
        .collect()
    )
    written = {r["segment_id"] for r in done}
    if written != affected:
        raise RuntimeError(f"dv update incomplete: {affected - written}")
    segments = []
    for s in manifest["segments"]:
        entry = dict(s)
        if entry["segment_id"] in affected:
            entry["norms_file"] = new_name
        segments.append(entry)
    extra = {
        "dv_update": {"field": field, "term_field": term_field, "term": term},
    }
    if manifest.get("tombstone_files"):
        extra["tombstone_files"] = manifest["tombstone_files"]
    return mf.commit_manifest(index_dir, segments, extra=extra)
