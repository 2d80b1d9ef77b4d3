"""Deletes as tombstones — the live-docs analog (SURVEY.md §2.1:
codecs/lucene50/Lucene50LiveDocsFormat.java, index/ReadersAndUpdates.java).

A delete never rewrites segment files: matching (segment_id, doc_id) pairs
are appended as a tombstone parquet file under <index>/deletes/, and a new
manifest generation lists the live tombstone files — same two-phase commit
as segment publication (file durable first, manifest rename second).
Searchers mask tombstoned docs in the scoring kernel; global stats
(docFreq, sumTTF) intentionally still include deleted docs until a merge
reclaims them, matching Lucene (deleted docs affect stats until merge).

Scale note: tombstones are tiny relative to the index (ids only) and are
broadcast to the scoring kernels with the query plan; a 100 TB index with
heavy churn would compact them at merge time (merge.py drops them when the
merged segment is rewritten — future work, documented in the manifest).
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import SparkSession

from ..kernels.forcodec import decode_doc_deltas
from . import manifest as mf
from . import segfiles


def _deletes_dir(index_dir: str) -> str:
    d = os.path.join(index_dir, "deletes")
    os.makedirs(d, exist_ok=True)
    return d


def read_tombstones(index_dir: str, manifest: dict) -> dict[str, np.ndarray]:
    """{segment_id: sorted np.int64 array of deleted local docIDs}."""
    out: dict[str, np.ndarray] = {}
    for rel in manifest.get("tombstone_files", []):
        pdf = pq.read_table(os.path.join(index_dir, rel)).to_pandas()
        for sid, grp in pdf.groupby("segment_id"):
            prev = out.get(sid)
            ids = grp["doc_id"].to_numpy(dtype=np.int64)
            out[sid] = ids if prev is None else np.concatenate((prev, ids))
    return {sid: np.unique(ids) for sid, ids in out.items()}


def _publish(index_dir: str, manifest: dict, pairs: pd.DataFrame, reason: str) -> dict:
    if len(pairs) == 0:
        return manifest
    _deletes_dir(index_dir)
    rel = os.path.join("deletes", f"del-{uuid.uuid4().hex}.parquet")
    pq.write_table(
        pa.Table.from_pandas(pairs[["segment_id", "doc_id"]], preserve_index=False),
        os.path.join(index_dir, rel),
    )
    files = list(manifest.get("tombstone_files", [])) + [rel]
    return mf.commit_manifest(
        index_dir,
        [dict(s) for s in manifest["segments"]],
        extra={"tombstone_files": files, "delete_reason": reason},
    )


def pairs_for_terms(
    index_dir: str, manifest: dict, field: str, terms: tuple,
) -> pd.DataFrame:
    """(segment_id, doc_id) pairs of every doc whose `field` contains any
    of `terms` — the postings-decode half of deleteDocuments(Term...),
    resolved per segment on the driver like Lucene's writer does: the
    terms' posting rows are read from the segment files
    (index/segfiles.py) and their doc streams decoded. No Spark job."""
    rows = segfiles.read_postings(
        index_dir, manifest, {(field, t) for t in terms},
        ["segment_id", "docs_enc", "docs_offsets"],
    )
    docs = [
        decode_doc_deltas(bytes(enc), np.asarray(offs))
        for enc, offs in zip(rows["docs_enc"], rows["docs_offsets"])
    ]
    return pd.DataFrame({
        "segment_id": np.repeat(
            rows["segment_id"].to_numpy(object), [len(d) for d in docs]
        ),
        "doc_id": np.concatenate(docs) if docs else np.empty(0, np.int64),
    }).drop_duplicates(ignore_index=True)


def delete_by_term(
    spark: SparkSession, index_dir: str, term: str, field: str = "content"
) -> dict:
    """IndexWriter.deleteDocuments(Term): tombstone every doc whose `field`
    contains `term`. The term is resolved on the driver (pairs_for_terms),
    so `spark` goes unused; it keeps the writer functions' signature."""
    manifest = mf.read_manifest(index_dir)
    pairs = pairs_for_terms(index_dir, manifest, field, (term,))
    return _publish(index_dir, manifest, pairs, f"term:{term}")


def delete_by_doc_ids(index_dir: str, pairs: pd.DataFrame) -> dict:
    """Tombstone explicit (segment_id, doc_id) pairs (tests / upstream joins)."""
    manifest = mf.read_manifest(index_dir)
    return _publish(index_dir, manifest, pairs, "explicit")


def live_doc_count(index_dir: str) -> int:
    manifest = mf.read_manifest(index_dir)
    dels = read_tombstones(index_dir, manifest)
    return manifest["doc_count"] - sum(len(v) for v in dels.values())


def delete_by_query(spark: SparkSession, index_dir: str, q) -> dict:
    """IndexWriter.deleteDocuments(Query...) (index/IndexWriter.java
    deleteDocuments(Query) — "Deletes the document(s) matching any of the
    provided queries"): tombstone the query's FULL match set. The set is
    collected through the searcher's exhaustive path with scoring intact
    (k = maxDoc, like DocumentsWriterDeleteQueue resolving a query
    delete against every segment); only (segment_id, doc_id) pairs reach
    the driver."""
    manifest = mf.read_manifest(index_dir)
    from ..search.searcher import LuceneSparkSearcher

    s = LuceneSparkSearcher(spark, index_dir)
    hits = s.search(
        q, k=int(manifest["doc_count"]), use_wand=False, with_stored=False
    )
    pairs = hits[["segment_id", "doc_id"]].drop_duplicates()
    return _publish(index_dir, manifest, pairs, f"query:{q!r}"[:200])
