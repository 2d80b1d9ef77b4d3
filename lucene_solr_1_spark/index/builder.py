"""Distributed index build — Spark partitions as DWPTs (SURVEY.md §3.1).

Shape: read corpus → repartition(num_segments, doc key) →
mapInPandas(analyze + invert + encode + write segment) → driver commits the
manifest. The build is SHUFFLE-FREE except the single repartition (which is
also what fixes docID determinism); inversion, compression and file writes
are partition-local, so throughput scales linearly with executors — the
basis of the N→4N ≥0.8 scaling target.

Each task writes its own segment parquet files directly (the executors are
the writers, as in any Spark sink), then a per-segment meta.json checkpoint
marker. On re-run, a task whose (partition_id, input_fingerprint) checkpoint
already exists skips the build entirely — resumability without recompute.

Scale notes (100 TB): partition count is the segment-size knob (the RAM
flush-trigger analog, IndexWriterConfig.java:94) — size partitions so one
segment's postings fit executor memory (~1-4 GB input text each). Paths are
plain strings; on a cluster they would be object-store URIs via fsspec.
"""

from __future__ import annotations

import os
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark import TaskContext

from ..kernels.analyzer import AnalyzerConfig, STANDARD
from . import manifest as mf
from .schemas import MANIFEST_ROW_DDL
from .segment import DOC_KEY, build_segment_frames, segment_fingerprint, content_sha

_POSTINGS_FILE = "postings.parquet"
_NORMS_FILE = "norms.parquet"


def _write_parquet(pdf: pd.DataFrame, path: str, segment_id: str) -> None:
    pdf = pdf.copy()
    pdf.insert(0, "segment_id", segment_id)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(table, path, compression="zstd")


def _build_partition(batches, index_dir: str, cfg: AnalyzerConfig, fail_partitions,
                     pid_offset: int = 0, store_offsets: bool = False,
                     index_sort: tuple | None = None,
                     store_payloads: bool = False):
    ctx = TaskContext.get()
    pid = (ctx.partitionId() if ctx else 0) + pid_offset
    if fail_partitions and pid in fail_partitions:
        raise RuntimeError(f"injected failure on partition {pid} (resume test)")
    pdfs = [b for b in batches]
    pdf = (
        pd.concat(pdfs, ignore_index=True)
        if pdfs
        else pd.DataFrame(columns=["repo", "path", "commit", "lang", "content"])
    )
    if index_sort:
        # IndexWriterConfig.setIndexSort analog: docIDs within the segment
        # follow (sort value, doc key) — doc key breaks value ties so the
        # order stays content-defined and deterministic
        field, desc = index_sort
        pdf = (
            pdf.assign(_sort=pdf["content"].str.len())
            .sort_values(["_sort", *DOC_KEY],
                         ascending=[not desc, True, True, True],
                         kind="mergesort")
            .drop(columns="_sort")
            .reset_index(drop=True)
        )
    else:
        pdf = pdf.sort_values(DOC_KEY, kind="mergesort").reset_index(drop=True)
    fingerprint = _fingerprint_of(pdf)
    segment_id = f"s{pid:05d}-{fingerprint[:10]}"

    meta = mf.read_segment_meta(index_dir, segment_id)
    if meta is not None and meta.get("input_fingerprint") == fingerprint:
        meta = dict(meta)
        meta["reused"] = True
        yield pd.DataFrame([_manifest_row(meta)])
        return

    t0 = time.monotonic()
    postings, norms, stats = build_segment_frames(
        pdf, cfg, store_offsets, presorted=bool(index_sort),
        store_payloads=store_payloads,
    )
    if isinstance(stats.get("field_stats"), dict):
        import json

        stats["field_stats"] = json.dumps(stats["field_stats"], sort_keys=True)
    seg_dir = mf.segment_dir(index_dir, segment_id)
    os.makedirs(seg_dir, exist_ok=True)
    _write_parquet(postings, os.path.join(seg_dir, _POSTINGS_FILE), segment_id)
    _write_parquet(norms, os.path.join(seg_dir, _NORMS_FILE), segment_id)
    meta = {
        "segment_id": segment_id,
        "partition_id": pid,
        "input_fingerprint": fingerprint,
        **stats,
        "build_wall_s": time.monotonic() - t0,
        "reused": False,
    }
    mf.write_segment_meta(index_dir, segment_id, meta)  # checkpoint marker, LAST
    yield pd.DataFrame([_manifest_row(meta)])


def _fingerprint_of(pdf: pd.DataFrame) -> str:
    import hashlib

    h = hashlib.sha256()
    for s in content_sha(pdf["content"]):
        h.update(s.encode())
    return h.hexdigest()


_MANIFEST_FIELDS = [f.split()[0] for f in MANIFEST_ROW_DDL.split(", ")]


def _manifest_row(meta: dict) -> dict:
    return {k: meta.get(k) for k in _MANIFEST_FIELDS}


def build_index(
    spark: SparkSession,
    corpus_df: DataFrame,
    index_dir: str,
    num_segments: int = 8,
    cfg: AnalyzerConfig = STANDARD,
    fail_partitions: set[int] | None = None,
    pre_partitioned: bool = False,
    store_offsets: bool = False,
    index_sort: str | None = None,
    index_sort_desc: bool = False,
    store_payloads: bool = False,
) -> dict:
    """Build (or resume) an index over `corpus_df`; returns the manifest.

    `store_payloads=True` runs the DelimitedPayloadTokenFilter at index
    time (`tok|2.5` annotations become per-occurrence float32 payloads,
    the .pay stream riding in posting rows) — opt-in and sticky, queried
    via PayloadScore.

    `index_sort="n_chars"` is the IndexWriterConfig.setIndexSort analog
    (index/IndexSorter.java): docIDs within EVERY segment follow the
    sort value (content length; ties broken by doc key), persisted
    sticky in the manifest. A fresh build range-partitions on the sort
    key, so global docID order equals global sort order too; appends
    keep only the per-segment guarantee — exactly Lucene's contract.
    `searcher.search_sorted` exploits it for early-terminated
    field-sorted top-k.

    `store_offsets=True` stores per-doc token character spans in the
    docmap (IndexOptions ..._AND_OFFSETS analog) — opt-in: highlighting
    without re-tokenization for highlight-every-hit workloads, at ~1.4x
    tokenization cost + 8 B/token of storage.

    `pre_partitioned=True` skips the repartition shuffle and builds one
    segment per EXISTING input partition — the zero-shuffle ingest path for
    sources already laid out by doc key (Iceberg bucketed / sorted tables;
    the segment docID order stays deterministic because rows are re-sorted
    by DOC_KEY inside each partition). With it the whole build is a single
    fused stage: scan → analyze → invert → encode → write, no exchange.

    `fail_partitions` injects task failures (resume tests only).
    """
    from functools import partial

    if index_sort is not None and index_sort != "n_chars":
        raise ValueError("index_sort supports 'n_chars' (content length)")
    sort_spec = (index_sort, bool(index_sort_desc)) if index_sort else None
    df = corpus_df.select("repo", "path", "commit", "lang", "content")
    if not pre_partitioned:
        # RANGE partition by doc key: segments hold contiguous key ranges,
        # so global docID order (doc_base + local) equals the global
        # (repo, path, commit) sort order — a content-defined total order.
        # That makes equal-score tie-breaks (HitQueue: docID asc) identical
        # for ANY segment count and identical to the brute-force oracle
        # (randomized rank-identity tests pin this).
        # With index_sort the range key leads with the sort value, making
        # the global docID order the global SORT order on a fresh build.
        if sort_spec:
            from pyspark.sql import functions as F

            skey = F.length("content")
            skey = skey.desc() if sort_spec[1] else skey.asc()
            df = df.repartitionByRange(num_segments, skey, *DOC_KEY)
        else:
            df = df.repartitionByRange(num_segments, *DOC_KEY)
    rows = df.mapInPandas(
        partial(
            _build_partition,
            index_dir=index_dir,
            cfg=cfg,
            fail_partitions=fail_partitions or set(),
            store_offsets=store_offsets,
            index_sort=sort_spec,
            store_payloads=store_payloads,
        ),
        schema=MANIFEST_ROW_DDL,
    ).collect()
    from ..kernels.analyzer import analyzer_name

    segments = [r.asDict() for r in rows]
    # persist the analyzer by name: the searcher re-analyzes query terms
    # with the chain the index was built with (IndexWriterConfig analog)
    extra = {"num_segments": num_segments, "analyzer": analyzer_name(cfg)}
    if store_offsets:
        extra["offsets"] = True
    if store_payloads:
        extra["payloads"] = True
    if sort_spec:
        extra["index_sort"] = {"field": sort_spec[0], "desc": sort_spec[1]}
    prior = mf.read_manifest(index_dir)
    if prior and prior.get("tombstone_files"):
        extra["tombstone_files"] = prior["tombstone_files"]
    return mf.commit_manifest(index_dir, segments, extra=extra)


def add_documents(
    spark: SparkSession,
    corpus_df: DataFrame,
    index_dir: str,
    num_segments: int = 4,
    cfg: AnalyzerConfig | None = None,
) -> dict:
    """Incremental indexing — the NRT refresh analog (SURVEY.md §1.5:
    DirectoryReader.openIfChanged / SearcherManager). New documents become
    NEW segment partitions appended to the manifest; existing segments,
    their docIDs and tombstones are untouched, so open searchers stay
    valid and a re-opened searcher sees old + new atomically.

    `cfg=None` (default) analyzes with the INDEX's persisted analyzer —
    appending with a different chain than the existing segments would
    silently split the term space (an IndexWriter has ONE analyzer).
    """
    from functools import partial

    from ..kernels.analyzer import ANALYZERS

    manifest = mf.read_manifest(index_dir)
    if manifest is None:
        return build_index(spark, corpus_df, index_dir, num_segments, cfg or STANDARD)
    if cfg is None:
        cfg = ANALYZERS.get(manifest.get("analyzer", "standard"), STANDARD)
    pid_offset = max(s["partition_id"] for s in manifest["segments"]) + 1
    isrt = manifest.get("index_sort")
    sort_spec = (isrt["field"], bool(isrt["desc"])) if isrt else None
    df = corpus_df.select("repo", "path", "commit", "lang", "content")
    if sort_spec:
        # sorted index: appended segments keep the per-segment sort
        # guarantee (Lucene's index-sort contract for new flushes)
        from pyspark.sql import functions as F

        skey = F.length("content")
        skey = skey.desc() if sort_spec[1] else skey.asc()
        df = df.repartitionByRange(num_segments, skey, *DOC_KEY)
    else:
        df = df.repartitionByRange(num_segments, *DOC_KEY)
    rows = df.mapInPandas(
        partial(
            _build_partition,
            index_dir=index_dir,
            cfg=cfg,
            fail_partitions=set(),
            pid_offset=pid_offset,
            store_offsets=bool(manifest.get("offsets")),
            index_sort=sort_spec,
            store_payloads=bool(manifest.get("payloads")),
        ),
        schema=MANIFEST_ROW_DDL,
    ).collect()
    segments = [dict(s) for s in manifest["segments"]] + [r.asDict() for r in rows]
    extra = {"num_segments": len(segments)}
    if manifest.get("analyzer"):
        extra["analyzer"] = manifest["analyzer"]
    if manifest.get("tombstone_files"):
        extra["tombstone_files"] = manifest["tombstone_files"]
    return mf.commit_manifest(index_dir, segments, extra=extra)


def update_documents(
    spark: SparkSession,
    corpus_df: DataFrame,
    index_dir: str,
    key_field: str = "path",
    num_segments: int = 1,
) -> dict:
    """IndexWriter.updateDocument(Term, doc) analog, batched: atomically
    DELETE every live doc whose keyword `key_field` equals one of the new
    docs' key values, then APPEND the new docs — ONE manifest generation,
    so readers see delete+add together or not at all (the reference's
    updateDocument atomicity contract, IndexWriter.java updateDocument /
    softUpdateDocuments). Stats follow Lucene: the replaced docs stay in
    df/avgdl until their segment merges (deletes are masks, not
    subtractions).

    Analysis always uses the index's persisted analyzer (an IndexWriter
    has ONE analyzer)."""
    from functools import partial

    from ..kernels.analyzer import ANALYZERS

    from . import deletes as dels

    manifest = mf.read_manifest(index_dir)
    if manifest is None:
        raise ValueError("update_documents requires an existing index")
    cfg = ANALYZERS.get(manifest.get("analyzer", "standard"), STANDARD)
    keys = tuple(
        r[0] for r in corpus_df.select(key_field).distinct().collect()
    )
    pairs = dels.pairs_for_terms(index_dir, manifest, key_field, keys)
    # build the new segments first (resumable side files), commit last
    pid_offset = max(s["partition_id"] for s in manifest["segments"]) + 1
    isrt = manifest.get("index_sort")
    sort_spec = (isrt["field"], bool(isrt["desc"])) if isrt else None
    df = corpus_df.select("repo", "path", "commit", "lang", "content")
    df = df.repartitionByRange(num_segments, *DOC_KEY)
    rows = df.mapInPandas(
        partial(
            _build_partition,
            index_dir=index_dir,
            cfg=cfg,
            fail_partitions=set(),
            pid_offset=pid_offset,
            store_offsets=bool(manifest.get("offsets")),
            index_sort=sort_spec,
            store_payloads=bool(manifest.get("payloads")),
        ),
        schema=MANIFEST_ROW_DDL,
    ).collect()
    segments = [dict(s) for s in manifest["segments"]] + [r.asDict() for r in rows]
    extra: dict = {"num_segments": len(segments)}
    files = list(manifest.get("tombstone_files", []))
    if len(pairs):
        import pyarrow as pa
        import pyarrow.parquet as pq
        import uuid as _uuid

        os.makedirs(os.path.join(index_dir, "deletes"), exist_ok=True)
        rel = os.path.join("deletes", f"del-{_uuid.uuid4().hex}.parquet")
        pq.write_table(
            pa.Table.from_pandas(
                pairs[["segment_id", "doc_id"]], preserve_index=False
            ),
            os.path.join(index_dir, rel),
        )
        files.append(rel)
    if files:
        extra["tombstone_files"] = files
    return mf.commit_manifest(index_dir, segments, extra=extra)


def atomic_update(
    spark: SparkSession,
    index_dir: str,
    path: str,
    set_fields: dict,
) -> dict:
    """Solr atomic update (solr/core/src/java/org/apache/solr/update/
    processor/AtomicUpdateDocumentMerger.java, 'set' modifier): read the
    doc's STORED fields, overlay `set_fields`, and updateDocument — the
    caller never resupplies the whole document. Requires stored fields
    (ours always are). One atomic commit via update_documents."""
    from ..search.searcher import LuceneSparkSearcher

    allowed = {"repo", "commit", "lang", "content"}
    bad = set(set_fields) - allowed
    if bad:
        raise ValueError(f"cannot set {sorted(bad)}; settable: {sorted(allowed)}")
    s = LuceneSparkSearcher(spark, index_dir)
    cur = s.get_documents((path,))
    if len(cur) == 0:
        raise KeyError(f"no live document with path {path!r}")
    row = cur.iloc[0][["repo", "path", "commit", "lang", "content"]].to_dict()
    row.update(set_fields)
    new_df = spark.createDataFrame(pd.DataFrame([row]))
    return update_documents(spark, new_df, index_dir, key_field="path")


def postings_paths(index_dir: str, manifest: dict) -> list[str]:
    return [
        os.path.join(mf.segment_dir(index_dir, s["segment_id"]), _POSTINGS_FILE)
        for s in manifest["segments"]
    ]


def norms_paths(index_dir: str, manifest: dict) -> list[str]:
    # per-segment doc-values GENERATION: updateNumericDocValue republishes
    # a segment docmap under norms-g<N>.parquet (Lucene's .dvd generation
    # files) and the manifest entry points at the live one
    return [
        os.path.join(
            mf.segment_dir(index_dir, s["segment_id"]),
            s.get("norms_file", _NORMS_FILE),
        )
        for s in manifest["segments"]
    ]


def add_indexes(index_dir: str, *source_dirs: str) -> dict:
    """IndexWriter.addIndexes(Directory...) analog (index/IndexWriter.java
    addIndexes — "adds all segments from an array of indexes ... by copying
    over the segment files, without re-indexing"): every live segment of
    every source index joins the destination manifest as a new partition.

    Segment directories are file-copied (the reference's copy path); a
    segment_id collision (same corpus indexed twice) is resolved by
    rewriting the copied parquet under a fresh id — the segment_id column
    rides inside the files, so the rewrite is mandatory there. Source
    tombstones copy through, so deleted docs stay deleted.

    Compatibility is checked like an IndexWriter would enforce via its
    config: analyzer name, offsets IndexOption, and index_sort must match
    the destination (mixing analyzers silently splits the term space)."""
    import hashlib
    import shutil

    dest = mf.read_manifest(index_dir)
    if dest is None:
        raise ValueError(f"destination {index_dir} has no committed manifest")
    for opt in ("analyzer", "offsets", "index_sort", "payloads"):
        want = dest.get(opt)
        for sd in source_dirs:
            src = mf.read_manifest(sd)
            if src is None:
                raise ValueError(f"source {sd} has no committed manifest")
            if src.get(opt) != want:
                raise ValueError(
                    f"addIndexes: {opt!r} mismatch — dest={want!r} "
                    f"source {sd}={src.get(opt)!r}"
                )
    segments = [dict(s) for s in dest["segments"]]
    existing_ids = {s["segment_id"] for s in segments}
    pid = max(s["partition_id"] for s in segments) + 1
    tombstone_files = list(dest.get("tombstone_files", []))
    for sd in source_dirs:
        src = mf.read_manifest(sd)
        id_map: dict[str, str] = {}
        for s in sorted(src["segments"], key=lambda x: x["partition_id"]):
            entry = dict(s)
            old_id = entry["segment_id"]
            new_id = old_id
            src_seg = mf.segment_dir(sd, old_id)
            if new_id in existing_ids:
                # collision: rewrite under a fresh id (fingerprint suffix
                # keeps the checkpoint-marker convention)
                new_id = f"s{pid:05d}-{hashlib.sha256((old_id + sd).encode()).hexdigest()[:10]}"
                dst_seg = mf.segment_dir(index_dir, new_id)
                os.makedirs(dst_seg, exist_ok=True)
                for fname in (_POSTINGS_FILE, entry.get("norms_file", _NORMS_FILE)):
                    pdf = pq.read_table(os.path.join(src_seg, fname)).to_pandas()
                    pdf["segment_id"] = new_id
                    pq.write_table(
                        pa.Table.from_pandas(pdf, preserve_index=False),
                        os.path.join(dst_seg, fname),
                    )
            else:
                dst_seg = mf.segment_dir(index_dir, new_id)
                if not os.path.isdir(dst_seg):
                    shutil.copytree(src_seg, dst_seg, ignore=shutil.ignore_patterns("meta.json"))
            id_map[old_id] = new_id
            entry["segment_id"] = new_id
            entry["partition_id"] = pid
            meta = {**entry}
            mf.write_segment_meta(index_dir, new_id, meta)  # marker LAST
            segments.append(entry)
            existing_ids.add(new_id)
            pid += 1
        # tombstones: re-point segment ids and copy the parquet files in
        for rel in src.get("tombstone_files", []):
            src_path = os.path.join(sd, rel)
            pdf = pq.read_table(src_path).to_pandas()
            pdf["segment_id"] = pdf["segment_id"].map(lambda x: id_map.get(x, x))
            os.makedirs(os.path.join(index_dir, "deletes"), exist_ok=True)
            base = f"added-{hashlib.sha256((sd + rel).encode()).hexdigest()[:10]}.parquet"
            new_rel = os.path.join("deletes", base)
            pq.write_table(
                pa.Table.from_pandas(pdf, preserve_index=False),
                os.path.join(index_dir, new_rel),
            )
            tombstone_files.append(new_rel)
    extra = {"num_segments": len(segments)}
    for opt in ("analyzer",):
        if dest.get(opt):
            extra[opt] = dest[opt]
    if tombstone_files:
        extra["tombstone_files"] = tombstone_files
    return mf.commit_manifest(index_dir, segments, extra=extra)


def split_index(
    index_dir: str,
    out_dirs: list[str] | tuple,
    mode: str = "segments",
    sequential: bool = False,
) -> list[dict]:
    """Split one index into len(out_dirs) independent indexes.

    mode="segments" — IndexSplitter (misc/src/java/org/apache/lucene/
    index/IndexSplitter.java): whole segments are distributed to the
    parts (round-robin in partition order, or contiguous runs with
    sequential=True); segment files are copied verbatim, only manifests
    and tombstone subsets are rewritten. The inverse of addIndexes.

    mode="docs" — MultiPassIndexSplitter (misc/.../MultiPassIndexSplitter
    .java:49-108): every part receives ALL segments plus tombstones
    DELETING the other parts' documents — round-robin "doc n -> part
    n % numParts", or contiguous global-docID ranges with
    sequential=True. Exactly the reference's approach ("it works by
    deleting documents and keeping the rest"): per-part stats stay
    Lucene-stale until a reclaim merge, like any other delete.

    Sticky index options (analyzer, offsets, index_sort, payloads) carry
    into every part; global docIDs within a part follow the original
    partition order, so per-part rankings are deterministic."""
    import shutil

    import numpy as np

    from .deletes import read_tombstones

    src = mf.read_manifest(index_dir)
    if src is None:
        raise ValueError(f"{index_dir} has no committed manifest")
    n = len(out_dirs)
    if n < 2:
        raise ValueError("split needs at least 2 output dirs")
    if mode not in ("segments", "docs"):
        raise ValueError(f"unknown split mode {mode!r}")
    segs = sorted(src["segments"], key=lambda s: s["partition_id"])
    sticky = {
        k: src[k]
        for k in ("analyzer", "offsets", "index_sort", "payloads")
        if src.get(k) is not None
    }
    tombs = read_tombstones(index_dir, src)
    manifests = []

    def _copy_segment(entry: dict, out_dir: str) -> None:
        dst = mf.segment_dir(out_dir, entry["segment_id"])
        if not os.path.isdir(dst):
            shutil.copytree(
                mf.segment_dir(index_dir, entry["segment_id"]), dst,
                ignore=shutil.ignore_patterns("meta.json"),
            )
        mf.write_segment_meta(out_dir, entry["segment_id"], dict(entry))

    def _write_tombs(out_dir: str, pairs: pd.DataFrame, extra: dict) -> None:
        if len(pairs):
            os.makedirs(os.path.join(out_dir, "deletes"), exist_ok=True)
            rel = os.path.join("deletes", "split.parquet")
            pq.write_table(
                pa.Table.from_pandas(
                    pairs[["segment_id", "doc_id"]], preserve_index=False
                ),
                os.path.join(out_dir, rel),
            )
            extra["tombstone_files"] = [rel]

    if mode == "segments":
        for i, out_dir in enumerate(out_dirs):
            if sequential:
                width = -(-len(segs) // n)
                mine = segs[i * width:(i + 1) * width]
            else:
                mine = segs[i::n]
            if not mine:
                raise ValueError(
                    f"part {i} would be empty ({len(segs)} segments / {n} parts)"
                )
            rows = []
            for s in mine:
                _copy_segment(s, out_dir)
                sid = s["segment_id"]
                if sid in tombs and len(tombs[sid]):
                    rows.append(pd.DataFrame(
                        {"segment_id": sid, "doc_id": tombs[sid]}
                    ))
            extra = dict(sticky)
            _write_tombs(
                out_dir,
                pd.concat(rows) if rows
                else pd.DataFrame(columns=["segment_id", "doc_id"]),
                extra,
            )
            manifests.append(
                mf.commit_manifest(out_dir, [dict(s) for s in mine], extra=extra)
            )
        return manifests

    # mode == "docs": every part = all segments + complement tombstones
    total = sum(s["doc_count"] for s in segs)
    bounds = np.linspace(0, total, n + 1).astype(np.int64)
    for i, out_dir in enumerate(out_dirs):
        rows = []
        for s in segs:
            _copy_segment(s, out_dir)
            sid = s["segment_id"]
            local = np.arange(s["doc_count"], dtype=np.int64)
            global_ids = s["doc_base"] + local
            if sequential:
                keep = (global_ids >= bounds[i]) & (global_ids < bounds[i + 1])
            else:
                keep = (global_ids % n) == i
            dels = local[~keep]
            if sid in tombs and len(tombs[sid]):
                dels = np.union1d(dels, tombs[sid])
            if len(dels):
                rows.append(pd.DataFrame({"segment_id": sid, "doc_id": dels}))
        extra = dict(sticky)
        _write_tombs(
            out_dir,
            pd.concat(rows) if rows
            else pd.DataFrame(columns=["segment_id", "doc_id"]),
            extra,
        )
        manifests.append(
            mf.commit_manifest(out_dir, [dict(s) for s in segs], extra=extra)
        )
    return manifests
