"""Tiered segment merging (SURVEY.md §2.4).

Driver-side policy chooses merge groups (TieredMergePolicy.java:96-103,312-560
shape: bounded merge width, size-skew-scored candidates, small-segment floor).
The merge has SegmentMerger's shape (SegmentMerger.java:100-180): the driver
computes one docmap per input segment (MergeState.DocMap: old local docID ->
merged docID, or -1 for a doc the merge drops), and one Spark task per group
reads the inputs' postings and live docmap files with pyarrow, decodes every
posting row, sends its docs through the docmaps (a dropped doc leaves with
its position and payload run) and re-inverts each field with the builder's
`_invert_rows`. A round's disjoint groups run as ONE job,
`spark.range(n).mapInPandas`, the builder's `_build_partition` pattern: the
inputs are plain columnar files, so nothing is shuffled.

A merged segment is therefore the segment a fresh build of its live
documents, in merged docID order, writes — same rows, same block and impact
metadata, one zstd file per table — and merging one snapshot twice writes
the same bytes.

One docmap covers three cases:
- the docBase shift: groups are CONTIGUOUS in partition order and inputs
  concatenate in that order, so global docIDs (doc_base + local) are
  unchanged by a merge — top-k results and tie-breaks are invariant
  (merge-invariance tests);
- reclaim: with `reclaim_deletes=True` tombstoned docs map to -1 and the
  live docs close ranks, like Lucene dropping deletions at merge;
- the index sort: on an index built with `index_sort`, merged docIDs follow
  (sort value, doc key) with input order breaking ties, so a merged segment
  keeps the per-segment sort (IndexSorter at merge).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from functools import partial

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from pyspark.sql import SparkSession

from ..kernels.forcodec import decode_all
from . import manifest as mf
from . import segfiles
from .builder import (
    _NORMS_FILE, _POSTINGS_FILE, _manifest_row, _write_parquet, norms_paths,
    postings_paths,
)
from .deletes import read_tombstones, write_tombstones
from .schemas import MANIFEST_ROW_DDL
from .segment import (
    CONTENT_FIELD, DOC_KEY, KEYWORD_FIELDS, _invert_rows, _postings_frame,
)

MAX_MERGE_AT_ONCE = 10  # TieredMergePolicy.java:96 maxMergeAtOnce
SEGS_PER_TIER = 10      # TieredMergePolicy.java:103 segsPerTier


def _merge_score(group: list[dict]) -> float:
    """TieredMergePolicy.score() shape (TieredMergePolicy.java:566+):
    skew = largest input / total (1/width = perfectly balanced, →1 =
    lopsided), penalized by total size^0.05 so smaller merges win ties —
    smaller score is better. (No deletes term: reclaim is handled by the
    tombstone remap, not by merge selection.)"""
    sizes = [max(s.get("total_postings") or 0, 1) for s in group]
    tot = sum(sizes)
    skew = max(sizes) / tot
    return skew * (tot ** 0.05)


def find_merges(manifest: dict, target_segments: int = SEGS_PER_TIER) -> list[list[str]]:
    """Scored candidate selection under a contiguity constraint: slide
    windows of width 2..maxMergeAtOnce over the partition-ordered live
    set, score each with the TieredMergePolicy arithmetic, and repeatedly
    take the best until ≤ target_segments would remain. Contiguity (an
    extra constraint vs the reference) keeps global docIDs stable across
    merges, which the merge-invariance tests pin."""
    segs = sorted(manifest["segments"], key=lambda s: s["partition_id"])
    if len(segs) <= target_segments:
        return []
    groups: list[list[str]] = []
    live = list(segs)
    while len(live) > target_segments:
        need = len(live) - target_segments + 1
        best, best_score = None, None
        for width in range(2, min(MAX_MERGE_AT_ONCE, need) + 1):
            for i in range(len(live) - width + 1):
                cand = live[i : i + width]
                # a group must consist of segments that exist NOW; windows
                # spanning this round's planned outputs wait for the next
                # find_merges round (merge_down loops until converged)
                if any(s["segment_id"].startswith("pending-") for s in cand):
                    continue
                sc = _merge_score(cand) / width  # favor wider merges per unit
                if best_score is None or sc < best_score:
                    best, best_score = (i, width), sc
        if best is None:
            break
        i, width = best
        cand = live[i : i + width]
        groups.append([s["segment_id"] for s in cand])
        merged = {
            "segment_id": f"pending-{len(groups)}",
            "partition_id": cand[0]["partition_id"],
            "total_postings": sum(max(s.get("total_postings") or 0, 1) for s in cand),
        }
        live = live[:i] + [merged] + live[i + width :]
    return groups


def _docmaps(index_dir: str, segs: list[dict], tombs: dict,
             index_sort: dict | None) -> dict:
    """MergeState.DocMap of each input segment of one group, in partition
    order: {segment_id: int64 array, old local docID -> merged docID, or
    -1 for a doc in `tombs`}. Live docs take merged docIDs in input order
    (the docBase shift), or on a sorted index in the builder's (sort value,
    doc key) order, input order breaking ties."""
    lives = []
    for s in segs:
        live = np.ones(s["doc_count"], dtype=bool)
        live[tombs.get(s["segment_id"], [])] = False
        lives.append(np.flatnonzero(live))
    # rank[j]: merged docID of the j-th live doc in input order
    rank = np.arange(sum(len(docs) for docs in lives), dtype=np.int64)
    if index_sort:
        field = index_sort["field"]
        keys = pd.concat([
            pq.read_table(path, columns=["doc_id", field, *DOC_KEY])
            .to_pandas().sort_values("doc_id").iloc[docs]
            for path, docs in zip(norms_paths(index_dir, {"segments": segs}), lives)
        ], ignore_index=True)
        order = keys.sort_values(
            [field, *DOC_KEY], ascending=[not index_sort["desc"], True, True, True],
            kind="mergesort",
        ).index.to_numpy()
        rank[order] = np.arange(len(order), dtype=np.int64)
    maps, base = {}, 0
    for s, docs in zip(segs, lives):
        m = np.full(s["doc_count"], -1, dtype=np.int64)
        m[docs] = rank[base:base + len(docs)]
        maps[s["segment_id"]] = m
        base += len(docs)
    return maps


def _runs(deltas: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Absolute values of back-to-back delta runs whose first entry is
    absolute: a term's doc run, a posting's position run."""
    sums = np.cumsum(deltas)
    first = np.cumsum(lengths) - lengths
    return sums - np.repeat(sums[first] - deltas[first], lengths)


def _live_tokens(rows: pd.DataFrame, docmap: np.ndarray) -> tuple:
    """One input's posting rows of one field, back to the token stream
    `_invert_rows` takes: (term, merged doc, position, payload) per
    occurrence of a live doc, plus (merged doc, norm byte) per posting."""
    def stream(enc: str, offsets: str) -> np.ndarray:
        return np.concatenate([decode_all(e, o) for e, o in zip(rows[enc], rows[offsets])])

    freqs = stream("freqs_enc", "freqs_offsets")
    docs = docmap[_runs(stream("docs_enc", "docs_offsets"), rows["doc_freq"].to_numpy())]
    norms = np.frombuffer(b"".join(rows["norms_enc"]), dtype=np.uint8)
    kept = docs >= 0
    live = np.repeat(kept, freqs)
    pay = b"".join(rows["pay_enc"]) if "pay_enc" in rows else b""
    return (
        np.repeat(rows["term"].to_numpy(), rows["ttf"].to_numpy())[live],
        np.repeat(docs, freqs)[live],
        _runs(stream("pos_enc", "pos_offsets"), freqs)[live],
        np.frombuffer(pay, dtype="<f4")[live] if pay else np.empty(0, dtype="<f4"),
        docs[kept],
        norms[kept],
    )


def _merge_segment(index_dir: str, meta: dict, inputs: list) -> dict:
    """Write merged segment `meta["segment_id"]` from `inputs`, (postings
    file, docmap file, docmap array) per input segment, and its meta.json
    marker LAST; returns its manifest row."""
    t0 = time.monotonic()
    docmaps, tokens = [], {}
    for postings_file, docmap_file, m in inputs:
        rows = pq.read_table(docmap_file).to_pandas()
        new = m[rows["doc_id"].to_numpy()]
        docmaps.append(rows[new >= 0].assign(doc_id=new[new >= 0]))
        postings = pq.read_table(postings_file).to_pandas()
        for field, g in postings.groupby("field", sort=False):
            tokens.setdefault(field, []).append(_live_tokens(g, m))
    docmap = (
        pd.concat(docmaps, ignore_index=True)
        .sort_values("doc_id", ignore_index=True)
        .drop(columns="segment_id")
    )
    n_docs = len(docmap)
    fields = {}
    for field in (CONTENT_FIELD, *KEYWORD_FIELDS):  # the builder's order
        if field not in tokens:
            continue
        terms, docs, pos, pay, posting_docs, norms = (
            np.concatenate(part) for part in zip(*tokens[field])
        )
        if not len(terms):
            continue
        norms_by_doc = np.zeros(n_docs, dtype=np.int64)
        norms_by_doc[posting_docs] = norms
        fields[field] = _invert_rows(field, terms, docs, pos, norms_by_doc,
                                     payloads=pay if len(pay) else None)
    content = fields.get(CONTENT_FIELD, {"term": [], "ttf": [], "doc_freq": []})
    sum_ttf = int(np.sum(content["ttf"]))
    field_stats = {CONTENT_FIELD: {"sum_ttf": sum_ttf, "doc_count": n_docs}}
    if n_docs:
        field_stats.update(
            {kw: {"sum_ttf": n_docs, "doc_count": n_docs} for kw in KEYWORD_FIELDS}
        )
    sid = meta["segment_id"]
    seg_dir = mf.segment_dir(index_dir, sid)
    os.makedirs(seg_dir, exist_ok=True)
    _write_parquet(_postings_frame(list(fields.values())),
                   os.path.join(seg_dir, _POSTINGS_FILE), sid)
    _write_parquet(docmap, os.path.join(seg_dir, _NORMS_FILE), sid)
    meta = {
        **meta,
        "doc_count": n_docs,
        "sum_ttf": sum_ttf,
        "field_stats": json.dumps(field_stats, sort_keys=True),
        "distinct_terms": len(content["term"]),
        "total_postings": int(np.sum(content["doc_freq"])),
        "build_wall_s": time.monotonic() - t0,
        "reused": False,
    }
    mf.write_segment_meta(index_dir, sid, meta)
    return _manifest_row(meta)


def _merge_partition(batches, index_dir: str, plans: list):
    """mapInPandas body: merge group `id` of the round (one per task)."""
    for pdf in batches:
        for i in pdf["id"]:
            yield pd.DataFrame([_merge_segment(index_dir, *plans[i])])


def _merge_group_job(
    spark: SparkSession,
    index_dir: str,
    manifest: dict,
    groups: list[list[str]],
    reclaim_deletes: bool = False,
) -> list[tuple[dict, dict]]:
    """Merge the disjoint `groups` in ONE Spark job, one task per group.
    Each task writes its segment's files and meta.json marker; NO manifest
    commit. Returns (manifest entry, {input segment_id: docmap}) per group."""
    by_id = {s["segment_id"]: s for s in manifest["segments"]}
    tombs = read_tombstones(index_dir, manifest) if reclaim_deletes else {}
    plans, maps = [], []
    for group in groups:
        segs = sorted((by_id[g] for g in group), key=lambda s: s["partition_id"])
        docmaps = _docmaps(index_dir, segs, tombs, manifest.get("index_sort"))
        fingerprint = hashlib.sha256(
            "|".join(s["input_fingerprint"] for s in segs).encode()
        ).hexdigest()
        pid = segs[0]["partition_id"]
        meta = {
            "segment_id": f"m{manifest['generation']:03d}-{pid:05d}-{fingerprint[:10]}",
            "partition_id": pid,
            "input_fingerprint": fingerprint,
            "min_key": segs[0].get("min_key", ""),
            "max_key": segs[-1].get("max_key", ""),
            "merged_from": [s["segment_id"] for s in segs],
        }
        plans.append((meta, list(zip(
            postings_paths(index_dir, {"segments": segs}),
            norms_paths(index_dir, {"segments": segs}),
            (docmaps[s["segment_id"]] for s in segs),
        ))))
        maps.append(docmaps)
    rows = {
        r["segment_id"]: r.asDict()
        for r in spark.range(len(plans), numPartitions=len(plans))
        .mapInPandas(partial(_merge_partition, index_dir=index_dir, plans=plans),
                     schema=MANIFEST_ROW_DDL)
        .collect()
    }
    # the tasks wrote in other processes: drop this process's pooled copies
    done = {"segments": list(rows.values())}
    segfiles.evict(*postings_paths(index_dir, done), *norms_paths(index_dir, done))
    return [
        ({**rows[meta["segment_id"]], "merged_from": meta["merged_from"]}, docmaps)
        for (meta, _), docmaps in zip(plans, maps)
    ]


def _rewrite_tombstones(index_dir: str, manifest: dict, remap: dict) -> dict:
    """Carry live-docs tombstones through merges: a tombstoned doc of a
    merged segment moves to (new segment, docmap[doc]) per `remap`
    ({old segment_id: (new segment_id, docmap)}), and is dropped where its
    docmap is -1 (the merge reclaimed it); other segments' rows stay. All
    of it lands in one new tombstone file (deletes.py two-phase publish)."""
    if not manifest.get("tombstone_files"):
        return {}
    sids, docs = [], [np.empty(0, dtype=np.int64)]
    for sid, dead in read_tombstones(index_dir, manifest).items():
        if sid in remap:
            sid, m = remap[sid]
            dead = m[dead]
            dead = dead[dead >= 0]
        sids += [sid] * len(dead)
        docs.append(dead)
    pairs = pd.DataFrame({"segment_id": pd.Series(sids, dtype=object),
                          "doc_id": np.concatenate(docs)})
    return {"tombstone_files": [write_tombstones(index_dir, pairs)]}


def _merge(spark: SparkSession, index_dir: str, manifest: dict,
           groups: list[list[str]], reclaim_deletes: bool) -> dict:
    """Merge `groups` in one job and publish them as ONE generation."""
    merged = _merge_group_job(spark, index_dir, manifest, groups, reclaim_deletes)
    gone = {sid for entry, _ in merged for sid in entry["merged_from"]}
    live = [s for s in manifest["segments"] if s["segment_id"] not in gone]
    live += [entry for entry, _ in merged]
    extra = {"merge": [entry["segment_id"] for entry, _ in merged]}
    extra.update(_rewrite_tombstones(index_dir, manifest, {
        sid: (entry["segment_id"], m)
        for entry, docmaps in merged for sid, m in docmaps.items()
    }))
    return mf.commit_manifest(index_dir, live, extra=extra)


def merge_once(
    spark: SparkSession,
    index_dir: str,
    group: list[str],
    reclaim_deletes: bool = False,
) -> dict:
    """Merge one group of segments into a new segment; commit new manifest.

    `reclaim_deletes=True` physically drops tombstoned docs during the
    merge and compacts docIDs (Lucene's behavior — deleted docs disappear
    when their segment is merged, and the group's tombstones with them).
    Default False keeps docIDs byte-stable (merge-invariance contract)."""
    return _merge(spark, index_dir, mf.read_manifest(index_dir), [group],
                  reclaim_deletes)


def merge_down(
    spark: SparkSession,
    index_dir: str,
    target_segments: int = SEGS_PER_TIER,
    reclaim_deletes: bool = False,
    concurrent: bool = False,
) -> dict:
    """Run merges until ≤ target_segments remain. `reclaim_deletes=True`
    drops tombstoned docs and compacts docIDs as segments merge.

    `concurrent=True` is the ConcurrentMergeScheduler analog: a round's
    groups are DISJOINT, so they merge as the tasks of one Spark job and
    the round publishes ONE manifest generation. Otherwise each group is
    its own job and generation, in turn — commits stay strictly serial
    either way, so two-phase atomicity is preserved."""
    manifest = mf.read_manifest(index_dir)
    while True:
        groups = find_merges(manifest, target_segments)
        if not groups:
            return manifest
        for batch in [groups] if concurrent else [[g] for g in groups]:
            manifest = _merge(spark, index_dir, manifest, batch, reclaim_deletes)
