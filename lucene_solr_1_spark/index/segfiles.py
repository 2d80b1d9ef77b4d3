"""Driver-side reads of committed segment files — the per-leaf lookups a
Lucene searcher makes in its own process (TermStates seeking each leaf's
term dictionary, StoredFieldsReader reading the .fdt, the writer
resolving delete terms per segment), done with pyarrow instead of a
Spark job round trip.

Each file is read key columns first: `field`/`term` for postings,
`doc_id` (or `path`) for the docmap. The requested columns are read only
from the row groups that hold a hit, and only the hit rows are kept, so
the heavy columns (`docs_enc`, `content`, ...) of a file without a hit
are never decoded. Files are resolved through the manifest
(`postings_paths`/`norms_paths`), so doc-values generations
(`norms-g<N>.parquet`) and merged segments written by Spark as a
directory of part files both read correctly.
"""

from __future__ import annotations

import os
from typing import Callable, Iterable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from .builder import norms_paths, postings_paths


def _parquet_files(path: str) -> list[str]:
    """A segment file is one parquet file, or (merged segments) a Spark
    output directory of part files next to _SUCCESS/.crc markers."""
    if not os.path.isdir(path):
        return [path]
    return [
        os.path.join(path, f)
        for f in sorted(os.listdir(path))
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ]


def _read_rows(
    sources: Iterable[tuple[str, Callable[[pa.Table], pa.Array]]],
    key_columns: list[str],
    columns: list[str],
) -> pd.DataFrame:
    """Rows of each `(path, match)` source whose key columns satisfy
    `match` (a boolean mask over the key table), projected to `columns`."""
    frames, schema = [], None
    for path, match in sources:
        for f in _parquet_files(path):
            with pq.ParquetFile(f) as pf:
                if schema is None:
                    schema = pa.schema([pf.schema_arrow.field(c) for c in columns])
                hit = np.flatnonzero(
                    match(pf.read(columns=key_columns)).to_numpy(zero_copy_only=False)
                )
                if not len(hit):
                    continue
                # read only the row groups holding a hit, then take the hits
                ends = np.cumsum([
                    pf.metadata.row_group(i).num_rows
                    for i in range(pf.num_row_groups)
                ])
                groups = np.unique(np.searchsorted(ends, hit, side="right"))
                rows = np.concatenate(
                    [np.arange(ends[g - 1] if g else 0, ends[g]) for g in groups]
                )
                table = pf.read_row_groups(groups.tolist(), columns=columns)
            frames.append(table.take(np.searchsorted(rows, hit)).to_pandas())
    if frames:
        return pd.concat(frames, ignore_index=True)
    if schema is None:
        return pd.DataFrame(columns=columns)
    return schema.empty_table().to_pandas()


def read_postings(
    index_dir: str, manifest: dict, keys: set, columns: list[str]
) -> pd.DataFrame:
    """Posting rows of every committed segment for a set of (field, term)
    keys, projected to `columns` (one row per segment holding the key)."""
    by_field: dict[str, list] = {}
    for f, t in keys:
        by_field.setdefault(f, []).append(t)

    def match(t: pa.Table) -> pa.Array:
        mask = pa.array(np.zeros(len(t), dtype=bool))
        for f, terms in by_field.items():
            mask = pc.or_(mask, pc.and_(
                pc.equal(t["field"], f),
                pc.is_in(t["term"], value_set=pa.array(terms, pa.string())),
            ))
        return mask

    paths = postings_paths(index_dir, manifest)
    return _read_rows([(p, match) for p in paths], ["field", "term"], columns)


def _isin(column: str, values: pa.Array) -> Callable[[pa.Table], pa.Array]:
    return lambda t: pc.is_in(t[column], value_set=values)


def read_docmap(
    index_dir: str, manifest: dict, pairs: pd.DataFrame, columns: list[str]
) -> pd.DataFrame:
    """Docmap (stored-field) rows of a set of (segment_id, doc_id) pairs,
    projected to `columns`. Only the pairs' segments are opened."""
    paths = dict(zip(
        (s["segment_id"] for s in manifest["segments"]),
        norms_paths(index_dir, manifest),
    ))
    sources = [
        (paths[sid], _isin("doc_id", pa.array(g["doc_id"].to_numpy(np.int64))))
        for sid, g in pairs.groupby("segment_id", sort=False)
    ]
    return _read_rows(sources, ["doc_id"], columns)


def read_docmap_by_path(
    index_dir: str, manifest: dict, doc_paths: Iterable[str], columns: list[str]
) -> pd.DataFrame:
    """Docmap rows whose unique key `path` is one of `doc_paths`, from every
    committed segment (tombstoned versions included)."""
    match = _isin("path", pa.array(list(doc_paths), pa.string()))
    paths = norms_paths(index_dir, manifest)
    return _read_rows([(p, match) for p in paths], ["path"], columns)
