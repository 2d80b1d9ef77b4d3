"""Driver-side reads of committed segment files — the per-leaf lookups a
Lucene searcher makes in its own process (TermStates seeking each leaf's
term dictionary, Terms.intersect walking it, NumericDocValues and
StoredFieldsReader reading the .dvd and .fdt, the writer resolving delete
terms per segment), done with pyarrow instead of a Spark job round trip.
The searcher's Spark route runs the same reads inside its tasks, one leaf
slice's segments each.

Every segment file is one parquet file (a flush and a merge write it the
same way), resolved through the manifest (`postings_paths`/
`norms_paths`), so doc-values generations (`norms-g<N>.parquet`) read
correctly.

The reader pool (IndexWriter.ReaderPool / the SegmentReaders that
DirectoryReader.openIfChanged shares across reopens). Each file is opened
once per process: its parsed parquet footer and its key columns stay in a
process-wide pool — `field`/`term`/`doc_freq`/`ttf` for postings,
`doc_id` and `path` for a docmap — with each key column sorted once, so a
lookup is a `np.searchsorted`, not a scan. A lookup that wants only
pooled columns (df/ttf) opens no file; otherwise the file is opened
with the pooled footer and only the requested columns of the row groups
holding a hit are read, and only the hit rows kept. Tombstone files
(index/deletes.py) pool their parsed (segment_id, doc_ids) arrays the
same way.

- Validation: an entry is keyed by path and served only while the
  file's `(st_dev, st_ino, st_size, st_mtime_ns, st_ctime_ns)` still
  equal those it was loaded with; a heavy read re-checks them on the
  open file handle, so it never pairs one file's footer with another's
  bytes. A deleted file raises FileNotFoundError and leaves the pool.
- Eviction: segment, docmap and tombstone files are write-once, and
  every in-process write to a pooled path (`builder._write_parquet`,
  `deletes.write_tombstones`, the doc-values generation and merge
  writers, a Spark build's flush) calls `evict`; past the budget the
  least recently used entries go.
- Budget: POOL_BYTES of key columns, indexes and footers, a module
  constant like MAX_DOCS_PER_SLICE. One lock guards the pool; loads run
  outside it.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from typing import Callable, Iterable, NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from .builder import norms_paths, postings_paths

# the pool's byte budget (key columns + sorted indexes + footers): a
# 1,500-doc segment's postings entry is ~0.6 MB, its docmap's ~0.12 MB
POOL_BYTES = 128 << 20

_POSTINGS_KEYS = ("field", "term", "doc_freq", "ttf")
_DOCMAP_KEYS = ("doc_id", "path")


class _Entry(NamedTuple):
    stat: tuple
    value: object
    nbytes: int


def _stat_key(st: os.stat_result) -> tuple:
    return (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)


class _ReaderPool:
    """An LRU of pooled files by path, within POOL_BYTES; `lock` guards
    `entries` and their summed `nbytes`."""

    def __init__(self):
        self.lock = threading.Lock()
        self.entries: OrderedDict[str, _Entry] = OrderedDict()
        self.nbytes = 0

    def evict(self, *paths: str) -> None:
        with self.lock:
            for path in paths:
                e = self.entries.pop(path, None)
                if e is not None:
                    self.nbytes -= e.nbytes

    def load(self, path: str, f, load: Callable) -> _Entry:
        """Load `path` from its open handle `f` with `load(f) -> (value,
        nbytes)` and pool it, evicting least recently used entries past
        POOL_BYTES."""
        stat = _stat_key(os.fstat(f.fileno()))
        entry = _Entry(stat, *load(f))
        with self.lock:
            old = self.entries.pop(path, None)
            if old is not None:
                self.nbytes -= old.nbytes
            if entry.nbytes <= POOL_BYTES:
                self.entries[path] = entry
                self.nbytes += entry.nbytes
                while self.nbytes > POOL_BYTES:
                    self.nbytes -= self.entries.popitem(last=False)[1].nbytes
        return entry

    def get(self, path: str, load: Callable) -> _Entry:
        """The entry of `path`, (re)loaded when absent or stale."""
        try:
            stat = _stat_key(os.stat(path))
        except FileNotFoundError:
            self.evict(path)
            raise
        with self.lock:
            e = self.entries.get(path)
            if e is not None and e.stat == stat:
                self.entries.move_to_end(path)
                return e
        with open(path, "rb") as f:
            return self.load(path, f, load)


_POOL = _ReaderPool()


def evict(*paths: str) -> None:
    """Drop the pool entries of `paths` (a writer has just written them)."""
    _POOL.evict(*paths)


def pooled_value(path: str, load: Callable) -> object:
    """`load(file) -> (value, nbytes)`'s value for `path`, read once while
    the file stays unchanged (deletes.read_tombstones' per-file arrays)."""
    return _POOL.get(path, load).value


def _fixed_bytes(arr: pa.Array) -> np.ndarray:
    """A string array as NumPy fixed-width bytes (`S<max len>`, UTF-8,
    NUL-padded): sorts and compares bytewise, in C."""
    arr = pc.cast(arr, pa.string())
    n = len(arr)
    offs = np.frombuffer(arr.buffers()[1], np.int32)[arr.offset:arr.offset + n + 1]
    lens = np.diff(offs)
    width = max(int(lens.max()) if n else 0, 1)
    out = np.zeros((n, width), np.uint8)
    if n and offs[-1] > offs[0]:
        data = np.frombuffer(arr.buffers()[2], np.uint8)
        out[np.arange(width) < lens[:, None]] = data[offs[0]:offs[-1]]
    return out.view(f"S{width}").ravel()


def _sorted_index(keys: np.ndarray, rows: np.ndarray) -> tuple:
    order = np.argsort(keys, kind="stable")
    return keys[order], rows[order]


class _Reader:
    """One pooled segment file: its footer, its key columns and, per key
    column, `{group: (sorted keys, row ids)}` — postings terms grouped by
    field, a docmap's doc_id and path under one group (None)."""

    def __init__(self, f, key_columns: tuple):
        pf = pq.ParquetFile(f)
        self.metadata = pf.metadata
        self.schema = pf.schema_arrow
        self.row_ends = np.cumsum([
            self.metadata.row_group(i).num_rows for i in range(pf.num_row_groups)
        ])
        present = [c for c in key_columns if c in self.schema.names]
        self.keys = pf.read(columns=present).combine_chunks()
        self.index: dict[str, dict] = {}
        rows = np.arange(self.keys.num_rows, dtype=np.int64)
        if "term" in present:
            fields = self.keys["field"].to_numpy(zero_copy_only=False)
            terms = self.keys["term"].combine_chunks()
            self.index["term"] = {}
            for f in pd.unique(fields):
                mine = rows[fields == f]
                self.index["term"][f] = _sorted_index(
                    _fixed_bytes(terms.take(pa.array(mine))), mine
                )
        for c in ("doc_id", "path"):
            if c in present:
                col = self.keys[c].combine_chunks()
                keys = (_fixed_bytes(col) if pa.types.is_string(col.type)
                        else col.to_numpy(zero_copy_only=False).astype(np.int64))
                self.index[c] = {None: _sorted_index(keys, rows)}

    @property
    def nbytes(self) -> int:
        idx = sum(k.nbytes + r.nbytes for groups in self.index.values()
                  for k, r in groups.values())
        return self.keys.nbytes + idx + self.metadata.serialized_size

    def find(self, column: str, wanted: dict) -> np.ndarray:
        """Sorted row ids whose `column` value is one of `wanted[group]`."""
        hits = []
        for group, values in wanted.items():
            found = self.index.get(column, {}).get(group)
            if found is None:
                continue
            keys, rows = found
            if keys.dtype.kind == "S":
                enc = [v.encode() for v in values if v is not None]
                q = np.array([v for v in enc if len(v) <= keys.itemsize], keys.dtype)
            else:
                q = np.asarray(values, np.int64)
            lo = np.searchsorted(keys, q, "left")
            n = np.searchsorted(keys, q, "right") - lo
            starts = np.repeat(lo - (np.cumsum(n) - n), n)
            hits.append(rows[starts + np.arange(int(n.sum()))])
        return np.unique(np.concatenate(hits)) if hits else np.empty(0, np.int64)


def _reader_loader(key_columns: tuple) -> Callable:
    def load(f) -> tuple:
        r = _Reader(f, key_columns)
        return r, r.nbytes
    return load


def _reader(path: str, key_columns: tuple) -> _Entry:
    return _POOL.get(path, _reader_loader(key_columns))


def _read_hits(f, r: _Reader, hit: np.ndarray, columns: list[str]) -> pa.Table:
    """Rows `hit` of the open file `f` (pooled as `r`), projected to
    `columns`: only the row groups holding a hit are read."""
    groups = np.unique(np.searchsorted(r.row_ends, hit, side="right"))
    rows = np.concatenate([
        np.arange(r.row_ends[g - 1] if g else 0, r.row_ends[g]) for g in groups
    ])
    table = pq.ParquetFile(f, metadata=r.metadata).read_row_groups(
        groups.tolist(), columns=columns
    )
    return table.take(np.searchsorted(rows, hit))


def _read_rows(
    sources: Iterable[tuple[str, dict]],
    key_columns: tuple,
    key: str,
    columns: list[str],
) -> pd.DataFrame:
    """Rows of each `(path, wanted)` source whose `key` column holds one of
    `wanted[group]` (`_Reader.find`), projected to `columns`; a file is
    opened only when a hit needs a column the pool does not hold."""
    frames, schema = [], None
    for path, wanted in sources:
        entry = _reader(path, key_columns)
        r = entry.value
        if schema is None:
            schema = pa.schema([r.schema.field(c) for c in columns])
        hit = r.find(key, wanted)
        if not len(hit):
            continue
        if set(columns) <= set(r.keys.column_names):
            frames.append(r.keys.select(columns).take(hit).to_pandas())
            continue
        with open(path, "rb") as f:
            if _stat_key(os.fstat(f.fileno())) != entry.stat:  # replaced since
                r = _POOL.load(path, f, _reader_loader(key_columns)).value
                hit = r.find(key, wanted)
            if len(hit):
                frames.append(_read_hits(f, r, hit, columns).to_pandas())
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
    paths = postings_paths(index_dir, manifest) if keys else []
    return _read_rows([(p, by_field) for p in paths], _POSTINGS_KEYS, "term", columns)


def term_dictionary(index_dir: str, manifest: dict) -> pd.DataFrame:
    """The committed segments' term dictionary, from the pooled key
    columns (no file the pool holds is opened): one `field`, `term`,
    `doc_freq` row per distinct key, doc_freq summed over the segments,
    in (field, term) order — UTF-8 byte order, which is code-point
    order."""
    t = pa.concat_tables([
        _reader(p, _POSTINGS_KEYS).value.keys.select(["field", "term", "doc_freq"])
        for p in postings_paths(index_dir, manifest)
    ], promote_options="permissive")
    t = t.group_by(["field", "term"]).aggregate([("doc_freq", "sum")])
    t = t.sort_by([("field", "ascending"), ("term", "ascending")])
    return t.select(["field", "term", "doc_freq_sum"]).rename_columns(
        ["field", "term", "doc_freq"]).to_pandas()


def read_docvalues(index_dir: str, manifest: dict, columns: list[str]) -> dict:
    """{segment_id: its docmap's `doc_id` and `columns`, whole, in doc_id
    order} for every committed segment, through `norms_paths` so a
    doc-values generation (`norms-g<N>.parquet`) is the one read."""
    out = {}
    for s, path in zip(manifest["segments"], norms_paths(index_dir, manifest)):
        pdf = pq.read_table(path, columns=["doc_id", *columns]).to_pandas()
        out[s["segment_id"]] = pdf.sort_values("doc_id", kind="stable")
    return out


def postings_columns(index_dir: str, manifest: dict) -> list[str]:
    """Column names of the committed postings files, from the first
    file's schema (the one `_read_rows` takes): segments written before
    payloads lack `pay_enc`."""
    path = postings_paths(index_dir, manifest)[0]
    return _reader(path, _POSTINGS_KEYS).value.schema.names


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
        (paths[sid], {None: g["doc_id"].to_numpy(np.int64)})
        for sid, g in pairs.groupby("segment_id", sort=False)
    ]
    return _read_rows(sources, _DOCMAP_KEYS, "doc_id", columns)


def read_docmap_by_path(
    index_dir: str, manifest: dict, doc_paths: Iterable[str], columns: list[str]
) -> pd.DataFrame:
    """Docmap rows whose unique key `path` is one of `doc_paths`, from every
    committed segment (tombstoned versions included)."""
    wanted = {None: list(doc_paths)}
    paths = norms_paths(index_dir, manifest)
    return _read_rows([(p, wanted) for p in paths], _DOCMAP_KEYS, "path", columns)
