"""Partition-local segment construction — pure pandas/NumPy (no Spark).

This is the DWPT analog: each Spark input partition independently inverts
its documents into one immutable segment (SURVEY.md §2.3;
index/DocumentsWriterPerThread.java, index/TermsHashPerField.java:147-185,
index/FreqProxTermsWriter.java:69-103, Lucene50PostingsWriter.java:207-380).
The inversion is a vectorized sort + run-length pass instead of a per-doc
hash insert, and it works on columns: the doc-delta, freq and
position-delta streams of every term of a field are FOR-encoded by one
`forcodec.encode_streams` call (our own block format, block for block what
the scalar `encode_blocks` writes), and each term's row holds slices of
the shared buffers — no per-term Python encode loop.

Multi-field data model (document/Field.java, index/FieldInfos.java): the
`content` field is analyzed (TextField analog — positions + freqs + norms);
the metadata columns (repo, path, commit, lang) are indexed as atomic
single-term-per-doc keyword fields (StringField analog — not analyzed,
freq 1, dl 1), so field-qualified queries (`lang:python`) and metadata
FILTER clauses run on the same postings kernel as scored text queries.
"""

from __future__ import annotations

import hashlib
import time
from itertools import chain

import numpy as np
import pandas as pd

from ..kernels.analyzer import AnalyzerConfig, STANDARD, _TOKEN_RE, flatten_tokens
from ..kernels.forcodec import block_layout, encode_streams
# not called here: perfbench's --trace 1 wraps these two names on this module
from ..kernels.forcodec import encode_blocks, encode_doc_deltas  # noqa: F401
from ..kernels.smallfloat import int_to_byte4

DOC_KEY = ["repo", "path", "commit"]

# StringField-analog keyword fields indexed alongside `content`
# (document/Field.java Store.YES + StringField; index/FieldInfos.java).
KEYWORD_FIELDS = ("repo", "path", "commit", "lang")
CONTENT_FIELD = "content"

POSTINGS_COLS = [
    "field", "term", "doc_freq", "ttf",
    "docs_enc", "docs_offsets", "freqs_enc", "freqs_offsets",
    "pos_enc", "pos_offsets", "norms_enc",
    "block_last_doc", "block_max_freq", "block_min_norm",
    "pay_enc",
]


def content_sha(texts: pd.Series) -> pd.Series:
    """Per-row sha256 hex of content — the ingest invariant
    (BASELINE.json input_hint); equals Spark's sha2(content, 256)."""
    return texts.fillna("").map(lambda t: hashlib.sha256(t.encode("utf-8")).hexdigest())


def _split(seq, bounds: np.ndarray) -> list:
    """Slices `seq[bounds[i]:bounds[i+1]]` (bytes or list) per stream."""
    b = bounds.tolist()
    return [seq[lo:hi] for lo, hi in zip(b[:-1], b[1:])]


def _invert_rows(
    field: str,
    terms: np.ndarray,
    doc_ids: np.ndarray,
    positions: np.ndarray,
    norms_by_doc: np.ndarray,
    payloads: np.ndarray | None = None,
) -> dict:
    """Invert one field's flattened token stream into posting rows.

    Input: parallel arrays (term, doc, position) + per-doc norm bytes.
    Output: {column: list} in POSTINGS_COLS order, one entry per distinct
    term — sorted terms (UTF-8 order via pd.factorize(sort=True), the
    BytesRef term order), delta-encoded doc/pos streams, per-block skip +
    impact metadata (CompetitiveImpactAccumulator simplified to one
    competitive pair (max_freq, min_norm) per block — a valid, slightly
    looser upper bound for block-max WAND).

    Built column-wise: every term's doc deltas (restarting at its first
    posting), freqs and position deltas are laid back to back and encoded
    by one `encode_streams` call; block_last_doc/max_freq/min_norm come
    from one gather/`reduceat` over all doc blocks; each cell is a slice
    of the shared buffers."""
    codes, uniq_terms = pd.factorize(pd.Series(terms), sort=True)
    order = np.lexsort((positions, doc_ids, codes))
    c, d, p = codes[order], doc_ids[order], positions[order]

    # run-length over (term, doc): one posting per run
    pair_start = np.flatnonzero(
        np.concatenate(([True], (c[1:] != c[:-1]) | (d[1:] != d[:-1])))
    )
    pair_end = np.concatenate((pair_start[1:], [len(c)]))
    pair_doc = d[pair_start]
    pair_freq = (pair_end - pair_start).astype(np.int64)

    # position deltas restart at each (term, doc) run (prox deltas,
    # FreqProxTermsWriterPerField.java:79-96 semantics, our encoding)
    pos_delta = np.diff(p, prepend=np.int64(0))
    pos_delta[pair_start] = p[pair_start]

    # term boundaries over postings; doc deltas restart at each term
    pair_term = c[pair_start]
    term_start = np.flatnonzero(
        np.concatenate(([True], pair_term[1:] != pair_term[:-1]))
    )
    term_end = np.concatenate((term_start[1:], [len(pair_term)]))
    doc_delta = np.diff(pair_doc, prepend=np.int64(0))
    doc_delta[term_start] = pair_doc[term_start]
    occ_start, occ_end = pair_start[term_start], pair_end[term_end - 1]

    # one encode_streams pass over [doc deltas | freqs | position deltas]
    n_terms, n_pairs = len(term_start), len(pair_doc)
    enc, byte_b, offsets, block_b = encode_streams(
        np.concatenate((doc_delta, pair_freq, pos_delta)),
        np.concatenate((term_start, term_start + n_pairs, occ_start + 2 * n_pairs)),
        np.concatenate((term_end, term_end + n_pairs, occ_end + 2 * n_pairs)),
    )
    offsets = offsets.tolist()
    docs, freqs, pos = (slice(i * n_terms, (i + 1) * n_terms + 1) for i in range(3))
    blocks = block_b[docs]

    # norm byte per posting doc (schemas.py norms_enc rationale), and
    # per-block skip + impact data over every term's doc blocks at once
    doc_norms = norms_by_doc[pair_doc]
    first, count, _ = block_layout(term_end - term_start)
    term_bounds = np.concatenate((term_start, [n_pairs]))
    # payload stream rides parallel to positions (the .pay alignment):
    # 4 bytes per occurrence, float32 in stream order
    occ_bounds = np.concatenate((occ_start, [len(p)]))
    pay = payloads[order].astype("<f4").tobytes() if payloads is not None else None
    return {
        "field": [field] * n_terms,
        "term": list(uniq_terms),
        "doc_freq": (term_end - term_start).tolist(),
        "ttf": np.add.reduceat(pair_freq, term_start).tolist(),
        "docs_enc": _split(enc, byte_b[docs]),
        "docs_offsets": _split(offsets, blocks),
        "freqs_enc": _split(enc, byte_b[freqs]),
        "freqs_offsets": _split(offsets, block_b[freqs]),
        "pos_enc": _split(enc, byte_b[pos]),
        "pos_offsets": _split(offsets, block_b[pos]),
        "norms_enc": _split(doc_norms.astype(np.uint8).tobytes(), term_bounds),
        "block_last_doc": _split(pair_doc[first + count - 1].tolist(), blocks),
        "block_max_freq": _split(np.maximum.reduceat(pair_freq, first).tolist(), blocks),
        "block_min_norm": _split(np.minimum.reduceat(doc_norms, first).tolist(), blocks),
        "pay_enc": (_split(pay, occ_bounds * 4) if pay is not None else [b""] * n_terms),
    }


def _token_span_columns(content_s: pd.Series) -> tuple[list, list]:
    """Per-doc character spans of every RAW token (pre-filter, aligned
    with postings positions), as little-endian int32 byte blobs — the
    offsets payload (Lucene IndexOptions ..._AND_OFFSETS analog; stored
    per DOC in the docmap instead of per posting in a .pay stream, the
    columnar equivalent). Spans are computed on the ORIGINAL stored
    content (\\w matches both cases, so boundaries equal the lowered
    text's for any case-preserving script) — offsets index straight into
    the stored `content` column."""
    starts_col, ends_col = [], []
    for text in content_s:
        spans = [m.span() for m in _TOKEN_RE.finditer(text)]
        a = np.asarray(spans, dtype=np.int32).reshape(-1, 2)
        starts_col.append(a[:, 0].tobytes())
        ends_col.append(a[:, 1].tobytes())
    return starts_col, ends_col


def build_segment_frames(
    pdf: pd.DataFrame, cfg: AnalyzerConfig = STANDARD,
    store_offsets: bool = False,
    presorted: bool = False,
    store_payloads: bool = False,
) -> tuple[pd.DataFrame, pd.DataFrame, dict]:
    """Invert one partition of corpus rows into (postings, norms) frames.

    Rows are sorted by (repo, path, commit) so per-segment docIDs are
    deterministic for any partitioning (SURVEY.md §7 'hard parts' (5)).
    `presorted=True` keeps the CALLER's row order as the docID order —
    the index-sort path (IndexSorter), where the builder already sorted
    by (sort value, doc key).

    `store_offsets=True` additionally stores per-doc token character
    spans (off_starts/off_ends docmap columns) so highlighting can cut
    snippets WITHOUT re-tokenizing stored content — opt-in, like the
    reference's offsets IndexOption (costs ~1.4x tokenization time and
    8 bytes/token of storage).
    """
    t0 = time.monotonic()
    if cfg.breaks_alignment and (store_offsets or store_payloads):
        # offsets/payloads align 1:1 with RAW token positions in the
        # ORIGINAL content; a chain stage that renumbers positions or
        # changes the character stream breaks that (the reference pairs
        # these filters with offset-correction state we don't store)
        names = [s.name for s in cfg.stages if s.breaks_alignment]
        raise ValueError(
            f"analyzers with {'/'.join(names)} stages do not support "
            "store_offsets/store_payloads"
        )
    if not presorted:
        pdf = pdf.sort_values(DOC_KEY, kind="mergesort").reset_index(drop=True)
    n_docs = len(pdf)
    pay_tok = None
    if store_payloads:
        # DelimitedPayloadTokenFilter at index time: strip `tok|<float>`
        # annotations, record a float32 per RAW token position (default
        # 1.0 = the null-payload convention). The CLEAN text is what gets
        # analyzed, stored and sha'd — payloads are metadata, not content.
        from ..kernels.analyzer import parse_delimited_payloads

        cleaned, pay_docs = [], []
        for text in pdf["content"].fillna(""):
            c, pv = parse_delimited_payloads(text)
            cleaned.append(c)
            pay_docs.append(pv)
        pdf = pdf.assign(content=pd.Series(cleaned, index=pdf.index))
        pay_flat = (
            np.concatenate(pay_docs) if pay_docs else np.empty(0, dtype=np.float32)
        )
        pay_counts = np.asarray([len(v) for v in pay_docs], dtype=np.int64)
        pay_doc_off = np.cumsum(pay_counts) - pay_counts
    terms, doc_ids, positions, doc_len = flatten_tokens(pdf["content"], cfg)
    if store_payloads:
        # payload of each KEPT token = its raw position's entry
        pay_tok = pay_flat[pay_doc_off[doc_ids] + positions] if len(terms) else (
            np.empty(0, dtype=np.float32)
        )
    norms = int_to_byte4(doc_len)
    content_s = pdf["content"].fillna("")

    norms_pdf = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "norm": norms.astype(np.int64),
            "dl": doc_len,
            "n_chars": content_s.str.len().to_numpy(dtype=np.int64)
            if n_docs
            else np.empty(0, dtype=np.int64),
            "repo": pdf["repo"].to_numpy(),
            "path": pdf["path"].to_numpy(),
            "commit": pdf["commit"].to_numpy(),
            "lang": pdf["lang"].to_numpy(),
            "content_sha": content_sha(pdf["content"]).to_numpy(),
            "content": content_s.to_numpy(),
        }
    )
    if store_offsets:
        off_starts, off_ends = _token_span_columns(content_s)
        norms_pdf["off_starts"] = off_starts
        norms_pdf["off_ends"] = off_ends

    field_stats = {
        CONTENT_FIELD: {"sum_ttf": int(doc_len.sum()), "doc_count": int(n_docs)},
    }
    stats = {
        "doc_count": int(n_docs),
        "sum_ttf": int(doc_len.sum()),
        "min_key": "|".join(pdf.iloc[0][DOC_KEY]) if n_docs else "",
        "max_key": "|".join(pdf.iloc[-1][DOC_KEY]) if n_docs else "",
    }

    fields = []
    content_doc_freqs = []
    if len(terms):
        fields.append(_invert_rows(CONTENT_FIELD, terms, doc_ids, positions,
                                   norms.astype(np.int64), payloads=pay_tok))
        content_doc_freqs = fields[0]["doc_freq"]

    # keyword fields: one atomic term per doc, freq 1, position 0, dl 1
    # (StringField: indexed, not analyzed, no norms → norm byte for dl=1)
    if n_docs:
        kw_doc_ids = np.arange(n_docs, dtype=np.int64)
        kw_pos = np.zeros(n_docs, dtype=np.int64)
        kw_norms = np.full(n_docs, int(int_to_byte4(np.asarray([1]))[0]),
                           dtype=np.int64)
        for kw in KEYWORD_FIELDS:
            vals = pdf[kw].fillna("").to_numpy(dtype=object)
            fields.append(_invert_rows(kw, vals, kw_doc_ids, kw_pos, kw_norms))
            field_stats[kw] = {"sum_ttf": int(n_docs), "doc_count": int(n_docs)}

    stats.update(
        distinct_terms=len(content_doc_freqs),
        total_postings=sum(content_doc_freqs),
        build_wall_s=time.monotonic() - t0,
        field_stats=field_stats,
    )
    return _postings_frame(fields), norms_pdf, stats


def _postings_frame(fields: list[dict]) -> pd.DataFrame:
    """A segment's posting rows: the `_invert_rows` output of each field,
    field after field."""
    if not fields:
        return pd.DataFrame({c: pd.Series(dtype=object) for c in POSTINGS_COLS})
    return pd.DataFrame({
        c: list(chain.from_iterable(f[c] for f in fields)) for c in POSTINGS_COLS
    })

