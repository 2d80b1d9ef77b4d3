"""The lead-clause Boolean kernel against the full-scoring one it replaced.

kernel._eval_bool intersects the required clauses' doc lists shortest
first and scores a MUST or SHOULD term only at the surviving docs. The
kernel it replaced scored every clause over its whole postings list and
intersected with np.isin; it is kept here, unchanged, as the reference.
On seeded random plans over one segment and over a three-member leaf
slice, both must give bit-identical docs and float64 scores, under BM25
and under two other similarities, with and without tombstones. The
plans mix MUST, FILTER, SHOULD and MUST_NOT clauses, minShouldMatch 0
to 3, nested Bools, Phrases, Synonyms, doc-values sets, absent terms and
duplicate clauses.
"""

import numpy as np
import pandas as pd
import pytest

from lucene_solr_1_spark.corpus import KEYWORDS, make_corpus_pandas
from lucene_solr_1_spark.index.segment import build_segment_frames
from lucene_solr_1_spark.kernels import bm25
from lucene_solr_1_spark.search import kernel as K
from lucene_solr_1_spark.search.searcher import _dictionary_matches
from lucene_solr_1_spark.search.query import (
    Bool, NumericRange, Occur, Phrase, Prefix, Synonym, Term,
)

N_DOCS = 360
N_MEMBERS = 3
N_PLANS = 300
SEED = 20261019
ABSENT = "zz_absent"
OCCURS = (Occur.MUST, Occur.FILTER, Occur.SHOULD, Occur.MUST_NOT)


# ---------------- the reference: the pre-lead-clause kernel ----------------

def _ref_eval(node, seg, cache):
    """kernel.eval_node, with every Bool evaluated by _ref_eval_bool."""
    if node["type"] == "bool":
        return _ref_eval_bool(node, seg, cache)
    return K.eval_node(node, seg, cache)


def _ref_eval_bool(node, seg, cache):
    musts, shoulds, filters, must_nots = [], [], [], []
    for cl in node["clauses"]:
        sub = _ref_eval(cl["node"], seg, cache)
        {"MUST": musts, "SHOULD": shoulds, "FILTER": filters, "MUST_NOT": must_nots}[
            cl["occur"]
        ].append(sub)
    msm = node["msm"]

    if musts or filters:
        cand = None
        for d, _ in musts + filters:
            cand = d if cand is None else cand[np.isin(cand, d, assume_unique=True)]
        scores = np.zeros(len(cand), dtype=np.float64)
        for d, s in musts:
            idx = np.searchsorted(d, cand)
            scores += s[idx]
        if shoulds:
            scnt = np.zeros(len(cand), dtype=np.int64)
            for d, s in shoulds:
                m = np.isin(cand, d, assume_unique=True)
                idx = np.searchsorted(d, cand[m])
                scores[m] += s[idx]
                scnt[m] += 1
            if msm > 0:
                keep = scnt >= msm
                cand, scores = cand[keep], scores[keep]
        docs = cand
    else:
        eff_msm = max(msm, 1)
        if not shoulds:
            return K._EMPTY_I, K._EMPTY_F
        alldocs = np.concatenate([d for d, _ in shoulds])
        allscores = np.concatenate([s for _, s in shoulds])
        docs, inv = np.unique(alldocs, return_inverse=True)
        scores = np.zeros(len(docs), dtype=np.float64)
        np.add.at(scores, inv, allscores)
        cnt = np.bincount(inv, minlength=len(docs))
        keep = cnt >= eff_msm
        docs, scores = docs[keep], scores[keep]

    for d, _ in must_nots:
        m = ~np.isin(docs, d, assume_unique=True)
        docs, scores = docs[m], scores[m]
    return docs, scores


# ---------------- a segment, a slice and random plans ----------------------

def _subject(postings: pd.DataFrame, seg, n_docs: int, rng) -> dict:
    df: dict = {}
    for r in postings.itertuples(index=False):
        df[(r.field, r.term)] = df.get((r.field, r.term), 0) + int(r.doc_freq)
    content = postings[postings["field"] == "content"]
    # content terms from the rarest to the commonest: trees draw from
    # every frequency band
    ranked = content.groupby("term")["doc_freq"].sum().sort_values(kind="stable")
    tokens = int(content["ttf"].sum())
    sets = {}
    for lo in range(0, 200, 20):  # NumericRange("dl", lo, lo + 60)'s set
        size = int(rng.integers(0, n_docs // 2))
        sets[K.numeric_set_id(NumericRange("dl", lo, lo + 60))] = np.sort(
            rng.choice(n_docs, size=size, replace=False)).astype(np.int64)
    deleted = np.sort(rng.choice(n_docs, size=n_docs // 12, replace=False)).astype(np.int64)
    return {
        "seg": seg.with_allowed(sets), "df": df, "n_docs": n_docs,
        "terms": ranked.index.tolist(), "langs": sorted(set(postings.loc[
            postings["field"] == "lang", "term"])),
        "cache": bm25.norm_cache(bm25.avg_field_length(tokens, n_docs)),
        "tokens": tokens, "deleted": deleted,
    }


@pytest.fixture(scope="module")
def subjects():
    """One segment of N_DOCS docs, and the same corpus cut into
    N_MEMBERS segments read as one K.SliceData."""
    rng = np.random.default_rng(SEED)
    corpus = make_corpus_pandas(N_DOCS)
    postings, _norms, stats = build_segment_frames(corpus)
    whole = _subject(postings, K.SegmentData(postings, stats["doc_count"]),
                     stats["doc_count"], rng)
    frames, shifts, base = [], {}, 0
    for i, chunk in enumerate(np.array_split(np.arange(N_DOCS), N_MEMBERS)):
        p, _n, st = build_segment_frames(corpus.iloc[chunk].reset_index(drop=True))
        frames.append(p.assign(segment_id=f"s{i}"))
        shifts[f"s{i}"] = base
        base += st["doc_count"]
    rows = pd.concat(frames, ignore_index=True)
    piece = _subject(rows, K.SliceData(rows, base, shifts), base, rng)
    assert len(piece["seg"].rows) < len(rows)  # members share keys
    return {"segment": whole, "slice": piece}


def _term(sub, rng):
    if rng.random() < 0.08:
        return ABSENT
    terms = sub["terms"]
    # half hot keywords (long lists), the rest from any band, rare ones
    # less often
    if rng.random() < 0.5:
        hot = [t for t in KEYWORDS if ("content", t) in sub["df"]]
        return str(rng.choice(hot))
    return str(terms[int(len(terms) * (1.0 - rng.random() ** 2))])


def _leaf(sub, rng, positional: bool):
    kind = int(rng.integers(6 if positional else 4))
    if kind == 0 or kind == 1:
        return Term(_term(sub, rng))
    if kind == 2:
        return Term(str(rng.choice(sub["langs"])), field="lang")
    if kind == 3:
        return NumericRange("dl", int(rng.integers(10)) * 20,
                            int(rng.integers(10)) * 20 + 60)
    if kind == 4:
        return Phrase((str(rng.choice(KEYWORDS)), str(rng.choice(KEYWORDS))))
    return Synonym((_term(sub, rng), _term(sub, rng)))


def _tree(sub, rng, depth: int, positional: bool):
    """A random Bool: 1-5 clauses of any occur (a clause is sometimes
    repeated), minShouldMatch 0-3, children leaves or Bools."""
    clauses = []
    for _ in range(int(rng.integers(1, 6))):
        if clauses and rng.random() < 0.12:
            clauses.append(clauses[int(rng.integers(len(clauses)))])
            continue
        child = (_tree(sub, rng, depth - 1, positional)
                 if depth and rng.random() < 0.3 else _leaf(sub, rng, positional))
        clauses.append((OCCURS[int(rng.choice(4, p=[0.3, 0.2, 0.35, 0.15]))], child))
    return Bool.of(*clauses, min_should_match=int(rng.choice([0, 0, 1, 2, 3])))


def _sim(name: str, sub) -> dict | None:
    if name == "bm25":
        return None
    if name == "classic":
        return {"name": "classic"}
    return {"name": "dfr_inl2", "field_tokens": {"content": sub["tokens"], "lang": sub["n_docs"]}}


def _plans(sub, seed: int):
    rng = np.random.default_rng(seed)
    for i in range(N_PLANS):
        sim = ("bm25", "classic", "dfr")[i % 3]
        # DFR takes single-term stats only: no Phrase or Synonym under it
        q = _tree(sub, rng, 2, positional=sim != "dfr")
        yield q, K.compile_plan(q, sub["df"], sub["n_docs"], sim=_sim(sim, sub))


def _bits(docs, scores):
    return docs.tolist(), scores.view(np.uint64).tolist()


@pytest.mark.parametrize("which", ["segment", "slice"])
def test_lead_clause_kernel_is_bit_identical(subjects, which):
    sub = subjects[which]
    seg, cache = sub["seg"], sub["cache"]
    shapes = set()
    for q, plan in _plans(sub, SEED + (which == "slice")):
        got = K.eval_node(plan, seg, cache)
        want = _ref_eval(plan, seg, cache)
        assert got[1].dtype == np.float64, q
        assert _bits(*got) == _bits(*want), q
        live = K.apply_live(*got, sub["deleted"])
        keep = ~np.isin(want[0], sub["deleted"], assume_unique=True)
        assert _bits(*live) == _bits(want[0][keep], want[1][keep]), q
        shapes.add(len(got[0]) > 0)
    assert shapes == {True, False}  # some plans match, some match nothing


def test_tombstones_and_totals_agree_with_the_reference(subjects):
    """score_exhaustive's top-k and total over a tombstoned slice."""
    sub = subjects["slice"]
    seg, cache, deleted = sub["seg"], sub["cache"], sub["deleted"]
    for q, plan in _plans(sub, SEED + 7):
        d, s, total, rel = K.score_exhaustive(plan, seg, cache, 10, deleted=deleted)
        docs, scores = _ref_eval(plan, seg, cache)
        keep = ~np.isin(docs, deleted, assume_unique=True)
        wd, ws = K.top_k(docs[keep], scores[keep], 10)
        assert (total, rel) == (int(keep.sum()), "EQUAL_TO"), q
        assert d.tolist() == wd.tolist(), q
        assert s.view(np.uint32).tolist() == ws.view(np.uint32).tolist(), q


def test_member_matches_isin():
    rng = np.random.default_rng(SEED)
    for n, m in [(0, 0), (0, 5), (5, 0), (1, 1), (40, 7), (7, 400), (300, 300)]:
        a = np.unique(rng.integers(0, 500, size=n)).astype(np.int64)
        b = np.unique(rng.integers(0, 500, size=m)).astype(np.int64)
        hit, idx = K._member(a, b)
        assert hit.tolist() == np.isin(a, b).tolist()
        assert (b[idx[hit]] == a[hit]).all()


def test_prefix_decodes_only_doc_streams(subjects, monkeypatch):
    """A top-level Prefix (constant-score anyterm) on a cold segment
    decodes one stream per listed posting row, the doc stream, and
    matches what the full postings decode gives."""
    sub = subjects["slice"]
    rows = sub["seg"].rows
    terms = np.asarray(sorted(t for f, t in rows if f == "content"), dtype=object)
    keys = [("content", t) for t in terms[_dictionary_matches(Prefix("id_00"), terms)]]
    assert len(keys) > 3
    plan = {"type": "anyterm", "score": np.float32(1.0), "keys": keys}
    n_rows = sum(len(rows[k]) for k in keys)
    shifts = sub["seg"].shifts

    def cold():
        frame = pd.DataFrame([r for k in keys for _, r in rows[k]])
        return K.SliceData(frame, sub["n_docs"], shifts)

    decoded = []
    real = K.decode_all

    def spy(buf, offsets):
        decoded.append(buf)
        return real(buf, offsets)

    freq_streams = {bytes(r.freqs_enc) for k in keys for _, r in rows[k]}
    doc_streams = {bytes(r.docs_enc) for k in keys for _, r in rows[k]}
    with monkeypatch.context() as m:
        m.setattr(K, "decode_all", spy)
        docs, scores = K.eval_node(plan, cold(), sub["cache"])
    assert len(decoded) == n_rows
    assert all(b in doc_streams for b in decoded)
    assert not any(b in freq_streams and b not in doc_streams for b in decoded)
    full = cold()
    want = np.unique(np.concatenate([full.postings(k)[0] for k in keys]))
    assert docs.tolist() == want.tolist()
    assert (scores == 1.0).all()
