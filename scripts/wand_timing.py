"""Spark-free timing of block-max WAND against exhaustive scoring.

Usage: python scripts/wand_timing.py <checkout> [--windows 4096 512]

Imports the engine from `<checkout>` (any commit that has
build_segment_frames, compile_plan, score_wand, score_exhaustive and
apply_live), so the same script measures two checkouts; run it on each in
turn, several interleaved rounds, and compare the medians. It builds one
segment of DOCS synthetic files in memory, warms its decode memo, and for
each window size and query shape prints the median µs of CALLS warm
score_wand and score_exhaustive calls, the relation score_wand reported,
its total against the exhaustive one, the windows holding a match that it
scored (counted in one extra call, from the docs it hands to apply_live),
and whether its docs and float32 scores are bit-identical to exhaustive
scoring. The last line is one JSON object of the same figures.

The hot-term shapes run at k=10, where no window can be skipped. The two
rare-OR-hot shapes are the pruning cases: `alpha` (1 doc) OR `return` at
k=1 skips windows at both sizes, and `id_4251` (10 docs) OR `return` at
k=10 can skip them at window 512.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

DOCS = 6000
CALLS = 200


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("checkout")
    ap.add_argument("--windows", type=int, nargs="+", default=[4096, 512])
    args = ap.parse_args()
    sys.path.insert(0, os.path.abspath(args.checkout))

    import numpy as np

    from lucene_solr_1_spark.corpus import make_corpus_pandas
    from lucene_solr_1_spark.index.segment import build_segment_frames
    from lucene_solr_1_spark.kernels import bm25
    from lucene_solr_1_spark.search import kernel as K
    from lucene_solr_1_spark.search.query import Bool, Occur, Term

    def either(*terms):
        return Bool.of(*((Occur.SHOULD, Term(t)) for t in terms))

    # name -> (query, k)
    shapes = {
        "return": (Term("return"), 10),
        "return OR static": (either("return", "static"), 10),
        "id_0500 OR return": (either("id_0500", "return"), 10),
        "return AND static": (Bool.of((Occur.MUST, Term("return")),
                                      (Occur.MUST, Term("static"))), 10),
        "alpha OR return": (either("alpha", "return"), 1),
        "id_4251 OR return": (either("id_4251", "return"), 10),
    }
    postings, _norms, stats = build_segment_frames(make_corpus_pandas(DOCS))
    seg = K.SegmentData(postings, stats["doc_count"])
    df = {(r.field, r.term): int(r.doc_freq) for r in postings.itertuples(index=False)}
    cache = bm25.norm_cache(bm25.avg_field_length(stats["sum_ttf"], stats["doc_count"]))

    def median_us(fn) -> float:
        times = []
        for _ in range(CALLS):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        return float(np.median(times)) * 1e6

    def windows_scored(plan, k, window) -> int:
        seen = set()
        apply_live = K.apply_live

        def counting(docs, scores, deleted):
            seen.update((np.asarray(docs) // window).tolist())
            return apply_live(docs, scores, deleted)

        K.apply_live = counting
        try:
            K.score_wand(plan, seg, cache, k, window=window)
        finally:
            K.apply_live = apply_live
        return len(seen)

    out = []
    for window in args.windows:
        n_win = -(-DOCS // window)
        for name, (q, k) in shapes.items():
            plan = K.compile_plan(q, df, stats["doc_count"])
            ed, es, et, _er = K.score_exhaustive(plan, seg, cache, k)
            wd, ws, wt, wr = K.score_wand(plan, seg, cache, k, window=window)
            identical = (np.array_equal(wd, ed)
                         and np.array_equal(ws.view(np.uint32), es.view(np.uint32)))
            row = {
                "window": window, "shape": name, "k": k,
                "wand_us": round(median_us(
                    lambda: K.score_wand(plan, seg, cache, k, window=window)), 1),
                "exhaustive_us": round(median_us(
                    lambda: K.score_exhaustive(plan, seg, cache, k)), 1),
                "relation": wr, "total": int(wt), "exhaustive_total": int(et),
                "windows_scored": windows_scored(plan, k, window),
                "identical": bool(identical),
            }
            out.append(row)
            print(f"window {window:5d}  {name:18s} k={k:<2d}  wand {row['wand_us']:8.1f} us  "
                  f"exhaustive {row['exhaustive_us']:8.1f} us  {wr:24s}  "
                  f"total {wt}/{et}  windows {row['windows_scored']}/{n_win}  "
                  f"identical {identical}")
    print(json.dumps({"docs": DOCS, "calls": CALLS,
                      "all_identical": all(r["identical"] for r in out),
                      "rows": out}))
    return 0 if all(r["identical"] for r in out) else 1


if __name__ == "__main__":
    sys.exit(main())
