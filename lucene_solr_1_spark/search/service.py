"""Concurrent searcher service — the resident-search-process posture.

A Lucene/Solr deployment holds one IndexSearcher and serves many queries
concurrently on a thread pool (IndexSearcher leaf slices,
SolrIndexSearcher request threads). Spark's analog: ONE long-lived
SparkSession + searcher, with a driver-side thread pool submitting
independent searches — a query that fits one slice runs on its pool
thread, and the Spark scheduler interleaves the tasks of bigger ones
across executor slots, overlapping each query's dispatch latency with
another's compute.

Three throughput levers, coarsest to finest:
- `search_many`: N queries scored as ONE batch (shared read + decode;
  one Spark job, or none when the batch fits one slice) — highest
  throughput, one latency for the whole batch;
- `SearcherService.search_all`: N independent searches on a thread pool
  — per-query latencies, dispatch overlapped;
- plain `search()`: one query; a query whose work fits one slice
  (searcher.MAX_DOCS_PER_SLICE) is scored on the calling thread with no
  Spark job, a bigger one is one Spark job of one task per leaf slice.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pandas as pd

from .searcher import LuceneSparkSearcher


class SearcherService:
    def __init__(
        self,
        spark=None,
        index_dir: str | None = None,
        max_concurrent: int = 8,
        searcher: LuceneSparkSearcher | None = None,
    ):
        """Open an index (spark + index_dir) or wrap an existing
        `searcher` — callers reusing a warm searcher pass it directly."""
        if searcher is None:
            searcher = LuceneSparkSearcher(spark, index_dir)
        self.searcher = searcher
        self._pool = ThreadPoolExecutor(max_workers=max_concurrent)
        import threading

        # search_local fills the searcher's shared local caches (posting
        # rows per key, the per-segment SegmentData decode caches and the
        # doc-values sets) — serialize it; at ~2 ms/query the lock still
        # clears hundreds of qps, far above the distributed dispatch path
        self._local_lock = threading.Lock()

    def _search_local_locked(self, q, k: int, **kw):
        with self._local_lock:
            return self.searcher.search_local(q, k, **kw)

    def submit(self, q, k: int = 10, local: bool = False, **kw):
        """Async single query → Future[pd.DataFrame]. `local=True` routes
        to the driver-local kernels (zero Spark jobs when warm)."""
        fn = self._search_local_locked if local else self.searcher.search
        return self._pool.submit(fn, q, k, **kw)

    def search_all(self, queries: dict, k: int = 10, local: bool = False,
                   **kw) -> dict:
        """Run independent queries concurrently; returns {name: hits}.
        Results identical to sequential search() per query (the searcher's
        driver-side caches are GIL-safe; Spark job submission is
        thread-safe)."""
        futures = {
            name: self.submit(q, k, local=local, **kw)
            for name, q in queries.items()
        }
        return {name: f.result() for name, f in futures.items()}

    def close(self) -> None:
        self._pool.shutdown(wait=True)

    def __enter__(self) -> "SearcherService":
        return self

    def __exit__(self, *exc) -> None:
        self.close()
