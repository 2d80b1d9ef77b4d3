import os
import sys
import uuid
from collections import Counter
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lucene_solr_1_spark.session import get_spark  # noqa: E402


def reference_file(path: str) -> str:
    """`path` of a file from the reference checkout's test data; skips the
    calling test, naming the file, when the checkout is absent (the
    in-repo pins in test_stemmer_pins.py still cover those functions)."""
    if not os.path.exists(path):
        pytest.skip(f"reference test data not found: {path}")
    return path


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=8)
    yield s


@contextmanager
def _count_jobs(spark):
    """Collect the ids of the Spark jobs launched inside the block: they
    are tagged with SparkContext.addJobTag, then read back from the
    status tracker once the listener bus has caught up."""
    sc = spark.sparkContext
    tag = f"count-jobs-{uuid.uuid4().hex}"
    jobs: list = []
    sc.addJobTag(tag)
    try:
        yield jobs
    finally:
        sc.removeJobTag(tag)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs.extend(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))


@pytest.fixture
def count_jobs(spark):
    """`with count_jobs() as jobs: ...` — afterwards `len(jobs)` is the
    number of Spark jobs the block launched."""
    return lambda: _count_jobs(spark)


class FileOpens:
    """Parquet files opened inside a block, per path: `files[path]` counts
    every open, `footers[path]` the opens that parse the file's footer
    (any open not handed pooled metadata: a reader-pool load, a
    tombstone parse, a plain read_table)."""

    def __init__(self):
        self.files: Counter = Counter()
        self.footers: Counter = Counter()

    def record(self, source, parses_footer: bool) -> None:
        path = getattr(source, "name", source)
        self.files[path] += 1
        if parses_footer:
            self.footers[path] += 1


@contextmanager
def _count_file_opens():
    import pyarrow.parquet as pq

    opens = FileOpens()
    parquet_file, read_table = pq.ParquetFile, pq.read_table

    def counted_parquet_file(source, *args, **kwargs):
        opens.record(source, kwargs.get("metadata") is None)
        return parquet_file(source, *args, **kwargs)

    def counted_read_table(source, *args, **kwargs):
        opens.record(source, True)
        return read_table(source, *args, **kwargs)

    pq.ParquetFile, pq.read_table = counted_parquet_file, counted_read_table
    try:
        yield opens
    finally:
        pq.ParquetFile, pq.read_table = parquet_file, read_table


@pytest.fixture
def count_file_opens():
    """`with count_file_opens() as opens: ...` — afterwards `opens.files`
    and `opens.footers` count the block's parquet opens per path
    (pq.ParquetFile / pq.read_table calls, file objects by their name)."""
    return _count_file_opens


class KernelCalls(list):
    """Scoring-kernel calls made inside a block, in order: one
    `(kind, n_docs)` per K.score_exhaustive / K.score_wand call, `kind`
    "exhaustive" or "wand", `n_docs` the doc span of the segment or
    slice it scored. A WAND call that falls back to exhaustive scoring
    counts once, as "wand"."""

    def kinds(self) -> list:
        return [kind for kind, _ in self]


@contextmanager
def _count_kernel_calls(monkeypatch):
    from lucene_solr_1_spark.search import kernel as K

    calls = KernelCalls()
    depth = [0]

    def counted(kind, fn):
        def wrapper(plan, seg, *args, **kwargs):
            if not depth[0]:
                calls.append((kind, seg.n_docs))
            depth[0] += 1
            try:
                return fn(plan, seg, *args, **kwargs)
            finally:
                depth[0] -= 1
        return wrapper

    with monkeypatch.context() as m:
        m.setattr(K, "score_exhaustive", counted("exhaustive", K.score_exhaustive))
        m.setattr(K, "score_wand", counted("wand", K.score_wand))
        yield calls


@pytest.fixture
def count_kernel_calls(monkeypatch):
    """`with count_kernel_calls() as calls: ...` — afterwards `calls` holds
    one `(kind, n_docs)` per driver-side kernel call of the block (the
    Spark route's calls run in worker processes and are not seen)."""
    return lambda: _count_kernel_calls(monkeypatch)


@pytest.fixture(scope="session")
def tiny_corpus_pdf():
    from lucene_solr_1_spark.corpus import make_corpus_pandas

    return make_corpus_pandas(64)


@pytest.fixture(scope="session")
def small_corpus_pdf():
    from lucene_solr_1_spark.corpus import make_corpus_pandas

    return make_corpus_pandas(600)
