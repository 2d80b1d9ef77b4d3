import os
import sys
import uuid
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lucene_solr_1_spark.session import get_spark  # noqa: E402


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


@pytest.fixture(scope="session")
def tiny_corpus_pdf():
    from lucene_solr_1_spark.corpus import make_corpus_pandas

    return make_corpus_pandas(64)


@pytest.fixture(scope="session")
def small_corpus_pdf():
    from lucene_solr_1_spark.corpus import make_corpus_pandas

    return make_corpus_pandas(600)
