"""Offsets IndexOption (store_offsets builds): per-doc token character
spans in the docmap, highlighting without re-tokenization — the
reference's postings-offsets (.pay stream) expressed columnar."""

import numpy as np
import pandas as pd
import pytest

from lucene_solr_1_spark.index.builder import add_documents, build_index, norms_paths
from lucene_solr_1_spark.kernels.analyzer import _TOKEN_RE
from lucene_solr_1_spark.search.query import Term
from lucene_solr_1_spark.search.searcher import LuceneSparkSearcher


def _corpus():
    rows = [
        ("r", "p/0", "c0", "en", "Alpha BETA gamma alpha delta"),
        ("r", "p/1", "c1", "en", "nothing here"),
        ("r", "p/2", "c2", "en", "x" * 40 + " alpha " + "y" * 40),
    ]
    return pd.DataFrame(
        rows, columns=["repo", "path", "commit", "lang", "content"]
    )


def test_offsets_roundtrip_and_mixed_case(spark, tmp_path):
    """Stored spans index the ORIGINAL (case-preserving) content: the
    lowercased query term 'alpha' must highlight the mixed-case 'Alpha'
    at its true character offset."""
    d = str(tmp_path / "offidx")
    build_index(spark, spark.createDataFrame(_corpus()), d, num_segments=2,
                store_offsets=True)
    s = LuceneSparkSearcher(spark, d)
    assert s.manifest["offsets"] is True
    out = s.highlight_offsets(Term("alpha"), k=10, width=10)
    got = out.set_index("path")
    # doc 0: first 'alpha' token occurrence is 'Alpha' at offset 0
    assert got.loc["p/0", "match_start"] == 0
    assert got.loc["p/0", "snippet"].startswith("Alpha")
    # doc 2: 'alpha' sits after 40 x's + a space
    assert got.loc["p/2", "match_start"] == 41
    assert "alpha" in got.loc["p/2", "snippet"]
    # spans agree with a direct reference tokenization of every doc
    stored = (
        s.spark.read.parquet(*norms_paths(s.index_dir, s.manifest))
        .select("path", "content", "off_starts", "off_ends")
        .toPandas()
        .set_index("path")
    )
    for p, row in stored.iterrows():
        spans = [m.span() for m in _TOKEN_RE.finditer(row["content"])]
        starts = np.frombuffer(row["off_starts"], dtype=np.int32)
        ends = np.frombuffer(row["off_ends"], dtype=np.int32)
        assert list(starts) == [a for a, _ in spans], p
        assert list(ends) == [b for _, b in spans], p


def test_offsets_survive_merge_and_append(spark, tmp_path):
    from lucene_solr_1_spark.index.merge import merge_down

    d = str(tmp_path / "offidx2")
    build_index(spark, spark.createDataFrame(_corpus()), d, num_segments=3,
                store_offsets=True)
    # append WITHOUT passing the flag: the manifest's offsets option is
    # sticky, so the new segment must carry spans too
    extra = pd.DataFrame(
        [("r", "p/9", "c9", "en", "late alpha arrival")],
        columns=["repo", "path", "commit", "lang", "content"],
    )
    add_documents(spark, spark.createDataFrame(extra), d, num_segments=1)
    merge_down(spark, d, target_segments=1)
    s = LuceneSparkSearcher(spark, d)
    assert s.manifest["offsets"] is True
    out = s.highlight_offsets(Term("alpha"), k=10, width=8)
    by_path = out.set_index("path")
    assert by_path.loc["p/9", "match_start"] == 5  # "late " prefix
    assert "alpha" in by_path.loc["p/9", "snippet"]
    assert by_path.loc["p/0", "match_start"] == 0


def test_check_index_validates_offsets(spark, tmp_path):
    """CheckIndex covers the offsets option: a sound offsets index
    reports no errors; corrupting a span blob is detected."""
    import pyarrow.parquet as pq
    import pyarrow as pa
    import glob
    from lucene_solr_1_spark.index.check import check_index

    d = str(tmp_path / "offidx4")
    build_index(spark, spark.createDataFrame(_corpus()), d, num_segments=1,
                store_offsets=True)
    assert check_index(spark, d)["errors"] == []
    # corrupt: truncate one doc's off_starts to odd parity vs off_ends
    f = glob.glob(f"{d}/segments/*/norms.parquet")[0]
    t = pq.read_table(f).to_pandas()
    t.loc[0, "off_starts"] = t.loc[0, "off_starts"][:-4]
    pq.write_table(pa.Table.from_pandas(t, preserve_index=False), f)
    rep = check_index(spark, d)
    assert any("offsets" in e for e in rep["errors"])


def test_offsets_requires_option(spark, tmp_path):
    d = str(tmp_path / "offidx3")
    build_index(spark, spark.createDataFrame(_corpus()), d, num_segments=1)
    s = LuceneSparkSearcher(spark, d)
    with pytest.raises(ValueError, match="store_offsets"):
        s.highlight_offsets(Term("alpha"))


def test_phrase_highlight_uses_actual_match(spark, tmp_path):
    """FVH-grade positional highlighting: the snippet wraps the first
    ACTUAL phrase match, not the first occurrence of a leaf term."""
    from lucene_solr_1_spark.search.query import Phrase

    rows = [
        # 'fast' appears alone first; the phrase match is later
        ("r", "p/0", "c0", "en",
         "fast car then much later a fast sort happens"),
        ("r", "p/1", "c1", "en", "no match material"),
    ]
    pdf = pd.DataFrame(rows,
                       columns=["repo", "path", "commit", "lang", "content"])
    d = str(tmp_path / "offph")
    build_index(spark, spark.createDataFrame(pdf), d, num_segments=1,
                store_offsets=True)
    s = LuceneSparkSearcher(spark, d)
    out = s.highlight_offsets(Phrase(("fast", "sort")), k=5, width=8)
    got = out.set_index("path")
    text = rows[0][4]
    assert int(got.loc["p/0", "match_start"]) == text.index("fast sort")
    assert "fast sort" in got.loc["p/0", "snippet"]
    # and the early lone 'fast' was NOT the anchor
    assert int(got.loc["p/0", "match_start"]) != text.index("fast")


def test_span_highlight_offsets(spark, tmp_path):
    """Span queries highlight their first matching span's full extent."""
    from lucene_solr_1_spark.search.query import SpanNear

    rows = [
        ("r", "p/0", "c0", "en", "alpha filler filler beta tail words"),
    ]
    pdf = pd.DataFrame(rows,
                       columns=["repo", "path", "commit", "lang", "content"])
    d = str(tmp_path / "offsp")
    build_index(spark, spark.createDataFrame(pdf), d, num_segments=1,
                store_offsets=True)
    s = LuceneSparkSearcher(spark, d)
    out = s.highlight_offsets(
        SpanNear(("alpha", "beta"), slop=2, in_order=True), k=5, width=3
    )
    text = rows[0][4]
    assert int(out["match_start"].iloc[0]) == text.index("alpha")
    # snippet covers the WHOLE span: from near 'alpha' through 'beta'
    assert "beta" in out["snippet"].iloc[0]
    assert "tail" not in out["snippet"].iloc[0].replace(" tai", "")  # +width only
