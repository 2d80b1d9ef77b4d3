"""HTMLStripCharFilter — goldens ported from the reference
HTMLStripCharFilterTest.java (block vs inline tags, script/style
swallowing, comments, entity decoding) plus chain integration."""

import pandas as pd
import pytest

from lucene_solr_1_spark.kernels.analyzer import HTML, AnalyzerConfig, tokenize_one
from lucene_solr_1_spark.kernels.htmlstrip import html_strip


def test_reference_goldens():
    # HTMLStripCharFilterTest.test(): block tags -> \n, inline removed,
    # entities decoded, bare & kept, comment removed
    html = (
        '<div class="foo">this is some text</div> here is a '
        '<a href="#bar">link</a> and another '
        '<a href="http://lucene.apache.org/">link</a>. '
        "This is an entity: &amp; plus a &lt;.  Here is an &. "
        "<!-- is a comment -->"
    )
    gold = (
        "\nthis is some text\n here is a link and another link. "
        "This is an entity: & plus a <.  Here is an &. "
    )
    assert html_strip(html) == gold
    # testEntities (named + numeric dec/hex); &amp;-last ordering keeps
    # "&lt;foo&gt;" a literal after &nbsp;/&lt; decode
    assert (
        html_strip("&nbsp; &lt;foo&gt; bermensch &#61; bar &#x393;")
        == "  <foo> bermensch = bar Γ"
    )
    assert html_strip("&nbsp; &lt;junk/&gt; &nbsp; &#33; &#64; and &#8217;") \
        == "  <junk/>   ! @ and ’"
    # single-pass decode: &amp;lt; is the LITERAL &lt;
    assert html_strip("&amp;lt;") == "&lt;"
    # testMalformedHTML gold: inline tag removed with NO separator
    assert html_strip('one<img src="image.png"\n alt="xyz"/>two') == "onetwo"
    # script/style vanish WITH content (testScriptQuotes/testStyle shape)
    assert html_strip("one<script attr= bare>callSomeMethod();</script>two") == "one\ntwo"
    assert html_strip('one<style type="text/css">\n.x{}\n</style>two') == "one\ntwo"
    # testComment: three dashes still a valid comment
    assert html_strip("<!--- three dashes, still a valid comment ---> ") == " "


def test_chain_and_guards(spark, tmp_path_factory):
    # tokenize through the HTML config: markup gone, entities decoded
    t, p = tokenize_one("<div>alpha beta</div><script>junk();</script> gamma", HTML)
    assert t == ["alpha", "beta", "gamma"]
    # composes with the stemming chain (char filter runs first)
    cfg = AnalyzerConfig(html_strip=True, stem=True)
    t, _ = tokenize_one("<b>merges</b>", cfg)
    assert t == ["merg"]
    # offsets/payloads are rejected (stripped chars break span alignment)
    from lucene_solr_1_spark.index.builder import build_index

    pdf = pd.DataFrame(
        [("r", "p0", "c", "python", "<b>hello</b> world")],
        columns=["repo", "path", "commit", "lang", "content"],
    )
    with pytest.raises(Exception):
        build_index(spark, spark.createDataFrame(pdf),
                    str(tmp_path_factory.mktemp("idx_html_bad")),
                    num_segments=1, cfg=HTML, store_offsets=True)


def test_html_index_end_to_end(spark, tmp_path_factory):
    """Markup never reaches the index: tag/attribute words are not
    searchable, content words are, dl reflects the stripped stream,
    and the manifest persists the analyzer name."""
    from lucene_solr_1_spark.index.builder import build_index
    from lucene_solr_1_spark.search.query import Term
    from lucene_solr_1_spark.search.searcher import LuceneSparkSearcher

    rows = [
        ("r", "p0", "c", "html", '<div class="hero">alpha beta</div>'),
        ("r", "p1", "c", "html", "<script>alpha();</script>plain text"),
        ("r", "p2", "c", "html", "alpha &amp; omega"),
    ]
    pdf = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    d = str(tmp_path_factory.mktemp("idx_html"))
    m = build_index(spark, spark.createDataFrame(pdf), d, num_segments=1, cfg=HTML)
    assert m["analyzer"] == "html"
    s = LuceneSparkSearcher(spark, d)
    # "alpha" in script content (p1) is stripped; p0 and p2 match
    hits = s.search(Term("alpha"), k=10, with_stored=False)
    assert len(hits) == 2
    # tag/attribute words are not terms
    assert len(s.search(Term("div"), k=10, with_stored=False)) == 0
    assert len(s.search(Term("hero"), k=10, with_stored=False)) == 0
    assert len(s.search(Term("script"), k=10, with_stored=False)) == 0
