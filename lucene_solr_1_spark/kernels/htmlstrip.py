"""HTMLStripCharFilter — markup removal BEFORE tokenization.

Reference: `analysis/common/src/java/org/apache/lucene/analysis/
charfilter/HTMLStripCharFilter.java` (JFlex-generated). Behavioral
contract pinned by the reference test suite
(HTMLStripCharFilterTest.java):
- script/style elements vanish WITH their content, leaving "\\n"
  (testScriptQuotes:436-447, testStyle:453-458)
- comments (incl. `<!--- --->` forms) are removed (testComment:344-345)
- BLOCK-level tags become "\\n" (`<div>x</div>` -> "\\nx\\n", test():59),
  inline tags are removed with NO separator (`one<img ...>two` ->
  "onetwo", testMalformedHTML gold:424-427)
- entities decode (&amp; -> &, &#61; -> =, &#x393; -> \\u0393,
  testEntities:102-109); a bare '&' survives

The ordered step list `STRIP_STEPS` is the ONE spec: the Python engine
(html_strip) and the DuckDB oracle chain
(sql/kernel_oracle.py html twin) are both generated from it. Numeric
entities are decoded by a Python-only final step — the oracle generator
asserts the corpus contains none (same posture as the tokenizer-compat
assertion).
"""

from __future__ import annotations

import re

# HTML5-ish block-level elements (HTMLStripCharFilter's
# BLOCK_LEVEL_START/END_TAG_REPLACEMENT = '\n')
_BLOCK = (
    "address|article|aside|blockquote|div|dl|dt|dd|fieldset|figcaption|"
    "figure|footer|form|h1|h2|h3|h4|h5|h6|header|hr|li|main|nav|ol|p|pre|"
    "section|table|tbody|td|tfoot|th|thead|tr|ul|br"
)

# ordered (pattern, replacement) steps — identical semantics in Python
# re, Spark regexp_replace (Java regex) and DuckDB regexp_replace(.., 'g')
# (RE2): inline flags only, no backreferences.
STRIP_STEPS: tuple = (
    (r"(?is)<script\b[^>]*>.*?</script\s*>", "\n"),
    (r"(?is)<style\b[^>]*>.*?</style\s*>", "\n"),
    (r"(?s)<!--.*?-->", ""),
    (rf"(?i)</?(?:{_BLOCK})\b[^>]*/?>", "\n"),
    (r"<[a-zA-Z/!][^>]*>", ""),
    # named entities (finite replace list — part of the shared spec).
    # &amp; runs LAST: "&amp;lt;" must decode to the LITERAL "&lt;"
    # (single-pass semantics), never double-decode to "<".
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", '"'),
    (r"&apos;", "'"),
    (r"&nbsp;", " "),
    (r"&amp;", "&"),
)

_NUMERIC_ENTITY = re.compile(r"&#(x[0-9a-fA-F]+|[0-9]+);")
_COMPILED = [(re.compile(p), r) for p, r in STRIP_STEPS]


def _decode_numeric(m: re.Match) -> str:
    v = m.group(1)
    code = int(v[1:], 16) if v[0] in "xX" else int(v)
    try:
        return chr(code)
    except (ValueError, OverflowError):
        return m.group(0)


def html_strip(text: str) -> str:
    """Strip markup per STRIP_STEPS + numeric-entity decode."""
    for pat, rep in _COMPILED:
        text = pat.sub(rep, text)
    return _NUMERIC_ENTITY.sub(_decode_numeric, text)
