"""DuckDB twins of the KERNEL scoring pipeline — float32 bit-exact.

The engine's kernel path scores with quantized norms and float32 op order
(kernels/bm25.py, kernels/smallfloat.py; reference BM25Similarity.java:
184-193 cache, 222-226 score; SmallFloat.java:147-169 byte encoding).
These SQL generators reproduce that pipeline EXACTLY in DuckDB:

- dl is quantized through the SmallFloat byte round-trip via a 256-row
  length table (generated from the same LENGTH_TABLE constants — the
  'twins generated from the same spec' invariant, CLAUDE.md);
- every float32 operation is an explicit CAST(.. AS REAL) with the same
  op order as the NumPy kernel; float literals are emitted in exponent
  form so DuckDB parses them as DOUBLE (a bare '2.3456' lexes as DECIMAL
  and round-trips to a DIFFERENT float32);
- disjunction sums accumulate in DOUBLE and cast to REAL at the end
  (DisjunctionSumScorer's double accumulator, kernel top_k float32 cast).

Bit-exactness is pinned by tests/test_kernel_oracle.py: engine scores ==
DuckDB scores EXACTLY (no tolerance), so the driver's value-hash gate can
cover the inverted-index/WAND path, not just the relational twins.
"""

from __future__ import annotations

import re

import numpy as np

from ..kernels.analyzer import SQL_TOKEN_PATTERN as TOKEN_PATTERN
from ..kernels.smallfloat import LENGTH_TABLE

K1 = 1.2
B = 0.75
# TOKEN_PATTERN is the ONE shared constant (kernels/analyzer.py
# SQL_TOKEN_PATTERN): an ASCII-word approximation of the engine's
# _TOKEN_RE. The twins are exact only while the corpus contains no
# interior-dot/apostrophe/non-ASCII tokens —
# tests/test_kernel_oracle.py::test_sql_pattern_matches_engine_tokens
# asserts that compatibility over every testdata documents table.


def _lit(x) -> str:
    """Exact float64 literal DuckDB parses as DOUBLE (exponent form)."""
    r = repr(float(x))
    return r if ("e" in r or "inf" in r or "nan" in r) else r + "e0"


def _f32(expr: str) -> str:
    return f"CAST({expr} AS REAL)"


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _sql_list(terms) -> str:
    return ", ".join(_sql_str(t) for t in terms)


def length_table_values() -> str:
    """256 rows (len_i BIGINT, len_f REAL-exact DOUBLE literal): the
    SmallFloat decode table. decode(encode(x)) = max representable <= x,
    so the quantized dl of a doc is arg_max(len_f, len_i) over len_i <= dl."""
    ints = LENGTH_TABLE.astype(np.int64)
    return ", ".join(
        f"({int(ints[i])}, {_lit(LENGTH_TABLE[i])})" for i in range(256)
    )


def _corpus_vocab(annotated_col: str = "lower(text)",
                  token_pattern: str | None = None) -> list:
    """DISTINCT tokens of the testdata documents tables (all shipped SFs
    unioned so a mapping is valid wherever the driver points the views),
    optionally over an annotated source expression — the ONE vocab scan
    every mapping-table generator (stem/phonetic/compound/light) uses.
    `token_pattern` overrides the ASCII default (the Russian twin scans
    with a Cyrillic-capable class)."""
    import os

    import duckdb

    files = [
        f"/root/testdata/sf{s}/documents.parquet" for s in ("0.001", "0.01", "0.1")
    ]
    files = [f for f in files if os.path.exists(f)]
    if not files:
        raise FileNotFoundError("no testdata documents tables for vocab scan")
    con = duckdb.connect()
    flist = ", ".join(f"'{f}'" for f in files)
    return [
        r[0]
        for r in con.execute(
            f"SELECT DISTINCT unnest(regexp_extract_all({annotated_col}, "
            f"'{token_pattern or TOKEN_PATTERN}')) AS t FROM read_parquet([{flist}])"
        ).fetchall()
    ]


def _norm_cache_expr() -> str:
    """cache[i] = f32(k1 * (f32(1-b) + f32(f32(b * len_f) / avgdl))) —
    the ONE statement of kernels/bm25.norm_cache's float32 op order
    every twin's `cache` CTE must use (bit-exactness invariant: any
    K1/B/op-order change edits exactly one place)."""
    return _f32(
        f"{_f32(_lit(K1))} * "
        + _f32(
            f"{_f32(_lit(1 - B))} + "
            + _f32(
                _f32(f"{_f32(_lit(B))} * {_f32('q.len_f')}")
                + " / av.a"
            )
        )
    )


def _base_ctes(toks: str | None = None) -> str:
    """Corpus-level CTEs: tokens, per-doc quantized-dl norm cache
    (float32) — shared by every kernel twin. `toks` overrides the token
    source expression (char-filter / pattern-tokenizer twins)."""
    toks = toks or f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}')"
    # cache[i] = f32(k1 * (f32(1-b) + f32(f32(b * len_f) / avgdl)))
    # — same op order as bm25.norm_cache
    cache_expr = _norm_cache_expr()
    return f"""
tok AS (
  SELECT doc_id, unnest({toks}) AS term FROM documents
),
dl AS (SELECT doc_id, len({toks}) AS dl FROM documents),
tot AS (SELECT count(*) AS n_docs, sum(dl) AS sum_ttf FROM dl),
avgf AS (SELECT CAST(sum_ttf::DOUBLE / n_docs::DOUBLE AS REAL) AS a FROM tot),
lt(len_i, len_f) AS (VALUES {length_table_values()}),
dlq AS (
  SELECT d.doc_id, arg_max(l.len_f, l.len_i) AS len_f
  FROM dl d JOIN lt l ON l.len_i <= d.dl GROUP BY d.doc_id
),
cache AS (
  SELECT q.doc_id, {cache_expr} AS c FROM dlq q CROSS JOIN avgf av
)
""".strip()


def _prelude(all_terms, toks: str | None = None) -> str:
    """Base CTEs + per-term tf/df over the query terms."""
    return f"""
{_base_ctes(toks)},
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ({_sql_list(all_terms)}) GROUP BY 1, 2
),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
""".strip()


def _idf32(df_expr: str, n_expr: str) -> str:
    """f32(ln(1 + (N - df + 0.5)/(df + 0.5))) — double log, cast float."""
    return _f32(f"ln(1 + ({n_expr}::DOUBLE - {df_expr} + 0.5)/({df_expr} + 0.5))")


def _weights_cte(boosts: dict) -> str:
    """w(term): f32(f32(boost) * idf32) — bm25.term_weight op order."""
    if boosts:
        boost_case = (
            "CASE dfr.term "
            + " ".join(
                f"WHEN {_sql_str(t)} THEN {_f32(_lit(b))}" for t, b in boosts.items()
            )
            + f" ELSE {_f32(_lit(1.0))} END"
        )
    else:
        boost_case = _f32(_lit(1.0))
    return f"""
w AS (
  SELECT dfr.term,
         {_f32(f"{boost_case} * {_idf32('dfr.df', 'tot.n_docs')}")} AS w
  FROM dfr CROSS JOIN tot
)
""".strip()


_SCORE32 = (
    # f32(w * f32(freq_d / (freq_d + norm_d))) — bm25.score op order:
    # freq promoted int -> f32 -> double; cache f32 -> double; double
    # divide; cast f32; multiply by f32 weight; f32 result.
    "CAST(w.w * CAST(CAST(tf.tf AS REAL)::DOUBLE / "
    "(CAST(tf.tf AS REAL)::DOUBLE + c.c::DOUBLE) AS REAL) AS REAL)"
)


def _scores_cte() -> str:
    return f"""
s AS (
  SELECT tf.doc_id, tf.term, {_SCORE32} AS s
  FROM tf JOIN w USING (term) JOIN cache c ON c.doc_id = tf.doc_id
)
""".strip()


def _topk_select(k: int) -> str:
    return f"""
SELECT doc_id::BIGINT AS doc_id, CAST(score32 AS DOUBLE) AS score,
       CAST(row_number() OVER (ORDER BY score32 DESC, doc_id ASC) - 1 AS BIGINT) AS rank
FROM matched
ORDER BY score32 DESC, doc_id ASC LIMIT {k}
""".strip()


def kernel_bool_duck(
    must: tuple = (),
    should: tuple = (),
    must_not: tuple = (),
    k: int = 10,
    boosts: dict | None = None,
    filter_sql: str | None = None,
) -> str:
    """Quantized-float32 BM25 Bool query twin (kernel _eval_bool shape:
    MUST conjunction + SHOULD adds + MUST_NOT subtract; FILTER via
    `filter_sql`, an SQL predicate over `documents` aliased `doc` —
    matches constrain but never score, BooleanQuery FILTER semantics)."""
    all_terms = sorted(set(must) | set(should) | set(must_not))
    scoring = sorted(set(must) | set(should))
    boosts = boosts or {}
    conds = ["coalesce(n_not, 0) = 0"]
    if must:
        conds.append(f"n_must = {len(set(must))}")
    else:
        conds.append("n_should >= 1")
    filt = ""
    if filter_sql:
        filt = (
            f"AND doc_id IN (SELECT doc.doc_id FROM documents doc "
            f"JOIN dl ON dl.doc_id = doc.doc_id WHERE {filter_sql})"
        )
    return f"""
WITH {_prelude(all_terms)},
{_weights_cte(boosts)},
{_scores_cte()},
agg AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN term IN ({_sql_list(scoring)}) THEN s::DOUBLE END) AS REAL) AS score32,
         count(DISTINCT CASE WHEN term IN ({_sql_list(must) or "''"}) THEN term END) AS n_must,
         count(DISTINCT CASE WHEN term IN ({_sql_list(should) or "''"}) THEN term END) AS n_should,
         count(DISTINCT CASE WHEN term IN ({_sql_list(must_not) or "''"}) THEN term END) AS n_not
  FROM s GROUP BY 1
),
matched AS (
  SELECT doc_id, score32 FROM agg
  WHERE {" AND ".join(conds)} {filt}
)
{_topk_select(k)}
""".strip()


def kernel_nested_and_or_duck(must_term: str, or_terms: tuple, k: int = 10) -> str:
    """Twin of parse('a AND (b OR c)'): MUST term + MUST nested SHOULD-bool.
    cand = docs(a) ∩ (docs(b) ∪ docs(c)); score = f32(s_a + s_b + s_c in
    double) — kernel _eval_bool with a nested disjunction MUST clause."""
    all_terms = sorted({must_term, *or_terms})
    return f"""
WITH {_prelude(all_terms)},
{_weights_cte({})},
{_scores_cte()},
agg AS (
  SELECT doc_id,
         CAST(sum(s::DOUBLE) AS REAL) AS score32,
         max(CASE WHEN term = {_sql_str(must_term)} THEN 1 ELSE 0 END) AS has_must,
         max(CASE WHEN term IN ({_sql_list(or_terms)}) THEN 1 ELSE 0 END) AS has_or
  FROM s GROUP BY 1
),
matched AS (
  SELECT doc_id, score32 FROM agg WHERE has_must = 1 AND has_or = 1
)
{_topk_select(k)}
""".strip()


def kernel_phrase_duck(t1: str, t2: str, k: int = 10) -> str:
    """Twin of the kernel exact-phrase scorer: freq = adjacent-position
    count; weight = f32(sum of f32 idfs in double) (synonym_idf); scored
    with the doc's quantized norm cache."""
    toks = f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}')"
    return f"""
WITH {_prelude(sorted({t1, t2}))},
pw AS (
  SELECT {_f32(f"CAST(1.0 AS REAL) * " + _f32(f"sum({_idf32('dfr.df', 'tot.n_docs')}::DOUBLE)"))} AS w
  FROM dfr CROSS JOIN tot
),
pos AS (
  SELECT doc_id, unnest({toks}) AS term, generate_subscripts({toks}, 1) AS p
  FROM documents
),
pa AS (SELECT doc_id, p FROM pos WHERE term = {_sql_str(t1)}),
pb AS (SELECT doc_id, p FROM pos WHERE term = {_sql_str(t2)}),
pf AS (
  SELECT pa.doc_id, count(*) AS freq
  FROM pa JOIN pb ON pa.doc_id = pb.doc_id AND pb.p = pa.p + 1
  GROUP BY 1
),
matched AS (
  SELECT pf.doc_id,
         CAST(pw.w * CAST(CAST(pf.freq AS REAL)::DOUBLE /
              (CAST(pf.freq AS REAL)::DOUBLE + c.c::DOUBLE) AS REAL) AS REAL) AS score32
  FROM pf JOIN cache c ON c.doc_id = pf.doc_id CROSS JOIN pw
)
{_topk_select(k)}
""".strip()


def kernel_multiphrase_duck(slots: tuple, k: int = 10) -> str:
    """Twin of the kernel MultiPhraseQuery scorer, slop=0
    (MultiPhraseQuery.java:285-294 UnionPostingsEnum → ExactPhraseMatcher):
    slot i matches ANY of its alternative terms at position start+i; freq =
    count of matching starts; weight = f32(sum of f32 idfs in double) over
    EVERY term of every slot present in the corpus (:216-238 allTermStats),
    scored against the doc's quantized norm cache."""
    slots = [tuple(s) for s in slots]
    all_terms = sorted({t for s in slots for t in s})
    toks = f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}')"
    slot_ctes = ",\n".join(
        f"p{i} AS (SELECT doc_id, p FROM pos WHERE term IN ({_sql_list(s)}))"
        for i, s in enumerate(slots)
    )
    joins = "".join(
        f" JOIN p{i} ON p{i}.doc_id = p0.doc_id AND p{i}.p = p0.p + {i}"
        for i in range(1, len(slots))
    )
    return f"""
WITH {_prelude(all_terms)},
pw AS (
  SELECT {_f32("CAST(1.0 AS REAL) * " + _f32(f"sum({_idf32('dfr.df', 'tot.n_docs')}::DOUBLE)"))} AS w
  FROM dfr CROSS JOIN tot
),
pos AS (
  SELECT doc_id, unnest({toks}) AS term, generate_subscripts({toks}, 1) AS p
  FROM documents
),
{slot_ctes},
pf AS (
  SELECT p0.doc_id, count(*) AS freq FROM p0{joins} GROUP BY 1
),
matched AS (
  SELECT pf.doc_id,
         CAST(pw.w * CAST(CAST(pf.freq AS REAL)::DOUBLE /
              (CAST(pf.freq AS REAL)::DOUBLE + c.c::DOUBLE) AS REAL) AS REAL) AS score32
  FROM pf JOIN cache c ON c.doc_id = pf.doc_id CROSS JOIN pw
)
{_topk_select(k)}
""".strip()


def kernel_blended_duck(terms: tuple, tie: float = 0.01, k: int = 10) -> str:
    """Twin of the BlendedTermQuery path (BlendedTermQuery.java:265-294):
    ONE weight from the blended docFreq max(df) over the terms (:279),
    every term scored with it, combined DisjunctionMax
    mx + tie*(sum - mx) with f32 per-term scores accumulated in DOUBLE
    (kernel _eval_dismax) and a final REAL cast (top_k)."""
    return f"""
WITH {_prelude(sorted(set(terms)))},
bdf AS (SELECT max(df) AS df FROM dfr),
w AS (
  SELECT dfr.term,
         {_f32(f"{_f32(_lit(1.0))} * {_idf32('bdf.df', 'tot.n_docs')}")} AS w
  FROM dfr CROSS JOIN bdf CROSS JOIN tot
),
{_scores_cte()},
matched AS (
  SELECT doc_id,
         CAST(max(s::DOUBLE) +
              {_f32(_lit(tie))}::DOUBLE * (sum(s::DOUBLE) - max(s::DOUBLE))
              AS REAL) AS score32
  FROM s GROUP BY 1
)
{_topk_select(k)}
""".strip()


def kernel_payload_duck(term: str, mod: int = 7, k: int = 10) -> str:
    """Twin of the PayloadScoreQuery driver entry: the Spark side indexes
    a deterministically annotated view (every `term` occurrence carries
    payload doc_id % mod + 1 — constant per doc, so MaxPayloadFunction's
    factor is exactly that value), and the final score is
    f32(span_score · factor). The span score of a single SpanTerm equals
    the term's BM25 kernel score; f32·f32 multiplication replayed as a
    double product with one REAL cast (exact: a 24-bit × 24-bit product
    fits double, so the single rounding matches NumPy's f32 multiply)."""
    return f"""
WITH {_prelude([term])},
{_weights_cte({})},
{_scores_cte()},
matched AS (
  SELECT doc_id,
         CAST(s::DOUBLE * CAST((doc_id % {mod} + 1) AS REAL)::DOUBLE AS REAL)
           AS score32
  FROM s
)
{_topk_select(k)}
""".strip()


def kernel_fuzzy_duck(text: str, max_edits: int = 2, k: int = 10,
                      prefix_length: int = 0) -> str:
    """Twin of the kernel fuzzy SCORING rewrite (FuzzyQuery top-terms
    rewrite): dictionary terms within max_edits expand to a SHOULD
    disjunction, each weighted f32(f32(boost) * idf32) with
    boost = 1 - ed/min(|term|, |text|) (FuzzyTermsEnum.java:218-238).

    ed counts transpositions as ONE edit (FuzzyQuery.java:58
    defaultTranspositions=true). DuckDB's damerau_levenshtein is the
    UNRESTRICTED variant vs the engine's OSA (kernels/osa.py);
    tests/test_osa.py asserts they agree over every in-window
    dictionary pair of the pinned corpora.

    prefix_length > 0 (FuzzyQuery.java:133-138) requires the first
    min(prefix_length, |text|) chars verbatim and measures ed over the
    SUFFIXES only (FuzzyTermsEnum.java:129-141); the boost denominator
    stays the FULL-length min — keep this aligned with
    searcher._fuzzy_parts/_expand_fuzzy."""
    pl = min(max(prefix_length, 0), len(text))
    suffix = text[pl:]
    lo, hi = len(text) - max_edits, len(text) + max_edits
    qt = _sql_str(text)
    if max_edits == 0 or pl >= len(text):
        # FuzzyQuery.java:151 — exact-term only
        dict_cond, ed_expr = f"term = {qt}", "0"
    else:
        term_suf = f"substring(term, {pl + 1})" if pl else "term"
        ed_expr = f"damerau_levenshtein({term_suf}, {_sql_str(suffix)})"
        dict_cond = f"length(term) BETWEEN {lo} AND {hi} AND {ed_expr} <= {max_edits}"
        if pl:
            dict_cond = f"starts_with(term, {_sql_str(text[:pl])}) AND " + dict_cond
    boost32 = (
        f"CASE WHEN ed = 0 THEN {_f32(_lit(1.0))} "
        f"ELSE CAST(1.0 - ed::DOUBLE / least(length(term), {len(text)})::DOUBLE AS REAL) END"
    )
    return f"""
WITH {_base_ctes()},
dict AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
exp AS (
  -- TopTermsRewrite cap (TopTermsRewrite.java:106): the 1024 survivors
  -- are the top by BOOST (1 - ed/min-len) then term, matching the
  -- engine's _expand_fuzzy — close-but-rare beats popular-but-far
  SELECT term, df, {ed_expr} AS ed FROM dict
  WHERE {dict_cond}
  QUALIFY row_number() OVER (
    ORDER BY 1.0 - ({ed_expr})::DOUBLE
                 / least(length(term), {len(text)}) DESC, term ASC
  ) <= 1024
),
w AS (
  SELECT exp.term,
         {_f32(f"({boost32}) * {_idf32('exp.df', 'tot.n_docs')}")} AS w
  FROM exp CROSS JOIN tot
),
tf AS (
  SELECT t.doc_id, t.term, count(*) AS tf
  FROM tok t JOIN exp ON exp.term = t.term GROUP BY 1, 2
),
{_scores_cte()},
matched AS (
  SELECT doc_id, CAST(sum(s::DOUBLE) AS REAL) AS score32 FROM s GROUP BY 1
)
{_topk_select(k)}
""".strip()


def kernel_highlight_duck(term: str, k: int = 10, width: int = 30) -> str:
    """Twin of kernel-path highlighting: the engine's top-k for a term
    query (quantized float32 ranking) joined with a snippet around the
    first occurrence, cut from the STORED content column — proving
    stored-fields retrieval works without the external corpus table."""
    inner = kernel_bool_duck(should=(term,), k=k)
    t = term.lower().replace("'", "''")
    return f"""
WITH topk AS ({inner})
SELECT t.doc_id, t.rank,
       substring(d.text, greatest(strpos(lower(d.text), '{t}') - {width}, 1),
                 {2 * width}) AS snippet
FROM topk t JOIN documents d USING (doc_id)
ORDER BY t.rank
""".strip()


def _stem_table_values(extra_terms=(), exclusions=frozenset()) -> str:
    """(term, stem) VALUES rows for every token of the testdata documents
    tables whose Porter stem differs from the token — the oracle's
    'fixed-vocabulary stem table' (VERDICT r3 item: a twin generated from
    the same spec, here literally the same porter_stem function). All
    three shipped SFs are unioned so the mapping is valid wherever the
    driver points the views."""
    from ..kernels.porter import porter_stem

    vocab = _corpus_vocab()
    vocab.extend(extra_terms)
    rows = [
        f"({_sql_str(t)}, {_sql_str(porter_stem(t))})"
        for t in sorted(set(vocab))
        if porter_stem(t) != t and t not in exclusions
    ]
    return ", ".join(rows) if rows else "('', '')"


def _stemmed_prelude(all_terms, stop_words, exclusions=frozenset()) -> str:
    """Base + tf/df CTEs for the ENGLISH_STEM analyzer chain: stop filter
    then Porter stem (EnglishAnalyzer.java:107-117 order; possessive is a
    no-op under the ASCII-word token pattern). dl = post-stop token count
    (FieldInvertState.getLength counts emitted tokens; stemming is 1:1).
    CTE names match _base_ctes so _weights_cte/_scores_cte compose."""
    toks = f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}')"
    stop_list = _sql_list(sorted(stop_words)) or "''"
    cache_expr = _norm_cache_expr()
    return f"""
raw AS (
  SELECT doc_id, unnest({toks}) AS rt FROM documents
),
kept AS (SELECT doc_id, rt FROM raw WHERE rt NOT IN ({stop_list})),
st(t, stem) AS (VALUES {_stem_table_values(all_terms, exclusions)}),
tok AS (
  SELECT k.doc_id, coalesce(s.stem, k.rt) AS term
  FROM kept k LEFT JOIN st s ON s.t = k.rt
),
dl AS (
  SELECT d.doc_id, count(k.rt) AS dl
  FROM documents d LEFT JOIN kept k USING (doc_id) GROUP BY 1
),
tot AS (SELECT count(*) AS n_docs, sum(dl) AS sum_ttf FROM dl),
avgf AS (SELECT CAST(sum_ttf::DOUBLE / n_docs::DOUBLE AS REAL) AS a FROM tot),
lt(len_i, len_f) AS (VALUES {length_table_values()}),
dlq AS (
  SELECT d.doc_id, arg_max(l.len_f, l.len_i) AS len_f
  FROM dl d JOIN lt l ON l.len_i <= d.dl GROUP BY d.doc_id
),
cache AS (
  SELECT q.doc_id, {cache_expr} AS c FROM dlq q CROSS JOIN avgf av
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ({_sql_list(all_terms)}) GROUP BY 1, 2
),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
""".strip()


def kernel_stem_exclusion_duck(query_text: str, exclusions,
                               k: int = 10) -> str:
    """Twin of a TermQuery against an ENGLISH_STEM index built with a
    stemExclusionSet (SetKeywordMarkerFilter after the stop filter,
    EnglishAnalyzer.java:117): excluded tokens keep their surface form
    in the index AND in the query-side analysis; everything else
    Porter-stems."""
    from ..kernels.analyzer import ENGLISH_STOP_WORDS
    from ..kernels.porter import porter_stem

    exclusions = frozenset(exclusions)
    t = query_text.lower()
    stemmed = t if t in exclusions else porter_stem(t)
    return f"""
WITH {_stemmed_prelude((stemmed,), ENGLISH_STOP_WORDS, exclusions)},
{_weights_cte({})},
{_scores_cte()},
matched AS (
  SELECT doc_id, CAST(sum(s::DOUBLE) AS REAL) AS score32 FROM s GROUP BY 1
)
{_topk_select(k)}
""".strip()


def kernel_stemmed_term_duck(query_text: str, k: int = 10) -> str:
    """Twin of a TermQuery against an ENGLISH_STEM index: the query term
    is Porter-stemmed exactly as the searcher's query-side analysis does,
    and the corpus pipeline replays stop+stem before the quantized
    float32 BM25 scoring."""
    from ..kernels.analyzer import ENGLISH_STOP_WORDS
    from ..kernels.porter import porter_stem

    stemmed = porter_stem(query_text.lower())
    return f"""
WITH {_stemmed_prelude((stemmed,), ENGLISH_STOP_WORDS)},
{_weights_cte({})},
{_scores_cte()},
matched AS (
  SELECT doc_id, CAST(sum(s::DOUBLE) AS REAL) AS score32 FROM s GROUP BY 1
)
{_topk_select(k)}
""".strip()


def kernel_function_score_duck(
    term: str, field: str = "dl", mode: str = "multiply",
    weight: float = 1.0, k: int = 10,
) -> str:
    """Twin of FunctionScore(Term(term), field, mode, weight): inner
    quantized-float32 BM25 term score reshaped by the RAW doc-values
    column (dl = post-filter token count, exactly the oracle's dl CTE),
    final cast to REAL — same op order as kernel.eval_node 'func'."""
    op = "*" if mode == "multiply" else "+"
    dv_cte = (
        "dv AS (SELECT doc_id, dl FROM dl)"
        if field == "dl"
        else "dv AS (SELECT doc_id, length(text) AS n_chars FROM documents)"
    )
    return f"""
WITH {_prelude((term,))},
{_weights_cte({})},
{_scores_cte()},
{dv_cte},
agg AS (SELECT doc_id, CAST(sum(s::DOUBLE) AS REAL) AS s32 FROM s GROUP BY 1),
matched AS (
  SELECT a.doc_id,
         CAST(a.s32::DOUBLE {op} ({_lit(weight)} * d.{field}::DOUBLE) AS REAL) AS score32
  FROM agg a JOIN dv d USING (doc_id)
)
{_topk_select(k)}
""".strip()


def kernel_rescore_duck(
    first_should: tuple,
    rescore_should: tuple,
    weight: float = 1.0,
    first_k: int = 100,
    k: int = 10,
) -> str:
    """Twin of LuceneSparkSearcher.rescore (QueryRescorer.java:51-139,
    :168-180): first-pass top-first_k by a SHOULD disjunction, second
    pass scored only where it matches a first-pass doc, combined =
    CAST(first::DOUBLE + weight * second::DOUBLE AS REAL) — the Java
    compound assignment's double arithmetic with ONE float32 cast —
    else the first-pass float32 score unchanged; re-ranked by
    (score desc, doc asc) LIMIT k."""
    all_terms = sorted(set(first_should) | set(rescore_should))
    return f"""
WITH {_prelude(all_terms)},
{_weights_cte({})},
{_scores_cte()},
first_agg AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN term IN ({_sql_list(first_should)}) THEN s::DOUBLE END) AS REAL) AS f,
         count(CASE WHEN term IN ({_sql_list(first_should)}) THEN 1 END) AS n1,
         CAST(sum(CASE WHEN term IN ({_sql_list(rescore_should)}) THEN s::DOUBLE END) AS REAL) AS s2,
         count(CASE WHEN term IN ({_sql_list(rescore_should)}) THEN 1 END) AS n2
  FROM s GROUP BY 1
),
first_top AS (
  SELECT doc_id, f, s2, n2 FROM first_agg WHERE n1 >= 1
  ORDER BY f DESC, doc_id ASC LIMIT {first_k}
),
matched AS (
  SELECT doc_id,
         CASE WHEN n2 >= 1
              THEN CAST(f::DOUBLE + {_lit(weight)} * s2::DOUBLE AS REAL)
              ELSE f END AS score32
  FROM first_top
)
{_topk_select(k)}
""".strip()


def kernel_keyword_term_duck(field: str, value: str, k: int = 10) -> str:
    """Twin of a keyword-field TermQuery (StringField postings: tf=1,
    dl=1, per-field avgdl = 1): score is one float32 constant per query,
    computed with the same op order as the kernel."""
    # cache entry for dl=1 with avgdl=f32(n/n)=1: LENGTH_TABLE[1] = 1.0
    cache1 = _f32(
        f"{_f32(_lit(K1))} * "
        + _f32(
            f"{_f32(_lit(1 - B))} + "
            + _f32(_f32(f"{_f32(_lit(B))} * {_f32(_lit(1.0))}") + f" / {_f32(_lit(1.0))}")
        )
    )
    score32 = (
        f"CAST(w.w * CAST(CAST(1 AS REAL)::DOUBLE / "
        f"(CAST(1 AS REAL)::DOUBLE + ({cache1})::DOUBLE) AS REAL) AS REAL)"
    )
    return f"""
WITH tot AS (SELECT count(*) AS n_docs FROM documents),
dfr AS (SELECT count(*) AS df FROM documents WHERE {field} = {_sql_str(value)}),
w AS (
  SELECT {_f32(f"{_f32(_lit(1.0))} * {_idf32('dfr.df', 'tot.n_docs')}")} AS w
  FROM dfr CROSS JOIN tot
),
matched AS (
  SELECT d.doc_id, {score32} AS score32
  FROM documents d CROSS JOIN w WHERE d.{field} = {_sql_str(value)}
)
{_topk_select(k)}
""".strip()


# --------------------------------------------------------------------------
# Pluggable-similarity twins (kernels/similarity.py): Classic TF-IDF,
# BooleanSimilarity, LM Dirichlet, LM Jelinek-Mercer — the same quantized
# norm pipeline (SmallFloat length table), different per-term scorers.
# Reference: lucene/core similarities/ClassicSimilarity.java:38-64,
# TFIDFSimilarity.java:515-552, BooleanSimilarity.java:47-61,
# LMDirichletSimilarity.java:73-77, LMJelinekMercerSimilarity.java:63-68.
#
# Bit-exactness caveat (LM sims only): both engines compute the log in
# DOUBLE (NumPy vectorized log vs DuckDB std::log) which can differ by
# 1 double-ULP; the final CAST(.. AS REAL) absorbs that noise (a float32
# boundary hit needs the double to land within 2^-29 of a half-ulp —
# measured 0 mismatches over 200k random (freq, dl, p) triples).
# --------------------------------------------------------------------------


def classic_norm_table_values() -> str:
    """256 rows (len_i BIGINT, cn REAL-as-DOUBLE literal): the Classic
    lengthNorm table — cn[i] = f32(1/sqrt(f64(LENGTH_TABLE[i]))), slot 0
    = 1f/cn[255] (TFIDFSimilarity.java:515-521 normTable). Emitted from
    the SAME constants as kernels/similarity.py CLASSIC_NORM_TABLE."""
    from ..kernels.similarity import CLASSIC_NORM_TABLE

    ints = LENGTH_TABLE.astype(np.int64)
    return ", ".join(
        f"({int(ints[i])}, {_lit(CLASSIC_NORM_TABLE[i])})" for i in range(256)
    )


def _classic_weights_cte() -> str:
    """qw(term) = f32(f32(1.0) * f32(ln((N+1)/(df+1)) + 1.0)) — the
    classic_idf / classic_query_weight op order (boost 1)."""
    idf32 = _f32(
        "ln((tot.n_docs + 1)::DOUBLE / (dfr.df + 1)::DOUBLE) + 1e0"
    )
    return f"""
w AS (
  SELECT dfr.term, {_f32(f"{_f32(_lit(1.0))} * {idf32}")} AS qw
  FROM dfr CROSS JOIN tot
)
""".strip()


def kernel_classic_duck(should: tuple, k: int = 10) -> str:
    """Classic TF-IDF disjunction twin: per term
    s = f32(f32(f32(sqrt(f64(f32(tf)))) * qw) * cn[normByte]); clause
    scores summed in DOUBLE, cast REAL (kernel _eval_bool + top_k)."""
    terms = sorted(set(should))
    score32 = (
        "CAST(CAST(CAST(sqrt(CAST(tf.tf AS REAL)::DOUBLE) AS REAL)"
        " * w.qw AS REAL) * q.cn AS REAL)"
    )
    return f"""
WITH {_prelude(terms)},
{_classic_weights_cte()},
ct(len_i, cn) AS (VALUES {classic_norm_table_values()}),
cnq AS (
  SELECT d.doc_id, arg_max(c.cn, c.len_i) AS cn
  FROM dl d JOIN ct c ON c.len_i <= d.dl GROUP BY d.doc_id
),
s AS (
  SELECT tf.doc_id, {score32} AS s
  FROM tf JOIN w USING (term) JOIN cnq q ON q.doc_id = tf.doc_id
),
matched AS (
  SELECT doc_id, CAST(sum(s::DOUBLE) AS REAL) AS score32 FROM s GROUP BY 1
)
{_topk_select(k)}
""".strip()


def kernel_boolean_sim_duck(term: str, k: int = 10) -> str:
    """BooleanSimilarity twin: every matching doc scores exactly the
    query boost (BooleanSimilarity.java:47-61; norms ignored)."""
    return f"""
WITH {_base_ctes()},
matched AS (
  SELECT DISTINCT doc_id, {_f32(_lit(1.0))} AS score32 FROM tok
  WHERE term = {_sql_str(term)}
)
{_topk_select(k)}
""".strip()


def _lm_prelude(term: str) -> str:
    """tf + collection-model CTEs shared by the LM twins: p(w|C) =
    (ttf + 1) / (sumTotalTermFreq + 1) in DOUBLE
    (LMSimilarity.DefaultCollectionModel, java:148-156); quantized
    docLen from the SmallFloat table (SimilarityBase.java:222-229)."""
    return f"""
{_prelude([term])},
ttfr AS (SELECT count(*) AS ttf FROM tok WHERE term = {_sql_str(term)}),
cm AS (
  SELECT (ttfr.ttf + 1e0) / (tot.sum_ttf + 1e0) AS p
  FROM ttfr CROSS JOIN tot
)
""".strip()


def kernel_lmdirichlet_duck(term: str, mu: float = 2000.0, k: int = 10) -> str:
    """LM Dirichlet twin: s = f32(max(0, boost * (ln(1 + f/(mu*p)) +
    ln(mu/(dl+mu))))) all in DOUBLE (LMDirichletSimilarity.java:73-77);
    f = f64(f32(tf)), dl = f64(LENGTH_TABLE[normByte]), mu = f64(f32(mu))."""
    mu_d = _lit(float(np.float64(np.float32(mu))))
    sd = (
        f"{_lit(1.0)} * (ln(1 + CAST(tf.tf AS REAL)::DOUBLE / ({mu_d} * cm.p))"
        f" + ln({mu_d} / (q.len_f::DOUBLE + {mu_d})))"
    )
    return f"""
WITH {_lm_prelude(term)},
matched AS (
  SELECT tf.doc_id,
         CAST(CASE WHEN ({sd}) > 0e0 THEN ({sd}) ELSE 0e0 END AS REAL) AS score32
  FROM tf JOIN dlq q ON q.doc_id = tf.doc_id CROSS JOIN cm
)
{_topk_select(k)}
""".strip()


def kernel_lmjm_duck(term: str, lam: float = 0.1, k: int = 10) -> str:
    """LM Jelinek-Mercer twin: s = f32(boost * ln(1 +
    ((1-lambda)*f/dl) / (lambda*p))) — (1-lambda) computed in FLOAT
    first, everything else DOUBLE (LMJelinekMercerSimilarity.java:63-68);
    no clamp."""
    lam_f = np.float32(lam)
    one_minus = _lit(float(np.float64(np.float32(1.0) - lam_f)))
    lam_d = _lit(float(np.float64(lam_f)))
    sd = (
        f"{_lit(1.0)} * ln(1 + ({one_minus} * CAST(tf.tf AS REAL)::DOUBLE"
        f" / q.len_f::DOUBLE) / ({lam_d} * cm.p))"
    )
    return f"""
WITH {_lm_prelude(term)},
matched AS (
  SELECT tf.doc_id, CAST({sd} AS REAL) AS score32
  FROM tf JOIN dlq q ON q.doc_id = tf.doc_id CROSS JOIN cm
)
{_topk_select(k)}
""".strip()


def kernel_feature_duck(
    term: str, field: str = "dl", mode: str = "saturation",
    weight: float = 1.0, pivot: float = 1.0, origin: float = 0.0,
    exp: float = 1.0, scaling: float = 1.0, k: int = 10,
) -> str:
    """Twin of the FeatureField modes of FunctionScore (kernel.eval_node
    'func' feature branch): score = f32(inner32 + weight * fn(v)) with
    fn in DOUBLE — saturation v/(v+pivot), log ln(scaling+v), sigmoid
    v^a/(v^a+pivot^a) (pivot^a pre-computed, same double as the kernel's
    node constant), dist_feature pivot/(pivot+|v-origin|)."""
    v = f"d.{field}::DOUBLE"
    if mode == "saturation":
        fn = f"({v}) / (({v}) + {_lit(pivot)})"
    elif mode == "log":
        fn = f"ln({_lit(scaling)} + {v})"
    elif mode == "sigmoid":
        pa = _lit(float(pivot) ** float(exp))
        fn = f"power({v}, {_lit(exp)}) / (power({v}, {_lit(exp)}) + {pa})"
    elif mode == "dist_feature":
        fn = f"{_lit(pivot)} / ({_lit(pivot)} + abs(({v}) - {_lit(origin)}))"
    else:
        raise ValueError(f"unknown feature mode {mode!r}")
    dv_cte = (
        "dv AS (SELECT doc_id, dl FROM dl)"
        if field == "dl"
        else "dv AS (SELECT doc_id, length(text) AS n_chars FROM documents)"
    )
    return f"""
WITH {_prelude((term,))},
{_weights_cte({})},
{_scores_cte()},
{dv_cte},
agg AS (SELECT doc_id, CAST(sum(s::DOUBLE) AS REAL) AS s32 FROM s GROUP BY 1),
matched AS (
  SELECT a.doc_id,
         CAST(a.s32::DOUBLE + {_lit(weight)} * ({fn}) AS REAL) AS score32
  FROM agg a JOIN dv d USING (doc_id)
)
{_topk_select(k)}
""".strip()


def _h2_tfn_sql(c: float) -> str:
    """NormalizationH2 tfn in DOUBLE: tf * log2(1 + c*avgfl/dl) with
    log2(x) = ln(x)/LOG_2 (SimilarityBase.java:202-204); avgfl =
    sum_ttf/(double)n_docs; dl = quantized len_f; c emitted through
    float32 like the engine's float field."""
    from ..kernels.similarity import LOG_2

    c_d = _lit(float(np.float64(np.float32(c))))
    return (
        f"CAST(tf.tf AS REAL)::DOUBLE * (ln(1 + {c_d} * "
        f"(tot.sum_ttf::DOUBLE / tot.n_docs::DOUBLE) / q.len_f::DOUBLE)"
        f" / {_lit(LOG_2)})"
    )


def kernel_dfr_inl2_duck(term: str, c: float = 1.0, k: int = 10) -> str:
    """DFR I(n)L2 twin (BasicModelIn.java:33-44 + AfterEffectL +
    NormalizationH2, DFRSimilarity.java:110-113): score =
    f32(boost * (A * 1 * (1 - 1/(1+tfn)))), A = log2((N+1)/(df+0.5))."""
    tfn = _h2_tfn_sql(c)
    from ..kernels.similarity import LOG_2

    a = f"(ln((tot.n_docs + 1) / (dfr.df + 0.5)) / {_lit(LOG_2)})"
    return f"""
WITH {_prelude([term])},
matched AS (
  SELECT tf.doc_id,
         CAST({_lit(1.0)} * ({a} * 1e0 * (1 - 1 / (1 + {tfn}))) AS REAL) AS score32
  FROM tf JOIN dlq q ON q.doc_id = tf.doc_id CROSS JOIN tot CROSS JOIN dfr
)
{_topk_select(k)}
""".strip()


def kernel_ib_ll_duck(term: str, c: float = 1.0, k: int = 10) -> str:
    """IB LL-D2 twin (DistributionLL.java:33-34, LambdaDF.java:32-38,
    IBSimilarity.java:99-105): lambda = f32((df+1)/(N+1)) nextDown'd off
    1; score = f32(boost * -ln(lambda/(tfn+lambda)))."""
    tfn = _h2_tfn_sql(c)
    nextdown_1f = _lit(float(np.nextafter(np.float32(1.0), np.float32(0.0))))
    lam = (
        f"(CASE WHEN CAST((dfr.df + 1.0) / (tot.n_docs + 1.0) AS REAL) >= 1"
        f" THEN {nextdown_1f}"
        f" ELSE CAST((dfr.df + 1.0) / (tot.n_docs + 1.0) AS REAL) END)::DOUBLE"
    )
    return f"""
WITH {_prelude([term])},
matched AS (
  SELECT tf.doc_id,
         CAST({_lit(1.0)} * (-ln({lam} / ({tfn} + {lam}))) AS REAL) AS score32
  FROM tf JOIN dlq q ON q.doc_id = tf.doc_id CROSS JOIN tot CROSS JOIN dfr
)
{_topk_select(k)}
""".strip()


def kernel_dfi_duck(term: str, k: int = 10) -> str:
    """DFI(IndependenceStandardized) twin (DFISimilarity.java:55-64):
    expected = (ttf+1)*dl/(sumTTF+1); 0 when freq <= expected, else
    f32(boost * log2((freq-expected)/sqrt(expected) + 1))."""
    from ..kernels.similarity import LOG_2

    f_d = "CAST(tf.tf AS REAL)::DOUBLE"
    expected = "((ttfr.ttf + 1) * q.len_f::DOUBLE / (tot.sum_ttf + 1))"
    measure = f"(({f_d} - {expected}) / sqrt({expected}))"
    return f"""
WITH {_lm_prelude(term)},
matched AS (
  SELECT tf.doc_id,
         CASE WHEN {f_d} <= {expected} THEN CAST(0 AS REAL)
              ELSE CAST({_lit(1.0)} * (ln({measure} + 1) / {_lit(LOG_2)}) AS REAL)
         END AS score32
  FROM tf JOIN dlq q ON q.doc_id = tf.doc_id CROSS JOIN ttfr CROSS JOIN tot
)
{_topk_select(k)}
""".strip()


# --------------------------------------------------------------------------
# Solr DisMax/eDisMax twin (solr/core/src/java/org/apache/solr/search/
# DisMaxQParser.java:182-266, ExtendedDismaxQParser.java;
# SolrPluginUtils.DisjunctionMaxQueryParser field aliasing): per user-query
# word, a DisjunctionMaxQuery over {content (analyzed), one keyword field};
# per-word dismaxes combine as SHOULD clauses under mm; pf adds the whole
# query as a boosted exact phrase on content OUTSIDE the mm bool
# (DisMaxQParser.addMainQuery).
# --------------------------------------------------------------------------


def _keyword_cache1() -> str:
    """float32 norm-cache entry for a keyword field (dl=1, avgdl=1) —
    same op order as kernel_keyword_term_duck / bm25.norm_cache."""
    return _f32(
        f"{_f32(_lit(K1))} * "
        + _f32(
            f"{_f32(_lit(1 - B))} + "
            + _f32(_f32(f"{_f32(_lit(B))} * {_f32(_lit(1.0))}") + f" / {_f32(_lit(1.0))}")
        )
    )


def kernel_edismax_duck(
    words: tuple,
    kw_field: str = "lang",
    content_boost: float = 1.0,
    kw_boost: float = 1.0,
    tie: float = 0.0,
    mm: int = 0,
    pf_boost: float | None = None,
    k: int = 10,
) -> str:
    """Twin of parse_dismax(words, qf={content: content_boost,
    kw_field: kw_boost}, tie, mm, pf={content: pf_boost}): per word,
    f32 leaf scores (content BM25 + keyword constant-score) fold through
    the kernel dismax op order max + f32(tie)·(sum − max) in DOUBLE
    (_eval_dismax); word dismaxes sum in DOUBLE under the mm filter
    (_eval_bool pure disjunction); the pf phrase adds OUTSIDE the mm
    bool; final REAL cast at top-k (kernel top_k)."""
    words = tuple(words)
    tie32 = _lit(float(np.float32(tie)))
    # keyword constant leaf: f32(w_kw * f32(1/(1 + cache1))), w_kw =
    # f32(f32(kw_boost) * idf32(df_kw, n_docs))
    kw_w = _f32(f"{_f32(_lit(kw_boost))} * {_idf32('kwdf.df', 'tot.n_docs')}")
    kw_score = (
        f"CAST(w.w * CAST(CAST(1 AS REAL)::DOUBLE / "
        f"(CAST(1 AS REAL)::DOUBLE + ({_keyword_cache1()})::DOUBLE) AS REAL) AS REAL)"
    )
    phrase_ctes, phrase_join, phrase_add = "", "", ""
    if pf_boost is not None and len(words) >= 2:
        toks = f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}')"
        slot_ctes = ",\n".join(
            f"pp{i} AS (SELECT doc_id, p FROM pos WHERE term = {_sql_str(w)})"
            for i, w in enumerate(words)
        )
        joins = "".join(
            f" JOIN pp{i} ON pp{i}.doc_id = pp0.doc_id AND pp{i}.p = pp0.p + {i}"
            for i in range(1, len(words))
        )
        pw = _f32(
            f"{_f32(_lit(pf_boost))} * "
            + _f32(f"sum({_idf32('dfr.df', 'tot.n_docs')}::DOUBLE)")
        )
        phrase_ctes = f""",
pos AS (
  SELECT doc_id, unnest({toks}) AS term, generate_subscripts({toks}, 1) AS p
  FROM documents
),
{slot_ctes},
ppw AS (SELECT {pw} AS w FROM dfr CROSS JOIN tot),
pfreq AS (SELECT pp0.doc_id, count(*) AS freq FROM pp0{joins} GROUP BY 1),
pscore AS (
  SELECT pfreq.doc_id,
         CAST(ppw.w * CAST(CAST(pfreq.freq AS REAL)::DOUBLE /
              (CAST(pfreq.freq AS REAL)::DOUBLE + c.c::DOUBLE) AS REAL) AS REAL)::DOUBLE AS ps
  FROM pfreq JOIN cache c ON c.doc_id = pfreq.doc_id CROSS JOIN ppw
)"""
        phrase_join = "LEFT JOIN pscore ON pscore.doc_id = agg.doc_id"
        phrase_add = " + coalesce(pscore.ps, 0)"
    return f"""
WITH {_prelude(words)},
{_weights_cte({w: content_boost for w in words})},
{_scores_cte()},
kwdf AS (
  SELECT {kw_field} AS term, count(*) AS df FROM documents
  WHERE {kw_field} IN ({_sql_list(words)}) GROUP BY 1
),
kwleaf AS (
  SELECT kwdf.term, {kw_score.replace('w.w', kw_w)} AS s
  FROM kwdf CROSS JOIN tot
),
leaves AS (
  SELECT doc_id, term, s::DOUBLE AS s FROM s
  UNION ALL
  SELECT d.doc_id, kl.term, kl.s::DOUBLE
  FROM documents d JOIN kwleaf kl ON d.{kw_field} = kl.term
),
word AS (
  SELECT doc_id, term, max(s) + {tie32}::DOUBLE * (sum(s) - max(s)) AS ws
  FROM leaves GROUP BY 1, 2
),
agg AS (SELECT doc_id, sum(ws) AS total, count(*) AS nw FROM word GROUP BY 1){phrase_ctes},
matched AS (
  SELECT agg.doc_id, CAST(agg.total{phrase_add} AS REAL) AS score32
  FROM agg {phrase_join}
  WHERE agg.nw >= {mm}
)
{_topk_select(k)}
""".strip()


def kernel_covering_duck(
    terms: tuple,
    field: str = "n_chars",
    scale: float = 1.0,
    offset: float = 0.0,
    k: int = 10,
) -> str:
    """Twin of Covering(terms..., field, scale, offset)
    (sandbox CoveringQuery.java / CoveringScorer.java:120-160): per-doc
    required match count = max(1, floor(value*scale + offset)) over the
    RAW doc-values column; matching docs score as the double sum of their
    matching f32 term scores, final REAL cast at top-k."""
    dv_cte = (
        "dv AS (SELECT doc_id, dl AS v FROM dl)"
        if field == "dl"
        else "dv AS (SELECT doc_id, length(text) AS v FROM documents)"
    )
    return f"""
WITH {_prelude(sorted(set(terms)))},
{_weights_cte({})},
{_scores_cte()},
{dv_cte},
agg AS (
  SELECT doc_id, sum(s::DOUBLE) AS total, count(DISTINCT term) AS cnt
  FROM s GROUP BY 1
),
matched AS (
  SELECT a.doc_id, CAST(a.total AS REAL) AS score32
  FROM agg a JOIN dv d USING (doc_id)
  WHERE a.cnt >= greatest(
    floor(d.v::DOUBLE * {_lit(scale)} + {_lit(offset)}), 1.0)
)
{_topk_select(k)}
""".strip()


def kernel_complex_phrase_duck(slots: tuple, k: int = 10) -> str:
    """Twin of searcher.complex_phrase (ComplexPhraseQueryParser /
    MultiPhraseQuery with a pattern slot): a slot is a literal term or
    {"prefix": p} / {"like": pat}; pattern slots match every corpus term
    matching the pattern — the same set the engine's term-dict expansion
    yields (every indexed term has df >= 1). Weight = f32(sum of f32
    idfs in double) over ALL alternatives of every slot (allTermStats),
    freq = count of matching starts, scored against the quantized norm
    cache — the kernel_multiphrase_duck pipeline with predicate slots."""
    def cond(slot) -> str:
        if isinstance(slot, dict):
            pat = slot.get("like") or slot["prefix"] + "%"
            return f"term LIKE {_sql_str(pat)}"
        if isinstance(slot, str):
            return f"term = {_sql_str(slot)}"
        return f"term IN ({_sql_list(slot)})"

    any_cond = " OR ".join(f"({cond(s)})" for s in slots)
    toks = f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}')"
    slot_ctes = ",\n".join(
        f"p{i} AS (SELECT doc_id, p FROM pos WHERE {cond(s)})"
        for i, s in enumerate(slots)
    )
    joins = "".join(
        f" JOIN p{i} ON p{i}.doc_id = p0.doc_id AND p{i}.p = p0.p + {i}"
        for i in range(1, len(slots))
    )
    return f"""
WITH {_base_ctes()},
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE {any_cond} GROUP BY 1, 2
),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
pw AS (
  SELECT {_f32("CAST(1.0 AS REAL) * " + _f32(f"sum({_idf32('dfr.df', 'tot.n_docs')}::DOUBLE)"))} AS w
  FROM dfr CROSS JOIN tot
),
pos AS (
  SELECT doc_id, unnest({toks}) AS term, generate_subscripts({toks}, 1) AS p
  FROM documents
),
{slot_ctes},
pf AS (
  SELECT p0.doc_id, count(*) AS freq FROM p0{joins} GROUP BY 1
),
matched AS (
  SELECT pf.doc_id,
         CAST(pw.w * CAST(CAST(pf.freq AS REAL)::DOUBLE /
              (CAST(pf.freq AS REAL)::DOUBLE + c.c::DOUBLE) AS REAL) AS REAL) AS score32
  FROM pf JOIN cache c ON c.doc_id = pf.doc_id CROSS JOIN pw
)
{_topk_select(k)}
""".strip()


def _expr_sql(expr: tuple, score_sql: str) -> str:
    """FunctionExpr AST → DuckDB double expression (same semantics as
    kernel._eval_expr: log = base 10, recip(x,m,a,b) = a/(m*x+b))."""
    op = expr[0]
    if op == "lit":
        return _lit(expr[1])
    if op == "score":
        return score_sql
    if op == "field":
        return {"dl": "d.dl::DOUBLE", "n_chars": "d.n_chars::DOUBLE"}[expr[1]]
    args = [_expr_sql(a, score_sql) for a in expr[1:]]
    if op in ("sum", "product"):
        j = " + " if op == "sum" else " * "
        return "(" + j.join(args) + ")"
    if op == "sub":
        return f"({args[0]} - {args[1]})"
    if op == "div":
        return f"({args[0]} / {args[1]})"
    if op == "log":
        return f"log10({args[0]})"
    if op == "ln":
        return f"ln({args[0]})"
    if op == "sqrt":
        return f"sqrt({args[0]})"
    if op == "abs":
        return f"abs({args[0]})"
    if op == "pow":
        return f"pow({args[0]}, {args[1]})"
    if op == "min":
        return "least(" + ", ".join(args) + ")"
    if op == "max":
        return "greatest(" + ", ".join(args) + ")"
    if op == "recip":
        x, m, a, b = args
        return f"({a} / ({m} * {x} + {b}))"
    raise ValueError(f"unknown expr op {op!r}")


def kernel_funcexpr_duck(term: str, expr: tuple, k: int = 10) -> str:
    """Twin of FunctionExpr(Term(term), expr) (lucene/expressions +
    Solr FunctionQParser surface): the AST evaluates in DOUBLE over the
    inner f32 term score and the RAW doc-values columns (dl = the
    oracle's token count, n_chars = length(text)), one final REAL cast
    (kernel 'funcexpr' node). Single-term inner only: the inner f32
    score is exactly CAST(sum(s) AS REAL) then."""
    score_sql = "a.s32::DOUBLE"
    return f"""
WITH {_prelude((term,))},
{_weights_cte({})},
{_scores_cte()},
dv AS (
  SELECT d2.doc_id, dl.dl AS dl, length(d2.text) AS n_chars
  FROM documents d2 JOIN dl ON dl.doc_id = d2.doc_id
),
agg AS (SELECT doc_id, CAST(sum(s::DOUBLE) AS REAL) AS s32 FROM s GROUP BY 1),
matched AS (
  SELECT a.doc_id, CAST({_expr_sql(expr, score_sql)} AS REAL) AS score32
  FROM agg a JOIN dv d USING (doc_id)
)
{_topk_select(k)}
""".strip()


def kernel_f2exp_duck(term: str, s: float = 0.25, k_hyper: float = 0.35,
                      k: int = 10) -> str:
    """AxiomaticF2EXP twin (Axiomatic.java:104-113, AxiomaticF2EXP.java:
    60-88): score = f32(max(0, boost * (tfln * idf))), tfln =
    freq/(freq + s + s*docLen/avgdl), idf = ((N+1)/df)^k — all double
    over the quantized docLen, float hyperparams promoted."""
    s32 = _lit(float(np.float32(s)))
    k32 = _lit(float(np.float32(k_hyper)))
    tf_d = "CAST(tf.tf AS REAL)::DOUBLE"
    tfln = (
        f"({tf_d} / ({tf_d} + {s32} + {s32} * q.len_f::DOUBLE / "
        f"(tot.sum_ttf::DOUBLE / tot.n_docs::DOUBLE)))"
    )
    idf = f"pow((tot.n_docs + 1.0) / dfr.df, {k32})"
    return f"""
WITH {_prelude([term])},
matched AS (
  SELECT tf.doc_id,
         CAST(greatest(0, ({tfln} * {idf}) * {_lit(1.0)}) AS REAL) AS score32
  FROM tf JOIN dlq q ON q.doc_id = tf.doc_id CROSS JOIN tot CROSS JOIN dfr
)
{_topk_select(k)}
""".strip()


def kernel_multi_sim_duck(term: str, k: int = 10) -> str:
    """MultiSimilarity(classic, boolean) twin (MultiSimilarity.java:66-71:
    float sum accumulated PER STEP): per doc
    s = f32(classic32 + boolean32) — the one float32 add of two float32
    leaves is exact as a double add + REAL cast."""
    classic32 = (
        "CAST(CAST(CAST(sqrt(CAST(tf.tf AS REAL)::DOUBLE) AS REAL)"
        " * w.qw AS REAL) * q.cn AS REAL)"
    )
    return f"""
WITH {_prelude((term,))},
{_classic_weights_cte()},
ct(len_i, cn) AS (VALUES {classic_norm_table_values()}),
cnq AS (
  SELECT d.doc_id, arg_max(c.cn, c.len_i) AS cn
  FROM dl d JOIN ct c ON c.len_i <= d.dl GROUP BY d.doc_id
),
matched AS (
  SELECT tf.doc_id,
         CAST({classic32}::DOUBLE + {_f32(_lit(1.0))}::DOUBLE AS REAL) AS score32
  FROM tf JOIN w USING (term) JOIN cnq q ON q.doc_id = tf.doc_id
)
{_topk_select(k)}
""".strip()


# ---------------------------------------------------------------------------
# WordDelimiterGraphFilter twin (analysis/miscellaneous/
# WordDelimiterGraphFilter.java) — the shipped corpus is all-lowercase, so
# the wd entry runs over a deterministically ANNOTATED view: literal
# replacements that inject camelCase / snake_case / letter-digit compounds.
# Both engines apply the SAME replacement spec; the split mapping is a
# VALUES table generated by the SAME wd_split function the engine runs
# (the stem-table pattern — the splitter itself is pinned by the ported
# reference goldens in tests/test_worddelim.py).
# ---------------------------------------------------------------------------

WD_ANNOTATIONS = (
    ("row scan", "rowScan"),
    ("fast sort", "fast_sort"),
    ("merge batch", "merge2batch"),
)

# case-preserving tokenizer twin (the wd chain tokenizes BEFORE lowercase;
# annotations only introduce [A-Za-z0-9_] characters)
WD_RAW_PATTERN = "[a-zA-Z0-9_]+"


def wd_annotated_text_sql(col: str = "text") -> str:
    expr = col
    for pat, rep in WD_ANNOTATIONS:
        expr = f"regexp_replace({expr}, {_sql_str(pat)}, {_sql_str(rep)}, 'g')"
    return expr


def _wd_table_values() -> str:
    """(raw_token, parts VARCHAR[]) rows for every raw token of the
    ANNOTATED documents tables whose wd-split+lowercase differs from
    plain lowercase — generated with the engine's own wd_split."""
    import os

    import duckdb

    from ..kernels.worddelim import WD_DEFAULT, wd_split

    files = [
        f"/root/testdata/sf{s}/documents.parquet" for s in ("0.001", "0.01", "0.1")
    ]
    files = [f for f in files if os.path.exists(f)]
    if not files:
        raise FileNotFoundError("no testdata documents tables for wd table")
    con = duckdb.connect()
    flist = ", ".join(f"'{f}'" for f in files)
    vocab = [
        r[0]
        for r in con.execute(
            f"SELECT DISTINCT unnest(regexp_extract_all("
            f"{wd_annotated_text_sql()}, '{WD_RAW_PATTERN}')) AS t "
            f"FROM read_parquet([{flist}])"
        ).fetchall()
    ]
    rows = []
    for t in sorted(set(vocab)):
        parts = [p[0].lower() for p in wd_split(t, WD_DEFAULT)[0]]
        if parts != [t.lower()]:
            rows.append(
                f"({_sql_str(t)}, [{', '.join(_sql_str(p) for p in parts)}])"
            )
    return ", ".join(rows) if rows else "('', [''])"


def _worddelim_prelude(all_terms) -> str:
    """Base + tf/df CTEs for the CODE analyzer chain over the annotated
    view: case-preserving tokenize -> wd split (mapping table) ->
    lowercase. dl = emitted part count (FieldInvertState.getLength)."""
    ann = wd_annotated_text_sql()
    cache_expr = _norm_cache_expr()
    return f"""
raw AS (
  SELECT doc_id, unnest(regexp_extract_all({ann}, '{WD_RAW_PATTERN}')) AS rt
  FROM documents
),
wdm(t, parts) AS (VALUES {_wd_table_values()}),
tok AS (
  SELECT r.doc_id, unnest(coalesce(w.parts, [lower(r.rt)])) AS term
  FROM raw r LEFT JOIN wdm w ON w.t = r.rt
),
dl AS (
  SELECT d.doc_id, count(t.term) AS dl
  FROM documents d LEFT JOIN tok t USING (doc_id) GROUP BY 1
),
tot AS (SELECT count(*) AS n_docs, sum(dl) AS sum_ttf FROM dl),
avgf AS (SELECT CAST(sum_ttf::DOUBLE / n_docs::DOUBLE AS REAL) AS a FROM tot),
lt(len_i, len_f) AS (VALUES {length_table_values()}),
dlq AS (
  SELECT d.doc_id, arg_max(l.len_f, l.len_i) AS len_f
  FROM dl d JOIN lt l ON l.len_i <= d.dl GROUP BY d.doc_id
),
cache AS (
  SELECT q.doc_id, {cache_expr} AS c FROM dlq q CROSS JOIN avgf av
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ({_sql_list(all_terms)}) GROUP BY 1, 2
),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
""".strip()


def kernel_worddelim_term_duck(term: str, k: int = 10) -> str:
    """Twin of a TermQuery against a CODE-analyzer index over the
    annotated view — quantized float32 BM25 with wd-split dl/df/tf."""
    return f"""
WITH {_worddelim_prelude((term,))},
{_weights_cte({})},
{_scores_cte()},
matched AS (
  SELECT doc_id, CAST(sum(s::DOUBLE) AS REAL) AS score32 FROM s GROUP BY 1
)
{_topk_select(k)}
""".strip()


# ---------------------------------------------------------------------------
# HTMLStripCharFilter twin (analysis/charfilter/HTMLStripCharFilter.java)
# — runs over an annotated view that wraps corpus words in markup; the
# strip chain is generated from kernels/htmlstrip.STRIP_STEPS (the one
# shared spec). Numeric entities are a Python-only decode step, so the
# generator asserts the annotated corpus contains none.
# ---------------------------------------------------------------------------

HTML_ANNOTATIONS = (
    ("data", "<b>data</b>"),
    ("query", '<div class="q">query</div>'),
    ("merge", "merge<!-- c -->"),
    ("slow", "slow &amp; steady"),
    ("batch", "<script>var x = 1;</script>batch"),
)


def html_annotated_text_sql(col: str = "text") -> str:
    expr = col
    for pat, rep in HTML_ANNOTATIONS:
        expr = f"regexp_replace({expr}, {_sql_str(pat)}, {_sql_str(rep)}, 'g')"
    return expr


def html_strip_sql(expr: str) -> str:
    """The STRIP_STEPS chain as nested DuckDB regexp_replace calls —
    generated from the SAME ordered spec the engine executes."""
    from ..kernels.htmlstrip import STRIP_STEPS, _NUMERIC_ENTITY

    for pat, rep in STRIP_STEPS:
        expr = f"regexp_replace({expr}, {_sql_str(pat)}, {_sql_str(rep)}, 'g')"
    # Python-only numeric entity decode: assert it cannot fire here
    import duckdb as _dd
    import os as _os

    files = [
        f"/root/testdata/sf{s}/documents.parquet" for s in ("0.001", "0.01", "0.1")
    ]
    files = [f for f in files if _os.path.exists(f)]
    if files:
        flist = ", ".join(f"'{f}'" for f in files)
        n = _dd.connect().execute(
            f"SELECT count(*) FROM read_parquet([{flist}]) "
            f"WHERE regexp_matches({html_annotated_text_sql()}, "
            f"{_sql_str(_NUMERIC_ENTITY.pattern)})"
        ).fetchone()[0]
        if n:
            raise AssertionError(
                "annotated corpus contains numeric entities — the SQL twin "
                "cannot replay the Python-only decode step"
            )
    return expr


def kernel_htmlstrip_term_duck(term: str, k: int = 10) -> str:
    """Twin of a TermQuery against an HTML-analyzer index over the
    annotated view: strip chain -> standard tokenize -> quantized
    float32 BM25."""
    stripped = html_strip_sql(html_annotated_text_sql())
    toks = f"regexp_extract_all(lower({stripped}), '{TOKEN_PATTERN}')"
    cache_expr = _norm_cache_expr()
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({toks}) AS term FROM documents
),
dl AS (SELECT doc_id, len({toks}) AS dl FROM documents),
tot AS (SELECT count(*) AS n_docs, sum(dl) AS sum_ttf FROM dl),
avgf AS (SELECT CAST(sum_ttf::DOUBLE / n_docs::DOUBLE AS REAL) AS a FROM tot),
lt(len_i, len_f) AS (VALUES {length_table_values()}),
dlq AS (
  SELECT d.doc_id, arg_max(l.len_f, l.len_i) AS len_f
  FROM dl d JOIN lt l ON l.len_i <= d.dl GROUP BY d.doc_id
),
cache AS (
  SELECT q.doc_id, {cache_expr} AS c FROM dlq q CROSS JOIN avgf av
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ({_sql_list((term,))}) GROUP BY 1, 2
),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
{_weights_cte({})},
{_scores_cte()},
matched AS (
  SELECT doc_id, CAST(sum(s::DOUBLE) AS REAL) AS score32 FROM s GROUP BY 1
)
{_topk_select(k)}
""".strip()


# ---------------------------------------------------------------------------
# PhoneticFilter twin (analysis/phonetic/PhoneticFilter.java, inject=true
# with commons-codec Soundex) — the injected stream is base tokens plus
# their codes AT THE SAME POSITIONS; a query Term becomes
# SynonymQuery(term, code). The code mapping table is generated with the
# engine's own soundex (pinned by its commons-codec test vectors).
# ---------------------------------------------------------------------------


def _phonetic_table_values() -> str:
    """(term, code) VALUES rows for every corpus token with a nonempty,
    distinct Soundex code."""
    from ..kernels.phonetic import phonetic_code

    vocab = _corpus_vocab()
    rows = []
    for t in sorted(set(vocab)):
        code = phonetic_code(t)
        if code:
            rows.append(f"({_sql_str(t)}, {_sql_str(code)})")
    return ", ".join(rows) if rows else "('', '')"


def kernel_phonetic_synonym_duck(query_text: str, k: int = 10) -> str:
    """Twin of search(Term(query_text)) against a PHONETIC index: the
    searcher's re-analysis yields SynonymQuery(term, soundex) — freqs
    summed over members, ONE weight = f32(sum in double of the members'
    f32 idfs) (SynonymQuery.java freq-sum / kernels.bm25.synonym_idf),
    over the injected token stream (dl includes the codes)."""
    from ..kernels.phonetic import phonetic_code

    term = query_text.lower()
    code = phonetic_code(term)
    members = [term] + ([code] if code else [])
    cache_expr = _norm_cache_expr()
    toks = f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}')"
    return f"""
WITH base AS (
  SELECT doc_id, unnest({toks}) AS term FROM documents
),
ph(t, code) AS (VALUES {_phonetic_table_values()}),
tok AS (
  SELECT doc_id, term FROM base
  UNION ALL
  SELECT b.doc_id, p.code AS term FROM base b JOIN ph p ON p.t = b.term
),
dl AS (
  SELECT d.doc_id, count(t.term) AS dl
  FROM documents d LEFT JOIN tok t USING (doc_id) GROUP BY 1
),
tot AS (SELECT count(*) AS n_docs, sum(dl) AS sum_ttf FROM dl),
avgf AS (SELECT CAST(sum_ttf::DOUBLE / n_docs::DOUBLE AS REAL) AS a FROM tot),
lt(len_i, len_f) AS (VALUES {length_table_values()}),
dlq AS (
  SELECT d.doc_id, arg_max(l.len_f, l.len_i) AS len_f
  FROM dl d JOIN lt l ON l.len_i <= d.dl GROUP BY d.doc_id
),
cache AS (
  SELECT q.doc_id, {cache_expr} AS c FROM dlq q CROSS JOIN avgf av
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ({_sql_list(members)}) GROUP BY 1, 2
),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
w AS (
  SELECT CAST(sum(CAST({_idf32('dfr.df', 'tot.n_docs')} AS DOUBLE)) AS REAL) AS w
  FROM dfr CROSS JOIN tot
),
ftot AS (SELECT doc_id, sum(tf) AS tf FROM tf GROUP BY 1),
matched AS (
  SELECT f.doc_id,
         CAST(w.w * CAST(CAST(f.tf AS REAL)::DOUBLE /
              (CAST(f.tf AS REAL)::DOUBLE + c.c::DOUBLE) AS REAL) AS REAL)
           AS score32
  FROM ftot f CROSS JOIN w JOIN cache c ON c.doc_id = f.doc_id
)
{_topk_select(k)}
""".strip()


def sweetspot_norm_table_values(ln_min: int, ln_max: int,
                                steep: float = 0.5) -> str:
    """256 rows (len_i, sn) from the SAME kernels/similarity table —
    SweetSpotSimilarity.lengthNorm precomputed per SmallFloat length."""
    from ..kernels.similarity import sweetspot_norm_table

    table = sweetspot_norm_table(ln_min, ln_max, steep)
    ints = LENGTH_TABLE.astype(np.int64)
    return ", ".join(
        f"({int(ints[i])}, {_lit(table[i])})" for i in range(256)
    )


def kernel_sweetspot_duck(term: str, ln_min: int, ln_max: int,
                          k: int = 10) -> str:
    """SweetSpotSimilarity twin (misc/SweetSpotSimilarity.java): classic
    idf/queryWeight, default baselineTf (= sqrt at tf_base=tf_min=0),
    plateau lengthNorm from the shared table. Exhaustive route (the
    plateau is non-monotone in length — WAND UBs invalid)."""
    score32 = (
        "CAST(CAST(CAST(sqrt(CAST(tf.tf AS REAL)::DOUBLE) AS REAL)"
        " * w.qw AS REAL) * q.sn AS REAL)"
    )
    return f"""
WITH {_prelude((term,))},
{_classic_weights_cte()},
st(len_i, sn) AS (VALUES {sweetspot_norm_table_values(ln_min, ln_max)}),
snq AS (
  SELECT d.doc_id, arg_max(s.sn, s.len_i) AS sn
  FROM dl d JOIN st s ON s.len_i <= d.dl GROUP BY d.doc_id
),
s AS (
  SELECT tf.doc_id, {score32} AS s
  FROM tf JOIN w USING (term) JOIN snq q ON q.doc_id = tf.doc_id
),
matched AS (
  SELECT doc_id, CAST(sum(s::DOUBLE) AS REAL) AS score32 FROM s GROUP BY 1
)
{_topk_select(k)}
""".strip()


def kernel_keep_original_synonym_duck(query_text: str, k: int = 10) -> str:
    """Twin of search(Term(q)) against a STEM_KEEP index (KeywordRepeat +
    Porter + RemoveDuplicates): the token stream carries ORIGINAL + STEM
    at one position when they differ (dl counts both); the query Term
    re-analyzes to SynonymQuery(original, stem) — freq-sum, idf-sum,
    exactly the phonetic-injection scoring shape."""
    from ..kernels.porter import porter_stem

    term = query_text.lower()
    stem = porter_stem(term)
    members = [term] + ([stem] if stem != term else [])
    cache_expr = _norm_cache_expr()
    toks = f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}')"
    return f"""
WITH base AS (
  SELECT doc_id, unnest({toks}) AS term FROM documents
),
st(t, stem) AS (VALUES {_stem_table_values()}),
tok AS (
  SELECT doc_id, term FROM base
  UNION ALL
  SELECT b.doc_id, s.stem AS term FROM base b JOIN st s ON s.t = b.term
),
dl AS (
  SELECT d.doc_id, count(t.term) AS dl
  FROM documents d LEFT JOIN tok t USING (doc_id) GROUP BY 1
),
tot AS (SELECT count(*) AS n_docs, sum(dl) AS sum_ttf FROM dl),
avgf AS (SELECT CAST(sum_ttf::DOUBLE / n_docs::DOUBLE AS REAL) AS a FROM tot),
lt(len_i, len_f) AS (VALUES {length_table_values()}),
dlq AS (
  SELECT d.doc_id, arg_max(l.len_f, l.len_i) AS len_f
  FROM dl d JOIN lt l ON l.len_i <= d.dl GROUP BY d.doc_id
),
cache AS (
  SELECT q.doc_id, {cache_expr} AS c FROM dlq q CROSS JOIN avgf av
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ({_sql_list(members)}) GROUP BY 1, 2
),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
w AS (
  SELECT CAST(sum(CAST({_idf32('dfr.df', 'tot.n_docs')} AS DOUBLE)) AS REAL) AS w
  FROM dfr CROSS JOIN tot
),
ftot AS (SELECT doc_id, sum(tf) AS tf FROM tf GROUP BY 1),
matched AS (
  SELECT f.doc_id,
         CAST(w.w * CAST(CAST(f.tf AS REAL)::DOUBLE /
              (CAST(f.tf AS REAL)::DOUBLE + c.c::DOUBLE) AS REAL) AS REAL)
           AS score32
  FROM ftot f CROSS JOIN w JOIN cache c ON c.doc_id = f.doc_id
)
{_topk_select(k)}
""".strip()


# ---------------------------------------------------------------------------
# Pattern analysis twins (analysis/pattern/PatternReplaceCharFilter.java +
# PatternTokenizer.java): the char filter replays as regexp_replace over
# the (annotated) source; the pattern tokenizer replays as a custom
# regexp_extract_all pattern. Both reuse the standard kernel BM25 CTEs
# with the token-source expression swapped.
# ---------------------------------------------------------------------------

# annotated views planting the shapes the pattern features act on
# (merge -> a hyphenated compound; window -> a digit-infixed token)
PATTERN_CF_ANNOTATIONS = ((r"\bmerge\b", "data-driven"),)
PATTERN_TOK_ANNOTATIONS = ((r"\bwindow\b", "v2data"),)


def _annotated_sql(annotations, col: str = "lower(text)") -> str:
    expr = col
    for pat, rep in annotations:
        expr = f"regexp_replace({expr}, {_sql_str(pat)}, {_sql_str(rep)}, 'g')"
    return expr


def kernel_pattern_term_duck(query_text: str, k: int = 10, *,
                             annotations=(), char_filters=(),
                             token_regex: str | None = None) -> str:
    """Twin of a TermQuery against an index whose analyzer carries
    PatternReplaceCharFilter rules (`char_filters`, replayed as chained
    regexp_replace over the source) and/or a PatternTokenizer
    (`token_regex` replaces the standard token pattern). Standard
    quantized-float32 BM25 over the resulting stream."""
    src = _annotated_sql(annotations)
    for pat, rep in char_filters:
        src = f"regexp_replace({src}, {_sql_str(pat)}, {_sql_str(rep)}, 'g')"
    toks = f"regexp_extract_all({src}, '{token_regex or TOKEN_PATTERN}')"
    term = query_text.lower()
    return f"""
WITH {_prelude((term,), toks)},
{_weights_cte({})},
{_scores_cte()},
matched AS (
  SELECT doc_id, CAST(sum(s::DOUBLE) AS REAL) AS score32 FROM s GROUP BY 1
)
{_topk_select(k)}
""".strip()


# ---------------------------------------------------------------------------
# DictionaryCompoundWordTokenFilter twin (compound/DictionaryCompoundWord
# TokenFilter.java:73-100 + CompoundWordTokenFilterBase.java:90-116) — the
# injected stream is base tokens plus their dictionary SUBWORDS at the same
# positions (1:many); a query Term becomes SynonymQuery(term, *subwords).
# The mapping table is generated with the engine's own decompose over the
# testdata vocabulary (the decompose contract itself is pinned by
# reference-mirroring goldens in tests/test_compound.py).
# ---------------------------------------------------------------------------


def _compound_table_values() -> str:
    """(term, sub) VALUES rows — one row per (corpus token, emitted
    subword), duplicates preserved in discovery order (the injected
    stream repeats a subword hit the reference repeats)."""
    from ..kernels.analyzer import COMPOUND_DICT
    from ..kernels.compound import decompose

    vocab = _corpus_vocab()
    rows = []
    for t in sorted(set(vocab)):
        for sub in decompose(t, COMPOUND_DICT):
            rows.append(f"({_sql_str(t)}, {_sql_str(sub)})")
    return ", ".join(rows) if rows else "('', '')"


def _hyphen_table_values() -> str:
    """(term, sub) VALUES rows for the HYPHENATION chain — one row per
    (corpus token, emitted part), duplicates preserved in discovery
    order. Derived from the ENGINE'S OWN hyphen_decompose over the
    testdata vocab (the hyphenator itself is pinned by the reference's
    public da_UTF8.xml goldens in tests/test_hyphenation.py)."""
    from ..kernels.analyzer import HYPHEN_DICT, HYPHEN_SPEC
    from ..kernels.hyphenation import hyphen_decompose

    vocab = _corpus_vocab()
    rows = []
    for t in sorted(set(vocab)):
        for sub in hyphen_decompose(t, HYPHEN_SPEC, HYPHEN_DICT):
            rows.append(f"({_sql_str(t)}, {_sql_str(sub)})")
    return ", ".join(rows) if rows else "('', '')"


def kernel_hyphen_synonym_duck(query_text: str, k: int = 10) -> str:
    """Twin of search(Term(query_text)) against a HYPHENATION index
    (HyphenationCompoundWordTokenFilter.java:135-205): identical scoring
    shape to the dictionary-compound twin — SynonymQuery(term, *parts),
    freqs summed over DISTINCT members, dl includes the injected
    parts — but the injected stream holds only hyphen-point-ALIGNED
    parts (the mapping table differs, the algebra does not)."""
    from ..kernels.analyzer import HYPHEN_DICT, HYPHEN_SPEC
    from ..kernels.hyphenation import hyphen_decompose

    term = query_text.lower()
    members = list(dict.fromkeys(
        [term] + hyphen_decompose(term, HYPHEN_SPEC, HYPHEN_DICT)
    ))
    cache_expr = _norm_cache_expr()
    toks = f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}')"
    return f"""
WITH base AS (
  SELECT doc_id, unnest({toks}) AS term FROM documents
),
cp(t, sub) AS (VALUES {_hyphen_table_values()}),
tok AS (
  SELECT doc_id, term FROM base
  UNION ALL
  SELECT b.doc_id, c.sub AS term FROM base b JOIN cp c ON c.t = b.term
),
dl AS (
  SELECT d.doc_id, count(t.term) AS dl
  FROM documents d LEFT JOIN tok t USING (doc_id) GROUP BY 1
),
tot AS (SELECT count(*) AS n_docs, sum(dl) AS sum_ttf FROM dl),
avgf AS (SELECT CAST(sum_ttf::DOUBLE / n_docs::DOUBLE AS REAL) AS a FROM tot),
lt(len_i, len_f) AS (VALUES {length_table_values()}),
dlq AS (
  SELECT d.doc_id, arg_max(l.len_f, l.len_i) AS len_f
  FROM dl d JOIN lt l ON l.len_i <= d.dl GROUP BY d.doc_id
),
cache AS (
  SELECT q.doc_id, {cache_expr} AS c FROM dlq q CROSS JOIN avgf av
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ({_sql_list(members)}) GROUP BY 1, 2
),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
w AS (
  SELECT CAST(sum(CAST({_idf32('dfr.df', 'tot.n_docs')} AS DOUBLE)) AS REAL) AS w
  FROM dfr CROSS JOIN tot
),
ftot AS (SELECT doc_id, sum(tf) AS tf FROM tf GROUP BY 1),
matched AS (
  SELECT f.doc_id,
         CAST(w.w * CAST(CAST(f.tf AS REAL)::DOUBLE /
              (CAST(f.tf AS REAL)::DOUBLE + c.c::DOUBLE) AS REAL) AS REAL)
           AS score32
  FROM ftot f CROSS JOIN w JOIN cache c ON c.doc_id = f.doc_id
)
{_topk_select(k)}
""".strip()


def kernel_compound_synonym_duck(query_text: str, k: int = 10) -> str:
    """Twin of search(Term(query_text)) against a COMPOUND index: the
    searcher's re-analysis yields SynonymQuery(term, *subwords) — freqs
    summed over DISTINCT members, ONE weight = f32(sum in double of the
    members' f32 idfs), over the injected token stream (dl includes the
    subwords)."""
    from ..kernels.analyzer import COMPOUND_DICT
    from ..kernels.compound import decompose

    term = query_text.lower()
    members = list(dict.fromkeys([term] + decompose(term, COMPOUND_DICT)))
    cache_expr = _norm_cache_expr()
    toks = f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}')"
    return f"""
WITH base AS (
  SELECT doc_id, unnest({toks}) AS term FROM documents
),
cp(t, sub) AS (VALUES {_compound_table_values()}),
tok AS (
  SELECT doc_id, term FROM base
  UNION ALL
  SELECT b.doc_id, c.sub AS term FROM base b JOIN cp c ON c.t = b.term
),
dl AS (
  SELECT d.doc_id, count(t.term) AS dl
  FROM documents d LEFT JOIN tok t USING (doc_id) GROUP BY 1
),
tot AS (SELECT count(*) AS n_docs, sum(dl) AS sum_ttf FROM dl),
avgf AS (SELECT CAST(sum_ttf::DOUBLE / n_docs::DOUBLE AS REAL) AS a FROM tot),
lt(len_i, len_f) AS (VALUES {length_table_values()}),
dlq AS (
  SELECT d.doc_id, arg_max(l.len_f, l.len_i) AS len_f
  FROM dl d JOIN lt l ON l.len_i <= d.dl GROUP BY d.doc_id
),
cache AS (
  SELECT q.doc_id, {cache_expr} AS c FROM dlq q CROSS JOIN avgf av
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ({_sql_list(members)}) GROUP BY 1, 2
),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
w AS (
  SELECT CAST(sum(CAST({_idf32('dfr.df', 'tot.n_docs')} AS DOUBLE)) AS REAL) AS w
  FROM dfr CROSS JOIN tot
),
ftot AS (SELECT doc_id, sum(tf) AS tf FROM tf GROUP BY 1),
matched AS (
  SELECT f.doc_id,
         CAST(w.w * CAST(CAST(f.tf AS REAL)::DOUBLE /
              (CAST(f.tf AS REAL)::DOUBLE + c.c::DOUBLE) AS REAL) AS REAL)
           AS score32
  FROM ftot f CROSS JOIN w JOIN cache c ON c.doc_id = f.doc_id
)
{_topk_select(k)}
""".strip()


# ---------------------------------------------------------------------------
# SynonymGraphFilter twin (synonym/SynonymGraphFilter.java:426-545 +
# core/FlattenGraphFilter.java:268-340) — the synonym index runs over the
# PLAIN documents corpus; the twin token stream is GENERATED from the same
# kernels/synonyms.SYN_RULES the engine analyzes with:
#   * single-path no-keepOrig entries ("x y => z", "w => u v") are exact
#     TEXT rewrites (token stream AND positions identical to the flatten);
#   * single-token equivalence entries ("a, b") are posInc-0 INJECTIONS
#     (count-exact; positions stack, which Term/Synonym scoring never
#     reads). Rule shapes the SQL cannot replay raise at generation time.
# ---------------------------------------------------------------------------


def _syn_spec():
    """(rewrites, injections) derived from the parsed SYN_RULES map.

    rewrites: [(regex, replacement)] ordered longest-input-first (the
    graph matcher is greedy longest-leftmost; disjoint inputs make the
    sequential regexp_replace order-equivalent — validated below).
    injections: {trigger: [stacked members...]} applied to the REWRITTEN
    stream, never re-scanned (single-pass graph semantics)."""
    import re as _re

    from ..kernels.synonyms import SYN_RULES, rules_map

    rewrites, injections = [], {}
    triggers = set()
    for inp, _e in rules_map(SYN_RULES).entries():
        triggers.add(inp[0])
    for inp, ent in rules_map(SYN_RULES).entries():
        if len(ent.paths) == 1 and not ent.keep_orig:
            out = ent.paths[0]
            pat = r"\b" + r"[^a-z0-9_]+".join(_re.escape(t) for t in inp) + r"\b"
            for t in out:
                if t in triggers and (t,) != inp and [t] != list(inp):
                    raise AssertionError(
                        f"rewrite output token {t!r} triggers another rule "
                        f"— sequential regexp_replace would re-scan it"
                    )
            rewrites.append((len(inp), pat, " ".join(out)))
        elif len(inp) == 1 and all(len(p) == 1 for p in ent.paths):
            members = [p[0] for p in ent.paths if p[0] != inp[0]]
            if members:
                injections[inp[0]] = members
        else:
            raise NotImplementedError(
                f"synonym rule shape for input {inp!r} has no SQL twin "
                f"(multi-path multi-word or keepOrig with side paths)"
            )
    rewrites.sort(key=lambda r: -r[0])
    return [(p, r) for _n, p, r in rewrites], injections


def syn_rewritten_text_sql(col: str = "lower(text)") -> str:
    expr = col
    for pat, rep in _syn_spec()[0]:
        expr = f"regexp_replace({expr}, {_sql_str(pat)}, {_sql_str(rep)}, 'g')"
    return expr


def _synonym_prelude(all_terms) -> str:
    """raw/tok/dl/.../tf/dfr CTEs for the synonym_en chain: rewritten
    text tokenized, then equivalence members stacked. dl counts every
    emitted token (FieldInvertState.getLength — the engine's convention
    for stacked chains, same as the phonetic/stem-keep twins)."""
    _rw, inj = _syn_spec()
    toks = f"regexp_extract_all({syn_rewritten_text_sql()}, '{TOKEN_PATTERN}')"
    inj_rows = ", ".join(
        f"({_sql_str(t)}, {_sql_str(m)})" for t, ms in inj.items() for m in ms
    ) or "('', '')"
    cache_expr = _norm_cache_expr()
    return f"""
base AS (
  SELECT doc_id, unnest({toks}) AS term FROM documents
),
inj(t, member) AS (VALUES {inj_rows}),
tok AS (
  SELECT doc_id, term FROM base
  UNION ALL
  SELECT b.doc_id, i.member AS term FROM base b JOIN inj i ON i.t = b.term
),
dl AS (
  SELECT d.doc_id, count(t.term) AS dl
  FROM documents d LEFT JOIN tok t USING (doc_id) GROUP BY 1
),
tot AS (SELECT count(*) AS n_docs, sum(dl) AS sum_ttf FROM dl),
avgf AS (SELECT CAST(sum_ttf::DOUBLE / n_docs::DOUBLE AS REAL) AS a FROM tot),
lt(len_i, len_f) AS (VALUES {length_table_values()}),
dlq AS (
  SELECT d.doc_id, arg_max(l.len_f, l.len_i) AS len_f
  FROM dl d JOIN lt l ON l.len_i <= d.dl GROUP BY d.doc_id
),
cache AS (
  SELECT q.doc_id, {cache_expr} AS c FROM dlq q CROSS JOIN avgf av
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ({_sql_list(all_terms)}) GROUP BY 1, 2
),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
""".strip()


def kernel_synonym_index_term_duck(term: str, k: int = 10) -> str:
    """Twin of search(Term(t)) against the synonym_en index where t
    triggers NO query-side rule (e.g. a rewrite output like 'quicksort'):
    plain quantized float32 BM25 over the synonym-transformed stream."""
    from ..kernels.synonyms import SYN_RULES, expand_query_token, rules_map

    if expand_query_token(term.lower(), rules_map(SYN_RULES)) is not None:
        raise AssertionError(
            f"{term!r} expands at query time — use "
            f"kernel_synonym_index_synquery_duck"
        )
    return f"""
WITH {_synonym_prelude((term.lower(),))},
{_weights_cte({})},
{_scores_cte()},
matched AS (
  SELECT doc_id, CAST(sum(s::DOUBLE) AS REAL) AS score32 FROM s GROUP BY 1
)
{_topk_select(k)}
""".strip()


def kernel_synonym_index_synquery_duck(query_text: str, k: int = 10) -> str:
    """Twin of search(Term(t)) where t is an equivalence-class member:
    the searcher re-analyzes to SynonymQuery(members) — freq-sum over
    members, ONE weight = f32(sum in double of the members' f32 idfs)
    (SynonymQuery.java / kernels.bm25.synonym_idf), over the synonym
    token stream. Members come from the ENGINE's own query expansion."""
    from ..kernels.synonyms import SYN_RULES, expand_query_token, rules_map

    term = query_text.lower()
    paths = expand_query_token(term, rules_map(SYN_RULES))
    if not paths or not all(len(p) == 1 for p in paths):
        raise AssertionError(
            f"{query_text!r} does not expand to a flat SynonymQuery"
        )
    members = list(dict.fromkeys(p[0] for p in paths))
    return f"""
WITH {_synonym_prelude(tuple(members))},
w AS (
  SELECT CAST(sum(CAST({_idf32('dfr.df', 'tot.n_docs')} AS DOUBLE)) AS REAL) AS w
  FROM dfr CROSS JOIN tot
),
ftot AS (SELECT doc_id, sum(tf) AS tf FROM tf GROUP BY 1),
matched AS (
  SELECT f.doc_id,
         CAST(w.w * CAST(CAST(f.tf AS REAL)::DOUBLE /
              (CAST(f.tf AS REAL)::DOUBLE + c.c::DOUBLE) AS REAL) AS REAL)
           AS score32
  FROM ftot f CROSS JOIN w JOIN cache c ON c.doc_id = f.doc_id
)
{_topk_select(k)}
""".strip()


# ---------------------------------------------------------------------------
# GermanAnalyzer twin (de/GermanAnalyzer.java:132-142 chain; kernels/
# german.py pins GermanNormalizationFilter + GermanLightStemmer against
# the reference's 35k-word canonical vocabulary) — runs over an annotated
# view mapping three corpus words onto German inflections of ONE lemma
# (merges->hauses, merge->haeuser, window->haus: digraph normalization +
# both stemmer steps all collapse to 'haus'). The stem table is generated
# by the ENGINE'S OWN german_term over the annotated vocab — the function
# itself is golden-pinned, the oracle checks the pipeline around it.
# ---------------------------------------------------------------------------

GERMAN_ANNOTATIONS = (
    (r"\bmerges\b", "hauses"),
    (r"\bmerge\b", "haeuser"),
    (r"\bwindow\b", "haus"),
)


def german_annotated_text_sql(col: str = "text") -> str:
    expr = col
    for pat, rep in GERMAN_ANNOTATIONS:
        expr = f"regexp_replace({expr}, {_sql_str(pat)}, {_sql_str(rep)}, 'g')"
    return expr


def _german_stem_table_values() -> str:
    """(term, german_term(term)) VALUES rows over the ANNOTATED corpus
    vocabulary wherever the chain changes the token (the fixed-vocabulary
    stem-table pattern, kernels/german.german_term as the one spec)."""
    from ..kernels.german import german_term

    vocab = _corpus_vocab(german_annotated_text_sql("lower(text)"))
    rows = [
        f"({_sql_str(t)}, {_sql_str(german_term(t))})"
        for t in sorted(set(vocab))
        if german_term(t) != t
    ]
    return ", ".join(rows) if rows else "('', '')"


def kernel_german_term_duck(query_text: str, k: int = 10) -> str:
    """Twin of a TermQuery against the GERMAN index over the annotated
    view: the query term runs the same normalize+light-stem the searcher
    applies, the corpus replays annotate -> tokenize -> german stop ->
    stem-table before the quantized float32 BM25 (dl = post-stop count)."""
    from ..kernels.german import GERMAN_STOP_WORDS, german_term

    stemmed = german_term(query_text.lower())
    toks = (
        f"regexp_extract_all({german_annotated_text_sql('lower(text)')}, "
        f"'{TOKEN_PATTERN}')"
    )
    # non-ASCII stop words can never match ASCII tokens — keep the SQL
    # list ASCII-only (DuckDB string literals stay clean either way)
    stop_list = _sql_list(sorted(w for w in GERMAN_STOP_WORDS if w.isascii()))
    cache_expr = _norm_cache_expr()
    return f"""
WITH raw AS (
  SELECT doc_id, unnest({toks}) AS rt FROM documents
),
kept AS (SELECT doc_id, rt FROM raw WHERE rt NOT IN ({stop_list})),
st(t, stem) AS (VALUES {_german_stem_table_values()}),
tok AS (
  SELECT k.doc_id, coalesce(s.stem, k.rt) AS term
  FROM kept k LEFT JOIN st s ON s.t = k.rt
),
dl AS (
  SELECT d.doc_id, count(k.rt) AS dl
  FROM documents d LEFT JOIN kept k USING (doc_id) GROUP BY 1
),
tot AS (SELECT count(*) AS n_docs, sum(dl) AS sum_ttf FROM dl),
avgf AS (SELECT CAST(sum_ttf::DOUBLE / n_docs::DOUBLE AS REAL) AS a FROM tot),
lt(len_i, len_f) AS (VALUES {length_table_values()}),
dlq AS (
  SELECT d.doc_id, arg_max(l.len_f, l.len_i) AS len_f
  FROM dl d JOIN lt l ON l.len_i <= d.dl GROUP BY d.doc_id
),
cache AS (
  SELECT q.doc_id, {cache_expr} AS c FROM dlq q CROSS JOIN avgf av
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ({_sql_list((stemmed,))}) GROUP BY 1, 2
),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
{_weights_cte({})},
{_scores_cte()},
matched AS (
  SELECT doc_id, CAST(sum(s::DOUBLE) AS REAL) AS score32 FROM s GROUP BY 1
)
{_topk_select(k)}
""".strip()


# ---------------------------------------------------------------------------
# SpanMultiTermQueryWrapper twin (core/.../spans/SpanMultiTermQueryWrapper
# .java:153-247 SpanRewriteMethod -> SpanOrQuery): the entry's shape is
# SpanNear((SpanMultiTerm(Wildcard/Prefix), follow), slop=0, in_order) —
# the wrapped pattern expands to dictionary terms, spans of the SpanOr
# union pair with the follow term at the next position. For THIS shape
# (expansion disjoint from the follow term, two clauses, slop 0, ordered)
# the kernel's greedy non-overlapping matcher collects EXACTLY the set of
# adjacent (expansion, follow) position pairs: pairs are vertex-disjoint
# because a pair is (p, p+1) with clause-disjoint tokens, so greedy
# consumption never skips one (pinned in tests/test_spans.py). Weight =
# f32(sum of double(f32 idf)) over the leaf terms (kernel span path,
# same shape as Synonym/Phrase), freq saturates through the quantized
# float32 BM25 with the standard-analyzer dl cache.
# ---------------------------------------------------------------------------


def kernel_span_mtq_near_duck(like_pattern: str, follow: str,
                              k: int = 10) -> str:
    """Twin of SpanNear((SpanMultiTerm(mtq), follow), slop=0,
    in_order=True) where `like_pattern` is the SQL LIKE equivalent of the
    wrapped MTQ's dictionary predicate (e.g. Wildcard('s*') -> 's%')."""
    if follow.lower().replace("_", "a").isalnum() is False:
        raise AssertionError("follow must be a plain token")
    pat = _sql_str(like_pattern)
    fol = _sql_str(follow.lower())
    toks = f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}')"
    cache_expr = _norm_cache_expr()
    return f"""
WITH tokp AS (
  SELECT doc_id, unnest({toks}) AS term,
         generate_subscripts({toks}, 1) - 1 AS pos
  FROM documents
),
dl AS (SELECT doc_id, len({toks}) AS dl FROM documents),
tot AS (SELECT count(*) AS n_docs, sum(dl) AS sum_ttf FROM dl),
avgf AS (SELECT CAST(sum_ttf::DOUBLE / n_docs::DOUBLE AS REAL) AS a FROM tot),
lt(len_i, len_f) AS (VALUES {length_table_values()}),
dlq AS (
  SELECT d.doc_id, arg_max(l.len_f, l.len_i) AS len_f
  FROM dl d JOIN lt l ON l.len_i <= d.dl GROUP BY d.doc_id
),
cache AS (
  SELECT q.doc_id, {cache_expr} AS c FROM dlq q CROSS JOIN avgf av
),
dict AS (SELECT term, count(DISTINCT doc_id) AS df FROM tokp GROUP BY 1),
exp AS (
  -- _expand_terms: docFreq desc then term asc, TopTermsRewrite cap 1024
  SELECT term, df FROM dict WHERE term LIKE {pat}
  QUALIFY row_number() OVER (ORDER BY df DESC, term ASC) <= 1024
),
leaves AS (
  SELECT term, df FROM exp
  UNION
  SELECT term, df FROM dict WHERE term = {fol}
),
w AS (
  SELECT CAST(sum(CAST({_idf32('l.df', 'tot.n_docs')} AS DOUBLE)) AS REAL)
           AS w
  FROM leaves l CROSS JOIN tot
),
pairs AS (
  SELECT a.doc_id, count(*) AS freq
  FROM tokp a
  JOIN tokp b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.term IN (SELECT term FROM exp) AND b.term = {fol}
  GROUP BY 1
),
matched AS (
  SELECT p.doc_id,
         CAST(w.w * CAST(CAST(p.freq AS REAL)::DOUBLE /
              (CAST(p.freq AS REAL)::DOUBLE + c.c::DOUBLE) AS REAL) AS REAL)
           AS score32
  FROM pairs p CROSS JOIN w JOIN cache c ON c.doc_id = p.doc_id
)
{_topk_select(k)}
""".strip()


# ---------------------------------------------------------------------------
# MoreLikeThis / CommonTermsQuery twins with SELECTION RECOMPUTED IN SQL
# (VERDICT r3 wrong-#2: the previous oracles hard-coded the rewritten
# boosted-bool, leaving the df-floor / tf·idf cut / df-split pinned only
# by pytest — these twins derive the term set from the corpus itself).
# ---------------------------------------------------------------------------


def kernel_mlt_duck(text: str, k: int = 10, max_query_terms: int = 25,
                    min_doc_freq: int = 2) -> str:
    """Twin of searcher.more_like_this (queries/.../mlt/MoreLikeThis.java
    semantics): tokenize the seed text IN SQL, drop terms with corpus
    df < min_doc_freq, rank by tf(seed) * double(f32 idf) desc then term,
    keep max_query_terms, and search them as a boosted OR with per-term
    boost = seed tf (weight = f32(f32(tf) * idf32), bm25.term_weight)."""
    seed_lit = _sql_str(text.lower())
    return f"""
WITH {_base_ctes()},
seed AS (
  SELECT unnest(regexp_extract_all({seed_lit}, '{TOKEN_PATTERN}')) AS term
),
stf AS (SELECT term, count(*) AS tf FROM seed GROUP BY 1),
dict AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
sel AS (
  -- MLT term selection: df floor, tf·idf rank, max_query_terms cut
  SELECT s.term, s.tf, d.df
  FROM stf s JOIN dict d USING (term) CROSS JOIN tot
  WHERE d.df >= {min_doc_freq}
  QUALIFY row_number() OVER (
    ORDER BY s.tf * CAST({_idf32('d.df', 'tot.n_docs')} AS DOUBLE) DESC,
             s.term ASC
  ) <= {max_query_terms}
),
w AS (
  SELECT sel.term,
         {_f32(f"{_f32('sel.tf')} * {_idf32('sel.df', 'tot.n_docs')}")} AS w
  FROM sel CROSS JOIN tot
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN (SELECT term FROM sel) GROUP BY 1, 2
),
{_scores_cte()},
matched AS (
  SELECT doc_id, CAST(sum(s::DOUBLE) AS REAL) AS score32 FROM s GROUP BY 1
)
{_topk_select(k)}
""".strip()


def kernel_common_terms_duck(terms: tuple, max_term_frequency: float,
                             k: int = 10) -> str:
    """Twin of CommonTermsQuery (queries/CommonTermsQuery.java:148-209)
    with the default SHOULD/SHOULD occurs and msm 0: the df split at
    cutoff (absolute when >= 1 else ceil(ratio * maxDoc)) is recomputed
    IN SQL. Matching rule straight from buildQuery: with no low-freq
    terms the high group promotes to a conjunction (all terms required);
    otherwise >= 1 low-freq term gates and high-freq terms only add.
    Score = one double sum of the matched f32 leaf scores, final REAL
    cast (the kernel keeps float64 through nested Bool levels)."""
    mtf = float(max_term_frequency)
    return f"""
WITH {_prelude(sorted(set(terms)))},
cut AS (
  SELECT CASE WHEN {mtf!r} >= 1.0 THEN {mtf!r}
              ELSE ceil({mtf!r} * n_docs) END AS c
  FROM tot
),
grp AS (
  SELECT dfr.term, dfr.df, (dfr.df > cut.c) AS is_high
  FROM dfr CROSS JOIN cut
),
nlow AS (
  SELECT count(*) FILTER (WHERE NOT is_high) AS n_low,
         count(*) AS n_all
  FROM grp
),
{_weights_cte({})},
{_scores_cte()},
per_doc AS (
  SELECT s.doc_id,
         sum(s.s::DOUBLE) AS total,
         count(*) FILTER (WHERE NOT g.is_high) AS low_m,
         count(*) AS all_m
  FROM s JOIN grp g ON g.term = s.term
  GROUP BY 1
),
matched AS (
  SELECT p.doc_id, CAST(p.total AS REAL) AS score32
  FROM per_doc p CROSS JOIN nlow
  WHERE CASE WHEN nlow.n_low = 0 THEN p.all_m = nlow.n_all
             ELSE p.low_m >= 1 END
)
{_topk_select(k)}
""".strip()


# ---------------------------------------------------------------------------
# CommonGramsFilter twin (analysis/commongrams/CommonGramsFilter.java:
# 52-180 + CommonGramsQueryFilter.java:46-140; kernels/commongrams.py
# pins both stream contracts with the reference's full golden matrix):
# the index stream is unigrams + "prev_cur" grams stacked wherever
# either member is common, dl = emitted count (FieldInvertState counts
# posIncr-0 tokens). A phrase query through CommonGramsQueryFilter
# becomes a gram TERM — the classic phrase-performance rewrite — scored
# by the ordinary quantized float32 BM25 over the augmented stream.
# ---------------------------------------------------------------------------


def kernel_common_grams_term_duck(query_text: str, common: tuple,
                                  k: int = 10) -> str:
    """Twin of a (possibly gram) TermQuery against the COMMON_GRAMS_EN
    index: the gram stream is rebuilt in SQL from the same common-word
    set (adjacent-pair join), dl counts unigrams + grams."""
    term = _sql_str(query_text.lower())
    clist = _sql_list(sorted(set(common)))
    toks = f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}')"
    cache_expr = _norm_cache_expr()
    return f"""
WITH tokp AS (
  SELECT doc_id, unnest({toks}) AS term,
         generate_subscripts({toks}, 1) - 1 AS pos
  FROM documents
),
grams AS (
  SELECT a.doc_id, a.term || '_' || b.term AS term
  FROM tokp a JOIN tokp b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  WHERE a.term IN ({clist}) OR b.term IN ({clist})
),
stream AS (
  SELECT doc_id, term FROM tokp UNION ALL SELECT doc_id, term FROM grams
),
dl AS (
  SELECT d.doc_id, count(s.term) AS dl
  FROM documents d LEFT JOIN stream s USING (doc_id) GROUP BY 1
),
tot AS (SELECT count(*) AS n_docs, sum(dl) AS sum_ttf FROM dl),
avgf AS (SELECT CAST(sum_ttf::DOUBLE / n_docs::DOUBLE AS REAL) AS a FROM tot),
lt(len_i, len_f) AS (VALUES {length_table_values()}),
dlq AS (
  SELECT d.doc_id, arg_max(l.len_f, l.len_i) AS len_f
  FROM dl d JOIN lt l ON l.len_i <= d.dl GROUP BY d.doc_id
),
cache AS (
  SELECT q.doc_id, {cache_expr} AS c FROM dlq q CROSS JOIN avgf av
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM stream
  WHERE term = {term} GROUP BY 1, 2
),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
{_weights_cte({})},
{_scores_cte()},
matched AS (
  SELECT doc_id, CAST(sum(s::DOUBLE) AS REAL) AS score32 FROM s GROUP BY 1
)
{_topk_select(k)}
""".strip()


def kernel_phrase_highlight_offsets_duck(t1: str, t2: str, k: int = 10,
                                         width: int = 30) -> str:
    """Twin of searcher.highlight_offsets(Phrase((t1, t2))) — the
    FastVectorHighlighter-grade positional path: the engine highlights
    the FIRST ACTUAL PHRASE MATCH using indexed offsets; this twin
    RE-TOKENIZES, reconstructing every token's character offset from the
    token/separator split (char_start(i) = Σ gaps+tokens before it), and
    cuts the same [max(start+1-width,1)-1, end_char+width) window.
    Scoring: exact two-term phrase freq == adjacent-pair count, weight =
    f32(sum of double(f32 idf)) over both terms (kernel phrase path)."""
    a, b = _sql_str(t1.lower()), _sql_str(t2.lower())
    toks = f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}')"
    gaps = f"regexp_split_to_array(lower(text), '{TOKEN_PATTERN}')"
    cache_expr = _norm_cache_expr()
    return f"""
WITH tokp AS (
  SELECT doc_id, unnest({toks}) AS term,
         generate_subscripts({toks}, 1) - 1 AS pos
  FROM documents
),
gapp AS (
  SELECT doc_id, unnest({gaps}) AS g,
         generate_subscripts({gaps}, 1) - 1 AS gi
  FROM documents
),
offs AS (
  SELECT t.doc_id, t.pos, t.term, len(t.term) AS tlen, len(g.g) AS glen
  FROM tokp t JOIN gapp g ON g.doc_id = t.doc_id AND g.gi = t.pos
),
coff AS (
  SELECT doc_id, pos, term, tlen,
         COALESCE(sum(glen + tlen) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + glen
           AS cstart
  FROM offs
),
dl AS (SELECT doc_id, len({toks}) AS dl FROM documents),
tot AS (SELECT count(*) AS n_docs, sum(dl) AS sum_ttf FROM dl),
avgf AS (SELECT CAST(sum_ttf::DOUBLE / n_docs::DOUBLE AS REAL) AS a FROM tot),
lt(len_i, len_f) AS (VALUES {length_table_values()}),
dlq AS (
  SELECT d.doc_id, arg_max(l.len_f, l.len_i) AS len_f
  FROM dl d JOIN lt l ON l.len_i <= d.dl GROUP BY d.doc_id
),
cache AS (
  SELECT q.doc_id, {cache_expr} AS c FROM dlq q CROSS JOIN avgf av
),
dict AS (SELECT term, count(DISTINCT doc_id) AS df FROM tokp GROUP BY 1),
w AS (
  SELECT CAST(sum(CAST({_idf32('d.df', 'tot.n_docs')} AS DOUBLE)) AS REAL)
           AS w
  FROM dict d CROSS JOIN tot WHERE d.term IN ({a}, {b})
),
pairs AS (
  SELECT x.doc_id, count(*) AS freq, min(x.pos) AS first_pos
  FROM tokp x JOIN tokp y ON y.doc_id = x.doc_id AND y.pos = x.pos + 1
  WHERE x.term = {a} AND y.term = {b}
  GROUP BY 1
),
matched AS (
  SELECT p.doc_id, p.first_pos,
         CAST(w.w * CAST(CAST(p.freq AS REAL)::DOUBLE /
              (CAST(p.freq AS REAL)::DOUBLE + c.c::DOUBLE) AS REAL) AS REAL)
           AS score32
  FROM pairs p CROSS JOIN w JOIN cache c ON c.doc_id = p.doc_id
),
topk AS (
  SELECT doc_id, first_pos,
         CAST(row_number() OVER (ORDER BY score32 DESC, doc_id ASC) - 1
              AS BIGINT) AS rank
  FROM matched
  ORDER BY score32 DESC, doc_id ASC LIMIT {k}
)
SELECT t.doc_id::BIGINT AS doc_id, t.rank,
       substring(
         d.text,
         CAST(greatest(c1.cstart + 1 - {width}, 1) AS BIGINT),
         CAST((c2.cstart + c2.tlen + {width})
           - (greatest(c1.cstart + 1 - {width}, 1) - 1) AS BIGINT)
       ) AS snippet
FROM topk t
JOIN documents d USING (doc_id)
JOIN coff c1 ON c1.doc_id = t.doc_id AND c1.pos = t.first_pos
JOIN coff c2 ON c2.doc_id = t.doc_id AND c2.pos = t.first_pos + 1
ORDER BY t.rank
""".strip()


# ---------------------------------------------------------------------------
# FrenchAnalyzer twin (fr/FrenchAnalyzer.java:136-146 chain; kernels/
# french.py pins FrenchLightStemmer against the reference's 20k-word
# canonical vocabulary) — annotated view maps three corpus words onto
# French inflections of ONE lemma (merges->adorateur [ateur->er rule],
# merge->adoration [ation cut], window->adore [norm e-strip]; all reduce
# to 'ador'). Elision never fires on this ASCII corpus (the token
# pattern admits no apostrophes) — pinned engine-side by unit tests.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Spanish / Portuguese / Italian light-chain twins ({es,pt,it}/*Analyzer
# .java chains; kernels/romance.py pins the UniNE stemmers against the
# full canonical vocabularies). Same annotated-view posture as the
# German/French twins: three inflections of ONE lemma planted on corpus
# words, the stem table generated by the ENGINE'S OWN stemmer over the
# annotated vocabulary.
# ---------------------------------------------------------------------------

LIGHT_ANNOTATIONS = {
    "es": ((r"\bdata\b", "libros"), (r"\bmerge\b", "libro"),
           (r"\bwindow\b", "libra")),
    "pt": ((r"\bdata\b", "livros"), (r"\bmerge\b", "livro"),
           (r"\bwindow\b", "livra")),
    "it": ((r"\bdata\b", "ragazzi"), (r"\bmerge\b", "ragazzo"),
           (r"\bwindow\b", "ragazza")),
    "sv": ((r"\bdata\b", "flickor"), (r"\bmerge\b", "flickorna"),
           (r"\bwindow\b", "flicka")),
    "hu": ((r"\bdata\b", "hazak"), (r"\bmerge\b", "hazban"),
           (r"\bwindow\b", "hazat")),
    "fi": ((r"\bdata\b", "talossa"), (r"\bmerge\b", "taloja"),
           (r"\bwindow\b", "taloon")),
    "de_min": ((r"\bdata\b", "kinder"), (r"\bmerge\b", "kindes"),
               (r"\bwindow\b", "kinde")),
    "fr_min": ((r"\bdata\b", "portes"), (r"\bmerge\b", "porter"),
               (r"\bwindow\b", "porters")),
    "nb": ((r"\bdata\b", "huset"), (r"\bmerge\b", "husene"),
           (r"\bwindow\b", "husa")),
    # Cyrillic end-to-end (r4 'What's wrong' #3): three inflections of
    # книг- — the twin runs a Unicode-capable token pattern for this
    # language (RU_TOKEN_PATTERN) since the shared ASCII TOKEN_PATTERN
    # cannot host Cyrillic
    "ru": ((r"\bdata\b", "книга"), (r"\bmerge\b", "книги"),
           (r"\bwindow\b", "книгу")),
    # snowball programs (kernels/snowball.py): ASCII inflections so the
    # shared TOKEN_PATTERN hosts them
    "nl": ((r"\bdata\b", "katten"), (r"\bmerge\b", "kat"),
           (r"\bwindow\b", "kats")),
    "da": ((r"\bdata\b", "skolen"), (r"\bmerge\b", "skoler"),
           (r"\bwindow\b", "skole")),
    "ro": ((r"\bdata\b", "cartea"), (r"\bmerge\b", "carte"),
           (r"\bwindow\b", "cartile")),
    # Porter2 English (snowball "en" program, r5): three inflections of
    # run- that all stem to 'run'
    "en": ((r"\bdata\b", "running"), (r"\bmerge\b", "runs"),
           (r"\bwindow\b", "run")),
    # snowball Turkish (r5): plural (lAr, the flag-unsetting nominal
    # branch), accusative (sU + final-b devoicing: kitabı -> kitap) and
    # locative (DA) of kitap — all stem to 'kitap'; the twin runs a
    # Turkish-letter token pattern (TR_TOKEN_PATTERN)
    "tr": ((r"\bdata\b", "kitaplar"), (r"\bmerge\b", "kitabı"),
           (r"\bwindow\b", "kitapta")),
    # Arabic light-8 (r5): masculine plural, teh-marbuta feminine, and
    # the al- definite article of ساهد — all stem to the bare lemma;
    # Arabic-block token pattern (AR_TOKEN_PATTERN)
    "ar": ((r"\bdata\b", "ساهدون"), (r"\bmerge\b", "ساهدة"),
           (r"\bwindow\b", "الساهد")),
}

# DuckDB RE2 class covering the engine's \w+ tokenizer over the ASCII
# corpus plus the Cyrillic annotation vocabulary; lower() in DuckDB is
# Unicode-aware, matching the engine's str.lower()
RU_TOKEN_PATTERN = "[a-zа-яё0-9_]+"
# ... and the Turkish annotation vocabulary (the corpus is verified
# all-lowercase/apostrophe-free, so TurkishLowerCaseFilter and
# ApostropheFilter are identity here and plain lower() matches)
TR_TOKEN_PATTERN = "[a-z0-9_çğıöşü]+"
# ... and the Arabic annotation vocabulary (Arabic block; lower() is
# identity on Arabic)
AR_TOKEN_PATTERN = "[a-z0-9_؀-ۿ]+"


def light_annotated_text_sql(lang: str, col: str = "text") -> str:
    expr = col
    for pat, rep in LIGHT_ANNOTATIONS[lang]:
        expr = f"regexp_replace({expr}, {_sql_str(pat)}, {_sql_str(rep)}, 'g')"
    return expr


def _light_stem_table_values(lang: str) -> str:
    """(term, light_stem(term)) rows over the ANNOTATED corpus vocabulary
    wherever the stemmer changes the token."""
    from ..kernels.romance import light_stem

    vocab = _corpus_vocab(
        light_annotated_text_sql(lang, "lower(text)"),
        token_pattern={"ru": RU_TOKEN_PATTERN, "tr": TR_TOKEN_PATTERN,
                       "ar": AR_TOKEN_PATTERN}.get(lang, TOKEN_PATTERN),
    )
    rows = [
        f"({_sql_str(t)}, {_sql_str(light_stem(lang, t))})"
        for t in sorted(set(vocab))
        if light_stem(lang, t) != t
    ]
    return ", ".join(rows) if rows else "('', '')"


def kernel_light_term_duck(lang: str, query_text: str, k: int = 10) -> str:
    """Twin of a TermQuery against a SPANISH/PORTUGUESE/ITALIAN index over
    the annotated view: the query term runs the same light stem the
    searcher applies; the corpus replays annotate -> tokenize -> snowball
    stop -> stem-table before the quantized float32 BM25 (dl = post-stop
    count). ASCII-only corpus, so the Italian elision stage is a no-op
    here (the engine test suite covers apostrophes). Russian runs the
    Unicode-capable RU_TOKEN_PATTERN (Cyrillic annotations plus the full
    Cyrillic stop list) — the one language the ASCII pattern cannot host
    (r4 'What's wrong' #3)."""
    from ..kernels.romance import (HUNGARIAN_STOP_WORDS,
                                   ITALIAN_STOP_WORDS,
                                   PORTUGUESE_STOP_WORDS,
                                   RUSSIAN_STOP_WORDS,
                                   SPANISH_STOP_WORDS,
                                   SWEDISH_STOP_WORDS, light_stem)

    from ..kernels.french import FRENCH_STOP_WORDS
    from ..kernels.german import GERMAN_STOP_WORDS
    from ..kernels.romance import FINNISH_STOP_WORDS, NORWEGIAN_STOP_WORDS
    from ..kernels.snowball import (DANISH_STOP_WORDS, DUTCH_STOP_WORDS,
                                    ROMANIAN_STOP_WORDS)

    from ..kernels.analyzer import ENGLISH_STOP_WORDS

    stops = {"es": SPANISH_STOP_WORDS, "pt": PORTUGUESE_STOP_WORDS,
             "it": ITALIAN_STOP_WORDS, "sv": SWEDISH_STOP_WORDS,
             "hu": HUNGARIAN_STOP_WORDS, "fi": FINNISH_STOP_WORDS,
             "de_min": GERMAN_STOP_WORDS,
             "fr_min": FRENCH_STOP_WORDS,
             "nb": NORWEGIAN_STOP_WORDS,
             "ru": RUSSIAN_STOP_WORDS,
             "nl": DUTCH_STOP_WORDS,
             "da": DANISH_STOP_WORDS,
             "ro": ROMANIAN_STOP_WORDS,
             "en": ENGLISH_STOP_WORDS,
             "tr": __import__(
                 "lucene_solr_1_spark.kernels.turkish", fromlist=["x"]
             ).TURKISH_STOP_WORDS,
             "ar": __import__(
                 "lucene_solr_1_spark.kernels.arabic", fromlist=["x"]
             ).ARABIC_STOP_WORDS}[lang]
    tok_pat = {"ru": RU_TOKEN_PATTERN, "tr": TR_TOKEN_PATTERN,
               "ar": AR_TOKEN_PATTERN}.get(lang, TOKEN_PATTERN)
    stemmed = light_stem(lang, query_text.lower())
    toks = (
        f"regexp_extract_all({light_annotated_text_sql(lang, 'lower(text)')}, "
        f"'{tok_pat}')"
    )
    # the ASCII pattern can never emit a non-ASCII stopword, so filtering
    # those out keeps the IN-list small; the Russian/Turkish patterns
    # CAN, so those lists ship whole (UTF-8 literals to DuckDB)
    keep = (
        stops if lang in ("ru", "tr", "ar")
        else (w for w in stops if w.isascii())
    )
    stop_list = _sql_list(sorted(keep))
    cache_expr = _norm_cache_expr()
    return f"""
WITH raw AS (
  SELECT doc_id, unnest({toks}) AS rt FROM documents
),
kept AS (SELECT doc_id, rt FROM raw WHERE rt NOT IN ({stop_list})),
st(t, stem) AS (VALUES {_light_stem_table_values(lang)}),
tok AS (
  SELECT k.doc_id, coalesce(s.stem, k.rt) AS term
  FROM kept k LEFT JOIN st s ON s.t = k.rt
),
dl AS (
  SELECT d.doc_id, count(k.rt) AS dl
  FROM documents d LEFT JOIN kept k USING (doc_id) GROUP BY 1
),
tot AS (SELECT count(*) AS n_docs, sum(dl) AS sum_ttf FROM dl),
avgf AS (SELECT CAST(sum_ttf::DOUBLE / n_docs::DOUBLE AS REAL) AS a FROM tot),
lt(len_i, len_f) AS (VALUES {length_table_values()}),
dlq AS (
  SELECT d.doc_id, arg_max(l.len_f, l.len_i) AS len_f
  FROM dl d JOIN lt l ON l.len_i <= d.dl GROUP BY d.doc_id
),
cache AS (
  SELECT q.doc_id, {cache_expr} AS c FROM dlq q CROSS JOIN avgf av
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ({_sql_list((stemmed,))}) GROUP BY 1, 2
),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
{_weights_cte({})},
{_scores_cte()},
matched AS (
  SELECT doc_id, CAST(sum(s::DOUBLE) AS REAL) AS score32 FROM s GROUP BY 1
)
{_topk_select(k)}
""".strip()


CJK_ANNOTATIONS = (
    # three plants over the ASCII corpus: a 3-char Han run (two
    # overlapping bigrams, one shared with the 2-char plant), a 2-char
    # run (one bigram) and a lone ideograph (unigram form)
    (r"\bdata\b", "会社員"),
    (r"\bmerge\b", "会社"),
    (r"\bwindow\b", "図"),
)

# DuckDB RE2 twin of the engine's \w+ tokenizer over the ASCII corpus
# plus the planted CJK: ASCII words or runs of CJK script chars (after
# the bigram replay below, every CJK run IS one emitted token)
CJK_TOKEN_PATTERN = (
    r"[a-z0-9_]+|[\p{Han}\p{Hiragana}\p{Katakana}\p{Hangul}]+"
)


def cjk_annotated_text_sql(col: str = "text") -> str:
    expr = col
    for pat, rep in CJK_ANNOTATIONS:
        expr = f"regexp_replace({expr}, {_sql_str(pat)}, {_sql_str(rep)}, 'g')"
    return expr


def _replace_all_sql(expr: str, mapping: dict) -> str:
    """DuckDB: every occurrence of each key of `mapping` in the text of
    `expr` replaced by its value, in ONE pass over the original text. The
    text is cut into key matches — a single alternation, longest key
    first, so RE2's leftmost-first choice takes the longest — and runs of
    other characters; only the matches are mapped, so no replacement is
    ever scanned again (chained replace() calls would rescan it)."""
    keys = sorted(mapping, key=lambda p: (-len(p), p))
    cases = " ".join(
        f"WHEN {_sql_str(p)} THEN {_sql_str(mapping[p])}"
        for p in keys if mapping[p] != p
    )
    if not cases:
        return expr

    def esc(text: str) -> str:
        return re.sub(r"([\\.^$|?*+()\[\]{}-])", r"\\\1", text)

    firsts = "".join(sorted({esc(p[0]) for p in keys}))
    pattern = "|".join(esc(p) for p in keys) + f"|[\\s\\S][^{firsts}]*"
    pieces = f"regexp_extract_all({expr}, {_sql_str(pattern)})"
    joined = f"array_to_string(list_transform({pieces}, x -> CASE x {cases} ELSE x END), '')"
    # an empty text has no pieces, and array_to_string([]) is NULL
    return f"coalesce({joined}, {expr})"


def kernel_cjk_duck(query_text: str, k: int = 10) -> str:
    """Twin of a query against the CJK-bigram index over the annotated
    view (cjk/CJKBigramFilter.java + CJKAnalyzer.java:89-96): the corpus
    replays annotate -> bigram-expand -> tokenize -> stop before the
    quantized float32 BM25 (dl = post-stop emitted-token count). The
    bigram expansion of each planted CJK string is generated by the
    ENGINE'S OWN cjk_expand (kernels/cjk.py — itself pinned by
    TestCJKBigramFilter-mirroring goldens), written back as a
    space-separated token stream, all plants in one pass over the
    annotated text (_replace_all_sql). The query
    text runs the same chain (tokenize_one under the CJK config): one
    bigram -> TermQuery, several -> the SHOULD sum the engine's
    Bool-of-parts produces."""
    from ..kernels.analyzer import CJK as _CJK_CFG, tokenize_one
    from ..kernels.cjk import CJK_STOP_WORDS, cjk_expand

    q_terms = tuple(tokenize_one(query_text, _CJK_CFG)[0])
    if not q_terms:
        raise ValueError("query analyzes to no tokens under the CJK chain")
    expr = _replace_all_sql(cjk_annotated_text_sql("lower(text)"), {
        p: " ".join(t for t, _ in cjk_expand(p)[0])
        for _, p in CJK_ANNOTATIONS
    })
    toks = f"regexp_extract_all({expr}, '{CJK_TOKEN_PATTERN}')"
    stop_list = _sql_list(sorted(CJK_STOP_WORDS))
    cache_expr = _norm_cache_expr()
    return f"""
WITH raw AS (
  SELECT doc_id, unnest({toks}) AS rt FROM documents
),
tok AS (SELECT doc_id, rt AS term FROM raw WHERE rt NOT IN ({stop_list})),
dl AS (
  SELECT d.doc_id, count(t.term) AS dl
  FROM documents d LEFT JOIN tok t USING (doc_id) GROUP BY 1
),
tot AS (SELECT count(*) AS n_docs, sum(dl) AS sum_ttf FROM dl),
avgf AS (SELECT CAST(sum_ttf::DOUBLE / n_docs::DOUBLE AS REAL) AS a FROM tot),
lt(len_i, len_f) AS (VALUES {length_table_values()}),
dlq AS (
  SELECT d.doc_id, arg_max(l.len_f, l.len_i) AS len_f
  FROM dl d JOIN lt l ON l.len_i <= d.dl GROUP BY d.doc_id
),
cache AS (
  SELECT q.doc_id, {cache_expr} AS c FROM dlq q CROSS JOIN avgf av
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ({_sql_list(q_terms)}) GROUP BY 1, 2
),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
{_weights_cte({})},
{_scores_cte()},
matched AS (
  SELECT doc_id, CAST(sum(s::DOUBLE) AS REAL) AS score32 FROM s GROUP BY 1
)
{_topk_select(k)}
""".strip()


FRENCH_ANNOTATIONS = (
    (r"\bmerges\b", "adorateur"),
    (r"\bmerge\b", "adoration"),
    (r"\bwindow\b", "adore"),
)


def french_annotated_text_sql(col: str = "text") -> str:
    expr = col
    for pat, rep in FRENCH_ANNOTATIONS:
        expr = f"regexp_replace({expr}, {_sql_str(pat)}, {_sql_str(rep)}, 'g')"
    return expr


def _french_stem_table_values() -> str:
    """(term, french_light_stem(term)) rows over the ANNOTATED corpus
    vocabulary wherever the stemmer changes the token."""
    from ..kernels.french import french_light_stem

    vocab = _corpus_vocab(french_annotated_text_sql("lower(text)"))
    rows = [
        f"({_sql_str(t)}, {_sql_str(french_light_stem(t))})"
        for t in sorted(set(vocab))
        if french_light_stem(t) != t
    ]
    return ", ".join(rows) if rows else "('', '')"


def kernel_french_term_duck(query_text: str, k: int = 10) -> str:
    """Twin of a TermQuery against the FRENCH index over the annotated
    view: the query term runs the same light stem the searcher applies;
    the corpus replays annotate -> tokenize -> french stop -> stem-table
    before the quantized float32 BM25 (dl = post-stop count)."""
    from ..kernels.french import FRENCH_STOP_WORDS, french_light_stem

    stemmed = french_light_stem(query_text.lower())
    toks = (
        f"regexp_extract_all({french_annotated_text_sql('lower(text)')}, "
        f"'{TOKEN_PATTERN}')"
    )
    stop_list = _sql_list(sorted(w for w in FRENCH_STOP_WORDS if w.isascii()))
    cache_expr = _norm_cache_expr()
    return f"""
WITH raw AS (
  SELECT doc_id, unnest({toks}) AS rt FROM documents
),
kept AS (SELECT doc_id, rt FROM raw WHERE rt NOT IN ({stop_list})),
st(t, stem) AS (VALUES {_french_stem_table_values()}),
tok AS (
  SELECT k.doc_id, coalesce(s.stem, k.rt) AS term
  FROM kept k LEFT JOIN st s ON s.t = k.rt
),
dl AS (
  SELECT d.doc_id, count(k.rt) AS dl
  FROM documents d LEFT JOIN kept k USING (doc_id) GROUP BY 1
),
tot AS (SELECT count(*) AS n_docs, sum(dl) AS sum_ttf FROM dl),
avgf AS (SELECT CAST(sum_ttf::DOUBLE / n_docs::DOUBLE AS REAL) AS a FROM tot),
lt(len_i, len_f) AS (VALUES {length_table_values()}),
dlq AS (
  SELECT d.doc_id, arg_max(l.len_f, l.len_i) AS len_f
  FROM dl d JOIN lt l ON l.len_i <= d.dl GROUP BY d.doc_id
),
cache AS (
  SELECT q.doc_id, {cache_expr} AS c FROM dlq q CROSS JOIN avgf av
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok
  WHERE term IN ({_sql_list((stemmed,))}) GROUP BY 1, 2
),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
{_weights_cte({})},
{_scores_cte()},
matched AS (
  SELECT doc_id, CAST(sum(s::DOUBLE) AS REAL) AS score32 FROM s GROUP BY 1
)
{_topk_select(k)}
""".strip()
