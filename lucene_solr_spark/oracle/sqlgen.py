"""DuckDB oracle SQL generation.

The driver's correctness gate runs each Spark query side-by-side with an ANSI
SQL equivalent in DuckDB.  This module renders that SQL from the SAME
semantic sources as the engine: the shared tokenizer regex (identical under
RE2), the integer dl->norm-byte range table from smallfloat (no float ops in
SQL for quantization), and the shared BM25 score formula text from search.bm25
(identical float64 operation order).  Determinism rules mirrored from the
engine: fixed-order per-term addition, round(score,4) BEFORE ordering, docid
tie-breaks.
"""

from __future__ import annotations

from lucene_solr_spark.analysis.analyzer import sql_quoted_pattern, sql_stopword_list
from lucene_solr_spark.search.bm25 import score_formula
from lucene_solr_spark.smallfloat import norm_byte_dl_ranges

_PAT = sql_quoted_pattern()
_STOP = sql_stopword_list()


def _norm_values() -> str:
    return ",\n    ".join(
        f"({lo}, {hi}, {b}, {dl!r})" for lo, hi, b, dl in norm_byte_dl_ranges(1 << 40)
    )


def prelude_ctes(doc_source: str, suffix: str = "") -> str:
    """The shared CTE list (no leading WITH) over any doc source, with every
    CTE name suffixed — so two fields' preludes (IndexSchema's per-field
    postings/norms/stats) can coexist in one query.  See prelude_sql."""
    import re as _re

    body = _prelude_body(doc_source)
    if suffix:
        for name in ("docsrc", "tokraw", "tok", "doclen", "normmap",
                     "doc", "stats", "tf", "tstat"):
            # rename only table positions (CTE definition head, FROM/JOIN
            # references) — column names like the ``tf`` count stay intact
            body = _re.sub(rf"(?m)^{name}(?=\(| AS )", f"{name}{suffix}", body)
            body = _re.sub(
                rf"\b(FROM|JOIN)(\s+){name}\b",
                rf"\g<1>\g<2>{name}{suffix}",
                body,
            )
    return body


def prelude_sql(doc_source: str) -> str:
    """Render the shared CTE prelude over any doc source.

    ``doc_source`` is a SQL query producing (docid, text).  CTEs provided:
    tokenization (positions with Lucene gap semantics: assigned pre-filter),
    doc lengths incl. empty docs, exact norm quantization via integer ranges,
    collection stats with float32 avgdl, tf and per-term stats.
    """
    return "WITH " + _prelude_body(doc_source)


def _prelude_body(
    doc_source: str,
    stem_values: str | None = None,
    token_list_sql: str | None = None,
) -> str:
    """``token_list_sql``: optional replacement for the standard-pattern
    extraction — a SQL expression over ``text`` yielding list<varchar> of
    raw tokens in order (e.g. the CJK bigram expansion,
    analysis/cjk.py cjk_oracle_tokens_sql).  Positions remain array
    ordinals, matching the Spark side's array-index position semantics."""
    if stem_values is None:
        tok_cte = f"""tok AS (
  SELECT docid, term, pos FROM tokraw
  WHERE length(raw_term) BETWEEN 1 AND 255 AND term NOT IN {_STOP}
),"""
    else:
        # Stemming crosses the engines as DATA, not logic (same technique as
        # the integer norm-byte range table): a (term, stem) dictionary of
        # CHANGED terms rendered from the shared Porter implementation
        # (analysis/stemmer.py, golden-validated against the reference's
        # porterTestData).  Identity terms fall through the left join —
        # exactly the Spark side's build_index(term_map=porter_stem_map).
        tok_cte = f"""stemmap(sterm, sstem) AS (
  VALUES {stem_values}
),
tok AS (
  SELECT r.docid, coalesce(m.sstem, r.term) AS term, r.pos
  FROM tokraw r LEFT JOIN stemmap m ON m.sterm = r.term
  WHERE length(r.raw_term) BETWEEN 1 AND 255 AND r.term NOT IN {_STOP}
),"""
    tok_expr = token_list_sql if token_list_sql is not None else f"regexp_extract_all(text, {_PAT})"
    return f"""docsrc AS (
  {doc_source}
),
tokraw AS (
  SELECT docid, t AS raw_term, lower(t) AS term, (pos - 1) AS pos
  FROM (
    SELECT docid,
           unnest({tok_expr}) AS t,
           unnest(range(1, len({tok_expr}) + 1)) AS pos
    FROM docsrc
  )
  WHERE t <> ''
),
{tok_cte}
doclen AS (
  SELECT d.docid, count(t.term) AS dl
  FROM docsrc d LEFT JOIN tok t ON t.docid = d.docid
  GROUP BY 1
),
normmap(dl_lo, dl_hi, norm_byte, dl_approx) AS (
  VALUES {_norm_values()}
),
doc AS (
  SELECT l.docid, l.dl,
         CASE WHEN l.dl = 0 THEN 255 ELSE m.norm_byte END AS norm_byte,
         CASE WHEN l.dl = 0 THEN CAST('infinity' AS DOUBLE) ELSE m.dl_approx END AS dl_approx
  FROM doclen l LEFT JOIN normmap m ON l.dl BETWEEN m.dl_lo AND m.dl_hi
),
stats AS (
  SELECT count(*) AS n,
         CAST(1.0 * (SELECT coalesce(sum(dl), 0) FROM doclen) / count(*) AS REAL) AS avgdl
  FROM docsrc
),
tf AS (SELECT docid, term, count(*) AS tf FROM tok GROUP BY 1, 2),
tstat AS (SELECT term, count(*) AS df, sum(tf) AS cf FROM tf GROUP BY 1)"""


# Default prelude over the driver-registered `documents` view.
PRELUDE = prelude_sql("SELECT doc_id AS docid, text FROM documents")


def vocab_map_values(fn, sf_dir: str = "/root/testdata/sf0.01") -> str:
    """Render (term, fn(term)) VALUES rows over the documents vocabulary at
    the driver's pinned grading scale (the correctness gate always runs at
    sf0.01; the Spark side is sf-agnostic because it derives the same map
    from whatever vocabulary it actually sees).  Shared by the Porter-stem
    and phonetic (Soundex) preludes — the term dictionary crosses the
    engines as DATA, like the norm-byte range table."""
    import duckdb

    con = duckdb.connect()
    vocab = [
        r[0]
        for r in con.execute(
            f"""SELECT DISTINCT lower(t) AS term FROM (
  SELECT unnest(regexp_extract_all(text, {_PAT})) AS t
  FROM '{sf_dir}/documents.parquet')
WHERE t <> '' AND length(t) BETWEEN 1 AND 255 AND lower(t) NOT IN {_STOP}"""
        ).fetchall()
    ]
    pairs = sorted((v, fn(v)) for v in vocab)
    rows = [
        f"('{a}', '{b}')".replace("\\", "")
        for a, b in pairs
        if a != b and "'" not in a + b
    ]
    if not rows:  # VALUES needs >= 1 row; a no-op sentinel never matches
        rows = ["('', '')"]
    return ",\n         ".join(rows)


def porter_stem_values(sf_dir: str = "/root/testdata/sf0.01") -> str:
    from lucene_solr_spark.analysis.stemmer import porter_stem

    return vocab_map_values(porter_stem, sf_dir)


def synonym_contraction_prelude_sql(
    a: str,
    b: str,
    merged: str,
    doc_source: str = "SELECT doc_id AS docid, text FROM documents",
) -> str:
    """PRELUDE variant whose tok CTE applies the ``{a} {b} => {merged}``
    multi-word synonym rule with the classic SynonymFilter's replace
    semantics (analysis/synonyms.py slot model: the 2-token block contracts
    to 1 position, later positions shift by the number of preceding
    contractions).  The chain order matches the engine: tokenizer ->
    lowercase -> synonym (pre-stop, consecutive RAW positions) -> stop +
    length filter.  Valid for rules whose two input words differ (the
    adjacent-row match below would mis-pair a self-overlapping pattern)."""
    assert a != b, "contraction SQL requires distinct rule words"
    return f"""WITH docsrc AS (
  {doc_source}
),
tokraw AS (
  SELECT docid, t AS raw_term, lower(t) AS term, (pos - 1) AS pos
  FROM (
    SELECT docid,
           unnest(regexp_extract_all(text, {_PAT})) AS t,
           unnest(range(1, len(regexp_extract_all(text, {_PAT})) + 1)) AS pos
    FROM docsrc
  )
  WHERE t <> ''
),
syn AS (
  SELECT r.docid,
         CASE WHEN r.term = '{a}' AND nxt.term = '{b}'
              THEN '{merged}' ELSE r.term END AS term,
         CASE WHEN r.term = '{a}' AND nxt.term = '{b}'
              THEN '{merged}' ELSE r.raw_term END AS raw_term,
         r.pos,
         CASE WHEN r.term = '{a}' AND nxt.term = '{b}' THEN 1 ELSE 0 END AS starts,
         CASE WHEN r.term = '{b}' AND prv.term = '{a}' THEN 1 ELSE 0 END AS dropped
  FROM tokraw r
  LEFT JOIN tokraw nxt ON nxt.docid = r.docid AND nxt.pos = r.pos + 1
  LEFT JOIN tokraw prv ON prv.docid = r.docid AND prv.pos = r.pos - 1
),
tok AS (
  SELECT docid, term,
         pos - coalesce(sum(starts) OVER (
             PARTITION BY docid ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pos
  FROM syn
  WHERE dropped = 0
    AND length(raw_term) BETWEEN 1 AND 255 AND term NOT IN {_STOP}
),
doclen AS (
  SELECT d.docid, count(t.term) AS dl
  FROM docsrc d LEFT JOIN tok t ON t.docid = d.docid
  GROUP BY 1
),
normmap(dl_lo, dl_hi, norm_byte, dl_approx) AS (
  VALUES {_norm_values()}
),
doc AS (
  SELECT l.docid, l.dl,
         CASE WHEN l.dl = 0 THEN 255 ELSE m.norm_byte END AS norm_byte,
         CASE WHEN l.dl = 0 THEN CAST('infinity' AS DOUBLE) ELSE m.dl_approx END AS dl_approx
  FROM doclen l LEFT JOIN normmap m ON l.dl BETWEEN m.dl_lo AND m.dl_hi
),
stats AS (
  SELECT count(*) AS n,
         CAST(1.0 * (SELECT coalesce(sum(dl), 0) FROM doclen) / count(*) AS REAL) AS avgdl
  FROM docsrc
),
tf AS (SELECT docid, term, count(*) AS tf FROM tok GROUP BY 1, 2),
tstat AS (SELECT term, count(*) AS df, sum(tf) AS cf FROM tf GROUP BY 1)"""


def stemmed_prelude_sql(doc_source: str = "SELECT doc_id AS docid, text FROM documents") -> str:
    """PRELUDE variant whose tok CTE maps terms through the Porter stem
    dictionary (the ``text_en`` chain: tokenizer -> lowercase -> stop ->
    porter)."""
    return "WITH " + _prelude_body(doc_source, stem_values=porter_stem_values())


def kstem_prelude_sql(doc_source: str = "SELECT doc_id AS docid, text FROM documents") -> str:
    """PRELUDE variant whose tok CTE maps terms through the KStem
    dictionary (the ``text_en`` chain with KStemFilterFactory: tokenizer ->
    lowercase -> stop -> kstem)."""
    from lucene_solr_spark.analysis.kstem import kstem

    return "WITH " + _prelude_body(
        doc_source, stem_values=vocab_map_values(kstem)
    )


def phonetic_prelude_sql(doc_source: str = "SELECT doc_id AS docid, text FROM documents") -> str:
    """PRELUDE variant whose tok CTE maps terms through the Soundex code
    dictionary (PhoneticFilterFactory with encoder=Soundex, inject=false —
    every token replaced by its code)."""
    from lucene_solr_spark.analysis.phonetic import soundex

    return "WITH " + _prelude_body(
        doc_source, stem_values=vocab_map_values(soundex)
    )


def encoder_prelude_sql(
    encoder,
    doc_source: str = "SELECT doc_id AS docid, text FROM documents",
) -> str:
    """PRELUDE variant whose tok CTE maps terms through an arbitrary
    phonetic encoder's code dictionary (PhoneticFilterFactory with any of
    the registry's six encoders, inject=false); codeless tokens pass
    through, as PhoneticFilter leaves un-encodable tokens intact."""
    return "WITH " + _prelude_body(
        doc_source, stem_values=vocab_map_values(lambda t: encoder(t) or t)
    )


def dm_prelude_sql(doc_source: str = "SELECT doc_id AS docid, text FROM documents") -> str:
    """PRELUDE variant whose tok CTE maps terms through the Double
    Metaphone primary-code dictionary (PhoneticFilterFactory's DEFAULT
    encoder, inject=false — every token replaced by its primary code;
    codeless tokens pass through)."""
    from lucene_solr_spark.analysis.metaphone import double_metaphone

    return "WITH " + _prelude_body(
        doc_source,
        stem_values=vocab_map_values(lambda t: double_metaphone(t)[0] or t),
    )


def score_cols_sql() -> str:
    """The BM25 per-(term,doc) score over prelude columns f/s/d/st."""
    return score_formula(tf="f.tf", df="s.df", dl="d.dl_approx", n="st.n", avgdl="st.avgdl")


def idf_sql(term: str) -> str:
    """Per-term idf with df=0 fallback (scalar subqueries)."""
    df = f"coalesce((SELECT df FROM tstat WHERE term = '{term}'), 0)"
    return f"ln(1.0 + ((SELECT n FROM stats) - {df} + 0.5) / ({df} + 0.5))"


def scored_from() -> str:
    return (
        "FROM tf f JOIN doc d ON d.docid = f.docid "
        "JOIN tstat s ON s.term = f.term CROSS JOIN stats st"
    )


def bool_case_cols(terms: list[str]) -> str:
    sc = score_cols_sql()
    return ",\n    ".join(
        f"max(CASE WHEN f.term = '{t}' THEN {sc} END) AS s{i}"
        for i, t in enumerate(terms)
    )


def bool_sql(
    must: tuple[str, ...] = (),
    should: tuple[str, ...] = (),
    must_not: tuple[str, ...] = (),
    mm: int = 0,
    k: int = 10,
    boosts: dict[str, float] | None = None,
    as_cte: str | None = None,
    prelude: str | None = None,
) -> str:
    """Boolean top-k SQL mirroring bm25._boolean_topk's pivot_terms +
    boolean_combine frame exactly (fixed-order addition, round-then-order,
    docid tiebreak). If ``as_cte`` is given,
    returns only the CTE body text (SELECT ... LIMIT k) for composition."""
    boosts = boosts or {}
    terms = list(dict.fromkeys([*must, *should]))
    add_parts = []
    for i, t in enumerate(terms):
        part = f"coalesce(s{i}, 0.0)"
        if boosts.get(t, 1.0) != 1.0:
            part = f"{part} * {boosts[t]!r}"
        add_parts.append(part)
    add = " + ".join(add_parts)
    conds = [f"s{i} IS NOT NULL" for i, t in enumerate(terms) if t in must]
    if should and mm > 0:
        mmsum = " + ".join(
            f"(CASE WHEN s{terms.index(t)} IS NOT NULL THEN 1 ELSE 0 END)"
            for t in should
        )
        conds.append(f"({mmsum}) >= {mm}")
    where = " AND ".join(conds) if conds else "TRUE"
    notclause = ""
    if must_not:
        inlist = ", ".join(f"'{t}'" for t in must_not)
        notclause = (
            f" AND docid NOT IN (SELECT docid FROM tf WHERE term IN ({inlist}))"
        )
    inlist_all = ", ".join(f"'{t}'" for t in terms)
    body = f"""SELECT docid, round({add}, 4) AS score
FROM (
  SELECT f.docid, {bool_case_cols(terms)}
  {scored_from()}
  WHERE f.term IN ({inlist_all})
  GROUP BY f.docid
)
WHERE {where}{notclause}
ORDER BY score DESC, docid ASC LIMIT {k}"""
    if as_cte:
        return body
    return f"{prelude or PRELUDE}\n{body}"


def matches_cte(terms: tuple[str, ...], mode: str = "any") -> str:
    """DocSet CTE: docids matching any/all of the terms."""
    inlist = ", ".join(f"'{t}'" for t in terms)
    if mode == "any":
        return f"matches AS (SELECT DISTINCT docid FROM tf WHERE term IN ({inlist}))"
    return (
        f"matches AS (SELECT docid FROM tf WHERE term IN ({inlist}) "
        f"GROUP BY docid HAVING count(DISTINCT term) = {len(set(terms))})"
    )


def fuzzy_like_this_sql(
    terms: tuple[str, ...],
    min_similarity: float = 0.5,
    prefix_length: int = 0,
    max_num_terms: int = 50,
    max_variants_per_term: int = 50,
    k: int = 10,
    prelude: str | None = None,
) -> str:
    """FuzzyLikeThisQuery oracle (FuzzyLikeThisQuery.java:215-330 +
    SlowFuzzyTermsEnum.java:113-142) — mirrors search/fuzzylikethis exactly:
    dictionary join with suffix Levenshtein similarity, per-source and
    global row_number cuts, boost² × source-idf rescore, df-forced-to-1
    variant tf factor, and the ascending-VALUE sorted fold for per-doc
    float addition (list_reduce(list_sort(...)) == Spark's
    aggregate(array_sort(...)))."""
    ms = float(min_similarity)
    p = int(prefix_length)
    src_vals = ", ".join(f"('{t}')" for t in dict.fromkeys(terms))
    prefix_cond = (
        f"substr(s.sterm, 1, {p}) = substr(t.term, 1, {p})" if p > 0 else "TRUE"
    )
    ssuf = f"substr(s.sterm, {p + 1})"
    csuf = f"substr(t.term, {p + 1})"
    sim = (
        f"(1.0 - CAST(levenshtein({ssuf}, {csuf}) AS DOUBLE)"
        f" / ({float(p)!r} + least(length({ssuf}), length({csuf}))))"
    )
    idf1 = (
        "ln(1.0 + (CAST((SELECT n FROM stats) AS DOUBLE) - 1.0 + 0.5)"
        " / (1.0 + 0.5))"
    )
    return f"""{prelude or PRELUDE},
fsrc(sterm) AS (VALUES {src_vals}),
fc0 AS (
  SELECT s.sterm, t.term, t.df, {sim} AS sim
  FROM fsrc s JOIN tstat t ON {prefix_cond}
),
fc1 AS (
  SELECT *, CASE WHEN term = sterm THEN 1.0
                 ELSE (sim - {ms!r}) / {1.0 - ms!r} END AS boost
  FROM fc0 WHERE term = sterm OR sim > {ms!r}
),
fc2 AS (
  SELECT *, floor(sum(df) OVER (PARTITION BY sterm) * 1.0
                  / count(*) OVER (PARTITION BY sterm)) AS avgdf
  FROM fc1
),
fc3 AS (
  SELECT fc2.*, s2.df AS srcdf FROM fc2 LEFT JOIN tstat s2 ON s2.term = fc2.sterm
),
fc4 AS (
  SELECT *, CASE WHEN srcdf IS NULL OR srcdf = 0 THEN avgdf ELSE srcdf END AS dfu,
         row_number() OVER (PARTITION BY sterm ORDER BY boost DESC, term ASC) AS r1
  FROM fc3
),
fc5 AS (
  SELECT *, (boost * boost)
            * (ln(CAST((SELECT n FROM stats) AS DOUBLE) / (CAST(dfu AS DOUBLE) + 1.0)) + 1.0)
            AS variant_score
  FROM fc4 WHERE r1 <= {int(max_variants_per_term)}
),
fvar AS (
  SELECT * FROM (
    SELECT sterm, term, variant_score,
           row_number() OVER (ORDER BY variant_score DESC, term ASC, sterm ASC) AS r2
    FROM fc5
  ) WHERE r2 <= {int(max_num_terms)}
),
fcontrib AS (
  SELECT f.docid,
         v.variant_score * ({idf1} * 2.2 * f.tf
           / (f.tf + 1.2 * (0.25 + 0.75 * d.dl_approx / st.avgdl))) AS c
  FROM tf f JOIN fvar v ON v.term = f.term
  JOIN doc d ON d.docid = f.docid CROSS JOIN stats st
)
SELECT docid,
       round(CAST(list_reduce(list_sort(list(c)), (a, b) -> a + b) AS DOUBLE), 4) AS score
FROM fcontrib GROUP BY docid
ORDER BY score DESC, docid ASC LIMIT {k}"""


def common_terms_sql(
    terms: tuple[str, ...],
    max_term_frequency: float,
    low_freq_occur: str = "should",
    high_freq_occur: str = "should",
    low_freq_mm: float = 0.0,
    high_freq_mm: float = 0.0,
    k: int = 10,
    prelude: str | None = None,
) -> str:
    """CommonTermsQuery oracle (CommonTermsQuery.java rewrite/buildQuery).

    Classification happens IN SQL from the live tstat/stats integers — the
    same ``df > ceil(mtf * maxDoc)`` condition the engine evaluates
    driver-side — so the oracle stays faithful when the data changes.  The
    float32-vs-float64 product ``mtf * maxDoc`` is rendered with the
    float32-rounded mtf literal; callers should pick binary-exact thresholds
    (0.125, 0.25, ...) for graded rows.  Score folds zero out the other
    class's slots inline (adding literal 0.0 is float-exact), preserving the
    engine's fixed-order addition.
    """
    import numpy as np

    terms = tuple(dict.fromkeys(terms))
    mtf = float(np.float32(max_term_frequency))
    sc = score_cols_sql()
    tf_cols = ",\n         ".join(
        f"max(CASE WHEN f.term = '{t}' THEN {sc} END) AS s{i}"
        for i, t in enumerate(terms)
    )
    h_defs = []
    for i, t in enumerate(terms):
        df = f"coalesce((SELECT df FROM tstat WHERE term = '{t}'), 0)"
        mtf_abs = f"({mtf!r} >= 1.0 AND {df} > {mtf!r})" if mtf >= 1.0 else "FALSE"
        h_defs.append(
            f"(CASE WHEN {df} > 0 AND ({mtf_abs} OR {df} >"
            f" ceil({mtf!r} * (SELECT n FROM stats))) THEN 1 ELSE 0 END) AS h{i}"
        )
    low_sum = " + ".join(
        f"(CASE WHEN c.h{i} = 0 THEN coalesce(m.s{i}, 0.0) ELSE 0.0 END)"
        for i in range(len(terms))
    )
    high_sum = " + ".join(
        f"(CASE WHEN c.h{i} = 1 THEN coalesce(m.s{i}, 0.0) ELSE 0.0 END)"
        for i in range(len(terms))
    )
    low_matched = " + ".join(
        f"(CASE WHEN c.h{i} = 0 AND m.s{i} IS NOT NULL THEN 1 ELSE 0 END)"
        for i in range(len(terms))
    )
    high_matched = " + ".join(
        f"(CASE WHEN c.h{i} = 1 AND m.s{i} IS NOT NULL THEN 1 ELSE 0 END)"
        for i in range(len(terms))
    )
    n_low = " + ".join(f"(1 - c.h{i})" for i in range(len(terms)))
    n_high = " + ".join(f"c.h{i}" for i in range(len(terms)))

    def mm_expr(ratio: float, n_col: str) -> str:
        if ratio >= 1.0 or ratio == 0.0:
            return str(int(ratio))
        r = float(np.float32(ratio))
        return f"CAST(floor({r!r} * {n_col} + 0.5) AS INTEGER)"

    if low_freq_occur == "must":
        low_cond = "sc.low_matched = sc.n_low"
    else:
        low_cond = (
            f"sc.low_matched >= greatest({mm_expr(low_freq_mm, 'sc.n_low')}, 1)"
        )
    if high_freq_occur == "must":
        high_ok = "sc.high_matched = sc.n_high"
        all_high_cond = "sc.high_matched = sc.n_high"
    else:
        high_ok = (
            f"sc.high_matched >= greatest({mm_expr(high_freq_mm, 'sc.n_high')}, 1)"
        )
        # all-high rewrite: conjunction unless the RESOLVED mm is non-zero
        # (buildQuery :212-223 checks getMinimumNumberShouldMatch())
        hmm = mm_expr(high_freq_mm, "sc.n_high")
        all_high_cond = (
            f"(CASE WHEN {hmm} = 0 THEN sc.high_matched = sc.n_high"
            f" ELSE sc.high_matched >= {hmm} END)"
        )
    inlist = ", ".join(f"'{t}'" for t in terms)
    return f"""{prelude or PRELUDE},
cls AS (SELECT {", ".join(h_defs)}),
pv AS (
  SELECT f.docid,
         {tf_cols}
  {scored_from()}
  WHERE f.term IN ({inlist})
  GROUP BY f.docid
),
sc AS (
  SELECT m.docid,
         ({low_sum}) AS low_sum,
         ({high_sum}) AS high_sum,
         ({low_matched}) AS low_matched,
         ({high_matched}) AS high_matched,
         ({n_low}) AS n_low,
         ({n_high}) AS n_high
  FROM pv m CROSS JOIN cls c
)
SELECT sc.docid,
       round(CASE WHEN sc.n_low = 0 THEN sc.high_sum
                  WHEN sc.n_high = 0 THEN sc.low_sum
                  ELSE sc.low_sum + (CASE WHEN {high_ok} THEN sc.high_sum ELSE 0.0 END)
             END, 4) AS score
FROM sc
WHERE (CASE WHEN sc.n_low = 0 THEN {all_high_cond}
            ELSE {low_cond} END)
ORDER BY score DESC, sc.docid ASC LIMIT {k}"""


def classic_bool_sql(
    should: tuple[str, ...],
    k: int = 10,
    boosts: dict[str, float] | None = None,
    prelude: str | None = None,
) -> str:
    """ClassicSimilarity (TFIDF) boolean-of-SHOULD-terms oracle.

    Mirrors search/classic.classic_topk: idf = ln(N/(df+1)) + 1 and
    queryNorm = 1/sqrt(sum (idf*boost)^2) computed from ``tstat``/``stats``
    in fixed clause order; per-term contribution
    sqrt(tf) * ((idf*boost*qn)*idf) / sqrt(dl_approx); fixed-order addition;
    coord fold as (matched * 1.0 / maxOverlap).
    """
    boosts = boosts or {}
    terms = list(dict.fromkeys(should))
    idf_defs = []
    for i, t in enumerate(terms):
        df = f"coalesce((SELECT df FROM tstat WHERE term = '{t}'), 0)"
        idf_defs.append(
            f"(ln((SELECT n FROM stats) / ({df} + 1.0)) + 1.0) AS i{i}"
        )
    ssw = " + ".join(
        f"(qi.i{i} * {boosts.get(t, 1.0)!r}) * (qi.i{i} * {boosts.get(t, 1.0)!r})"
        for i, t in enumerate(terms)
    )
    tf_cols = ",\n         ".join(
        f"max(CASE WHEN f.term = '{t}' THEN f.tf END) AS tf{i}"
        for i, t in enumerate(terms)
    )
    contribs = " + ".join(
        f"coalesce(sqrt(pv.tf{i}) * ((qw.i{i} * {boosts.get(t, 1.0)!r} * qw.qn)"
        f" * qw.i{i}) / sqrt(pv.dl_approx), 0.0)"
        for i, t in enumerate(terms)
    )
    ovl = " + ".join(
        f"(CASE WHEN pv.tf{i} IS NOT NULL THEN 1 ELSE 0 END)"
        for i in range(len(terms))
    )
    maxov = len(terms)
    coord = f" * (({ovl}) * 1.0 / {maxov})" if maxov > 1 else ""
    inlist = ", ".join(f"'{t}'" for t in terms)
    return f"""{prelude or PRELUDE},
qi AS (SELECT {", ".join(idf_defs)}),
qw AS (SELECT qi.*, 1.0 / sqrt({ssw}) AS qn FROM qi),
pv AS (
  SELECT f.docid,
         {tf_cols},
         max(d.dl_approx) AS dl_approx
  FROM tf f JOIN doc d ON d.docid = f.docid
  WHERE f.term IN ({inlist})
  GROUP BY f.docid
)
SELECT pv.docid,
       round(({contribs}){coord}, 4) AS score
FROM pv CROSS JOIN qw
ORDER BY score DESC, pv.docid ASC LIMIT {k}"""


def sweetspot_bool_sql(
    should: tuple[str, ...],
    k: int = 10,
    boosts: dict[str, float] | None = None,
    ln_min: int = 1,
    ln_max: int = 1,
    steepness: float = 0.5,
    tf_mode: str = "baseline",
    tf_base: float = 0.0,
    tf_min: float = 0.0,
    hyper_min: float = 0.0,
    hyper_max: float = 2.0,
    hyper_base: float = 1.3,
    hyper_xoffset: float = 10.0,
    prelude: str | None = None,
) -> str:
    """SweetSpotSimilarity boolean-of-SHOULD-terms oracle.

    Mirrors search/sweetspot.sweetspot_topk: DefaultSimilarity idf/queryNorm/
    coord (classic_bool_sql shape) with the plateau length norm crossing the
    engines as DATA — the (dl_lo, dl_hi, decoded) integer range table from
    smallfloat.sweetspot_norm_ranges rendered as a VALUES CTE and joined on
    the exact ``doclen`` token count — and baseline/hyperbolic tf rendered as
    the identical float64 expression text.
    """
    from lucene_solr_spark.smallfloat import sweetspot_norm_ranges

    boosts = boosts or {}
    terms = list(dict.fromkeys(should))
    norm_vals = ",\n    ".join(
        f"({lo}, {hi}, {v!r})"
        for lo, hi, v in sweetspot_norm_ranges(ln_min, ln_max, steepness)
    )
    idf_defs = []
    for i, t in enumerate(terms):
        df = f"coalesce((SELECT df FROM tstat WHERE term = '{t}'), 0)"
        idf_defs.append(
            f"(ln((SELECT n FROM stats) / ({df} + 1.0)) + 1.0) AS i{i}"
        )
    ssw = " + ".join(
        f"(qi.i{i} * {boosts.get(t, 1.0)!r}) * (qi.i{i} * {boosts.get(t, 1.0)!r})"
        for i, t in enumerate(terms)
    )
    tf_cols = ",\n         ".join(
        f"max(CASE WHEN f.term = '{t}' THEN f.tf END) AS tf{i}"
        for i, t in enumerate(terms)
    )

    def tf_expr(i: int) -> str:
        if tf_mode == "baseline":
            c = tf_base * tf_base - tf_min
            return (
                f"(CASE WHEN pvn.tf{i} <= {tf_min!r} THEN {tf_base!r}"
                f" ELSE sqrt(pvn.tf{i} + {c!r}) END)"
            )
        if tf_mode == "hyperbolic":
            x = f"(pvn.tf{i} - {hyper_xoffset!r})"
            up = f"power({hyper_base!r}, {x})"
            dn = f"power({hyper_base!r}, -{x})"
            return (
                f"({hyper_min!r} + {(hyper_max - hyper_min) / 2.0!r}"
                f" * (({up} - {dn}) / ({up} + {dn}) + 1.0))"
            )
        raise ValueError(f"unknown tf_mode {tf_mode!r}")

    contribs = " + ".join(
        f"coalesce({tf_expr(i)} * ((qw.i{i} * {boosts.get(t, 1.0)!r} * qw.qn)"
        f" * qw.i{i}) * pvn.nrm, 0.0)"
        for i, t in enumerate(terms)
    )
    ovl = " + ".join(
        f"(CASE WHEN pvn.tf{i} IS NOT NULL THEN 1 ELSE 0 END)"
        for i in range(len(terms))
    )
    maxov = len(terms)
    coord = f" * (({ovl}) * 1.0 / {maxov})" if maxov > 1 else ""
    inlist = ", ".join(f"'{t}'" for t in terms)
    return f"""{prelude or PRELUDE},
ssnorm(dl_lo, dl_hi, nrm) AS (
  VALUES {norm_vals}
),
qi AS (SELECT {", ".join(idf_defs)}),
qw AS (SELECT qi.*, 1.0 / sqrt({ssw}) AS qn FROM qi),
pv AS (
  SELECT f.docid,
         {tf_cols},
         max(l.dl) AS dl
  FROM tf f JOIN doclen l ON l.docid = f.docid
  WHERE f.term IN ({inlist})
  GROUP BY f.docid
),
pvn AS (
  SELECT pv.*, (SELECT s.nrm FROM ssnorm s WHERE pv.dl BETWEEN s.dl_lo AND s.dl_hi) AS nrm
  FROM pv
)
SELECT pvn.docid,
       round(({contribs}){coord}, 4) AS score
FROM pvn CROSS JOIN qw
ORDER BY score DESC, pvn.docid ASC LIMIT {k}"""


def _lm_pv(terms: list[str]) -> str:
    tf_cols = ",\n         ".join(
        f"max(CASE WHEN f.term = '{t}' THEN f.tf END) AS tf{i}"
        for i, t in enumerate(terms)
    )
    inlist = ", ".join(f"'{t}'" for t in terms)
    return f"""qp AS (SELECT {", ".join(
        f"((coalesce((SELECT cf FROM tstat WHERE term = '{t}'), 0) + 1.0)"
        f" / ((SELECT coalesce(sum(dl), 0) FROM doclen) + 1.0)) AS p{i}"
        for i, t in enumerate(terms)
    )}),
pv AS (
  SELECT f.docid,
         {tf_cols},
         max(d.dl_approx) AS dl_approx
  FROM tf f JOIN doc d ON d.docid = f.docid
  WHERE f.term IN ({inlist})
  GROUP BY f.docid
)"""


def lm_dirichlet_sql(
    should: tuple[str, ...],
    mu: float = 2000.0,
    k: int = 10,
    boosts: dict[str, float] | None = None,
    prelude: str | None = None,
) -> str:
    """LMDirichletSimilarity boolean-of-SHOULD-terms oracle.

    Mirrors search/lm.lm_dirichlet_topk: p(t|C) = (cf+1)/(F+1) from
    tstat/doclen, per-term s = boost*(ln(1 + tf/(mu*p)) + ln(mu/(dl+mu)))
    clipped at 0 (LMDirichletSimilarity.java:65-69), coord/queryNorm = 1,
    fixed-order addition, round before ordering, docid tie-break.
    """
    boosts = boosts or {}
    terms = list(dict.fromkeys(should))
    s_defs = ",\n       ".join(
        f"{boosts.get(t, 1.0)!r} * (ln(1.0 + pv.tf{i} / ({mu!r} * qp.p{i}))"
        f" + ln({mu!r} / (pv.dl_approx + {mu!r}))) AS s{i}"
        for i, t in enumerate(terms)
    )
    total = " + ".join(
        f"(CASE WHEN sx.tf{i} IS NULL THEN 0.0"
        f" WHEN sx.s{i} > 0 THEN sx.s{i} ELSE 0.0 END)"
        for i in range(len(terms))
    )
    return f"""{prelude or PRELUDE},
{_lm_pv(terms)},
sx AS (
  SELECT pv.*,
       {s_defs}
  FROM pv CROSS JOIN qp
)
SELECT sx.docid, round({total}, 4) AS score
FROM sx
ORDER BY score DESC, sx.docid ASC LIMIT {k}"""


def lm_jm_sql(
    should: tuple[str, ...],
    lam: float = 0.7,
    k: int = 10,
    boosts: dict[str, float] | None = None,
    prelude: str | None = None,
) -> str:
    """LMJelinekMercerSimilarity oracle (LMJelinekMercerSimilarity.java:53-58):
    score = boost * ln(1 + ((1-lambda)*tf/docLen) / (lambda*p))."""
    boosts = boosts or {}
    terms = list(dict.fromkeys(should))
    total = " + ".join(
        f"coalesce({boosts.get(t, 1.0)!r} * ln(1.0 +"
        f" ((1.0 - {lam!r}) * pv.tf{i} / pv.dl_approx)"
        f" / ({lam!r} * qp.p{i})), 0.0)"
        for i, t in enumerate(terms)
    )
    return f"""{prelude or PRELUDE},
{_lm_pv(terms)}
SELECT pv.docid, round({total}, 4) AS score
FROM pv CROSS JOIN qp
ORDER BY score DESC, pv.docid ASC LIMIT {k}"""


def dfr_sql(
    should: tuple[str, ...],
    basic_model: str = "in",
    after_effect: str = "l",
    normalization: str = "h2",
    c: float = 1.0,
    k: int = 10,
    prelude: str | None = None,
) -> str:
    """DFRSimilarity oracle (DFRSimilarity.java:108-112): per-term
    score = basic(tfn) * ae(tfn); the per-term log2 scalar, lambda-style
    constants, and avgFieldLength render as the same float64 ratios the
    Spark path computes driver-side (search/dfr.py)."""
    terms = list(dict.fromkeys(should))
    avg = ("((SELECT coalesce(sum(dl), 0) FROM doclen)"
           " / CAST((SELECT n FROM stats) AS DOUBLE))")
    n_docs = "(SELECT n FROM stats)"

    def kexpr(t: str) -> str:
        df = f"(SELECT df FROM tstat WHERE term = '{t}')"
        cf = f"(SELECT cf FROM tstat WHERE term = '{t}')"
        if basic_model == "in":
            return f"(ln(({n_docs} + 1) / ({df} + 0.5)) / ln(2.0))"
        if basic_model == "ine":
            ne = (f"({n_docs} * (1.0 - pow(({n_docs} - 1)"
                  f" / CAST({n_docs} AS DOUBLE), {cf})))")
            return f"(ln(({n_docs} + 1) / ({ne} + 0.5)) / ln(2.0))"
        if basic_model == "if":
            return f"(ln(1.0 + ({n_docs} + 1) / ({cf} + 0.5)) / ln(2.0))"
        raise ValueError(basic_model)

    tf_cols = ",\n         ".join(
        f"max(CASE WHEN f.term = '{t}' THEN f.tf END) AS tf{i}"
        for i, t in enumerate(terms)
    )
    inlist = ", ".join(f"'{t}'" for t in terms)
    if normalization == "h1":
        tfn = lambda i: f"(pv.tf{i} * ({avg} / pv.dl_approx))"  # noqa: E731
    elif normalization == "h2":
        tfn = lambda i: (  # noqa: E731
            f"(pv.tf{i} * (ln(1.0 + ({c!r} * {avg}) / pv.dl_approx)"
            f" / ln(2.0)))"
        )
    else:
        raise ValueError(normalization)
    tfn_defs = ",\n       ".join(f"{tfn(i)} AS tfn{i}" for i in range(len(terms)))
    kdefs = ",\n       ".join(f"{kexpr(t)} AS k{i}" for i, t in enumerate(terms))

    def ae(i: int, t: str) -> str:
        if after_effect == "l":
            return f"(1.0 / (sx.tfn{i} + 1.0))"
        df = f"(SELECT df FROM tstat WHERE term = '{t}')"
        cf = f"(SELECT cf FROM tstat WHERE term = '{t}')"
        return f"(({cf} + 2.0) / (({df} + 1.0) * (sx.tfn{i} + 1.0)))"

    total = " + ".join(
        f"coalesce(CASE WHEN sx.tf{i} IS NOT NULL THEN"
        f" 1.0 * (sx.tfn{i} * sx.k{i}) * {ae(i, t)} END, 0.0)"
        for i, t in enumerate(terms)
    )
    return f"""{prelude or PRELUDE},
pv AS (
  SELECT f.docid,
         {tf_cols},
         max(d.dl_approx) AS dl_approx
  FROM tf f JOIN doc d ON d.docid = f.docid
  WHERE f.term IN ({inlist})
  GROUP BY f.docid
),
sx AS (
  SELECT pv.*,
       {tfn_defs},
       {kdefs}
  FROM pv
)
SELECT sx.docid, round({total}, 4) AS score
FROM sx
ORDER BY score DESC, sx.docid ASC LIMIT {k}"""


def ib_sql(
    should: tuple[str, ...],
    distribution: str = "ll",
    lambda_: str = "df",
    normalization: str = "h1",
    c: float = 1.0,
    k: int = 10,
    prelude: str | None = None,
) -> str:
    """IBSimilarity oracle (IBSimilarity.java:98-104): per-term
    score = dist(tfn, lambda); lambda and avgFieldLength render as the same
    float64 ratios the Spark path computes driver-side (search/dfr.py)."""
    terms = list(dict.fromkeys(should))
    avg = ("((SELECT coalesce(sum(dl), 0) FROM doclen)"
           " / CAST((SELECT n FROM stats) AS DOUBLE))")
    n_docs = "(SELECT n FROM stats)"
    tf_cols = ",\n         ".join(
        f"max(CASE WHEN f.term = '{t}' THEN f.tf END) AS tf{i}"
        for i, t in enumerate(terms)
    )
    inlist = ", ".join(f"'{t}'" for t in terms)
    if normalization == "h1":
        tfn = lambda i: f"(pv.tf{i} * ({avg} / pv.dl_approx))"  # noqa: E731
    elif normalization == "h2":
        tfn = lambda i: (  # noqa: E731
            f"(pv.tf{i} * (ln(1.0 + ({c!r} * {avg}) / pv.dl_approx)"
            f" / ln(2.0)))"
        )
    else:
        raise ValueError(normalization)
    tfn_defs = ",\n       ".join(f"{tfn(i)} AS tfn{i}" for i in range(len(terms)))
    base_col = "df" if lambda_ == "df" else "cf"
    lam_defs = ",\n       ".join(
        f"((coalesce((SELECT {base_col} FROM tstat WHERE term = '{t}'), 0)"
        f" + 1.0) / ({n_docs} + 1.0)) AS lam{i}"
        for i, t in enumerate(terms)
    )

    def dist(i: int) -> str:
        if distribution == "ll":
            return f"(-ln(sx.lam{i} / (sx.tfn{i} + sx.lam{i})))"
        if distribution == "spl":
            lam = (f"(CASE WHEN sx.lam{i} = 1.0 THEN 0.99"
                   f" ELSE sx.lam{i} END)")
            return (f"(-ln((pow({lam}, sx.tfn{i} / (sx.tfn{i} + 1.0))"
                    f" - {lam}) / (1.0 - {lam})))")
        raise ValueError(distribution)

    total = " + ".join(
        f"coalesce(CASE WHEN sx.tf{i} IS NOT NULL THEN 1.0 * {dist(i)} END,"
        f" 0.0)"
        for i in range(len(terms))
    )
    return f"""{prelude or PRELUDE},
pv AS (
  SELECT f.docid,
         {tf_cols},
         max(d.dl_approx) AS dl_approx
  FROM tf f JOIN doc d ON d.docid = f.docid
  WHERE f.term IN ({inlist})
  GROUP BY f.docid
),
sx AS (
  SELECT pv.*,
       {tfn_defs},
       {lam_defs}
  FROM pv
)
SELECT sx.docid, round({total}, 4) AS score
FROM sx
ORDER BY score DESC, sx.docid ASC LIMIT {k}"""
