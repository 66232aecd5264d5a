"""SweetSpotSimilarity — plateau length norm + baseline/hyperbolic tf.

Math is the reference's lucene/misc SweetSpotSimilarity (public Apache Lucene
4.10.5 source, studied at /root/reference/lucene/misc/src/java/org/apache/
lucene/misc/SweetSpotSimilarity.java; Solr factory:
solr/core/src/java/org/apache/solr/search/similarities/
SweetSpotSimilarityFactory.java):

    computeLengthNorm(x) = 1/sqrt( steepness * (|x-min| + |x-max| - (max-min)) + 1 )
                                                  (SweetSpotSimilarity.java:136-155)
    baselineTf(freq)     = 0 if freq == 0
                           else base            if freq <= min
                           else sqrt(freq + base^2 - min)
                                                  (SweetSpotSimilarity.java:169-186)
    hyperbolicTf(freq)   = min + (max-min)/2 * (tanh-like((freq-xoffset), base) + 1)
                                                  (SweetSpotSimilarity.java:188-225)

Everything else (idf, queryNorm, coord, the squared-idf scorer value) is
inherited from DefaultSimilarity — identical to search/classic.py.

Engine mapping.  SweetSpot's INDEX-TIME norm byte differs from the engine's
stored 1/sqrt(dl) byte, so the scorer recovers the exact token count
``num_terms`` from the docs table and re-quantizes through
``smallfloat.sweetspot_norm_ranges`` — an integer (dl_lo, dl_hi, decoded)
range table shared verbatim with the DuckDB oracle (a VALUES CTE), so the
float32 quantization crosses the engines as DATA, never as float logic.

Scale shape: classic_topk's frame plus one docid join against docs for
``num_terms`` and one broadcast range join against the <=256-row norm table,
both on the term-pruned postings before the pivot (docs column-pruned to
(docid, num_terms)).  No new shuffle beyond the pivot aggregate and that
docid join; top-k is TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lucene_solr_spark.index.builder import IndexTables
from lucene_solr_spark.search.bm25 import (
    _topk,
    boolean_combine,
    boolean_term_clauses,
    must_not_docset,
    pivot_terms,
    query_term_stats,
)
from lucene_solr_spark.search.classic import classic_query_stats
from lucene_solr_spark.search.query import BooleanQuery
from lucene_solr_spark.smallfloat import sweetspot_norm_ranges


def baseline_tf_col(tf: Column, tf_base: float = 0.0, tf_min: float = 0.0) -> Column:
    """baselineTf as a Catalyst column (freq > 0 guaranteed by postings).

    Rendered as ``CASE WHEN tf <= min THEN base ELSE sqrt(tf + (base^2 - min))``
    with the constant folded driver-side — the SQL oracle renders the same
    float64 text (oracle.sqlgen.sweetspot_bool_sql)."""
    c = tf_base * tf_base - tf_min
    return F.when(tf <= F.lit(tf_min), F.lit(tf_base)).otherwise(
        F.sqrt(tf + F.lit(c))
    )


def hyperbolic_tf_col(
    tf: Column,
    hyper_min: float = 0.0,
    hyper_max: float = 2.0,
    hyper_base: float = 1.3,
    hyper_xoffset: float = 10.0,
) -> Column:
    """hyperbolicTf as a Catalyst column (SweetSpotSimilarity.java:188-225):

        min + (max-min)/2 * ((b^x - b^-x)/(b^x + b^-x) + 1),  x = freq - xoffset
    """
    x = tf - F.lit(hyper_xoffset)
    up = F.pow(F.lit(hyper_base), x)
    dn = F.pow(F.lit(hyper_base), -x)
    return F.lit(hyper_min) + F.lit((hyper_max - hyper_min) / 2.0) * (
        (up - dn) / (up + dn) + F.lit(1.0)
    )


def sweetspot_norm_df(index: IndexTables, ln_min: int, ln_max: int, steepness: float):
    """Broadcast-able (dl_lo, dl_hi, ss_norm) frame from the shared range table."""
    rows = [
        (lo, hi, v) for lo, hi, v in sweetspot_norm_ranges(ln_min, ln_max, steepness)
    ]
    spark = index.docs.sparkSession
    return spark.createDataFrame(rows, "dl_lo long, dl_hi long, ss_norm double")


def sweetspot_topk(
    index: IndexTables,
    q: BooleanQuery,
    k: int = 10,
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
    round_dp: int = 4,
    disable_coord: bool = False,
) -> DataFrame:
    """Top-k under SweetSpotSimilarity for a boolean query of term clauses.

    The term-pruned postings join docs for the exact ``num_terms`` and the
    broadcast range table for the quantized plateau norm; the per-posting
    score ``tf(freq) * value_t * ss_norm`` is then evaluated inside the
    shared docid pivot (bm25.pivot_terms) and combined with classic coord by
    bm25.boolean_combine.
    """
    if tf_mode == "baseline":
        tf = baseline_tf_col(F.col("tf"), tf_base, tf_min)
    elif tf_mode == "hyperbolic":
        tf = hyperbolic_tf_col(
            F.col("tf"), hyper_min, hyper_max, hyper_base, hyper_xoffset
        )
    else:
        raise ValueError(f"unknown tf_mode {tf_mode!r}")
    terms, clauses = boolean_term_clauses(q, boosted=False)
    boosts = {t.term: t.boost for t in (*q.must, *q.should)}
    dfs = {t: r.df for t, r in query_term_stats(index, terms).items()}
    # idf / queryNorm / squared-idf scorer value inherited from DefaultSimilarity
    idf, qn = classic_query_stats(index.max_doc, terms, dfs, boosts)

    def value(t: str):
        v = (idf[t] * boosts.get(t, 1.0) * qn) * idf[t]
        return tf * F.lit(v) * F.col("ss_norm")

    p = index.postings.filter(F.col("term").isin(terms)).join(
        index.docs.select("docid", "num_terms"), "docid", "inner"
    )
    norms = sweetspot_norm_df(index, ln_min, ln_max, steepness)
    p = p.join(
        F.broadcast(norms),
        (F.col("num_terms") >= F.col("dl_lo")) & (F.col("num_terms") <= F.col("dl_hi")),
    )
    per_doc = pivot_terms(p, terms, value)
    coord_max = None if disable_coord else len(q.must) + len(q.should)
    return _topk(boolean_combine(
        [per_doc], clauses, q.minimum_should_match, must_not_docset(index, q),
        round_dp, coord_max,
    ), k)
