"""ClassicSimilarity (TFIDF) scoring — Lucene 4.10's DEFAULT similarity.

Math is DefaultSimilarity/TFIDFSimilarity (/root/reference):

    tf(freq)   = sqrt(freq)                       (DefaultSimilarity.java:120-121)
    idf(df,N)  = ln(N / (df + 1)) + 1             (DefaultSimilarity.java:138-139)
    queryNorm  = 1 / sqrt(sumOfSquaredWeights)    (DefaultSimilarity.java:67-68)
    sumOfSquaredWeights = sum over clauses of (idf * boost)^2
                                                  (TFIDFSimilarity.java:741-764)
    norm(d)    = decodeNorm(floatToByte315(1/sqrt(dl)))
               = byte315ToFloat(norm_byte)        (DefaultSimilarity.java:87-115)
    coord(q,d) = overlap / maxOverlap             (DefaultSimilarity.java:61-62)

    score(q,d) = coord * SUM_t [ sqrt(tf_td) * ((idf_t*boost_t*queryNorm) * idf_t)
                                 * norm(d) ]

The scorer-side per-term value is ``queryWeight * idf`` after ``normalize``
(TFIDFSimilarity.java:761-764), i.e. idf enters squared; BooleanWeight then
multiplies the summed score by the coordination factor.

Engine mapping. The index stores ``dl_approx = 1/(f*f)`` where
``f = byte315ToFloat(norm_byte)`` (the BM25 NORM_TABLE view of the same
byte), so the classic decoded norm is recovered exactly as
``1/sqrt(dl_approx)`` — no second norms column is needed; both engines
evaluate that identical expression text over the identical stored double.

Determinism across engines follows the BM25/phrase discipline
(bm25.score_formula, bm25._idf_sum_bm25_topk): per-term idf/queryNorm values
are float64 quantities derived from the term dictionary — computed in fixed
clause order driver-side on the Spark path (bounded collect: query terms
only) and rendered from ``tstat`` scalar subqueries with the same operation
order on the DuckDB path (oracle.sqlgen.classic_score_sql); per-term
contributions combine with FIXED-ORDER addition; coord multiplies the sum as
``(matched * 1.0 / maxOverlap)``; round(score, round_dp) BEFORE ordering;
docid-ascending tie-break.  Rank identity to Lucene's float32 pipeline is
validated by the pure-Python float32 oracle in tests/test_classic.py.

Scale shape: the BM25 boolean frame (bm25.pivot_terms + bm25.boolean_combine)
— postings term-pruned at the scan, term stats a bounded driver lookup, the
per-term score evaluated inside the one docid hash aggregate, top-k is
TakeOrderedAndProject.  No new shuffle.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
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
from lucene_solr_spark.search.query import BooleanQuery


def classic_idf(n: int, df: int) -> float:
    """DefaultSimilarity.idf (java :138-139) in float64."""
    return math.log(n / (df + 1.0)) + 1.0


def classic_query_stats(
    n: int, terms: list[str], dfs: dict[str, int], boosts: dict[str, float]
) -> tuple[dict[str, float], float]:
    """(per-term scorer value BEFORE queryNorm fold-in, queryNorm) — mirrors
    Weight.getValueForNormalization + normalize in fixed clause order."""
    idf = {t: classic_idf(n, dfs.get(t, 0)) for t in terms}
    ssw = 0.0
    for t in terms:  # fixed clause order, like BooleanWeight's clause loop
        qw = idf[t] * boosts.get(t, 1.0)
        ssw += qw * qw
    qn = 1.0 / math.sqrt(ssw) if ssw > 0 else 1.0
    return idf, qn


def classic_topk(
    index: IndexTables,
    q: BooleanQuery,
    k: int = 10,
    round_dp: int = 4,
    disable_coord: bool = False,
) -> DataFrame:
    """Top-k under ClassicSimilarity for a boolean query of term clauses.

    The per-posting score ``sqrt(tf) * value_t / sqrt(dl_approx)`` is
    evaluated inside the shared docid pivot (bm25.pivot_terms);
    bm25.boolean_combine folds it and applies coord over ALL clauses
    (maxOverlap counts duplicated clauses, like BooleanWeight).
    """
    terms, clauses = boolean_term_clauses(q, boosted=False)
    boosts = {t.term: t.boost for t in (*q.must, *q.should)}
    dfs = {t: r.df for t, r in query_term_stats(index, terms).items()}
    idf, qn = classic_query_stats(index.max_doc, terms, dfs, boosts)

    def value(t: str):
        # value_t = (idf*boost*queryNorm) * idf  (TFIDFSimilarity.java:761-764)
        v = (idf[t] * boosts.get(t, 1.0) * qn) * idf[t]
        return F.sqrt(F.col("tf")) * F.lit(v) / F.sqrt(F.col("dl_approx"))

    per_doc = pivot_terms(
        index.postings.filter(F.col("term").isin(terms)), terms, value
    )
    # coord = overlap / (float) maxOverlap (DefaultSimilarity.java:61-62)
    coord_max = None if disable_coord else len(q.must) + len(q.should)
    return _topk(boolean_combine(
        [per_doc], clauses, q.minimum_should_match, must_not_docset(index, q),
        round_dp, coord_max,
    ), k)
