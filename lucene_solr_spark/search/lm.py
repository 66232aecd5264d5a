"""Language-model similarities — LMDirichlet and LMJelinekMercer.

Math is SimilarityBase/LMSimilarity (/root/reference):

    p(t|C)          = (totalTermFreq + 1) / (numberOfFieldTokens + 1)
                      (LMSimilarity.java:153-154 DefaultCollectionModel)
    docLen          = NORM_TABLE[norm_byte] = 1/(f*f), f = byte315ToFloat
                      (SimilarityBase.java decodeNormValue — the index's
                      stored ``dl_approx`` column IS this value)
    coord, queryNorm = 1 (Similarity.java:122-124,139-141 — SimilarityBase
                      does not override; no TFIDF-style folds apply)

    LMDirichlet (LMDirichletSimilarity.java:65-69, default mu = 2000):
      s = boost * ( ln(1 + tf / (mu * p)) + ln(mu / (docLen + mu)) )
      score = s if s > 0 else 0          (negative scores clipped per term)

    LMJelinekMercer (LMJelinekMercerSimilarity.java:53-58):
      score = boost * ln(1 + ((1-lambda) * tf / docLen) / (lambda * p))

BooleanQuery sums per-term scores (no coord), MUST clauses filter, NOT
clauses anti-join — the shared boolean frame (bm25.pivot_terms +
bm25.boolean_combine): one term-pruned postings scan, the per-term score
evaluated per posting inside one pivot hash-aggregate on docid, fixed-order
float64 addition of per-term contributions, round(score, round_dp) BEFORE
ordering, docid-ascending tie-break.

Determinism across engines: per-term p(t|C) is a float64 ratio of two
integers (cf, F) — the Spark path computes it driver-side from the term
dictionary (bounded collect: query terms only); the DuckDB oracle renders
the identical division from ``tstat``/``doclen`` CTEs
(oracle.sqlgen.lm_dirichlet_sql / lm_jm_sql); IEEE float64 division and the
shared ln agree.  Rank identity to the reference's float32 pipeline is
validated by the pure-Python float32 oracle in tests/test_lm.py.

Scale shape: identical to the BM25 path — postings term-pruned at the scan
(PushedFilters), term stats a bounded driver lookup, one hash aggregate,
TakeOrderedAndProject.  No new shuffle.
"""

from __future__ import annotations

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


def collection_probability(cf: int, field_tokens: int) -> float:
    """LMSimilarity.DefaultCollectionModel.computeProbability
    (LMSimilarity.java:153-154) in float64."""
    return (cf + 1.0) / (field_tokens + 1.0)


def lm_dirichlet_topk(
    index: IndexTables,
    q: BooleanQuery,
    mu: float = 2000.0,
    k: int = 10,
    round_dp: int = 4,
) -> DataFrame:
    """Top-k under LMDirichletSimilarity (LMDirichletSimilarity.java:65-69)."""
    terms, clauses = boolean_term_clauses(q, boosted=False)
    boosts = {t.term: t.boost for t in (*q.must, *q.should)}
    stats = query_term_stats(index, terms)

    def score(t: str):
        p = collection_probability(
            stats[t].cf if t in stats else 0, index.sum_total_term_freq
        )
        # s = boost * (ln(1 + tf/(mu*p)) + ln(mu/(docLen+mu)));
        # score = s if s > 0 else 0  (java :69) — same CASE text as the oracle
        s = F.lit(boosts.get(t, 1.0)) * (
            F.log(F.lit(1.0) + F.col("tf") / F.lit(mu * p))
            + F.log(F.lit(mu) / (F.col("dl_approx") + F.lit(mu)))
        )
        return F.when(s > 0, s).otherwise(F.lit(0.0))

    per_doc = pivot_terms(
        index.postings.filter(F.col("term").isin(terms)), terms, score
    )
    return _topk(boolean_combine(
        [per_doc], clauses, q.minimum_should_match, must_not_docset(index, q),
        round_dp,
    ), k)


def lm_jelinek_mercer_topk(
    index: IndexTables,
    q: BooleanQuery,
    lam: float = 0.7,
    k: int = 10,
    round_dp: int = 4,
) -> DataFrame:
    """Top-k under LMJelinekMercerSimilarity
    (LMJelinekMercerSimilarity.java:53-58; Solr's default lambda 0.7)."""
    terms, clauses = boolean_term_clauses(q, boosted=False)
    boosts = {t.term: t.boost for t in (*q.must, *q.should)}
    stats = query_term_stats(index, terms)

    def score(t: str):
        p = collection_probability(
            stats[t].cf if t in stats else 0, index.sum_total_term_freq
        )
        return F.lit(boosts.get(t, 1.0)) * F.log(
            F.lit(1.0)
            + ((F.lit(1.0 - lam) * F.col("tf") / F.col("dl_approx"))
               / F.lit(lam * p))
        )

    per_doc = pivot_terms(
        index.postings.filter(F.col("term").isin(terms)), terms, score
    )
    return _topk(boolean_combine(
        [per_doc], clauses, q.minimum_should_match, must_not_docset(index, q),
        round_dp,
    ), k)
