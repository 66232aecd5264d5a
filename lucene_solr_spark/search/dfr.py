"""Divergence-from-Randomness and Information-Based similarities.

Math is SimilarityBase + DFRSimilarity/IBSimilarity (/root/reference
lucene/core/src/java/org/apache/lucene/search/similarities/):

    docLen  = NORM_TABLE[norm_byte] = 1/(f*f)   (SimilarityBase.java:220-245
              decodeNormValue — the index's ``dl_approx`` column IS this)
    avgFL   = numberOfFieldTokens / N           (SimilarityBase.java:113-127)
    log2(x) = ln(x) / ln(2)                     (SimilarityBase.java:255-258)

  DFR (DFRSimilarity.java:108-112):  score = boost * basic(tfn) * ae(tfn)

    tfn H1  = tf * avgFL / dl                   (NormalizationH1.java:50-52)
    tfn H2  = tf * log2(1 + c*avgFL/dl), c=1    (NormalizationH2.java:52-54)
    basic I(n)  = tfn * log2((N+1)/(n+0.5))     (BasicModelIn.java:33-37)
    basic I(ne) = tfn * log2((N+1)/(ne+0.5)),
                  ne = N*(1-((N-1)/N)^F)        (BasicModelIne.java:33-38)
    basic I(F)  = tfn * log2(1+(N+1)/(F+0.5))   (BasicModelIF.java:32-36)
    ae L    = 1/(tfn+1)                         (AfterEffectL.java:32-34)
    ae B    = (F+2)/((n+1)*(tfn+1))             (AfterEffectB.java:32-36,
              with the java's F=ttf+1, n=df+1 substituted)

  IB (IBSimilarity.java:98-104):  score = boost * dist(tfn, lambda)

    lambda DF  = (n+1)/(N+1)                    (LambdaDF.java)
    lambda TTF = (F+1)/(N+1)                    (LambdaTTF.java)
    dist LL    = -ln(lambda/(tfn+lambda))       (DistributionLL.java:33-35)
    dist SPL   = -ln((lambda^(tfn/(tfn+1)) - lambda)/(1-lambda)),
                 lambda==1 -> 0.99              (DistributionSPL.java:34-40)

BooleanQuery composition, float discipline, and the pivot frame are the
shared bm25.pivot_terms + bm25.boolean_combine: one term-pruned postings
scan, the per-term score evaluated per posting inside one docid hash
aggregate, fixed-order float64 addition, round-before-order, docid
tie-break.  Per-term scalars (the basic-model log2 factor, lambda, F/n
constants) are float64 ratios of integers computed identically driver-side
and in the DuckDB oracle (oracle.sqlgen.dfr_sql / ib_sql); rank identity to
the reference's float32 pipeline is validated by the pure-Python float32
oracle in tests/test_dfr.py.

Scale shape: identical to BM25/LM — no new shuffle kind.
"""

from __future__ import annotations

import math

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
from lucene_solr_spark.search.query import BooleanQuery

_LN2 = math.log(2.0)

BASIC_MODELS = ("in", "ine", "if", "be", "d", "g", "p")
AFTER_EFFECTS = ("l", "b")
NORMALIZATIONS = ("h1", "h2", "h3", "z")
DISTRIBUTIONS = ("ll", "spl")
LAMBDAS = ("df", "ttf")


def _tfn_col(
    tf: Column, dl: Column, normalization: str, c: float | None, avg_fl: float,
    cf: int = 0, field_tokens: int = 0,
) -> Column:
    """tfn(stats, tf, len).  ``c`` doubles as H3's mu and Z's z exponent.
    ``c=None`` means 'use the normalization's own reference default'
    (H2 c=1.0, H3 mu=800, Z z=0.30) — an EXPLICIT value (including 1.0)
    is always honored, matching the reference constructors
    (NormalizationH2/H3/Z.java), which accept any float."""
    if normalization == "h1":
        return tf * (F.lit(avg_fl) / dl)
    if normalization == "h2":
        cc = 1.0 if c is None else c  # NormalizationH2.java:36-38 default
        return tf * (F.log(F.lit(1.0) + F.lit(cc * avg_fl) / dl) / F.lit(_LN2))
    if normalization == "h3":
        mu = 800.0 if c is None else c  # NormalizationH3.java:30-32 default
        g = (cf + 1.0) / (field_tokens + 1.0)
        return (tf + F.lit(mu * g)) / (dl + F.lit(mu)) * F.lit(mu)
    if normalization == "z":
        z = 0.30 if c is None else c  # NormalizationZ.java:30-32 default
        return tf * F.pow(F.lit(avg_fl) / dl, F.lit(z))
    raise ValueError(f"unknown normalization: {normalization!r}")


def _basic_factor(basic_model: str, n_docs: int, df: int, cf: int) -> float:
    """The per-term log2 scalar the tfn-linear basic models multiply by."""
    if basic_model == "in":
        return math.log((n_docs + 1) / (df + 0.5)) / _LN2
    if basic_model == "ine":
        ne = n_docs * (1.0 - ((n_docs - 1) / float(n_docs)) ** cf)
        return math.log((n_docs + 1) / (ne + 0.5)) / _LN2
    if basic_model == "if":
        return math.log(1.0 + (n_docs + 1) / (cf + 0.5)) / _LN2
    raise ValueError(f"unknown basic model: {basic_model!r}")


def _log2c(x: Column) -> Column:
    return F.log(x) / F.lit(_LN2)


def _basic_col(
    basic_model: str, tfn: Column, n_docs: int, df: int, cf: int
) -> Column:
    """basic(tfn) as a Column.  I(n)/I(ne)/I(F) are scalar*tfn; BE/D/G/P are
    full tfn-dependent expressions (BasicModelBE.java:38-49,
    BasicModelD.java:40-50, BasicModelG.java:34-41, BasicModelP.java:38-43)."""
    if basic_model in ("in", "ine", "if"):
        return tfn * F.lit(_basic_factor(basic_model, n_docs, df, cf))
    if basic_model == "be":
        Fc = F.lit(float(cf + 1)) + tfn
        Nc = Fc + F.lit(float(n_docs))

        def f(n: Column, m: Column) -> Column:
            return (m + F.lit(0.5)) * _log2c(n / m) + (n - m) * _log2c(n)

        return (
            -_log2c((Nc - F.lit(1.0)) * F.lit(math.e))
            + f(Nc + Fc - F.lit(1.0), Nc + Fc - tfn - F.lit(2.0))
            - f(Fc, Fc - tfn)
        )
    if basic_model == "d":
        Fc = F.lit(float(cf + 1)) + tfn
        phi = tfn / Fc
        nphi = F.lit(1.0) - phi
        p = 1.0 / (n_docs + 1)
        D = phi * _log2c(phi / F.lit(p)) + nphi * _log2c(nphi / F.lit(1.0 - p))
        return D * Fc + F.lit(0.5) * _log2c(
            F.lit(1.0) + F.lit(2.0 * math.pi) * tfn * nphi
        )
    if basic_model == "g":
        lam = (cf + 1.0) / (n_docs + (cf + 1.0))
        return F.lit(math.log(lam + 1) / _LN2) + tfn * F.lit(
            math.log((1 + lam) / lam) / _LN2
        )
    if basic_model == "p":
        lam = (cf + 1.0) / (n_docs + 1.0)
        return (
            tfn * _log2c(tfn / F.lit(lam))
            + (F.lit(lam) + F.lit(1.0) / (F.lit(12.0) * tfn) - tfn)
            * F.lit(1.0 / _LN2)
            + F.lit(0.5) * _log2c(F.lit(2.0 * math.pi) * tfn)
        )
    raise ValueError(f"unknown basic model: {basic_model!r}")


def dfr_topk(
    index: IndexTables,
    q: BooleanQuery,
    basic_model: str = "in",
    after_effect: str = "l",
    normalization: str = "h2",
    c: float | None = None,
    k: int = 10,
    round_dp: int = 4,
) -> DataFrame:
    """Top-k under DFRSimilarity(basicModel, afterEffect, normalization)."""
    if after_effect not in AFTER_EFFECTS:
        raise ValueError(f"unknown after effect: {after_effect!r}")
    if basic_model not in BASIC_MODELS:
        raise ValueError(f"unknown basic model: {basic_model!r}")
    terms, clauses = boolean_term_clauses(q, boosted=False)
    boosts = {t.term: t.boost for t in (*q.must, *q.should)}
    n_docs = index.max_doc
    field_tokens = index.sum_total_term_freq
    avg_fl = field_tokens / float(n_docs)
    stats = query_term_stats(index, terms)

    def score(t: str):
        df_t, cf_t = (stats[t].df, stats[t].cf) if t in stats else (0, 0)
        tfn = _tfn_col(F.col("tf"), F.col("dl_approx"),
                       normalization, c, avg_fl, cf_t, field_tokens)
        basic = _basic_col(basic_model, tfn, n_docs, df_t, cf_t)
        if after_effect == "l":
            ae = F.lit(1.0) / (tfn + F.lit(1.0))
        else:  # b
            ae = F.lit(float(cf_t + 2)) / (
                F.lit(float(df_t + 1)) * (tfn + F.lit(1.0))
            )
        return F.lit(boosts.get(t, 1.0)) * basic * ae

    per_doc = pivot_terms(
        index.postings.filter(F.col("term").isin(terms)), terms, score
    )
    return _topk(boolean_combine(
        [per_doc], clauses, q.minimum_should_match, must_not_docset(index, q),
        round_dp,
    ), k)


def ib_topk(
    index: IndexTables,
    q: BooleanQuery,
    distribution: str = "ll",
    lambda_: str = "df",
    normalization: str = "h2",
    c: float | None = None,
    k: int = 10,
    round_dp: int = 4,
) -> DataFrame:
    """Top-k under IBSimilarity(distribution, lambda, normalization)."""
    if distribution not in DISTRIBUTIONS:
        raise ValueError(f"unknown distribution: {distribution!r}")
    if lambda_ not in LAMBDAS:
        raise ValueError(f"unknown lambda: {lambda_!r}")
    terms, clauses = boolean_term_clauses(q, boosted=False)
    boosts = {t.term: t.boost for t in (*q.must, *q.should)}
    n_docs = index.max_doc
    field_tokens = index.sum_total_term_freq
    avg_fl = field_tokens / float(n_docs)
    stats = query_term_stats(index, terms)

    def score(t: str):
        df_t, cf_t = (stats[t].df, stats[t].cf) if t in stats else (0, 0)
        base = df_t if lambda_ == "df" else cf_t
        lam = (base + 1.0) / (n_docs + 1.0)
        if distribution == "spl" and lam == 1.0:
            lam = 0.99
        tfn = _tfn_col(F.col("tf"), F.col("dl_approx"),
                       normalization, c, avg_fl, cf_t, field_tokens)
        if distribution == "ll":
            s = -F.log(F.lit(lam) / (tfn + F.lit(lam)))
        else:  # spl
            s = -F.log(
                (F.pow(F.lit(lam), tfn / (tfn + F.lit(1.0))) - F.lit(lam))
                / F.lit(1.0 - lam)
            )
        return F.lit(boosts.get(t, 1.0)) * s

    per_doc = pivot_terms(
        index.postings.filter(F.col("term").isin(terms)), terms, score
    )
    return _topk(boolean_combine(
        [per_doc], clauses, q.minimum_should_match, must_not_docset(index, q),
        round_dp,
    ), k)
