"""CommonTermsQuery — df-classified low/high-frequency boolean composition.

Semantics are the reference's lucene/queries CommonTermsQuery (public Apache
Lucene 4.10.5 source, studied at /root/reference/lucene/queries/src/java/org/
apache/lucene/queries/CommonTermsQuery.java):

- Each query term is classified by its ACTUAL index document frequency
  (rewrite() :150-165 + buildQuery :185-235): high-frequency iff
  ``(maxTermFrequency >= 1 and df > maxTermFrequency) or
  df > ceil(float32(maxTermFrequency) * float32(maxDoc))``; absent terms
  (null TermContext) are low-frequency.
- Low-frequency terms form the REQUIRED clause (occur per ``low_freq_occur``,
  minimumNumberShouldMatch per ``low_freq_mm`` when SHOULD); high-frequency
  terms form an OPTIONAL outer-SHOULD clause that contributes score only when
  it matches (occur per ``high_freq_occur`` within it).
- If every term is high-frequency the query rewrites to a CONJUNCTION of the
  high terms (buildQuery :212-223) unless a high mm is set or
  high_freq_occur is MUST already.
- minimumNumberShouldMatch ratios (< 1.0) resolve as
  ``Math.round(ratio * numOptional)`` in float32 (:166-172).

Scoring here follows the engine's BM25 default (coord-free, so the
reference's coord caveat between the sub-booleans does not arise): the score
is the fixed-order float64 sum of matched low-frequency term scores plus the
high-frequency sum when the optional clause matches — BooleanQuery sum
semantics over ``term_scores``.

Scale shape: identical to bm25._boolean_topk — ONE term-pruned postings scan
over all query terms (PushedFilters In(term)), one pivot hash-aggregate on
docid, driver-side classification from a bounded term-stats collect (query
terms only), TakeOrderedAndProject top-k.  The whole point of the operator —
high-df terms never gate the match set — is preserved: the filter condition
only requires the low-frequency side, so Catalyst can short-circuit on the
small posting lists, and no extra shuffle is added.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lucene_solr_spark.index.builder import IndexTables
from lucene_solr_spark.search.bm25 import (
    _topk,
    pivot_terms,
    query_term_stats,
    term_scores,
)


def is_high_freq(df: int, max_term_frequency: float, max_doc: int) -> bool:
    """CommonTermsQuery.buildQuery's classification condition (java
    :190-195), float32 product like ``maxTermFrequency * (float) maxDoc``."""
    if df == 0:
        return False  # null TermContext -> low-frequency clause (java :188)
    if max_term_frequency >= 1.0 and df > max_term_frequency:
        return True
    cut = int(
        math.ceil(float(np.float32(max_term_frequency) * np.float32(max_doc)))
    )
    return df > cut


def min_nr_should_match(ratio: float, num_optional: int) -> int:
    """minNrShouldMatch (java :166-172): ints pass through, ratios resolve
    as Math.round(float32(ratio * numOptional))."""
    if ratio >= 1.0 or ratio == 0.0:
        return int(ratio)
    return int(math.floor(float(np.float32(ratio) * np.float32(num_optional)) + 0.5))


def common_terms_topk(
    index: IndexTables,
    terms: list[str],
    max_term_frequency: float,
    low_freq_occur: str = "should",
    high_freq_occur: str = "should",
    low_freq_mm: float = 0.0,
    high_freq_mm: float = 0.0,
    k: int = 10,
    round_dp: int = 4,
) -> DataFrame:
    """Top-k for a CommonTermsQuery over deduplicated ``terms``.

    (The reference keeps duplicate adds as duplicate clauses; this surface
    deduplicates like the engine's BooleanQuery path.)
    """
    if low_freq_occur not in ("must", "should") or high_freq_occur not in (
        "must",
        "should",
    ):
        raise ValueError("occur must be 'must' or 'should' (MUST_NOT rejected)")
    terms = list(dict.fromkeys(terms))
    if not terms:
        raise ValueError("CommonTermsQuery needs at least one term")

    n = index.max_doc
    dfs = {t: r.df for t, r in query_term_stats(index, terms).items()}
    high = [t for t in terms if is_high_freq(dfs.get(t, 0), max_term_frequency, n)]
    low = [t for t in terms if t not in high]

    per_doc = pivot_terms(term_scores(index, terms), terms)

    def fold(sub: list[str]):
        """Fixed-order float64 sum over a term subset (original term order)."""
        s = F.lit(0.0)
        for i, t in enumerate(terms):
            if t in sub:
                s = s + F.coalesce(F.col(f"_s{i}"), F.lit(0.0))
        return s

    def matched(sub: list[str]):
        return sum(
            F.col(f"_s{terms.index(t)}").isNotNull().cast("int") for t in sub
        )

    if not low:
        # all high: rewrite to a conjunction unless the RESOLVED mm is
        # non-zero / occur already MUST (buildQuery :212-223 checks
        # getMinimumNumberShouldMatch() after resolution)
        if high_freq_occur == "must":
            cond = matched(high) == len(high)
        else:
            mmv = min_nr_should_match(high_freq_mm, len(high))
            cond = matched(high) == len(high) if mmv == 0 else matched(high) >= mmv
        out = per_doc.withColumn("score", fold(high)).filter(cond)
    elif not high:
        if low_freq_occur == "must":
            cond = matched(low) == len(low)
        else:
            mm = max(min_nr_should_match(low_freq_mm, len(low)), 1)
            cond = matched(low) >= mm
        out = per_doc.withColumn("score", fold(low)).filter(cond)
    else:
        if low_freq_occur == "must":
            low_ok = matched(low) == len(low)
        else:
            mm = max(min_nr_should_match(low_freq_mm, len(low)), 1)
            low_ok = matched(low) >= mm
        if high_freq_occur == "must":
            high_ok = matched(high) == len(high)
        else:
            hmm = max(min_nr_should_match(high_freq_mm, len(high)), 1)
            high_ok = matched(high) >= hmm
        score = fold(low) + F.when(high_ok, fold(high)).otherwise(F.lit(0.0))
        out = per_doc.withColumn("score", score).filter(low_ok)

    return _topk(out.select("docid", F.round("score", round_dp).alias("score")), k)
