"""Spellcheck + suggester analogs over the live term dictionary.

DirectSpellChecker (reference:
``lucene/suggest/src/java/org/apache/lucene/search/spell/DirectSpellChecker.java:40-129``)
draws candidate corrections from the index's own term dictionary within
``maxEdits`` of the query term (LevenshteinAutomata intersect) and ranks them
by similarity then docFreq (``SuggestWordFrequencyComparator.java:28-40``).
Re-expressed Spark-first: the dictionary IS the ``term_stats()`` frame, the
automaton intersect becomes a length-window prefilter (|len(t) - len(q)| <=
maxEdits — the same bound the automaton enforces) plus a JVM-side
``levenshtein`` filter, and ranking is (distance asc, df desc, term asc).
No driver materialization: the whole lookup is one Catalyst plan over the
dictionary, and at 100 TB the dictionary is orders of magnitude smaller than
postings (distinct terms only), so a columnar scan with the length window
pushed down is the right shape — exactly why Lucene keeps the FST in RAM.

The suggester mirrors the weight-ordered prefix lookup of AnalyzingSuggester
(``lucene/suggest/src/java/org/apache/lucene/search/suggest/analyzing/
AnalyzingSuggester.java:77-96``: "the weight associated with an input ...
top N by weight"): prefix filter over the dictionary, ranked by collection
frequency as the weight, term-asc tie-break.  A ``LIKE 'p%'`` prefix
predicate pushes down to Parquet min/max stats on a term-sorted dictionary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lucene_solr_spark.index.builder import IndexTables
from lucene_solr_spark.search.bm25 import pivot_terms


def spellcheck(
    index: IndexTables,
    term: str,
    max_edits: int = 2,
    k: int = 5,
    min_df: int = 1,
    min_prefix: int = 0,
    min_query_length: int = 0,
    max_query_frequency: float | None = None,
    only_more_popular: bool = False,
) -> DataFrame:
    """Top-k corrections -> (suggestion, distance, df).

    Ordering: distance asc (closer first), df desc (popular first), then
    suggestion asc — DirectSpellChecker's comparator chain with the term
    itself excluded (``DirectSpellChecker.java:425-431`` skips the exact
    match unless the term is absent from the dictionary).

    The optional gates are DirectSpellChecker's remaining knobs (defaults
    here OFF for row stability; Solr's own defaults are minPrefix=1,
    minQueryLength=4, maxQueryFrequency=0.01):
    ``min_prefix`` requires candidates to share the first N chars
    (:minPrefix — Lucene never edits inside the prefix);
    ``min_query_length`` suppresses suggestions for short inputs
    (:minQueryLength); ``max_query_frequency`` suppresses them when the
    input itself is FREQUENT in the index (df > threshold docs, or
    > threshold*maxDoc for a ratio) — a common word needs no correction
    (:maxQueryFrequency).
    """
    q = term.lower()
    spark = index.docs.sparkSession
    empty = spark.createDataFrame(
        [], "suggestion string, distance int, df long"
    )
    if min_query_length and len(q) < min_query_length:
        return empty
    if max_query_frequency is not None:
        qdf = index.term_stats().filter(F.col("term") == q).count()
        cut = (
            max_query_frequency
            if max_query_frequency >= 1.0
            else max_query_frequency * index.max_doc
        )
        if qdf > cut:
            return empty
    cands = (
        index.term_stats()
        .filter(F.col("term") != q)
        .filter(F.abs(F.length("term") - F.lit(len(q))) <= max_edits)
        .filter(F.col("df") >= min_df)
    )
    if min_prefix > 0:
        cands = cands.filter(
            F.substring(F.col("term"), 1, min_prefix) == q[:min_prefix]
        )
    if only_more_popular:
        # spellcheck.onlyMorePopular (AbstractLuceneSpellChecker
        # SUGGEST_MORE_POPULAR): keep only corrections with a HIGHER df
        # than the input term itself
        qdf2 = (
            index.term_stats().filter(F.col("term") == q)
            .select("df").collect()
        )
        qdf_v = int(qdf2[0][0]) if qdf2 else 0
        cands = cands.filter(F.col("df") > qdf_v)
    return (
        cands
        .withColumn("distance", F.levenshtein(F.col("term"), F.lit(q)))
        .filter(F.col("distance") <= max_edits)
        .select(
            F.col("term").alias("suggestion"),
            F.col("distance").cast("int").alias("distance"),
            F.col("df").cast("long").alias("df"),
        )
        .orderBy(
            F.col("distance").asc(),
            F.col("df").desc(),
            F.col("suggestion").asc(),
        )
        .limit(k)
    )


def suggest_prefix(
    index: IndexTables, prefix: str, k: int = 10, exact_first: bool = False,
) -> DataFrame:
    """Top-k completions -> (suggestion, weight): dictionary terms starting
    with ``prefix``, ranked by collection frequency (the suggester weight),
    term-asc tie-break.

    ``exact_first=True`` is the WFSTCompletionLookup/FSTCompletion
    exactFirst contract (lucene/suggest/.../fst/WFSTCompletionLookup.java:
    66-78, FSTCompletion.java:109-122): an exact key match is pushed to the
    first position regardless of weight.  With exact weights and
    weight-desc order this IS the WFSTCompletionLookup semantics (min-cost
    FST path = max weight); the TSTLookup / JaspellLookup structures return
    the identical (weight desc, key) ordering over the same contract —
    alternate single-node data structures, covered by this scan."""
    out = (
        index.term_stats()
        .filter(F.col("term").startswith(prefix.lower()))
        .select(
            F.col("term").alias("suggestion"),
            F.col("cf").cast("long").alias("weight"),
        )
    )
    order = [F.col("weight").desc(), F.col("suggestion").asc()]
    if exact_first:
        order = [(F.col("suggestion") == prefix.lower()).desc()] + order
    return out.orderBy(*order).limit(k)


def fst_completion_lookup(
    index: IndexTables,
    prefix: str,
    k: int = 10,
    buckets: int = 10,
    exact_first: bool = True,
) -> DataFrame:
    """FSTCompletionLookup (lucene/suggest/.../fst/FSTCompletionLookup.java:
    72-235, FSTCompletion.java:40-312): weights are DISCRETIZED into
    rank-based buckets at build time — entries sorted weight-asc, bucket =
    floor(line * buckets / total) with equal weights sharing the bucket of
    the run's first line (FSTCompletionLookup.java:199-216) — and lookup
    returns matches bucket-DESC, alphabetical within a bucket (the FST
    traversal order), exact match first.

    The run-start line of weight w is exactly the count of entries with a
    strictly smaller weight, so the bucket derives from the WEIGHT
    HISTOGRAM's cumulative counts — a window over the bounded histogram,
    never a global |V|-row sort (the scale-safe equivalent of the
    OfflineSorter pass).  Returns (suggestion, bucket)."""
    stats = index.term_stats().select(
        F.col("term"), F.col("cf").cast("long").alias("weight")
    )
    total = stats.count()
    hist = stats.groupBy("weight").agg(F.count(F.lit(1)).alias("_cnt"))
    cume = Window.orderBy(F.asc("weight")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    wbucket = hist.select(
        "weight",
        (
            F.coalesce(F.sum("_cnt").over(cume), F.lit(0))
            * buckets / F.lit(total)
        ).cast("int").alias("bucket"),
    )
    bucketed = stats.join(F.broadcast(wbucket), "weight")
    out = bucketed.filter(F.col("term").startswith(prefix.lower())).select(
        F.col("term").alias("suggestion"), "bucket"
    )
    order = [F.col("bucket").desc(), F.col("suggestion").asc()]
    if exact_first:
        order = [(F.col("suggestion") == prefix.lower()).desc()] + order
    return out.orderBy(*order).limit(k)


def suggest_infix(
    index: IndexTables,
    fragment: str,
    k: int = 10,
    pre: str = "<b>",
    post: str = "</b>",
) -> DataFrame:
    """AnalyzingInfixSuggester analog (lucene/suggest/.../analyzing/
    AnalyzingInfixSuggester.java:77-104: matches anywhere in the suggestion
    surface, results returned with the matched fragment highlighted):
    dictionary terms CONTAINING the fragment, ranked by weight (cf) desc,
    term-asc tie-break, with every occurrence wrapped pre/post.  One
    Catalyst contains-filter over the dictionary — the infix index Lucene
    builds is unnecessary when the dictionary is a columnar scan."""
    q = fragment.lower()
    if not q:
        raise ValueError("suggest_infix needs a non-empty fragment")
    return (
        index.term_stats()
        .filter(F.col("term").contains(q))
        .select(
            F.col("term").alias("suggestion"),
            F.col("cf").cast("long").alias("weight"),
            F.replace(F.col("term"), F.lit(q), F.lit(pre + q + post)).alias(
                "highlighted"
            ),
        )
        .orderBy(F.col("weight").desc(), F.col("suggestion").asc())
        .limit(k)
    )


def suggest_fuzzy(
    index: IndexTables,
    typed: str,
    k: int = 10,
    max_edits: int = 1,
    non_fuzzy_prefix: int = 1,
    min_fuzzy_length: int = 3,
) -> DataFrame:
    """FuzzySuggester analog (lucene/suggest/.../analyzing/
    FuzzySuggester.java:47-96: completions whose ANALYZED FORM is within
    ``maxEdits`` of the typed input, with the FuzzySuggester defaults —
    DEFAULT_NON_FUZZY_PREFIX=1 chars must match exactly,
    DEFAULT_MIN_FUZZY_LENGTH=3 below which matching is exact).

    The Levenshtein-automaton x FST intersection becomes: dictionary terms
    whose length-(n±e) prefix is within ``max_edits`` of the typed string —
    the same acceptance set — ranked by weight (cf) desc.  The per-length
    ``levenshtein`` probes are a fixed (2e+1)-column JVM projection over
    the dictionary scan with the non-fuzzy-prefix predicate pushed down."""
    q = typed.lower()
    if len(q) < min_fuzzy_length:
        out = suggest_prefix(index, q, k)
        return out.select(
            "suggestion", F.lit(0).cast("int").alias("distance"), "weight"
        )
    n = len(q)
    t = F.col("term")
    probes = [
        F.when(
            F.length(t) >= L, F.levenshtein(F.substring(t, 1, L), F.lit(q))
        )
        for L in range(max(n - max_edits, 1), n + max_edits + 1)
    ]
    dist = F.least(*probes) if len(probes) > 1 else probes[0]
    return (
        index.term_stats()
        .filter(t.startswith(q[:non_fuzzy_prefix]))
        .withColumn("distance", dist)
        .filter(F.col("distance") <= max_edits)
        .select(
            F.col("term").alias("suggestion"),
            F.col("distance").cast("int").alias("distance"),
            F.col("cf").cast("long").alias("weight"),
        )
        .orderBy(F.col("weight").desc(), F.col("suggestion").asc())
        .limit(k)
    )


def collate(
    index: IndexTables,
    misspelled: str,
    context_terms: list[str],
    max_edits: int = 2,
    tries: int = 3,
    max_collations: int = 3,
) -> DataFrame:
    """SpellCheckCollator (solr/core/src/java/org/apache/solr/spelling/
    SpellCheckCollator.java:51-180): substitute top spellcheck suggestions
    for the misspelled term, RE-RUN the corrected query against the index,
    and keep only collations that return hits (:89-169: the try loop bounded
    by maxTries/maxCollations, ``collation.setHits``).  Returns
    (collation_query, hits) ordered hits desc, collation asc
    (the column is Solr's ``collationQuery``; COLLATION is a SQL keyword).

    The per-term generalization (several misspelled terms per query) is a
    loop over this; one misspelled term + context is the verified unit.

    Shape: candidate corrections are a bounded dictionary lookup (``tries``
    rows collected — the same boundary as Solr's in-RAM spellcheck
    dictionary); verification is ONE distributed pass — a presence pivot
    over postings filtered to candidates+context, with every candidate's hit
    count taken as conditional sums in a single aggregate (not one re-query
    per collation)."""
    cands = [
        r.suggestion
        for r in spellcheck(index, misspelled, max_edits=max_edits, k=tries).collect()
    ]
    spark = index.postings.sparkSession
    if not cands:
        return spark.createDataFrame([], "collation_query string, hits long")
    context = [t.lower() for t in context_terms]
    all_terms = list(dict.fromkeys(cands + context))
    pres = pivot_terms(
        index.postings.filter(F.col("term").isin(all_terms)), all_terms,
        lambda _t: F.lit(1), "_t",
    )
    ctx_ok = F.lit(True)
    for t in context:
        ctx_ok = ctx_ok & F.col(f"_t{all_terms.index(t)}").isNotNull()
    counts = pres.agg(
        *[
            F.sum(
                F.when(
                    F.col(f"_t{all_terms.index(c)}").isNotNull() & ctx_ok, 1
                ).otherwise(0)
            ).alias(f"_h{i}")
            for i, c in enumerate(cands)
        ]
    ).collect()[0]
    rows = [
        (" ".join([c, *context]), int(counts[f"_h{i}"]))
        for i, c in enumerate(cands)
        if counts[f"_h{i}"] > 0  # :165 — only collations that return hits
    ]
    rows.sort(key=lambda r: (-r[1], r[0]))
    return spark.createDataFrame(
        rows[:max_collations], "collation_query string, hits long"
    )


# ---------------------------------------------------------------------------
# FreeTextSuggester (round 3b) — ngram language-model suggestions.
# ---------------------------------------------------------------------------


FREETEXT_ALPHA = 0.4  # FreeTextSuggester.java:127-132


class FreeTextModel:
    """FreeTextSuggester (lucene/suggest/.../analyzing/FreeTextSuggester.java):
    token-ngram "stupid backoff" language model.  Build counts every 1..N
    token gram of the corpus (the FST's payload re-expressed as gram-count
    DataFrames); lookup predicts the next/partial last token from the last
    N-1 tokens, scoring count/contextCount at the highest order that saw the
    context and multiplying ALPHA per backoff level (:546-709); a suggestion
    surfaced by a higher order is skipped at lower orders (the ``seen`` set).

    Scale shape: the build is one tokenize pass + per-order explode/groupBy
    gram counts (map-side combinable); each gram table is partitioned by its
    leading context so a lookup prunes to one context's rows.  Lookups
    collect only the top ``num`` rows per order (bounded)."""

    def __init__(self, spark, grams: dict[int, DataFrame], tot_tokens: int, n: int):
        self.spark = spark
        self.grams = grams          # order -> (gram string, cnt) frame
        self.tot_tokens = tot_tokens
        self.n = n

    @classmethod
    def build(cls, spark, docs: DataFrame, text_col: str = "text", n: int = 2):
        from lucene_solr_spark.analysis.analyzer import StandardAnalyzer
        from lucene_solr_spark.analysis.filters import shingle_filter

        # LM wants the raw token stream: no stop-word holes
        an = StandardAnalyzer(stopwords=())
        toks = docs.select(an.tokens_col(F.col(text_col)).alias("toks"))
        grams: dict[int, DataFrame] = {}
        for order in range(1, n + 1):
            g = shingle_filter(F.col("toks"), n=order) if order > 1 else F.col("toks")
            grams[order] = (
                toks.select(F.explode(g).alias("gram"))
                .groupBy("gram")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .persist()
            )
        tot = grams[1].agg(F.sum("cnt")).collect()[0][0] or 0
        return cls(spark, grams, int(tot), n)

    def _count(self, gram: str) -> int:
        rows = self.grams[gram.count(" ") + 1].filter(
            F.col("gram") == gram
        ).collect()
        return int(rows[0].cnt) if rows else 0

    def lookup(self, key: str, num: int = 10) -> list[tuple[str, float]]:
        """-> [(suggestion text, score)] — suggestion is the matched gram
        (context + predicted token), score desc / text asc, top ``num``."""
        from lucene_solr_spark.analysis.analyzer import StandardAnalyzer

        an = StandardAnalyzer(stopwords=())
        tokens = an.analyze(key)
        if not tokens and key:
            return []
        # a trailing separator means the last token is COMPLETE and we
        # predict the next token from an empty prefix (:472-520 offset check)
        ends_complete = key != key.rstrip() or key == ""
        if ends_complete:
            context_all, prefix = tokens, ""
        else:
            context_all, prefix = tokens[:-1], tokens[-1]

        backoff = 1.0
        seen: set[str] = set()
        results: list[tuple[str, float]] = []
        for order_ctx in range(self.n - 1, -1, -1):
            if len(context_all) < order_ctx:
                continue  # not enough input for this model
            ctx = context_all[len(context_all) - order_ctx:]
            ctx_str = " ".join(ctx)
            table = self.grams[order_ctx + 1]
            cand = table
            if ctx:
                cand = cand.filter(F.col("gram").startswith(ctx_str + " "))
            if prefix:
                want = (ctx_str + " " + prefix) if ctx else prefix
                cand = cand.filter(F.col("gram").startswith(want))
            rows = (
                cand.orderBy(F.col("cnt").desc(), F.col("gram").asc())
                .limit(num + len(seen))
                .collect()
            )
            if not rows:
                backoff *= FREETEXT_ALPHA
                continue
            if ctx:
                context_count = self._count(ctx_str)
                if context_count == 0:
                    backoff *= FREETEXT_ALPHA
                    continue
            else:
                context_count = self.tot_tokens
            for r in rows:
                last = r.gram.rsplit(" ", 1)[-1]
                if last in seen:
                    continue
                seen.add(last)
                results.append((r.gram, backoff * int(r.cnt) / context_count))
            backoff *= FREETEXT_ALPHA  # :709 — each consumed level backs off
        results.sort(key=lambda x: (-x[1], x[0]))
        return results[:num]

    def unpersist(self) -> None:
        for df in self.grams.values():
            df.unpersist()


# ---------------------------------------------------------------------------
# WordBreakSpellChecker (round 3b) — break/combine suggestions.
# ---------------------------------------------------------------------------


def suggest_word_breaks(
    index: IndexTables,
    term: str,
    max_suggestions: int = 5,
    min_break_length: int = 1,
    min_freq: int = 1,
) -> DataFrame:
    """WordBreakSpellChecker.suggestWordBreaks (lucene/suggest/.../spell/
    WordBreakSpellChecker.java:95-170, maxChanges=1): split a mistyped
    compound into two dictionary words ('timeout' -> 'time out').

    All len-1 split candidates of one term are a tiny literal frame; ONE
    pass over the term dictionary filtered to the candidate halves (a
    query-bounded broadcast, never |V|) validates both halves
    (df >= minSuggestionFrequency); ranking is summed frequency desc
    (NUM_CHANGES_THEN_SUMMED_FREQUENCY with a single change level), then
    the split text asc."""
    spark = index.docs.sparkSession
    cands = [
        (term[:i], term[i:])
        for i in range(min_break_length, len(term) - min_break_length + 1)
    ]
    if not cands:
        return spark.createDataFrame([], "suggestion string, freq long")
    c = spark.createDataFrame(cands, "left string, right string")
    halves = [w for pair in cands for w in pair]
    stats = index.term_stats().filter(F.col("term").isin(halves)).select("term", "df")
    out = (
        c.join(F.broadcast(stats.withColumnRenamed("df", "df_l")),
               c.left == F.col("term")).drop("term")
        .join(F.broadcast(stats.withColumnRenamed("df", "df_r")),
              F.col("right") == F.col("term")).drop("term")
        .where((F.col("df_l") >= min_freq) & (F.col("df_r") >= min_freq))
        .select(
            F.concat_ws(" ", "left", "right").alias("suggestion"),
            (F.col("df_l") + F.col("df_r")).cast("long").alias("freq"),
        )
        .orderBy(F.col("freq").desc(), F.col("suggestion").asc())
        .limit(max_suggestions)
    )
    return out


def suggest_word_combinations(
    index: IndexTables,
    terms: list[str],
    max_suggestions: int = 5,
    max_combine_length: int = 20,
    min_freq: int = 1,
) -> DataFrame:
    """WordBreakSpellChecker.suggestWordCombinations (:172-240): adjacent
    query terms whose concatenation is a dictionary word ('time out' ->
    'timeout'), ranked by the combined word's frequency desc.  Only the
    candidate words are looked up, so the broadcast is query-bounded."""
    spark = index.docs.sparkSession
    cands = [
        (i, terms[i] + terms[i + 1])
        for i in range(len(terms) - 1)
        if len(terms[i] + terms[i + 1]) <= max_combine_length
    ]
    if not cands:
        return spark.createDataFrame([], "position int, suggestion string, freq long")
    c = spark.createDataFrame(cands, "position int, combined string")
    words = [w for _, w in cands]
    stats = index.term_stats().filter(F.col("term").isin(words)).select("term", "df")
    return (
        c.join(F.broadcast(stats), c.combined == F.col("term"))
        .where(F.col("df") >= min_freq)
        .select(
            "position",
            F.col("combined").alias("suggestion"),
            F.col("df").cast("long").alias("freq"),
        )
        .orderBy(F.col("freq").desc(), F.col("position").asc())
        .limit(max_suggestions)
    )


def suggest_blended_infix(
    suggestions: DataFrame,
    query: str,
    k: int = 10,
    blender: str = "linear",
    text_col: str = "text",
    weight_col: str = "weight",
) -> DataFrame:
    """BlendedInfixSuggester analog (lucene/suggest/.../analyzing/
    BlendedInfixSuggester.java:61-266): infix lookup over multi-token
    suggestion surfaces whose weight is BLENDED by the position of the
    first matching token — POSITION_LINEAR ``weight * (1 - 0.10*p)`` or
    POSITION_RECIPROCAL ``weight / (1 + p)`` (:85-88, 259-266), score
    truncated to long like ``(long)(weight * coefficient)`` (:179).

    Every query token must appear in the surface (the super.lookup
    allTermsRequired contract); a query NOT ending in whitespace treats its
    last token as a prefix (matched by startswith), mirroring the
    lookup-time prefixToken split.  One codegen projection over the
    suggestion frame — positions come from the whitespace token array, no
    term-vector fetch needed.
    """
    q = query.lower()
    toks = [t for t in q.split() if t]
    if not toks:
        raise ValueError("blended infix lookup needs at least one token")
    prefix_token = None
    exact = toks
    if not q.endswith((" ", "\t")):
        prefix_token, exact = toks[-1], toks[:-1]
    arr = F.split(F.lower(F.col(text_col)), r"\s+")
    conds, poss = [], []
    for t in exact:
        p = F.array_position(arr, t)  # 1-based; 0 when absent
        conds.append(p > 0)
        poss.append(F.when(p > 0, p))
    if prefix_token is not None:
        fp = F.array_min(
            F.filter(
                F.transform(
                    arr,
                    lambda x, i: F.when(x.startswith(prefix_token), i + 1),
                ),
                lambda v: v.isNotNull(),
            )
        )
        conds.append(fp.isNotNull())
        poss.append(fp)
    position0 = (F.least(*poss) if len(poss) > 1 else poss[0]) - F.lit(1)
    if blender == "linear":
        coef = F.lit(1.0) - F.lit(0.10) * position0.cast("double")
    elif blender == "reciprocal":
        coef = F.lit(1.0) / (F.lit(1.0) + position0.cast("double"))
    else:
        raise ValueError(f"unknown blender {blender!r}")
    cond = conds[0]
    for c in conds[1:]:
        cond = cond & c
    return (
        suggestions.where(cond)
        .select(
            F.col(text_col).alias("suggestion"),
            F.col(weight_col).cast("long").alias("weight"),
            (F.col(weight_col).cast("double") * coef).cast("long").alias("score"),
            position0.cast("int").alias("position"),
        )
        .orderBy(F.col("score").desc(), F.col("suggestion").asc())
        .limit(k)
    )
