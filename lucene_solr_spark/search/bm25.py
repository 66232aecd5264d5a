"""BM25 scoring over the index tables — the Catalyst-native query path.

Math is Lucene 4.10.5 BM25 (BM25Similarity.java, /root/reference):

    idf(df)  = ln(1 + (N - df + 0.5) / (df + 0.5))              (:65-66)
    avgdl    = float32(sumTotalTermFreq / maxDoc)               (:82-87)
    norm     = k1 * ((1-b) + b * decoded_len / avgdl)           (:206-209)
    score    = idf * (k1+1) * tf / (tf + norm)                  (:228-238)
    k1=1.2, b=0.75; multi-term score = Σ per-term scores; ties break by
    ascending docid (HitQueue.java:76-81).

Determinism across engines: the per-(term,doc) score is ONE textual arithmetic
expression (SCORE_TEMPLATE) evaluated in float64 by both Spark and the DuckDB
oracle; per-term contributions are combined with FIXED-ORDER addition (not a
float sum aggregate), and ordering uses the score rounded to ``round_dp``
decimals so sub-ulp library differences (ln) cannot flip ranks.

Rank-identity to Lucene's float32 pipeline is validated separately by the
pure-Python float32 oracle in tests (FIXTURES.md §3); this module's float64
path is the exactly-reproducible analytical surface.

Scale shape: postings are filtered to the query's terms (a handful of rows per
term after predicate pushdown on the ``term`` column), term stats are
broadcast, and the top-k is Spark's TakeOrderedAndProject — per-partition
bounded heap + driver merge, the same algorithm as TopScoreDocCollector.
"""

from __future__ import annotations

from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lucene_solr_spark.index.builder import IndexTables
from lucene_solr_spark.search.query import (
    BooleanQuery,
    FuzzyQuery,
    MatchAllQuery,
    PhraseQuery,
    PrefixQuery,
    RangeQuery,
    RegexpQuery,
    ReversedWildcardQuery,
    TermQuery,
    WildcardQuery,
)

def score_formula(
    tf: str = "tf", df: str = "df", dl: str = "dl_approx",
    n: str = "{N}", avgdl: str = "{avgdl}",
) -> str:
    """The per-(term,doc) BM25 score as ONE textual arithmetic expression.

    Rendered with column refs for the DuckDB oracle and with literals for the
    Spark plan — the identical text guarantees identical float64 operation
    order in both engines."""
    return (
        f"ln(1.0 + ({n} - {df} + 0.5) / ({df} + 0.5))"
        f" * 2.2 * {tf} / ({tf} + 1.2 * (0.25 + 0.75 * {dl} / {avgdl}))"
    )


# One template, two engines. {N} = max_doc, {avgdl} = float32-exact literal.
# Columns required in scope: df (int), tf (int/double), dl_approx (double).
SCORE_TEMPLATE = score_formula()


def score_expr_sql(max_doc: int, avgdl: float) -> str:
    return SCORE_TEMPLATE.format(N=max_doc, avgdl=repr(float(avgdl)))


def term_scores(index: IndexTables, terms: list[str]) -> DataFrame:
    """(docid, term, score) for every posting of the given terms."""
    p = index.postings.filter(F.col("term").isin(terms))
    stats = F.broadcast(index.term_stats().filter(F.col("term").isin(terms)))
    scored = p.join(stats, "term").withColumn(
        "score", F.expr(score_expr_sql(index.max_doc, index.avgdl))
    )
    return scored.select("docid", "term", "score")


def query_term_stats(index: IndexTables, terms) -> dict:
    """{term: Row(term, df, cf)} for the query's terms that are in the
    dictionary — the bounded driver-side stats lookup (query terms only,
    never |V|) every driver-side scorer reads its per-term scalars from."""
    return {
        r.term: r
        for r in index.term_stats().filter(F.col("term").isin(list(terms))).collect()
    }


def pivot_terms(
    scored: DataFrame,
    terms: list[str],
    value_for=lambda _t: F.col("score"),
    prefix: str = "_s",
) -> DataFrame:
    """The docid pivot: ONE hash aggregate turning per-posting rows
    ``(docid, term, ...)`` into one row per doc with a ``{prefix}{i}`` column
    per term — ``value_for(terms[i])`` evaluated over that term's posting
    (default: its ``score``), NULL when the doc lacks the term.  A (term,
    docid) pair has one posting, so ``max`` returns the posting's value
    unchanged."""
    return scored.groupBy("docid").agg(*[
        F.max(F.when(F.col("term") == t, value_for(t))).alias(f"{prefix}{i}")
        for i, t in enumerate(terms)
    ])


def boolean_combine(
    frames: list[DataFrame],
    clauses: list[tuple[str, bool, float]],
    mm: int,
    excluded: list[DataFrame],
    round_dp: int,
    coord_max: int | None = None,
) -> DataFrame:
    """BooleanWeight over per-doc clause columns -> unordered (docid, score).

    ``frames`` are (docid, clause columns...) frames, full-outer-joined on
    docid; ``clauses`` are ``(column, required, boost)`` in query order.  A
    column named by several clauses contributes once — in first-occurrence
    order, with the last clause's boost — and is required if any of its
    clauses is.  Score is the fixed-order float64 fold
    ``0.0 + coalesce(c, 0.0)[* boost] + ...`` (never a SUM aggregate),
    times coord ``overlap * 1.0 / coord_max`` (DefaultSimilarity.java:61-62)
    when ``coord_max`` > 1.  Every non-required clause counts toward ``mm``;
    docs in any ``excluded`` docid frame are anti-joined (MUST_NOT); the
    score is rounded to ``round_dp`` before any ordering."""
    per_doc = reduce(lambda a, b: a.join(b, "docid", "full"), frames)
    boosts: dict[str, float] = {}
    for c, _req, boost in clauses:
        boosts[c] = boost
    score = F.lit(0.0)
    for c, boost in boosts.items():
        contrib = F.coalesce(F.col(c), F.lit(0.0))
        if boost != 1.0:
            contrib = contrib * F.lit(boost)
        score = score + contrib
    if coord_max is not None and coord_max > 1:
        overlap = F.lit(0)
        for c in boosts:
            overlap = overlap + F.col(c).isNotNull().cast("int")
        score = score * (overlap * F.lit(1.0) / F.lit(coord_max))
    out = per_doc.withColumn("score", score)

    for c in dict.fromkeys(c for c, req, _b in clauses if req):
        out = out.filter(F.col(c).isNotNull())
    # a pure-SHOULD query also needs >= 1 optional match (BooleanWeight);
    # every row of the outer-joined clause frames already has one, so only
    # mm > 0 adds a filter
    should = [c for c, req, _b in clauses if not req]
    if should and mm > 0:
        matched = sum(F.col(c).isNotNull().cast("int") for c in should)
        out = out.filter(matched >= mm)
    for excl in excluded:
        out = out.join(excl, "docid", "left_anti")
    return out.select("docid", F.round("score", round_dp).alias("score"))


def boolean_term_clauses(
    q: BooleanQuery, boosted: bool = True
) -> tuple[list[str], list[tuple[str, bool, float]]]:
    """(distinct scoring terms in first-occurrence order, clauses) for a
    boolean of term clauses: one ``(_s{i}, required, boost)`` clause per
    MUST/SHOULD clause, pointing at term i's pivot column.  ``boosted=False``
    gives every clause boost 1.0, for scorers whose per-posting score
    already carries the clause boost."""
    terms = list(dict.fromkeys(t.term for t in (*q.must, *q.should)))
    if not terms:
        raise ValueError("BooleanQuery needs at least one scoring clause")
    col = {t: f"_s{i}" for i, t in enumerate(terms)}
    clauses = [
        (col[t.term], i < len(q.must), t.boost if boosted else 1.0)
        for i, t in enumerate((*q.must, *q.should))
    ]
    return terms, clauses


def must_not_docset(index: IndexTables, q: BooleanQuery) -> list[DataFrame]:
    """The MUST_NOT docid frame of a boolean of term clauses (none if no
    MUST_NOT clause)."""
    if not q.must_not:
        return []
    return [_term_docids(index, [t.term for t in q.must_not])]


def _topk(out: DataFrame, k: int) -> DataFrame:
    """Top-k by score desc, docid asc (HitQueue.java:76-81) —
    TakeOrderedAndProject."""
    return out.orderBy(F.col("score").desc(), F.col("docid").asc()).limit(k)


# BooleanQuery.maxClauseCount (BooleanQuery.java:48-56): the cap on how many
# expanded terms a scoring multi-term rewrite may collect to the driver.
MAX_CLAUSE_COUNT = 1024


class TooManyClauses(ValueError):
    """BooleanQuery.TooManyClauses analog: a scoring multi-term rewrite
    expanded past MAX_CLAUSE_COUNT dictionary terms."""


def _wildcard_like(pattern: str) -> str:
    """Lucene wildcard -> SQL LIKE ( * -> %, ? -> _ )."""
    like = pattern.replace("%", r"\%").replace("_", r"\_")
    return like.replace("*", "%").replace("?", "_")


def _matched_terms_df(index: IndexTables, q) -> DataFrame:
    """MultiTermQuery rewrite as a DataFrame: the dictionary terms matching a
    prefix/wildcard/regexp/fuzzy/range query (MultiTermQuery.java's TermsEnum
    walk, re-expressed as a filter over the term dictionary).  Stays
    distributed — callers semi-join postings against it; only the bounded
    scoring_boolean path materializes it (capped at MAX_CLAUSE_COUNT)."""
    t = index.segments.select("term")
    if isinstance(q, PrefixQuery):
        return t.filter(F.col("term").startswith(q.prefix))
    if isinstance(q, WildcardQuery):
        # Lucene wildcard -> SQL LIKE ( * -> %, ? -> _ )
        return t.filter(F.col("term").like(_wildcard_like(q.pattern)))
    if isinstance(q, ReversedWildcardQuery):
        # ReversedWildcardFilterFactory query processing: when shouldReverse
        # fires, match the char-reversed pattern (marker first, like the
        # indexed form marker+reverse(term)) so the leading wildcard becomes
        # a literal prefix — LIKE 'lit%...' is a StartsWith under Catalyst,
        # a dictionary-range probe instead of a full |V| scan.  The reversed
        # dictionary is a vocabulary-level projection here; at corpus scale
        # it persists as a second sorted term-dictionary column (the
        # withOriginal=true analog, paid in |V| not in postings).
        from lucene_solr_spark.analysis.filters import (
            REVERSE_MARKER, should_reverse,
        )

        if should_reverse(
            q.pattern, q.max_pos_asterisk, q.max_pos_question,
            q.min_trailing, q.max_fraction_asterisk,
        ):
            rev_pat = REVERSE_MARKER + q.pattern[::-1]
            rev = t.select(
                "term",
                F.concat(F.lit(REVERSE_MARKER), F.reverse("term")).alias("rterm"),
            )
            return rev.filter(F.col("rterm").like(_wildcard_like(rev_pat))).select(
                "term"
            )
        return t.filter(F.col("term").like(_wildcard_like(q.pattern)))
    if isinstance(q, RegexpQuery):
        # Lucene RegexpQuery is a FULL match over the term (AutomatonQuery
        # semantics) — anchor the pattern; rlike alone is substring search
        return t.filter(F.col("term").rlike(f"^(?:{q.pattern})$"))
    if isinstance(q, FuzzyQuery):
        return t.filter(F.levenshtein(F.col("term"), F.lit(q.term)) <= q.max_edits)
    if isinstance(q, RangeQuery):
        c = F.col("term")
        cond = F.lit(True)
        if q.lower is not None:
            cond = cond & (c >= q.lower if q.include_lower else c > q.lower)
        if q.upper is not None:
            cond = cond & (c <= q.upper if q.include_upper else c < q.upper)
        return t.filter(cond)
    raise TypeError(type(q))


def _term_docids(index: IndexTables, terms: list[str]) -> DataFrame:
    """The docid of every posting of ANY of the terms, repeated per matching
    term: enough for the right side of a left-anti join, which needs no
    distinct keys (and so no shuffle)."""
    return index.postings.filter(F.col("term").isin(list(terms))).select("docid")


def any_term_docset(index: IndexTables, terms: list[str]) -> DataFrame:
    """The DocSet primitive: distinct docids containing ANY of the terms
    (SolrIndexSearcher.getDocSet over a term disjunction)."""
    return _term_docids(index, terms).distinct()


def _matched_docset(index: IndexTables, q) -> DataFrame:
    """Distinct docids matching a multi-term query — postings semi-joined
    against the matched dictionary terms.  No driver materialization: the
    expanded term set never leaves the cluster (constant-score rewrite,
    MultiTermQueryConstantScoreWrapper semantics)."""
    return (
        index.postings.join(
            F.broadcast(_matched_terms_df(index, q)), "term", "left_semi"
        )
        .select("docid")
        .distinct()
    )


def _expand_terms(
    index: IndexTables, q, max_clauses: int = MAX_CLAUSE_COUNT
) -> list[str]:
    """Bounded driver-side expansion for the SCORING rewrite
    (SCORING_BOOLEAN_QUERY_REWRITE needs one fixed-order score column per
    term).  Raises TooManyClauses past ``max_clauses``, like
    BooleanQuery.maxClauseCount — wide wildcards belong on the
    constant-score path, which never materializes terms."""
    rows = _matched_terms_df(index, q).limit(max_clauses + 1).collect()
    if len(rows) > max_clauses:
        raise TooManyClauses(
            f"{type(q).__name__} expanded past maxClauseCount={max_clauses}"
        )
    return sorted(r.term for r in rows)


def _boolean_topk(
    index: IndexTables, q: BooleanQuery, k: int, round_dp: int
) -> DataFrame:
    terms, clauses = boolean_term_clauses(q)
    per_doc = pivot_terms(term_scores(index, terms), terms)
    return boolean_combine(
        [per_doc], clauses, q.minimum_should_match,
        must_not_docset(index, q), round_dp,
    )


def _phrase_topk(index: IndexTables, q: PhraseQuery, round_dp: int) -> DataFrame:
    """Exact phrase (slop=0): positions of consecutive terms align
    (ExactPhraseScorer.java). tf = number of alignments; idf = Σ idf of the
    constituent terms (BM25Similarity idfExplain over TermStatistics[])."""
    if index.positions is None:
        raise ValueError("index built without positions")
    pos = index.positions
    t0 = q.terms[0]
    m = pos.filter(F.col("term") == t0).select(
        "docid", "dl_approx", F.col("pos").alias("p0")
    )
    for i, t in enumerate(q.terms[1:], start=1):
        pi = pos.filter(F.col("term") == t).select(
            F.col("docid").alias("_d"), (F.col("pos") - i).alias("p0_i")
        )
        m = m.join(
            pi,
            (m["docid"] == pi["_d"]) & (F.col("p0") == F.col("p0_i")),
        ).drop("_d", "p0_i")
    hits = m.groupBy("docid", "dl_approx").agg(F.count(F.lit(1)).alias("tf"))
    return _idf_sum_bm25_topk(index, hits, list(q.terms), round_dp)


def _idf_sum_bm25_topk(
    index: IndexTables,
    hits: DataFrame,
    terms: list[str],
    round_dp: int,
) -> DataFrame:
    """Shared phrase/span scoring tail: BM25 over a (docid, dl_approx, tf)
    hits frame with ONE similarity whose idf sums over the constituent
    ``terms`` (BM25Similarity idfExplain over TermStatistics[]; SpanWeight
    builds the same single-similarity over extractTerms).  The score
    expression text is determinism-critical — every phrase/span scorer and
    their SQL oracles must evaluate the identical float64 operation order."""
    import math

    dfs = {t: r.df for t, r in query_term_stats(index, terms).items()}
    n = index.max_doc
    idf_sum = sum(
        math.log(1.0 + (n - dfs.get(t, 0) + 0.5) / (dfs.get(t, 0) + 0.5))
        for t in terms
    )
    score = (
        F.lit(idf_sum) * 2.2 * F.col("tf")
        / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl_approx") / F.lit(index.avgdl)))
    )
    return hits.select("docid", F.round(score, round_dp).alias("score"))


def _sloppy_phrase_topk(index: IndexTables, q: PhraseQuery, round_dp: int) -> DataFrame:
    """Sloppy phrase (slop>0) — anchor-based analytic reformulation of
    SloppyPhraseScorer.java's greedy priority-queue loop.

    For each occurrence ``p`` of the first term, the per-term deviation is
    dev_i = min over positions q_i of term i of |(q_i - i) - p| (positions
    adjusted by phrase offset, PhrasePositions.java:34-38).  The anchor
    matches when every dev_i <= slop; its matchLength is max_i dev_i and it
    contributes sloppyFreq = 1/(1+matchLength) to the phrase tf
    (SloppyPhraseScorer.java:49-56 slop factor).  For two-term phrases
    without repeats — the dominant web-query shape — matchLength equals
    Lucene's window spread exactly; for longer phrases deviation is measured
    from the anchor rather than the joint window (documented divergence).

    Engine-determinism: the float tf is assembled from INTEGER
    per-matchLength counts combined in fixed order m=0..slop, so both engines
    add the identical float64 sequence regardless of row order.
    """
    if index.positions is None:
        raise ValueError("index built without positions")
    if len(q.terms) < 2:
        raise ValueError("phrase needs >= 2 terms")
    slop = int(q.slop)
    pos = index.positions
    t0 = q.terms[0]
    m = pos.filter(F.col("term") == t0).select(
        "docid", "dl_approx", F.col("pos").alias("p")
    )
    dev_cols: list[str] = []
    for i, t in enumerate(q.terms[1:], start=1):
        pi = pos.filter(F.col("term") == t).select(
            F.col("docid").alias("_d"), (F.col("pos") - i).alias("_adj")
        )
        dev = F.abs(F.col("_adj") - F.col("p"))
        joined = m.join(pi, (m["docid"] == pi["_d"]) & (dev <= slop))
        group_cols = ["docid", "dl_approx", "p", *dev_cols]
        m = joined.groupBy(*group_cols).agg(F.min(dev).alias(f"_dev{i}"))
        dev_cols.append(f"_dev{i}")
    ml = (
        F.greatest(*[F.col(c) for c in dev_cols])
        if len(dev_cols) > 1
        else F.col(dev_cols[0])
    )
    anchors = m.withColumn("_ml", ml)
    counts = anchors.groupBy("docid", "dl_approx").agg(
        *[
            F.sum((F.col("_ml") == mv).cast("long")).alias(f"_c{mv}")
            for mv in range(slop + 1)
        ]
    )
    tf = F.lit(0.0)
    for mv in range(slop + 1):  # fixed-order float64 assembly
        tf = tf + F.col(f"_c{mv}") * F.lit(1.0 / (1 + mv))
    hits = counts.withColumn("tf", tf).filter(F.col("tf") > 0)
    return _idf_sum_bm25_topk(index, hits, list(q.terms), round_dp)


def lucene_sloppy_freq(pos_lists: list, slop: int) -> float:
    """Exact SloppyPhraseScorer.phraseFreq (lucene/core/.../search/
    SloppyPhraseScorer.java:39-84 + initSimple:146-162), no-repeats case:
    a priority queue of per-term adjusted-position streams; repeatedly advance
    the minimum stream, shrinking the window; every time the popped stream
    overtakes the next-smallest, the minimized matchLength (end - start) is
    scored with sloppyFreq = 1/(1+matchLength) if within slop.

    ``pos_lists`` — one ASCENDING list of offset-adjusted positions per term
    (position - phrase offset, PhrasePositions.java:34-38), all non-empty.
    """
    import heapq

    k = len(pos_lists)
    if k < 2:
        raise ValueError("needs >= 2 position streams")
    nxt = [1] * k
    heap = [(int(pl[0]), i) for i, pl in enumerate(pos_lists)]
    heapq.heapify(heap)
    end = max(p for p, _ in heap)
    freq = 0.0
    pp_pos, pp_i = heapq.heappop(heap)
    match_length = end - pp_pos
    next_pos = heap[0][0]
    while nxt[pp_i] < len(pos_lists[pp_i]):  # advancePP(pp)
        pp_pos = int(pos_lists[pp_i][nxt[pp_i]])
        nxt[pp_i] += 1
        if pp_pos > end:
            end = pp_pos
        if pp_pos > next_pos:  # done minimizing the current match
            if match_length <= slop:
                freq += 1.0 / (1 + match_length)
            heapq.heappush(heap, (pp_pos, pp_i))
            pp_pos, pp_i = heapq.heappop(heap)
            next_pos = heap[0][0]
            match_length = end - pp_pos
        else:
            match_length = min(match_length, end - pp_pos)
    if match_length <= slop:
        freq += 1.0 / (1 + match_length)
    return freq


def lucene_sloppy_freq_rpts(
    slot_streams: list, groups: list[int], slop: int
) -> float:
    """SloppyPhraseScorer.phraseFreq WITH the repeats machinery, non-multi-
    term case (SloppyPhraseScorer.java:102-133 main loop; initComplex
    :253-261 = placeFirstPositions + advanceRepeatGroups + fillQueue;
    advanceRepeatGroups non-MTP branch :310-320 — the j-th member of each
    repeat group advances j extra positions so start state has no
    collisions; advanceRpts :150-186 — after advancing a repeater, while it
    collides (same RAW token position, collide() :199-209) with a group
    member, advance the LESSER of the two (lesser() :188-196: by adjusted
    position, then query offset); the rptStack re-queue dance :168-185 is a
    heap rebuild here).

    ``slot_streams`` — one ASCENDING adjusted stream per phrase SLOT
    (raw position - slot offset); ``groups`` — repeat-group id per slot
    (-1 for non-repeating; slots of the same term share an id), group
    members listed in slot (query-offset) order."""
    import heapq

    k = len(slot_streams)
    idx = [0] * k
    pos = [int(s[0]) for s in slot_streams]

    def advance(i: int) -> bool:
        idx[i] += 1
        if idx[i] >= len(slot_streams[i]):
            return False
        pos[i] = int(slot_streams[i][idx[i]])
        return True

    rg: dict[int, list[int]] = {}
    for i, g in enumerate(groups):
        if g >= 0:
            rg.setdefault(g, []).append(i)
    # advanceRepeatGroups (non-MTP): member j advances j extra times
    for members in rg.values():
        for j in range(1, len(members)):
            for _ in range(j):
                if not advance(members[j]):
                    return 0.0
    return _rpts_main_loop(slot_streams, groups, rg, idx, pos, slop)


def _rpts_main_loop(
    slot_streams: list,
    groups: list[int],
    rg: dict[int, list[int]],
    idx: list[int],
    pos: list[int],
    slop: int,
) -> float:
    """The shared phraseFreq main loop with the advanceRpts collision dance
    (SloppyPhraseScorer.java:100-186) — identical for the non-MTP and MTP
    cases; only group construction and the init advance differ."""
    import heapq

    k = len(slot_streams)

    def advance(i: int) -> bool:
        idx[i] += 1
        if idx[i] >= len(slot_streams[i]):
            return False
        pos[i] = int(slot_streams[i][idx[i]])
        return True

    end = max(pos)
    heap = [(pos[i], i) for i in range(k)]
    heapq.heapify(heap)

    def collide(i: int) -> int:
        for j in rg[groups[i]]:
            if j != i and pos[j] + j == pos[i] + i:
                return j
        return -1

    freq = 0.0
    _, pp = heapq.heappop(heap)
    match_length = end - pos[pp]
    next_pos = heap[0][0]
    while True:
        if not advance(pp):  # advancePP
            break
        if pos[pp] > end:
            end = pos[pp]
        exhausted = False
        if groups[pp] >= 0:  # advanceRpts
            cur = pp
            moved_queue_member = False
            while True:
                j = collide(cur)
                if j < 0:
                    break
                tgt = cur if (pos[cur], cur) < (pos[j], j) else j
                if not advance(tgt):
                    exhausted = True
                    break
                if pos[tgt] > end:
                    end = pos[tgt]
                if tgt != pp:
                    moved_queue_member = True
                cur = tgt  # Java: pp = lesser(pp, rg[k]); next collide on it
            if exhausted:
                break
            if moved_queue_member:
                # re-queue (:168-185): queue order is fully (position,
                # offset)-determined, so a rebuild is the same end state
                heap = [(pos[i], i) for i in range(k) if i != pp]
                heapq.heapify(heap)
        if pos[pp] > next_pos:  # done minimizing the current match
            if match_length <= slop:
                freq += 1.0 / (1 + match_length)
            heapq.heappush(heap, (pos[pp], pp))
            _, pp = heapq.heappop(heap)
            next_pos = heap[0][0]
            match_length = end - pos[pp]
        else:
            match_length = min(match_length, end - pos[pp])
    if match_length <= slop:
        freq += 1.0 / (1 + match_length)
    return freq


def multiphrase_repeat_groups(slot_terms: list[list[str]]) -> tuple[list[int], bool]:
    """gatherRptGroups for multi-term slots (SloppyPhraseScorer.java:383-435):
    repeating terms are those appearing in >= 2 slots; slots that share any
    repeating term union into one group via connected components on the
    bipartite slot/term graph (unionTermGroups/termGroups :440-480).  Returns
    (group id per slot, hasMultiTermRpts)."""
    from collections import Counter

    cnt = Counter(t for terms in slot_terms for t in set(terms))
    rpt_terms = {t for t, c in cnt.items() if c >= 2}
    groups = [-1] * len(slot_terms)
    if not rpt_terms:
        return groups, False
    has_mtp = any(
        len(terms) > 1 and any(t in rpt_terms for t in terms)
        for terms in slot_terms
    )
    # connected components: union slots through shared repeating terms
    parent = list(range(len(slot_terms)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    by_term: dict[str, list[int]] = {}
    for i, terms in enumerate(slot_terms):
        for t in terms:
            if t in rpt_terms:
                by_term.setdefault(t, []).append(i)
    for members in by_term.values():
        for j in members[1:]:
            parent[find(j)] = find(members[0])
    roots: dict[int, int] = {}
    for i, terms in enumerate(slot_terms):
        if any(t in rpt_terms for t in terms):
            r = find(i)
            groups[i] = roots.setdefault(r, len(roots))
    return groups, has_mtp


def lucene_sloppy_freq_mtp(
    slot_streams: list, groups: list[int], slop: int
) -> float:
    """SloppyPhraseScorer.phraseFreq with hasMultiTermRpts — the formerly
    out-of-scope case (SloppyPhraseScorer.java:291-307 advanceRepeatGroups
    MTP branch).  ``slot_streams`` are the per-slot UNION streams (merged
    adjusted positions of all the slot's terms, ascending); groups from
    multiphrase_repeat_groups.  Init cannot pre-compute advance counts (some
    members may not collide), so it iterates: for each group member in offset
    order, while it collides with a member, advance the lesser of the two;
    a collision resolving backwards (rptInd < i) restarts that member."""
    k = len(slot_streams)
    idx = [0] * k
    pos = [int(s[0]) for s in slot_streams]

    def advance(i: int) -> bool:
        idx[i] += 1
        if idx[i] >= len(slot_streams[i]):
            return False
        pos[i] = int(slot_streams[i][idx[i]])
        return True

    rg: dict[int, list[int]] = {}
    for i, g in enumerate(groups):
        if g >= 0:
            rg.setdefault(g, []).append(i)

    def collide(i: int) -> int:
        for j in rg[groups[i]]:
            if j != i and pos[j] + j == pos[i] + i:
                return j
        return -1

    # advanceRepeatGroups, MTP branch (:291-307)
    for members in rg.values():
        i = 0
        while i < len(members):
            incr = 1
            m = members[i]
            while True:
                j = collide(m)
                if j < 0:
                    break
                tgt = m if (pos[m], m) < (pos[j], j) else j
                if not advance(tgt):
                    return 0.0
                # rptInd of tgt within this group
                if members.index(tgt) < i:
                    incr = 0
                    break
            i += incr
    return _rpts_main_loop(slot_streams, groups, rg, idx, pos, slop)


def sloppy_phrase_lucene_topk(
    index: IndexTables, q: PhraseQuery, round_dp: int = 4
) -> DataFrame:
    """Sloppy phrase with EXACT SloppyPhraseScorer.phraseFreq semantics —
    the no-repeats fast loop (initSimple) for distinct-term phrases, the
    repeats machinery (lucene_sloppy_freq_rpts) when the phrase repeats a
    term.

    Shape: candidate docs are those containing ALL terms (semi-join chain on
    the positions table — same pushdown as the exact-phrase path); their
    per-term adjusted position arrays (bounded by doc length) feed an
    Arrow-batched pandas UDF running the greedy pq loop per doc.  This is a
    justified Python kernel: the loop's stateful window minimization has no
    Catalyst equivalent, and it touches only candidate docs."""
    from pyspark.sql.functions import pandas_udf

    if index.positions is None:
        raise ValueError("index built without positions")
    terms = list(q.terms)
    if len(terms) < 2:
        raise ValueError("phrase needs >= 2 terms")
    slop = int(q.slop)

    if len(set(terms)) == len(terms):
        pos = index.positions.filter(F.col("term").isin(terms))
        offset = F.create_map(
            *[x for i, t in enumerate(terms) for x in (F.lit(t), F.lit(i))]
        )
        adj = pos.withColumn("_adj", F.col("pos") - offset[F.col("term")])
        # ONE shuffle: conditional collect_list per term (nulls are skipped),
        # so the per-doc pivot needs no second aggregation
        piv = adj.groupBy("docid", "dl_approx").agg(
            *[
                F.sort_array(
                    F.collect_list(F.when(F.col("term") == t, F.col("_adj")))
                ).alias(f"_t{i}")
                for i, t in enumerate(terms)
            ]
        )
        for i in range(len(terms)):
            piv = piv.filter(F.size(f"_t{i}") > 0)

        @pandas_udf("double")
        def _freq(streams: pd.Series) -> pd.Series:
            return streams.map(lambda pls: lucene_sloppy_freq(list(pls), slop))

        arrs = F.array(*[F.col(f"_t{i}") for i in range(len(terms))])
        hits = piv.withColumn("tf", _freq(arrs)).filter(F.col("tf") > 0)
        return _idf_sum_bm25_topk(index, hits, terms, round_dp)

    # repeats: pivot RAW positions per DISTINCT term; each SLOT derives its
    # adjusted stream in the kernel (slot i of term t = raw[t] - i).  Repeat
    # groups = slots sharing a term (non-MTP gatherRptGroups :383-407 — equal
    # terms always collide at their first raw position).
    dterms = list(dict.fromkeys(terms))
    counts = {t: terms.count(t) for t in dterms}
    slot_dterm = [dterms.index(t) for t in terms]
    slot_groups = [
        dterms.index(t) if counts[t] > 1 else -1 for t in terms
    ]
    pos = index.positions.filter(F.col("term").isin(dterms))
    piv = pos.groupBy("docid", "dl_approx").agg(
        *[
            F.sort_array(
                F.collect_list(F.when(F.col("term") == t, F.col("pos")))
            ).alias(f"_t{j}")
            for j, t in enumerate(dterms)
        ]
    )
    for j, t in enumerate(dterms):
        # a term repeated r times needs >= r occurrences in the doc
        piv = piv.filter(F.size(f"_t{j}") >= counts[t])

    @pandas_udf("double")
    def _freq_rpts(streams: pd.Series) -> pd.Series:
        def one(raws):
            slot_streams = [
                [int(p) - i for p in raws[slot_dterm[i]]]
                for i in range(len(slot_dterm))
            ]
            return lucene_sloppy_freq_rpts(slot_streams, slot_groups, slop)

        return streams.map(one)

    arrs = F.array(*[F.col(f"_t{j}") for j in range(len(dterms))])
    hits = piv.withColumn("tf", _freq_rpts(arrs)).filter(F.col("tf") > 0)
    # idfExplain sums over the query's TermStatistics[] — one entry PER
    # PHRASE SLOT, repeats included (PhraseWeight builds stats per position)
    return _idf_sum_bm25_topk(index, hits, terms, round_dp)


def multiphrase_topk(index: IndexTables, q, round_dp: int = 4) -> DataFrame:
    """MultiPhraseQuery (MultiPhraseQuery.java): each phrase position holds
    one or more terms (synonym-expanded phrases).  Exact SloppyPhraseScorer
    semantics for every case, including the formerly out-of-scope
    hasMultiTermRpts machinery:

    - each slot's position stream is the sorted union of its terms'
      postings (UnionDocsAndPositionsEnum, MultiPhraseQuery.java:487-544 —
      duplicates retained), adjusted by the slot offset;
    - no repeating terms -> the initSimple loop; single-term repeats -> the
      j-advance init; multi-term repeats -> the iterative collide-resolve
      init (advanceRepeatGroups MTP branch, SloppyPhraseScorer.java:291-307);
    - idf sums over the DISTINCT terms of the whole query in sorted order
      (MultiPhraseWeight's TreeSet<Term> allTerms).

    Shape matches the sloppy-phrase kernel: one positions-table pivot over
    the query's distinct terms, Arrow-batched per-doc kernel on candidate
    docs only (every slot must have >= 1 posting), BM25 tail."""
    from pyspark.sql.functions import pandas_udf

    if index.positions is None:
        raise ValueError("index built without positions")
    slot_terms = [sorted(set(s)) for s in q.slots]
    if len(slot_terms) < 2:
        raise ValueError("multi-phrase needs >= 2 slots")
    slop = int(q.slop)
    groups, has_mtp = multiphrase_repeat_groups(slot_terms)
    has_rpts = any(g >= 0 for g in groups)

    dterms = sorted({t for terms in slot_terms for t in terms})
    tpos = {t: j for j, t in enumerate(dterms)}
    slot_dterm = [[tpos[t] for t in terms] for terms in slot_terms]

    pos = index.positions.filter(F.col("term").isin(dterms))
    piv = pos.groupBy("docid", "dl_approx").agg(
        *[
            F.sort_array(
                F.collect_list(F.when(F.col("term") == t, F.col("pos")))
            ).alias(f"_t{j}")
            for j, t in enumerate(dterms)
        ]
    )
    for terms in slot_terms:
        # candidate docs carry >= 1 posting for EVERY slot
        piv = piv.filter(
            sum(F.size(f"_t{tpos[t]}") for t in terms) > 0
        )

    @pandas_udf("double")
    def _freq(streams: pd.Series) -> pd.Series:
        def one(raws):
            slot_streams = []
            for i, djs in enumerate(slot_dterm):
                merged = sorted(
                    int(p) - i for j in djs for p in raws[j]
                )
                if not merged:
                    return 0.0
                slot_streams.append(merged)
            if has_mtp:
                return lucene_sloppy_freq_mtp(slot_streams, list(groups), slop)
            if has_rpts:
                return lucene_sloppy_freq_rpts(slot_streams, list(groups), slop)
            return lucene_sloppy_freq(slot_streams, slop)

        return streams.map(one)

    arrs = F.array(*[F.col(f"_t{j}") for j in range(len(dterms))])
    hits = piv.withColumn("tf", _freq(arrs)).filter(F.col("tf") > 0)
    return _idf_sum_bm25_topk(index, hits, dterms, round_dp)


def _sloppy_dispatch(
    index: IndexTables, q: PhraseQuery, round_dp: int
) -> DataFrame:
    """Sloppy-phrase dispatch: EXACT greedy SloppyPhraseScorer semantics for
    every phrase — the initSimple loop for distinct terms, the hasRpts
    machinery for repeated terms (both in sloppy_phrase_lucene_topk).  The
    anchor-based analytic reformulation (_sloppy_phrase_topk) remains as the
    SQL-expressible oracle form."""
    return sloppy_phrase_lucene_topk(index, q, round_dp)


def _as_clauses(terms: list) -> list[list[str]]:
    """Normalize a span-near clause list: each entry is a term or a list of
    alternative terms (a SpanOrQuery clause inside the SpanNearQuery)."""
    return [[c] if isinstance(c, str) else list(c) for c in terms]


def _span_near_spans(
    index: IndexTables, terms: list, in_order: bool
) -> DataFrame:
    """Candidate spans for a span-near over clauses: one row per anchor
    (docid, dl_approx, _p0=start, _end, _ml=matchLength), UNFILTERED by slop.

    Each clause is a term or a LIST of alternative terms — the latter is a
    SpanOrQuery clause (SpanOrQuery.java merges its sub-spans, so 'the next
    clause position' is the min over any alternative's positions).

    Ordered semantics per NearSpansOrdered.java:58-101: for each occurrence
    ``p`` of the first clause, greedily shrink to the MINIMAL ordered chain
    p < q_1 < ... < q_{k-1} (each q_i the smallest position of clause i after
    the previous clause); matchLength = (q_last - p) - (k-1) — the slack
    beyond adjacency.  Unordered (NearSpansUnordered.java window semantics)
    allows either direction: per-clause deviation |q_i - p| - 1, minimized
    per clause, matchLength = max over clauses — exact for two clauses,
    anchor-approximate beyond; ``_end`` is not meaningful (set to _p0)."""
    clauses = _as_clauses(terms)
    pos = index.positions
    m = pos.filter(F.col("term").isin(clauses[0])).select(
        "docid", "dl_approx", F.col("pos").alias("_prev")
    ).withColumn("_p0", F.col("_prev"))
    for i, cl in enumerate(clauses[1:], start=1):
        pi = pos.filter(F.col("term").isin(cl)).select(
            F.col("docid").alias("_d"), F.col("pos").alias("_q")
        )
        if in_order:
            cond = (m["docid"] == pi["_d"]) & (F.col("_q") > F.col("_prev"))
        else:
            cond = (m["docid"] == pi["_d"]) & (F.col("_q") != F.col("_p0"))
        joined = m.join(pi, cond)
        group_cols = [c for c in m.columns if c != "_prev"] + ["_prev"]
        if in_order:
            # greedy minimal chain: smallest q after the previous clause
            m = (
                joined.groupBy(*group_cols)
                .agg(F.min("_q").alias("_next"))
                .drop("_prev")
                .withColumnRenamed("_next", "_prev")
            )
        else:
            dev = F.abs(F.col("_q") - F.col("_p0")) - F.lit(1)
            m = (
                joined.groupBy(*group_cols)
                .agg(F.min(dev).alias(f"_dev{i}"))
            )
    if in_order:
        ml = (F.col("_prev") - F.col("_p0")) - F.lit(len(terms) - 1)
        return m.withColumn("_ml", ml).withColumnRenamed("_prev", "_end")
    devs = [F.col(f"_dev{i}") for i in range(1, len(terms))]
    ml = F.greatest(*devs) if len(devs) > 1 else devs[0]
    return m.withColumn("_end", F.col("_p0")).withColumn("_ml", ml)


def _sloppy_span_score(
    index: IndexTables,
    spans: DataFrame,
    terms: list[str],
    slop: int,
    round_dp: int,
) -> DataFrame:
    """SpanScorer's sloppyFreq sum (SpanScorer.java:42-56) over candidate
    spans: keep spans with matchLength <= slop; tf = sum of 1/(1+matchLength)
    assembled from integer per-matchLength counts in fixed order for engine
    determinism; BM25 with idf summed over clause terms (SpanWeight builds
    one similarity over the query's extracted terms)."""
    anchors = spans.filter(F.col("_ml") <= slop)
    counts = anchors.groupBy("docid", "dl_approx").agg(
        *[
            F.sum((F.col("_ml") == mv).cast("long")).alias(f"_c{mv}")
            for mv in range(slop + 1)
        ]
    )
    tf = F.lit(0.0)
    for mv in range(slop + 1):
        tf = tf + F.col(f"_c{mv}") * F.lit(1.0 / (1 + mv))
    hits = counts.withColumn("tf", tf).filter(F.col("tf") > 0)
    return _idf_sum_bm25_topk(index, hits, list(terms), round_dp)


def span_near_topk(
    index: IndexTables,
    terms: list,
    slop: int = 0,
    in_order: bool = True,
    round_dp: int = 4,
) -> DataFrame:
    """SpanNearQuery (lucene/core/.../search/spans/SpanNearQuery.java):
    clauses must co-occur within a window of ``slop`` slack positions;
    scoring is the sloppyFreq sum over matching spans (see _span_near_spans
    and _sloppy_span_score for the ordered/unordered semantics).

    Each clause is a term or a list of alternatives (a nested SpanOrQuery —
    e.g. ``[["fast", "quick"], "scan"]`` for synonym proximity); idf sums
    over EVERY extracted term (SpanWeight/extractTerms over the clause
    tree)."""
    if index.positions is None:
        raise ValueError("index built without positions")
    if len(terms) < 2:
        raise ValueError("span_near needs >= 2 clauses")
    spans = _span_near_spans(index, terms, in_order)
    # extractTerms collects into a SET (SpanWeight ctor) — dedupe
    all_terms = list(dict.fromkeys(t for cl in _as_clauses(terms) for t in cl))
    return _sloppy_span_score(index, spans, all_terms, int(slop), round_dp)


def _span_tree_spans(index: IndexTables, clause) -> DataFrame:
    """Spans frame (docid, dl_approx, _start, _end) — ``_end`` EXCLUSIVE,
    matching Spans.end() (``NearSpansOrdered.java:241-255`` asserts
    start < end) — for one node of a span-clause tree:

    * ``str`` — SpanTermQuery: span [p, p+1)
    * ``list[str]`` — SpanOrQuery over terms: union of the term spans
    * ``("near", [clauses...], slop)`` — a NESTED ordered SpanNearQuery:
      its chain spans, already filtered by the inner slop
    """
    pos = index.positions
    if isinstance(clause, str):
        clause = [clause]
    if isinstance(clause, list):
        return pos.filter(F.col("term").isin(clause)).select(
            "docid", "dl_approx",
            F.col("pos").alias("_start"),
            (F.col("pos") + 1).alias("_end"),
        )
    if isinstance(clause, tuple) and clause[0] == "near":
        _, subs, sub_slop = clause
        spans = _span_chain_ordered(index, subs)
        return spans.filter(F.col("_ml") <= int(sub_slop)).select(
            "docid", "dl_approx", "_start", "_end"
        )
    raise TypeError(f"span clause: {clause!r}")


def _span_chain_ordered(index: IndexTables, clauses: list) -> DataFrame:
    """Ordered chain over span-clause trees -> one row per anchor
    (docid, dl_approx, _start, _end, _ml), UNFILTERED by the outer slop.

    Ordering is docSpansOrderedNonOverlap (``NearSpansOrdered.java:251-255``:
    prev.end <= next.start); ``_ml`` accumulates the non-overlap gaps
    exactly as shrinkToAfterShortestMatch's matchSlop
    (``NearSpansOrdered.java:333-336``: only positive start-after-end gaps
    add slop).  The chain is anchored forward on each first-clause span and
    greedily takes the (start, end)-minimal next span — the same
    forward-greedy shortest-match convention as _span_near_spans (the
    reference shrinks backward from the last clause; both are greedy
    shortest-match disciplines, ours is the documented engine semantic,
    differential-tested against a brute-force oracle).

    Shape: per-clause joins are position-list joins co-partitioned on docid;
    each greedy step is a groupBy over anchor identity — no cross-anchor
    state, so the chain scales with positions volume like the phrase kernel.
    """
    frames = [_span_tree_spans(index, c) for c in clauses]
    m = frames[0].select(
        "docid", "dl_approx", "_start", "_end",
        F.col("_end").alias("_a_e"),
        F.lit(0).alias("_ml"),
    )
    for fr in frames[1:]:
        nxt = fr.select(
            F.col("docid").alias("_d"),
            F.col("_start").alias("_qs"),
            F.col("_end").alias("_qe"),
        )
        joined = m.join(
            nxt, (m["docid"] == F.col("_d")) & (F.col("_qs") >= m["_end"])
        )
        m = (
            joined.groupBy(
                "docid", "dl_approx", "_start", "_a_e", "_end", "_ml"
            )
            .agg(F.min(F.struct(F.col("_qs"), F.col("_qe"))).alias("_nx"))
            .withColumn("_ml", F.col("_ml") + (F.col("_nx._qs") - F.col("_end")))
            .withColumn("_end", F.col("_nx._qe"))
            .drop("_nx")
        )
    return m.drop("_a_e")


def _span_tree_terms(clauses: list) -> list[str]:
    """extractTerms over a span-clause tree (SpanWeight collects into a
    set): every term mentioned, deduped in first-seen order."""
    out: list[str] = []
    for c in clauses:
        if isinstance(c, str):
            out.append(c)
        elif isinstance(c, list):
            out.extend(c)
        elif isinstance(c, tuple) and c[0] == "near":
            out.extend(_span_tree_terms(c[1]))
        else:
            raise TypeError(f"span clause: {c!r}")
    return list(dict.fromkeys(out))


def span_near_nested_topk(
    index: IndexTables,
    clauses: list,
    slop: int = 0,
    round_dp: int = 4,
) -> DataFrame:
    """SpanNearQuery over a NESTED ordered span tree — span-near of
    span-near (``SpanNearQuery.java`` accepts arbitrary SpanQuery clauses;
    ``NearSpansOrdered.java`` iterates their span extents).  Clauses are
    term | list-of-terms (span-or) | ("near", [clauses...], inner_slop)
    tuples, e.g. ``["filter", ("near", ["table", "scan"], 1)]``.

    This is the ORDERED tree path; unordered (nested) trees run through
    span_near_unordered_topk, whose per-doc kernel tracks extents.  Scoring
    is the sloppyFreq sum with idf over extractTerms of the WHOLE tree."""
    if index.positions is None:
        raise ValueError("index built without positions")
    if len(clauses) < 2:
        raise ValueError("span_near needs >= 2 clauses")
    spans = _span_chain_ordered(index, clauses)
    return _sloppy_span_score(
        index, spans, _span_tree_terms(clauses), int(slop), round_dp
    )


def near_spans_unordered_matches(
    cell_lists: list[list[tuple[int, int]]], slop: int
) -> list[tuple[int, int, int]]:
    """NearSpansUnordered's match enumeration (NearSpansUnordered.java:
    201-233,344-346) over one doc's per-clause span lists (each sorted by
    (start, end)): keep one current span ("SpansCell") per clause; a
    configuration matches when ``max(end) - min(start) - totalLength <= slop``
    (atMatch, :344-346; totalLength = sum of current span lengths, :50);
    between configurations advance the queue-min cell — (start, end)-least,
    the CellQueue order (:64-67 -> docSpansOrdered) — until any clause
    exhausts.  Returns (min_start, max_end, matchLength) per match."""
    idx = [0] * len(cell_lists)
    out: list[tuple[int, int, int]] = []
    while True:
        cur = [cl[i] for cl, i in zip(cell_lists, idx)]
        total = sum(e - s for s, e in cur)
        lo = min(s for s, _ in cur)
        hi = max(e for _, e in cur)
        ml = hi - lo - total
        if ml <= slop:
            out.append((lo, hi, ml))
        j = min(range(len(cur)), key=lambda t: cur[t])
        idx[j] += 1
        if idx[j] >= len(cell_lists[j]):
            break
    out.sort()
    return out


def _eval_unordered_tree(spec, leaf_spans: list, top: bool = False):
    """Evaluate a flattened span tree bottom-up over one doc's leaf spans.
    ``spec`` nodes: ("leaf", i) -> leaf_spans[i]; ("unear", subs, slop) ->
    the unordered matches over the sub-nodes' spans.  The top call returns
    the sloppyFreq sum (weights 1/(1+max(ml,0)) — the span module's
    slop-slack convention, clamped because unordered extents may overlap)."""
    kind = spec[0]
    if kind == "leaf":
        return leaf_spans[spec[1]]
    _, subs, nslop = spec
    sub = [_eval_unordered_tree(c, leaf_spans) for c in subs]
    if any(not s for s in sub):
        return 0.0 if top else []
    matches = near_spans_unordered_matches(sub, nslop)
    if top:
        return float(sum(1.0 / (1 + max(ml, 0)) for _, _, ml in matches))
    return [(s, e) for s, e, _ in matches]


def span_near_unordered_topk(
    index: IndexTables,
    clauses: list,
    slop: int = 0,
    round_dp: int = 4,
) -> DataFrame:
    """Unordered SpanNearQuery with NearSpansUnordered's exact match
    enumeration, over arbitrarily NESTED span trees — the extent-tracking
    kernel the anchor-form unordered path (_span_near_spans in_order=False)
    doesn't have.  Clauses: term | list-of-terms (span-or) |
    ("near", [...], slop) nested ORDERED chain (resolved in DataFrame land
    via _span_tree_spans) | ("unear", [...], slop) nested UNORDERED
    (resolved recursively inside the per-doc kernel).

    Shape: each leaf's spans come from the positions-join frames (filters
    pushed to the scan); ONE shuffle pivots per-leaf (start, end) arrays per
    candidate doc (docs holding every leaf — conjunctive, so the pre-filter
    is exact); an Arrow-batched pandas UDF walks the queue per doc.  A
    justified Python kernel: the advance-min walk is stateful and has no
    Catalyst equivalent; it touches only candidate docs."""
    from pyspark.sql.functions import pandas_udf

    if index.positions is None:
        raise ValueError("index built without positions")
    if len(clauses) < 2:
        raise ValueError("span_near needs >= 2 clauses")

    leaves: list = []

    def build(node):
        if isinstance(node, tuple) and node[0] == "unear":
            _, subs, s = node
            return ("unear", [build(c) for c in subs], int(s))
        leaves.append(node)
        return ("leaf", len(leaves) - 1)

    tree = ("unear", [build(c) for c in clauses], int(slop))

    frames = []
    for i, leaf in enumerate(leaves):
        fr = _span_tree_spans(index, leaf)
        frames.append(fr.withColumn("_leaf", F.lit(i)))
    allspans = frames[0]
    for fr in frames[1:]:
        allspans = allspans.unionByName(fr)
    piv = allspans.groupBy("docid", "dl_approx").agg(
        *[
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("_leaf") == i,
                        F.struct(F.col("_start"), F.col("_end")),
                    )
                )
            ).alias(f"_l{i}")
            for i in range(len(leaves))
        ]
    )
    for i in range(len(leaves)):
        piv = piv.filter(F.size(f"_l{i}") > 0)

    arrs = F.array(
        *[
            x
            for i in range(len(leaves))
            for x in (
                F.transform(F.col(f"_l{i}"), lambda r: r["_start"]),
                F.transform(F.col(f"_l{i}"), lambda r: r["_end"]),
            )
        ]
    )

    n_leaves = len(leaves)

    @pandas_udf("double")
    def _freq(streams: pd.Series) -> pd.Series:
        def one(pls):
            spans = [
                list(zip(pls[2 * i], pls[2 * i + 1])) for i in range(n_leaves)
            ]
            return _eval_unordered_tree(tree, spans, top=True)

        return streams.map(one)

    hits = piv.withColumn("tf", _freq(arrs)).filter(F.col("tf") > 0)

    def _terms(spec_node) -> list[str]:
        if isinstance(spec_node, tuple) and spec_node[0] == "unear":
            out: list[str] = []
            for c in spec_node[1]:
                out.extend(_terms(c))
            return out
        return _span_tree_terms([spec_node])

    all_terms = list(dict.fromkeys(t for c in clauses for t in _terms(c)))
    return _idf_sum_bm25_topk(index, hits, all_terms, round_dp)


def span_or_topk(
    index: IndexTables, terms: list[str], round_dp: int = 4
) -> DataFrame:
    """SpanOrQuery over SpanTermQueries (lucene/core/.../search/spans/
    SpanOrQuery.java): the disjunction merges all clause spans.  Each term
    span has matchLength 0 → sloppyFreq 1 per occurrence (SpanScorer.java:
    42-56), so the phrase-style tf is the TOTAL occurrence count of any
    clause term, scored by ONE SpanWeight whose idf sums over the extracted
    clause terms.  This differs from BooleanQuery OR, which saturates tf
    per term before summing per-term scores — both are real reference
    operators with distinct rankings."""
    if not terms:
        raise ValueError("span_or needs >= 1 clause")
    p = index.postings.filter(F.col("term").isin(list(terms)))
    # tf here is an INTEGER sum (per-term tf counts), so the aggregate is
    # order-exact — no fixed-order float concern
    hits = p.groupBy("docid", "dl_approx").agg(
        F.sum("tf").cast("double").alias("tf")
    )
    return _idf_sum_bm25_topk(index, hits, list(terms), round_dp)


def span_not_topk(
    index: IndexTables,
    include_terms: list[str],
    exclude_term: str,
    slop: int = 0,
    pre: int = 0,
    post: int = 0,
    round_dp: int = 4,
) -> DataFrame:
    """SpanNotQuery (lucene/core/.../search/spans/SpanNotQuery.java:44-58):
    spans of the include query that do NOT overlap any span of the exclude
    term, with the overlap window widened by ``pre`` positions before the
    span start and ``post`` after its end (the 4.10 dist/pre/post ctor).
    Include = one term (SpanTermQuery, span [p,p]) or an ORDERED span-near
    chain over >= 2 terms; unordered include is rejected because its anchor
    form does not track span extents.  Scoring uses the include clause's
    terms only (SpanNotQuery.extractTerms delegates to include)."""
    if index.positions is None:
        raise ValueError("index built without positions")
    if not include_terms:
        raise ValueError("span_not needs an include clause")
    slop = int(slop)
    if len(include_terms) == 1:
        pos = index.positions
        spans = pos.filter(F.col("term") == include_terms[0]).select(
            "docid",
            "dl_approx",
            F.col("pos").alias("_p0"),
            F.col("pos").alias("_end"),
            F.lit(0).alias("_ml"),
        )
    else:
        spans = _span_near_spans(index, include_terms, in_order=True)
    excl = index.positions.filter(F.col("term") == exclude_term).select(
        F.col("docid").alias("_d"), F.col("pos").alias("_e")
    )
    overlap = (
        (spans["docid"] == excl["_d"])
        & (F.col("_e") >= F.col("_p0") - F.lit(int(pre)))
        & (F.col("_e") <= F.col("_end") + F.lit(int(post)))
    )
    clean = spans.join(excl, overlap, "left_anti")
    return _sloppy_span_score(index, clean, include_terms, slop, round_dp)


def span_position_range_topk(
    index: IndexTables,
    terms: list[str],
    start: int = 0,
    end: int = 1 << 31,
    slop: int = 0,
    in_order: bool = True,
    round_dp: int = 4,
) -> DataFrame:
    """SpanPositionRangeQuery (lucene/core/.../search/spans/
    SpanPositionRangeQuery.java:42-50): keep only spans of the match query
    with ``spans.start() >= start`` and ``spans.end() <= end`` (Lucene's
    end() is EXCLUSIVE — a term span at position p has end p+1).  The match
    query is one term (SpanTermQuery) or an ordered/unordered span-near
    chain over >= 2 terms.  Accepted spans score through the standard
    SpanScorer sloppyFreq sum with idf over the extracted terms —
    position-gated occurrences simply drop out of tf.

    Scale shape: positions are term-pruned at the scan; the gate is one
    codegen filter on the span frame; no new shuffle.
    """
    if index.positions is None:
        raise ValueError("index built without positions")
    if not terms:
        raise ValueError("span_position_range needs >= 1 term")
    if len(terms) == 1:
        spans = index.positions.filter(F.col("term") == terms[0]).select(
            "docid",
            "dl_approx",
            F.col("pos").alias("_p0"),
            F.col("pos").alias("_end"),
            F.lit(0).alias("_ml"),
        )
    else:
        spans = _span_near_spans(index, terms, in_order=in_order)
    # engine _end is the INCLUSIVE last position; Lucene end() = _end + 1
    accepted = spans.filter(
        (F.col("_p0") >= F.lit(int(start)))
        & (F.col("_end") + F.lit(1) <= F.lit(int(end)))
    )
    return _sloppy_span_score(index, accepted, list(terms), slop, round_dp)


def span_first_topk(
    index: IndexTables,
    terms: list[str],
    end: int,
    slop: int = 0,
    in_order: bool = True,
    round_dp: int = 4,
) -> DataFrame:
    """SpanFirstQuery (SpanFirstQuery.java:40-48) — SpanPositionRange with
    start=0: match spans that END within the first ``end`` positions of the
    field (the 'boost matches near the start of the document' primitive)."""
    return span_position_range_topk(
        index, terms, start=0, end=end, slop=slop,
        in_order=in_order, round_dp=round_dp,
    )


def to_parent_block_join(
    scored_children: DataFrame,
    parent_col: str,
    score_mode: str = "max",
    round_dp: int = 4,
) -> DataFrame:
    """ToParentBlockJoinQuery (lucene/join/.../ToParentBlockJoinQuery.java:
    score modes in ScoreMode — None/Avg/Max/Total): children matching the
    child query roll up to their parent with the chosen score aggregation.
    ``scored_children`` is any (.., <parent_col>, score) DataFrame — e.g. a
    child-table query's output; Lucene's doc-block adjacency becomes a plain
    keyed aggregation (the parent key IS the block identity here)."""
    # 'total'/'avg' fold the child scores in VALUE-sorted order rather than
    # a float SUM/AVG aggregate: sorted addends are a canonical order (tied
    # doubles commute exactly), so the rounded score is run- and
    # engine-deterministic per the module contract
    g = scored_children.groupBy(parent_col).agg(
        F.max("score").alias("_mx"),
        F.array_sort(F.collect_list("score")).alias("_ss"),
    )
    total = F.aggregate("_ss", F.lit(0.0), lambda a, x: a + x)
    expr = {
        "max": F.col("_mx"),
        "total": total,
        "avg": total / F.size("_ss"),
        "none": F.lit(1.0),
    }[score_mode]
    return (
        g.select(parent_col, F.round(expr, round_dp).alias("score"))
        .orderBy(F.col("score").desc(), F.col(parent_col).asc())
    )


def early_terminating_topk(
    sorted_docs: DataFrame,
    order_by: list,
    k: int = 10,
) -> DataFrame:
    """EarlyTerminatingSortingCollector (lucene/core/.../search/
    EarlyTerminatingSortingCollector.java): when every segment is already
    sorted by the query sort, the per-segment scan STOPS after k hits instead
    of reading the segment.

    ``sorted_docs`` must be sorted WITHIN partitions by ``order_by`` (the
    index-time sort — e.g. ``df.sortWithinPartitions(...)`` before writing,
    or a store written with that layout).  Each partition then contributes
    only its first k rows (islice stops pulling from the iterator — with a
    columnar source, later pages are never materialized) and the global
    top-k merges P*k candidates.  One of the few justified mapPartitions:
    early termination is imperative by nature."""
    from itertools import islice

    spark = sorted_docs.sparkSession
    schema = sorted_docs.schema

    def head(it):
        return islice(it, k)

    heads = spark.createDataFrame(sorted_docs.rdd.mapPartitions(head), schema)
    return heads.orderBy(*order_by).limit(k)


def to_child_block_join(
    parents: DataFrame, children: DataFrame, parent_col: str
) -> DataFrame:
    """ToChildBlockJoinQuery: matching parents fan out to their children
    (a semi-join of children against the parent result set)."""
    return children.join(
        parents.select(parent_col).distinct(), parent_col, "left_semi"
    )


def search(
    index: IndexTables,
    query,
    k: int = 10,
    round_dp: int = 4,
    after: tuple[float, int] | None = None,
    rewrite: str = "constant_score",
    ordered: bool = True,
) -> DataFrame:
    """Top-k search -> DataFrame(docid, score), ordered score desc, docid asc.

    ``ordered=False`` skips the score-ordered TakeOrderedAndProject and
    returns the full unsorted scored set — for callers (e.g. lucenePlusSort)
    that re-sort by an explicit field spec, so no wasted global sort.

    ``after=(score, docid)`` gives keyset deep paging (searchAfter /
    CursorMark): strictly-worse results than the cursor, same ordering.

    ``rewrite`` controls multi-term queries (prefix/wildcard/regexp/fuzzy/
    range), mirroring MultiTermQuery rewrite methods: "constant_score"
    (Lucene's CONSTANT_SCORE_AUTO_REWRITE default — matching docs score the
    query boost) or "scoring_boolean" (SCORING_BOOLEAN_QUERY_REWRITE — OR of
    per-term BM25 scores)."""
    if isinstance(query, str):
        query = BooleanQuery.of(must=[query])
    if isinstance(query, TermQuery):
        query = BooleanQuery(must=(query,))
    if isinstance(query, (PrefixQuery, WildcardQuery, ReversedWildcardQuery, RegexpQuery, FuzzyQuery, RangeQuery)):
        if rewrite == "constant_score":
            # semi-join rewrite: the expanded term set never hits the driver
            boost = float(getattr(query, "boost", 1.0))
            out = _matched_docset(index, query).select(
                "docid", F.lit(boost).alias("score")
            )
            if after is not None:
                a_score, a_docid = after
                out = out.filter(
                    (F.col("score") < a_score)
                    | ((F.col("score") == a_score) & (F.col("docid") > a_docid))
                )
            if not ordered:
                return out
            return _topk(out, k)
        terms = _expand_terms(index, query)  # bounded by MAX_CLAUSE_COUNT
        if not terms:
            return index.postings.sparkSession.createDataFrame(
                [], "docid long, score double"
            )
        qboost = float(getattr(query, "boost", 1.0))
        query = BooleanQuery(
            should=tuple(TermQuery(t, boost=qboost) for t in terms),
            minimum_should_match=1,
        )

    if isinstance(query, MatchAllQuery):
        out = index.docs.select(
            "docid", F.lit(float(query.boost)).alias("score")
        )
    elif isinstance(query, PhraseQuery):
        if query.slop > 0:
            out = _sloppy_dispatch(index, query, round_dp)
        else:
            out = _phrase_topk(index, query, round_dp)
    elif isinstance(query, BooleanQuery):
        out = _boolean_topk(index, query, k, round_dp)
    else:
        raise TypeError(type(query))

    if after is not None:
        a_score, a_docid = after
        out = out.filter(
            (F.col("score") < a_score)
            | ((F.col("score") == a_score) & (F.col("docid") > a_docid))
        )
    if not ordered:
        return out
    return _topk(out, k)


def search_parsed(
    index: IndexTables,
    query_string: str,
    k: int = 10,
    default_op: str = "OR",
    round_dp: int = 4,
    ordered: bool = True,
) -> DataFrame:
    """Parse a Solr/Lucene-syntax query string and execute it.

    The QParser front door (QParser.java:276-308 -> classic grammar): the
    parser (search/parser.py) yields the Query tree; plain boolean/phrase/
    multi-term trees execute through ``search``; composite trees (terms +
    phrase/multi-term sub-queries) compose per-part scored sets with Lucene's
    boolean-of-subqueries semantics: score = Σ matching sub-scores, MUST
    parts intersect, SHOULD parts extend, NOT parts anti-join."""
    from lucene_solr_spark.search.parser import CompositeQuery, parse_query

    parsed = parse_query(query_string, default_op=default_op)
    if not isinstance(parsed, CompositeQuery):
        # empty and must_not-only queries are MatchNoDocs (BooleanWeight
        # needs >= 1 positive clause) — same rule as the composite path and
        # fields.search_parsed_fields
        if isinstance(parsed, BooleanQuery) and not (
            parsed.must or parsed.should
        ):
            return index.postings.sparkSession.createDataFrame(
                [], "docid long, score double"
            )
        return search(index, parsed, k=k, round_dp=round_dp, ordered=ordered)

    def part_scores(q) -> DataFrame:
        """Full (docid, score) set for one sub-query, unrounded."""
        if isinstance(q, PhraseQuery):
            if q.slop > 0:
                p = _sloppy_dispatch(index, q, round_dp=10)
            else:
                p = _phrase_topk(index, q, round_dp=10)
            if q.boost != 1.0:
                p = p.select("docid", (F.col("score") * F.lit(q.boost)).alias("score"))
            return p
        if isinstance(q, (PrefixQuery, WildcardQuery, ReversedWildcardQuery, RegexpQuery, FuzzyQuery, RangeQuery)):
            boost = float(getattr(q, "boost", 1.0))
            return _matched_docset(index, q).select(
                "docid", F.lit(boost).alias("score")
            )
        raise TypeError(type(q))

    # Boolean-of-subqueries (BooleanQuery.java:100-218 over Weight-per-clause):
    # every scoring clause — term or special — is one (docid, score) column;
    # frames full-outer-join on docid and boolean_combine applies MUST /
    # minimum-should-match / MUST_NOT to the COMPOSED set (a MUST phrase
    # filters term-only docs, a MUST_NOT term excludes phrase matches, etc.).
    # Term clauses dedup to one clause per distinct term.
    b = parsed.boolean
    must_terms = [t.term for t in b.must]
    boosts = {t.term: t.boost for t in (*b.must, *b.should)}
    bool_terms = list(boosts)

    frames: list[DataFrame] = []
    clauses: list[tuple[str, bool, float]] = []
    if bool_terms:
        frames.append(pivot_terms(term_scores(index, bool_terms), bool_terms))
        clauses += [
            (f"_s{i}", t in must_terms, boosts[t])
            for i, t in enumerate(bool_terms)
        ]
    specials = [(q, True) for q in parsed.must_specials] + [
        (q, False) for q in parsed.should_specials
    ]
    for j, (q, req) in enumerate(specials):
        frames.append(part_scores(q).withColumnRenamed("score", f"_sp{j}"))
        clauses.append((f"_sp{j}", req, 1.0))

    if not frames:
        # must_not-only query: no scoring clause -> MatchNoDocs
        # (BooleanWeight requires >=1 scoring or filtering positive clause)
        return index.postings.sparkSession.createDataFrame(
            [], "docid long, score double"
        )

    excluded = must_not_docset(index, b) + [
        part_scores(q).select("docid") for q in parsed.not_specials
    ]
    out = boolean_combine(
        frames, clauses, b.minimum_should_match, excluded, round_dp
    )
    if not ordered:
        return out
    return _topk(out, k)


def dismax(
    index: IndexTables,
    clauses: list[str],
    tie: float = 0.0,
    k: int = 10,
    round_dp: int = 4,
) -> DataFrame:
    """DisjunctionMaxQuery (DisjunctionMaxQuery.java:45-59): per-doc score is
    max over clause scores plus ``tie`` times the sum of the others."""
    per_doc = pivot_terms(term_scores(index, clauses), clauses)
    cols = [F.coalesce(F.col(f"_s{i}"), F.lit(0.0)) for i in range(len(clauses))]
    mx = F.greatest(*cols) if len(cols) > 1 else cols[0]
    total = cols[0]
    for c in cols[1:]:
        total = total + c
    score = mx + F.lit(tie) * (total - mx)
    return _topk(
        per_doc.select("docid", F.round(score, round_dp).alias("score")), k
    )


def more_like_this(
    index: IndexTables, docid: int, max_query_terms: int = 3, k: int = 10,
    round_dp: int = 4,
    min_term_freq: int = 1, min_doc_freq: int = 1, max_doc_freq: int | None = None,
) -> DataFrame:
    """MoreLikeThis (lucene/queries/.../mlt/MoreLikeThis.java): pick the
    source doc's top terms by tf*idf (ties by term asc), then run them as an
    OR query over everything else. Term selection happens driver-side (the
    interesting-terms PriorityQueue analog); scoring is a float-sum OR.

    ``min_term_freq``/``min_doc_freq``/``max_doc_freq`` are the mlt.mintf /
    mlt.mindf / mlt.maxdf term-selection gates (MoreLikeThis.java:161-178 —
    Lucene's own defaults are mintf=2, mindf=5; defaults here are the no-gate
    values so gating is opt-in)."""
    import math

    # Broadcast discipline: one doc's postings are the BOUNDED side (its
    # term list); term_stats is the unbounded |V|-row dictionary.  Ship the
    # doc's terms into a scan of the dictionary (broadcast hash join with the
    # tiny side broadcast), never the dictionary itself — at web scale
    # (10^8-10^9 terms) the old full-term_stats broadcast is an executor OOM.
    rows = (
        index.term_stats()
        .join(
            F.broadcast(
                index.postings.filter(F.col("docid") == docid)
                .select("term", "tf")
            ),
            "term",
        )
        .select("term", "tf", "df")
        .collect()
    )
    n = index.max_doc
    rows = [
        r
        for r in rows
        if r.tf >= min_term_freq
        and r.df >= min_doc_freq
        and (max_doc_freq is None or r.df <= max_doc_freq)
    ]
    scored_terms = sorted(
        (
            (-r.tf * math.log(1.0 + (n - r.df + 0.5) / (r.df + 0.5)), r.term)
            for r in rows
        ),
    )
    terms = [t for _, t in scored_terms[:max_query_terms]]
    if not terms:
        return index.postings.sparkSession.createDataFrame([], "docid long, score double")
    scored = term_scores(index, terms)
    # fixed-order addition (module contract): fold the per-term scores in
    # term-asc order instead of a float SUM aggregate, whose accumulation
    # order is nondeterministic and can flip round(score, dp) at a rounding
    # boundary between runs/engines
    out = (
        scored.filter(F.col("docid") != docid)
        .groupBy("docid")
        .agg(F.array_sort(F.collect_list(F.struct("term", "score"))).alias("_ts"))
        .select(
            "docid",
            F.round(
                F.aggregate("_ts", F.lit(0.0), lambda a, x: a + x["score"]),
                round_dp,
            ).alias("score"),
        )
    )
    return _topk(out, k)


def mlt_interesting_terms(
    index: IndexTables, docid: int, max_query_terms: int = 3,
    min_term_freq: int = 1, min_doc_freq: int = 1,
    max_doc_freq: int | None = None, round_dp: int = 4,
) -> DataFrame:
    """MoreLikeThisHandler interestingTerms=details (solr/core/src/java/org/
    apache/solr/handler/MoreLikeThisHandler.java InterestingTerm — the
    selected query terms with their tf*idf selection scores): the same
    PriorityQueue selection more_like_this runs, surfaced as
    (rank, term, score) rows ordered by rank."""
    import math

    # Same broadcast discipline as more_like_this: broadcast the doc's
    # bounded term list into the dictionary scan, never |V| term_stats.
    rows = (
        index.term_stats()
        .join(
            F.broadcast(
                index.postings.filter(F.col("docid") == docid)
                .select("term", "tf")
            ),
            "term",
        )
        .select("term", "tf", "df")
        .collect()
    )
    n = index.max_doc
    rows = [
        r
        for r in rows
        if r.tf >= min_term_freq
        and r.df >= min_doc_freq
        and (max_doc_freq is None or r.df <= max_doc_freq)
    ]
    scored_terms = sorted(
        (
            (-r.tf * math.log(1.0 + (n - r.df + 0.5) / (r.df + 0.5)), r.term)
            for r in rows
        ),
    )[:max_query_terms]
    out = [
        (i + 1, t, round(-s, round_dp)) for i, (s, t) in enumerate(scored_terms)
    ]
    return index.postings.sparkSession.createDataFrame(
        out, "rank int, term string, score double"
    )


def rerank(
    index: IndexTables,
    main_terms: list[str],
    rerank_terms: list[str],
    rerank_weight: float = 2.0,
    window: int = 20,
    k: int = 10,
    round_dp: int = 4,
) -> DataFrame:
    """ReRankQParserPlugin: take the top ``window`` docs of the main query,
    re-score as main + weight * rerank-query score, return top k."""
    main = search(index, BooleanQuery.of(should=main_terms, mm=1),
                  k=window, round_dp=round_dp)
    rr_doc = pivot_terms(term_scores(index, rerank_terms), rerank_terms, prefix="_r")
    joined = main.join(rr_doc, "docid", "left")
    extra = F.lit(0.0)
    for i in range(len(rerank_terms)):
        extra = extra + F.coalesce(F.col(f"_r{i}"), F.lit(0.0))
    score = F.col("score") + F.lit(rerank_weight) * extra
    return (
        joined.select("docid", F.round(score, round_dp).alias("rerank_score"))
        .orderBy(F.col("rerank_score").desc(), F.col("docid").asc())
        .limit(k)
    )


def span_multi_term_topk(
    index: IndexTables,
    q,
    round_dp: int = 4,
) -> DataFrame:
    """SpanMultiTermQueryWrapper (lucene/core/.../search/spans/
    SpanMultiTermQueryWrapper.java): a prefix/wildcard/regexp/fuzzy/range
    query lifted into span space — the SPAN_REWRITE turns every matching
    dictionary term into a SpanTermQuery under one SpanOr.  Engine mapping:
    the MultiTermQuery dictionary walk (`_matched_terms_df`, bounded by
    MAX_CLAUSE_COUNT like the scoring rewrite) feeds the span-or scorer —
    total-occurrence tf, ONE SpanWeight idf over the expanded terms.

    The wrapper exists so expanded spans can nest inside span-near trees;
    standalone it ranks like span_or over the expansion.
    """
    terms = [r.term for r in _matched_terms_df(index, q).limit(
        MAX_CLAUSE_COUNT + 1
    ).collect()]
    if len(terms) > MAX_CLAUSE_COUNT:
        raise ValueError(
            f"span rewrite expands past maxClauseCount={MAX_CLAUSE_COUNT}"
        )
    if not terms:
        raise ValueError("span multi-term wrapper matched no dictionary terms")
    return span_or_topk(index, sorted(terms), round_dp=round_dp)
