"""Document-at-a-time top-k with block-max pruning over compressed segments.

The query-side half of the north rule: per index partition ("segment",
SegmentInfos.java:58-80 analog) a numpy kernel walks the query terms'
compressed posting lists in docid order, using the per-block skip metadata
(block_last_docid — Lucene41SkipWriter's one-entry-per-128-doc-block skip
list) to leapfrog and the per-block max score bound (idf-weight × the
tf/length factor evaluated at the block's max tf and min doc length) to skip
whole blocks that cannot beat the current kth score θ —
block-max WAND (Ding & Suel SIGIR'11; public knowledge — Lucene 4.10 itself
has no WAND, SURVEY.md §4).  Per-partition top-k results then merge globally
via ORDER BY (score desc, docid asc) LIMIT k, Spark's TakeOrderedAndProject —
the same bounded-heap + driver-merge algorithm as TopScoreDocCollector.

Rank identity with the Catalyst path (search/bm25.py) is maintained by
replicating its float64 arithmetic exactly: same left-to-right operation
order in the per-(term,doc) score, same fixed-order per-term addition, same
HALF_UP rounding before ordering, same docid-asc tie-break
(HitQueue.java:76-81).  θ-pruning uses a one-rounding-quantum safety margin so
boundary ties cannot be lost.

Scale shape: the only shuffle is the groupBy(index_partition) feeding the
kernel — P groups regardless of data size; each kernel call touches only the
query's terms in that partition (predicate pushdown on ``term`` reaches the
segment-store Parquet scan) and decodes only the blocks that survive
skipping.  Everything else is TakeOrderedAndProject.
"""

from __future__ import annotations

import heapq
import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lucene_solr_spark.index.builder import IndexTables
from lucene_solr_spark.index.codec import block_max_partial_bound, decode_block
from lucene_solr_spark.index.compress import get_compressed
from lucene_solr_spark.search.bm25 import query_term_stats
from lucene_solr_spark.search.query import BooleanQuery, TermQuery
from lucene_solr_spark.smallfloat import NORM_TABLE

K1 = 1.2
B = 0.75


def _round_half_up(x: np.ndarray, dp: int) -> np.ndarray:
    """Spark-exact ROUND: BigDecimal(shortest-decimal-repr) HALF_UP.

    The cheap float trick floor(x*10^dp + 0.5) disagrees with Spark for
    doubles just below a .5*10^-dp decimal boundary (the float multiply
    rounds them up; fuzz-verified).  Only the <=k per-partition outputs are
    rounded, so exact decimal arithmetic costs nothing here."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-dp)
    return np.array(
        [float(Decimal(repr(float(v))).quantize(q, ROUND_HALF_UP)) for v in x],
        dtype=np.float64,
    )


class _TermCursor:
    """Per-term decode state over one encoded segment row."""

    __slots__ = ("idf22", "boost", "is_must", "block_last", "block_max",
                 "blk", "nblocks", "_row", "_blocks")

    def __init__(self, row, idf22: float, boost: float, is_must: bool, avgdl: float):
        self.idf22 = idf22
        self.boost = boost
        self.is_must = is_must
        self.block_last = np.asarray(row["block_last_docid"], dtype=np.int64)
        self.block_max = block_max_partial_bound(
            row["block_max_tf"], row["block_min_dlb"], avgdl
        )
        self.nblocks = len(self.block_last)
        self.blk = 0
        self._row = row
        self._blocks: dict[int, tuple] = {}  # blk -> (docids, tfs, dls)

    def advance(self, target: int) -> bool:
        """Move the block pointer to the first block with last_docid >= target.
        Returns False when exhausted."""
        self.blk += int(
            np.searchsorted(self.block_last[self.blk:], target, side="left")
        )
        return self.blk < self.nblocks

    def _block(self, blk: int):
        """Decode ONE block lazily (memoized): with per-block byte offsets in
        the codec row, blocks skipped by block-max pruning are never decoded
        at all — skipping saves decode work, not just scoring."""
        cached = self._blocks.get(blk)
        if cached is None:
            d, tf, nb = decode_block(self._row, blk)
            cached = (
                d,
                tf.astype(np.float64),
                NORM_TABLE[nb].astype(np.float64),
            )
            self._blocks[blk] = cached
        return cached

    def window(self, lo: int, hi: int, avgdl: float):
        """(docids, scores) for postings with lo <= docid <= hi in the current
        block span.  Scores replicate the Catalyst expression left-to-right:
        ((idf*2.2) * tf) / (tf + 1.2*(0.25 + (0.75*dl)/avgdl)), then * boost."""
        d, tfs, dls = self._block(self.blk)
        i0, i1 = np.searchsorted(d, [lo, hi + 1])
        if i0 == i1:
            return None
        tf = tfs[i0:i1]
        dl = dls[i0:i1]
        denom = tf + 1.2 * (0.25 + (0.75 * dl) / avgdl)
        s = (self.idf22 * tf) / denom
        if self.boost != 1.0:
            s = s * self.boost
        return d[i0:i1], s

    def bound(self) -> float:
        return self.idf22 * self.block_max[self.blk] * self.boost


def _excl_window_docids(c: _TermCursor, lo: int, hi: int) -> list[np.ndarray]:
    """All docids of an exclusion cursor within [lo, hi] — may span several
    blocks, because the scoring window is sized by the SCORING cursors'
    blocks only."""
    out: list[np.ndarray] = []
    pos = lo
    while pos <= hi and c.advance(pos):
        d, _, _ = c._block(c.blk)
        i0, i1 = np.searchsorted(d, [pos, hi + 1])
        if i0 < i1:
            out.append(d[i0:i1])
        blk_end = int(c.block_last[c.blk])
        if blk_end >= hi:
            break
        pos = blk_end + 1
    return out


def _partition_topk(
    pdf: pd.DataFrame,
    term_order: list[str],
    term_meta: dict[str, tuple[float, float, bool]],
    n_must: int,
    mm: int,
    k: int,
    avgdl: float,
    round_dp: int,
    excl_terms: list[str] = (),
) -> pd.DataFrame:
    """Block-max WAND over one index partition; returns its top-k rows.

    ``excl_terms`` (MUST_NOT) are excluded INSIDE the candidate loop — the
    ReqExclScorer discipline (ReqExclScorer.java:56-92 advances the exclusion
    iterator alongside the required one) — so excluded docs never occupy
    heap slots and cannot displace qualifying docs from the partition's
    top-k."""
    rows = {r["term"]: r for _, r in pdf.iterrows()}
    cursors: list[_TermCursor] = []
    for t in term_order:
        idf22, boost, is_must = term_meta[t]
        if t in rows:
            cursors.append(_TermCursor(rows[t], idf22, boost, is_must, avgdl))
        elif is_must:
            return pd.DataFrame({"docid": [], "score": []}).astype(
                {"docid": "int64", "score": "float64"}
            )
    excl_cursors = [
        _TermCursor(rows[t], 0.0, 1.0, False, avgdl)
        for t in excl_terms
        if t in rows
    ]
    must = [c for c in cursors if c.is_must]
    should = [c for c in cursors if not c.is_must]
    if not cursors or (n_must == 0 and len(should) < max(mm, 1)):
        return pd.DataFrame({"docid": [], "score": []}).astype(
            {"docid": "int64", "score": "float64"}
        )

    margin = 10.0 ** (-round_dp)
    heap: list[tuple[float, int]] = []  # (score, -docid) min-heap
    cur = 0
    while True:
        active_must = [c for c in must if c.advance(cur)]
        if len(active_must) < len(must):
            break
        active_should = [c for c in should if c.advance(cur)]
        bounding = active_must if must else active_should
        if not bounding:
            break
        if not must and len(active_should) < max(mm, 1):
            break
        active = active_must + active_should
        # Every active cursor's current block must cover the whole window, so
        # the window ends at the min block end over ALL active cursors (not
        # just the bounding set) — otherwise a doc matching a must term could
        # silently lose a should term's contribution from its next block.
        window_end = min(int(c.block_last[c.blk]) for c in active)
        if len(heap) == k:
            ub = sum(c.bound() for c in active)
            if ub <= heap[0][0] - margin:
                cur = window_end + 1
                continue
        # decode + score the window, fixed-order accumulation
        parts = []
        for c in cursors:
            if c.blk >= c.nblocks:
                parts.append(None)
                continue
            parts.append(c.window(cur, window_end, avgdl))
        all_docs = None
        for p in parts:
            if p is not None:
                all_docs = p[0] if all_docs is None else np.union1d(all_docs, p[0])
        if all_docs is None or all_docs.size == 0:
            cur = window_end + 1
            continue
        total = np.zeros(all_docs.size, dtype=np.float64)
        must_hits = np.zeros(all_docs.size, dtype=np.int32)
        should_hits = np.zeros(all_docs.size, dtype=np.int32)
        for c, p in zip(cursors, parts):
            s = np.zeros(all_docs.size, dtype=np.float64)
            if p is not None:
                idx = np.searchsorted(all_docs, p[0])
                s[idx] = p[1]
                if c.is_must:
                    must_hits[idx] += 1
                else:
                    should_hits[idx] += 1
            total = total + s  # fixed order: 0.0 + s0 + s1 + ...
        ok = must_hits == len(must)
        if should and mm > 0:
            ok &= should_hits >= mm
        if not must:
            ok &= should_hits > 0
        if excl_cursors:
            excl_parts = [
                arr
                for c in excl_cursors
                for arr in _excl_window_docids(c, cur, window_end)
            ]
            if excl_parts:
                ok &= ~np.isin(all_docs, np.concatenate(excl_parts))
        # Round BEFORE heap insertion: the Catalyst path orders by
        # round(score, dp) with docid-asc tie-break, so heap eviction at the
        # kth boundary must compare rounded scores too — two raw scores in
        # the same rounding bucket are a TIE decided by docid, not by raw
        # magnitude.  (Theta pruning above keeps its raw-score margin.)
        for doc, sc in zip(
            all_docs[ok].tolist(), _round_half_up(total[ok], round_dp).tolist()
        ):
            item = (sc, -doc)
            if len(heap) < k:
                heapq.heappush(heap, item)
            elif item > heap[0]:
                heapq.heapreplace(heap, item)
        cur = window_end + 1

    if not heap:
        return pd.DataFrame({"docid": [], "score": []}).astype(
            {"docid": "int64", "score": "float64"}
        )
    docs = np.array([-d for _, d in heap], dtype=np.int64)
    scores = np.array([s for s, _ in heap])  # already rounded at insertion
    return pd.DataFrame({"docid": docs, "score": scores})


def wand_search(
    index: IndexTables,
    query,
    k: int = 10,
    round_dp: int = 4,
) -> DataFrame:
    """Top-k BM25 via the block-max WAND kernel. Same contract (and, by
    construction, same results) as search/bm25.search for term/boolean
    queries: DataFrame(docid, score) ordered score desc, docid asc."""
    if isinstance(query, str):
        query = BooleanQuery.of(must=[query])
    if isinstance(query, TermQuery):
        query = BooleanQuery(must=(query,))
    if not isinstance(query, BooleanQuery):
        raise TypeError(f"wand_search supports term/boolean queries, got {type(query)}")

    must = [t.term for t in query.must]
    should = [t.term for t in query.should]
    boosts = {t.term: t.boost for t in (*query.must, *query.should)}
    term_order = list(dict.fromkeys(must + should))
    if not term_order:
        raise ValueError("BooleanQuery needs at least one scoring clause")

    n = index.max_doc
    df_map = {t: r.df for t, r in query_term_stats(index, term_order).items()}
    term_meta = {}
    for t in term_order:
        df = df_map.get(t, 0)
        idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        term_meta[t] = (idf * 2.2, boosts.get(t, 1.0), t in must)

    spark = index.postings.sparkSession
    missing_must = [t for t in must if t not in df_map]
    if missing_must:
        return spark.createDataFrame([], "docid long, score double")

    avgdl = index.avgdl
    n_must = len(must)
    mm = query.minimum_should_match

    excl_terms = list(dict.fromkeys(t.term for t in query.must_not))

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        return _partition_topk(
            pdf, term_order, term_meta, n_must, mm, k, avgdl, round_dp,
            excl_terms,
        )

    # MUST_NOT terms' postings ride the same per-partition groups (a doc's
    # postings for every term live in its own partition/gen), so exclusion
    # happens inside the kernel BEFORE heap insertion — excluded docs must
    # not displace qualifying docs from a partition's top-k.
    seg = get_compressed(index).filter(
        F.col("term").isin(term_order + excl_terms)
    )
    # Streaming stores carry a generation column (one flush = one segment
    # generation, Lucene's DWPT-flush analog); docid ranges are disjoint
    # across generations, so running the kernel per (partition, gen) and
    # merging the per-group top-k keeps results exact.
    group_cols = ["index_partition"] + (["gen"] if "gen" in seg.columns else [])
    out = seg.groupBy(*group_cols).applyInPandas(
        kernel, "docid long, score double"
    )
    return out.orderBy(F.col("score").desc(), F.col("docid").asc()).limit(k)
