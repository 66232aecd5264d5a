"""Inverted-index construction, Spark-first.

Reference semantics re-expressed (Apache Lucene/Solr 4.10.5, /root/reference):

- Per-doc inversion (DefaultIndexingChain.java:296,589-668): here a JVM-side
  ``regexp_extract_all`` + ``posexplode`` + hash aggregate — no Python in the
  hot loop.
- Norms (DefaultIndexingChain.java:574-580, BM25Similarity.java:95-140):
  ``norm_byte = floatToByte315(1/sqrt(num_terms))`` — realized as a broadcast
  integer-range join against the precomputed dl-range table, exact by
  construction (see smallfloat.norm_byte_dl_ranges).
- Doc routing / docids: Lucene's per-segment dense ordinals
  (BaseCompositeReader docBase) become ``docid = index_partition << 32 | local``
  where the index partition is a *content hash* (like SolrCloudPartitioner /
  CompositeIdRouter murmur3 routing) and ``local`` is the row's rank by key
  within the partition.  Crucially this is independent of cluster parallelism:
  the same input yields byte-identical docids at local[8] and local[1000].
- Segment build + mtree merge (MapReduceIndexerTool.java:322-351): stage 1
  aggregates per (term, index_partition) — a *natural salt* that bounds any
  single reducer's work under head-term skew — and completes map-side because
  the data is already hash-partitioned by partition id; stage 2 shuffles one
  pre-aggregated row per (term, partition) and concatenates the runs, which
  are globally sorted because docid ranges are disjoint and ordered by
  partition id.  No per-element re-sort is needed.

Execution-shape notes for 100 TB: exactly two wide shuffles
(docid assignment by partition id; term merge of pre-aggregated runs), both
over columns with controlled skew.  Everything between them is map-side.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lucene_solr_spark.analysis.analyzer import (
    multivalued_positioned_tokens_expr,
    multivalued_tokens_expr,
    positioned_tokens_expr,
    tokens_expr,
)
from lucene_solr_spark.smallfloat import norm_byte_dl_ranges

K1 = 1.2
B = 0.75

DOCID_PARTITION_SHIFT = 32


@dataclass
class IndexTables:
    """The engine's index: Lucene's segment structures as DataFrames.

    docs      — the "stored fields + docvalues + norms" table:
                docid, <key>, num_terms, norm_byte, dl_approx, passthrough cols
    postings  — exploded postings (term, docid, tf, dl_approx): the scoring
                source for the Catalyst-native query path AND for the
                compressed/codec + WAND kernel path (compress.py)
    segments  — the term dictionary with per-term stats (term, df, cf);
                bounded-width rows, safe at any corpus size
    stats     — collection stats: max_doc, sum_total_term_freq, avgdl
                (avgdl computed float32 like BM25Similarity.java:82-87)
    """

    docs: DataFrame
    postings: DataFrame
    segments: DataFrame
    max_doc: int
    sum_total_term_freq: int
    avgdl: float  # float32-rounded, as a Python float
    positions: DataFrame | None = None  # (docid, term, pos, dl_approx) if built
    # per-index-partition (n_docs, sum_num_terms), collected by the same
    # stats job that computes max_doc/avgdl — the store's lineage rows read
    # these instead of running a second aggregate over the docs cache
    partition_stats: dict | None = None
    # pre-aggregated positions: one row per (index_partition, docid, term)
    # with tf + sorted position array — what the positions codec shuffles
    # (~df rows, not ~cf occurrences); ``positions`` is an exploded view of it
    positions_grouped: DataFrame | None = None
    # the exact DataFrame objects build_index persisted.  ``docs`` is a
    # projection OVER the persisted frame (the cache keeps the tokenized
    # array column; the public table drops it), and DataFrame.unpersist is a
    # no-op on derived plans — callers must release through THESE handles or
    # the tokenized cache (the largest object in a build) leaks per build.
    cached: tuple = ()

    def term_stats(self) -> DataFrame:
        return self.segments.select("term", "df", "cf")

    def unpersist(self) -> None:
        """Release every cache this build holds (see ``cached``)."""
        for df in self.cached:
            df.unpersist()


def _norm_ranges_df(spark: SparkSession, max_dl: int = 1 << 40) -> DataFrame:
    rows = [(lo, hi, b, float(dl)) for lo, hi, b, dl in norm_byte_dl_ranges(max_dl)]
    return spark.createDataFrame(rows, "dl_lo long, dl_hi long, norm_byte int, dl_approx double")


def assign_docids(
    df: DataFrame,
    key_col: str,
    num_index_partitions: int = 32,
) -> DataFrame:
    """Deterministic docid assignment, parallelism-invariant.

    partition = pmod(xxhash64(key), P); local = rank of key within partition.
    docid = partition << 32 | local. Matches the reference's content-hash doc
    routing (CompositeIdRouter.java:46-55) + per-segment ordinals.
    """
    pid = F.pmod(F.xxhash64(F.col(key_col)), F.lit(num_index_partitions)).cast("int")
    w = Window.partitionBy("_pid").orderBy(key_col)
    return (
        df.withColumn("_pid", pid)
        .withColumn("_local", F.row_number().over(w) - F.lit(1))
        .withColumn(
            "docid",
            (F.col("_pid").cast("long") * F.lit(1 << DOCID_PARTITION_SHIFT)
             + F.col("_local")).cast("long"),
        )
        .drop("_local")
        .withColumnRenamed("_pid", "index_partition")
    )


def _apply_term_map(occ: DataFrame, term_map) -> DataFrame:
    """Apply a vocabulary-level term dictionary (e.g. Porter stems) to an
    exploded occurrence frame.  The dictionary holds CHANGED terms only;
    identity terms fall through the left join.  Broadcast keeps the
    occurrence frame's partition clustering intact — the downstream
    (index_partition, docid, term) aggregation stays shuffle-free."""
    tmap = term_map(occ.select("term").distinct())
    return (
        occ.join(F.broadcast(tmap), "term", "left")
        .withColumn("term", F.coalesce("new_term", "term"))
        .drop("new_term")
    )


def build_index(
    spark: SparkSession,
    source: DataFrame,
    key_col: str,
    text_col: str = "text",
    docid_col: str | None = None,
    num_index_partitions: int = 32,
    passthrough_cols: tuple[str, ...] = (),
    persist: bool = True,
    build_positions: bool = False,
    term_map=None,
    multivalued: bool = False,
    position_increment_gap: int = 100,
    positioned_tokens_col=None,
) -> IndexTables:
    """Build the index tables from a source table.

    ``docid_col``: if the source already carries a unique integer id (e.g. the
    testdata ``documents.doc_id``), use it directly as the docid so external
    oracles can address the same documents; the index partition then derives
    from the id.  Otherwise docids are assigned content-deterministically from
    ``key_col``.

    ``term_map``: optional vocabulary-level token-filter stage (e.g. the
    Porter stemmer, analysis/stemmer.py) — a callable from a distinct-term
    frame (column ``term``) to a (term, new_term) dictionary of CHANGED
    terms.  Applied post-explode via a broadcast left-join + coalesce, so
    the per-occurrence hot path stays JVM-side and the index_partition
    clustering survives (a shuffle join on term would destroy it).  Doc
    length/norms are computed pre-map: a 1:1 token transform never changes
    dl, matching Lucene where norms come from the full filter-chain token
    count and stemming is 1:1.

    ``multivalued``: the text column is ``array<string>`` (Solr
    multiValued=true, FieldInfo.java:91-119 SORTED_SET analog): each value
    analyzes independently, dl/norms come from the total emitted token
    count, and positions carry ``position_increment_gap`` between values
    (DefaultIndexingChain.java:668-699) so phrases never match across value
    boundaries.

    ``positioned_tokens_col``: a caller-supplied replacement for the whole
    positioned analyzer chain — any Column producing
    ``array<struct<pos:int,term:string>>`` over this row (e.g. the synonym
    chain's Arrow UDF, analysis/synonyms.py).  Requires
    ``build_positions=True``; dl/norms derive from the emitted token count
    exactly as with the built-in chain."""
    if positioned_tokens_col is not None and not build_positions:
        raise ValueError("positioned_tokens_col requires build_positions=True")
    cols = [key_col, text_col, *passthrough_cols]
    if "index_partition" in source.columns:
        cols.append("index_partition")
    if docid_col and docid_col not in cols:
        cols.append(docid_col)
    src = source.select(*dict.fromkeys(cols))

    if docid_col:
        base = src.withColumn("docid", F.col(docid_col).cast("long"))
        if "index_partition" not in src.columns:
            # docids without a pre-assigned segment: route by docid hash
            base = base.withColumn(
                "index_partition",
                F.pmod(F.col("docid"), F.lit(num_index_partitions)).cast("int"),
            )
        # co-locate by index partition once; downstream aggs reuse this layout
        base = base.repartition(num_index_partitions, "index_partition")
    else:
        base = assign_docids(src, key_col, num_index_partitions)

    doc_cols = ["docid", key_col, "index_partition", "num_terms", "norm_byte",
                "dl_approx", *[c for c in passthrough_cols if c != key_col]]
    norm_ranges = F.broadcast(_norm_ranges_df(spark))
    positions_grouped = None

    if build_positions:
        # Tokenize ONCE, pipelined straight into the inversion aggregate —
        # no token-array cache at all.  Caching the positioned-token arrays
        # was measured to ANTI-scale (a full-corpus columnar cache write of
        # the token stream saturates memory bandwidth; it cost more at 4
        # executors than at 1).  Instead the single tokenizer pass feeds one
        # partition-local aggregation per (partition, docid, term) producing
        # tf + the sorted position list; everything else derives from that
        # grouped frame:
        #   - postings  = scalar projection (tf materialized at agg time)
        #   - positions = lazy explode of the arrays
        #   - num_terms = window sum(tf) per doc, partition-local
        #   - docs      = slim join of base against per-doc lengths
        # Downstream, the positions codec shuffles ~df pre-aggregated rows
        # instead of ~cf raw occurrences (~10x less volume on web text) —
        # the map-side-combine discipline the postings path always had.
        if positioned_tokens_col is not None:
            pts = F.coalesce(
                positioned_tokens_col,
                F.array().cast("array<struct<pos:int,term:string>>"),
            )
        elif multivalued:
            pts = F.coalesce(
                multivalued_positioned_tokens_expr(
                    F.col(text_col), gap=position_increment_gap
                ),
                F.array().cast("array<struct<pos:int,term:string>>"),
            )
        else:
            pts = F.coalesce(positioned_tokens_expr(F.col(text_col)), F.array())
        occ = base.select(
            "index_partition", "docid", F.explode(pts).alias("_pt")
        ).select(
            "index_partition", "docid",
            F.col("_pt.term").alias("term"), F.col("_pt.pos").alias("pos"),
        )
        if term_map is not None:
            occ = _apply_term_map(occ, term_map)
        if positioned_tokens_col is not None:
            # discountOverlaps (BM25Similarity.java computeNorm: dl = length
            # - numOverlap, the DEFAULT): stacked tokens (posInc 0 — synonym
            # graphs) never count toward dl/norms, so num_terms counts
            # OCCUPIED POSITIONS.  Partition-local window on the existing
            # clustering — no shuffle; the built-in chains are 1:1
            # token-per-position so they keep the free sum(tf) path.
            wpos = Window.partitionBy("index_partition", "docid", "pos").orderBy(
                "term"
            )
            occ = occ.withColumn(
                "_novl", (F.row_number().over(wpos) == 1).cast("int")
            )
        else:
            occ = occ.withColumn("_novl", F.lit(1))
        w = Window.partitionBy("index_partition", "docid")
        positions_grouped = (
            occ.groupBy("index_partition", "docid", "term")
            .agg(
                F.count(F.lit(1)).cast("int").alias("tf"),
                F.array_sort(F.collect_list("pos")).alias("poss"),
                F.sum("_novl").alias("_np"),
            )
            .withColumn("num_terms", F.sum("_np").over(w).cast("int"))
            .join(
                norm_ranges,
                (F.col("num_terms") >= F.col("dl_lo"))
                & (F.col("num_terms") <= F.col("dl_hi")),
                "left",
            )
            .drop("dl_lo", "dl_hi")
        )
        if persist:
            positions_grouped = positions_grouped.persist()
        # tf/dl are materialized scalars in the grouped frame, so these
        # projections never touch the position arrays (columnar cache prunes)
        postings = positions_grouped.select(
            "index_partition", "docid", "term", "tf", "dl_approx"
        )
        doc_lens = positions_grouped.groupBy("index_partition", "docid").agg(
            F.first("num_terms").alias("num_terms"),
            F.first("norm_byte").alias("norm_byte"),
            F.first("dl_approx").alias("dl_approx"),
        )
        docs_out = (
            base.join(doc_lens, ["index_partition", "docid"], "left")
            # zero-token docs never reach the explode: norm byte 255 (Lucene
            # encodes 1/sqrt(0)=inf -> 255), astronomically large dl_approx —
            # such docs never match.
            .withColumn("num_terms", F.coalesce(F.col("num_terms"), F.lit(0)))
            .withColumn("norm_byte", F.coalesce(F.col("norm_byte"), F.lit(255)))
            .withColumn(
                "dl_approx", F.coalesce(F.col("dl_approx"), F.lit(float("inf")))
            )
            .select(*dict.fromkeys(doc_cols))
        )
        if persist:
            docs_out = docs_out.persist()
    else:
        if multivalued:
            toks = F.coalesce(
                multivalued_tokens_expr(F.col(text_col)), F.array()
            )
        else:
            toks = F.coalesce(tokens_expr(F.col(text_col)), F.array())
        with_tokens = base.withColumn("_tokens", toks).withColumn(
            "num_terms", F.size("_tokens")
        )
        docs = (
            with_tokens.join(
                norm_ranges,
                (F.col("num_terms") >= F.col("dl_lo"))
                & (F.col("num_terms") <= F.col("dl_hi")),
                "left",
            )
            # num_terms == 0 -> norm byte 255 (Lucene encodes 1/sqrt(0)=inf ->
            # 255); dl_approx for byte 255 is astronomically large; such docs
            # never match.
            .withColumn("norm_byte", F.coalesce(F.col("norm_byte"), F.lit(255)))
            .withColumn(
                "dl_approx", F.coalesce(F.col("dl_approx"), F.lit(float("inf")))
            )
            .drop("dl_lo", "dl_hi")
        )
        # cache the token array: docs stats and the inversion both read it,
        # so the cached docs table is the only tokenizer run
        docs_out = docs.select(*dict.fromkeys(doc_cols), "_tokens")
        if persist:
            docs_out = docs_out.persist()

    # ---- inversion: one row per (docid, term) with tf ----------------------
    # Rows are clustered by index_partition ⊇ docid, so the groupBy needs no
    # extra shuffle (HashPartitioning(index_partition) from the repartition /
    # window satisfies ClusteredDistribution(docid, term) only via docid; keep
    # docid grouping local by grouping on (index_partition, docid, term)).
    if not build_positions:
        exploded = docs_out.select(
            "index_partition", "docid", "dl_approx",
            F.explode("_tokens").alias("term"),
        )
        if term_map is not None:
            exploded = _apply_term_map(exploded, term_map)
        postings = (
            exploded.groupBy("index_partition", "docid", "term")
            .agg(F.count(F.lit(1)).cast("int").alias("tf"),
                 F.first("dl_approx").alias("dl_approx"))
        )
        if persist:
            postings = postings.persist()

    # ---- term dictionary + per-term stats -----------------------------------
    # One bounded-width row per term: (term, df, cf) — a plain two-phase
    # (map-side partial + merge) hash aggregate, the same shape the persisted
    # store exposes (store.load_index).  The per-term global posting ARRAYS
    # that used to live here are gone from the default build: at web scale a
    # head term's posting list is a multi-GB single row (executor OOM).  The
    # scale path keeps postings encoded per
    # (partition, term-bucket) in the compressed codec tables (compress.py);
    # global arrays remain available for CheckIndex/tests via
    # ``segment_arrays``.
    segments = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("int").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
    )
    if persist:
        segments = segments.persist()

    # optional positions index (DOCS_AND_FREQS_AND_POSITIONS, FieldInfo.java:56-84)
    # — the per-occurrence view the phrase/span query kernels consume, derived
    # lazily from the cached grouped frame (no tokenizer re-run, never
    # separately cached: the grouped frame is the single cache)
    positions = None
    if build_positions:
        positions = positions_grouped.select(
            "index_partition", "docid", "dl_approx", "term",
            F.explode("poss").alias("pos"),
        ).select("index_partition", "docid", "dl_approx", "pos", "term")

    # one stats job, grouped by index partition (a few dozen result rows):
    # totals derive driver-side, and the per-partition splits feed the
    # store's lineage rows for free (no second aggregate over the cache)
    part_rows = (
        docs_out.groupBy("index_partition")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("num_terms"), F.lit(0)).alias("s"),
        )
        .collect()
    )
    partition_stats = {
        int(r["index_partition"]): (int(r["n"]), int(r["s"])) for r in part_rows
    }
    n = sum(v[0] for v in partition_stats.values())
    sum_ttf = sum(v[1] for v in partition_stats.values())
    avgdl = float(np.float32(sum_ttf / n)) if n else 0.0  # BM25Similarity.java:82-87

    cached = []
    if persist:
        cached = [docs_out, segments]
        cached.append(positions_grouped if build_positions else postings)

    return IndexTables(
        docs=docs_out.drop("_tokens", "_pts"),
        postings=postings,
        segments=segments,
        max_doc=n,
        sum_total_term_freq=sum_ttf,
        avgdl=avgdl,
        positions=positions,
        positions_grouped=positions_grouped,
        partition_stats=partition_stats,
        cached=tuple(cached),
    )


def segment_arrays(index: IndexTables, terms: list[str] | None = None) -> DataFrame:
    """Global per-term posting arrays (term, df, cf, doc_ids, tfs, dl_approxs)
    via the mtree merge (MapReduceIndexerTool.java:322-351): per-(term,
    partition) sorted runs concatenated in first-docid order, final array_sort
    for interleaved docid ranges.

    TEST/DIAGNOSTIC ONLY: a head term's global posting list is one unbounded
    row — at web scale this shape OOMs an executor, which is why the default
    build keeps only (term, df, cf) and the query kernels read the
    per-(partition, bucket) compressed tables.  Pass ``terms`` to bound the
    work to a term subset."""
    p = index.postings
    if terms is not None:
        p = p.filter(F.col("term").isin(list(terms)))
    runs = (
        p.groupBy("term", "index_partition")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("docid", "tf", "dl_approx"))
            ).alias("run"),
            F.count(F.lit(1)).cast("int").alias("run_df"),
            F.sum("tf").alias("run_cf"),
        )
        .withColumn("first_docid", F.col("run")[0]["docid"])
    )
    merged = runs.groupBy("term").agg(
        F.sum("run_df").cast("int").alias("df"),
        F.sum("run_cf").cast("long").alias("cf"),
        F.array_sort(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("first_docid", "run"))),
                    lambda s: s["run"],
                )
            )
        ).alias("plist"),
    )
    return merged.select(
        "term", "df", "cf",
        F.transform("plist", lambda s: s["docid"]).alias("doc_ids"),
        F.transform("plist", lambda s: s["tf"]).alias("tfs"),
        F.transform("plist", lambda s: s["dl_approx"]).alias("dl_approxs"),
    )


def verify_index(index: IndexTables) -> dict:
    """CheckIndex analog (lucene/core/.../index/CheckIndex.java): structural
    invariants over the built tables. Returns a dict of violation counts —
    all zero on a healthy index.  Builds global posting arrays via
    ``segment_arrays`` — diagnostic tool, not part of the query path."""
    seg = segment_arrays(index)
    bad = seg.select(
        F.sum((F.size("doc_ids") != F.col("df")).cast("int")).alias("df_mismatch"),
        F.sum(
            (F.aggregate("tfs", F.lit(0).cast("long"), lambda a, x: a + x) != F.col("cf")).cast("int")
        ).alias("cf_mismatch"),
        F.sum(
            F.exists(
                F.zip_with("doc_ids", F.slice("doc_ids", 2, 2147483646),
                           lambda a, b: F.coalesce(b <= a, F.lit(False))),
                lambda x: x,
            ).cast("int")
        ).alias("unsorted"),
        F.sum(F.exists("tfs", lambda t: t <= 0).cast("int")).alias("nonpositive_tf"),
    ).collect()[0]
    post_count = index.postings.count()
    df_total = seg.agg(F.sum("df")).collect()[0][0] or 0
    out = {k: int(bad[k] or 0) for k in bad.asDict()}
    out["postings_vs_df"] = int(post_count - df_total)
    return out
