"""Incremental (near-real-time) indexing via Structured Streaming.

The reference's NRT surface re-expressed (SURVEY.md §2.10):

- DWPT flush -> segment (DocumentsWriterPerThread.java; DefaultIndexingChain
  .flush): each micro-batch becomes one **segment generation** — a gen=<n>
  directory of docs + compressed posting partitions.  Existing generations
  are never rewritten (Lucene segments are immutable).
- Soft commit / openIfChanged (DirectUpdateHandler2.java:93,108-132): the
  per-batch snapshot commit — readers that re-resolve HEAD see the new
  generation immediately.
- Transaction-log replay (UpdateLog.java:381-429): Structured Streaming's
  checkpoint — after a crash the source offsets replay and ``foreachBatch``
  re-runs idempotently (same batch -> same gen directory, overwritten).
- docBase (BaseCompositeReader): per-partition local-id bases carried in the
  snapshot give every new doc a docid above all earlier generations', so
  docid order == arrival order within a partition and posting lists across
  generations never interleave (the WAND kernel runs per (partition, gen)).

Scale shape: a micro-batch shuffles once (docid assignment by url-hash
partition), builds postings map-side per partition, and appends; the commit
is O(1) metadata.  Query cost grows with generation count — the compaction
analog (TieredMergePolicy) is rebuilding a gen range into one, left as the
store's offline maintenance job.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lucene_solr_spark.index.builder import DOCID_PARTITION_SHIFT, build_index
from lucene_solr_spark.pages import extract_text_expr, portable_url_hash
from lucene_solr_spark.store.store import (
    IndexStore,
    Snapshot,
    _append_lineage,
    _head,
    _merge_generations,
    _successor,
    _write_unit,
    delete_docids,
    load_index,
)

PAGES_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


class StreamingIndexer:
    """foreachBatch sink: pages micro-batches -> immutable segment generations."""

    def __init__(
        self,
        spark: SparkSession,
        store_root: str,
        num_index_partitions: int = 8,
        build_positions: bool = True,
    ):
        self.spark = spark
        self.store = IndexStore(store_root)
        self.P = num_index_partitions
        self.build_positions = build_positions

    # -- batch core (also callable directly for tests) ----------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> Snapshot | None:
        spark = self.spark
        snap = self.store.head()
        # Replay detection compares batch ids against BATCH history only:
        # the max_batch_id watermark survives compaction (which collapses
        # ``gens`` into a negative-id compacted generation), so a replayed
        # batch is skipped and a genuinely new batch id is never mistaken
        # for a committed one.
        if snap is not None:
            if snap.max_batch_id is not None:
                if int(batch_id) <= snap.max_batch_id:
                    return snap  # replayed batch after recovery
            elif snap.gens and int(batch_id) in snap.gens:
                return snap  # pre-watermark store: gens are batch ids
        bases = {int(k): int(v) for k, v in (snap.doc_bases or {}).items()} if snap else {}

        pid = (portable_url_hash(F.col("url")) % self.P).cast("int")
        # the local-ordinal sort key must be TOTAL: with a bare orderBy(url),
        # a re-crawled url appearing twice in one micro-batch gets its
        # row_number tie broken arbitrarily, and any recomputation of this
        # frame (uncached action, cache eviction) could swap the two docids
        # between the docs/segments/positions writes — content-hash tiebreak
        # makes every recomputation assign identically
        w = Window.partitionBy("index_partition").orderBy(
            "url", F.md5(F.col("html")), "lang"
        )
        base_expr = F.lit(0)
        for p, b in bases.items():
            base_expr = F.when(F.col("index_partition") == p, F.lit(b)).otherwise(base_expr)
        assigned = (
            batch_df.withColumn("index_partition", pid)
            .withColumn("_local", F.row_number().over(w) - 1 + base_expr)
            .withColumn(
                "docid",
                (
                    F.col("index_partition").cast("long")
                    * F.lit(1 << DOCID_PARTITION_SHIFT)
                    + F.col("_local")
                ).cast("long"),
            )
            .withColumn("extracted", extract_text_expr(F.col("html")))
            .select("docid", "url", "extracted", "lang", "index_partition")
        )
        # persist=True: the micro-batch feeds 3 writes + a stats collect —
        # without the build cache each action would re-run the tokenizer
        # pass (the batch path's 'read 3-4 times' rationale applies per
        # batch here); released in the finally below
        idx = build_index(
            spark,
            assigned,
            key_col="url",
            text_col="extracted",
            docid_col="docid",
            num_index_partitions=self.P,
            passthrough_cols=("lang",),
            persist=True,
            build_positions=self.build_positions,
        )
        try:
            return self._write_generation(idx, batch_id, snap, bases)
        finally:
            idx.unpersist()

    def _write_generation(
        self, idx, batch_id: int, snap: Snapshot | None, bases: dict
    ) -> Snapshot | None:
        spark = self.spark
        if idx.max_doc == 0:
            return snap

        gen = int(batch_id)
        t0 = time.perf_counter()
        _write_unit(self.store, idx.docs, idx.postings,
                    idx.positions_grouped or idx.positions, gen)
        wall = time.perf_counter() - t0

        # per-partition stats come from build_index's own stats job
        per_part = dict(idx.partition_stats or {})
        new_bases = dict(bases)
        for p, (n, _) in per_part.items():
            new_bases[p] = new_bases.get(p, 0) + n
        lineage_rows = [
            (p, "committed", n, s, wall / max(len(per_part), 1), gen)
            for p, (n, s) in sorted(per_part.items())
        ]
        _append_lineage(spark, self.store, lineage_rows)

        new_snap = _successor(
            snap,
            committed_partitions=sorted(
                set(snap.committed_partitions if snap else []) | set(per_part)
            ),
            num_index_partitions=self.P,
            max_doc=(snap.max_doc if snap else 0) + idx.max_doc,
            sum_total_term_freq=(snap.sum_total_term_freq if snap else 0)
            + idx.sum_total_term_freq,
            gens=sorted(set(snap.gens if snap and snap.gens else []) | {gen}),
            doc_bases={str(k): v for k, v in new_bases.items()},
            max_batch_id=max(
                int(batch_id),
                snap.max_batch_id if snap and snap.max_batch_id is not None else -1,
            ),
        )
        self.store.commit(new_snap)  # soft-commit: new gen visible to readers
        return new_snap

    # -- streaming wiring ---------------------------------------------------

    def start(
        self,
        input_path: str,
        checkpoint_dir: str,
        max_files_per_trigger: int | None = None,
        available_now: bool | None = None,
        commit_within_ms: int | None = None,
    ):
        """readStream(parquet pages) -> foreachBatch(process_batch).

        The CommitTracker analog (solr/core/.../update/CommitTracker.java:
        autoCommit maxTime/maxDocs): ``commit_within_ms`` = maxTime — a
        processing-time trigger bounding how long ingested docs wait before
        the generation that makes them searchable soft-commits;
        ``max_files_per_trigger`` bounds batch size (the maxDocs knob at
        file granularity).  ``available_now`` = drain-and-stop instead of a
        continuous schedule; it defaults to True and is mutually exclusive
        with ``commit_within_ms`` (a continuous trigger cannot also
        drain-and-stop) — passing both explicitly raises."""
        if commit_within_ms is not None and available_now:
            raise ValueError(
                "available_now and commit_within_ms are mutually exclusive"
            )
        if available_now is None:
            available_now = commit_within_ms is None
        reader = (
            self.spark.readStream.schema(PAGES_DDL).format("parquet")
        )
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        stream = reader.load(input_path)
        writer = (
            stream.writeStream.foreachBatch(
                lambda df, bid: (self.process_batch(df, bid), None)[1]
            )
            .option("checkpointLocation", checkpoint_dir)
        )
        if commit_within_ms is not None:
            writer = writer.trigger(processingTime=f"{int(commit_within_ms)} milliseconds")
        elif available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()


def compact_store(
    spark: SparkSession, root: str, max_merge_at_once: int | None = None
) -> Snapshot:
    """Merge committed segment generations (TieredMergePolicy / forceMerge,
    lucene/core/.../index/TieredMergePolicy.java:281-334).

    Default (``max_merge_at_once=None``) is forceMerge-all: decode every
    generation's postings, apply delete generations physically, re-encode
    into ONE new generation whose snapshot stats reflect live docs only, and
    clear the delete list.

    ``max_merge_at_once=N`` is the tiered mode (TieredMergePolicy.java:86
    maxMergeAtOnce): pick the N SMALLEST generations by doc count and merge
    only those, leaving the big ones alone — the amortized policy that keeps
    merge cost proportional to the small tail instead of the whole index.
    Tiered merges are pure concatenation: delete generations are NOT applied
    (they must keep masking the untouched generations) and stats are
    unchanged; a later full compaction drops deletes physically.

    Crash-safe either way: readers resolve generations through the snapshot,
    so a crash before the commit leaves the old snapshot intact and the
    half-written new gen invisible; a crash after the commit leaves the old
    generation dirs on disk, and readers ignore them.  They are not swept
    later: a sweep could not tell them from an in-flight batch's
    uncommitted generation.
    """
    store = IndexStore(root)
    snap = _head(store)
    gens = list(snap.gens or [])
    if max_merge_at_once is None:
        if len(gens) <= 1 and not snap.delete_gens:
            return snap
        return _merge_generations(spark, store, snap, gens, drop_deletes=True)
    if len(gens) <= 1 or max_merge_at_once < 2:
        return snap
    sizes = _generation_sizes(spark, root)
    merge = sorted(gens, key=lambda g: (sizes.get(g, 0), g))[:max_merge_at_once]
    return _merge_generations(spark, store, snap, merge, drop_deletes=False)


def _generation_sizes(spark: SparkSession, root: str) -> dict[int, int]:
    """Doc count per committed generation, deletes included (the merge
    policies' segment-size proxy)."""
    docs = load_index(spark, root, apply_deletes=False).docs
    return {
        int(r["gen"]): int(r["n"])
        for r in docs.groupBy("gen").agg(F.count(F.lit(1)).alias("n")).collect()
    }


def allowed_segment_count(
    sizes: list[int],
    segs_per_tier: int = 10,
    max_merge_at_once: int = 10,
    floor_docs: int = 1000,
) -> int:
    """TieredMergePolicy's allowed-segment budget (TieredMergePolicy.java:
    281-334): tiers are geometric size bands — segsPerTier segments allowed
    at the floor level, segsPerTier at maxMergeAtOnce× that size, and so on
    until the remaining index fits in fewer than segsPerTier segments.
    Sizes here are doc counts (the sandbox's segment-size proxy; Lucene uses
    byte sizes with deletes discounted)."""
    import math

    if not sizes:
        return 1
    total = float(sum(sizes))
    level = float(max(min(sizes), floor_docs))
    allowed = 0
    while True:
        cnt = total / level
        if cnt < segs_per_tier:
            allowed += math.ceil(cnt)
            break
        allowed += segs_per_tier
        total -= segs_per_tier * level
        level *= max_merge_at_once
    return max(allowed, 1)


def maintain_store(
    spark: SparkSession,
    root: str,
    segs_per_tier: int = 10,
    max_merge_at_once: int = 10,
    floor_docs: int = 1000,
) -> Snapshot:
    """The background-merge driver (ConcurrentMergeScheduler +
    TieredMergePolicy.findMerges): while the store holds more generations
    than the tiered budget allows, merge the ``max_merge_at_once`` smallest
    ones; stops when the generation profile is tiered.  Selection is
    smallest-N (a simplification of Lucene's skew-scored candidate windows,
    TieredMergePolicy.java:336-398 score()); each pass is the crash-safe
    tiered merge in compact_store."""
    if max_merge_at_once < 2:
        # a tiered compaction is a no-op below 2 — the loop would spin forever
        raise ValueError(f"max_merge_at_once must be >= 2, got {max_merge_at_once}")
    snap = _head(IndexStore(root))
    while len(snap.gens or []) > 1 and len(snap.gens) > allowed_segment_count(
        list(_generation_sizes(spark, root).values()),
        segs_per_tier, max_merge_at_once, floor_docs,
    ):
        snap = compact_store(spark, root, max_merge_at_once)
    return snap


def update_documents(
    spark: SparkSession, root: str, pages_df: DataFrame
) -> Snapshot:
    """updateDocument = atomic delete-by-key + add (IndexWriter.java:256ff
    updateDocument): delete any committed docs carrying the incoming urls,
    then index the new versions as a fresh generation.

    Intended for stores updated through this API or with the stream
    quiesced: the new generation consumes the next batch id, so a stream
    resumed from an older checkpoint would see that id as already committed.
    """
    # The incoming keys stay distributed: committed docs carrying any
    # incoming url are found with a semi-join and written straight into the
    # delete generation (a collected key list would OOM the driver on a
    # backfill-sized update batch).
    idx = load_index(spark, root, apply_deletes=False)
    matching = idx.docs.join(
        pages_df.select("url").distinct(), "url", "left_semi"
    ).select("docid")
    snap = delete_docids(spark, root, matching)
    next_bid = (
        snap.max_batch_id
        if snap.max_batch_id is not None
        else max((g for g in (snap.gens or []) if g >= 0), default=-1)
    ) + 1
    indexer = StreamingIndexer(spark, root, snap.num_index_partitions)
    return indexer.process_batch(pages_df, next_bid)
