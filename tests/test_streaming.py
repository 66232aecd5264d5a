"""Incremental Structured-Streaming indexing: per-batch segment generations,
soft-commit visibility, replay idempotency, equivalence to the batch build."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def pages(spark, sf_dir):
    from lucene_solr_spark.pages import pages_from_documents

    return pages_from_documents(spark, sf_dir).persist()


def _scores_by_url(index, term):
    """(url, score) for EVERY doc matching the term — docid-free invariant."""
    from lucene_solr_spark.search.bm25 import term_scores

    s = term_scores(index, [term]).select("docid", F.round("score", 4).alias("score"))
    return {
        (r.url, r.score)
        for r in s.join(index.docs.select("docid", "url"), "docid").collect()
    }


@pytest.fixture(scope="module")
def streamed(spark, pages, tmp_path_factory):
    """Run the stream over the pages split into two parquet files."""
    from lucene_solr_spark.streaming import StreamingIndexer

    base = tmp_path_factory.mktemp("stream")
    inp, ckpt, root = str(base / "in"), str(base / "ckpt"), str(base / "idx")
    doc_id = F.split(F.col("url"), "/doc/")[1].cast("long")
    pages.where(doc_id % 2 == 0).coalesce(1).write.parquet(f"{inp}/half_a")
    pages.where(doc_id % 2 == 1).coalesce(1).write.parquet(f"{inp}/half_b")

    indexer = StreamingIndexer(spark, root, num_index_partitions=8)
    q = indexer.start(
        f"{inp}/*", checkpoint_dir=ckpt, max_files_per_trigger=1,
        available_now=True,
    )
    q.awaitTermination(300)
    return indexer, root


def test_stream_commits_one_generation_per_batch(spark, streamed):
    indexer, root = streamed
    snap = indexer.store.head()
    assert snap is not None
    assert len(snap.gens) == 2  # two files, maxFilesPerTrigger=1
    assert snap.snapshot_id == 2


def test_streamed_index_equals_batch_build(spark, pages, streamed):
    from lucene_solr_spark.pages import build_index_from_pages
    from lucene_solr_spark.store import load_index

    _, root = streamed
    batch_idx = build_index_from_pages(spark, pages, num_index_partitions=8)
    stream_idx = load_index(spark, root)

    assert stream_idx.max_doc == batch_idx.max_doc
    assert stream_idx.sum_total_term_freq == batch_idx.sum_total_term_freq
    assert stream_idx.avgdl == batch_idx.avgdl

    # identical per-term stats
    a = sorted(map(tuple, stream_idx.segments.select("term", "df", "cf").collect()))
    b = sorted(map(tuple, batch_idx.segments.select("term", "df", "cf").collect()))
    assert a == b

    # identical (url, score) sets — docids differ (arrival order vs global
    # rank) but scores are docid-independent
    for term in ("table", "vector", "merge"):
        assert _scores_by_url(stream_idx, term) == _scores_by_url(batch_idx, term)


def test_wand_over_streamed_generations(spark, streamed):
    """The WAND kernel must handle multiple generations per partition
    (per-(partition, gen) groups with disjoint docid ranges)."""
    from lucene_solr_spark.search.wand import wand_search
    from lucene_solr_spark.store import load_index

    _, root = streamed
    idx = load_index(spark, root)
    got = wand_search(idx, "table", k=10).collect()
    assert len(got) == 10
    # same results as the Catalyst path over the same streamed index
    from lucene_solr_spark.search import search

    expected = [(r.docid, r.score) for r in search(idx, "table", k=10).collect()]
    assert [(r.docid, r.score) for r in got] == expected


def test_batch_replay_is_idempotent(spark, pages, streamed):
    indexer, root = streamed
    before = indexer.store.head()
    # re-deliver gen 0 (simulates foreachBatch replay after recovery)
    doc_id = F.split(F.col("url"), "/doc/")[1].cast("long")
    snap = indexer.process_batch(pages.where(doc_id % 2 == 0), 0)
    assert snap.snapshot_id == before.snapshot_id
    assert snap.max_doc == before.max_doc


def test_compaction_preserves_results(spark, streamed):
    """forceMerge analog: all generations -> one; queries unchanged."""
    from lucene_solr_spark.search import BooleanQuery, search
    from lucene_solr_spark.search.wand import wand_search
    from lucene_solr_spark.store import load_index
    from lucene_solr_spark.streaming import compact_store

    indexer, root = streamed
    before_idx = load_index(spark, root)
    q = BooleanQuery.of(must=["table"], should=["merge", "scan"])
    before = [(r.docid, r.score) for r in search(before_idx, q, k=10).collect()]
    seg_before = sorted(
        map(tuple, before_idx.segments.select("term", "df", "cf").collect())
    )

    snap = compact_store(spark, root)
    assert len(snap.gens) == 1
    after_idx = load_index(spark, root)
    assert after_idx.max_doc == before_idx.max_doc
    assert sorted(
        map(tuple, after_idx.segments.select("term", "df", "cf").collect())
    ) == seg_before
    assert [(r.docid, r.score) for r in search(after_idx, q, k=10).collect()] == before
    assert [
        (r.docid, r.score) for r in wand_search(after_idx, q, k=10).collect()
    ] == before
    # idempotent: single-gen store is a no-op
    assert compact_store(spark, root).snapshot_id == snap.snapshot_id


def test_soft_commit_visibility_after_first_batch(spark, pages, tmp_path):
    """After one batch, readers see exactly that batch (NRT visibility)."""
    from lucene_solr_spark.store import load_index
    from lucene_solr_spark.streaming import StreamingIndexer

    root = str(tmp_path / "idx1")
    indexer = StreamingIndexer(spark, root, num_index_partitions=4)
    doc_id = F.split(F.col("url"), "/doc/")[1].cast("long")
    first = pages.where(doc_id < 100)
    indexer.process_batch(first, 0)
    idx = load_index(spark, root)
    assert idx.max_doc == first.count()
    assert idx.docs.count() == idx.max_doc


def test_batch_after_compaction_not_dropped(spark, pages, streamed):
    """After compacting batches 0..N-1 the next streaming batch id is N; a
    max(gens)+1 compacted-gen id would collide with it and silently drop the
    micro-batch.  Compacted gens are negative and replay detection uses the
    max_batch_id watermark, so batch N commits and old ids still skip."""
    from lucene_solr_spark.store import load_index
    from lucene_solr_spark.streaming import compact_store

    indexer, root = streamed
    compact_store(spark, root)  # no-op if the earlier test already compacted
    before = indexer.store.head()
    assert before.gens == [-1]
    assert before.max_batch_id == 1

    doc_id = F.split(F.col("url"), "/doc/")[1].cast("long")
    # replayed old batch id: still skipped after compaction
    s = indexer.process_batch(pages.where(doc_id % 2 == 1), 1)
    assert s.snapshot_id == before.snapshot_id
    assert s.max_doc == before.max_doc

    # batch id 2 == old max(gens)+1: must be indexed, not mistaken for replay
    extra = pages.where(doc_id < 5)
    n_extra = extra.count()
    assert n_extra > 0
    s2 = indexer.process_batch(extra, 2)
    assert s2.snapshot_id == before.snapshot_id + 1
    assert s2.max_doc == before.max_doc + n_extra
    assert sorted(s2.gens) == [-1, 2]
    assert s2.max_batch_id == 2
    idx = load_index(spark, root)
    assert idx.max_doc == s2.max_doc


def test_tiered_compaction_merges_smallest_only(spark, pages, streamed):
    """TieredMergePolicy mode: merge the N smallest generations, leave the
    rest; stats and delete semantics untouched (pure concatenation)."""
    from lucene_solr_spark.store import load_index
    from lucene_solr_spark.streaming import compact_store
    from lucene_solr_spark.streaming.incremental import StreamingIndexer

    indexer, root = streamed
    before = indexer.store.head()
    # add two tiny generations on top of whatever state earlier tests left
    doc_id = F.split(F.col("url"), "/doc/")[1].cast("long")
    nb = before.max_batch_id
    s1 = indexer.process_batch(pages.where(doc_id < 3), nb + 1)
    s2 = indexer.process_batch(pages.where((doc_id >= 3) & (doc_id < 6)), nb + 2)
    assert len(s2.gens) >= 3
    total_before = load_index(spark, root).docs.count()

    snap = compact_store(spark, root, max_merge_at_once=2)
    # two smallest gens merged into one: net gen count shrinks by exactly 1
    assert len(snap.gens) == len(s2.gens) - 1
    assert snap.max_doc == s2.max_doc  # stats untouched by tiered merge
    after = load_index(spark, root)
    assert after.docs.count() == total_before


def test_streamed_positions_phrase_equals_batch(spark, pages, tmp_path):
    """Each micro-batch persists a positions generation; phrase queries over
    the loaded streaming store equal the in-memory batch build — including
    after a full compaction (which re-encodes the positions layer)."""
    from lucene_solr_spark.pages import build_index_from_pages
    from lucene_solr_spark.search import PhraseQuery, search
    from lucene_solr_spark.store import load_index
    from lucene_solr_spark.streaming import (
        StreamingIndexer,
        compact_store,
    )

    root = str(tmp_path / "idx_pos")
    indexer = StreamingIndexer(spark, root, num_index_partitions=4)
    doc_id = F.split(F.col("url"), "/doc/")[1].cast("long")
    indexer.process_batch(pages.where(doc_id % 2 == 0), 0)
    indexer.process_batch(pages.where(doc_id % 2 == 1), 1)
    mem = build_index_from_pages(
        spark, pages, num_index_partitions=4, build_positions=True
    )

    def by_url(idx):
        out = search(idx, PhraseQuery(("table", "scan")), k=10)
        return sorted(
            (r.url, r.score)
            for r in out.join(idx.docs.select("docid", "url"), "docid").collect()
        )

    # docids differ between arrival-order and batch assignment; compare by url
    loaded = load_index(spark, root)
    assert loaded.positions is not None
    want = by_url(mem)
    got = by_url(loaded)
    assert [u for u, _ in got] and got == want

    compact_store(spark, root)
    compacted = load_index(spark, root)
    assert compacted.positions is not None
    assert by_url(compacted) == want


def test_allowed_segment_count_tiers():
    from lucene_solr_spark.streaming import allowed_segment_count

    # 12 equal tiny gens, 3 per tier, merge factor 3: floor tier allows 3,
    # next tier (3x) allows 3, remainder fits -> budget well under 12
    assert allowed_segment_count([100] * 12, 3, 3, floor_docs=100) < 12
    # a tiered profile (3 floor-size + one 9x) is within budget
    assert allowed_segment_count([100, 100, 100, 900], 3, 3, floor_docs=100) >= 4
    # single giant segment: always allowed
    assert allowed_segment_count([10**9], 10, 10) == 1


def test_maintain_store_merges_until_tiered(spark, pages, tmp_path):
    """findMerges driver: repeated smallest-N tiered merges until the
    generation profile fits the tier budget; results unchanged."""
    from lucene_solr_spark.search import BooleanQuery, search
    from lucene_solr_spark.store import load_index
    from lucene_solr_spark.streaming import (
        StreamingIndexer,
        maintain_store,
    )

    root = str(tmp_path / "idx_tier")
    indexer = StreamingIndexer(
        spark, root, num_index_partitions=4, build_positions=False
    )
    doc_id = F.split(F.col("url"), "/doc/")[1].cast("long")
    for b in range(6):  # six small generations
        indexer.process_batch(pages.where(doc_id % 6 == b), b)
    before_idx = load_index(spark, root)
    q = BooleanQuery.of(must=["table"])
    before = [(r.docid, r.score) for r in search(before_idx, q, k=10).collect()]

    snap = maintain_store(spark, root, segs_per_tier=2, max_merge_at_once=3,
                          floor_docs=10)
    assert len(snap.gens) < 6
    sizes_ok = load_index(spark, root)
    assert sizes_ok.max_doc == before_idx.max_doc
    after = [(r.docid, r.score) for r in search(sizes_ok, q, k=10).collect()]
    assert after == before


def test_commit_within_processing_time_trigger(spark, pages, tmp_path):
    """CommitTracker maxTime analog: a commit_within_ms stream soft-commits
    on a processing-time schedule and drains the same data."""
    import time

    from lucene_solr_spark.store import load_index
    from lucene_solr_spark.streaming import StreamingIndexer

    src = str(tmp_path / "in")
    subset = pages.orderBy("url").limit(30)
    n_docs = subset.count()
    subset.coalesce(1).write.parquet(src)
    root = str(tmp_path / "store")
    indexer = StreamingIndexer(spark, root, num_index_partitions=2)
    q = indexer.start(
        src, str(tmp_path / "ckpt"), available_now=False, commit_within_ms=500
    )
    try:
        deadline = time.time() + 120
        head = None
        while time.time() < deadline:
            head = indexer.store.head()
            if head is not None:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination(60)
    assert head is not None, "stream never soft-committed a generation"
    idx = load_index(spark, root)
    assert idx.max_doc == n_docs


def test_commit_within_excludes_available_now(spark, tmp_path):
    from lucene_solr_spark.streaming import StreamingIndexer

    indexer = StreamingIndexer(spark, str(tmp_path / "s"), num_index_partitions=2)
    with pytest.raises(ValueError, match="mutually exclusive"):
        indexer.start(
            str(tmp_path / "in"), str(tmp_path / "c"),
            available_now=True, commit_within_ms=500,
        )
