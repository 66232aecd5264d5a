"""Deletes and updates through the store: delete generations applied at read
time (liveDocs semantics — stats unchanged until merge), update =
delete-by-key + new generation, compaction physically drops deleted docs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def pages(spark, sf_dir):
    from lucene_solr_spark.pages import pages_from_documents

    return pages_from_documents(spark, sf_dir).persist()


def _topk(index, q, k=10):
    from lucene_solr_spark.search import search

    return [(r.docid, r.score) for r in search(index, q, k=k).collect()]


@pytest.fixture()
def batch_store(spark, pages, tmp_path):
    from lucene_solr_spark.store import build_pages_to_store

    root = str(tmp_path / "idx")
    build_pages_to_store(spark, pages, root, num_index_partitions=8)
    return root


def test_delete_by_term_excludes_docs_keeps_stats(spark, batch_store):
    from lucene_solr_spark.search import BooleanQuery
    from lucene_solr_spark.store import delete_by_term, load_index

    before = load_index(spark, batch_store)
    want = _topk(before, BooleanQuery.of(must=["table"], must_not=["slow"]))

    snap = delete_by_term(spark, batch_store, "slow")
    assert snap.delete_gens == [1]
    after = load_index(spark, batch_store)
    # stats untouched until merge (Lucene liveDocs semantics)
    assert after.max_doc == before.max_doc
    assert after.avgdl == before.avgdl
    # same scores as MUST_NOT against the undeleted index (df also unchanged)
    assert _topk(after, "table") == want
    # deleted docs gone from docs/postings views
    assert after.postings.filter(F.col("term") == "slow").count() == 0
    slow_docs = before.postings.filter(F.col("term") == "slow").select("docid")
    assert after.docs.join(slow_docs, "docid").count() == 0


def test_delete_by_key_and_snapshot_roundtrip(spark, batch_store):
    from lucene_solr_spark.store import IndexStore, delete_by_key, load_index

    before = load_index(spark, batch_store)
    victims = [r.url for r in before.docs.select("url").limit(3).collect()]
    snap = delete_by_key(spark, batch_store, victims, key_col="url")
    assert snap.delete_gens == [1]
    # snapshot JSON roundtrip preserves delete_gens
    reloaded = IndexStore(batch_store).head()
    assert reloaded.delete_gens == [1]
    after = load_index(spark, batch_store)
    assert after.docs.filter(F.col("url").isin(victims)).count() == 0
    assert after.docs.count() == before.docs.count() - 3
    # second delete gets its own generation
    more = [r.url for r in after.docs.select("url").limit(1).collect()]
    assert delete_by_key(spark, batch_store, more).delete_gens == [1, 2]


@pytest.fixture()
def stream_store(spark, pages, tmp_path):
    from lucene_solr_spark.streaming import StreamingIndexer

    root = str(tmp_path / "sidx")
    indexer = StreamingIndexer(spark, root, num_index_partitions=4)
    doc_id = F.split(F.col("url"), "/doc/")[1].cast("long")
    indexer.process_batch(pages.where(doc_id % 2 == 0), 0)
    indexer.process_batch(pages.where(doc_id % 2 == 1), 1)
    return root


def test_update_documents_replaces_content(spark, pages, stream_store):
    from lucene_solr_spark.store import load_index
    from lucene_solr_spark.streaming import update_documents

    before = load_index(spark, stream_store)
    victim = before.docs.select("url").orderBy("url").limit(1).collect()[0].url
    n_before = before.docs.count()

    new_pages = pages.where(F.col("url") == victim).withColumn(
        "html",
        F.encode(
            F.lit("<html><body><p>zzzupdated unique replacement text</p></body></html>"),
            "utf-8",
        ),
    )
    snap = update_documents(spark, stream_store, new_pages)
    assert snap.delete_gens == [1]
    after = load_index(spark, stream_store)
    # same live doc count: one deleted, one re-added
    assert after.docs.count() == n_before
    assert after.docs.filter(F.col("url") == victim).count() == 1
    # the new content is searchable, attributed to the victim url
    hit = (
        after.postings.filter(F.col("term") == "zzzupdated")
        .join(after.docs.select("docid", "url"), "docid")
        .collect()
    )
    assert [r.url for r in hit] == [victim]


def test_update_documents_bulk_batch(spark, pages, stream_store):
    """Backfill-shaped update: half the corpus in ONE batch.  The delete
    keys never land on the driver (docids flow from a semi-join into the
    delete generation), so this works at any batch size."""
    from lucene_solr_spark.store import load_index
    from lucene_solr_spark.streaming import update_documents

    before = load_index(spark, stream_store)
    n_before = before.docs.count()
    doc_id = F.split(F.col("url"), "/doc/")[1].cast("long")
    batch = pages.where(doc_id % 2 == 0).withColumn(
        "html",
        F.encode(
            F.concat(
                F.lit("<html><body><p>bulkupd content for "),
                F.col("url"),
                F.lit("</p></body></html>"),
            ),
            "utf-8",
        ),
    )
    n_batch = batch.count()
    assert n_batch > 1
    update_documents(spark, stream_store, batch)
    after = load_index(spark, stream_store)
    assert after.docs.count() == n_before  # replaced, not duplicated
    # every updated url carries the new content exactly once
    upd = (
        after.postings.filter(F.col("term") == "bulkupd")
        .select("docid")
        .distinct()
    )
    assert upd.count() == n_batch
    # untouched odd docs are still present and unchanged
    assert after.docs.filter(doc_id % 2 == 1).count() == n_before - n_batch


def test_compaction_drops_deletes_physically(spark, stream_store):
    from lucene_solr_spark.search import BooleanQuery
    from lucene_solr_spark.search.wand import wand_search
    from lucene_solr_spark.store import IndexStore, delete_by_term, load_index
    from lucene_solr_spark.streaming import compact_store

    before = load_index(spark, stream_store)
    n_slow = (
        before.postings.filter(F.col("term") == "slow")
        .select("docid")
        .distinct()
        .count()
    )
    assert n_slow > 0
    delete_by_term(spark, stream_store, "slow")
    q = BooleanQuery.of(should=["table", "merge"], mm=1)

    snap = compact_store(spark, stream_store)
    assert snap.delete_gens == []
    assert snap.max_doc == before.max_doc - n_slow
    after = load_index(spark, stream_store)
    # physically gone; stats now reflect live docs only
    assert after.docs.count() == snap.max_doc
    assert after.postings.filter(F.col("term") == "slow").count() == 0
    assert after.max_doc == snap.max_doc
    # zero-copy WAND path restored post-compaction and excludes deleted docs
    got = [(r.docid, r.score) for r in wand_search(after, "table", k=10).collect()]
    live_table_docs = {r.docid for r in after.postings.filter(F.col("term") == "table").select("docid").collect()}
    assert all(d in live_table_docs for d, _ in got)
    # NOTE: scores differ from pre-compaction (df/avgdl recomputed) — ranks
    # over the same live docset; spot-check the docid SET of the top-k query
    assert {d for d, _ in _topk(after, q)} <= {
        r.docid for r in after.docs.select("docid").collect()
    }
    assert IndexStore(stream_store).head().delete_gens == []


def test_realtime_get_sees_update_and_delete(spark, pages, stream_store):
    """RealTimeGetComponent analog: get-by-key resolves the NEWEST committed
    version and honors delete bitmaps."""
    from lucene_solr_spark.store import delete_by_key, realtime_get
    from lucene_solr_spark.streaming import update_documents

    urls = [r.url for r in realtime_get(
        spark, stream_store,
        [f"https://site{d % 100}.example/doc/{d}" for d in (2, 4)],
    ).select("url").collect()]
    assert len(urls) == 2

    victim, kept = urls[0], urls[1]
    new_pages = pages.where(F.col("url") == victim).withColumn(
        "html",
        F.encode(F.lit("<html><body><p>rtgfresh content</p></body></html>"), "utf-8"),
    )
    update_documents(spark, stream_store, new_pages)
    got = realtime_get(spark, stream_store, [victim, kept])
    rows = {r.url: r.num_terms for r in got.collect()}
    assert set(rows) == {victim, kept}
    assert rows[victim] == 2  # "rtgfresh content" -> 2 terms

    delete_by_key(spark, stream_store, [kept])
    left = realtime_get(spark, stream_store, [victim, kept])
    assert [r.url for r in left.collect()] == [victim]


def test_delete_by_query_boolean_and_qparser(spark, batch_store):
    """DBQ with a boolean body and a {!type} body (DirectUpdateHandler2
    .deleteByQuery routes any query string)."""
    from lucene_solr_spark.search import BooleanQuery
    from lucene_solr_spark.store import load_index
    from lucene_solr_spark.store.store import delete_by_query

    before = load_index(spark, batch_store)
    victims = {
        r.docid
        for r in before.postings.filter(F.col("term").isin(["table", "merge"]))
        .groupBy("docid").agg(F.count_distinct("term").alias("n"))
        .where(F.col("n") == 2).collect()
    }
    assert victims, "fixture needs table AND merge docs"

    delete_by_query(spark, batch_store, "+table +merge")
    after = load_index(spark, batch_store)
    assert after.docs.filter(F.col("docid").isin(list(victims))).count() == 0
    # non-victims still searchable
    assert _topk(after, BooleanQuery.of(must=["table"], must_not=["merge"]))

    # {!prefix} body routes through the qparser registry
    n_before = after.docs.count()
    delete_by_query(spark, batch_store, "{!prefix f=text}zz_nonexistent")
    assert load_index(spark, batch_store).docs.count() == n_before
