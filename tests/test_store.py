"""Persistent store: snapshot commits, crash/resume, loaded-index equality."""

from __future__ import annotations

import os
import re

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lucene_solr_spark.index.codec import (
    decode_positions,
    decode_postings,
    encode_positions,
    encode_postings,
)
from lucene_solr_spark.smallfloat import NORM_TABLE


@pytest.fixture(scope="module")
def pages(spark, sf_dir):
    from lucene_solr_spark.pages import pages_from_documents

    return pages_from_documents(spark, sf_dir).persist()


@pytest.fixture(scope="module")
def mem_index(spark, pages):
    from lucene_solr_spark.pages import build_index_from_pages

    return build_index_from_pages(spark, pages, num_index_partitions=8)


def _topk(index, q, k=10):
    from lucene_solr_spark.search import search

    return [(r.docid, r.score) for r in search(index, q, k=k).collect()]


def test_store_roundtrip_equals_memory_build(spark, pages, mem_index, tmp_path):
    from lucene_solr_spark.search.wand import wand_search
    from lucene_solr_spark.store import build_pages_to_store, load_index

    root = str(tmp_path / "idx")
    snap = build_pages_to_store(spark, pages, root, num_index_partitions=8)
    assert snap.snapshot_id == 1
    assert snap.max_doc == mem_index.max_doc
    assert snap.sum_total_term_freq == mem_index.sum_total_term_freq

    loaded = load_index(spark, root)
    assert loaded.avgdl == mem_index.avgdl
    # Catalyst path over decoded-postings view
    assert _topk(loaded, "table") == _topk(mem_index, "table")
    # WAND path directly over the stored compressed segments
    got = [(r.docid, r.score) for r in wand_search(loaded, "table", k=10).collect()]
    assert got == _topk(mem_index, "table")
    # facet source intact
    assert (
        loaded.docs.groupBy("lang").count().sort("lang").collect()
        == mem_index.docs.groupBy("lang").count().sort("lang").collect()
    )


def test_store_positions_phrase_and_span_equal_memory(spark, pages, tmp_path):
    """The persisted positions layer (Lucene41 .pos analog): phrase, sloppy
    and span queries over a LOADED store equal the in-memory positions
    index."""
    from lucene_solr_spark.pages import build_index_from_pages
    from lucene_solr_spark.search import PhraseQuery
    from lucene_solr_spark.search.bm25 import span_near_topk
    from lucene_solr_spark.store import build_pages_to_store, load_index

    mem = build_index_from_pages(
        spark, pages, num_index_partitions=8, build_positions=True
    )
    root = str(tmp_path / "idx_pos")
    build_pages_to_store(spark, pages, root, num_index_partitions=8)
    loaded = load_index(spark, root)
    assert loaded.positions is not None

    for q in (PhraseQuery(("table", "scan")), PhraseQuery(("table", "scan"), slop=2)):
        assert _topk(loaded, q) == _topk(mem, q)
    got = [
        (r.docid, r.score)
        for r in span_near_topk(loaded, ["table", "scan"], slop=1)
        .orderBy(F.col("score").desc(), F.col("docid").asc()).limit(10).collect()
    ]
    want = [
        (r.docid, r.score)
        for r in span_near_topk(mem, ["table", "scan"], slop=1)
        .orderBy(F.col("score").desc(), F.col("docid").asc()).limit(10).collect()
    ]
    assert got == want


def test_store_without_positions_loads_none(spark, pages, tmp_path):
    from lucene_solr_spark.store import build_pages_to_store, load_index

    root = str(tmp_path / "idx_nopos")
    build_pages_to_store(
        spark, pages, root, num_index_partitions=8, build_positions=False
    )
    assert load_index(spark, root).positions is None


def test_crash_resume_recovers_exactly(spark, pages, mem_index, tmp_path):
    from lucene_solr_spark.store import (
        IndexStore,
        SimulatedFailure,
        build_pages_to_store,
        load_index,
    )

    root = str(tmp_path / "idx2")
    with pytest.raises(SimulatedFailure):
        build_pages_to_store(
            spark, pages, root, num_index_partitions=8,
            batch_size=3, fail_after_batches=1,
        )
    store = IndexStore(root)
    committed1 = store.committed_partitions()
    assert len(committed1) == 3  # only the first batch survived

    # a reader at the crash point sees a consistent partial index
    partial = load_index(spark, root)
    n_partial = partial.docs.count()
    assert 0 < n_partial < mem_index.max_doc
    assert partial.max_doc == n_partial

    # resume: rebuilds ONLY the missing partitions
    snap = build_pages_to_store(
        spark, pages, root, num_index_partitions=8, batch_size=3
    )
    assert set(snap.committed_partitions) == set(range(8))
    assert snap.max_doc == mem_index.max_doc
    assert snap.sum_total_term_freq == mem_index.sum_total_term_freq

    lineage = store.lineage(spark)
    # resumed build never re-attempted the first batch's partitions
    per_pid = {
        r.index_partition: r.cnt
        for r in lineage.groupBy("index_partition")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert set(per_pid) == set(range(8))
    assert all(c == 1 for c in per_pid.values())
    assert lineage.filter(F.col("status") == "committed").count() == 8

    final = load_index(spark, root)
    assert _topk(final, "table") == _topk(mem_index, "table")
    from lucene_solr_spark.search import BooleanQuery

    q = BooleanQuery.of(must=["table"], should=["merge", "scan"])
    assert _topk(final, q) == _topk(mem_index, q)


def _tree(root):
    """Every file under root, relative to it."""
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root) for f in files
    )


@pytest.mark.parametrize("first", [True, False], ids=["pos_then_nopos", "nopos_then_pos"])
def test_resume_with_other_build_positions_raises(spark, pages, tmp_path, first):
    """A resume must keep the committed partitions' positions choice: a
    mixed store would expose a positions view without the later partitions,
    and phrase queries would silently miss their docs.  The mismatch raises
    before anything is written; the original choice still resumes."""
    from lucene_solr_spark.store import (
        IndexStore,
        SimulatedFailure,
        build_pages_to_store,
        load_index,
    )

    root = str(tmp_path / "idx")
    args = dict(num_index_partitions=4, batch_size=2)
    with pytest.raises(SimulatedFailure):
        build_pages_to_store(
            spark, pages, root, fail_after_batches=1, build_positions=first, **args
        )
    head, files = IndexStore(root).head(), _tree(root)
    with pytest.raises(ValueError, match="build_positions"):
        build_pages_to_store(spark, pages, root, build_positions=not first, **args)
    assert IndexStore(root).head() == head
    assert _tree(root) == files

    snap = build_pages_to_store(spark, pages, root, build_positions=first, **args)
    assert snap.committed_partitions == [0, 1, 2, 3]
    assert (load_index(spark, root).positions is not None) == first


def _opened(spark, root):
    """Committed-content fingerprint of a reopened store."""
    from lucene_solr_spark.store import load_index

    idx = load_index(spark, root)
    counts = (idx.docs.count(), idx.postings.count(), idx.positions.count())
    return counts, _topk(idx, "table")


def test_load_index_ignores_orphan_generations(spark, pages, tmp_path, monkeypatch):
    """Generation dirs that no snapshot lists are never read: an uncommitted
    gen= dir (a crash before its commit) and a compaction's merged-away gens
    (a crash after the compaction commit, before their removal)."""
    import shutil

    from lucene_solr_spark.store import IndexStore
    from lucene_solr_spark.streaming import StreamingIndexer, compact_store

    root = str(tmp_path / "stream")
    indexer = StreamingIndexer(spark, root, num_index_partitions=4)
    doc_id = F.split(F.col("url"), "/doc/")[1].cast("long")
    indexer.process_batch(pages.where(doc_id % 2 == 0), 0)
    snap = indexer.process_batch(pages.where(doc_id % 2 == 1), 1)
    want = _opened(spark, root)
    assert want[0][0] == snap.max_doc and want[1]
    compacted = str(tmp_path / "compacted")
    shutil.copytree(root, compacted)

    for layer in ("docs", "segments", "positions"):
        shutil.copytree(
            os.path.join(root, layer, "gen=1"), os.path.join(root, layer, "gen=7")
        )
    assert IndexStore(root).head() == snap
    assert _opened(spark, root) == want

    with monkeypatch.context() as m:
        m.setattr(shutil, "rmtree", lambda *a, **k: None)
        merged = compact_store(spark, compacted)
    assert merged.gens == [-1]
    for g in snap.gens:
        assert os.path.isdir(os.path.join(compacted, "segments", f"gen={g}"))
    assert _opened(spark, compacted) == want


def test_rerun_on_complete_store_is_noop(spark, pages, tmp_path):
    from lucene_solr_spark.store import build_pages_to_store

    root = str(tmp_path / "idx3")
    s1 = build_pages_to_store(spark, pages, root, num_index_partitions=4)
    s2 = build_pages_to_store(spark, pages, root, num_index_partitions=4)
    assert s2.snapshot_id == s1.snapshot_id  # nothing to do, no new snapshot


def test_snapshot_commit_is_atomic(tmp_path):
    from lucene_solr_spark.store.store import IndexStore, Snapshot

    store = IndexStore(str(tmp_path / "s"))
    assert store.head() is None
    snap = Snapshot(
        snapshot_id=1, parent_id=None, committed_partitions=[0, 1],
        num_index_partitions=4, max_doc=10, sum_total_term_freq=100,
    )
    store.commit(snap)
    h = store.head()
    assert h.snapshot_id == 1 and h.committed_partitions == [0, 1]
    assert h.avgdl == 10.0
    snap2 = Snapshot(
        snapshot_id=2, parent_id=1, committed_partitions=[0, 1, 2],
        num_index_partitions=4, max_doc=15, sum_total_term_freq=160,
    )
    store.commit(snap2)
    assert store.head().snapshot_id == 2
    assert store.head().parent_id == 1


def test_multifield_store_roundtrip(spark, sf_dir, tmp_path):
    """Persisted multi-field schema: field-routed and dismax queries over the
    LOADED schema equal the in-memory multi-field build."""
    from lucene_solr_spark.index.fields import (
        build_multifield_index,
        dismax_fields,
        search_parsed_fields,
    )
    from lucene_solr_spark.store import build_multifield_store, load_multifield_index

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fexprs = {"body": "text", "title": F.substring("text", 1, 40)}
    mem = build_multifield_index(
        spark, docs, key_col="doc_id", field_exprs=fexprs,
        default_field="body", docid_col="doc_id", num_index_partitions=4,
        build_positions=True,
    )
    root = str(tmp_path / "mf")
    build_multifield_store(
        spark, docs, root, key_col="doc_id", field_exprs=fexprs,
        default_field="body", docid_col="doc_id", num_index_partitions=4,
    )
    loaded = load_multifield_index(spark, root)
    assert sorted(loaded.fields) == ["body", "title"]
    assert loaded.of("title").avgdl == mem.of("title").avgdl

    def rows(mfi, q):
        return [(r.docid, r.score) for r in search_parsed_fields(mfi, q, k=10).collect()]

    for q in ("scan title:merge", 'title:"table scan"', "scan"):
        assert rows(loaded, q) == rows(mem, q), q
    got = [(r.docid, r.score) for r in dismax_fields(
        loaded, ["table", "scan"], qf={"title": 2.0, "body": 1.0}, tie=0.3).collect()]
    want = [(r.docid, r.score) for r in dismax_fields(
        mem, ["table", "scan"], qf={"title": 2.0, "body": 1.0}, tie=0.3).collect()]
    assert got == want


def test_multifield_store_rerun_is_noop(spark, sf_dir, tmp_path):
    """A fully-committed multi-field store re-run must not rebuild fields:
    snapshot ids stay at 1 and results are unchanged."""
    import json
    import os

    from lucene_solr_spark.index.fields import search_parsed_fields
    from lucene_solr_spark.store import (
        IndexStore,
        build_multifield_store,
        load_multifield_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fexprs = {"body": "text", "title": F.substring("text", 1, 40)}
    root = str(tmp_path / "mf2")
    for _ in range(2):  # second run resumes over the committed store
        build_multifield_store(
            spark, docs, root, key_col="doc_id", field_exprs=fexprs,
            default_field="body", docid_col="doc_id", num_index_partitions=4,
        )
    for fname in fexprs:
        snap = IndexStore(os.path.join(root, "fields", fname)).head()
        assert snap is not None and snap.snapshot_id == 1
    with open(os.path.join(root, "schema.json")) as f:
        assert json.load(f)["default_field"] == "body"
    loaded = load_multifield_index(spark, root)
    assert search_parsed_fields(loaded, "scan title:merge", k=5).count() > 0


# ---------------------------------------------------------------------------
# batch decoders vs the per-row codec
# ---------------------------------------------------------------------------

# doc gaps straddling every varbyte length boundary: 1, 2, 3 and 4 bytes
_GAPS = st.one_of(
    st.integers(1, 3),
    st.integers(2**7, 2**7 + 3),
    st.integers(2**14, 2**14 + 3),
    st.integers(2**21, 2**22),
)
_BLOB_TYPES = st.sampled_from([pa.binary(), pa.large_binary()])


@st.composite
def _posting_rows(draw):
    """Encoded posting rows (some single-posting, tfs past one varbyte)."""
    rows = []
    for _ in range(draw(st.integers(1, 6))):
        n = draw(st.integers(1, 40))
        first = draw(st.integers(0, 2**21))
        gaps = draw(st.lists(_GAPS, min_size=n - 1, max_size=n - 1))
        docids = np.cumsum(np.array([first, *gaps], dtype=np.int64))
        tfs = np.array(
            draw(st.lists(st.integers(1, 300), min_size=n, max_size=n)), np.int64
        )
        norms = np.array(
            draw(st.lists(st.integers(0, 255), min_size=n, max_size=n)), np.uint8
        )
        rows.append(encode_postings(docids, tfs, norms))
    return rows


@st.composite
def _position_rows(draw):
    """Encoded position rows (some docs with one position, empty rows)."""
    rows = []
    for _ in range(draw(st.integers(1, 6))):
        ndocs = draw(st.integers(0, 12))
        docs = np.cumsum(
            np.array(draw(st.lists(_GAPS, min_size=ndocs, max_size=ndocs)), np.int64)
        )
        d, p, nb = [], [], []
        for doc in docs:
            npos = draw(st.integers(1, 4))
            deltas = draw(st.lists(_GAPS, min_size=npos, max_size=npos))
            d += [doc] * npos
            p += np.cumsum(deltas).tolist()
            nb += [draw(st.integers(0, 255))] * npos
        rows.append(
            encode_positions(
                np.array(d, np.int64), np.array(p, np.int64), np.array(nb, np.uint8)
            )
        )
    return rows


def _sliced(rows, cols, blob_type, lo, hi):
    """Each blob column as an Arrow array over ALL rows, sliced to
    [lo, hi) — so its offsets start at a non-zero buffer position."""
    return [pa.array([r[c] for r in rows], blob_type)[lo:hi] for c in cols]


def _check_postings(rows, blob_type, lo, hi):
    from lucene_solr_spark.store.store import _decode_postings_arrow

    out = _decode_postings_arrow(
        *_sliced(rows, ("doc_gaps_vb", "tfs_vb", "norm_bytes"), blob_type, lo, hi)
    )
    assert len(out) == hi - lo
    for got, row in zip(out.to_pylist(), rows[lo:hi]):
        docids, tfs, norms = decode_postings(row)
        assert [x["docid"] for x in got] == docids.tolist()
        assert [x["tf"] for x in got] == tfs.tolist()
        assert [x["dl_approx"] for x in got] == NORM_TABLE[norms].tolist()


def _check_positions(rows, blob_type, lo, hi):
    from lucene_solr_spark.store.store import _decode_positions_arrow

    cols = ("doc_gaps_vb", "pos_counts_vb", "positions_vb", "norm_bytes")
    out = _decode_positions_arrow(*_sliced(rows, cols, blob_type, lo, hi))
    assert len(out) == hi - lo
    for got, row in zip(out.to_pylist(), rows[lo:hi]):
        docids, poss, norms = decode_positions(row)
        assert [x["docid"] for x in got] == docids.tolist()
        assert [x["pos"] for x in got] == poss.tolist()
        assert [x["dl_approx"] for x in got] == NORM_TABLE[norms].tolist()


@given(_posting_rows(), _BLOB_TYPES, st.data())
@settings(max_examples=150, deadline=None)
def test_batch_postings_decode_equals_per_row_codec(rows, blob_type, data):
    lo = data.draw(st.integers(0, len(rows) - 1))
    hi = data.draw(st.integers(lo + 1, len(rows)))
    _check_postings(rows, blob_type, lo, hi)


@given(_position_rows(), _BLOB_TYPES, st.data())
@settings(max_examples=150, deadline=None)
def test_batch_positions_decode_equals_per_row_codec(rows, blob_type, data):
    lo = data.draw(st.integers(0, len(rows) - 1))
    hi = data.draw(st.integers(lo + 1, len(rows)))
    _check_positions(rows, blob_type, lo, hi)


def test_batch_decode_edge_shapes():
    """Pinned shapes: a one-row batch sliced out of the middle, a
    single-posting term, a doc with one position, an empty positions row."""
    one = np.array([2**21 + 5], np.int64)
    post = [
        encode_postings(np.array([0, 1, 2**7 + 1]), np.array([1, 128, 2]),
                        np.array([0, 9, 255], np.uint8)),
        encode_postings(one, np.array([300]), np.array([7], np.uint8)),
        encode_postings(np.array([3, 2**14 + 3]), np.array([1, 1]),
                        np.array([1, 2], np.uint8)),
    ]
    for blob_type in (pa.binary(), pa.large_binary()):
        _check_postings(post, blob_type, 1, 2)
        _check_postings(post, blob_type, 0, 3)
    e = np.empty(0, np.int64)
    pos = [
        encode_positions(np.array([4, 4, 9]), np.array([0, 2**14, 3]),
                         np.array([5, 5, 6], np.uint8)),
        encode_positions(one, np.array([2**7]), np.array([3], np.uint8)),
        encode_positions(e, e, np.empty(0, np.uint8)),
    ]
    for blob_type in (pa.binary(), pa.large_binary()):
        _check_positions(pos, blob_type, 1, 2)
        _check_positions(pos, blob_type, 0, 3)


# ---------------------------------------------------------------------------
# term pruning on reopened stores
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def reopened(spark, pages, tmp_path_factory):
    """The three ways a store is reopened: a batch store, the same store
    after delete_by_term, and a two-generation streaming store."""
    import shutil

    from lucene_solr_spark.store import build_pages_to_store, delete_by_term, load_index
    from lucene_solr_spark.streaming import StreamingIndexer

    base = tmp_path_factory.mktemp("pruned")
    batch, deleted, stream = (str(base / n) for n in ("batch", "deleted", "stream"))
    build_pages_to_store(spark, pages, batch, num_index_partitions=4)
    shutil.copytree(batch, deleted)
    delete_by_term(spark, deleted, "merge")
    indexer = StreamingIndexer(spark, stream, num_index_partitions=4)
    doc_id = F.split(F.col("url"), "/doc/")[1].cast("long")
    indexer.process_batch(pages.where(doc_id % 2 == 0), 0)
    indexer.process_batch(pages.where(doc_id % 2 == 1), 1)
    return {
        "batch": load_index(spark, batch),
        "deleted": load_index(spark, deleted),
        "streaming": load_index(spark, stream),
    }


def _segment_scan_filters(df) -> list[str]:
    """PushedFilters of every scan over compressed rows in df's plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    return [
        re.search(r"PushedFilters: \[(.*?)\], ReadSchema", line).group(1)
        for line in plan.splitlines()
        if "FileScan parquet" in line and "doc_gaps_vb" in line
    ]


def _decoded_rows(spark, df) -> int:
    """Rows emitted by the decode (Generate) nodes while collecting df."""
    status = spark._jsparkSession.sharedState().statusStore()

    def last_id() -> int:
        # the store keeps only the most recent executions, in id order, so
        # new ones are found by id rather than by list position
        n = status.executionsCount()
        return status.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    before = last_id()
    df.collect()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    total = 0
    for eid in range(before + 1, last_id() + 1):
        values = status.executionMetrics(eid)
        nodes = status.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if node.name() != "Generate":
                continue
            metrics = node.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                v = values.get(m.accumulatorId())
                if m.name() == "number of output rows" and v.isDefined():
                    total += int(v.get().replace(",", ""))
    return total


@pytest.mark.parametrize("kind", ["batch", "deleted", "streaming"])
def test_reopened_views_decode_only_query_terms(spark, reopened, kind):
    idx = reopened[kind]
    terms = ["table", "merge", "scan"]
    stats = {
        r.term: (r.df, r.cf)
        for r in idx.segments.filter(F.col("term").isin(terms)).collect()
    }
    assert set(stats) == set(terms)

    postings = idx.postings.filter(F.col("term").isin(terms))
    scans = _segment_scan_filters(postings)
    assert scans and all("In(term" in f for f in scans), scans
    # decoded postings == Σdf of the query terms, not the whole table
    assert _decoded_rows(spark, postings) == sum(df for df, _ in stats.values())

    positions = idx.positions.filter(F.col("term") == "table")
    scans = _segment_scan_filters(positions)
    assert scans and all("EqualTo(term,table)" in f for f in scans), scans
    assert _decoded_rows(spark, positions) == stats["table"][1]
