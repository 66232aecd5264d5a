"""Persistent index store: snapshot commits, per-partition lineage, resume.

The Lucene/Solr durability surface re-expressed for shared storage:

- Segment files + ``segments_N`` commit point (SegmentInfos.java:58-80;
  two-phase commit IndexWriter.java:900-916,1094) become per-partition
  Parquet directories plus an atomic snapshot pointer: data files land first,
  then a JSON snapshot manifest is written and ``HEAD`` is swapped with an
  atomic rename.  Readers resolve HEAD -> snapshot -> committed partition
  list, so half-written partitions are invisible — the same
  commit-point-isolation Iceberg provides (this sandbox has no Iceberg
  runtime; the layout is a faithful stand-in and the write/read API would
  map 1:1 onto ``writeTo(...).append()`` + snapshots).
- The transaction log / replay (UpdateLog.java:70-72,381-429) becomes the
  per-partition **lineage table**: one row per build attempt with status,
  row counts, and wall time.  A re-run consults the committed set and
  rebuilds only missing partitions — resumable, idempotent (partition dirs
  are overwritten via dynamic partition overwrite on retry).

This module owns the on-disk layout for every kind of store.  A store is a
set of **units**: a batch store's units are its ``index_partition=<p>``
directories, a streaming (or compacted) store's are its ``gen=<n>``
directories, each holding that generation's index partitions.  Each unit
has three layers (docs, compressed segments, optional compressed
positions).  One writer (``_write_unit``) writes a unit for the batch
build, the multi-field build, a streaming generation and a merge; one
reader (``load_index``) opens exactly the snapshot's committed units; one
merge (``_merge_generations``) rewrites generations into one, as
Lucene's single SegmentMerger runs every merge a MergePolicy picks.

Scale shape: each build batch touches only its partitions' source rows
(partition pruning on the hash-routed ``index_partition``), writes are
append-only per partition, and a 1000-executor cluster commits snapshots at
whatever batch cadence bounds recovery time.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from lucene_solr_spark.index.builder import IndexTables, build_index
from lucene_solr_spark.index.codec import vb_decode
from lucene_solr_spark.index.compress import compress_positions, compress_postings
from lucene_solr_spark.smallfloat import NORM_TABLE


class SimulatedFailure(RuntimeError):
    """Raised by tests to model a mid-build crash between snapshot commits."""


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    committed_partitions: list[int]
    num_index_partitions: int
    max_doc: int
    sum_total_term_freq: int
    # streaming extensions: committed segment generations (one per
    # micro-batch flush) and the next local-docid base per partition
    gens: list[int] | None = None
    doc_bases: dict | None = None
    # highest Structured-Streaming batch id ever committed — the replay
    # watermark.  Kept SEPARATE from ``gens`` because compaction rewrites the
    # gen list (compacted gens use negative ids, outside the batch-id space)
    # while replay detection must keep comparing against batch history.
    max_batch_id: int | None = None
    # delete generations (BufferedUpdates / liveDocs analog): each is a
    # parquet directory of deleted docids under deletes/dgen=<id>, applied as
    # an anti-join at read time.  Collection stats (max_doc, df, avgdl) stay
    # UNCHANGED until compaction, exactly like Lucene segment deletes
    # (IndexWriter.java:256ff — deletes don't rewrite segment stats; merges
    # drop deleted docs physically).
    delete_gens: list[int] | None = None

    @property
    def avgdl(self) -> float:
        if not self.max_doc:
            return 0.0
        return float(np.float32(self.sum_total_term_freq / self.max_doc))


class IndexStore:
    """Filesystem layout + snapshot/lineage bookkeeping for one index."""

    def __init__(self, root: str):
        self.root = root
        self.docs_path = os.path.join(root, "docs")
        self.segments_path = os.path.join(root, "segments")
        self.positions_path = os.path.join(root, "positions")
        self.deletes_path = os.path.join(root, "deletes")
        self.lineage_path = os.path.join(root, "lineage")
        self.metrics_path = os.path.join(root, "metrics")
        self.snapshots_dir = os.path.join(root, "snapshots")
        self.head_path = os.path.join(root, "HEAD")
        os.makedirs(self.snapshots_dir, exist_ok=True)

    # -- snapshot log -------------------------------------------------------

    def head(self) -> Snapshot | None:
        if not os.path.exists(self.head_path):
            return None
        with open(self.head_path) as f:
            sid = int(f.read().strip())
        with open(os.path.join(self.snapshots_dir, f"snap-{sid}.json")) as f:
            d = json.load(f)
        return Snapshot(**d)

    def commit(self, snap: Snapshot) -> None:
        """Two-phase: manifest file first, then atomic HEAD swap
        (IndexWriter.prepareCommit/commit analog)."""
        path = os.path.join(self.snapshots_dir, f"snap-{snap.snapshot_id}.json")
        with open(path, "w") as f:
            json.dump(snap.__dict__, f)
            f.flush()
            os.fsync(f.fileno())
        tmp = self.head_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(snap.snapshot_id))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.head_path)

    def committed_partitions(self) -> set[int]:
        snap = self.head()
        return set(snap.committed_partitions) if snap else set()

    def lineage(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.lineage_path)

    def metrics(self, spark: SparkSession) -> DataFrame:
        """Per-snapshot build metrics: one row per committed batch —
        the north-rule metrics table next to the per-partition lineage."""
        return spark.read.parquet(self.metrics_path)


def _head(store: IndexStore) -> Snapshot:
    snap = store.head()
    if snap is None:
        raise FileNotFoundError(f"no committed snapshot at {store.root}")
    return snap


def _successor(snap: Snapshot | None, **changes) -> Snapshot:
    """The snapshot committed after ``snap`` (the first one when None):
    ``snap``'s fields with ``changes`` applied."""
    if snap is None:
        return Snapshot(snapshot_id=1, parent_id=None, **changes)
    return Snapshot(
        **{
            **snap.__dict__,
            "snapshot_id": snap.snapshot_id + 1,
            "parent_id": snap.snapshot_id,
            **changes,
        }
    )


def _append_lineage(spark: SparkSession, store: IndexStore, rows: list) -> None:
    spark.createDataFrame(
        rows,
        "index_partition int, status string, n_docs long, sum_tf long, "
        "wall_s double, snapshot_id int",
    ).write.mode("append").parquet(store.lineage_path)


# -- units: the layout every reader and writer shares ------------------------


def _unit_dir(layer_path: str, gen: int | None) -> str:
    """A layer's directory for one write: the layer root for batch units
    (its index_partition dirs), ``gen=<n>`` for a generation."""
    return layer_path if gen is None else os.path.join(layer_path, f"gen={gen}")


def _committed(snap: Snapshot) -> Column:
    """The snapshot's committed units: its generations when it tracks them,
    else its committed index partitions.  Directories outside this set (an
    in-flight batch, a crashed generation, a merge's not-yet-removed
    sources) are never read."""
    if snap.gens:
        return F.col("gen").isin(snap.gens)
    return F.col("index_partition").isin(snap.committed_partitions)


def _read_layer(spark: SparkSession, layer_path: str, keep: Column) -> DataFrame:
    # basePath: both layouts infer their partition columns the same way
    return spark.read.option("basePath", layer_path).parquet(layer_path).filter(keep)


def _has_positions(store: IndexStore, gens: list | None) -> bool:
    """Positions are readable only when EVERY unit persisted them: a unit
    written with build_positions=False leaves phrase queries to an in-memory
    rebuild rather than silently missing its occurrences."""
    units = gens if gens else [None]
    return all(os.path.isdir(_unit_dir(store.positions_path, g)) for g in units)


def _write_layer(df: DataFrame, layer_path: str, gen: int | None) -> None:
    # a resumed batch replaces only its own partitions; a replayed
    # generation replaces its whole gen=<n> directory
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic" if gen is None else "static")
        .partitionBy("index_partition")
        .parquet(_unit_dir(layer_path, gen))
    )


def _write_unit(
    store: IndexStore,
    docs: DataFrame,
    postings: DataFrame,
    positions: DataFrame | None,
    gen: int | None = None,
) -> None:
    """Write one unit's layers: docs, compressed segments and, when given,
    compressed positions (the persisted DOCS_AND_FREQS_AND_POSITIONS layer,
    Lucene41 .pos).  ``positions`` may be the builder's pre-aggregated
    frame, which keeps the codec shuffle at ~df rows.

    The layer writes are independent jobs, so they are submitted
    concurrently: each job's driver-side tail (commit, file promotion)
    overlaps the others' executor compute instead of leaving the cluster
    idle."""
    writes = [
        (docs, store.docs_path),
        (compress_postings(postings), store.segments_path),
    ]
    if positions is not None:
        writes.append((compress_positions(positions), store.positions_path))
    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        futs = [pool.submit(_write_layer, df, path, gen) for df, path in writes]
        for f in futs:
            f.result()


def build_pages_to_store(
    spark: SparkSession,
    pages: DataFrame,
    root: str,
    num_index_partitions: int = 8,
    batch_size: int | None = None,
    fail_after_batches: int | None = None,
    build_positions: bool = True,
) -> Snapshot:
    """Checkpointed, resumable index build over a pages table.

    Partitions are processed in batches; each batch writes its docs +
    compressed-segment partition directories, appends lineage rows, and
    commits a snapshot.  A crash between snapshots loses only the in-flight
    batch; re-running skips everything already committed.
    ``fail_after_batches`` injects a crash for recovery tests.  A resume
    must keep the committed partitions' ``build_positions``: it raises
    ValueError before writing anything otherwise.
    """
    from lucene_solr_spark.pages import assign_page_docids, extract_text_expr

    store = IndexStore(root)
    committed = store.committed_partitions()
    todo = [p for p in range(num_index_partitions) if p not in committed]
    if not todo:
        return store.head()
    if committed and build_positions != _has_positions(store, None):
        raise ValueError(
            f"resume with build_positions={build_positions} over partitions "
            f"committed with build_positions={not build_positions} at {root}: "
            "phrase queries would miss the documents of one side"
        )

    batch_size = batch_size or num_index_partitions
    # no persist here: each batch reads `assigned` exactly once (build_index
    # caches the post-tokenize docs table, which is far smaller than the
    # extracted text) — caching text-sized data would only add heap traffic
    assigned = (
        assign_page_docids(pages, num_index_partitions)
        .withColumn("extracted", extract_text_expr(F.col("html")))
        .select("docid", "url", "extracted", "lang", "index_partition")
    )

    snap = store.head()
    batches_done = 0
    for i in range(0, len(todo), batch_size):
        batch = todo[i : i + batch_size]
        t0 = time.perf_counter()
        subset = assigned.filter(F.col("index_partition").isin(batch))
        # persist=True: the tokenized docs/postings tables are read 3-4 times
        # below (docs write, compressed-segment build, per-partition stats) —
        # caching them turns the batch into tokenize-once
        idx = build_index(
            spark,
            subset,
            key_col="url",
            text_col="extracted",
            docid_col="docid",
            num_index_partitions=num_index_partitions,
            passthrough_cols=("lang",),
            persist=True,
            build_positions=build_positions,
        )
        _write_unit(store, idx.docs, idx.postings,
                    idx.positions_grouped or idx.positions)
        wall = time.perf_counter() - t0

        sid = (snap.snapshot_id + 1) if snap else 1
        # per-partition doc/term counts come from the SAME stats job that
        # computed max_doc/avgdl inside build_index (partition_stats) — no
        # second aggregate over the docs cache
        per_part = idx.partition_stats or {}
        lineage_rows = [
            (
                int(p),
                "committed",
                int(per_part[p][0]) if p in per_part else 0,
                int(per_part[p][1]) if p in per_part else 0,
                float(wall / len(batch)),
                sid,
            )
            for p in batch
        ]
        _append_lineage(spark, store, lineage_rows)

        # metrics table: one row per snapshot commit (build-level rollup of
        # the lineage rows — n_docs/sum_tf are deterministic, wall/throughput
        # are the operational signals a 1000-executor run would chart)
        b_docs = sum(r[2] for r in lineage_rows)
        b_tf = sum(r[3] for r in lineage_rows)
        spark.createDataFrame(
            [
                (
                    sid,
                    len(batch),
                    int(b_docs),
                    int(b_tf),
                    float(wall),
                    float(b_docs / wall) if wall > 0 else 0.0,
                )
            ],
            "snapshot_id int, n_partitions int, n_docs long, sum_tf long, "
            "wall_s double, docs_per_sec double",
        ).write.mode("append").parquet(store.metrics_path)

        snap = _successor(
            snap,
            committed_partitions=sorted(
                (set(snap.committed_partitions) if snap else set()) | set(batch)
            ),
            num_index_partitions=num_index_partitions,
            max_doc=(snap.max_doc if snap else 0) + idx.max_doc,
            sum_total_term_freq=(snap.sum_total_term_freq if snap else 0)
            + idx.sum_total_term_freq,
        )
        store.commit(snap)
        idx.unpersist()  # releases the persisted frames themselves (the docs
        # cache keeps the tokenized array column; unpersisting the projected
        # view would be a no-op and leak it across batches)
        batches_done += 1
        if fail_after_batches is not None and batches_done >= fail_after_batches:
            assigned.unpersist()
            raise SimulatedFailure(
                f"injected crash after {batches_done} batch(es); "
                f"committed={snap.committed_partitions}"
            )
    assigned.unpersist()
    return snap


def _binary_parts(arr) -> tuple[np.ndarray, np.ndarray]:
    """(bytes, row offsets) of a batch's Binary array, or LargeBinary when
    ``spark.sql.execution.arrow.useLargeVarTypes`` is on.  Honours the
    array's slice offset: ``bytes[offs[i]:offs[i+1]]`` is row i's blob and
    ``offs[0] == 0``."""
    odt = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    _, obuf, dbuf = arr.buffers()
    offs = np.frombuffer(obuf, dtype=odt)[arr.offset : arr.offset + len(arr) + 1]
    offs = offs.astype(np.int64)
    return np.frombuffer(dbuf, dtype=np.uint8)[offs[0] : offs[-1]], offs - offs[0]


def _vb_decode_rows(arr) -> tuple[np.ndarray, np.ndarray]:
    """Varbyte-decode every row of a binary array in ONE pass over its
    concatenated buffer: (values uint64, per-row value offsets).  Each row's
    blob ends on a terminator byte (high bit clear), so no value straddles
    two rows and the per-row counts are terminator counts."""
    data, offs = _binary_parts(arr)
    ends = np.zeros(data.size + 1, dtype=np.int64)
    np.cumsum((data & 0x80) == 0, out=ends[1:])
    return vb_decode(data), ends[offs]


def _segmented_cumsum(values: np.ndarray, offs: np.ndarray) -> np.ndarray:
    """int64 prefix sums of ``values`` restarting at each ``offs`` boundary."""
    cs = np.cumsum(values.astype(np.int64))
    base = np.concatenate(([0], cs))[offs[:-1]]
    return cs - np.repeat(base, np.diff(offs))


def _decode_postings_arrow(gaps, tfs, norms):
    """Batch decode of compressed posting rows -> list<struct<docid, tf,
    dl_approx>> per row (the inverse of codec.encode_postings)."""
    g, offs = _vb_decode_rows(gaps)
    docids = _segmented_cumsum(g, offs)
    t, _ = _vb_decode_rows(tfs)
    nb, _ = _binary_parts(norms)
    items = pa.StructArray.from_arrays(
        [
            pa.array(docids, pa.int64()),
            pa.array(t.astype(np.int32), pa.int32()),
            pa.array(NORM_TABLE[nb].astype(np.float64), pa.float64()),
        ],
        names=["docid", "tf", "dl_approx"],
    )
    return pa.ListArray.from_arrays(pa.array(offs.astype(np.int32)), items)


def _decode_positions_arrow(gaps, counts, deltas, norms):
    """Batch decode of compressed position rows -> list<struct<docid, pos,
    dl_approx>> per row, one element per occurrence (the inverse of
    codec.encode_positions)."""
    g, doc_offs = _vb_decode_rows(gaps)
    docids = _segmented_cumsum(g, doc_offs)
    c, _ = _vb_decode_rows(counts)
    c = c.astype(np.int64)
    occ_offs = np.zeros(c.size + 1, dtype=np.int64)
    np.cumsum(c, out=occ_offs[1:])
    d, _ = _vb_decode_rows(deltas)
    # every row starts on a doc, so doc boundaries include row boundaries
    pos = _segmented_cumsum(d, occ_offs)
    nb, _ = _binary_parts(norms)
    items = pa.StructArray.from_arrays(
        [
            pa.array(np.repeat(docids, c), pa.int64()),
            pa.array(pos.astype(np.int32), pa.int32()),
            pa.array(NORM_TABLE[np.repeat(nb, c)].astype(np.float64), pa.float64()),
        ],
        names=["docid", "pos", "dl_approx"],
    )
    return pa.ListArray.from_arrays(
        pa.array(occ_offs[doc_offs].astype(np.int32)), items
    )


def _decoded_type(value_field: str) -> ArrayType:
    return ArrayType(
        StructType(
            [
                StructField("docid", LongType()),
                StructField(value_field, IntegerType()),
                StructField("dl_approx", DoubleType()),
            ]
        )
    )


# Built on first use, once per driver: executors import this module without
# a SparkContext, and re-wrapping per load_index would redo UDF setup on
# every open.
@functools.cache
def _postings_udf():
    return F.arrow_udf(_decode_postings_arrow, _decoded_type("tf"))


@functools.cache
def _positions_udf():
    return F.arrow_udf(_decode_positions_arrow, _decoded_type("pos"))


def postings_from_compressed(compressed: DataFrame) -> DataFrame:
    """Decode the compressed segment rows back to exploded postings
    (index_partition, term, docid, tf, dl_approx) — the Catalyst scoring /
    facet source.

    One scalar Arrow UDF call per batch decodes all of the batch's blobs
    (no per-row Python) and ``inline`` explodes the result.  ``term`` and
    ``index_partition`` pass through the Generate unchanged, so a filter on
    them above this view is pushed down to the segments scan: a term query
    decodes only its own terms' rows."""
    return compressed.select(
        F.col("index_partition").cast("int").alias("index_partition"),
        "term",
        F.inline(_postings_udf()("doc_gaps_vb", "tfs_vb", "norm_bytes")),
    )


def positions_from_compressed(compressed: DataFrame) -> DataFrame:
    """Decode compressed position rows back to the exploded positions view
    (index_partition, term, docid, pos, dl_approx) — the phrase / sloppy /
    span query source.  Same shape as postings_from_compressed: one Arrow
    UDF call per batch, ``inline``, and ``term`` filters pushed down to the
    positions scan."""
    return compressed.select(
        F.col("index_partition").cast("int").alias("index_partition"),
        "term",
        F.inline(
            _positions_udf()(
                "doc_gaps_vb", "pos_counts_vb", "positions_vb", "norm_bytes"
            )
        ),
    )


def deleted_docids(spark: SparkSession, store: IndexStore, snap: Snapshot):
    """Union of all committed delete generations as (docid) — the liveDocs
    complement — or None when the store has no deletes.  Only ever the right
    side of an anti-join, so duplicate docids across generations are left
    in."""
    if not snap.delete_gens:
        return None
    keep = F.col("dgen").isin(snap.delete_gens)
    return _read_layer(spark, store.deletes_path, keep).select("docid")


def delete_docids(spark: SparkSession, root: str, docids: DataFrame) -> Snapshot:
    """Record a delete generation (IndexWriter.deleteDocuments /
    BufferedUpdates analog): write the docid set as deletes/dgen=<n> and
    commit a snapshot referencing it.  Applied at read time as an anti-join;
    collection stats are untouched until compaction, matching Lucene's
    liveDocs semantics."""
    store = IndexStore(root)
    snap = _head(store)
    dgen = max(snap.delete_gens or [0]) + 1
    docids.select(F.col("docid").cast("long").alias("docid")).distinct().write.mode(
        "overwrite"
    ).parquet(os.path.join(store.deletes_path, f"dgen={dgen}"))
    new_snap = _successor(
        snap, delete_gens=sorted(set(snap.delete_gens or []) | {dgen})
    )
    store.commit(new_snap)
    return new_snap


def delete_by_term(spark: SparkSession, root: str, term: str) -> Snapshot:
    """Solr deleteByQuery for a term: resolve matching docids against the
    committed postings, record them as a delete generation."""
    idx = load_index(spark, root, apply_deletes=False)
    matching = idx.postings.filter(F.col("term") == term).select("docid")
    return delete_docids(spark, root, matching)


def realtime_get(
    spark: SparkSession, root: str, keys: list, key_col: str = "url"
) -> DataFrame:
    """RealTimeGet (solr/core/.../component/RealTimeGetComponent.java):
    fetch documents by unique key across EVERY committed generation with
    delete generations applied — because each micro-batch soft-commits a
    snapshot, a reader that re-resolves HEAD sees a just-indexed doc
    immediately, and an updated doc resolves to its newest generation (the
    older version is in a delete bitmap)."""
    idx = load_index(spark, root)
    return idx.docs.filter(F.col(key_col).isin(list(keys)))


def delete_by_key(
    spark: SparkSession, root: str, keys: list, key_col: str = "url"
) -> Snapshot:
    """Delete-by-id (unique key), IndexWriter.deleteDocuments(Term(id))."""
    idx = load_index(spark, root, apply_deletes=False)
    matching = idx.docs.filter(F.col(key_col).isin(list(keys))).select("docid")
    return delete_docids(spark, root, matching)


def build_multifield_store(
    spark: SparkSession,
    source: DataFrame,
    root: str,
    key_col: str,
    field_exprs: dict,
    default_field: str,
    docid_col: str | None = None,
    num_index_partitions: int = 8,
    build_positions: bool = True,
):
    """Persist a multi-field schema (IndexSchema.java:79-149 — named fields,
    each with its own postings/norms/stats over a SHARED docid space): one
    field store per ``fields/<name>/`` directory plus an atomic
    ``schema.json`` manifest.  Idempotent per field: a field whose snapshot
    is already committed is skipped on re-run (same resumability contract as
    the partition-batched pages build)."""
    from lucene_solr_spark.index.fields import build_multifield_index

    # Resume check FIRST: a committed field is never re-built (the eager
    # per-field build_index pass is the expensive part), and only pending
    # fields' caches are ever created — so a fully-committed store is a
    # metadata-only no-op with nothing to leak.
    pending = {
        fname: expr
        for fname, expr in field_exprs.items()
        if IndexStore(os.path.join(root, "fields", fname)).head() is None
    }
    if pending:
        mfi = build_multifield_index(
            spark,
            source,
            key_col=key_col,
            field_exprs=pending,
            # temp default for the in-memory build only; the manifest below
            # records the caller's real default_field
            default_field=next(iter(pending)),
            docid_col=docid_col,
            num_index_partitions=num_index_partitions,
            persist=True,
            build_positions=build_positions,
        )
        for fname, idx in mfi.fields.items():
            try:
                store = IndexStore(os.path.join(root, "fields", fname))
                _write_unit(store, idx.docs, idx.postings,
                            idx.positions_grouped or idx.positions)
                store.commit(
                    _successor(
                        None,
                        committed_partitions=list(range(num_index_partitions)),
                        num_index_partitions=num_index_partitions,
                        max_doc=idx.max_doc,
                        sum_total_term_freq=idx.sum_total_term_freq,
                    )
                )
            finally:
                idx.unpersist()
    manifest = {"fields": sorted(field_exprs), "default_field": default_field}
    tmp = os.path.join(root, "schema.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(root, "schema.json"))


def load_multifield_index(spark: SparkSession, root: str, apply_deletes: bool = True):
    """Open a persisted multi-field schema as a MultiFieldIndex (each field
    loads through load_index — decoded-postings view, positions layer,
    delete bitmaps all apply per field)."""
    from lucene_solr_spark.index.fields import MultiFieldIndex

    with open(os.path.join(root, "schema.json")) as f:
        manifest = json.load(f)
    fields = {
        fname: load_index(
            spark, os.path.join(root, "fields", fname), apply_deletes=apply_deletes
        )
        for fname in manifest["fields"]
    }
    return MultiFieldIndex(fields, manifest["default_field"])


def load_index(
    spark: SparkSession, root: str, apply_deletes: bool = True
) -> IndexTables:
    """Open any store (batch, multi-field field, streaming or compacted) at
    its current snapshot as queryable IndexTables.

    Only the snapshot's committed units are read (see ``_committed``):
    uncommitted or orphaned directories on disk are ignored.  A streaming
    store's ``docs`` and compressed segments keep their ``gen`` column.

    Collection stats come from the snapshot manifest (exact, build-order
    independent); postings and positions are lazy decoded views over the
    compressed rows, so the store holds exactly one copy of the posting
    data.  The views are term-pruned at the scan: a ``term`` filter on
    ``postings`` / ``positions`` (including one above the deletes anti-join)
    is pushed down to the Parquet read, so a query decodes only the rows of
    its own terms.

    Deletes: committed delete generations are applied as an anti-join on
    docs/postings; stats stay at their pre-delete values until compaction
    (Lucene liveDocs semantics).  A deleted store's WAND path re-encodes the
    live postings on first use (the zero-copy compressed view would leak
    deleted docs); compaction restores the zero-copy path."""
    store = IndexStore(root)
    snap = _head(store)
    keep = _committed(snap)
    docs = _read_layer(spark, store.docs_path, keep)
    compressed = _read_layer(spark, store.segments_path, keep)
    postings = postings_from_compressed(compressed)
    segments = compressed.groupBy("term").agg(
        F.sum("df_part").cast("int").alias("df"),
        F.sum("cf_part").cast("long").alias("cf"),
    )
    positions = None
    if _has_positions(store, snap.gens):
        positions = positions_from_compressed(
            _read_layer(spark, store.positions_path, keep)
        )
    deleted = deleted_docids(spark, store, snap) if apply_deletes else None
    if deleted is not None:
        docs = docs.join(deleted, "docid", "left_anti")
        postings = postings.join(deleted, "docid", "left_anti")
        if positions is not None:
            positions = positions.join(deleted, "docid", "left_anti")
    index = IndexTables(
        docs=docs,
        postings=postings,
        segments=segments,
        max_doc=snap.max_doc,
        sum_total_term_freq=snap.sum_total_term_freq,
        avgdl=snap.avgdl,
        positions=positions,
    )
    if deleted is None:
        object.__setattr__(index, "_compressed", compressed)
    return index


def _merge_generations(
    spark: SparkSession,
    store: IndexStore,
    snap: Snapshot,
    merge_gens: list[int],
    drop_deletes: bool,
) -> Snapshot:
    """The one generation merge (SegmentMerger): decode ``merge_gens``,
    re-encode them into ONE new generation, commit a snapshot that lists it
    in their place, then remove their directories.

    ``drop_deletes`` (forceMerge) drops the delete generations' docs
    physically, commits live-doc stats and clears the delete list.  Without
    it the merge is pure concatenation: stats are unchanged and the delete
    generations keep masking every generation.

    Crash-safe because readers open only committed generations: a crash
    before the commit leaves the new generation unread, a crash after it
    leaves the merged ones on disk, unread and never swept (a sweep could
    not tell them from an in-flight batch's uncommitted generation)."""
    keep = F.col("gen").isin(merge_gens)
    docs = _read_layer(spark, store.docs_path, keep).drop("gen")
    postings = postings_from_compressed(
        _read_layer(spark, store.segments_path, keep)
    )
    positions = None
    if _has_positions(store, merge_gens):
        positions = positions_from_compressed(
            _read_layer(spark, store.positions_path, keep)
        )
    changes = {}
    if drop_deletes:
        changes["delete_gens"] = []
        deleted = deleted_docids(spark, store, snap)
        if deleted is not None:
            docs = docs.join(deleted, "docid", "left_anti")
            postings = postings.join(deleted, "docid", "left_anti")
            if positions is not None:
                positions = positions.join(deleted, "docid", "left_anti")
            agg = docs.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum("num_terms"), F.lit(0)).alias("s"),
            ).collect()[0]
            changes["max_doc"] = int(agg["n"])
            changes["sum_total_term_freq"] = int(agg["s"])

    # Merged generations live in a NEGATIVE id namespace so they can never
    # collide with (or be mistaken for) a Structured-Streaming batch id: after
    # batches 0..N-1, max+1 would be exactly the next batch id N.
    new_gen = min(0, *snap.gens) - 1
    _write_unit(store, docs, postings, positions, new_gen)
    new_snap = _successor(
        snap,
        gens=sorted([g for g in snap.gens if g not in merge_gens] + [new_gen]),
        max_batch_id=snap.max_batch_id
        if snap.max_batch_id is not None
        else max((g for g in snap.gens if g >= 0), default=None),
        **changes,
    )
    store.commit(new_snap)
    for g in merge_gens:
        for layer in (store.docs_path, store.segments_path, store.positions_path):
            shutil.rmtree(_unit_dir(layer, g), ignore_errors=True)
    if drop_deletes:
        for dg in snap.delete_gens or []:
            shutil.rmtree(
                os.path.join(store.deletes_path, f"dgen={dg}"), ignore_errors=True
            )
    return new_snap


def delete_by_query(
    spark: SparkSession, root: str, q: str, now_epoch_ms: int | None = None
) -> Snapshot:
    """Solr deleteByQuery with a full query string
    (DirectUpdateHandler2.deleteByQuery — the DBQ path): the body routes
    through the same parser/qparser machinery as an fq, so term / boolean /
    multi-term / {!type} bodies all resolve; matching docids become one
    delete generation.  Pure-negative bodies delete the complement
    (everything EXCEPT the matches), like a filter would select it."""
    from lucene_solr_spark.search.filtercache import _parse_filter

    idx = load_index(spark, root, apply_deletes=False)
    kind, df = _parse_filter(idx, q, now_epoch_ms=now_epoch_ms)
    if kind == "neg":
        matching = idx.docs.select("docid").join(df, "docid", "left_anti")
    else:
        matching = df.select("docid")
    return delete_docids(spark, root, matching)
