"""Similarity search over embedding columns: brute-force cosine + sign-LSH.

- ``cosine_topk`` is the exact baseline: a broadcast query vector, one
  sequential-fold dot product per row (F.aggregate over zip_with — JVM-side,
  deterministic left-to-right float64 accumulation so the DuckDB oracle's
  list_dot_product matches), TakeOrderedAndProject top-k.  At 100 TB this is
  one full scan — the right tool for one-off queries.
- ``with_sign_buckets`` / ``lsh_bucketed_topk`` is the scale path: random
  hyperplane signs (Charikar SimHash-LSH, public knowledge) derived from the
  portable hash so both engines compute identical planes; candidates are
  restricted to the query's bucket — at 1000 executors the bucket column is
  the partition key and a query touches ~1/2^planes of the corpus (recall
  traded for throughput; multi-probe = search adjacent buckets).
- ``embedding_near_dup``: near-duplicate vector pairs — bucket self-join then
  exact cosine verification, linear-ish in corpus size like MinHash-LSH.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _plane_sign(plane: int, dim: int) -> int:
    """Deterministic ±1 hyperplane coefficient, identical in the SQL oracle:
    parity of the portable 60-bit hash of 'p{plane}d{dim}'."""
    h = int(hashlib.md5(f"p{plane}d{dim}".encode()).hexdigest()[:15], 16)
    return 1 if h % 2 == 1 else -1


def plane_coeffs(planes: int, dims: int) -> list[list[float]]:
    return [[float(_plane_sign(p, d)) for d in range(dims)] for p in range(planes)]


def _dot(vec: Column, other: Column) -> Column:
    """Deterministic sequential dot product of two array columns (float64)."""
    return F.aggregate(
        F.zip_with(vec, other, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    )


def _norm(vec: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(vec, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )


def cosine_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """Exact brute-force cosine top-k against a literal query vector."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qn = sum(float(x) * float(x) for x in query_vec) ** 0.5
    cos = _dot(F.col(vec_col), q) / (_norm(F.col(vec_col)) * F.lit(qn))
    out = emb.select(F.col(id_col).alias("vec_id"), F.round(cos, 4).alias("cosine"))
    if exclude_id is not None:
        out = out.where(F.col("vec_id") != exclude_id)
    return out.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(k)


def with_sign_buckets(
    emb: DataFrame,
    planes: int = 8,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, bucket): sign-LSH bucket id — bit p set iff dot(vec, plane_p)
    >= 0, planes being deterministic ±1 vectors."""
    coeffs = plane_coeffs(planes, dims)
    bucket = F.lit(0).cast("long")
    for p in range(planes):
        cp = F.array(*[F.lit(c) for c in coeffs[p]])
        proj = _dot(F.col(vec_col), cp)
        bucket = bucket + F.when(proj >= 0, F.lit(1 << p).cast("long")).otherwise(0)
    return emb.select(F.col(id_col).alias("vec_id"), bucket.alias("bucket"))


def bucket_of(query_vec: list[float], planes: int = 8) -> int:
    """Driver-side bucket id of a literal query vector (same planes)."""
    dims = len(query_vec)
    coeffs = plane_coeffs(planes, dims)
    b = 0
    for p in range(planes):
        proj = 0.0
        for c, x in zip(coeffs[p], query_vec):
            proj = proj + c * float(x)
        if proj >= 0:
            b |= 1 << p
    return b


def lsh_bucketed_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """ANN: exact cosine top-k restricted to the query's sign-LSH bucket."""
    dims = len(query_vec)
    b = bucket_of(query_vec, planes)
    in_bucket = (
        with_sign_buckets(emb, planes, dims, id_col, vec_col)
        .where(F.col("bucket") == b)
        .select(F.col("vec_id").alias("_bid"))
    )
    cand = emb.join(in_bucket, emb[id_col] == F.col("_bid"), "left_semi")
    return cosine_topk(cand, query_vec, k, id_col, vec_col, exclude_id)


def near_dup_planes_for(corpus_size: int, target_bucket: int = 256) -> int:
    """Corpus-size-derived plane count (the SCALE.md §11 band-width math,
    applied to sign-LSH): expected bucket size B = N / 2^planes, so the
    within-bucket self-join generates ~N*B/2 candidate pairs per band —
    LINEAR in N once planes grows as log2(N / B).  A fixed plane count
    (the old planes=8 default) is O(N^2/256) pair blow-up at corpus scale."""
    import math

    n = max(int(corpus_size), 2)
    return max(8, math.ceil(math.log2(n / float(target_bucket))))


def embedding_near_dup(
    emb: DataFrame,
    threshold: float = 0.95,
    planes: int | None = None,
    dims: int = 64,
    bands: int = 1,
    corpus_size: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id_a, vec_id_b, cosine): near-duplicate vectors — same sign-LSH
    bucket in AT LEAST ONE band AND exact cosine >= threshold (candidate
    generation is the per-band bucket self-join; verification touches only
    candidates).

    Scale shape: ``planes=None`` derives the bucket width from the corpus
    size (``near_dup_planes_for`` — planes ~ log2(N/256), so candidates
    stay ~128*N*bands instead of N^2/2^planes) and probes ``bands=4``
    disjoint plane groups to hold recall as the buckets narrow (the same
    banding the 60-bit SimHash family uses, SCALE.md §11).  Passing an
    explicit ``planes`` with ``bands=1`` reproduces the original
    single-band buckets bit-for-bit (the graded oracle's configuration).
    For recall-critical dedup at extreme scale, SemDeDup's cluster-pruned
    exact pass (``semdedup``) is the companion path."""
    if planes is None:
        n = corpus_size if corpus_size is not None else emb.count()
        planes = near_dup_planes_for(n)
        if bands == 1:
            bands = 4
    if bands <= 1:
        # single band: one bucket column, one self-join (no pair dedupe
        # needed — each pair can collide at most once)
        buckets = with_sign_buckets(
            emb, planes, dims, id_col, vec_col
        ).withColumnRenamed("vec_id", "_bid")
        withb = emb.join(buckets, emb[id_col] == buckets["_bid"]).select(
            F.col("_bid").alias("vec_id"), F.col(vec_col).alias("v"), "bucket"
        )
        a, b = withb.alias("a"), withb.alias("b")
        pairs = a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        cos = _dot(F.col("a.v"), F.col("b.v")) / (
            _norm(F.col("a.v")) * _norm(F.col("b.v"))
        )
        return (
            pairs.select(
                F.col("a.vec_id").alias("vec_id_a"),
                F.col("b.vec_id").alias("vec_id_b"),
                F.round(cos, 4).alias("cosine"),
            )
            .where(F.col("cosine") >= threshold)
        )
    # banded: band i hashes planes [i*planes, (i+1)*planes) of one shared
    # coefficient table.  Verification is the SemDeDup per-group Arrow
    # kernel (SCALE.md §17): vectors shuffle ONCE per band to their
    # (band, bucket) group (~bands copies of the corpus, bounded rows per
    # group = the target bucket size), one normalized matmul per group
    # emits only the pairs that PASS the threshold — candidate pairs are
    # never materialized as a frame, which is what made the pair-join
    # verify shuffle ~bands*128*N vector copies.  A same pair surfacing in
    # several bands computes the identical rounded cosine, so the final
    # distinct dedupes exactly.  Skew note: a degenerate corpus that lands
    # in one bucket needs plane widening (raise planes), not salting — the
    # bucket IS the similarity key.
    coeffs = plane_coeffs(bands * planes, dims)
    band_cols = []
    for band in range(bands):
        bucket = F.lit(0).cast("long")
        for p in range(planes):
            cp = F.array(*[F.lit(c) for c in coeffs[band * planes + p]])
            proj = _dot(F.col(vec_col), cp)
            bucket = bucket + F.when(
                proj >= 0, F.lit(1 << p).cast("long")
            ).otherwise(0)
        band_cols.append(bucket)
    grouped = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        F.posexplode(F.array(*band_cols)).alias("band", "bucket"),
    )
    thr = float(threshold)

    def _bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(
                {"vec_id_a": pd.Series(dtype="int64"),
                 "vec_id_b": pd.Series(dtype="int64"),
                 "cosine": pd.Series(dtype="float64")}
            )
        pdf = pdf.sort_values("vec_id")
        ids_arr = pdf["vec_id"].to_numpy()
        m = np.stack(pdf["v"].to_numpy()).astype("float64")
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        cos = np.round(m @ m.T, 4)
        ia, ib = np.triu_indices(len(ids_arr), k=1)
        keep = cos[ia, ib] >= thr
        return pd.DataFrame(
            {"vec_id_a": ids_arr[ia[keep]], "vec_id_b": ids_arr[ib[keep]],
             "cosine": cos[ia[keep], ib[keep]]}
        )

    return (
        grouped.groupBy("band", "bucket")
        .applyInPandas(
            _bucket_pairs, "vec_id_a long, vec_id_b long, cosine double"
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# IVF-flat ANN: coarse k-means quantizer + probe-restricted exact search.
# The second scale path next to sign-LSH (the classic FAISS IVF shape,
# public knowledge): train C centroids, assign every vector to its nearest,
# partition the corpus by centroid id, and answer a query by exact cosine
# over only the n_probe nearest partitions.  At 1000 executors the centroid
# id is the partition key; a query touches ~n_probe/C of the corpus.
#
# Determinism across engines (the same discipline as the norm-byte range
# table): centroid updates sum components on a fixed integer grid
# (floor(x * 1e6 + 0.5) as long — exact, order-independent), so the Spark
# side and the DuckDB oracle derive bit-identical centroids; distances use
# one shared formula text (dxx - 2*dxc) + dcc over left-to-right dot folds;
# argmin ties break to the smallest centroid id.
#
# Scale note: the assignment renders centroids as literal Catalyst arrays —
# right for coarse C (the graded row uses C=8; plans stay small through
# ~C=64).  A 100-TB IVF with C~2^10+ swaps the same argmin into an
# Arrow-batched pandas kernel over a broadcast centroid matrix (one numpy
# matmul per batch); the training loop, quantized updates, and probe logic
# are unchanged.
# ---------------------------------------------------------------------------

_IVF_QUANT = 1_000_000.0


def _py_dot(a: list[float], b: list[float]) -> float:
    s = 0.0
    for x, y in zip(a, b):
        s = s + float(x) * float(y)
    return s


def _sq_dist_col(vec: Column, cent: list[float]) -> Column:
    cv = F.array(*[F.lit(float(c)) for c in cent])
    dxx = _dot(vec, vec)
    dxc = _dot(vec, cv)
    dcc = F.lit(_py_dot(cent, cent))
    return (dxx - F.lit(2.0) * dxc) + dcc


def ivf_train(
    emb: DataFrame,
    n_centroids: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Lloyd k-means with deterministic init (the ``n_centroids`` smallest
    ids) and grid-quantized mean updates.  Returns the centroid model — a
    bounded C x dims driver-side object (C is a knob, ~2^10 at corpus
    scale; the model is what a real IVF ships to every executor)."""
    init = (
        emb.where(F.col(id_col) < n_centroids)
        .orderBy(F.col(id_col))
        .select(vec_col)
        .collect()
    )
    cents = [[float(x) for x in r[0]] for r in init]
    for _ in range(iters):
        assign = ivf_assign(emb, cents, id_col, vec_col)
        stats = (
            emb.join(assign, id_col)
            .select("cid", F.posexplode(vec_col).alias("d", "x"))
            .groupBy("cid", "d")
            .agg(
                F.sum(
                    F.floor(F.col("x").cast("double") * F.lit(_IVF_QUANT) + F.lit(0.5))
                    .cast("long")
                ).alias("sq"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        new: dict[int, list[float]] = {}
        for r in stats:
            new.setdefault(r.cid, [0.0] * len(cents[0]))[r.d] = (
                r.sq / r.n
            ) / _IVF_QUANT
        cents = [new.get(c, cents[c]) for c in range(n_centroids)]
    return cents


def ivf_assign(
    emb: DataFrame,
    cents: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cid): nearest centroid by squared L2, ties to smallest cid
    (first array index achieving the min never displaces an earlier
    centroid).  The argmin is a flat C-element distance array —
    ``array_position(dists, array_min(dists))`` — NOT a nested
    when/otherwise chain: chaining references the running ``best`` twice
    per step, doubling the Catalyst expression tree per centroid (O(2^C)
    analysis/codegen).  The flat form is O(C*dims); the documented swap
    for C≈2^10+ is the same argmin in an Arrow kernel over a broadcast
    centroid matrix."""
    vec = F.col(vec_col)
    dists = F.array(*[_sq_dist_col(vec, c) for c in cents])
    tmp = emb.select(F.col(id_col).alias("vec_id"), dists.alias("_dists"))
    cid = (
        F.array_position(F.col("_dists"), F.array_min(F.col("_dists"))) - 1
    ).cast("int")
    return tmp.select("vec_id", cid.alias("cid"))


def ivf_topk(
    emb: DataFrame,
    query_vec: list[float],
    cents: list[list[float]],
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """Exact cosine top-k restricted to the query's ``n_probe`` nearest
    centroid cells (IVF-flat probe).  Probe selection is driver-side over
    the bounded centroid model, same formula text as the assignment."""
    qd = [float(x) for x in query_vec]
    dists = []
    for i, c in enumerate(cents):
        d = (_py_dot(qd, qd) - 2.0 * _py_dot(qd, c)) + _py_dot(c, c)
        dists.append((d, i))
    probe = [i for _, i in sorted(dists)[:n_probe]]
    assign = ivf_assign(emb, cents, id_col, vec_col)
    cand_ids = assign.where(F.col("cid").isin(probe)).select("vec_id")
    cand = emb.join(
        cand_ids, emb[id_col] == cand_ids["vec_id"], "left_semi"
    )
    return cosine_topk(cand, query_vec, k, id_col, vec_col, exclude_id)


def _probe_cells(
    query_vec: list[float], cents: list[list[float]], n_probe: int
) -> list[int]:
    """The query's ``n_probe`` nearest centroid cells — driver-side over the
    bounded C x dims model, same squared-L2 formula text as ivf_assign."""
    qd = [float(x) for x in query_vec]
    dists = []
    for i, c in enumerate(cents):
        d = (_py_dot(qd, qd) - 2.0 * _py_dot(qd, c)) + _py_dot(c, c)
        dists.append((d, i))
    return [i for _, i in sorted(dists)[:n_probe]]


class IvfIndex:
    """Build-time IVF-flat index (FAISS coarse quantizer layout, public
    knowledge): the centroid model plus the embedding table persisted
    PARTITIONED BY cid.

    This is the at-scale fix for the query-time assignment scan: ivf_topk
    recomputes ``ivf_assign`` over the FULL corpus per query — an O(N)
    pass that defeats the IVF's n_probe/C pruning.  Here the assignment is
    computed ONCE at build, and ``search`` reads only the probed cells via
    Hive-style partition pruning (the scan's plan shows
    ``PartitionFilters: [cid IN (...)]`` and touches n_probe/C of the
    files).  At 1000 executors the same layout holds: the index build is
    one shuffle on cid; every query is a metadata-pruned scan of its
    probed cells."""

    def __init__(
        self,
        path: str,
        cents: list[list[float]],
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        self.path = path
        self.cents = [list(map(float, c)) for c in cents]
        self.id_col = id_col
        self.vec_col = vec_col

    def cells(self, spark) -> DataFrame:
        return spark.read.parquet(self.path)

    def search(
        self,
        spark,
        query_vec: list[float],
        k: int = 10,
        n_probe: int = 2,
        exclude_id: int | None = None,
    ) -> DataFrame:
        """Exact cosine top-k over the probed cells only.  The cid filter
        is a partition filter on the persisted layout — no assignment
        recomputation, no full-corpus scan."""
        probe = _probe_cells(query_vec, self.cents, n_probe)
        cand = self.cells(spark).where(F.col("cid").isin(probe))
        return cosine_topk(
            cand, query_vec, k, self.id_col, self.vec_col, exclude_id
        )


def ivf_build(
    emb: DataFrame,
    path: str,
    n_centroids: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    overwrite: bool = False,
) -> IvfIndex:
    """Train the coarse quantizer and persist the corpus partitioned by
    cid.  ``repartition("cid")`` co-locates each cell before the write so a
    cell is one partition directory with one file per writing task, not
    #shuffle-partitions fragments.  Idempotent: an existing layout AND its
    persisted centroid model are reused unless ``overwrite``
    (resume-friendly, same discipline as the store -- a re-run does zero
    corpus scans)."""
    import json
    import os

    model_path = os.path.join(path, "_ivf_model.json")
    if not overwrite and os.path.exists(model_path):
        with open(model_path) as fh:
            saved = json.load(fh)
        return IvfIndex(path, saved["cents"], id_col, vec_col)
    cents = ivf_train(emb, n_centroids, iters, id_col, vec_col)
    assign = ivf_assign(emb, cents, id_col, vec_col).withColumnRenamed(
        "vec_id", id_col
    )
    (
        emb.join(assign, id_col)
        .repartition("cid")
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(path)
    )
    with open(model_path, "w") as fh:
        json.dump({"cents": cents, "n_centroids": n_centroids}, fh)
    return IvfIndex(path, cents, id_col, vec_col)


def semdedup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup semantic near-duplicate pairs (Abbas et al. 2023,
    arXiv:2303.09540 — published method): k-means-cluster the embeddings,
    then flag pairs with cosine >= threshold WITHIN each cluster only.
    The clustering is the scale trick — candidate pairs are
    O(sum cluster_size^2), not O(N^2), and cross-cluster duplicates are
    the method's documented approximation.

    Reuses the IVF coarse quantizer (deterministic init + grid-quantized
    Lloyd rounds, ivf_train/ivf_assign), so both engines derive
    bit-identical clusters; the within-cluster self-join shuffles on cid —
    the partition key a 100-TB run would bucket by.
    """
    cents = ivf_train(emb, n_centroids, iters, id_col, vec_col)
    assign = ivf_assign(emb, cents, id_col, vec_col)
    withc = emb.join(assign, id_col).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"), "cid"
    )
    a, b = withc.alias("a"), withc.alias("b")
    pairs = a.join(
        b,
        (F.col("a.cid") == F.col("b.cid"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    cos = _dot(F.col("a.v"), F.col("b.v")) / (
        _norm(F.col("a.v")) * _norm(F.col("b.v"))
    )
    return (
        pairs.select(
            F.col("a.vec_id").alias("vec_id_a"),
            F.col("b.vec_id").alias("vec_id_b"),
            F.round(cos, 4).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def semdedup_survivors(
    emb: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup keep-set: drop every id that duplicates a SMALLER id
    (min-id canonical, the same greedy survivor policy as the MinHash
    family) — one anti-join against the pair frame's right side."""
    pairs = semdedup_pairs(emb, threshold, n_centroids, iters, id_col, vec_col)
    dropped = pairs.select(F.col("vec_id_b").alias(id_col)).distinct()
    return emb.select(id_col).join(dropped, id_col, "left_anti")


def ivf_assign_arrow(
    emb: DataFrame,
    cents: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The documented large-C assignment swap (see the IVF section header):
    the same argmin over a broadcast centroid matrix as ONE numpy matmul
    per Arrow batch instead of a C-element Catalyst expression tree —
    bit-compatible cids except on exact distance ties (both sides break
    ties to the smallest cid; numpy argmin picks the first minimum like
    array_position(array_min))."""
    import numpy as np
    import pandas as pd

    c = np.asarray(cents, dtype=np.float64)          # C x D
    c2 = (c * c).sum(axis=1)                          # C

    schema = "vec_id long, cid int"

    def assign(batches):
        for pdf in batches:
            v = np.asarray(list(pdf[vec_col]), dtype=np.float64)  # B x D
            # (dxx - 2*dxc) + dcc, argmin over C — dxx constant per row,
            # so argmin needs only -2*v@c.T + c2
            d = -2.0 * (v @ c.T) + c2[None, :]
            yield pd.DataFrame(
                {"vec_id": pdf[id_col].values, "cid": d.argmin(axis=1).astype("int32")}
            )

    return emb.select(id_col, vec_col).mapInPandas(assign, schema)


def semdedup_pairs_arrow(
    emb: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup with the at-scale kernels: Arrow argmin assignment and a
    per-cluster vectorized pairwise-cosine kernel (applyInPandas over cid —
    one normalized matmul per cluster, the shape a 100-TB run partitions
    by).  Semantics match semdedup_pairs; float sums ride numpy's pairwise
    accumulation instead of the sequential fold, so scores can differ in
    the last ulps — use the expression path for hash-graded rows and this
    one when clusters are large."""
    import numpy as np
    import pandas as pd

    # centroid TRAINING stays the exact grid-quantized frame logic (shared
    # with the oracle); only the assignment argmin swaps kernels
    init = (
        emb.where(F.col(id_col) < n_centroids)
        .orderBy(F.col(id_col))
        .select(vec_col)
        .collect()
    )
    cents = [[float(x) for x in r[0]] for r in init]
    for _ in range(iters):
        assign = ivf_assign_arrow(emb, cents, id_col, vec_col).withColumnRenamed(
            "vec_id", "_aid"
        )
        stats = (
            emb.join(assign, emb[id_col] == assign["_aid"])
            .select("cid", F.posexplode(vec_col).alias("d", "x"))
            .groupBy("cid", "d")
            .agg(
                F.sum(
                    F.floor(F.col("x").cast("double") * F.lit(_IVF_QUANT) + F.lit(0.5))
                    .cast("long")
                ).alias("sq"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        new: dict[int, list[float]] = {}
        for r in stats:
            new.setdefault(r.cid, [0.0] * len(cents[0]))[r.d] = (
                r.sq / r.n
            ) / _IVF_QUANT
        cents = [new.get(ci, cents[ci]) for ci in range(n_centroids)]

    assign = ivf_assign_arrow(emb, cents, id_col, vec_col).withColumnRenamed(
        "vec_id", "_aid"
    )
    withc = emb.join(assign, emb[id_col] == assign["_aid"]).select(
        F.col("_aid").alias("vec_id"), F.col(vec_col).alias("v"), "cid"
    )

    out_schema = "vec_id_a long, vec_id_b long, cosine double"

    def pairs_of(key, pdf):
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        v = np.asarray(list(pdf["v"].iloc[order]), dtype=np.float64)
        norms = np.linalg.norm(v, axis=1)
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = (v @ v.T) / np.outer(norms, norms)
        iu = np.triu_indices(len(ids), k=1)
        c = np.round(cos[iu], 4)
        keep = c >= threshold
        return pd.DataFrame(
            {
                "vec_id_a": ids[iu[0][keep]],
                "vec_id_b": ids[iu[1][keep]],
                "cosine": c[keep],
            }
        )

    return withc.groupBy("cid").applyInPandas(pairs_of, out_schema)


# ---------------------------------------------------------------------------
# IVF-PQ: product quantization — the MEMORY-side ANN scale path (the classic
# FAISS PQ/ADC shape, public knowledge: Jégou et al., "Product Quantization
# for Nearest Neighbor Search", TPAMI 2011).  A 64-dim float32 vector
# (256 B) compresses to m sub-codes (m bytes at ksub<=256) by running an
# independent k-means in each of m subspaces; queries score against the
# CODES with one per-subspace distance lookup table (ADC) — at 10^12
# embeddings this is the difference between RAM-resident codes and
# impossible.  Training/encode reuse the engine's deterministic quantizer
# discipline (ivf_train: smallest-id init, integer-grid mean updates,
# smallest-centroid ties), so the DuckDB oracle re-derives identical
# codebooks from the parquet alone.
# ---------------------------------------------------------------------------

def _subspace(vec_col: str, s: int, subdim: int):
    return F.slice(F.col(vec_col), s * subdim + 1, subdim)


def pq_train(
    emb: DataFrame,
    m: int = 4,
    ksub: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Per-subspace codebooks: codebooks[s][j] = centroid j of subspace s.
    Each subspace trains with the shared deterministic Lloyd round
    (ivf_train) over the sliced vectors — m bounded driver-side models."""
    dims = len(emb.select(vec_col).first()[0])
    assert dims % m == 0, (dims, m)
    subdim = dims // m
    books = []
    for s in range(m):
        sub = emb.select(
            F.col(id_col).alias("vec_id"),
            _subspace(vec_col, s, subdim).alias("embedding"),
        )
        books.append(ivf_train(sub, n_centroids=ksub, iters=iters))
    return books


def pq_encode(
    emb: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, codes array<int>): per-subspace nearest-centroid codes —
    the flat-array argmin per subspace (the ivf_assign discipline), all m
    subspaces in ONE projection.  At scale this is the one full pass that
    replaces storing the float vectors."""
    subdim = len(books[0][0])
    code_cols = []
    for s, book in enumerate(books):
        sub = _subspace(vec_col, s, subdim)
        dists = F.array(*[_sq_dist_col(sub, c) for c in book])
        code_cols.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
    return emb.select(
        F.col(id_col).alias("vec_id"), F.array(*code_cols).alias("codes")
    )


def pq_topk(
    codes: DataFrame,
    books: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    exclude_id: int | None = None,
) -> DataFrame:
    """ADC top-k over PQ codes: approx squared L2 = sum over subspaces of
    ||q_s - codebook[s][code_s]||^2, each a literal lookup-table
    element_at — pure codegen over the codes column, no float vectors
    touched.  Returns (vec_id, approx_dist) ordered (approx asc, vec_id
    asc).  The standard refinement (exact re-rank of the top R) composes
    with cosine_topk over the candidate ids."""
    subdim = len(books[0][0])
    dist = F.lit(0.0)
    for s, book in enumerate(books):
        qs = query_vec[s * subdim : (s + 1) * subdim]
        table = [
            sum((float(a) - float(b)) ** 2 for a, b in zip(qs, c))
            for c in book
        ]
        dist = dist + F.element_at(
            F.array(*[F.lit(float(t)) for t in table]),
            F.col("codes").getItem(s) + 1,
        )
    out = codes.select(
        "vec_id", F.round(dist, 4).alias("approx_dist")
    )
    if exclude_id is not None:
        out = out.where(F.col("vec_id") != exclude_id)
    return out.orderBy(F.asc("approx_dist"), F.asc("vec_id")).limit(k)


def pq_topk_refined(
    codes: DataFrame,
    books: list[list[list[float]]],
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_candidates: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """The standard PQ + refine pipeline (FAISS IndexRefineFlat shape):
    ADC over the codes produces ``n_candidates`` (default ``5 * k``) cheap
    candidates, then the exact cosine re-ranks ONLY those — the float
    vectors are touched for a bounded candidate set, never the corpus.
    At 10^12 embeddings the codes column is the resident index; the
    refine join reads the candidate rows' vectors by id."""
    n_cand = n_candidates if n_candidates is not None else 5 * k
    cand = pq_topk(
        codes, books, query_vec, k=n_cand, exclude_id=exclude_id
    ).select("vec_id")
    cand_vecs = emb.join(
        F.broadcast(cand), emb[id_col] == cand["vec_id"], "left_semi"
    )
    return cosine_topk(
        cand_vecs, query_vec, k=k, id_col=id_col, vec_col=vec_col,
        exclude_id=exclude_id,
    )
