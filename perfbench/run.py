"""Layered build / search / curate benchmark of lucene_solr_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload search_memory --seed 1 --seconds 5 --trace 0

One closed-loop client on ``local[4]``: the next call starts only when the
previous one has returned.  Inputs are a seeded synthetic web corpus
(``corpus.py``); every output is checked against ``oracle.py``, which never
calls the engine.  See ``README.md`` for the workloads and the metric map.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the run records spans around every
layer call and reports the per-layer metrics instead (spans are written to
``.perfbench_work/spans-<workload>-<seed>.jsonl``).  The line before it is a
``context`` object: host load average, the job floor, sample counts.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from corpus import CYCLE, PAGES_SCHEMA, generate, query_mix  # noqa: E402
from oracle import Oracle, same_topk  # noqa: E402
from spans import Tracer  # noqa: E402

WORKLOADS = ("search_memory", "search_store")
N_DOCS = 120
PARTITIONS = 4
CORES = 4
BUILD_REPS = 2
OPEN_REPS = 3
FLOOR_REPS = 5
CLASSES = ("term", "bool", "phrase", "facet", "wand")
# C1 only: compiled code reaches its steady speed within the first builds
# instead of drifting over minutes of C2 recompilation, which left the
# timed loop measuring the JIT; serial GC: no parallel GC threads competing
# with the four task threads; a fixed 2g heap: no full collections while
# the heap grows
JVM_OPTS = "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC -Xms2g"


# --------------------------------------------------------------------------
# process-tree memory


def _tree_rss_kb(root: int) -> int:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (the JVM and the Python workers), sampled from /proc.  Each sample walks
    /proc holding the GIL the client thread needs, so it samples once a
    second: the JVM's fixed heap keeps the peak from being brief."""

    def __init__(self, period: float = 1.0):
        super().__init__(daemon=True)
        self.period = period
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            self._stop_evt.wait(self.period)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))


# --------------------------------------------------------------------------
# statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, samples); with fewer than 11 samples, the maximum."""
    s = sorted(xs)
    n = len(s)
    if n < 11:
        return s[-1], 100.0, n
    idx = n - 11  # ten samples above index n-11
    return s[idx], 100.0 * (idx + 1) / n, n


def dir_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".crc") or f == "_SUCCESS":
                continue
            total += os.path.getsize(os.path.join(d, f))
    return total


def release(idx) -> None:
    """Drop every cache an in-memory build holds, WAND's compressed
    segments included, and wait until the blocks are gone, so the next
    build's cached bytes are its own."""
    for df in (*idx.cached, getattr(idx, "_compressed", None)):
        if df is not None:
            df.unpersist(blocking=True)


def cached_bytes(spark) -> int:
    """Bytes held by the session's cached tables (memory + disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


# --------------------------------------------------------------------------


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.store_mode = args.workload == "search_store"
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layer: dict[str, float] = {}
        self.ctx: dict = {}

    # ---- bookkeeping ------------------------------------------------------

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)
        return ok

    # ---- session / inputs --------------------------------------------------

    def start(self):
        from lucene_solr_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": JVM_OPTS,
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t0
        self.tr = Tracer(self.spark, bool(self.args.trace))

        self.corpus = generate(self.args.seed, N_DOCS, PARTITIONS)
        self.oracle = Oracle(self.corpus, PARTITIONS)
        self.queries = query_mix(self.corpus, self.args.seed)
        self.expected = {q: self.oracle.expected(q) for q in self.queries}
        self.text_bytes = sum(len(t.encode()) for t in self.corpus.texts)
        self.pages = self.spark.createDataFrame(
            self.corpus.pages_rows(), PAGES_SCHEMA).cache()
        self.pages.count()

    def stop(self):
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()

    # ---- build + open -------------------------------------------------------

    def build_memory(self):
        from lucene_solr_spark.index.compress import get_compressed
        from lucene_solr_spark.pages import build_index_from_pages

        idx = build_index_from_pages(
            self.spark, self.pages, PARTITIONS, build_positions=True)
        idx.segments.count()
        idx.docs.count()
        get_compressed(idx).count()  # WAND's compressed segments
        return idx

    def build_store(self, root: str):
        from lucene_solr_spark.store.store import build_pages_to_store

        shutil.rmtree(root, ignore_errors=True)
        return build_pages_to_store(
            self.spark, self.pages, root, num_index_partitions=PARTITIONS)

    def check_build(self, max_doc, sum_ttf, postings, terms, tag):
        o = self.oracle
        self.check(max_doc == o.n, f"{tag}: max_doc {max_doc} != {o.n}")
        self.check(sum_ttf == o.sum_ttf, f"{tag}: sum_ttf {sum_ttf} != {o.sum_ttf}")
        self.check(postings == o.postings,
                   f"{tag}: postings {postings} != sum df {o.postings}")
        self.check(terms == o.terms, f"{tag}: terms {terms} != {o.terms}")

    def setup(self) -> dict:
        """Make the index queryable BUILD_REPS times over (once in a traced
        run) and time the first queries on it.

        The first build runs on a cold JVM and is the warm-up: its time is
        mostly class loading, JIT and Python worker start-up.  The build
        metrics time the last build, on a warm JVM.
        search_memory: the set-up is the in-memory build (build_index +
        caches + WAND's compressed segments), which releases the previous
        build's caches first.  The first call of each query class after
        the last build is timed; first_query_ms is their median.
        search_store: a checkpointed build_pages_to_store into a fresh store
        per build, then load_index OPEN_REPS times (setup_s is the median
        open); first_query_ms is the timed loop's first query, the first
        after the last open."""
        from pyspark.sql import functions as F

        tr = self.tr
        reps = 1 if tr.enabled else BUILD_REPS
        builds: list[float] = []
        if not self.store_mode:
            base = cached_bytes(self.spark)  # the cached pages table
            idx = None
            for _ in range(reps):
                if idx is not None:
                    release(idx)
                t = time.perf_counter()
                with tr.span("index.build_index_from_pages"):
                    idx = self.build_memory()
                builds.append(time.perf_counter() - t)
            self.idx = idx
            first_ms = [self.timed_op(idx, q) for q in next(self.rounds())]
            agg = idx.segments.agg(F.sum("df"), F.count(F.lit(1))).first()
            self.check_build(idx.max_doc, idx.sum_total_term_freq,
                             idx.postings.count(), agg[1], "memory build")
            self.check(int(agg[0]) == self.oracle.postings, "memory dictionary sum df")
            return {
                "setup_s": builds[-1],
                "build_docs_per_s": N_DOCS / builds[-1],
                "index_bytes_per_text_byte":
                    (cached_bytes(self.spark) - base) / self.text_bytes,
                "first_query_ms": median(first_ms),
            }

        from lucene_solr_spark.store.store import load_index

        root = os.path.join(self.work, "store")
        for _ in range(reps):
            t = time.perf_counter()
            with tr.span("store.build_pages_to_store"):
                snap = self.build_store(root)
            builds.append(time.perf_counter() - t)
        seg = self.spark.read.parquet(os.path.join(root, "segments"))
        agg = seg.agg(F.sum("df_part"), F.countDistinct("term")).first()
        self.check_build(snap.max_doc, snap.sum_total_term_freq, int(agg[0]),
                         int(agg[1]), "store build")
        opens = []
        for _ in range(OPEN_REPS):
            t = time.perf_counter()
            with tr.span("store.open"):
                idx = load_index(self.spark, root)
            opens.append(time.perf_counter() - t)
        self.idx = idx
        self.layer["store.open_s"] = median(opens)
        return {
            "setup_s": median(opens),
            "build_docs_per_s": N_DOCS / builds[-1],
            "index_bytes_per_text_byte": dir_bytes(root) / self.text_bytes,
        }

    def timed_op(self, idx, q) -> float:
        """Run and check one query; returns its latency in ms."""
        t = time.perf_counter()
        try:
            got = self.call(idx, q)
        except Exception as e:  # a failed op is counted, not fatal
            got = f"error: {e!r}"[:200]
        ms = 1e3 * (time.perf_counter() - t)
        self.verify(q, got)
        return ms

    # ---- queries --------------------------------------------------------------

    def call(self, idx, q):
        """One public engine call for ``q``; returns comparable rows."""
        from pyspark.sql import functions as F

        from lucene_solr_spark.search import BooleanQuery, PhraseQuery, search
        from lucene_solr_spark.search.wand import wand_search

        kind = q.kind
        if kind.startswith("facet"):
            docset = (idx.postings.filter(F.col("term") == q.terms[0])
                      .select("docid").distinct())
            return self.facet(idx.docs.join(docset, "docid"), kind)
        if kind == "phrase":
            out = search(idx, PhraseQuery(q.terms), k=10)
        else:
            base = kind.replace("wand_", "")
            bq = {
                "term": lambda: BooleanQuery.of(must=list(q.terms)),
                "and": lambda: BooleanQuery.of(must=list(q.terms)),
                "or": lambda: BooleanQuery.of(should=list(q.terms)),
                "andnot": lambda: BooleanQuery.of(must=list(q.terms),
                                                  must_not=list(q.neg)),
            }[base]()
            fn = wand_search if kind.startswith("wand") else search
            out = fn(idx, bq, k=10)
        return [(int(r["docid"]), float(r["score"])) for r in out.collect()]

    @staticmethod
    def facet(docs, kind):
        from pyspark.sql import functions as F

        from lucene_solr_spark.facets import facet_field
        from lucene_solr_spark.textops.clean import extract_domain

        if kind == "facet_host":
            docs = docs.withColumn("host", extract_domain(F.col("url")))
            rows = facet_field(docs, "host", limit=20).collect()
        else:
            rows = facet_field(docs, "lang", limit=20).collect()
        return [(r["facet_term"], int(r["facet_count"])) for r in rows]

    def verify(self, q, got) -> bool:
        want = self.expected[q]
        ok = got == want if q.kind.startswith("facet") else same_topk(got, want)
        return self.check(ok, f"{q.kind} {q.terms} -{q.neg}: got {got[:3]} want {want[:3]}")

    def rounds(self):
        """Rounds of one query per class; each class cycles through its own
        shapes, so every round has the same composition."""
        per = {c: itertools.cycle([q for q in self.queries if q.cls == c])
               for c in CLASSES}
        while True:
            yield [next(per[c]) for c in CLASSES]

    def job_floor(self) -> float:
        """Median wall time of an empty Spark job, in ms."""
        floors = []
        for _ in range(FLOOR_REPS):
            t = time.perf_counter()
            self.spark.range(1).count()
            floors.append(time.perf_counter() - t)
        return 1e3 * median(floors)

    def query_loop(self) -> dict:
        """Closed loop over whole cycles of the query mix (CYCLE rounds, so
        every shape of every class once) until --seconds have passed.  Whole
        cycles keep each class's samples the same mix of shapes in every
        run; a search_store cycle takes longer than --seconds.  A traced
        run stops at the first whole round instead: its per-layer metrics
        are medians over the classes, and each traced query runs twice."""
        self.job_floor_ms = self.job_floor()
        samples: dict[str, list[float]] = {c: [] for c in CLASSES}
        by_kind: dict[str, list[int]] = {}
        allq: list[float] = []
        deadline = time.perf_counter() + self.args.seconds
        opc = {"jobs": [], "decode_rows": [], "sum_df": [], "scan_bytes": [],
               "shuffle_bytes": [], "overhead": [], "unattributed": []}
        for n, rnd in enumerate(self.rounds(), 1):
            for q in rnd:
                with self.tr.counters(f"op-{self.attempted}") as cnt:
                    ms = self.timed_op(self.idx, q)
                samples[q.cls].append(ms)
                allq.append(ms)
                by_kind.setdefault(q.kind, []).append(round(ms))
                if self.tr.enabled:
                    self.traced_op(q, ms, cnt, opc)
            whole = self.tr.enabled or n % CYCLE == 0
            if whole and time.perf_counter() >= deadline:
                break
        tv, tp, tn = tail(allq)
        self.ctx.update(queries=len(allq), tail_percentile=tp, tail_samples=tn,
                        class_samples={c: len(v) for c, v in samples.items()},
                        query_ms=by_kind)
        if self.tr.enabled:
            self.report_query_layers(opc)
        out = {"query_p50_ms": median(allq), "query_tail_ms": tv}
        if self.store_mode:
            out["first_query_ms"] = allq[0]
        for c in CLASSES:
            out[f"{c}_p50_ms"] = median(samples[c])
        return out

    # ---- traced decomposition of one query -----------------------------------

    def traced_op(self, q, plain_ms, cnt, opc):
        """Re-run ``q`` with each layer's output materialized on its own:
        term stats -> postings of the query terms -> search() / facet_field()
        / wand_search(); check the result again."""
        from pyspark.sql import functions as F

        from lucene_solr_spark.index.builder import IndexTables
        from lucene_solr_spark.index.compress import get_compressed

        tr, idx = self.tr, self.idx
        terms = list(dict.fromkeys((*q.terms, *q.neg)))
        tr.new_op()
        opc["jobs"].append(cnt["jobs"])
        opc["scan_bytes"].append(cnt["scan_bytes"])
        opc["shuffle_bytes"].append(cnt["shuffle_bytes"])
        t = time.perf_counter()
        with tr.span("op", kind=q.kind) as op_span:
            with tr.span("search.bm25.term_stats"):
                idx.term_stats().filter(F.col("term").isin(terms)).collect()
            if q.cls == "wand":
                with tr.span("search.wand.segments") as sp:
                    sp.attrs["rows"] = (get_compressed(idx)
                                        .filter(F.col("term").isin(terms)).count())
                with tr.span("search.wand.kernel"):
                    got = self.call(idx, q)
            else:
                opc["decode_rows"].append(cnt["decode_rows"])
                opc["sum_df"].append(self.oracle.sum_df(q))
                name = "store.decode" if self.store_mode else "index.postings_read"
                with tr.span(name) as sp:
                    post = idx.postings.filter(F.col("term").isin(terms)).cache()
                    post_rows = sp.attrs["rows"] = post.count()
                    pos = None
                    if q.cls == "phrase":
                        pos = idx.positions.filter(F.col("term").isin(terms)).cache()
                        pos.count()
                sub = IndexTables(
                    docs=idx.docs, postings=post, segments=idx.segments,
                    max_doc=idx.max_doc, sum_total_term_freq=idx.sum_total_term_freq,
                    avgdl=idx.avgdl, positions=pos)
                if q.cls == "facet":
                    with tr.span("facets.docset") as sp:
                        ds = (post.filter(F.col("term") == q.terms[0])
                              .select("docid").distinct().cache())
                        sp.attrs["rows"] = ds.count()
                    with tr.span("facets.facet"):
                        got = self.facet(idx.docs.join(ds, "docid"), q.kind)
                    ds.unpersist()
                else:
                    with tr.span("search.bm25.score_topk") as sp:
                        sp.attrs["rows"] = post_rows
                        got = self.call(sub, q)
                post.unpersist()
                if pos is not None:
                    pos.unpersist()
        opc["overhead"].append(1e3 * (time.perf_counter() - t) - plain_ms)
        opc["unattributed"].append(tr.self_time(tr.spans.index(op_span)))
        self.verify(q, got)

    def report_query_layers(self, opc):
        tr = self.tr
        L = self.layer
        sec = lambda name: median(tr.durations(name))  # noqa: E731
        rows = lambda name: median([s.attrs.get("rows", 0)  # noqa: E731
                                    for s in tr.spans if s.name == name])
        L["session.jobs_per_op"] = median(opc["jobs"])
        L["session.shuffle_bytes"] = median(opc["shuffle_bytes"])
        L["store.decode_s"] = sec("store.decode")
        L["store.decode_rows"] = median(opc["decode_rows"])
        L["store.scan_bytes"] = median(opc["scan_bytes"])
        L["store.decode_rows_per_df"] = (
            sum(opc["decode_rows"]) / sum(opc["sum_df"]) if opc["sum_df"] else 0.0)
        L["search.bm25.term_stats_s"] = sec("search.bm25.term_stats")
        L["search.bm25.score_topk_s"] = sec("search.bm25.score_topk")
        L["search.bm25.rows_scored"] = rows("search.bm25.score_topk")
        L["search.wand.kernel_s"] = sec("search.wand.kernel")
        L["search.wand.segment_rows"] = rows("search.wand.segments")
        L["facets.facet_s"] = sec("facets.facet")
        L["facets.docset_rows"] = rows("facets.docset")
        L["trace.overhead_ms"] = median(opc["overhead"])
        L["trace.unattributed_ms"] = 1e3 * median(opc["unattributed"])

    # ---- traced build decomposition ------------------------------------------

    def traced_build(self):
        """The write path with each layer materialized on its own:
        pages -> analysis -> index.builder -> index.compress -> store commit."""
        from pyspark.sql import functions as F

        from lucene_solr_spark.analysis.analyzer import positioned_tokens_expr
        from lucene_solr_spark.index.builder import build_index
        from lucene_solr_spark.index.compress import (
            compress_positions, compress_postings)
        from lucene_solr_spark.pages import assign_page_docids, extract_text_expr
        from lucene_solr_spark.store.store import IndexStore, Snapshot

        tr, L = self.tr, self.layer
        with tr.span("build"):
            with tr.span("pages.extract"):
                assigned = (
                    assign_page_docids(self.pages, PARTITIONS)
                    .withColumn("extracted", extract_text_expr(F.col("html")))
                    .select("docid", "url", "extracted", "lang", "index_partition")
                    .cache())
                assigned.count()
            with tr.span("analysis.tokenize"):
                n_tok = assigned.select(F.sum(F.size(positioned_tokens_expr(
                    F.col("extracted"))))).first()[0]
            L["analysis.tokens"] = float(n_tok)
            self.check(int(n_tok) == self.oracle.sum_ttf, "analysis token count")
            with tr.span("index.builder.invert"):
                idx = build_index(
                    self.spark, assigned, key_col="url", text_col="extracted",
                    docid_col="docid", num_index_partitions=PARTITIONS,
                    passthrough_cols=("lang",), persist=True, build_positions=True)
            with tr.span("index.builder.docs_norms"):
                idx.docs.count()
            with tr.span("index.builder.dictionary"):
                n_terms = idx.segments.count()
            rows = idx.postings.count()
            L["index.builder.postings_rows"] = float(rows)
            self.check(rows == self.oracle.postings, "traced build postings")
            self.check(n_terms == self.oracle.terms, "traced build terms")
            blob = ("doc_gaps_vb", "tfs_vb", "norm_bytes")
            with tr.span("index.compress.encode"):
                comp = compress_postings(idx.postings).cache()
                out_bytes = comp.select(
                    sum(F.length(c) for c in blob).alias("b")).agg(F.sum("b")).first()[0]
            with tr.span("index.compress.positions_encode"):
                pcomp = compress_positions(idx.positions_grouped).cache()
                pcomp.count()
            L["index.compress.bytes_out"] = float(out_bytes)
            if self.store_mode:
                root = os.path.join(self.work, "store-traced")
                shutil.rmtree(root, ignore_errors=True)
                st = IndexStore(root)
                with tr.span("store.commit"):
                    for df, path in ((idx.docs, st.docs_path),
                                     (comp, st.segments_path),
                                     (pcomp, st.positions_path)):
                        (df.write.mode("overwrite")
                         .option("partitionOverwriteMode", "dynamic")
                         .partitionBy("index_partition").parquet(path))
                    st.commit(Snapshot(1, None, list(range(PARTITIONS)), PARTITIONS,
                                       idx.max_doc, idx.sum_total_term_freq))
            for df in (assigned, comp, pcomp):
                df.unpersist()
            idx.unpersist()
        for name in ("pages.extract", "analysis.tokenize", "index.builder.invert",
                     "index.builder.docs_norms", "index.builder.dictionary",
                     "index.compress.encode", "index.compress.positions_encode",
                     "store.commit"):
            L[name + "_s"] = median(tr.durations(name))

    # ---- curate ------------------------------------------------------------------

    def curate(self):
        """textops near-duplicate clustering + quality filtering, each stage
        materialized on its own (traced runs only)."""
        from pyspark.sql import functions as F

        from lucene_solr_spark.textops.clean import curation_pipeline
        from lucene_solr_spark.textops.dedup import (
            connected_components, jaccard_pairs, minhash_lsh_candidates,
            minhash_signatures, shingles, simhash)

        tr, L, c = self.tr, self.layer, self.corpus
        docs = self.spark.createDataFrame(
            [(i, c.urls[i], t) for i, t in enumerate(c.texts)],
            "doc_id long, url string, text string").cache()
        docs.count()
        t = time.perf_counter()
        with tr.span("textops.curate"):
            with tr.span("textops.dedup.shingle"):
                sh = shingles(docs).cache()
                sh.count()
            with tr.span("textops.dedup.simhash"):
                simhash(docs).count()
            with tr.span("textops.dedup.pairs"):
                sigs = minhash_signatures(docs, shingles_df=sh)
                cands = minhash_lsh_candidates(sigs, 4, 2).cache()
                n_cand = cands.count()
                pairs = (jaccard_pairs(docs, cands, shingles_df=sh)
                         .where(F.col("jaccard") >= 0.8).cache())
                n_pairs = pairs.count()
            with tr.span("textops.dedup.components"):
                comp = connected_components(
                    pairs, nodes=docs.select("doc_id")).collect()
            with tr.span("textops.clean.filter"):
                verdict = curation_pipeline(
                    docs, url_col="url",
                    gopher_kwargs={"min_stop_hits": 0}).collect()
        L["curate_docs_per_s"] = N_DOCS / (time.perf_counter() - t)
        label = {int(r["docid"]): int(r["component"]) for r in comp}
        missed = [p for p in self.oracle.planted_pairs()
                  if label.get(p[0]) is None or label.get(p[0]) != label.get(p[1])]
        self.check(not missed, f"near-dup pairs missed: {missed[:5]}")
        want = self.oracle.verdicts()
        got = {int(r["docid"]): r["reason"] for r in verdict}
        bad = [d for d in want if got.get(d) != want[d]]
        self.check(not bad, f"curation verdicts wrong for {len(bad)} docs, e.g. "
                            f"{[(d, got.get(d), want[d]) for d in bad[:3]]}")
        for name in ("textops.dedup.shingle", "textops.dedup.simhash",
                     "textops.dedup.pairs", "textops.dedup.components",
                     "textops.clean.filter"):
            L[name + "_s"] = median(tr.durations(name))
        L["textops.dedup.candidate_pairs"] = float(n_cand)
        L["textops.dedup.pairs_per_candidate"] = n_pairs / n_cand if n_cand else 0.0
        for df in (sh, cands, pairs, docs):
            df.unpersist()

    # ---- run ---------------------------------------------------------------------

    def run(self, rss: RssSampler) -> dict:
        phases = self.ctx["phase_s"] = {}

        def phase(name, fn):
            t = time.perf_counter()
            out = fn()
            phases[name] = round(time.perf_counter() - t, 3)
            return out

        phase("start", self.start)
        e2e = {}
        if self.tr.enabled:
            phase("traced_build", self.traced_build)
        e2e.update(phase("setup", self.setup))
        e2e.update(phase("queries", self.query_loop))
        if self.tr.enabled:
            phase("curate", self.curate)
        rss.stop()
        e2e["peak_rss_mb"] = rss.peak_kb / 1024.0
        self.ctx.update(
            workload=self.args.workload, seed=self.args.seed,
            load_avg=list(os.getloadavg()), job_floor_ms=self.job_floor_ms,
            session_start_s=self.session_start_s, docs=N_DOCS,
            errors=self.errors)
        if self.tr.enabled:
            L = self.layer
            L["session.job_floor_ms"] = self.job_floor_ms
            L["session.start_s"] = self.session_start_s
            L["host.load_avg_1m"] = os.getloadavg()[0]
            L.setdefault("store.open_s", 0.0)
            L["failed_ops_frac"] = self.failed / max(1, self.attempted)
            self.tr.dump(os.path.join(
                os.path.dirname(self.work),
                f"spans-{self.args.workload}-{self.args.seed}.jsonl"))
            return self.layer
        return e2e


UNITS = {
    "setup_s": "s", "build_docs_per_s": "docs/s",
    "index_bytes_per_text_byte": "B/B", "peak_rss_mb": "MB",
    "curate_docs_per_s": "docs/s", "failed_ops_frac": "frac",
    "analysis.tokens": "count", "index.builder.postings_rows": "count",
    "index.compress.bytes_out": "B", "store.decode_rows": "count",
    "store.scan_bytes": "B", "store.decode_rows_per_df": "ratio",
    "search.bm25.rows_scored": "count", "search.wand.segment_rows": "count",
    "facets.docset_rows": "count", "textops.dedup.candidate_pairs": "count",
    "textops.dedup.pairs_per_candidate": "ratio", "session.jobs_per_op": "count",
    "session.shuffle_bytes": "B", "host.load_avg_1m": "load",
}


def unit(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    return "ms" if name.endswith("_ms") else "s"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine is imported from the checkout this script sits in; without
    # it the run fails here, before any output
    sys.path.insert(0, ROOT)
    import lucene_solr_spark  # noqa: F401

    work = os.path.join(os.getcwd(), ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["TMPDIR"] = work
    # every JVM spark-submit starts keeps its temp files in the work dir too
    # (UsePerfData would write /tmp/hsperfdata_<user>)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}"

    rss = RssSampler()
    rss.start()
    bench = Bench(args, work)
    try:
        metrics = bench.run(rss)
    finally:
        if hasattr(bench, "spark"):
            bench.stop()
        if rss.is_alive():
            rss.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": bench.ctx}))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": float(v), "unit": unit(k)}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
