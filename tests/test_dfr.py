"""DFR + IB similarities: differential test vs a pure-Python float32 oracle
mirroring Lucene 4.10's SimilarityBase pipeline (DFRSimilarity.java:108-112,
IBSimilarity.java:98-104, BasicModelIn/Ine/IF, AfterEffectL/B,
NormalizationH1/H2, DistributionLL/SPL, LambdaDF/TTF)."""

import math
from collections import Counter

import numpy as np
import pytest

from lucene_solr_spark.analysis.analyzer import analyze_text
from lucene_solr_spark.index.builder import build_index
from lucene_solr_spark.search.dfr import dfr_topk, ib_topk
from lucene_solr_spark.search.query import BooleanQuery
from lucene_solr_spark.smallfloat import byte315_to_float, encode_norm

LN2 = math.log(2.0)


@pytest.fixture(scope="module")
def index(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return build_index(
        spark, docs, key_col="doc_id", docid_col="doc_id",
        num_index_partitions=8,
    )


class DFROracle:
    """float32 per-term scores over double intermediates, like the Java."""

    def __init__(self, rows):
        self.tf: dict[int, Counter] = {}
        self.doclen: dict[int, float] = {}
        self.df: Counter = Counter()
        self.cf: Counter = Counter()
        total = 0
        for docid, text in rows:
            toks = analyze_text(text)
            self.tf[docid] = Counter(toks)
            nb = int(encode_norm(len(toks))[0])
            f = np.float32(np.ravel(byte315_to_float(nb))[0])
            self.doclen[docid] = float(np.float32(1.0) / np.float32(f * f))
            for t in set(toks):
                self.df[t] += 1
            for t in toks:
                self.cf[t] += 1
            total += len(toks)
        self.n_docs = len(self.tf)
        self.field_tokens = total
        self.avg_fl = total / float(self.n_docs)

    def _tfn(self, tf, dl, norm, c=1.0, cf=0):
        if norm == "h1":
            return tf * self.avg_fl / dl
        if norm == "h3":
            mu = 800.0
            g = (cf + 1.0) / (self.field_tokens + 1.0)
            return (tf + mu * g) / (dl + mu) * mu
        if norm == "z":
            return tf * (self.avg_fl / dl) ** 0.30
        return tf * math.log(1.0 + c * self.avg_fl / dl) / LN2

    def dfr_topk(self, terms, bm, ae, norm, k=10):
        hits = []
        for docid, cnt in self.tf.items():
            matched = [t for t in terms if cnt.get(t, 0) > 0]
            if not matched:
                continue
            s = np.float32(0.0)
            for t in matched:
                n, F_ = self.df[t], self.cf[t]
                tfn = self._tfn(cnt[t], self.doclen[docid], norm, cf=F_)
                N = self.n_docs
                if bm == "in":
                    basic = tfn * (math.log((N + 1) / (n + 0.5)) / LN2)
                elif bm == "ine":
                    ne = N * (1.0 - ((N - 1) / float(N)) ** F_)
                    basic = tfn * (math.log((N + 1) / (ne + 0.5)) / LN2)
                elif bm == "if":
                    basic = tfn * (math.log(1.0 + (N + 1) / (F_ + 0.5)) / LN2)
                elif bm == "be":
                    Fd = F_ + 1 + tfn
                    Nd = Fd + N

                    def f(nn, mm):
                        return (mm + 0.5) * (math.log(nn / mm) / LN2) + (
                            nn - mm
                        ) * (math.log(nn) / LN2)

                    basic = (
                        -(math.log((Nd - 1) * math.e) / LN2)
                        + f(Nd + Fd - 1, Nd + Fd - tfn - 2)
                        - f(Fd, Fd - tfn)
                    )
                elif bm == "d":
                    Fd = F_ + 1 + tfn
                    phi = tfn / Fd
                    nphi = 1 - phi
                    p = 1.0 / (N + 1)
                    D = phi * (math.log(phi / p) / LN2) + nphi * (
                        math.log(nphi / (1 - p)) / LN2
                    )
                    basic = D * Fd + 0.5 * (
                        math.log(1 + 2 * math.pi * tfn * nphi) / LN2
                    )
                elif bm == "g":
                    lam = (F_ + 1.0) / (N + (F_ + 1.0))
                    basic = (math.log(lam + 1) / LN2) + tfn * (
                        math.log((1 + lam) / lam) / LN2
                    )
                else:  # p
                    lam = float(np.float32(np.float32(F_ + 1) / np.float32(N + 1)))
                    basic = (
                        tfn * (math.log(tfn / lam) / LN2)
                        + (lam + 1 / (12 * tfn) - tfn) * (1.0 / LN2)
                        + 0.5 * (math.log(2 * math.pi * tfn) / LN2)
                    )
                aev = (
                    1.0 / (tfn + 1.0)
                    if ae == "l"
                    else (F_ + 2.0) / ((n + 1.0) * (tfn + 1.0))
                )
                s = np.float32(s + np.float32(basic * aev))
            hits.append((docid, float(s)))
        hits.sort(key=lambda x: (-round(x[1], 4), x[0]))
        return hits[:k]

    def ib_topk(self, terms, dist, lam_kind, norm, k=10):
        hits = []
        for docid, cnt in self.tf.items():
            matched = [t for t in terms if cnt.get(t, 0) > 0]
            if not matched:
                continue
            s = np.float32(0.0)
            for t in matched:
                tfn = self._tfn(cnt[t], self.doclen[docid], norm, cf=self.cf[t])
                base = self.df[t] if lam_kind == "df" else self.cf[t]
                lam = (base + 1.0) / (self.n_docs + 1.0)
                if dist == "ll":
                    v = -math.log(lam / (tfn + lam))
                else:
                    if lam == 1.0:
                        lam = 0.99
                    v = -math.log(
                        (lam ** (tfn / (tfn + 1.0)) - lam) / (1.0 - lam)
                    )
                s = np.float32(s + np.float32(v))
            hits.append((docid, float(s)))
        hits.sort(key=lambda x: (-round(x[1], 4), x[0]))
        return hits[:k]


@pytest.fixture(scope="module")
def oracle(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text").collect()
    )
    return DFROracle([(r.doc_id, r.text) for r in rows])


DFR_COMBOS = [
    ("in", "l", "h2"), ("in", "b", "h1"), ("ine", "b", "h2"),
    ("ine", "l", "h1"), ("if", "l", "h2"), ("if", "b", "h2"),
    ("be", "l", "h2"), ("d", "b", "h2"), ("g", "l", "h1"), ("p", "b", "h2"),
    ("in", "l", "h3"), ("ine", "b", "z"),
]


@pytest.mark.parametrize("bm,ae,norm", DFR_COMBOS)
def test_dfr_rank_identity(index, oracle, bm, ae, norm):
    terms = ["vector", "stream", "hash"]
    got = [
        r.docid
        for r in dfr_topk(
            index, BooleanQuery.of(should=terms),
            basic_model=bm, after_effect=ae, normalization=norm, k=10,
        ).collect()
    ]
    want = [d for d, _ in oracle.dfr_topk(terms, bm, ae, norm, k=10)]
    assert got == want, (bm, ae, norm)


IB_COMBOS = [
    ("ll", "df", "h1"), ("ll", "ttf", "h2"),
    ("spl", "df", "h2"), ("spl", "ttf", "h1"),
    ("ll", "df", "h3"), ("spl", "ttf", "z"),
]


@pytest.mark.parametrize("dist,lam,norm", IB_COMBOS)
def test_ib_rank_identity(index, oracle, dist, lam, norm):
    terms = ["table", "merge", "scan"]
    got = [
        r.docid
        for r in ib_topk(
            index, BooleanQuery.of(should=terms),
            distribution=dist, lambda_=lam, normalization=norm, k=10,
        ).collect()
    ]
    want = [d for d, _ in oracle.ib_topk(terms, dist, lam, norm, k=10)]
    assert got == want, (dist, lam, norm)


def test_dfr_boolean_composition(index):
    # MUST filters, NOT excludes — the shared bm25.boolean_combine
    q = BooleanQuery.of(must=["table"], must_not=["slow"])
    rows = dfr_topk(index, q, k=20).collect()
    assert rows
    from lucene_solr_spark.search.bm25 import any_term_docset

    bad = {r.docid for r in any_term_docset(index, ["slow"]).collect()}
    assert not ({r.docid for r in rows} & bad)


def test_unknown_combo_raises(index):
    q = BooleanQuery.of(should=["table"])
    with pytest.raises(ValueError):
        dfr_topk(index, q, basic_model="bogus")
    with pytest.raises(ValueError):
        dfr_topk(index, q, after_effect="x")
    with pytest.raises(ValueError):
        ib_topk(index, q, distribution="zz")
