"""Expected outputs, computed from the generator's own token arrays.

Nothing here imports the engine: docids, norms, BM25 scores, facet counts
and curation verdicts are re-derived from the published rules (Lucene
SmallFloat norms, BM25 with k1=1.2 / b=0.75, Solr facet ordering, the
Gopher word-count / repetition rules) so that a wrong answer from the engine
cannot also be the expected answer.
"""

from __future__ import annotations

import math
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from corpus import Corpus, Query, url_partition

K = 10
FACET_LIMIT = 20
SCORE_TOL = 1.01e-4  # one unit of the engine's 4-decimal score rounding


def _norm_dl(dl: np.ndarray) -> np.ndarray:
    """Decoded doc length Lucene keeps after norm quantization:
    byte315 encode of float32(1/sqrt(dl)), decoded as float32 1/(f*f)."""
    f = (np.float32(1.0) / np.sqrt(dl.astype(np.float64)).astype(np.float32))
    bits = f.view(np.int32).astype(np.int64)
    small = bits >> 21
    fzero = (63 - 15) << 3
    b = np.where(small <= fzero, np.where(bits <= 0, 0, 1),
                 np.where(small >= fzero + 0x100, 255, small - fzero))
    back = ((b << 21) + ((63 - 15) << 24)).astype(np.int32).view(np.float32)
    return (np.float32(1.0) / (back * back)).astype(np.float32).astype(np.float64)


def _round4(x: float) -> float:
    return float(Decimal(repr(float(x))).quantize(Decimal("0.0001"), ROUND_HALF_UP))


class Oracle:
    def __init__(self, corpus: Corpus, num_partitions: int):
        self.c = corpus
        n = corpus.n_docs
        self.n = n
        # url-hash routed docids: partition = md5(url)[:15] % P, local = rank
        # of the url inside its partition
        pid = [url_partition(u, num_partitions) for u in corpus.urls]
        self.docid = np.zeros(n, dtype=np.int64)
        for p in range(num_partitions):
            members = sorted((u, i) for i, (u, q) in enumerate(zip(corpus.urls, pid))
                             if q == p)
            for local, (_, i) in enumerate(members):
                self.docid[i] = (p << 32) | local
        self.dl = np.array([len(d) for d in corpus.docs], dtype=np.int64)
        self.sum_ttf = int(self.dl.sum())
        self.avgdl = float(np.float32(self.sum_ttf / n))
        self.dl_norm = _norm_dl(self.dl)
        self.tf = [Counter(d.tolist()) for d in corpus.docs]
        self.df = Counter()
        for t in self.tf:
            self.df.update(t.keys())
        self.word_id = {w: i for i, w in enumerate(corpus.words)}

    # ---- build invariants -------------------------------------------------

    @property
    def postings(self) -> int:
        """Σ df: one posting per (term, doc)."""
        return sum(self.df.values())

    @property
    def terms(self) -> int:
        return len(self.df)

    def df_of(self, term: str) -> int:
        return self.df.get(self.word_id.get(term, -1), 0)

    # ---- scoring -------------------------------------------------------------

    def _idf(self, term_id: int) -> float:
        df = self.df.get(term_id, 0)
        return math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))

    def _bm25(self, idf: float, tf: int, doc: int) -> float:
        return idf * 2.2 * tf / (
            tf + 1.2 * (0.25 + 0.75 * self.dl_norm[doc] / self.avgdl))

    def _topk(self, scored: dict[int, float]) -> list[tuple[int, float]]:
        rows = [(int(self.docid[d]), _round4(s)) for d, s in scored.items()]
        rows.sort(key=lambda r: (-r[1], r[0]))
        return rows[:K]

    def boolean(self, must=(), should=(), must_not=()) -> list[tuple[int, float]]:
        order = list(dict.fromkeys([*must, *should]))
        ids = [self.word_id[t] for t in order]
        idfs = [self._idf(i) for i in ids]
        need = [self.word_id[t] for t in must]
        excl = [self.word_id[t] for t in must_not]
        scored = {}
        for d, tf in enumerate(self.tf):
            if any(i not in tf for i in need) or any(i in tf for i in excl):
                continue
            if not any(i in tf for i in ids):
                continue
            s = 0.0  # fixed-order addition, one term after the other
            for i, idf in zip(ids, idfs):
                s = s + (self._bm25(idf, tf[i], d) if i in tf else 0.0)
            scored[d] = s
        return self._topk(scored)

    def phrase(self, a: str, b: str) -> list[tuple[int, float]]:
        ia, ib = self.word_id[a], self.word_id[b]
        idf = self._idf(ia) + self._idf(ib)
        scored = {}
        for d, toks in enumerate(self.c.docs):
            hits = int(np.count_nonzero((toks[:-1] == ia) & (toks[1:] == ib)))
            if hits:
                scored[d] = self._bm25(idf, hits, d)
        return self._topk(scored)

    def facet(self, term: str, field: str) -> list[tuple[str, int]]:
        i = self.word_id[term]
        vals = self.c.langs if field == "lang" else self.c.hosts
        counts = Counter(vals[d] for d, tf in enumerate(self.tf) if i in tf)
        rows = sorted(counts.items(), key=lambda r: (-r[1], r[0]))
        return rows[:FACET_LIMIT]

    def expected(self, q: Query):
        kind = q.kind.replace("wand_", "")
        if kind == "term":
            return self.boolean(must=q.terms)
        if kind == "and":
            return self.boolean(must=q.terms)
        if kind == "or":
            return self.boolean(should=q.terms)
        if kind == "andnot":
            return self.boolean(must=q.terms, must_not=q.neg)
        if kind == "phrase":
            return self.phrase(*q.terms)
        if kind == "facet_lang":
            return self.facet(q.terms[0], "lang")
        if kind == "facet_host":
            return self.facet(q.terms[0], "host")
        raise ValueError(q.kind)

    def sum_df(self, q: Query) -> int:
        return sum(self.df_of(t) for t in (*q.terms, *q.neg))

    # ---- curation ------------------------------------------------------------

    def planted_pairs(self) -> list[tuple[int, int]]:
        """Doc-index pairs that must end in one near-duplicate component."""
        pairs = []
        for cl in self.c.dup_clusters:
            pairs += [(cl[0], m) for m in cl[1:]]
        return pairs + [tuple(sorted(p)) for p in self.c.exact_dups]

    def verdicts(self) -> dict[int, str]:
        """curation_pipeline reason per doc index: the non-canonical copy of
        an exact duplicate first, then the Gopher rules (50..100k words,
        mean word length 3..10, duplicate 2-gram fraction <= 0.2; the
        corpus has no symbols and the stop-word rule is switched off)."""
        out = {}
        copies = {max(p) for p in self.c.exact_dups}
        for d, toks in enumerate(self.c.docs):
            if d in copies:
                out[d] = "exact_duplicate"
                continue
            n = len(toks)
            mean_len = _round4(sum(len(self.c.words[t]) for t in toks) / n)
            grams = list(zip(toks[:-1].tolist(), toks[1:].tolist()))
            dup2 = _round4(1.0 - len(set(grams)) / len(grams)) if grams else 0.0
            ok = 50 <= n <= 100_000 and 3.0 <= mean_len <= 10.0 and dup2 <= 0.2
            out[d] = "keep" if ok else "gopher_fail"
        return out


def same_topk(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Exact (docid, score) equality, or equal up to reordering among
    scores within one rounding unit of each other (float ties)."""
    if got == want:
        return True
    if len(got) != len(want):
        return False
    if any(abs(g[1] - w[1]) > SCORE_TOL for g, w in zip(got, want)):
        return False
    if not want:
        return True
    floor = want[-1][1] + SCORE_TOL
    must_have = {d for d, s in want if s > floor}
    return must_have <= {d for d, _ in got}
