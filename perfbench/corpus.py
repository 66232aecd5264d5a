"""Seeded synthetic Common-Crawl-style corpus and query mix.

Everything the benchmark feeds the engine comes from here, as a pure
function of ``(seed, size)``: the same seed gives byte-identical pages and
the same query list.

Corpus shape
------------
- Vocabulary: ``VOCAB`` distinct lowercase ASCII pseudo-words built from
  consonant-vowel syllables, none of them an English stop word, so the
  engine's default analyzer chain (tokenize, lowercase, stop filter) is the
  identity on the text.  Token ranks are Zipf(``ZIPF_S``) distributed.
- Doc lengths: LogNormal, clipped to ``[MIN_LEN, MAX_LEN]`` tokens.
- ``lang``: 90% ``en``, the rest spread over a few other codes.
- Hosts: Zipf over ``HOSTS`` host names; the url is ``https://<host>/p/<i>``.
- Planted near-duplicate clusters: a base doc plus variants that each
  differ from it by one substituted token (shingle Jaccard >= 0.95).
- Planted exact duplicates: copies of a doc's text under another url.

The generator keeps every doc as an int32 array of vocabulary ids; the
benchmark's oracle computes expected results from those arrays, never from
the engine's index.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
from dataclasses import dataclass

import numpy as np

VOCAB = 20_000
ZIPF_S = 1.07
HOSTS = 12_000
HOST_ZIPF_S = 0.8
LEN_MU = np.log(140.0)
LEN_SIGMA = 0.55
MIN_LEN = 12
MAX_LEN = 1500
OTHER_LANGS = ("de", "fr", "es", "it", "nl", "pt")
WARC_EPOCH = 1_704_067_200  # 2024-01-01T00:00:00Z

# near-duplicate planting: one cluster per this many docs, cluster size and
# minimum base length (long bases keep one substitution far above the
# engine's 0.8 Jaccard threshold on 3-shingles)
DUP_CLUSTER_EVERY = 25
DUP_CLUSTER_SIZE = 3
DUP_MIN_LEN = 200
EXACT_DUP_EVERY = 100

_STOP = frozenset(
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with have".split()
)
_ONSETS = ("b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p", "r",
           "s", "t", "v", "w", "z", "br", "cr", "dr", "gr", "pl", "st", "tr")
_VOWELS = ("a", "e", "i", "o", "u", "ai", "ou")


@dataclass
class Corpus:
    """The generated pages plus the ground truth the oracle reads."""

    words: list[str]  # vocabulary, index = id; id 0 is the most frequent
    docs: list[np.ndarray]  # per doc: int32 vocabulary ids in order
    urls: list[str]
    hosts: list[str]
    langs: list[str]
    dup_clusters: list[list[int]]  # planted near-dup clusters (doc indexes)
    exact_dups: list[tuple[int, int]]  # (original, copy) doc indexes
    texts: list[str]

    @property
    def n_docs(self) -> int:
        return len(self.docs)

    def pages_rows(self) -> list[tuple]:
        """Rows of the ``pages(url, warc_ts, html, text, lang)`` table."""
        rows = []
        for i, t in enumerate(self.texts):
            html = (
                f"<html><head><title>page {i}</title></head><body><p>{t}</p>"
                "</body></html>"
            ).encode("utf-8")
            ts = _dt.datetime.fromtimestamp(WARC_EPOCH + i, _dt.timezone.utc)
            rows.append((self.urls[i], ts.replace(tzinfo=None), html, t,
                         self.langs[i]))
        return rows


PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def _pseudo_words(rng: np.random.Generator, n: int, min_len: int) -> list[str]:
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        m = 2 * (n - len(out))
        ks = rng.integers(2, 5, m)
        ons = rng.integers(0, len(_ONSETS), (m, 4))
        vows = rng.integers(0, len(_VOWELS), (m, 4))
        for k, o, v in zip(ks, ons, vows):
            w = "".join(_ONSETS[o[i]] + _VOWELS[v[i]] for i in range(k))
            if len(w) < min_len or w in seen or w in _STOP:
                continue
            seen.add(w)
            out.append(w)
            if len(out) == n:
                break
    return out


def _zipf_sampler(rng: np.random.Generator, n: int, s: float):
    cdf = np.cumsum(np.arange(1, n + 1, dtype=np.float64) ** -s)
    cdf /= cdf[-1]

    def draw(size: int) -> np.ndarray:
        return np.minimum(
            np.searchsorted(cdf, rng.random(size), side="right"), n - 1
        ).astype(np.int32)

    return draw


def url_partition(url: str, partitions: int) -> int:
    """The engine's url-hash routing: md5(url)[:15] as an integer, mod P."""
    return int(hashlib.md5(url.encode()).hexdigest()[:15], 16) % partitions


def _balanced_urls(hosts: list[str], lens: np.ndarray, partitions: int) -> list[str]:
    """Urls ``https://<host>/p/<i>[-<k>]`` whose hash routing spreads the
    tokens evenly over the index partitions.

    At a few hundred docs, plain hash routing leaves the largest partition
    with 5-50% more tokens than the mean, depending on the seed, and every
    parallel stage waits for it; a seed would then change the cost of the
    same work.  Docs are assigned longest first to the partition with the
    fewest tokens, and ``-<k>`` is the smallest suffix that routes there."""
    load = [0] * partitions
    urls = [""] * len(hosts)
    for i in sorted(range(len(hosts)), key=lambda i: (-int(lens[i]), i)):
        p = min(range(partitions), key=lambda q: (load[q], q))
        load[p] += int(lens[i])
        url, k = f"https://{hosts[i]}/p/{i}", 0
        while url_partition(url, partitions) != p:
            k += 1
            url = f"https://{hosts[i]}/p/{i}-{k}"
        urls[i] = url
    return urls


def generate(seed: int, n_docs: int, partitions: int) -> Corpus:
    """The corpus for ``seed``: ``n_docs`` pages, planted duplicates
    included, with urls that route the same token count to each of
    ``partitions`` index partitions."""
    rng = np.random.default_rng(seed)
    words = _pseudo_words(rng, VOCAB, min_len=4)
    host_names = [f"{w}.example" for w in _pseudo_words(rng, HOSTS, min_len=3)]
    draw_term = _zipf_sampler(rng, VOCAB, ZIPF_S)
    draw_host = _zipf_sampler(rng, HOSTS, HOST_ZIPF_S)

    lens = np.clip(
        np.rint(rng.lognormal(LEN_MU, LEN_SIGMA, n_docs)), MIN_LEN, MAX_LEN
    ).astype(np.int64)

    # planted sets: near-duplicate clusters (a base of at least DUP_MIN_LEN
    # tokens plus variants of its length) and exact-duplicate pairs
    slots = [int(x) for x in rng.permutation(n_docs)]
    n_clusters = max(1, n_docs // DUP_CLUSTER_EVERY)
    clusters = [sorted(slots[i * DUP_CLUSTER_SIZE:(i + 1) * DUP_CLUSTER_SIZE])
                for i in range(n_clusters)]
    rest = slots[n_clusters * DUP_CLUSTER_SIZE:]
    exact = [(rest[2 * i], rest[2 * i + 1])
             for i in range(max(1, n_docs // EXACT_DUP_EVERY))]
    for cl in clusters:
        lens[cl] = max(int(lens[cl[0]]), DUP_MIN_LEN)
    for a, b in exact:
        lens[b] = lens[a]

    # rescale the free docs so every seed has the same token total
    target = int(round(n_docs * np.exp(LEN_MU + LEN_SIGMA**2 / 2)))
    free = np.ones(n_docs, dtype=bool)
    free[[m for cl in clusters for m in cl] + [m for p in exact for m in p]] = False
    budget = target - int(lens[~free].sum())
    lens[free] = np.maximum(
        MIN_LEN, np.rint(lens[free] * budget / lens[free].sum()))
    longest = int(np.flatnonzero(free)[np.argmax(lens[free])])
    lens[longest] += target - int(lens.sum())

    docs = [draw_term(int(n)) for n in lens]
    for cl in clusters:  # variants replace one token of the base
        for v in cl[1:]:
            d = docs[cl[0]].copy()
            j = int(rng.integers(0, len(d)))
            d[j] = (d[j] + 1 + int(rng.integers(0, VOCAB - 1))) % VOCAB
            docs[v] = d
    for a, b in exact:
        docs[b] = docs[a].copy()

    hosts = [host_names[h] for h in draw_host(n_docs)]
    urls = _balanced_urls(hosts, lens, partitions)
    other = rng.integers(0, len(OTHER_LANGS), n_docs)
    langs = [
        "en" if u < 0.9 else OTHER_LANGS[int(o)]
        for u, o in zip(rng.random(n_docs), other)
    ]
    texts = [" ".join(words[t] for t in d) for d in docs]
    return Corpus(words, docs, urls, hosts, langs, clusters, exact, texts)


# --------------------------------------------------------------------------
# query mix


CYCLE = 3  # shapes per query class


@dataclass(frozen=True)
class Query:
    """One client operation.  ``kind`` picks the engine call:
    term / and / or / andnot (Catalyst ``search``), phrase, facet_lang /
    facet_host (``facet_field`` over a term's docset), and wand_* for the
    term/boolean shapes through ``wand_search``."""

    cls: str  # metric class: term, bool, phrase, facet, wand
    kind: str
    terms: tuple[str, ...]
    neg: tuple[str, ...] = ()


def df_bands(corpus: Corpus) -> dict[str, np.ndarray]:
    """Vocabulary ids by document-frequency band (head / mid / tail)."""
    df = np.zeros(VOCAB, dtype=np.int64)
    for d in corpus.docs:
        df[np.unique(d)] += 1
    n = corpus.n_docs
    return {
        "head": np.flatnonzero(df >= 0.10 * n),
        "mid": np.flatnonzero((df >= 0.02 * n) & (df < 0.10 * n)),
        "tail": np.flatnonzero((df >= 2) & (df < 0.02 * n)),
    }


def query_mix(corpus: Corpus, seed: int) -> list[Query]:
    """A seeded query list: ``CYCLE`` shapes per class, one per round.

    Every class has exactly ``CYCLE`` shapes, in the same order for every
    seed (term bands head / mid / tail; bool and / or / and-not; facet
    lang over a head term's docset, host over a mid term's, host over a
    head term's; wand term (head) / and / or), so any whole number of
    cycles gives every seed's per-class samples the same composition.
    Terms are drawn from the head / mid / tail df bands; phrases are
    adjacent token pairs taken from the corpus."""
    rng = np.random.default_rng(seed ^ 0x5EED)
    bands = df_bands(corpus)
    w = corpus.words

    def pick(band: str) -> str:
        ids = bands[band]
        return w[int(ids[int(rng.integers(len(ids)))])]

    def distinct(*bs: str) -> tuple[str, ...]:
        while True:
            ts = tuple(pick(b) for b in bs)
            if len(set(ts)) == len(ts):
                return ts

    def phrase() -> tuple[str, ...]:
        d = corpus.docs[int(rng.integers(corpus.n_docs))]
        j = int(rng.integers(len(d) - 1))
        return (w[int(d[j])], w[int(d[j + 1])])

    and2 = distinct("head", "mid")
    or3 = distinct("head", "mid", "tail")
    pos, neg = distinct("head", "mid")
    shapes = [
        Query("term", "term", (pick("head"),)),
        Query("term", "term", (pick("mid"),)),
        Query("term", "term", (pick("tail"),)),
        Query("bool", "and", and2),
        Query("bool", "or", or3),
        Query("bool", "andnot", (pos,), (neg,)),
        Query("phrase", "phrase", phrase()),
        Query("phrase", "phrase", phrase()),
        Query("phrase", "phrase", phrase()),
        Query("facet", "facet_lang", (pick("head"),)),
        Query("facet", "facet_host", (pick("mid"),)),
        Query("facet", "facet_host", (pick("head"),)),
        Query("wand", "wand_term", (pick("head"),)),
        Query("wand", "wand_and", distinct("head", "mid")),
        Query("wand", "wand_or", distinct("head", "mid", "tail")),
    ]
    return shapes
