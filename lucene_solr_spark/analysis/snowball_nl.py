"""Snowball Dutch stemmer — the published algorithm from
snowballstem.org ("The Dutch stemming algorithm"), shipped by the
reference as generated code (lucene/analysis/common/src/java/org/
tartarus/snowball/ext/DutchStemmer.java, selected via
SnowballPorterFilterFactory language="Dutch").

Golden-tested against the reference's full Snowball vocabulary
(TestSnowballVocabData.zip dutch/, 45,669 pairs) in
tests/test_snowball_romance.py.

Runtime-semantics notes:
- Prelude de-accents ä/á/ë/é/ï/í/ö/ó/ü/ú, marks an initial y and any
  post-vocalic y as Y, and an intervocalic i as I.
- R1 is clamped to >= 3 (mark only; the R2 scan continues from the
  unclamped cursor).
- en/ene need a preceding non-vowel and reject a preceding 'gem';
  s/se need a preceding non-vowel other than j; both undouble kk/dd/tt.
- The final lose-double-vowel rule turns C(aa|ee|oo|uu)D into CVD when D
  is a non-vowel other than I.

Spark integration is snowball_registry.snowball_stem_map — the
porter_stem_map shape (analysis/stemmer.py).
"""

from __future__ import annotations

_VOWELS = frozenset("aeiouyè")
_VOWELS_J = _VOWELS | {"j"}
_VOWELS_I = _VOWELS | {"I"}

_DEACCENT = str.maketrans("äáëéïíöóüú", "aaeeiioouu")


def _prelude(word: str) -> str:
    w = word.translate(_DEACCENT)
    chars = list(w)
    n = len(chars)
    if n and chars[0] == "y":
        chars[0] = "Y"
    for i in range(n - 1):
        if chars[i] in _VOWELS:
            if (
                chars[i + 1] == "i"
                and i + 2 < n
                and chars[i + 2] in _VOWELS
            ):
                chars[i + 1] = "I"
            elif chars[i + 1] == "y":
                chars[i + 1] = "Y"
    return "".join(chars)


def _regions(w: str) -> tuple[int, int]:
    n = len(w)

    def _pair(start: int) -> int:
        i = start
        while i < n and w[i] not in _VOWELS:
            i += 1
        if i >= n:
            return n
        i += 1
        while i < n and w[i] in _VOWELS:
            i += 1
        return i + 1 if i < n else n

    p1_raw = _pair(0)
    if p1_raw == n:
        return n, n
    p2 = _pair(p1_raw)
    return max(p1_raw, 3), p2


def _undouble(w: str) -> str:
    if w[-2:] in ("kk", "dd", "tt"):
        return w[:-1]
    return w


def _en_ending(w: str, start: int, p1: int) -> str | None:
    """Delete the en/ene suffix at `start` when the gates pass."""
    if start < p1:
        return None
    if start < 1 or w[start - 1] in _VOWELS:
        return None
    if w[:start].endswith("gem"):
        return None
    return _undouble(w[:start])


def dutch_snowball_stem(word: str) -> str:
    w = _prelude(word)
    p1, p2 = _regions(w)

    # step 1
    suf = None
    for s in ("heden", "ene", "en", "se", "s"):
        if w.endswith(s) and (suf is None or len(s) > len(suf)):
            suf = s
    if suf is not None:
        start = len(w) - len(suf)
        if suf == "heden":
            if start >= p1:
                w = w[:start] + "heid"
        elif suf in ("en", "ene"):
            r = _en_ending(w, start, p1)
            if r is not None:
                w = r
        else:  # s / se
            if start >= p1 and start >= 1 and w[start - 1] not in _VOWELS_J:
                w = w[:start]

    # step 2: e-ending
    e_found = False
    if (
        w.endswith("e")
        and len(w) - 1 >= p1
        and len(w) >= 2
        and w[-2] not in _VOWELS
    ):
        w = _undouble(w[:-1])
        e_found = True

    # step 3a: heid (not preceded by c), then en
    if (
        w.endswith("heid")
        and len(w) - 4 >= p2
        and not w.endswith("cheid")
    ):
        w = w[:-4]
        if w.endswith("en"):
            r = _en_ending(w, len(w) - 2, p1)
            if r is not None:
                w = r

    # step 3b: d-suffixes
    suf = None
    for s in ("lijk", "baar", "end", "ing", "bar", "ig"):
        if w.endswith(s) and (suf is None or len(s) > len(suf)):
            suf = s
    if suf is not None:
        start = len(w) - len(suf)
        if suf in ("end", "ing"):
            if start >= p2:
                w = w[:start]
                if (
                    w.endswith("ig")
                    and len(w) - 2 >= p2
                    and not w.endswith("eig")
                ):
                    w = w[:-2]
                else:
                    w = _undouble(w)
        elif suf == "ig":
            if start >= p2 and not (start >= 1 and w[start - 1] == "e"):
                w = w[:start]
        elif suf == "lijk":
            if start >= p2:
                w = w[:start]
                if (
                    w.endswith("e")
                    and len(w) - 1 >= p1
                    and len(w) >= 2
                    and w[-2] not in _VOWELS
                ):
                    w = _undouble(w[:-1])
        elif suf == "baar":
            if start >= p2:
                w = w[:start]
        else:  # bar
            if start >= p2 and e_found:
                w = w[:start]

    # step 4: lose double vowel (C aa|ee|oo|uu D -> CVD)
    if (
        len(w) >= 4
        and w[-1] not in _VOWELS_I
        and w[-3:-1] in ("aa", "ee", "oo", "uu")
        and w[-4] not in _VOWELS
    ):
        w = w[:-2] + w[-1]

    return w.replace("Y", "y").replace("I", "i")
