"""Snowball Finnish stemmer — the published algorithm from
snowballstem.org ("The Finnish stemming algorithm"), shipped by the
reference as generated code (lucene/analysis/common/src/java/org/
tartarus/snowball/ext/FinnishStemmer.java, selected via
SnowballPorterFilterFactory language="Finnish").

Golden-tested against the reference's full Snowball vocabulary
(TestSnowballVocabData.zip finnish/, 50,000 pairs) in
tests/test_snowball_tail.py.

Runtime-semantics notes:
- All suffix matches are `setlimit`-windowed (R1, or R2 for step 4);
  the letter-class gates run with the limit restored except where noted
  (t-plural's vowel gate and tidy's a-d sub-steps stay inside R1).
- case-ending 'n' extends the deletion over a preceding long vowel or
  'ie'; tidy ends with the undouble-final-consonant scan that skips
  trailing vowels.

Spark integration is snowball_registry.snowball_stem_map — the
porter_stem_map shape (analysis/stemmer.py).
"""

from __future__ import annotations

_V1 = frozenset("aeiouyäö")
_V2 = frozenset("aeiouäö")
_AEI = frozenset("aeiä")
_PARTICLE_END = _V1 | {"n", "t"}
_LONG = ("aa", "ee", "ii", "oo", "uu", "ää", "öö")

_PARTICLES = ("kaan", "kään", "sti", "han", "hän", "kin", "pa", "pä",
              "ko", "kö")
_POSS = ("nsa", "nsä", "mme", "nne", "ni", "si", "an", "än", "en")
_AN_PRE = ("lla", "na", "ssa", "ta", "lta", "sta")
_AN_PRE_AE = ("llä", "nä", "ssä", "tä", "ltä", "stä")
_EN_PRE = ("lle", "ine")

_CASES = (
    "seen", "tten", "siin", "han", "hen", "hin", "hon", "hän", "hön",
    "den", "tta", "ttä", "lla", "ssa", "lta", "sta", "lle", "ine",
    "ksi", "llä", "ssä", "ltä", "stä", "na", "ta", "nä", "tä", "n",
    "a", "ä",
)
_H_VOWEL = {"han": "a", "hen": "e", "hin": "i", "hon": "o",
            "hän": "ä", "hön": "ö"}

_OTHER_COND = ("mma", "mpa", "mmi", "mpi", "mmä", "mpä")
_OTHER_PLAIN = ("imma", "impa", "immi", "impi", "immä", "impä",
                "eja", "ejä")


def _r1r2(w: str) -> tuple[int, int]:
    n = len(w)

    def _pair(start: int) -> int:
        i = start
        while i < n and w[i] not in _V1:
            i += 1
        if i >= n:
            return n
        i += 1
        while i < n and w[i] in _V1:
            i += 1
        return i + 1 if i < n else n

    p1 = _pair(0)
    p2 = _pair(p1) if p1 < n else n
    return p1, p2


def _longest_fit(w: str, suffixes, p: int) -> str | None:
    best = None
    for s in suffixes:
        if (
            w.endswith(s)
            and len(w) - len(s) >= p
            and (best is None or len(s) > len(best))
        ):
            best = s
    return best


def finnish_snowball_stem(word: str) -> str:
    w = word
    p1, p2 = _r1r2(w)

    # step 1: particle etc (R1 window)
    suf = _longest_fit(w, _PARTICLES, p1)
    if suf is not None:
        start = len(w) - len(suf)
        if suf == "sti":
            if start >= p2:
                w = w[:start]
        elif start >= 1 and w[start - 1] in _PARTICLE_END:
            w = w[:start]

    # step 2: possessive (R1 window)
    suf = _longest_fit(w, _POSS, p1)
    if suf is not None:
        start = len(w) - len(suf)
        if suf == "si":
            if not (start >= 1 and w[start - 1] == "k"):
                w = w[:start]
        elif suf == "ni":
            w = w[:start]
            if w.endswith("kse"):
                w = w[:-1] + "i"
        elif suf in ("nsa", "nsä", "mme", "nne"):
            w = w[:start]
        elif suf == "an":
            if any(w.endswith(p + "an") for p in _AN_PRE):
                w = w[:start]
        elif suf == "än":
            if any(w.endswith(p + "än") for p in _AN_PRE_AE):
                w = w[:start]
        else:  # en
            if any(w.endswith(p + "en") for p in _EN_PRE):
                w = w[:start]

    # step 3: case endings (R1 window). den/tten/siin carry the r_VI
    # routine and seen carries r_LONG, both evaluated DURING the among
    # match inside the R1 window — on failure the trie falls back to the
    # next shorter matching suffix instead of failing the step.
    ending_removed = False
    cands = sorted(
        (s for s in _CASES if w.endswith(s) and len(w) - len(s) >= p1),
        key=len,
        reverse=True,
    )
    suf = None
    for s in cands:
        start = len(w) - len(s)
        if s in ("siin", "den", "tten"):
            if (
                start - 2 >= p1
                and w[start - 1] == "i"
                and w[start - 2] in _V2
            ):
                suf = s
                break
            continue  # routine failed -> fall back to a shorter suffix
        if s == "seen":
            if start - 2 >= p1 and w[start - 2 : start] in _LONG:
                suf = s
                break
            continue
        suf = s
        break
    if suf is not None:
        start = len(w) - len(suf)
        if suf in _H_VOWEL:
            if start >= 1 and w[start - 1] == _H_VOWEL[suf]:
                w = w[:start]
                ending_removed = True
        elif suf in ("siin", "den", "tten", "seen"):
            w = w[:start]
            ending_removed = True
        elif suf in ("a", "ä"):
            if (
                start >= 2
                and w[start - 1] in _V1
                and w[start - 2] not in _V1
            ):
                w = w[:start]
                ending_removed = True
        elif suf in ("tta", "ttä"):
            if start >= 1 and w[start - 1] == "e":
                w = w[:start]
                ending_removed = True
        elif suf == "n":
            if (
                w[max(0, start - 2) : start] in _LONG
                or w[max(0, start - 2) : start] == "ie"
            ) and start >= 1:
                w = w[: start - 1]
            else:
                w = w[:start]
            ending_removed = True
        else:
            w = w[:start]
            ending_removed = True

    # step 4: other endings (R2 window)
    suf = _longest_fit(w, _OTHER_COND + _OTHER_PLAIN, p2)
    if suf is not None:
        start = len(w) - len(suf)
        if suf in _OTHER_COND:
            if not w[:start].endswith("po"):
                w = w[:start]
        else:
            w = w[:start]

    # step 5: plurals
    if ending_removed:
        if w and w[-1] in ("i", "j") and len(w) - 1 >= p1:
            w = w[:-1]
    else:
        if (
            w.endswith("t")
            and len(w) >= 2
            and w[-2] in _V1
            and len(w) - 2 >= p1  # the vowel gate runs inside the window
        ):
            w = w[:-1]
            t = _longest_fit(w, ("imma", "mma"), p2)
            if t is not None:
                start = len(w) - len(t)
                if t == "mma":
                    if not w[:start].endswith("po"):
                        w = w[:start]
                else:
                    w = w[:start]

    # step 6: tidy (a-d inside R1)
    if len(w) >= 2 and len(w) - 2 >= p1 and w[-2:] in _LONG:
        w = w[:-1]
    if (
        len(w) >= 2
        and w[-1] in _AEI
        and len(w) - 1 >= p1
        and w[-2] not in _V1
        and len(w) - 2 >= p1
    ):
        w = w[:-1]
    if (
        len(w) >= 2
        and w[-1] == "j"
        and len(w) - 1 >= p1
        and w[-2] in ("o", "u")
        and len(w) - 2 >= p1
    ):
        w = w[:-1]
    if (
        len(w) >= 2
        and w[-1] == "o"
        and len(w) - 1 >= p1
        and w[-2] == "j"
        and len(w) - 2 >= p1
    ):
        w = w[:-1]
    # undouble the final consonant (skipping trailing vowels)
    k = len(w)
    while k >= 1 and w[k - 1] in _V1:
        k -= 1
    # w[k-1] is the last consonant (if any); undouble it
    if k >= 2 and w[k - 1] not in _V1 and w[k - 2] == w[k - 1]:
        w = w[: k - 1] + w[k:]
    return w
