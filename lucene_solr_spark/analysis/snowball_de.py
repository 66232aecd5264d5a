"""Snowball German stemmers — the published algorithms from
snowballstem.org ("The German stemming algorithm" and its 'german2'
variant), shipped by the reference as generated code
(lucene/analysis/common/src/java/org/tartarus/snowball/ext/
GermanStemmer.java / German2Stemmer.java, selected via
SnowballPorterFilterFactory language="German"|"German2").

Golden-tested against the reference's full Snowball vocabularies
(TestSnowballVocabData.zip german/ and german2/, 35,033 pairs each) in
tests/test_snowball_langs.py.

Algorithm notes (matching the Snowball runtime semantics exactly):
- prelude marks intervocalic u/y as U/Y (consonants), then rewrites
  ß->ss; german2 additionally folds ae/oe/ue -> ä/ö/ü with 'qu' skipped
  so 'que' keeps its u.
- R1 start is clamped to >= 3 (the "at least 3 letters before R1" rule).
- Suffix steps use longest-match-only semantics: if the longest matching
  suffix fails its R1/R2 or letter-class gate, the step does nothing (no
  retry with a shorter suffix).
- The step-2 'st' rule requires an st-ending letter before it AND that
  letter to sit at index >= 3 (in_grouping_b consumes one char before
  `hop 3`, so the 'st' must start at index >= 4).

Spark integration is snowball_registry.snowball_stem_map — the
porter_stem_map shape: a vocabulary-level term map (one Arrow batch over |V|
distinct terms, broadcast-joined into the posting build), see
analysis/stemmer.py.
"""

from __future__ import annotations

_VOWELS = frozenset("aeiouyäöü")
_S_ENDING = frozenset("bdfghklmnrt")
_ST_ENDING = frozenset("bdfghklmnt")


def _prelude(word: str, variant: int) -> str:
    # mark intervocalic u/y as consonants (left-to-right, immediate)
    chars = list(word)
    n = len(chars)
    for i in range(n - 2):
        if (
            chars[i] in _VOWELS
            and chars[i + 1] in ("u", "y")
            and chars[i + 2] in _VOWELS
        ):
            chars[i + 1] = chars[i + 1].upper()
    w = "".join(chars)
    out: list[str] = []
    i = 0
    n = len(w)
    while i < n:
        ch = w[i]
        if ch == "ß":
            out.append("ss")
            i += 1
        elif variant == 2 and ch == "q" and w.startswith("qu", i):
            # snowball 'qu' action is hop 2 AFTER the match: the two chars
            # following 'qu' are skipped verbatim; if fewer than two remain
            # the hop fails and the whole prelude scan stops
            if i + 4 <= n:
                out.append(w[i : i + 4])
                i += 4
            else:
                out.append(w[i:])
                break
        elif variant == 2 and w.startswith("ae", i):
            out.append("ä")
            i += 2
        elif variant == 2 and w.startswith("oe", i):
            out.append("ö")
            i += 2
        elif variant == 2 and w.startswith("ue", i):
            out.append("ü")
            i += 2
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _regions(w: str) -> tuple[int, int]:
    """(p1, p2) with the German >=3 clamp on p1; len(w) when unset."""
    n = len(w)
    p1 = p2 = n
    if n < 3:
        return p1, p2

    def _gopast_pair(start: int) -> int:
        i = start
        while i < n and w[i] not in _VOWELS:
            i += 1
        if i >= n:
            return n
        i += 1  # past the vowel
        while i < n and w[i] in _VOWELS:
            i += 1
        if i >= n:
            return n
        return i + 1  # past the non-vowel

    p1_raw = _gopast_pair(0)
    if p1_raw == n:
        # gopast failed -> p1 stays at limit, p2 never set
        return n, n
    # the cursor continues from the unclamped position; only the p1 MARK
    # is clamped to >= 3 (snowball: setmark p1, try($p1 < x $p1 = x))
    p2 = _gopast_pair(p1_raw)
    return max(p1_raw, 3), p2


def _postlude(w: str) -> str:
    return (
        w.replace("Y", "y")
        .replace("U", "u")
        .replace("ä", "a")
        .replace("ö", "o")
        .replace("ü", "u")
    )


_STEP1 = ("ern", "em", "en", "er", "es", "e", "s")
_STEP2 = ("est", "en", "er", "st")
_STEP3 = ("isch", "lich", "heit", "keit", "end", "ung", "ig", "ik")


def _longest(w: str, suffixes) -> str | None:
    best = None
    for s in suffixes:
        if w.endswith(s) and (best is None or len(s) > len(best)):
            best = s
    return best


def german_snowball_stem(word: str, variant: int = 1) -> str:
    w = _prelude(word, variant)
    p1, p2 = _regions(w)

    # step 1
    suf = _longest(w, _STEP1)
    if suf is not None:
        start = len(w) - len(suf)
        if start >= p1:
            if suf == "s":
                if start >= 1 and w[start - 1] in _S_ENDING:
                    w = w[:start]
            else:
                w = w[:start]

    # step 2
    suf = _longest(w, _STEP2)
    if suf is not None:
        start = len(w) - len(suf)
        if start >= p1:
            if suf == "st":
                if start >= 4 and w[start - 1] in _ST_ENDING:
                    w = w[:start]
            else:
                w = w[:start]

    # step 3 (d-suffixes, R2)
    suf = _longest(w, _STEP3)
    if suf is not None:
        start = len(w) - len(suf)
        if start >= p2:
            if suf in ("end", "ung"):
                w = w[:start]
                if w.endswith("ig") and not w.endswith("eig"):
                    s2 = len(w) - 2
                    if s2 >= p2:
                        w = w[:s2]
            elif suf in ("ig", "ik", "isch"):
                if not (start >= 1 and w[start - 1] == "e"):
                    w = w[:start]
            elif suf in ("lich", "heit"):
                w = w[:start]
                for tail in ("er", "en"):
                    if w.endswith(tail):
                        s2 = len(w) - 2
                        if s2 >= p1:
                            w = w[:s2]
                        break
            else:  # keit
                w = w[:start]
                t = _longest(w, ("lich", "ig"))
                if t is not None:
                    s2 = len(w) - len(t)
                    if s2 >= p2:
                        w = w[:s2]

    return _postlude(w)


def german2_snowball_stem(word: str) -> str:
    return german_snowball_stem(word, variant=2)
