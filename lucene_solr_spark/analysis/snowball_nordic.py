"""Snowball Danish / Norwegian / Swedish stemmers — the published
algorithms from snowballstem.org, shipped by the reference as generated
code (lucene/analysis/common/src/java/org/tartarus/snowball/ext/
DanishStemmer.java / NorwegianStemmer.java / SwedishStemmer.java,
selected via SnowballPorterFilterFactory language="Danish"|"Norwegian"|
"Swedish").

Golden-tested against the reference's full Snowball vocabularies
(TestSnowballVocabData.zip danish/ 23,829, norwegian/ 20,628,
swedish/ 30,623 pairs) in tests/test_snowball_langs.py.

Runtime-semantics notes:
- No prelude; R1 start is clamped to >= 3.
- Suffix steps use `setlimit tomark p1`: the matched suffix must lie
  entirely inside R1 (longest suffix that starts at index >= p1) — unlike
  German, a too-long suffix simply never matches and a shorter one can.
- Letter-class gates (s_ending, Norwegian's bare-k rule, Danish's
  undouble equality test) run with the limit restored, so the gating
  characters may sit before R1.

Spark integration is snowball_registry.snowball_stem_map — the
porter_stem_map shape: vocabulary-level Arrow term maps broadcast-joined into
the posting build (analysis/stemmer.py).
"""

from __future__ import annotations

_DA_VOWELS = frozenset("aeiouyæåø")
_NO_VOWELS = frozenset("aeiouyæåø")
_SV_VOWELS = frozenset("aeiouyäåö")

_DA_S_ENDING = frozenset("abcdfghjklmnoprtvyzå")
_NO_S_ENDING = frozenset("bcdfghjlmnoprtvyz")
_SV_S_ENDING = frozenset("bcdfghjklmnoprtvy")

_DA_MAIN = (
    "erendes", "erende", "hedens", "ethed", "erede", "heden", "heder",
    "endes", "ernes", "erens", "erets", "ered", "ende", "erne", "enes",
    "eres", "heds", "eren", "erer", "hed", "ene", "ere", "ens", "ers",
    "ets", "eret", "en", "er", "es", "et", "e", "s",
)
_NO_MAIN = (
    "hetenes", "hetene", "hetens", "heten", "heter", "endes", "ande",
    "ende", "edes", "enes", "erte", "ede", "ane", "ene", "ers",
    "ets", "het", "ast", "ert", "en", "ar", "er", "as", "es", "ens",
    "a", "e", "s", "et",
)
_SV_MAIN = (
    "heterna", "hetens", "arna", "erna", "orna", "ande", "arne", "aste",
    "anden", "heten", "heter", "arnas", "ernas", "ornas", "ades",
    "andes", "arens", "andet", "aren", "erns", "ad", "ade", "are", "ern",
    "ens", "het", "ast", "at", "as", "es", "en", "ar", "er", "or", "a",
    "e", "s",
)

_DA_PAIRS = ("gd", "dt", "gt", "kt")
_NO_PAIRS = ("dt", "vt")
_SV_PAIRS = ("dd", "gd", "nn", "dt", "gt", "kt", "tt")

_DA_OTHER = ("elig", "løst", "lig", "els", "ig")
_NO_OTHER = (
    "hetslov", "eleg", "elig", "elov", "slov", "leg", "eig", "lig",
    "els", "lov", "ig",
)
_SV_OTHER = ("fullt", "löst", "lig", "els", "ig")


def _mark_r1(w: str, vowels) -> int:
    """R1 start with the >=3 clamp; len(w) when the scan fails."""
    n = len(w)
    if n < 3:
        return n
    i = 0
    while i < n and w[i] not in vowels:
        i += 1
    if i >= n:
        return n
    i += 1  # past the vowel (goto v / gopast non-v net effect)
    while i < n and w[i] in vowels:
        i += 1
    if i >= n:
        return n
    return max(i + 1, 3)


def _longest_in_r1(w: str, suffixes, p1: int) -> str | None:
    """Longest suffix lying entirely inside R1 (setlimit tomark p1)."""
    best = None
    for s in suffixes:
        if (
            w.endswith(s)
            and len(w) - len(s) >= p1
            and (best is None or len(s) > len(best))
        ):
            best = s
    return best


def _consonant_pair(w: str, pairs, p1: int) -> str:
    if len(w) >= 2 and w[-2:] in pairs and len(w) - 2 >= p1:
        return w[:-1]
    return w


def danish_snowball_stem(word: str) -> str:
    w = word
    p1 = _mark_r1(w, _DA_VOWELS)

    suf = _longest_in_r1(w, _DA_MAIN, p1)
    if suf is not None:
        start = len(w) - len(suf)
        if suf == "s":
            if start >= 1 and w[start - 1] in _DA_S_ENDING:
                w = w[:start]
        else:
            w = w[:start]

    w = _consonant_pair(w, _DA_PAIRS, p1)

    if w.endswith("igst"):
        w = w[:-2]
    suf = _longest_in_r1(w, _DA_OTHER, p1)
    if suf is not None:
        start = len(w) - len(suf)
        if suf == "løst":
            w = w[:start] + "løs"
        else:
            w = w[:start]
            w = _consonant_pair(w, _DA_PAIRS, p1)

    # undouble: final double non-vowel with the last char in R1
    if (
        len(w) >= 2
        and len(w) - 1 >= p1
        and w[-1] not in _DA_VOWELS
        and w[-2] == w[-1]
    ):
        w = w[:-1]
    return w


def norwegian_snowball_stem(word: str) -> str:
    w = word
    p1 = _mark_r1(w, _NO_VOWELS)

    suf = _longest_in_r1(w, _NO_MAIN, p1)
    if suf is not None:
        start = len(w) - len(suf)
        if suf == "s":
            if start >= 1 and w[start - 1] in _NO_S_ENDING:
                w = w[:start]
            elif (
                start >= 2
                and w[start - 1] == "k"
                and w[start - 2] not in _NO_VOWELS
            ):
                w = w[:start]
        elif suf in ("erte", "ert"):
            w = w[:start] + "er"
        else:
            w = w[:start]

    w = _consonant_pair(w, _NO_PAIRS, p1)

    suf = _longest_in_r1(w, _NO_OTHER, p1)
    if suf is not None:
        w = w[: len(w) - len(suf)]
    return w


def swedish_snowball_stem(word: str) -> str:
    w = word
    p1 = _mark_r1(w, _SV_VOWELS)

    suf = _longest_in_r1(w, _SV_MAIN, p1)
    if suf is not None:
        start = len(w) - len(suf)
        if suf == "s":
            if start >= 1 and w[start - 1] in _SV_S_ENDING:
                w = w[:start]
        else:
            w = w[:start]

    w = _consonant_pair(w, _SV_PAIRS, p1)

    suf = _longest_in_r1(w, _SV_OTHER, p1)
    if suf is not None:
        start = len(w) - len(suf)
        if suf == "fullt":
            w = w[:start] + "full"
        elif suf == "löst":
            w = w[:start] + "lös"
        else:
            w = w[:start]
    return w
