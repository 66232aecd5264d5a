"""Snowball Hungarian stemmer — the published algorithm from
snowballstem.org ("The Hungarian stemming algorithm"), shipped by the
reference as generated code (lucene/analysis/common/src/java/org/
tartarus/snowball/ext/HungarianStemmer.java, selected via
SnowballPorterFilterFactory language="Hungarian").

Golden-tested against the reference's full Snowball vocabulary
(TestSnowballVocabData.zip hungarian/, 30,000 pairs) in
tests/test_snowball_tail.py.

Runtime-semantics notes:
- R1: after the first consonant (or consonant digraph cs/dzs/gy/ly/ny/
  sz/ty/zs) when the word starts with a vowel; after the first vowel
  otherwise.
- instrum (al/el) and factive (á/é) require a preceding double
  consonant and then undouble it (removing the second-to-last char,
  which also halves doubled digraphs like ccs -> cs).
- Every á-variant suffix rewrites to 'a' and é-variant to 'e'.

Spark integration is snowball_registry.snowball_stem_map — the
porter_stem_map shape (analysis/stemmer.py).
"""

from __future__ import annotations

_VOWELS = frozenset("aeiouáéíóöõúüû")
_DIGRAPHS = ("dzs", "cs", "gy", "ly", "ny", "sz", "ty", "zs")
_DOUBLES = (
    "ccs", "zzs", "ggy", "lly", "nny", "tty", "ssz", "bb", "cc", "dd",
    "ff", "gg", "jj", "kk", "ll", "mm", "nn", "pp", "rr", "ss", "tt",
    "vv", "zz",
)

_CASES = (
    "anként", "enként", "onként", "képpen", "ként", "képp", "ban",
    "ben", "nak", "nek", "val", "vel", "nál", "nél", "ból", "ról",
    "tól", "bõl", "rõl", "tõl", "hez", "hoz", "höz", "ért", "kor",
    "ba", "ra", "be", "re", "ig", "ul", "ül", "an", "en", "on", "ön",
    "at", "et", "ot", "öt", "vá", "vé", "n", "t",
)
_CASE_SPECIAL = {"én": "e", "án": "a", "ánként": "a"}
_CASE_OTHER = {"astul": "", "estül": "", "stul": "", "stül": "",
               "ástul": "a", "éstül": "e"}
_PLURAL = {"ák": "a", "ék": "e", "ök": "", "ak": "", "ok": "", "ek": "",
           "k": ""}
_OWNED = {"aké": "", "eké": "", "oké": "", "öké": "", "éké": "e",
          "áké": "a", "ké": "", "ééi": "e", "áéi": "a", "éi": "",
          "éé": "e", "é": ""}
_SING_OWNER = {
    "unk": "", "ünk": "", "ánk": "a", "énk": "e", "nk": "",
    "ájuk": "a", "éjük": "e", "juk": "", "jük": "", "uk": "", "ük": "",
    "am": "", "em": "", "om": "", "ám": "a", "ém": "e", "m": "",
    "ad": "", "ed": "", "od": "", "öd": "", "ád": "a", "éd": "e",
    "d": "", "ja": "", "je": "", "a": "", "e": "", "o": "",
    "á": "a", "é": "e",
}
_PLUR_OWNER = {
    "jaim": "", "jeim": "", "áim": "a", "éim": "e", "aim": "",
    "eim": "", "im": "", "jaid": "", "jeid": "", "áid": "a",
    "éid": "e", "aid": "", "eid": "", "id": "", "jai": "", "jei": "",
    "ái": "a", "éi": "e", "ai": "", "ei": "", "i": "", "jaink": "",
    "jeink": "", "áink": "a", "éink": "e", "aink": "", "eink": "",
    "ink": "", "jaitok": "", "jeitek": "", "áitok": "a", "éitek": "e",
    "aitok": "", "eitek": "", "itek": "", "jaik": "", "jeik": "",
    "áik": "a", "éik": "e", "aik": "", "eik": "", "ik": "",
}


def _r1(w: str) -> int:
    n = len(w)
    if not n:
        return n
    if w[0] in _VOWELS:
        i = 1
        while i < n and w[i] in _VOWELS:
            i += 1
        if i >= n:
            return n
        for d in _DIGRAPHS:
            if w.startswith(d, i):
                return i + len(d)
        return i + 1
    i = 0
    while i < n and w[i] not in _VOWELS:
        i += 1
    if i >= n:
        return n
    return i + 1


def _longest(w: str, suffixes) -> str | None:
    best = None
    for s in suffixes:
        if w.endswith(s) and (best is None or len(s) > len(best)):
            best = s
    return best


def _ends_double(w: str) -> bool:
    return any(w.endswith(d) for d in _DOUBLES)


def _undouble(w: str) -> str:
    # remove the second-to-last char (halves plain doubles AND the
    # 3-char doubled digraphs like ccs/ssz/zzs)
    if len(w) >= 2:
        return w[:-2] + w[-1]
    return w


def _apply_map(w: str, table, p1: int) -> str:
    suf = _longest(w, table)
    if suf is not None and len(w) - len(suf) >= p1:
        return w[: len(w) - len(suf)] + table[suf]
    return w


def hungarian_snowball_stem(word: str) -> str:
    w = word
    p1 = _r1(w)

    # instrum: al/el in R1 after a double consonant
    if (
        (w.endswith("al") or w.endswith("el"))
        and len(w) - 2 >= p1
        and _ends_double(w[:-2])
    ):
        w = _undouble(w[:-2])

    # case endings, then á/é -> a/e
    suf = _longest(w, _CASES)
    if suf is not None and len(w) - len(suf) >= p1:
        w = w[: len(w) - len(suf)]
        if w.endswith("á") and len(w) - 1 >= p1:
            w = w[:-1] + "a"
        elif w.endswith("é") and len(w) - 1 >= p1:
            w = w[:-1] + "e"

    w = _apply_map(w, _CASE_SPECIAL, p1)
    w = _apply_map(w, _CASE_OTHER, p1)

    # factive: á/é in R1 after a double consonant
    if (
        (w.endswith("á") or w.endswith("é"))
        and len(w) - 1 >= p1
        and _ends_double(w[:-1])
    ):
        w = _undouble(w[:-1])

    w = _apply_map(w, _OWNED, p1)
    w = _apply_map(w, _SING_OWNER, p1)
    w = _apply_map(w, _PLUR_OWNER, p1)
    w = _apply_map(w, _PLURAL, p1)
    return w
