"""Snowball Romanian stemmer — the published algorithm from
snowballstem.org ("The Romanian stemming algorithm"), shipped by the
reference as generated code (lucene/analysis/common/src/java/org/
tartarus/snowball/ext/RomanianStemmer.java, selected via
SnowballPorterFilterFactory language="Romanian").

Golden-tested against the reference's full Snowball vocabulary
(TestSnowballVocabData.zip romanian/, 22,570 pairs) in
tests/test_snowball_tail.py.

Runtime-semantics notes:
- Step 1 (combining suffixes) repeats until no change, each pass
  R1-gated; it and step 2 set the removed flag — step 0 does not, so
  the verb step still runs after a step-0-only change.
- The verb step matches inside `setlimit tomark pV` and for group 1
  needs a preceding non-vowel or 'u', itself inside RV.

Spark integration is snowball_registry.snowball_stem_map — the
porter_stem_map shape (analysis/stemmer.py).
"""

from __future__ import annotations

_VOWELS = frozenset("aeiouăâî")

_STEP0 = {
    "ului": "", "ul": "",
    "aua": "a",
    "ele": "e", "elor": "e", "ea": "e",
    "ii": "i", "iua": "i", "iile": "i", "iei": "i", "ilor": "i",
    "iilor": "i",
    "ile": "i",  # special: not after 'ab'
    "atei": "at",
    "aţia": "aţi", "aţie": "aţi",
}
_COMBO = {
    "abilitate": "abil", "abilitati": "abil", "abilităi": "abil",
    "abilităţi": "abil",
    "ibilitate": "ibil",
    "ivitate": "iv", "ivitati": "iv", "ivităi": "iv", "ivităţi": "iv",
    "icitate": "ic", "icitati": "ic", "icităi": "ic", "icităţi": "ic",
    "icatori": "ic", "icator": "ic",
    "icala": "ic", "icale": "ic", "icali": "ic", "ical": "ic",
    "icală": "ic",
    "iciva": "ic", "icive": "ic", "icivi": "ic", "iciv": "ic",
    "icivă": "ic",
    "ativa": "at", "ative": "at", "ativi": "at", "ativ": "at",
    "ativă": "at",
    "aţiune": "at", "atoare": "at", "ătoare": "at", "atori": "at",
    "ători": "at", "ator": "at", "ător": "at",
    "itiva": "it", "itive": "it", "itivi": "it", "itiv": "it",
    "itivă": "it",
    "iţiune": "it", "itoare": "it", "itori": "it", "itor": "it",
}
_STD_DEL = (
    "ica", "abila", "ibila", "oasa", "ata", "ita", "anta", "uta", "iva",
    "ic", "ice", "abile", "ibile", "oase", "ate", "itate", "ite",
    "ante", "ute", "ive", "ici", "abili", "ibili", "atori", "osi",
    "ati", "itati", "iti", "anti", "uti", "ivi", "ităi", "oşi",
    "ităţi", "abil", "ibil", "ator", "os", "at", "it", "ant", "ut",
    "iv", "ică", "abilă", "ibilă", "oasă", "ată", "ită", "antă", "ută",
    "ivă",
)
_STD_IUNE = ("iune", "iuni")
_STD_IST = ("ista", "isme", "iste", "isti", "işti", "ism", "ist", "istă")

_VERB_COND = (
    "aserăţi", "iserăţi", "userăţi", "âserăţi", "aserăm", "iserăm",
    "userăm", "âserăm", "aseşi", "iseşi", "useşi", "âseşi", "arăţi",
    "irăţi", "urăţi", "ârăţi", "ească", "aseră", "iseră", "useră",
    "âseră", "eşte", "ăşte", "eşti", "ăşti", "eaţi", "iaţi", "asem",
    "isem", "usem", "âsem", "arăm", "irăm", "urăm", "ârăm", "indu",
    "ându", "ează", "esc", "ăsc", "ind", "ând", "are", "ere", "ire",
    "âre", "ase", "ise", "use", "âse", "eze", "eai", "iai", "ezi",
    "aşi", "işi", "uşi", "âşi", "eam", "iam", "eau", "iau", "ară",
    "iră", "ură", "âră", "ea", "ia", "ai", "ui", "âi", "am", "au",
    "ez",
)
_VERB_PLAIN = (
    "seserăţi", "seserăm", "seseşi", "serăţi", "seseră", "sesem",
    "serăm", "sese", "seşi", "seră", "sei", "aţi", "eţi", "iţi",
    "âţi", "se", "em", "im", "âm", "ăm",
)

_RESID = ("ie", "a", "e", "i", "ă")


def _prelude(word: str) -> str:
    chars = list(word)
    n = len(chars)
    for i in range(n - 2):
        if chars[i] in _VOWELS and chars[i + 2] in _VOWELS:
            if chars[i + 1] == "u":
                chars[i + 1] = "U"
            elif chars[i + 1] == "i":
                chars[i + 1] = "I"
    return "".join(chars)


def _rv(w: str) -> int:
    n = len(w)
    if n < 2:
        return n
    if w[1] not in _VOWELS:
        i = 2
        while i < n and w[i] not in _VOWELS:
            i += 1
        return i + 1 if i < n else n
    if w[0] in _VOWELS:
        i = 2
        while i < n and w[i] in _VOWELS:
            i += 1
        return i + 1 if i < n else n
    return 3 if n > 2 else n


def _r1r2(w: str) -> tuple[int, int]:
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

    p1 = _pair(0)
    p2 = _pair(p1) if p1 < n else n
    return p1, p2


def _longest(w: str, suffixes) -> str | None:
    best = None
    for s in suffixes:
        if w.endswith(s) and (best is None or len(s) > len(best)):
            best = s
    return best


def _longest_fit(w: str, suffixes, pv: int) -> str | None:
    best = None
    for s in suffixes:
        if (
            w.endswith(s)
            and len(w) - len(s) >= pv
            and (best is None or len(s) > len(best))
        ):
            best = s
    return best


def romanian_snowball_stem(word: str) -> str:
    w = _prelude(word)
    pv = _rv(w)
    p1, p2 = _r1r2(w)

    # step 0
    suf = _longest(w, _STEP0)
    if suf is not None:
        start = len(w) - len(suf)
        if start >= p1 and not (
            suf == "ile" and w[:start].endswith("ab")
        ):
            w = w[:start] + _STEP0[suf]

    # step 1: combining suffixes, repeated; step 2: standard
    removed = False
    while True:
        suf = _longest(w, _COMBO)
        if suf is None or len(w) - len(suf) < p1:
            break
        w = w[: len(w) - len(suf)] + _COMBO[suf]
        removed = True
    suf = _longest(w, _STD_DEL + _STD_IUNE + _STD_IST)
    if suf is not None:
        start = len(w) - len(suf)
        if start >= p2:
            if suf in _STD_IUNE:
                if start >= 1 and w[start - 1] == "ţ":
                    w = w[: start - 1] + "t"
                    removed = True
            elif suf in _STD_IST:
                w = w[:start] + "ist"
                removed = True
            else:
                w = w[:start]
                removed = True

    # step 3: verb suffixes (only when steps 1-2 removed nothing)
    if not removed:
        suf = _longest_fit(w, _VERB_COND + _VERB_PLAIN, pv)
        if suf is not None:
            start = len(w) - len(suf)
            if suf in _VERB_PLAIN:
                w = w[:start]
            elif start - 1 >= pv and (
                w[start - 1] not in _VOWELS or w[start - 1] == "u"
            ):
                w = w[:start]

    # step 4: final vowel
    suf = _longest(w, _RESID)
    if suf is not None and len(w) - len(suf) >= pv:
        w = w[: len(w) - len(suf)]

    return w.replace("I", "i").replace("U", "u")
