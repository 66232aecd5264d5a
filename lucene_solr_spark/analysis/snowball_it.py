"""Snowball Italian stemmer — the published algorithm from
snowballstem.org ("The Italian stemming algorithm"), shipped by the
reference as generated code (lucene/analysis/common/src/java/org/
tartarus/snowball/ext/ItalianStemmer.java, selected via
SnowballPorterFilterFactory language="Italian").

Golden-tested against the reference's full Snowball vocabulary
(TestSnowballVocabData.zip italian/, 35,494 pairs) in
tests/test_snowball_romance.py.

Runtime-semantics notes:
- Prelude rewrites acute accents to grave, marks the u of 'qu' as U, then
  marks intervocalic u/i as U/I (consonants).
- Attached pronoun: ando/endo before the pronoun (in RV) -> pronoun
  deleted; ar/er/ir (in RV) -> pronoun replaced by 'e'.
- amento/amenti/imento/imenti delete in RV (not R2).
- Verb suffixes match inside `setlimit tomark pV` (longest fit in RV).
- Step 3a deletes a final a/e/i/o/à/è/ì/ò in RV then a now-final i in RV;
  step 3b deletes a final h after c/g when the c/g is in RV.

Spark integration is snowball_registry.snowball_stem_map — the
porter_stem_map shape (analysis/stemmer.py).
"""

from __future__ import annotations

_VOWELS = frozenset("aeiouàèìòù")
_AEIO = frozenset("aeioàèìò")

_PRONOUNS = (
    "gliela", "gliele", "gliene", "glieli", "glielo", "cela", "mela",
    "tela", "vela", "cele", "mele", "tele", "vele", "cene", "mene",
    "sene", "tene", "vene", "celi", "meli", "teli", "veli", "celo",
    "melo", "telo", "velo", "gli", "la", "le", "ne", "ci", "li", "mi",
    "si", "ti", "vi", "lo",
)
_MARKERS_DEL = ("ando", "endo")
_MARKERS_E = ("ar", "er", "ir")

_STD_A1 = (
    "atrice", "atrici", "abile", "ibile", "abili", "ibili", "mente",
    "ica", "osa", "ista", "anza", "ice", "iche", "ose", "ante", "iste",
    "anze", "ici", "ichi", "ismi", "osi", "anti", "isti", "ico", "ismo",
    "oso", "istà", "istè", "istì",
)
_STD_A2 = ("azione", "azioni", "atore", "atori")
_STD_LOG = ("logia", "logie")
_STD_U = ("usione", "uzione", "usioni", "uzioni")
_STD_ENTE = ("enza", "enze")
_STD_RV = ("amenti", "imenti", "amento", "imento")
_STD_ITA = ("ità",)
_STD_IVA = ("iva", "ive", "ivi", "ivo")

_VERB = (
    "erebbero", "irebbero", "erebbe", "irebbe", "ereste", "ireste",
    "eresti", "iresti", "assimo", "eremmo", "iremmo", "iscano",
    "eranno", "iranno", "iscono", "assero", "essero", "issero", "avate",
    "evate", "ivate", "erete", "irete", "avamo", "evamo", "ivamo",
    "eremo", "iremo", "avano", "evano", "ivano", "arono", "erono",
    "irono", "isca", "enda", "isce", "ende", "asse", "erai", "irai",
    "isci", "endi", "erei", "irei", "assi", "isco", "ando", "endo",
    "Yamo", "iamo", "ammo", "emmo", "immo", "ata", "ita", "uta", "ava",
    "eva", "iva", "are", "ere", "ire", "ate", "ete", "ite", "ute",
    "ati", "iti", "uti", "avi", "evi", "ivi", "ano", "ono", "ato",
    "ito", "uto", "avo", "evo", "ivo", "erà", "irà", "erò", "irò",
    "ar", "ir",
)

_ACUTE = {"á": "à", "é": "è", "í": "ì", "ó": "ò", "ú": "ù"}


def _prelude(word: str) -> str:
    out: list[str] = []
    i = 0
    n = len(word)
    while i < n:
        ch = word[i]
        if ch in _ACUTE:
            out.append(_ACUTE[ch])
            i += 1
        elif ch == "q" and word.startswith("qu", i):
            out.append("qU")
            i += 2
        else:
            out.append(ch)
            i += 1
    chars = list("".join(out))
    for i in range(len(chars) - 2):
        if (
            chars[i] in _VOWELS
            and chars[i + 1] in ("u", "i")
            and chars[i + 2] in _VOWELS
        ):
            chars[i + 1] = chars[i + 1].upper()
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


def italian_snowball_stem(word: str) -> str:
    w = _prelude(word)
    pv = _rv(w)
    p1, p2 = _r1r2(w)

    # step 0: attached pronoun
    pr = _longest(w, _PRONOUNS)
    if pr is not None:
        base = w[: len(w) - len(pr)]
        mk = _longest(base, _MARKERS_DEL + _MARKERS_E)
        if mk is not None and len(base) - len(mk) >= pv:
            if mk in _MARKERS_DEL:
                w = base
            else:
                w = base + "e"

    did_std = False
    all_std = (
        _STD_A1 + _STD_A2 + _STD_LOG + _STD_U + _STD_ENTE + _STD_RV
        + _STD_ITA + _STD_IVA + ("amente",)
    )
    suf = _longest(w, all_std)
    if suf is not None:
        start = len(w) - len(suf)
        if suf == "amente":
            if start >= p1:
                w = w[:start]
                did_std = True
                t = _longest(w, ("abil", "ic", "os", "iv"))
                if t is not None and len(w) - len(t) >= p2:
                    w = w[: len(w) - len(t)]
                    if t == "iv" and w.endswith("at") and len(w) - 2 >= p2:
                        w = w[:-2]
        elif suf in _STD_RV:
            if start >= pv:
                w = w[:start]
                did_std = True
        elif start >= p2:
            did_std = True
            if suf in _STD_LOG:
                w = w[:start] + "log"
            elif suf in _STD_U:
                w = w[:start] + "u"
            elif suf in _STD_ENTE:
                w = w[:start] + "ente"
            elif suf in _STD_ITA:
                w = w[:start]
                t = _longest(w, ("abil", "ic", "iv"))
                if t is not None and len(w) - len(t) >= p2:
                    w = w[: len(w) - len(t)]
            elif suf in _STD_IVA:
                w = w[:start]
                if w.endswith("at") and len(w) - 2 >= p2:
                    w = w[:-2]
                    if w.endswith("ic") and len(w) - 2 >= p2:
                        w = w[:-2]
            elif suf in _STD_A2:
                w = w[:start]
                if w.endswith("ic") and len(w) - 2 >= p2:
                    w = w[:-2]
            else:
                w = w[:start]

    if not did_std:
        suf = _longest_fit(w, _VERB, pv)
        if suf is not None:
            w = w[: len(w) - len(suf)]

    # step 3a: final vowel (then a now-final i), both in RV
    if w and w[-1] in _AEIO and len(w) - 1 >= pv:
        w = w[:-1]
        if w and w[-1] == "i" and len(w) - 1 >= pv:
            w = w[:-1]
    # step 3b: ch/gh -> c/g with the c/g in RV
    if (
        len(w) >= 2
        and w[-1] == "h"
        and w[-2] in ("c", "g")
        and len(w) - 2 >= pv
    ):
        w = w[:-1]

    return w.replace("I", "i").replace("U", "u")
