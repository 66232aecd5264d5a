"""Snowball Portuguese stemmer — the published algorithm from
snowballstem.org ("The Portuguese stemming algorithm"), shipped by the
reference as generated code (lucene/analysis/common/src/java/org/
tartarus/snowball/ext/PortugueseStemmer.java, selected via
SnowballPorterFilterFactory language="Portuguese").

Golden-tested against the reference's full Snowball vocabulary
(TestSnowballVocabData.zip portuguese/, 32,016 pairs) in
tests/test_snowball_romance.py.

Runtime-semantics notes:
- Prelude rewrites the nasal vowels ã/õ to the two-char forms a~/o~;
  the postlude restores them.
- If the standard or verb step removed something, a final 'i' preceded
  by 'c' (i in RV) is deleted; otherwise the residual-suffix step runs.
- residual_form always runs: final e/é/ê in RV is deleted, then the u of
  a now-final 'gu' (or i of 'ci') is deleted if in RV; final ç becomes c.

Spark integration is snowball_registry.snowball_stem_map — the
porter_stem_map shape (analysis/stemmer.py).
"""

from __future__ import annotations

_VOWELS = frozenset("aeiouáéíóúâêô")

_STD_A1 = (
    "amentos", "imentos", "amento", "imento", "adoras", "adores",
    "aço~es", "ância", "adora", "aça~o", "antes", "ável", "ível",
    "istas", "ismos", "icas", "icos", "osas", "osos", "ezas", "ista",
    "ismo", "ante", "ador", "ica", "ico", "osa", "oso", "eza",
)
_STD_LOG = ("logías", "logía")
_STD_U = ("uciones", "ución")
_STD_ENTE = ("ências", "ência")
_STD_IDADE = ("idades", "idade")
_STD_IVA = ("ivas", "ivos", "iva", "ivo")
_STD_IRA = ("iras", "ira")

_VERB = (
    "aríamos", "eríamos", "iríamos", "ássemos", "êssemos", "íssemos",
    "ásseis", "ésseis", "ísseis", "aríeis", "eríeis", "iríeis",
    "áramos", "éramos", "íramos", "ávamos", "aremos", "eremos",
    "iremos", "ariam", "eriam", "iriam", "assem", "essem", "issem",
    "ara~o", "era~o", "ira~o", "arias", "erias", "irias", "ardes",
    "erdes", "irdes", "asses", "esses", "isses", "astes", "estes",
    "istes", "areis", "ereis", "ireis", "áreis", "éreis", "íreis",
    "áveis", "íamos", "armos", "ermos", "irmos", "aria", "eria", "iria",
    "asse", "esse", "isse", "aste", "este", "iste", "arei", "erei",
    "irei", "aram", "eram", "iram", "avam", "arem", "erem", "irem",
    "ando", "endo", "indo", "adas", "idas", "aras", "eras", "iras",
    "avas", "ares", "eres", "ires", "íeis", "ados", "idos", "amos",
    "emos", "imos", "ámos", "arás", "erás", "irás", "ada", "ida", "ara",
    "era", "ira", "ava", "iam", "ado", "ido", "ias", "ais", "eis",
    "ará", "erá", "irá", "ia", "ei", "am", "em", "ar", "er", "ir",
    "as", "es", "is", "eu", "iu", "ou",
)

_RESIDUAL = ("os", "a", "i", "o", "á", "í", "ó")


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


def portuguese_snowball_stem(word: str) -> str:
    w = word.replace("ã", "a~").replace("õ", "o~")
    pv = _rv(w)
    p1, p2 = _r1r2(w)

    did = False
    all_std = (
        _STD_A1 + _STD_LOG + _STD_U + _STD_ENTE + _STD_IDADE + _STD_IVA
        + _STD_IRA + ("amente", "mente")
    )
    suf = _longest(w, all_std)
    if suf is not None:
        start = len(w) - len(suf)
        if suf == "amente":
            if start >= p1:
                w = w[:start]
                did = True
                if w.endswith("iv") and len(w) - 2 >= p2:
                    w = w[:-2]
                    if w.endswith("at") and len(w) - 2 >= p2:
                        w = w[:-2]
                else:
                    t = _longest(w, ("os", "ic", "ad"))
                    if t is not None and len(w) - len(t) >= p2:
                        w = w[: len(w) - len(t)]
        elif suf in _STD_IRA:
            if start >= pv and start >= 1 and w[start - 1] == "e":
                w = w[:start] + "ir"
                did = True
        elif start >= p2:
            did = True
            if suf in _STD_LOG:
                w = w[:start] + "log"
            elif suf in _STD_U:
                w = w[:start] + "u"
            elif suf in _STD_ENTE:
                w = w[:start] + "ente"
            elif suf == "mente":
                w = w[:start]
                t = _longest(w, ("ante", "avel", "ível"))
                if t is not None and len(w) - len(t) >= p2:
                    w = w[: len(w) - len(t)]
            elif suf in _STD_IDADE:
                w = w[:start]
                t = _longest(w, ("abil", "ic", "iv"))
                if t is not None and len(w) - len(t) >= p2:
                    w = w[: len(w) - len(t)]
            elif suf in _STD_IVA:
                w = w[:start]
                if w.endswith("at") and len(w) - 2 >= p2:
                    w = w[:-2]
            else:
                w = w[:start]

    if not did:
        suf = _longest_fit(w, _VERB, pv)
        if suf is not None:
            w = w[: len(w) - len(suf)]
            did = True

    if did:
        # final i preceded by c, with the i in RV
        if w.endswith("ci") and len(w) - 1 >= pv:
            w = w[:-1]
    else:
        suf = _longest(w, _RESIDUAL)
        if suf is not None and len(w) - len(suf) >= pv:
            w = w[: len(w) - len(suf)]

    # residual form (always)
    if w and w[-1] in ("e", "é", "ê"):
        if len(w) - 1 >= pv:
            w = w[:-1]
            if (
                (w.endswith("gu") or w.endswith("ci"))
                and len(w) - 1 >= pv
            ):
                w = w[:-1]
    elif w.endswith("ç"):
        w = w[:-1] + "c"

    return w.replace("a~", "ã").replace("o~", "õ")
