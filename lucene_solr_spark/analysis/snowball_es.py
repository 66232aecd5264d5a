"""Snowball Spanish stemmer — the published algorithm from
snowballstem.org ("The Spanish stemming algorithm"), shipped by the
reference as generated code (lucene/analysis/common/src/java/org/
tartarus/snowball/ext/SpanishStemmer.java, selected via
SnowballPorterFilterFactory language="Spanish").

Golden-tested against the reference's full Snowball vocabulary
(TestSnowballVocabData.zip spanish/, 28,390 pairs) in
tests/test_snowball_ru.py.

Runtime-semantics notes (matching the generated runtime exactly):
- Romance RV: second-letter-consonant -> after the next vowel; two
  leading vowels -> after the next consonant; consonant-vowel -> after
  the third letter.
- Attached pronoun: the pronoun match itself is unrestricted; the
  gerund/infinitive marker before it must start in RV; accented markers
  are de-accented while the pronoun is deleted in the same slice.
- verb 'en/es/éis/emos': a preceding 'gu' extends the deletion over the
  'u' with NO RV gate; residual 'e/é' deletes a preceding 'u' of 'gu'
  only when that 'u' is itself in RV.

Spark integration is snowball_registry.snowball_stem_map — the
porter_stem_map shape (analysis/stemmer.py).
"""

from __future__ import annotations

_VOWELS = frozenset("aeiouáéíóúü")

_PRONOUNS = (
    "selas", "selos", "sela", "selo", "las", "les", "los", "nos",
    "la", "le", "lo", "me", "se",
)
# marker -> replacement ('' = plain delete, 'yendo' handled separately)
_MARKERS = (
    ("iéndo", "iendo"), ("yendo", None), ("iendo", ""), ("ándo", "ando"),
    ("ando", ""), ("ár", "ar"), ("ér", "er"), ("ír", "ir"),
    ("ar", ""), ("er", ""), ("ir", ""),
)

_STD_A1 = (
    "amientos", "imientos", "amiento", "imiento", "anzas", "icas",
    "icos", "ismos", "ables", "ibles", "istas", "osas", "osos", "anza",
    "ica", "ico", "ismo", "able", "ible", "ista", "osa", "oso",
)
_STD_A2 = (
    "aciones", "adoras", "adores", "ancias", "adora", "ación", "antes",
    "ancia", "ador", "ante",
)
_STD_LOG = ("logías", "logía")
_STD_UC = ("uciones", "ución")
_STD_ENC = ("encias", "encia")
_STD_IVA = ("ivas", "ivos", "iva", "ivo")
_STD_IDAD = ("idades", "idad")

_Y_VERB = (
    "yeron", "yendo", "yamos", "yais", "yan", "yen", "yas", "yes",
    "ya", "ye", "yo", "yó",
)

_VERB_U = ("éis", "en", "es", "emos")  # delete + swallow a preceding gu's u
_VERB_PLAIN = (
    "iéramos", "aríamos", "eríamos", "iríamos", "iésemos", "ierais",
    "aríais", "eríais", "iríais", "ieseis", "asteis", "isteis", "ábamos",
    "áramos", "aremos", "eremos", "iremos", "ásemos", "ieran", "arían",
    "erían", "irían", "iesen", "ieron", "iendo", "ieras", "arías", "erías",
    "irías", "ieses", "abais", "arais", "aseis", "aréis", "eréis", "iréis",
    "íamos", "iera", "aría", "ería", "iría", "iese", "aste", "iste",
    "aban", "aran", "asen", "aron", "arán", "erán", "irán", "ando", "abas",
    "adas", "idas", "aras", "ases", "íais", "ados", "idos", "amos", "imos",
    "arás", "erás", "irás", "aba", "ada", "ida", "ara", "ase", "ían",
    "ado", "ido", "ías", "áis", "ará", "erá", "irá", "aré", "eré", "iré",
    "ía", "ad", "ed", "id", "an", "ar", "er", "ir", "as", "ís", "ió",
)

_RESIDUAL = ("os", "a", "o", "á", "í", "ó")  # plus e/é special-cased

_DEACCENT = str.maketrans("áéíóú", "aeiou")


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
    """Longest suffix lying entirely inside RV (setlimit tomark pV)."""
    best = None
    for s in suffixes:
        if (
            w.endswith(s)
            and len(w) - len(s) >= pv
            and (best is None or len(s) > len(best))
        ):
            best = s
    return best


def spanish_snowball_stem(word: str) -> str:
    w = word
    pv = _rv(w)
    p1, p2 = _r1r2(w)

    # step 0: attached pronoun
    pr = _longest(w, _PRONOUNS)
    if pr is not None:
        base = w[: len(w) - len(pr)]
        mk = _longest(base, [m for m, _ in _MARKERS])
        if mk is not None and len(base) - len(mk) >= pv:
            rep = dict(_MARKERS)[mk]
            if rep is None:  # yendo: needs a preceding u
                start = len(base) - len(mk)
                if start >= 1 and base[start - 1] == "u":
                    w = base
            elif rep == "":
                w = base
            else:
                w = base[: len(base) - len(mk)] + rep

    did_std = False
    all_std = (
        _STD_A1 + _STD_A2 + _STD_LOG + _STD_UC + _STD_ENC + _STD_IVA
        + _STD_IDAD + ("amente", "mente")
    )
    suf = _longest(w, all_std)
    if suf is not None:
        start = len(w) - len(suf)
        if suf == "amente":
            if start >= p1:
                w = w[:start]
                did_std = True
                # try iv[at] or os/ic/ad, all R2
                if w.endswith("iv") and len(w) - 2 >= p2:
                    w = w[:-2]
                    if w.endswith("at") and len(w) - 2 >= p2:
                        w = w[:-2]
                else:
                    t = _longest(w, ("os", "ic", "ad"))
                    if t is not None and len(w) - len(t) >= p2:
                        w = w[: len(w) - len(t)]
        elif start >= p2:
            did_std = True
            if suf in _STD_LOG:
                w = w[:start] + "log"
            elif suf in _STD_UC:
                w = w[:start] + "u"
            elif suf in _STD_ENC:
                w = w[:start] + "ente"
            elif suf == "mente":
                w = w[:start]
                t = _longest(w, ("ante", "able", "ible"))
                if t is not None and len(w) - len(t) >= p2:
                    w = w[: len(w) - len(t)]
            elif suf in _STD_IDAD:
                w = w[:start]
                t = _longest(w, ("abil", "ic", "iv"))
                if t is not None and len(w) - len(t) >= p2:
                    w = w[: len(w) - len(t)]
            elif suf in _STD_IVA:
                w = w[:start]
                if w.endswith("at") and len(w) - 2 >= p2:
                    w = w[:-2]
            elif suf in _STD_A2:
                w = w[:start]
                if w.endswith("ic") and len(w) - 2 >= p2:
                    w = w[:-2]
            else:
                w = w[:start]

    if not did_std:
        # step 2a: y-verb (suffix in RV, preceded by u — u unrestricted)
        suf = _longest_fit(w, _Y_VERB, pv)
        did_y = False
        if suf is not None:
            start = len(w) - len(suf)
            if start >= 1 and w[start - 1] == "u":
                w = w[:start]
                did_y = True
        if not did_y:
            # step 2b: other verb suffixes (in RV)
            suf = _longest_fit(w, _VERB_U + _VERB_PLAIN, pv)
            if suf is not None:
                start = len(w) - len(suf)
                if suf in _VERB_U and w.endswith("gu", 0, start):
                    w = w[: start - 1]  # swallow the u (no RV gate)
                else:
                    w = w[:start]

    # step 3: residual
    suf = _longest(w, _RESIDUAL + ("e", "é"))
    if suf is not None and len(w) - len(suf) >= pv:
        start = len(w) - len(suf)
        if suf in ("e", "é"):
            w = w[:start]
            if (
                w.endswith("gu")
                and len(w) - 1 >= pv  # the u itself must be in RV
            ):
                w = w[:-1]
        else:
            w = w[:start]

    return w.translate(_DEACCENT)
