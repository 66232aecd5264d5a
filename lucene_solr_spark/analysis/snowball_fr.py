"""Snowball French stemmer — the published algorithm from
snowballstem.org ("The French stemming algorithm"), shipped by the
reference as generated code (lucene/analysis/common/src/java/org/
tartarus/snowball/ext/FrenchStemmer.java, selected via
SnowballPorterFilterFactory language="French").

Golden-tested against the reference's full Snowball vocabulary
(TestSnowballVocabData.zip french/, 20,403 pairs) in
tests/test_snowball_romance.py.

Runtime-semantics notes:
- Prelude marks intervocalic u/i as U/I, y next to a vowel as Y, and the
  u of qu as U.
- RV starts after the third letter when the word begins with two vowels
  or with par/col/tap; otherwise after the first vowel not at the start.
- amment/emment/ment(s) rewrite (ant/ent/delete) and then FAIL the
  standard step, so the verb steps still run on the rewritten word.
- The Y->i / ç->c cleanup runs only when a suffix step succeeded;
  un_double (ell/eill/enn/onn/ett lose a letter) and un_accent (é/è
  before trailing non-vowels -> e) always run.

Spark integration is snowball_registry.snowball_stem_map — the
porter_stem_map shape (analysis/stemmer.py).
"""

from __future__ import annotations

_VOWELS = frozenset("aeiouyàâèéêëîïôùû")
_KEEP_WITH_S = frozenset("aiouès")

_STD_R2_DEL = (
    "iqUe", "iqUes", "ance", "ances", "able", "ables", "isme", "ismes",
    "iste", "istes", "eux",
)
_STD_AT = ("atrices", "atrice", "ations", "ation", "ateurs", "ateur")
_STD_LOG = ("logies", "logie")
_STD_U = ("usions", "usion", "utions", "ution")
_STD_ENT = ("ences", "ence")
_STD_EMENT = ("ements", "ement")
_STD_ITE = ("ités", "ité")
_STD_IF = ("ives", "ive", "ifs", "if")
_STD_ISSEMENT = ("issements", "issement")

_I_VERB = (
    "issantes", "issaIent", "issantes", "issante", "issants", "issions",
    "iraIent", "issons", "issais", "issait", "issant", "issent",
    "issiez", "irions", "isses", "irais", "irait", "irent", "iront",
    "irons", "iriez", "issez", "îmes", "îtes", "irai", "iras", "irez",
    "isse", "ira", "ies", "ie", "ir", "is", "it", "ît", "i",
)
_VERB_IONS = ("ions",)
_VERB_DEL = (
    "eraIent", "erions", "èrent", "erais", "erait", "eriez", "erons",
    "eront", "erai", "eras", "erez", "ées", "era", "iez", "ais_",
    "er", "ez", "ée", "és", "é",
)
_VERB_DEL = tuple(s for s in _VERB_DEL if not s.endswith("_"))
_VERB_E = (
    "assions", "assiez", "assent", "asses", "antes", "aIent", "asse",
    "ante", "ants", "âtes", "âmes", "ait", "ais", "ant", "ât", "ai",
    "as", "a",
)

_RESIDUAL_I = ("Ière", "ière", "Ier", "ier")


def _prelude(word: str) -> str:
    chars = list(word)
    n = len(chars)
    i = 0
    while i < n:
        c = chars[i]
        if c in _VOWELS and c.islower():
            if i + 1 < n:
                nx = chars[i + 1]
                if nx == "u" and i + 2 < n and chars[i + 2] in _VOWELS:
                    chars[i + 1] = "U"
                elif nx == "i" and i + 2 < n and chars[i + 2] in _VOWELS:
                    chars[i + 1] = "I"
                elif nx == "y":
                    chars[i + 1] = "Y"
        if chars[i] == "y" and i + 1 < n and chars[i + 1] in _VOWELS:
            chars[i] = "Y"
        elif chars[i] == "q" and i + 1 < n and chars[i + 1] == "u":
            chars[i + 1] = "U"
        i += 1
    return "".join(chars)


def _rv(w: str) -> int:
    n = len(w)
    if n >= 3 and (
        (w[0] in _VOWELS and w[1] in _VOWELS)
        or w[:3] in ("par", "col", "tap")
    ):
        return 3
    i = 1
    while i < n and w[i] not in _VOWELS:
        i += 1
    if i >= n:
        return n
    return i + 1


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


def _standard_suffix(w: str, pv: int, p1: int, p2: int):
    """Returns (word, succeeded, retry_verbs)."""
    all_std = (
        _STD_R2_DEL + _STD_AT + _STD_LOG + _STD_U + _STD_ENT
        + _STD_EMENT + _STD_ITE + _STD_IF + _STD_ISSEMENT
        + ("amment", "emment", "ments", "ment", "euses", "euse",
           "eaux", "aux")
    )
    suf = _longest(w, all_std)
    if suf is None:
        return w, False, False
    start = len(w) - len(suf)
    if suf in _STD_R2_DEL:
        if start >= p2:
            return w[:start], True, False
    elif suf in _STD_AT:
        if start >= p2:
            w = w[:start]
            if w.endswith("ic"):
                if len(w) - 2 >= p2:
                    w = w[:-2]
                else:
                    w = w[:-2] + "iqU"
            return w, True, False
    elif suf in _STD_LOG:
        if start >= p2:
            return w[:start] + "log", True, False
    elif suf in _STD_U:
        if start >= p2:
            return w[:start] + "u", True, False
    elif suf in _STD_ENT:
        if start >= p2:
            return w[:start] + "ent", True, False
    elif suf in _STD_EMENT:
        if start >= pv:
            w = w[:start]
            t = _longest(w, ("iqU", "abl", "Ièr", "ièr", "eus", "iv"))
            if t is not None:
                s2 = len(w) - len(t)
                if t == "iv":
                    if s2 >= p2:
                        w = w[:s2]
                        if w.endswith("at") and len(w) - 2 >= p2:
                            w = w[:-2]
                elif t == "eus":
                    if s2 >= p2:
                        w = w[:s2]
                    elif s2 >= p1:
                        w = w[:s2] + "eux"
                elif t in ("iqU", "abl"):
                    if s2 >= p2:
                        w = w[:s2]
                else:  # ièr / Ièr
                    if s2 >= pv:
                        w = w[:s2] + "i"
            return w, True, False
    elif suf in _STD_ITE:
        if start >= p2:
            w = w[:start]
            t = _longest(w, ("abil", "ic", "iv"))
            if t is not None:
                s2 = len(w) - len(t)
                if t == "abil":
                    w = w[:s2] if s2 >= p2 else w[:s2] + "abl"
                elif t == "ic":
                    w = w[:s2] if s2 >= p2 else w[:s2] + "iqU"
                elif s2 >= p2:  # iv
                    w = w[:s2]
            return w, True, False
    elif suf in _STD_IF:
        if start >= p2:
            w = w[:start]
            if w.endswith("at") and len(w) - 2 >= p2:
                w = w[:-2]
                if w.endswith("ic"):
                    if len(w) - 2 >= p2:
                        w = w[:-2]
                    else:
                        w = w[:-2] + "iqU"
            return w, True, False
    elif suf == "eaux":
        return w[:start] + "eau", True, False
    elif suf == "aux":
        if start >= p1:
            return w[:start] + "al", True, False
    elif suf in ("euses", "euse"):
        if start >= p2:
            return w[:start], True, False
        if start >= p1:
            return w[:start] + "eux", True, False
    elif suf in _STD_ISSEMENT:
        if (
            start >= p1
            and start >= 1
            and w[start - 1] not in _VOWELS
        ):
            return w[:start], True, False
    elif suf == "amment":
        if start >= pv:
            return w[:start] + "ant", False, True
    elif suf == "emment":
        if start >= pv:
            return w[:start] + "ent", False, True
    elif suf in ("ments", "ment"):
        if start >= 1 and w[start - 1] in _VOWELS and start - 1 >= pv:
            return w[:start], False, True
    return w, False, False


def french_snowball_stem(word: str) -> str:
    w = _prelude(word)
    pv = _rv(w)
    p1, p2 = _r1r2(w)

    w, ok, _retry = _standard_suffix(w, pv, p1, p2)
    if not ok:
        # i_verb: longest fit in RV, preceded by a non-vowel also in RV
        suf = _longest_fit(w, _I_VERB, pv)
        if (
            suf is not None
            and len(w) - len(suf) - 1 >= pv
            and w[len(w) - len(suf) - 1] not in _VOWELS
        ):
            w = w[: len(w) - len(suf)]
            ok = True
        if not ok:
            suf = _longest_fit(w, _VERB_IONS + _VERB_DEL + _VERB_E, pv)
            if suf is not None:
                start = len(w) - len(suf)
                if suf == "ions":
                    if start >= p2:
                        w = w[:start]
                        ok = True
                elif suf in _VERB_E:
                    w = w[:start]
                    ok = True
                    if w.endswith("e") and len(w) - 1 >= pv:
                        w = w[:-1]
                else:
                    w = w[:start]
                    ok = True
    if ok:
        if w.endswith("Y"):
            w = w[:-1] + "i"
        elif w.endswith("ç"):
            w = w[:-1] + "c"
    else:
        # residual: drop a final s not kept by keep_with_s, then the
        # RV-windowed residual among
        if (
            w.endswith("s")
            and len(w) >= 2
            and w[-2] not in _KEEP_WITH_S
        ):
            w = w[:-1]
        suf = _longest_fit(
            w, _RESIDUAL_I + ("ion", "e", "ë"), pv
        )
        if suf is not None:
            start = len(w) - len(suf)
            if suf == "ion":
                if start >= p2 and start >= pv + 1 and w[start - 1] in "st":
                    w = w[:start]
            elif suf in _RESIDUAL_I:
                w = w[:start] + "i"
            elif suf == "e":
                w = w[:start]
            else:  # ë
                if w.endswith("guë") and start - 2 >= pv:
                    w = w[:start]

    # un_double
    for d in ("eill", "ell", "enn", "onn", "ett"):
        if w.endswith(d):
            w = w[:-1]
            break
    # un_accent
    i = len(w) - 1
    cnt = 0
    while i >= 0 and w[i] not in _VOWELS:
        cnt += 1
        i -= 1
    if cnt >= 1 and i >= 0 and w[i] in ("é", "è"):
        w = w[:i] + "e" + w[i + 1 :]

    return w.replace("I", "i").replace("U", "u").replace("Y", "y")
