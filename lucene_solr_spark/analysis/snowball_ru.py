"""Snowball Russian stemmer — the published algorithm from
snowballstem.org ("The Russian stemming algorithm"), shipped by the
reference as generated code (lucene/analysis/common/src/java/org/
tartarus/snowball/ext/RussianStemmer.java, selected via
SnowballPorterFilterFactory language="Russian").

Golden-tested against the reference's full Snowball vocabulary
(TestSnowballVocabData.zip russian/, 49,673 pairs) in
tests/test_snowball_ru.py.

Runtime-semantics notes:
- The whole backward pass runs inside `setlimit tomark pV`: every suffix
  match AND every preceded-by check (the а/я gates, the нн undouble) must
  lie inside RV.
- Groups use longest-match-only semantics: if the longest matching
  suffix's а/я gate fails, that family fails outright (no shorter retry),
  and control falls through to the next family.

Spark integration is snowball_registry.snowball_stem_map — the
porter_stem_map shape (analysis/stemmer.py).
"""

from __future__ import annotations

_VOWELS = frozenset("аеиоуыэюя")

# (suffix, group): group 1 requires а/я immediately before (kept),
# group 2 is unconditional.
_GERUND = (
    ("в", 1), ("ив", 2), ("ыв", 2),
    ("вши", 1), ("ивши", 2), ("ывши", 2),
    ("вшись", 1), ("ившись", 2), ("ывшись", 2),
)
_REFLEXIVE = (("сь", 2), ("ся", 2))
_ADJECTIVE = tuple(
    (s, 2)
    for s in (
        "ее", "ие", "ое", "ые", "ими", "ыми", "ей", "ий", "ой", "ый",
        "ем", "им", "ом", "ым", "его", "ого", "ему", "ому", "их", "ых",
        "ею", "ою", "ую", "юю", "ая", "яя",
    )
)
_PARTICIPLE = (
    ("ем", 1), ("нн", 1), ("вш", 1), ("ивш", 2), ("ывш", 2),
    ("щ", 1), ("ющ", 1), ("ующ", 2),
)
_VERB = (
    ("ла", 1), ("ила", 2), ("ыла", 2), ("на", 1), ("ена", 2),
    ("ете", 1), ("ите", 2), ("йте", 1), ("ейте", 2), ("уйте", 2),
    ("ли", 1), ("или", 2), ("ыли", 2), ("й", 1), ("ей", 2), ("уй", 2),
    ("л", 1), ("ил", 2), ("ыл", 2), ("ем", 1), ("им", 2), ("ым", 2),
    ("н", 1), ("ен", 2), ("ло", 1), ("ило", 2), ("ыло", 2), ("но", 1),
    ("ено", 2), ("нно", 1), ("ет", 1), ("ует", 2), ("ит", 2), ("ыт", 2),
    ("ют", 1), ("уют", 2), ("ят", 2), ("ны", 1), ("ены", 2), ("ть", 1),
    ("ить", 2), ("ыть", 2), ("ешь", 1), ("ишь", 2), ("ю", 2), ("ую", 2),
)
_NOUN = tuple(
    (s, 2)
    for s in (
        "а", "ев", "ов", "е", "ие", "ье", "и", "еи", "ии", "ами", "ями",
        "иями", "й", "ей", "ией", "ий", "ой", "ам", "ем", "ием", "ом",
        "ям", "иям", "о", "у", "ах", "ях", "иях", "ы", "ь", "ю", "ию",
        "ью", "я", "ия", "ья",
    )
)
_DERIVATIONAL = (("ост", 2), ("ость", 2))


def _mark(w: str) -> tuple[int, int]:
    """(pV, p2): RV start and R2 start; len(w) when unset."""
    n = len(w)
    pv = p2 = n
    i = 0
    while i < n and w[i] not in _VOWELS:
        i += 1
    if i >= n:
        return pv, p2
    pv = i + 1
    j = pv
    while j < n and w[j] in _VOWELS:
        j += 1
    if j >= n:
        return pv, p2
    p1 = j + 1
    k = p1
    while k < n and w[k] not in _VOWELS:
        k += 1
    if k >= n:
        return pv, p2
    k += 1  # past the vowel
    while k < n and w[k] in _VOWELS:
        k += 1
    if k >= n:
        return pv, p2
    return pv, k + 1


def _find(w: str, table, pv: int):
    """Longest suffix fitting in the RV window (setlimit tomark pV)."""
    best = None
    for s, g in table:
        if (
            w.endswith(s)
            and len(w) - len(s) >= pv
            and (best is None or len(s) > len(best[0]))
        ):
            best = (s, g)
    return best


def _apply(w: str, m, pv: int) -> tuple[str, bool]:
    """Delete the matched suffix, honoring the group-1 а/я gate."""
    s, g = m
    start = len(w) - len(s)
    if g == 1:
        if start - 1 >= pv and w[start - 1] in "ая":
            return w[:start], True
        return w, False
    return w[:start], True


def russian_snowball_stem(word: str) -> str:
    w = word
    pv, p2 = _mark(w)
    if pv >= len(w):
        return w

    # step 1: perfective gerund, else [reflexive] adjectival|verb|noun
    done = False
    m = _find(w, _GERUND, pv)
    if m is not None:
        w, done = _apply(w, m, pv)
    if not done:
        m = _find(w, _REFLEXIVE, pv)
        if m is not None:
            w = w[: len(w) - len(m[0])]
        handled = False
        m = _find(w, _ADJECTIVE, pv)
        if m is not None:
            w = w[: len(w) - len(m[0])]
            handled = True
            m2 = _find(w, _PARTICIPLE, pv)
            if m2 is not None:
                w, _ = _apply(w, m2, pv)
        if not handled:
            m = _find(w, _VERB, pv)
            if m is not None:
                w, handled = _apply(w, m, pv)
            if not handled:
                m = _find(w, _NOUN, pv)
                if m is not None:
                    w = w[: len(w) - len(m[0])]

    # step 2: final и
    if w.endswith("и") and len(w) - 1 >= pv:
        w = w[:-1]

    # step 3: derivational ост/ость in R2
    m = _find(w, _DERIVATIONAL, pv)
    if m is not None and len(w) - len(m[0]) >= p2:
        w = w[: len(w) - len(m[0])]

    # step 4: tidy up — superlative, undouble нн, soft sign
    n = len(w)
    if w.endswith("ейше") and n - 4 >= pv:
        w = w[:-4]
    elif w.endswith("ейш") and n - 3 >= pv:
        w = w[:-3]
    elif w.endswith("нн") and n - 2 >= pv:
        w = w[:-1]
        return w
    elif w.endswith("ь") and n - 1 >= pv:
        return w[:-1]
    else:
        return w
    # after removing the superlative, undouble a trailing нн (both in RV)
    if w.endswith("нн") and len(w) - 2 >= pv:
        w = w[:-1]
    return w
