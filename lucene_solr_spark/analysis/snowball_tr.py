"""Snowball Turkish stemmer — the published algorithm from
snowballstem.org ("The Turkish stemming algorithm", Evren Kapusuz
Cilden), shipped by the reference as generated code
(lucene/analysis/common/src/java/org/tartarus/snowball/ext/
TurkishStemmer.java, selected via SnowballPorterFilterFactory
language="Turkish").

Golden-tested against the reference's full Snowball vocabulary
(TestSnowballVocabData.zip turkish/, 96,325 pairs) in
tests/test_snowball_tr.py.

Runtime-semantics notes (the Snowball engine details the algorithm's
correctness depends on):
- Cursor saves/restores are DISTANCES FROM THE WORD END, not absolute
  positions. Deletions inside a failed alternative are NOT undone — the
  restore re-anchors relative to the shortened word. Several noun-suffix
  branches rely on this (e.g. the nUn/ylA branch retries possessives on
  the word with lAr already removed).
- check_vowel_harmony is an existence scan: the vowel preceding the last
  vowel need not be adjacent NOR the nearest vowel — any earlier vowel
  in the harmonizing class satisfies it.
- The optional suffix consonants (y/n/s) and the optional U vowel attach
  only between the right contexts: consonant variants require a vowel
  two back; the U variant requires a non-vowel two back; and if the
  optional character is present but its context fails, the whole mark
  fails (no fallback to the bare form).
- stem() keeps all buffer mutations even when it "fails" midway (the
  reference's SnowballFilter ignores stem()'s return value), so a word
  stopped by the continue_stemming flag still keeps its verb-suffix
  strip, and a word reduced to the reserved stems ad/soyad skips only
  the postlude.
- Postlude order: append ı/i/u/ü to stems ending in d/g (harmonized to
  the last vowel) BEFORE the final-consonant devoicing b>p c>ç d>t ğ>k —
  so a d-final stem that received a vowel is never devoiced.

Spark integration is snowball_registry.snowball_stem_map — the
porter_stem_map shape (analysis/stemmer.py): one Arrow batch over the |V|
distinct terms, broadcast-joined into the posting build — the corpus never
passes through Python.
"""

from __future__ import annotations

_VOWEL = frozenset("aeıioöuü")  # a e ı i o ö u ü
_U = frozenset("ıiuü")  # ı i u ü
# harmony classes: last vowel -> the set an earlier vowel must fall in
_HARMONY = {
    "a": frozenset("aıou"),
    "e": frozenset("eiöü"),
    "ı": frozenset("aı"),
    "i": frozenset("ei"),
    "o": frozenset("ou"),
    "ö": frozenset("öü"),
    "u": frozenset("ou"),
    "ü": frozenset("öü"),
}


def _desc(*suffixes):
    return tuple(sorted(suffixes, key=len, reverse=True))


# suffix tables (longest-match order)
_POSS = _desc("m", "n", "miz", "niz", "muz", "nuz", "müz", "nüz",
              "mız", "nız")
_LARI = _desc("leri", "ları")
_NU = _desc("ni", "nu", "nü", "nı")
_NUN = _desc("in", "un", "ün", "ın")
_YA = _desc("a", "e")
_NA = _desc("na", "ne")
_DA = _desc("da", "ta", "de", "te")
_NDA = _desc("nda", "nde")
_DAN = _desc("dan", "tan", "den", "ten")
_NDAN = _desc("ndan", "nden")
_YLA = _desc("la", "le")
_NCA = _desc("ca", "ce")
_YUM = _desc("im", "um", "üm", "ım")
_SUN = _desc("sin", "sun", "sün", "sın")
_YUZ = _desc("iz", "uz", "üz", "ız")
_SUNUZ = _desc("siniz", "sunuz", "sünüz", "sınız")
_LAR = _desc("lar", "ler")
_NUZ = _desc("niz", "nuz", "nüz", "nız")
_DUR = _desc("dir", "tir", "dur", "tur", "dür", "tür",
             "dır", "tır")
_CASINA = _desc("casına", "cesine")
_YDU = _desc(*(d + v + k for d in "dt"
               for v in ("i", "u", "ü", "ı")
               for k in ("", "k", "m", "n")))
_YSA = _desc("sa", "se", "sak", "sek", "sam", "sem", "san", "sen")
_YMUS = _desc("miş", "muş", "müş", "mış")


class _T:
    """Backwards-mode state: w is the buffer, c the cursor (chars
    [0:c) are still to the left)."""

    __slots__ = ("w", "c")

    def __init__(self, w):
        self.w = w
        self.c = len(w)

    # saves are distances from the end so they survive deletions
    def save(self):
        return len(self.w) - self.c

    def restore(self, v):
        self.c = len(self.w) - v

    def delete(self, ket):
        """Delete w[c:ket]; cursor stays at the slice start."""
        self.w = self.w[: self.c] + self.w[ket:]


def _eq_b(t, s):
    n = len(s)
    if t.c >= n and t.w[t.c - n : t.c] == s:
        t.c -= n
        return True
    return False


def _among_b(t, suffixes):
    for s in suffixes:
        n = len(s)
        if t.c >= n and t.w[t.c - n : t.c] == s:
            t.c -= n
            return True
    return False


def _first(t, v, fns):
    """or-chain: restore the cursor distance before each alternative."""
    for f in fns:
        t.restore(v)
        if f(t):
            return True
    return False


def _check_vowel_harmony(t):
    w, c = t.w, t.c
    i = c
    while i > 0 and w[i - 1] not in _VOWEL:
        i -= 1
    if i == 0:
        return False
    req = _HARMONY[w[i - 1]]
    j = i - 1
    while j > 0 and w[j - 1] not in req:
        j -= 1
    return j > 0


def _opt_cons(t, ch):
    """Optional suffix consonant ch: consume it when present between two
    vowels; reject outright when present without a preceding vowel; when
    absent, require a vowel two back (cursor unmoved)."""
    w, c = t.w, t.c
    if c >= 1 and w[c - 1] == ch:
        if c >= 2 and w[c - 2] in _VOWEL:
            t.c = c - 1
            return True
        return False
    if c < 1:
        return False
    return c >= 2 and w[c - 2] in _VOWEL


def _opt_u(t):
    """Optional U vowel: mirror image of _opt_cons with a non-vowel
    context two back."""
    w, c = t.w, t.c
    if c >= 1 and w[c - 1] in _U:
        if c >= 2 and w[c - 2] not in _VOWEL:
            t.c = c - 1
            return True
        return False
    if c < 1:
        return False
    return c >= 2 and w[c - 2] not in _VOWEL


def _mark_possessives(t):
    return _among_b(t, _POSS) and _opt_u(t)


def _mark_su(t):
    if not _check_vowel_harmony(t):
        return False
    if t.c >= 1 and t.w[t.c - 1] in _U:
        t.c -= 1
        return _opt_cons(t, "s")
    return False


def _mark_lari(t):
    return _among_b(t, _LARI)


def _mark_yu(t):
    if not _check_vowel_harmony(t):
        return False
    if t.c >= 1 and t.w[t.c - 1] in _U:
        t.c -= 1
        return _opt_cons(t, "y")
    return False


def _mark_nu(t):
    return _check_vowel_harmony(t) and _among_b(t, _NU)


def _mark_nun(t):
    return (_check_vowel_harmony(t) and _among_b(t, _NUN)
            and _opt_cons(t, "n"))


def _mark_ya(t):
    return (_check_vowel_harmony(t) and _among_b(t, _YA)
            and _opt_cons(t, "y"))


def _mark_na(t):
    return _check_vowel_harmony(t) and _among_b(t, _NA)


def _mark_da(t):
    return _check_vowel_harmony(t) and _among_b(t, _DA)


def _mark_nda(t):
    return _check_vowel_harmony(t) and _among_b(t, _NDA)


def _mark_dan(t):
    return _check_vowel_harmony(t) and _among_b(t, _DAN)


def _mark_ndan(t):
    return _check_vowel_harmony(t) and _among_b(t, _NDAN)


def _mark_yla(t):
    return (_check_vowel_harmony(t) and _among_b(t, _YLA)
            and _opt_cons(t, "y"))


def _mark_ki(t):
    return _eq_b(t, "ki")


def _mark_nca(t):
    return (_check_vowel_harmony(t) and _among_b(t, _NCA)
            and _opt_cons(t, "n"))


def _mark_yum(t):
    return (_check_vowel_harmony(t) and _among_b(t, _YUM)
            and _opt_cons(t, "y"))


def _mark_sun(t):
    return _check_vowel_harmony(t) and _among_b(t, _SUN)


def _mark_yuz(t):
    return (_check_vowel_harmony(t) and _among_b(t, _YUZ)
            and _opt_cons(t, "y"))


def _mark_sunuz(t):
    return _among_b(t, _SUNUZ)


def _mark_lar(t):
    return _check_vowel_harmony(t) and _among_b(t, _LAR)


def _mark_nuz(t):
    return _check_vowel_harmony(t) and _among_b(t, _NUZ)


def _mark_dur(t):
    return _check_vowel_harmony(t) and _among_b(t, _DUR)


def _mark_casina(t):
    return _among_b(t, _CASINA)


def _mark_ydu(t):
    return (_check_vowel_harmony(t) and _among_b(t, _YDU)
            and _opt_cons(t, "y"))


def _mark_ysa(t):
    return _among_b(t, _YSA) and _opt_cons(t, "y")


def _mark_ymus(t):
    return (_check_vowel_harmony(t) and _among_b(t, _YMUS)
            and _opt_cons(t, "y"))


def _mark_yken(t):
    return _eq_b(t, "ken") and _opt_cons(t, "y")


def _stem_nominal_verb_suffixes(t):
    """Strip one layer of nominal verb suffixes. Returns (matched,
    continue_stemming_noun_suffixes)."""
    ket = t.c
    v1 = t.save()

    # (ymUs_ or yDU or ysA or yken) -> shared delete
    if _first(t, v1, [_mark_ymus, _mark_ydu, _mark_ysa, _mark_yken]):
        t.delete(ket)
        return True, True

    # cAsInA (sUnUz|lAr|yUm|sUn|yUz|)? ymUs_ -> shared delete
    t.restore(v1)
    if _mark_casina(t):
        v3 = t.save()
        if not _first(t, v3, [_mark_sunuz, _mark_lar, _mark_yum,
                              _mark_sun, _mark_yuz]):
            t.restore(v3)
        if _mark_ymus(t):
            t.delete(ket)
            return True, True

    # lAr <del> try(DUr|yDU|ysA|ymUs_) -> unset continue flag
    t.restore(v1)
    if _mark_lar(t):
        t.delete(ket)
        v4 = t.save()
        ket2 = t.c
        if _first(t, v4, [_mark_dur, _mark_ydu, _mark_ysa, _mark_ymus]):
            t.delete(ket2)
        else:
            t.restore(v4)
        return True, False

    # nUz (yDU or ysA) -> shared delete
    t.restore(v1)
    if _mark_nuz(t):
        v6 = t.save()
        if _first(t, v6, [_mark_ydu, _mark_ysa]):
            t.delete(ket)
            return True, True

    # (sUnUz|yUz|sUn|yUm) <del> try(ymUs_)
    t.restore(v1)
    if _first(t, v1, [_mark_sunuz, _mark_yuz, _mark_sun, _mark_yum]):
        t.delete(ket)
        v8 = t.save()
        ket2 = t.c
        if _mark_ymus(t):
            t.delete(ket2)
        else:
            t.restore(v8)
        return True, True

    # DUr <del> try((sUnUz|lAr|yUm|sUn|yUz|)? ymUs_)
    t.restore(v1)
    if _mark_dur(t):
        t.delete(ket)
        v9 = t.save()
        ket2 = t.c
        v10 = t.save()
        if not _first(t, v10, [_mark_sunuz, _mark_lar, _mark_yum,
                               _mark_sun, _mark_yuz]):
            t.restore(v10)
        if _mark_ymus(t):
            t.delete(ket2)
        else:
            t.restore(v9)
        return True, True

    return False, True


def _chain_ki(t):
    """stem_suffix_chain_before_ki — the recursive ki-relative chain."""
    ket = t.c
    if not _mark_ki(t):
        return False
    v1 = t.save()

    # DA branch
    if _mark_da(t):
        t.delete(ket)
        v2 = t.save()
        ket2 = t.c
        v3 = t.save()
        if _mark_lar(t):
            t.delete(ket2)
            v4 = t.save()
            if not _chain_ki(t):
                t.restore(v4)
        else:
            t.restore(v3)
            if _mark_possessives(t):
                t.delete(ket2)
                v5 = t.save()
                ket3 = t.c
                ok = False
                if _mark_lar(t):
                    t.delete(ket3)
                    ok = _chain_ki(t)
                if not ok:
                    t.restore(v5)
            else:
                t.restore(v2)
        return True

    # nUn branch
    t.restore(v1)
    if _mark_nun(t):
        t.delete(ket)
        v6 = t.save()
        ket2 = t.c
        v7 = t.save()
        if _mark_lari(t):
            t.delete(ket2)
            return True
        t.restore(v7)
        sub = t.save()
        ket3 = t.c
        if _first(t, sub, [_mark_possessives, _mark_su]):
            t.delete(ket3)
            v9 = t.save()
            ket4 = t.c
            ok = False
            if _mark_lar(t):
                t.delete(ket4)
                ok = _chain_ki(t)
            if not ok:
                t.restore(v9)
            return True
        t.restore(v7)
        if not _chain_ki(t):
            t.restore(v6)
        return True

    # ndA branch
    t.restore(v1)
    if not _mark_nda(t):
        return False
    v10 = t.save()
    if _mark_lari(t):
        t.delete(ket)
        return True
    t.restore(v10)
    if _mark_su(t):
        t.delete(ket)
        v11 = t.save()
        ket2 = t.c
        ok = False
        if _mark_lar(t):
            t.delete(ket2)
            ok = _chain_ki(t)
        if not ok:
            t.restore(v11)
        return True
    t.restore(v10)
    return _chain_ki(t)


def _stem_noun_suffixes(t):
    v1 = t.save()

    # lAr <del> try(chain)
    ket = t.c
    if _mark_lar(t):
        t.delete(ket)
        v2 = t.save()
        if not _chain_ki(t):
            t.restore(v2)
        return True

    # ncA <del> try(lArI<del> | (poss|sU)<del> try(lAr<del> chain) | lAr<del> chain)
    t.restore(v1)
    ket = t.c
    if _mark_nca(t):
        t.delete(ket)
        v3 = t.save()
        v4 = t.save()
        ket2 = t.c
        if _mark_lari(t):
            t.delete(ket2)
            return True
        t.restore(v4)
        ket2 = t.c
        if _first(t, v4, [_mark_possessives, _mark_su]):
            t.delete(ket2)
            v6 = t.save()
            ket3 = t.c
            ok = False
            if _mark_lar(t):
                t.delete(ket3)
                ok = _chain_ki(t)
            if not ok:
                t.restore(v6)
            return True
        t.restore(v4)
        ket2 = t.c
        if _mark_lar(t):
            t.delete(ket2)
            if _chain_ki(t):
                return True
            t.restore(v3)
            return True
        t.restore(v3)
        return True

    # (ndA|nA) (lArI<del> | sU<del> try(lAr<del> chain) | chain)
    t.restore(v1)
    ket = t.c
    if _first(t, v1, [_mark_nda, _mark_na]):
        v8 = t.save()
        if _mark_lari(t):
            t.delete(ket)
            return True
        t.restore(v8)
        if _mark_su(t):
            t.delete(ket)
            v9 = t.save()
            ket2 = t.c
            ok = False
            if _mark_lar(t):
                t.delete(ket2)
                ok = _chain_ki(t)
            if not ok:
                t.restore(v9)
            return True
        t.restore(v8)
        if _chain_ki(t):
            return True

    # (ndAn|nU) (sU<del> try(lAr<del> chain) | lArI [no delete])
    t.restore(v1)
    ket = t.c
    if _first(t, v1, [_mark_ndan, _mark_nu]):
        v11 = t.save()
        if _mark_su(t):
            t.delete(ket)
            v12 = t.save()
            ket2 = t.c
            ok = False
            if _mark_lar(t):
                t.delete(ket2)
                ok = _chain_ki(t)
            if not ok:
                t.restore(v12)
            return True
        t.restore(v11)
        if _mark_lari(t):
            return True

    # DAn <del> try(poss<del> try(lAr<del> chain) | lAr<del> try(chain) | chain)
    t.restore(v1)
    ket = t.c
    if _mark_dan(t):
        t.delete(ket)
        v13 = t.save()
        ket2 = t.c
        v14 = t.save()
        if _mark_possessives(t):
            t.delete(ket2)
            v15 = t.save()
            ket3 = t.c
            ok = False
            if _mark_lar(t):
                t.delete(ket3)
                ok = _chain_ki(t)
            if not ok:
                t.restore(v15)
            return True
        t.restore(v14)
        ket2 = t.c
        if _mark_lar(t):
            t.delete(ket2)
            v16 = t.save()
            if not _chain_ki(t):
                t.restore(v16)
            return True
        t.restore(v14)
        if not _chain_ki(t):
            t.restore(v13)
        return True

    # (nUn|ylA) <del> try(lAr<del> chain | (poss|sU)<del> try(lAr<del> chain) | chain)
    t.restore(v1)
    ket = t.c
    if _first(t, v1, [_mark_nun, _mark_yla]):
        t.delete(ket)
        v18 = t.save()
        v19 = t.save()
        ket2 = t.c
        matched = False
        if _mark_lar(t):
            t.delete(ket2)
            matched = _chain_ki(t)
        if not matched:
            t.restore(v19)
            ket2 = t.c
            if _first(t, v19, [_mark_possessives, _mark_su]):
                t.delete(ket2)
                v21 = t.save()
                ket3 = t.c
                ok = False
                if _mark_lar(t):
                    t.delete(ket3)
                    ok = _chain_ki(t)
                if not ok:
                    t.restore(v21)
            else:
                t.restore(v19)
                if not _chain_ki(t):
                    t.restore(v18)
        return True

    # lArI <del>
    t.restore(v1)
    ket = t.c
    if _mark_lari(t):
        t.delete(ket)
        return True

    # bare chain
    t.restore(v1)
    if _chain_ki(t):
        return True

    # (DA|yU|yA) <del> try((poss<del> try(lAr)| lAr) <del> chain)
    t.restore(v1)
    ket = t.c
    if _first(t, v1, [_mark_da, _mark_yu, _mark_ya]):
        t.delete(ket)
        v23 = t.save()
        ket2 = t.c
        v24 = t.save()
        if _mark_possessives(t):
            t.delete(ket2)
            v25 = t.save()
            ket3 = t.c
            if not _mark_lar(t):
                t.restore(v25)
                ket3 = t.c
            t.delete(ket3)
            if not _chain_ki(t):
                t.restore(v23)
        else:
            t.restore(v24)
            if _mark_lar(t):
                t.delete(ket2)
                if not _chain_ki(t):
                    t.restore(v23)
            else:
                t.restore(v23)
        return True

    # (poss|sU) <del> try(lAr<del> chain)
    t.restore(v1)
    ket = t.c
    if _first(t, v1, [_mark_possessives, _mark_su]):
        t.delete(ket)
        v27 = t.save()
        ket2 = t.c
        ok = False
        if _mark_lar(t):
            t.delete(ket2)
            ok = _chain_ki(t)
        if not ok:
            t.restore(v27)
        return True

    return False


def _post_process_last_consonants(t):
    repl = {"b": "p", "c": "ç", "d": "t", "ğ": "k"}
    w = t.w
    if w and w[-1] in repl:
        t.w = w[:-1] + repl[w[-1]]
        return True
    return False


def _append_u(t):
    w = t.w
    if not w or w[-1] not in ("d", "g"):
        return False
    i = len(w)
    while i > 0 and w[i - 1] not in _VOWEL:
        i -= 1
    if i == 0:
        return False
    last = w[i - 1]
    if last in "aı":
        t.w = w + "ı"
    elif last in "ei":
        t.w = w + "i"
    elif last in "ou":
        t.w = w + "u"
    else:  # ö ü
        t.w = w + "ü"
    return True


def _more_than_one_syllable(w):
    n = 0
    for ch in w:
        if ch in _VOWEL:
            n += 1
            if n >= 2:
                return True
    return False


def _is_reserved(w):
    # gopast 'ad' + strlen==2 / gopast 'soyad' + strlen==5 collapse to
    # exact equality
    return w == "ad" or w == "soyad"


def turkish_snowball_stem(word: str) -> str:
    """Stem one (already lowercased) Turkish word."""
    if not _more_than_one_syllable(word):
        return word
    t = _T(word)
    _, cont = _stem_nominal_verb_suffixes(t)
    if not cont:
        return t.w
    t.c = len(t.w)
    _stem_noun_suffixes(t)
    # postlude
    if _is_reserved(t.w):
        return t.w
    _append_u(t)
    _post_process_last_consonants(t)
    return t.w
