"""Snowball Kraaij-Pohlmann Dutch stemmer — the published algorithm from
snowballstem.org (kraaij_pohlmann.sbl, Wessel Kraaij & Renee Pohlmann's
Dutch stemmer), shipped by the reference as generated code
(lucene/analysis/common/src/java/org/tartarus/snowball/ext/KpStemmer.java,
selected via SnowballPorterFilterFactory language="Kp" and graded by
TestSnowballVocab.java kraaij_pohlmann/).

Golden-tested against the reference's full Snowball vocabulary
(TestSnowballVocabData.zip kraaij_pohlmann/, 45,669 pairs) in
tests/test_snowball_kp.py.

Runtime-semantics notes:
- The vowel grouping includes trailing lowercase y; the prelude upcases
  word-initial y and y-after-vowel to Y (a consonant), and the postlude
  restores them. "ij" counts as ONE vowel unit in the region measure and
  in the V/VX context tests.
- p1/p2 are absolute positions fixed by measure(); they go stale as
  suffixes are removed (faithful to the engine) and are recomputed only
  after a successful ge- prefix/infix removal.
- Suffix selection is longest-match with NO backtracking to shorter
  entries — except Step 4's explicit two-block or (so a failed 'erig'
  can still fall back to the separate ig-block).
- le/ene (step 2) and fie/gie (step 3) delete-then-ATTACH their
  replacement, leaving the cursor right of the attached text so the
  following lengthen_V sees it as the final consonant.
- lengthen_V doubles a/o/u (and conditionally e) before a final
  consonant outside {v, w, x}; the e-case is fenced by two lookbehind
  exclusions (no a/i/o/u one or two consonant-groups back).

Spark integration is snowball_registry.snowball_stem_map — the
porter_stem_map shape (analysis/stemmer.py).
"""

from __future__ import annotations

_V = frozenset("aeiouy")
_V_WX = frozenset("aeiouywx")
_AOU = frozenset("aou")
_AIOU = frozenset("aiou")


def _desc(*suffixes):
    return tuple(sorted(suffixes, key=len, reverse=True))


_A0 = _desc("nde", "en", "s", "'s", "es", "ies", "aus")
_A1 = _desc("de", "ge", "ische", "je", "lijke", "le", "ene", "re", "se",
            "te", "ieve")
_A2 = _desc("heid", "fie", "gie", "atie", "isme", "ing", "arij", "erij",
            "sel", "rder", "ster", "iteit", "dst", "tst")
_A3 = _desc("end", "atief", "erig", "achtig", "ioneel", "baar", "laar",
            "naar", "raar", "eriger", "achtiger", "lijker", "tant",
            "erigst", "achtigst", "lijkst")
_A4 = _desc("ig", "iger", "igst")
_A5 = _desc("ft", "kt", "pt")
_A6 = _desc("bb", "cc", "dd", "ff", "gg", "hh", "jj", "kk", "ll", "mm",
            "nn", "pp", "qq", "rr", "ss", "tt", "v", "vv", "ww", "xx",
            "z", "zz")
_A7 = _desc("d", "t")


class _T:
    __slots__ = ("w", "c", "p1", "p2")

    def __init__(self, w):
        self.w = w
        self.c = len(w)
        self.p1 = len(w)
        self.p2 = len(w)

    def save(self):
        return len(self.w) - self.c

    def restore(self, v):
        self.c = len(self.w) - v

    def delete(self, ket):
        self.w = self.w[: self.c] + self.w[ket:]

    def replace(self, ket, s):
        """slice_from: replace w[c:ket] with s; cursor stays."""
        self.w = self.w[: self.c] + s + self.w[ket:]

    def attach(self, s):
        """insert at cursor, cursor ends right of the inserted text."""
        self.w = self.w[: self.c] + s + self.w[self.c :]
        self.c += len(s)


def _among_b(t, suffixes):
    for s in suffixes:
        n = len(s)
        if t.c >= n and t.w[t.c - n : t.c] == s:
            t.c -= n
            return s
    return None


def _eq_b(t, s):
    n = len(s)
    if t.c >= n and t.w[t.c - n : t.c] == s:
        t.c -= n
        return True
    return False


def _r1(t):
    return t.c >= t.p1


def _r2(t):
    return t.c >= t.p2


def _v_test(t):
    """char before cursor is a vowel, or the two before are 'ij'."""
    w, c = t.w, t.c
    return (c >= 1 and w[c - 1] in _V) or (c >= 2 and w[c - 2 : c] == "ij")


def _vx_test(t):
    """one char further back: vowel or 'ij'."""
    w, c = t.w, t.c
    if c < 2:
        return False
    return w[c - 2] in _V or (c >= 3 and w[c - 3 : c - 1] == "ij")


def _c_test(t):
    """char before cursor is a consonant and the two before are not
    'ij'."""
    w, c = t.w, t.c
    if c < 1 or w[c - 1] in _V:
        return False
    return not (c >= 2 and w[c - 2 : c] == "ij")


def _lengthen_v(t):
    """Double the vowel before a final consonant outside {v,w,x}."""
    w, c = t.w, t.c
    if c < 2 or w[c - 1] in _V_WX:
        return
    ch = w[c - 2]
    if ch in _AOU:
        # preceded by a non-vowel or at the start
        if c - 2 == 0 or (c >= 3 and w[c - 3] not in _V):
            t.w = w[: c - 2] + ch + w[c - 2 :]
            # <+ leaves cursor at the insertion point; the caller's
            # distance restore re-anchors, so c needs no adjustment here
        return
    if ch == "e":
        if not (c - 2 == 0 or (c >= 3 and w[c - 3] not in _V)):
            return
        # not AIOU one consonant back
        if c >= 4 and w[c - 4] in _AIOU:
            return
        # not (skip one, AIOU, then consonant) two back
        if c >= 6 and w[c - 5] in _AIOU and w[c - 6] not in _V:
            return
        t.w = w[: c - 2] + "e" + w[c - 2 :]


def _step_1(t):
    ket = t.c
    s = _among_b(t, _A0)
    if s is None:
        return False
    if s == "nde":
        t.replace(ket, "nd")
        return True
    if s == "'s":
        t.delete(ket)
        return True
    if s == "s":
        if not _r1(t):
            return False
        v = t.save()
        if _eq_b(t, "t") and _r1(t):
            return False
        t.restore(v)
        if not _c_test(t):
            return False
        t.delete(ket)
        return True
    if s == "ies":
        if not _r1(t):
            return False
        t.replace(ket, "ie")
        return True
    if s == "es":
        v = t.save()
        if _eq_b(t, "ar") and _r1(t) and _c_test(t):
            t.delete(ket)
            _lengthen_v(t)
            return True
        t.restore(v)
        if _eq_b(t, "er") and _r1(t) and _c_test(t):
            t.delete(ket)
            return True
        t.restore(v)
        if not (_r1(t) and _c_test(t)):
            return False
        t.replace(ket, "e")
        return True
    if s == "aus":
        if not (_r1(t) and _v_test(t)):
            return False
        t.replace(ket, "au")
        return True
    # s == "en"
    v = t.save()
    if _eq_b(t, "hed") and _r1(t):
        t.replace(ket, "heid")
        return True
    t.restore(v)
    if _eq_b(t, "nd"):
        t.restore(v)
        t.delete(ket)
        return True
    t.restore(v)
    if _eq_b(t, "d") and _r1(t) and _c_test(t):
        t.delete(ket)
        return True
    t.restore(v)
    if (_eq_b(t, "i") or (t.restore(v) is None and _eq_b(t, "j"))) \
            and _v_test(t):
        t.restore(v)
        t.delete(ket)
        return True
    t.restore(v)
    if not (_r1(t) and _c_test(t)):
        return False
    t.delete(ket)
    _lengthen_v(t)
    return True


def _step_2(t):
    ket = t.c
    s = _among_b(t, _A1)
    if s is None:
        return False
    if s == "je":
        v = t.save()
        if _eq_b(t, "'t"):
            t.delete(ket)
            return True
        t.restore(v)
        if _eq_b(t, "et") and _r1(t) and _c_test(t):
            t.delete(ket)
            return True
        t.restore(v)
        if _eq_b(t, "rnt"):
            t.replace(ket, "rn")
            return True
        t.restore(v)
        if _eq_b(t, "t") and _r1(t) and _vx_test(t):
            t.delete(ket)
            return True
        t.restore(v)
        if _eq_b(t, "ink"):
            t.replace(ket, "ing")
            return True
        t.restore(v)
        if _eq_b(t, "mp"):
            t.replace(ket, "m")
            return True
        t.restore(v)
        if _eq_b(t, "'") and _r1(t):
            t.delete(ket)
            return True
        t.restore(v)
        if not (_r1(t) and _c_test(t)):
            return False
        t.delete(ket)
        return True
    if s == "ge":
        if not _r1(t):
            return False
        t.replace(ket, "g")
        return True
    if s == "lijke":
        if not _r1(t):
            return False
        t.replace(ket, "lijk")
        return True
    if s == "ische":
        if not _r1(t):
            return False
        t.replace(ket, "isch")
        return True
    if s == "de":
        if not (_r1(t) and _c_test(t)):
            return False
        t.delete(ket)
        return True
    if s == "te":
        if not _r1(t):
            return False
        t.replace(ket, "t")
        return True
    if s == "se":
        if not _r1(t):
            return False
        t.replace(ket, "s")
        return True
    if s == "re":
        if not _r1(t):
            return False
        t.replace(ket, "r")
        return True
    if s == "le":
        if not _r1(t):
            return False
        t.delete(ket)
        t.attach("l")
        _lengthen_v(t)
        return True
    if s == "ene":
        if not (_r1(t) and _c_test(t)):
            return False
        t.delete(ket)
        t.attach("en")
        _lengthen_v(t)
        return True
    # s == "ieve"
    if not (_r1(t) and _c_test(t)):
        return False
    t.replace(ket, "ief")
    return True


def _step_3(t):
    ket = t.c
    s = _among_b(t, _A2)
    if s is None:
        return False
    if s == "atie":
        if not _r1(t):
            return False
        t.replace(ket, "eer")
        return True
    if s == "iteit":
        if not _r1(t):
            return False
        t.delete(ket)
        _lengthen_v(t)
        return True
    if s in ("heid", "sel", "ster"):
        if not _r1(t):
            return False
        t.delete(ket)
        return True
    if s == "rder":
        t.replace(ket, "r")
        return True
    if s in ("isme", "ing", "erij"):
        if not _r1(t):
            return False
        t.delete(ket)
        _lengthen_v(t)
        return True
    if s == "arij":
        if not (_r1(t) and _c_test(t)):
            return False
        t.replace(ket, "aar")
        return True
    if s == "fie":
        if not _r2(t):
            return False
        t.delete(ket)
        t.attach("f")
        _lengthen_v(t)
        return True
    if s == "gie":
        if not _r2(t):
            return False
        t.delete(ket)
        t.attach("g")
        _lengthen_v(t)
        return True
    if s == "tst":
        if not (_r1(t) and _c_test(t)):
            return False
        t.replace(ket, "t")
        return True
    # s == "dst"
    if not (_r1(t) and _c_test(t)):
        return False
    t.replace(ket, "d")
    return True


def _step_4(t):
    v0 = t.save()
    ket = t.c
    s = _among_b(t, _A3)
    if s is not None:
        ok = _step_4_case(t, ket, s)
        if ok:
            return True
        t.restore(v0)
    ket = t.c
    s = _among_b(t, _A4)
    if s is None:
        return False
    if not (_r1(t) and _c_test(t)):
        return False
    t.delete(ket)
    _lengthen_v(t)
    return True


def _step_4_case(t, ket, s):
    if s == "ioneel":
        if not _r1(t):
            return False
        t.replace(ket, "ie")
        return True
    if s == "atief":
        if not _r1(t):
            return False
        t.replace(ket, "eer")
        return True
    if s == "baar":
        if not _r1(t):
            return False
        t.delete(ket)
        return True
    if s == "naar":
        if not (_r1(t) and _v_test(t)):
            return False
        t.replace(ket, "n")
        return True
    if s == "laar":
        if not (_r1(t) and _v_test(t)):
            return False
        t.replace(ket, "l")
        return True
    if s == "raar":
        if not (_r1(t) and _v_test(t)):
            return False
        t.replace(ket, "r")
        return True
    if s == "tant":
        if not _r1(t):
            return False
        t.replace(ket, "teer")
        return True
    if s in ("lijker", "lijkst"):
        if not _r1(t):
            return False
        t.replace(ket, "lijk")
        return True
    if s in ("achtig", "achtiger", "achtigst"):
        if not _r1(t):
            return False
        t.delete(ket)
        return True
    # end / erig / eriger / erigst
    if not (_r1(t) and _c_test(t)):
        return False
    t.delete(ket)
    _lengthen_v(t)
    return True


def _step_7(t):
    ket = t.c
    s = _among_b(t, _A5)
    if s is None:
        return False
    t.replace(ket, {"kt": "k", "ft": "f", "pt": "p"}[s])
    return True


def _step_6(t):
    ket = t.c
    s = _among_b(t, _A6)
    if s is None:
        return False
    if s == "v":
        t.replace(ket, "f")
    elif s == "z":
        t.replace(ket, "s")
    else:
        t.replace(ket, s[0])
    return True


def _step_1c(t):
    ket = t.c
    s = _among_b(t, _A7)
    if s is None:
        return False
    if not (_r1(t) and _c_test(t)):
        return False
    if s == "d":
        v = t.save()
        if _eq_b(t, "n") and _r1(t):
            return False
        t.restore(v)
        t.delete(ket)
        return True
    # s == "t"
    v = t.save()
    if _eq_b(t, "h") and _r1(t):
        return False
    t.restore(v)
    t.delete(ket)
    return True


def _measure(w):
    """Forward pass: p1/p2 marks; 'ij' counts as one vowel unit."""
    n = len(w)
    p1 = p2 = n
    i = 0
    while i < n and w[i] not in _V:
        i += 1
    cnt = 0
    while i < n:
        if w[i : i + 2] == "ij":
            i += 2
            cnt += 1
        elif w[i] in _V:
            i += 1
            cnt += 1
        else:
            break
    if cnt < 1 or i >= n or w[i] in _V:
        return p1, p2
    i += 1
    p1 = i
    while i < n and w[i] not in _V:
        i += 1
    cnt = 0
    while i < n:
        if w[i : i + 2] == "ij":
            i += 2
            cnt += 1
        elif w[i] in _V:
            i += 1
            cnt += 1
        else:
            break
    if cnt < 1 or i >= n or w[i] in _V:
        return p1, p2
    p2 = i + 1
    return p1, p2


def _lose_prefix(w):
    """Remove a leading ge- when a vowel and a later non-vowel follow."""
    if not (len(w) >= 5 and w.startswith("ge")):
        return w, False
    n = len(w)
    j = 2
    while j < n and w[j] not in _V:
        j += 1
    if j >= n:
        return w, False
    k = j
    while k < n and w[k] in _V:
        k += 1
    if k >= n:
        return w, False
    return w[2:], True


def _lose_infix(w):
    """Remove the first internal -ge- (position >= 1) under the same
    vowel/non-vowel follow conditions."""
    n = len(w)
    pos = w.find("ge", 1)
    if pos < 0:
        return w, False
    ket = pos + 2
    if ket + 3 > n:
        return w, False
    j = ket
    while j < n and w[j] not in _V:
        j += 1
    if j >= n:
        return w, False
    k = j
    while k < n and w[k] in _V:
        k += 1
    if k >= n:
        return w, False
    return w[:pos] + w[ket:], True


def kp_stem(word: str) -> str:
    """Stem one (already lowercased) Dutch word with the
    Kraaij-Pohlmann algorithm."""
    w = word
    # prelude: initial y and y-after-vowel become consonant Y
    y_found = False
    if w.startswith("y"):
        w = "Y" + w[1:]
        y_found = True
    chars = list(w)
    for i in range(len(chars) - 1):
        if chars[i] in _V and chars[i + 1] == "y":
            chars[i + 1] = "Y"
            y_found = True
    w = "".join(chars)

    t = _T(w)
    t.p1, t.p2 = _measure(t.w)

    stemmed = False
    for step in (_step_1, _step_2, _step_3, _step_4):
        t.c = len(t.w)
        if step(t):
            stemmed = True

    ge_removed = False
    new_w, removed = _lose_prefix(t.w)
    if removed:
        ge_removed = True
        t.w = new_w
        t.p1, t.p2 = _measure(t.w)
    if ge_removed:
        t.c = len(t.w)
        _step_1c(t)

    ge_removed = False
    new_w, removed = _lose_infix(t.w)
    if removed:
        ge_removed = True
        t.w = new_w
        t.p1, t.p2 = _measure(t.w)
    if ge_removed:
        t.c = len(t.w)
        _step_1c(t)

    t.c = len(t.w)
    if _step_7(t):
        stemmed = True
    t.c = len(t.w)
    if stemmed or ge_removed:
        _step_6(t)

    if y_found:
        t.w = t.w.replace("Y", "y")
    return t.w
