"""Query-string parser: the Solr/Lucene query-syntax front door.

Reference: QParser dispatch (solr/core/src/java/org/apache/solr/search/
QParser.java:276-308) -> classic Lucene grammar (lucene/queryparser/src/java/
org/apache/lucene/queryparser/classic/QueryParserBase.java:486-858).  The
supported subset covers the web-query shapes of the fixture set
(EnwikiQueryMaker-style): terms, "quoted phrases" (with ~slop suffix),
+required / -prohibited prefixes, AND/OR connectives, term^boost, wildcard
(* ?), prefix (trailing *), fuzzy (term~N), [a TO b] term ranges.
Outside that subset the parser refuses rather than guesses: ``( )``
grouping outside a quoted phrase and backslash escapes raise QuerySyntaxError,
because flattening them would silently change which documents match.

Semantics match the engine's executor:
- bare terms are SHOULD clauses; with any explicit AND the bare terms become
  MUST (the classic parser's default-operator handling, simplified: we expose
  ``default_op``);
- every term passes through the index analyzer (stopwords vanish, case
  folds) exactly like Solr analyzes query text against the field type;
- a query reduced to nothing (all stopwords) yields MatchNoDocs (empty
  BooleanQuery -> caller decides).

The output is the engine's Query dataclass tree (search/query.py) — the
"IR #1" of SURVEY.md §3.1; planning/scoring stays in search/bm25.py.
"""

from __future__ import annotations

import re

from lucene_solr_spark.analysis.analyzer import analyze_text
from lucene_solr_spark.search.query import (
    BooleanQuery,
    FuzzyQuery,
    PhraseQuery,
    PrefixQuery,
    RangeQuery,
    TermQuery,
    WildcardQuery,
)

_TOKEN_RE = re.compile(
    r"""
    \s*(?:
        (?P<phrase>(?P<psign>[+-])?(?:(?P<phf>[A-Za-z_][A-Za-z0-9_]*):)?
                   "(?P<ph>[^"]*)"(?:~(?P<slop>\d+))?(?:\^(?P<pboost>\d+(?:\.\d+)?))?)
      | (?P<range>(?P<rsign>[+-])?(?:(?P<rgf>[A-Za-z_][A-Za-z0-9_]*):)?
                  \[\s*(?P<lo>\S+)\s+TO\s+(?P<hi>\S+)\s*\])
      | (?P<and>AND\b)
      | (?P<or>OR\b)
      | (?P<not>NOT\b)
      | (?P<term>(?P<sign>[+-])?(?P<body>[^\s"\[\]]+))
    )""",
    re.VERBOSE,
)


def _sign_bucket(sign: str | None, bucket: str | None) -> str | None:
    """A +/- prefix overrides the pending-NOT bucket, same as on terms."""
    if sign == "-":
        return "not"
    if sign == "+":
        return "must"
    return bucket

_BOOST_RE = re.compile(r"\^(\d+(?:\.\d+)?)$")
_FUZZY_RE = re.compile(r"~(\d?)$")
# field:term production (QueryParserBase.java:486-858 — any name:rest pair)
_FIELD_RE = re.compile(r"^([A-Za-z_][A-Za-z0-9_]*):(.+)$")
# a quoted phrase (skipped: its parens are just text to analyze) or a
# grouping paren outside one
_GROUPING_RE = re.compile(r'"[^"]*"|[()]')


class QuerySyntaxError(ValueError):
    """The query uses classic-grammar syntax this parser does not implement."""


def _reject_unsupported(q: str) -> None:
    if "\\" in q:
        raise QuerySyntaxError(f"backslash escapes are not supported: {q!r}")
    for m in _GROUPING_RE.finditer(q):
        if m.group(0) in ("(", ")"):
            raise QuerySyntaxError(
                f"parenthesized grouping is not supported: {q!r}"
            )


def parse_query(q: str, default_op: str = "OR"):
    """Parse a query string into a Query tree.

    Returns a BooleanQuery (possibly with zero clauses if everything was a
    stopword), or a single multi-term/range query when the string is exactly
    one such clause.  Raises QuerySyntaxError (a ValueError) on grouping
    parentheses and backslash escapes."""
    _reject_unsupported(q)
    must: list = []
    should: list = []
    must_not: list = []
    specials: list = []  # (bucket, query) for non-term clauses
    pending_not = False
    saw_and = False

    for mt in _TOKEN_RE.finditer(q):
        if mt.group("and"):
            saw_and = True
            continue
        if mt.group("or"):
            continue
        if mt.group("not"):
            pending_not = True
            continue

        bucket = "not" if pending_not else None
        pending_not = False

        if mt.group("phrase") is not None:
            bucket = _sign_bucket(mt.group("psign"), bucket)
            terms = analyze_text(mt.group("ph"))
            if terms:
                slop = int(mt.group("slop") or 0)
                pboost = float(mt.group("pboost") or 1.0)
                field = mt.group("phf")
                if len(terms) == 1:
                    specials.append(
                        (bucket or "auto", TermQuery(terms[0], boost=pboost, field=field))
                    )
                else:
                    specials.append(
                        (
                            bucket or "auto",
                            PhraseQuery(tuple(terms), slop=slop, boost=pboost, field=field),
                        )
                    )
            continue

        if mt.group("range") is not None:
            bucket = _sign_bucket(mt.group("rsign"), bucket)
            lo, hi = mt.group("lo").lower(), mt.group("hi").lower()
            rq = RangeQuery(
                None if lo == "*" else lo,
                None if hi == "*" else hi,
                field=mt.group("rgf"),
            )
            specials.append((bucket or "auto", rq))
            continue

        sign = mt.group("sign")
        body = mt.group("body")
        if sign == "-":
            bucket = "not"
        elif sign == "+":
            bucket = "must"

        field = None
        fm_field = _FIELD_RE.match(body)
        if fm_field:
            field, body = fm_field.group(1), fm_field.group(2)

        boost = 1.0
        bm = _BOOST_RE.search(body)
        if bm:
            boost = float(bm.group(1))
            body = body[: bm.start()]

        fm = _FUZZY_RE.search(body)
        if fm and "*" not in body and "?" not in body:
            base = body[: fm.start()]
            terms = analyze_text(base)
            if terms:
                specials.append(
                    (
                        bucket or "auto",
                        FuzzyQuery(
                            terms[0],
                            max_edits=int(fm.group(1) or 2),
                            boost=boost,
                            field=field,
                        ),
                    )
                )
            continue

        if body.endswith("*") and "*" not in body[:-1] and "?" not in body:
            specials.append(
                (bucket or "auto", PrefixQuery(body[:-1].lower(), boost=boost, field=field))
            )
            continue
        if "*" in body or "?" in body:
            specials.append(
                (bucket or "auto", WildcardQuery(body.lower(), boost=boost, field=field))
            )
            continue

        for term in analyze_text(body):
            tq = TermQuery(term, boost=boost, field=field)
            if bucket == "not":
                must_not.append(tq)
            elif bucket == "must":
                must.append(tq)
            else:
                should.append(tq)

    # classic-parser default-operator handling: explicit AND (or default_op
    # AND) promotes un-signed terms to required
    if saw_and or default_op.upper() == "AND":
        must.extend(should)
        should = []

    # route analyzed special clauses
    plain_specials = [s for b, s in specials if b == "auto"]
    not_specials = [s for b, s in specials if b == "not"]
    must_specials = [s for b, s in specials if b == "must"]

    if (
        len(plain_specials) == 1
        and not (must or should or must_not or not_specials or must_specials)
    ):
        return plain_specials[0]  # bare "a b"~1 / prefix* / [a TO b] / fuzzy~

    # fold phrase/multiterm specials into the boolean as must/should:
    # the engine executes BooleanQuery over TermQuery clauses; specials are
    # returned alongside in a composite when present
    if plain_specials or not_specials or must_specials:
        return CompositeQuery(
            boolean=BooleanQuery(tuple(must), tuple(should), tuple(must_not)),
            must_specials=tuple(must_specials + (plain_specials if (saw_and or default_op.upper() == "AND") else [])),
            should_specials=tuple([] if (saw_and or default_op.upper() == "AND") else plain_specials),
            not_specials=tuple(not_specials),
        )
    return BooleanQuery(tuple(must), tuple(should), tuple(must_not))


class CompositeQuery:
    """A boolean of term clauses plus phrase/multi-term sub-queries — kept as
    a thin container; execution composes the parts (see search_parsed)."""

    def __init__(self, boolean, must_specials=(), should_specials=(), not_specials=()):
        self.boolean = boolean
        self.must_specials = tuple(must_specials)
        self.should_specials = tuple(should_specials)
        self.not_specials = tuple(not_specials)

    def __repr__(self):
        return (
            f"CompositeQuery({self.boolean!r}, must={self.must_specials!r}, "
            f"should={self.should_specials!r}, not={self.not_specials!r})"
        )
