"""QParser plugin registry: Solr local-params dispatch ``{!type k=v ...}body``.

Reference: ``QParserPlugin.standardPlugins`` (solr/core/src/java/org/apache/
solr/search/QParserPlugin.java:34-62) registers the named parser plugins;
``QParser.getParser`` (QParser.java:276-308) reads the ``{!...}`` local-params
prefix (``QueryParsing.parseLocalParams``, QueryParsing.java:120-180) and
dispatches the remaining body to the selected plugin.  Implemented plugins map
onto the engine's existing executors — each handler returns the standard
(docid, score) frame ordered score desc / docid asc, limit k:

=============  ====================================  =============================
name           reference                             engine execution
=============  ====================================  =============================
lucene         LuceneQParserPlugin.java:30-42        classic grammar -> search_parsed
term           TermQParserPlugin.java:33-52          raw (un-analyzed) term: docvalues
                                                     column equality for string
                                                     fields, postings equality for
                                                     the indexed text field
terms          TermsQParserPlugin (4.x trunk)        IN-set filter, constant score
prefix         PrefixQParserPlugin.java:30-42        PrefixQuery constant-score
                                                     semi-join rewrite
field          FieldQParserPlugin.java:33-44         analyzed body -> term / exact
                                                     phrase on the field
frange         FunctionRangeQParserPlugin.java:38-65 function-query compiler Column
                                                     + range filter, constant score
                                                     (ValueSourceRangeFilter)
complexphrase  ComplexPhraseQParserPlugin.java:40-90 wildcard-in-phrase -> ordered
                                                     span-near over span-or
                                                     dictionary expansions
maxscore       MaxScoreQParser.java:43-77            SHOULD clauses fold as MAX
                                                     (DisjunctionMaxQuery tie=0)
                                                     instead of sum
surround       SurroundQParserPlugin.java:40-75      Nw()/Nn() distance ops ->
                                                     span-near slop=N-1 ordered/
                                                     unordered (DistanceQuery
                                                     .java:100); trailing-* ops
                                                     expand to span-or
boost          BoostQParserPlugin.java:42-62         sub-query score x compiled
                                                     function value (BoostedQuery)
join           JoinQParserPlugin.java:61,106-122     from/to field value join:
                                                     broadcast distinct from-set,
                                                     semi-join docs on to-field
query          NestedQParserPlugin.java:30-62        $param-dereferenced delegate
                                                     (fq templating front door)
switch         SwitchQParserPlugin.java:105-145      case.<input>/case/default
                                                     param selects the delegate
raw            RawQParserPlugin.java:34-49           literal TermQuery, no
                                                     analysis or type conversion
simple         SimpleQParserPlugin.java:60-90        never-throws end-user
                                                     grammar subset -> classic
                                                     executor; bad syntax
                                                     degrades to literal terms
parent         BlockJoinParentQParserPlugin          child body rolls up to the
                                                     key-column parent docid
                                                     (ScoreMode via score=)
child          BlockJoinChildQParserPlugin           parent body fans out to
                                                     children with parent score
func           FunctionQParserPlugin.java:32-42      FunctionQuery: score = the
                                                     compiled function Column
lucenePlusSort OldLuceneQParserPlugin.java           deprecated 'query; sort'
                                                     syntax -> sorted emission
dismax         DisMaxQParserPlugin.java              qf/tie over a
                                                     MultiFieldIndex
edismax        ExtendedDismaxQParserPlugin.java      dismax + mm/pf/ps
rerank         ReRankQParserPlugin.java              window re-score main +
                                                     weight*rerank
=============  ====================================  =============================

Registry status vs QParserPlugin.standardPlugins (java :40-67): all 26 names
covered — 24 directly above; ``collapsing`` executes as the fq PostFilter it
is ({!collapse} via filtercache._apply_collapse, CollapsingQParserPlugin's
only supported position); ``xport`` is the /export handler front door
(handler.export — the {!xport} RankQuery's full-hit-set semantics).

Scale shape: every handler stays on the engine's distributed paths — constant
-score filters are semi-joins or docvalues predicates pushed to the scan,
``frange``/``boost`` compile to JVM Catalyst expressions (no Python UDFs),
``complexphrase`` expands against the term dictionary under the
maxClauseCount guard and executes the positions-join span kernel.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lucene_solr_spark.index.builder import IndexTables
from lucene_solr_spark.search.bm25 import _topk
from lucene_solr_spark.search.query import (
    BooleanQuery,
    PhraseQuery,
    PrefixQuery,
    TermQuery,
    WildcardQuery,
)

# params may contain '}' inside quoted values (QueryParsing.parseLocalParams
# honors quoting) — the params group consumes quoted runs atomically
_LOCAL_RE = re.compile(
    r"^\s*\{!\s*(?P<type>[A-Za-z_][A-Za-z0-9_]*(?=[\s}]))?\s*"
    r"(?P<params>(?:[^}'\"]|'[^']*'|\"[^\"]*\")*)\}(?P<body>.*)$",
    re.DOTALL,
)
_PARAM_RE = re.compile(
    r"""(?P<k>[A-Za-z_][A-Za-z0-9_.]*)\s*=\s*"""
    r"""(?:'(?P<sq>[^']*)'|"(?P<dq>[^"]*)"|(?P<bare>\S+))"""
)


def parse_local_params(q: str) -> tuple[str, dict[str, str], str]:
    """Split ``{!type k=v ...}body`` -> (type, params, body).

    QueryParsing.parseLocalParams semantics subset: the first bare token is
    the parser type (sugar for ``type=...``), ``k=v`` pairs with optional
    single/double quoting, ``v=...`` overrides the trailing body.  A string
    with no local-params prefix is the default ``lucene`` type."""
    m = _LOCAL_RE.match(q)
    if not m:
        return "lucene", {}, q
    params = {
        pm.group("k"): (
            pm.group("sq")
            if pm.group("sq") is not None
            else pm.group("dq") if pm.group("dq") is not None else pm.group("bare")
        )
        for pm in _PARAM_RE.finditer(m.group("params") or "")
    }
    qtype = m.group("type") or params.pop("type", None) or "lucene"
    body = params.pop("v", None)
    if body is None:
        body = m.group("body").strip()
    return qtype, params, body


def _constant_hits(docids: DataFrame, boost: float) -> DataFrame:
    return docids.select("docid", F.lit(float(boost)).alias("score"))


def _is_docvalues_field(index: IndexTables, f: str | None) -> bool:
    """A string/numeric docvalues field = any non-internal docs column
    (TermQParserPlugin on a StrField matches the RAW stored value)."""
    internal = {"docid", "num_terms", "norm_byte", "dl_approx", "text"}
    return f is not None and f in index.docs.columns and f not in internal


def _resolve_field(index: IndexTables, f: str | None) -> str | None:
    """Validate the ``f`` local param: None or 'text' -> the indexed text
    field (postings path); a docvalues column -> itself; anything else is
    Solr's 'undefined field' error (SolrException in IndexSchema.getField) —
    never a silent fallback to text matching."""
    if f is None or f == "text":
        return None
    if _is_docvalues_field(index, f):
        return f
    raise ValueError(f"undefined field: {f!r}")


def _term_qparser(index, params, body, k, round_dp):
    """TermQParserPlugin.java:33-52: a single RAW term — no query-time
    analysis.  On a docvalues (string) field this is column equality; on the
    analyzed text field it matches the indexed term exactly."""
    f = _resolve_field(index, params.get("f"))
    boost = float(params.get("boost", 1.0))
    if f is not None:
        hits = index.docs.filter(F.col(f).cast("string") == body).select("docid")
    else:
        hits = (
            index.postings.filter(F.col("term") == body).select("docid").distinct()
        )
    return _topk(_constant_hits(hits, boost), k)


def _terms_qparser(index, params, body, k, round_dp):
    """TermsQParserPlugin: a comma-separated raw-value IN set (the
    ``termsFilter`` method — one set-membership filter, never a scoring
    boolean)."""
    f = _resolve_field(index, params.get("f"))
    sep = params.get("separator", ",")
    vals = [v.strip() for v in body.split(sep) if v.strip()]
    if not vals:
        return _empty(index)
    if f is not None:
        hits = index.docs.filter(F.col(f).cast("string").isin(vals)).select("docid")
    else:
        hits = (
            index.postings.filter(F.col("term").isin(vals)).select("docid").distinct()
        )
    return _topk(_constant_hits(hits, 1.0), k)


def _prefix_qparser(index, params, body, k, round_dp):
    """PrefixQParserPlugin.java:30-42: raw prefix on the indexed terms (or a
    docvalues column), constant-score rewrite — the semi-join path, never a
    driver-side expansion."""
    from lucene_solr_spark.search.bm25 import _matched_docset

    f = _resolve_field(index, params.get("f"))
    if f is not None:
        hits = index.docs.filter(
            F.col(f).cast("string").startswith(body)
        ).select("docid")
    else:
        hits = _matched_docset(index, PrefixQuery(body))
    return _topk(_constant_hits(hits, 1.0), k)


def _field_qparser(index, params, body, k, round_dp):
    """FieldQParserPlugin.java:33-44: analyze the body against the field —
    one term -> TermQuery, several -> exact PhraseQuery (the FieldType
    ``getFieldQuery`` path).  Only the indexed text field has an analysis
    chain on an IndexTables; per-field routing is the MultiFieldIndex layer
    (fields.search_parsed_fields), so any other ``f`` raises rather than
    silently querying the wrong field."""
    from lucene_solr_spark.analysis.analyzer import analyze_text
    from lucene_solr_spark.search.bm25 import search

    f = params.get("f")
    if f is not None and f != "text":
        raise ValueError(
            f"field qparser on an IndexTables targets the text field; "
            f"route {f!r} through fields.search_parsed_fields"
        )
    terms = analyze_text(body)
    if not terms:
        return _empty(index)
    q = (
        TermQuery(terms[0])
        if len(terms) == 1
        else PhraseQuery(tuple(terms), slop=0)
    )
    return search(index, q, k=k, round_dp=round_dp)


def _frange_qparser(index, params, body, k, round_dp, now_epoch_ms=None):
    """FunctionRangeQParserPlugin.java:38-65: ValueSourceRangeFilter over the
    compiled function query, wrapped constant-score
    (SolrConstantScoreQuery).  ``l``/``u`` bounds with ``incl``/``incu``
    inclusivity flags (both default true)."""
    from lucene_solr_spark.functions import parse_function_query

    col = parse_function_query(body, now_epoch_ms=now_epoch_ms)
    cond = F.lit(True)
    if "l" in params:
        lo = float(params["l"])
        incl = params.get("incl", "true").lower() != "false"
        cond = cond & (col >= lo if incl else col > lo)
    if "u" in params:
        hi = float(params["u"])
        incu = params.get("incu", "true").lower() != "false"
        cond = cond & (col <= hi if incu else col < hi)
    hits = index.docs.filter(cond).select("docid")
    return _topk(_constant_hits(hits, float(params.get("boost", 1.0))), k)


_PHRASE_BODY_RE = re.compile(r'^\s*"(?P<ph>[^"]*)"(?:~(?P<slop>\d+))?\s*$')


def _complexphrase_qparser(index, params, body, k, round_dp):
    """ComplexPhraseQParserPlugin.java:40-90: phrases whose words may be
    wildcard/prefix/fuzzy sub-queries — rewritten to an ordered SpanNearQuery
    whose clauses are SpanOr over the dictionary terms each sub-query matches
    (SpanMultiTermQueryWrapper), slop from the ``"..."~N`` suffix, ``inOrder``
    local param (default true, matching the plugin).  Expansion runs under the
    maxClauseCount guard, like the wrapped multi-term rewrite."""
    from lucene_solr_spark.analysis.analyzer import analyze_text
    from lucene_solr_spark.search.bm25 import (
        _expand_terms,
        search,
        span_near_topk,
    )

    m = _PHRASE_BODY_RE.match(body)
    if not m:
        # no quotes -> the plugin falls through to ordinary parsing
        return search(index, body, k=k, round_dp=round_dp)
    slop = int(m.group("slop") or 0)
    in_order = params.get("inOrder", "true").lower() != "false"
    clauses: list = []
    for word in m.group("ph").split():
        if "*" in word or "?" in word:
            w = word.lower()
            if w.endswith("*") and "*" not in w[:-1] and "?" not in w:
                expanded = _expand_terms(index, PrefixQuery(w[:-1]))
            else:
                expanded = _expand_terms(index, WildcardQuery(w))
            if not expanded:
                return _empty(index)  # an unmatchable position
            clauses.append(expanded)
        else:
            # a word may analyze to several tokens ('data-base' -> data,
            # base): each becomes its own chain position, like the classic
            # parser's multi-token phrase expansion
            clauses.extend(analyze_text(word))
    if not clauses:
        return _empty(index)
    if len(clauses) == 1:
        only = clauses[0]
        if isinstance(only, str):
            return search(index, TermQuery(only), k=k, round_dp=round_dp)
        from lucene_solr_spark.search.bm25 import span_or_topk

        return _topk(span_or_topk(index, only, round_dp=round_dp), k)
    out = span_near_topk(index, clauses, slop=slop, in_order=in_order, round_dp=round_dp)
    return _topk(out, k)


def _maxscore_qparser(index, params, body, k, round_dp):
    """MaxScoreQParser.java:43-77: parses like the lucene parser but wraps all
    SHOULD clauses in a DisjunctionMaxQuery with tie=0 (local param ``tie``
    overrides) — per-doc score = sum(MUST) + max(SHOULD) + tie*rest."""
    from lucene_solr_spark.search.bm25 import pivot_terms, term_scores
    from lucene_solr_spark.search.parser import CompositeQuery, parse_query

    tie = float(params.get("tie", 0.0))
    parsed = parse_query(body)
    if isinstance(parsed, TermQuery):
        parsed = BooleanQuery(should=(parsed,))
    if isinstance(parsed, CompositeQuery) or not isinstance(parsed, BooleanQuery):
        raise ValueError("maxscore supports plain term boolean queries")
    must = [t.term for t in parsed.must]
    should = [t.term for t in parsed.should]
    # per-clause ^boosts ride through like the lucene parser's (MaxScoreQParser
    # extends LuceneQParser and keeps clause boosts)
    boosts = {t.term: t.boost for t in (*parsed.must, *parsed.should)}
    terms = list(dict.fromkeys(must + should))
    if not terms:
        return _empty(index)
    per_doc = pivot_terms(term_scores(index, terms), terms)

    def _contrib(t: str):
        c = F.coalesce(F.col(f"_s{terms.index(t)}"), F.lit(0.0))
        return c * F.lit(boosts[t]) if boosts.get(t, 1.0) != 1.0 else c

    score = F.lit(0.0)
    for t in must:
        score = score + _contrib(t)
    if should:
        scols = [_contrib(t) for t in should]
        mx = F.greatest(*scols) if len(scols) > 1 else scols[0]
        score = score + mx
        if tie != 0.0:
            total = scols[0]
            for c in scols[1:]:
                total = total + c
            score = score + F.lit(tie) * (total - mx)
    out = per_doc.withColumn("score", score)
    for t in must:
        out = out.filter(F.col(f"_s{terms.index(t)}").isNotNull())
    if parsed.must_not:
        from lucene_solr_spark.search.bm25 import any_term_docset

        excl = any_term_docset(index, [t.term for t in parsed.must_not])
        out = out.join(excl, "docid", "left_anti")
    return _topk(
        out.select("docid", F.round("score", round_dp).alias("score")), k
    )


def _boost_qparser(index, params, body, k, round_dp, now_epoch_ms=None, req=None):
    """BoostQParserPlugin.java:42-62: BoostedQuery — the wrapped query's score
    multiplied by the compiled ``b`` function value, re-ranked AFTER the
    multiply (the function participates in ranking, unlike a static boost)."""
    from lucene_solr_spark.functions import parse_function_query
    from lucene_solr_spark.search.bm25 import _boolean_topk
    from lucene_solr_spark.search.parser import CompositeQuery, parse_query

    if "b" not in params:
        raise ValueError("boost qparser needs b=<function>")
    from lucene_solr_spark.functions.value_sources import resolve_query_sources

    subs: list = []
    bcol = parse_function_query(
        params["b"], now_epoch_ms=now_epoch_ms, index=index,
        params={**(req or {}), **params}, subqueries=subs,
    )
    parsed = parse_query(body)
    if isinstance(parsed, TermQuery):
        parsed = BooleanQuery(should=(parsed,))
    if isinstance(parsed, CompositeQuery) or not isinstance(parsed, BooleanQuery):
        raise ValueError("boost qparser supports plain term boolean bodies")
    # UNLIMITED scored set: top-k only after the multiply re-ranks.
    # BoostedQuery multiplies RAW scores — keep the inner set at high
    # precision (round_dp=10, like edismax part_scores) and round exactly
    # once after the multiply, else near-ties can flip post-multiply rank.
    scored = _boolean_topk(index, parsed, k, 10)
    base = resolve_query_sources(
        scored.join(index.docs, "docid"), index, subs, round_dp=round_dp
    )
    joined = base.select(
        "docid", F.round(F.col("score") * bcol, round_dp).alias("score")
    )
    return _topk(joined, k)


def _func_qparser(index, params, body, k, round_dp, now_epoch_ms=None, req=None):
    """FunctionQParserPlugin.java:32-42 (FunctionQuery): every doc scores
    the compiled function value — a pure Catalyst projection over the
    docvalues columns, TakeOrderedAndProject top-k.  query($q) value
    sources resolve as docid left-joins against the subquery's scored set
    (QueryValueSource; functions/value_sources.resolve_query_sources)."""
    from lucene_solr_spark.functions import parse_function_query
    from lucene_solr_spark.functions.value_sources import resolve_query_sources

    subs: list = []
    col = parse_function_query(
        body, now_epoch_ms=now_epoch_ms, index=index,
        params={**(req or {}), **params}, subqueries=subs,
    )
    base = resolve_query_sources(index.docs, index, subs, round_dp=round_dp)
    out = base.select(
        "docid", F.round(col.cast("double"), round_dp).alias("score")
    )
    return _topk(out, k)


def _lucene_plus_sort_qparser(index, params, body, k, round_dp):
    """OldLuceneQParserPlugin.java (lucenePlusSort): the deprecated
    'query; sort' syntax — body splits at the last ';' into a classic-grammar
    query and a sort spec applied to the result emission order."""
    from lucene_solr_spark.handler import _parse_sort
    from lucene_solr_spark.search.bm25 import search_parsed

    # split at the LAST ';' outside double quotes — a ';' inside a quoted
    # phrase (title:"a;b") is query text, not the sort separator
    split_at = -1
    in_quotes = False
    for i, ch in enumerate(body):
        if ch == '"' and (i == 0 or body[i - 1] != "\\"):
            in_quotes = not in_quotes
        elif ch == ";" and not in_quotes:
            split_at = i
    if split_at < 0:
        qstr, sortspec = "", body
    else:
        qstr, sortspec = body[:split_at], body[split_at + 1:]
    if not qstr.strip():  # no ';' -> plain lucene behavior
        return search_parsed(index, body, k=k, round_dp=round_dp)
    # the explicit sort spec overrides score order, so take the UNSORTED
    # scored set (ordered=False) — no wasted global score sort first
    scored = search_parsed(
        index, qstr.strip(), k=(1 << 31) - 1, round_dp=round_dp, ordered=False
    )
    order, needs = _parse_sort(sortspec.strip() or None)
    need_cols = [c for c in dict.fromkeys(needs) if c in index.docs.columns]
    if need_cols:
        scored = scored.join(index.docs.select("docid", *need_cols), "docid")
    return scored.orderBy(*order).select("docid", "score").limit(k)


def _parse_qf(spec: str) -> dict[str, float]:
    """DisMaxQParser ``qf`` spec: 'field^boost field ...' -> {field: boost}
    (SolrPluginUtils.parseFieldBoosts)."""
    out: dict[str, float] = {}
    for part in str(spec).split():
        name, _, b = part.partition("^")
        out[name] = float(b) if b else 1.0
    if not out:
        raise ValueError("dismax/edismax need qf=<field^boost ...>")
    return out


def _require_multifield(index, name: str):
    if not hasattr(index, "fields"):
        raise ValueError(
            f"{{!{name}}} needs a MultiFieldIndex (per-field postings); "
            "got a single-field IndexTables"
        )


def _dismax_qparser(index, params, body, k, round_dp):
    """DisMaxQParserPlugin.java / DisMaxQParser.java:113-150: user query
    terms scored per field, folded max + tie*rest across qf fields, with
    mm over the SHOULD clauses."""
    from lucene_solr_spark.index.fields import dismax_fields

    _require_multifield(index, "dismax")
    qf = _parse_qf(params.get("qf", ""))
    terms = [t for t in body.split() if t]
    return dismax_fields(
        index, terms, qf, tie=float(params.get("tie", 0.0)), k=k,
        round_dp=round_dp,
    )


def _edismax_qparser(index, params, body, k, round_dp, now_epoch_ms=None):
    """ExtendedDismaxQParserPlugin: dismax + mm spec + pf/ps phrase boost."""
    from lucene_solr_spark.index.fields import edismax_fields

    _require_multifield(index, "edismax")
    qf = _parse_qf(params.get("qf", ""))
    pf = _parse_qf(params["pf"]) if params.get("pf") else None
    terms = [t for t in body.split() if t]
    return edismax_fields(
        index, terms, qf, pf=pf, tie=float(params.get("tie", 0.0)),
        mm=str(params.get("mm", "0%")), ps=int(params.get("ps", 0)),
        k=k, round_dp=round_dp, now_epoch_ms=now_epoch_ms,
    )


def _rerank_qparser(index, params, body, k, round_dp):
    """ReRankQParserPlugin.java: the top reRankDocs of the main query are
    re-scored main + reRankWeight * rerank-query score (the rest of the
    window keeps its main score)."""
    from lucene_solr_spark.search.bm25 import rerank
    from lucene_solr_spark.search.parser import CompositeQuery, parse_query

    if "reRankQuery" not in params:
        raise ValueError("rerank qparser needs reRankQuery=<query>")

    def _terms_of(s: str) -> list[str]:
        parsed = parse_query(s)
        if isinstance(parsed, TermQuery):
            return [parsed.term]
        if isinstance(parsed, CompositeQuery) or not isinstance(
            parsed, BooleanQuery
        ):
            raise ValueError("rerank supports plain term boolean queries")
        return [t.term for t in (*parsed.must, *parsed.should)]

    out = rerank(
        index,
        _terms_of(body),
        _terms_of(params["reRankQuery"]),
        rerank_weight=float(params.get("reRankWeight", 2.0)),
        window=int(params.get("reRankDocs", 200)),
        k=k,
        round_dp=round_dp,
    )
    return out.select("docid", F.col("rerank_score").alias("score"))


def _match_docset_for_string(index: IndexTables, body: str) -> DataFrame:
    """Unscored DocSet for a sub-query string: the filter-only execution a
    joining/filtering parser needs (SolrIndexSearcher.getDocSet analog).
    Supports term / boolean / multi-term bodies."""
    from lucene_solr_spark.search.bm25 import _matched_docset
    from lucene_solr_spark.search.parser import CompositeQuery, parse_query
    from lucene_solr_spark.search.query import (
        FuzzyQuery,
        RangeQuery,
        RegexpQuery,
    )

    from lucene_solr_spark.search.bm25 import any_term_docset

    parsed = parse_query(body)
    if isinstance(parsed, TermQuery):
        parsed = BooleanQuery(should=(parsed,))
    if isinstance(
        parsed, (PrefixQuery, WildcardQuery, RegexpQuery, FuzzyQuery, RangeQuery)
    ):
        return _matched_docset(index, parsed)
    if isinstance(parsed, CompositeQuery) or not isinstance(parsed, BooleanQuery):
        raise ValueError("join sub-query supports term/boolean/multi-term bodies")
    out = None
    if parsed.must:
        terms = [t.term for t in parsed.must]
        out = (
            index.postings.filter(F.col("term").isin(terms))
            .groupBy("docid")
            .agg(F.count_distinct("term").alias("_nt"))
            .filter(F.col("_nt") == len(set(terms)))
            .select("docid")
        )
    elif parsed.should:
        out = any_term_docset(index, [t.term for t in parsed.should])
    if out is None:
        raise ValueError("join sub-query needs >= 1 positive clause")
    if parsed.must_not:
        out = out.join(
            any_term_docset(index, [t.term for t in parsed.must_not]),
            "docid",
            "left_anti",
        )
    return out


def _join_qparser(index, params, body, k, round_dp):
    """JoinQParserPlugin.java:61,106-122: ``{!join from=f to=t}subquery`` —
    docs whose ``to``-field value appears among the ``from``-field values of
    docs matching the sub-query.  Constant score (the 4.x JoinQParser joins
    without scores); the distinct from-value set broadcasts, so the docs
    table is filtered map-side — no shuffle of the big side."""
    f_from, f_to = params.get("from"), params.get("to")
    if not f_from or not f_to:
        raise ValueError("join qparser needs from= and to=")
    for f in (f_from, f_to):
        if f not in index.docs.columns:
            raise ValueError(f"join field not in docs: {f!r}")
    matched = _match_docset_for_string(index, body)
    vals = (
        index.docs.join(matched, "docid")
        .select(F.col(f_from).alias("_v"))
        .distinct()
    )
    hits = index.docs.join(
        F.broadcast(vals), index.docs[f_to] == F.col("_v"), "left_semi"
    ).select("docid")
    return _topk(_constant_hits(hits, 1.0), k)


_SURROUND_RE = re.compile(
    r"^\s*(?P<dist>\d*)\s*(?P<op>[wnWN])\s*\(\s*(?P<args>[^)]*)\)\s*$"
)


def _surround_qparser(index, params, body, k, round_dp):
    """SurroundQParserPlugin.java:40-75 -> the surround prefix grammar
    (lucene/queryparser/.../surround/): ``Nw(a, b, ...)`` / ``Nn(a, b, ...)``
    distance operators rewrite to SpanNearQuery(clauses, opDistance - 1,
    ordered = W) — DistanceQuery.java:100.  Truncated operands (trailing
    ``*``) become a SpanOr over their dictionary expansion
    (SpanNearClauseFactory.java:30-36, SrndTruncQuery), under the
    maxClauseCount guard (BasicQueryFactory's maxBasicQueries analog)."""
    from lucene_solr_spark.analysis.analyzer import analyze_text
    from lucene_solr_spark.search.bm25 import _expand_terms, span_near_topk

    m = _SURROUND_RE.match(body)
    if not m:
        raise ValueError(
            f"surround: expected Nw(...)/Nn(...) prefix form, got {body!r}"
        )
    dist = int(m.group("dist") or 1)
    ordered = m.group("op").lower() == "w"
    clauses: list = []
    for raw in m.group("args").split(","):
        w = raw.strip().lower()
        if not w:
            continue
        if w.endswith("*") and "*" not in w[:-1]:
            expanded = _expand_terms(index, PrefixQuery(w[:-1]))
            if not expanded:
                return _empty(index)
            clauses.append(expanded)
        else:
            # multi-token operands contribute one chain position per token
            clauses.extend(analyze_text(w))
    if len(clauses) < 2:
        raise ValueError("surround distance op needs >= 2 operands")
    out = span_near_topk(
        index, clauses, slop=max(dist - 1, 0), in_order=ordered, round_dp=round_dp
    )
    return _topk(out, k)


def _empty(index: IndexTables) -> DataFrame:
    return index.postings.sparkSession.createDataFrame(
        [], "docid long, score double"
    )


def _deref(value: str, req: dict[str, str] | None) -> str:
    """Parameter dereferencing (QParser.java subQuery / DefaultSolrParams):
    a local-param value of the form ``$name`` resolves against the request
    params; a missing reference is Solr's 'missing parameter' error."""
    if value.startswith("$"):
        name = value[1:]
        if req is None or name not in req:
            raise ValueError(f"undefined request param: ${name}")
        return req[name]
    return value


def _nested_qparser(index, params, body, k, round_dp, req, now_epoch_ms):
    """NestedQParserPlugin.java:30-62 ({!query}): delegates to the query
    named by its (dereferenced) ``v``/body — the fq-templating front door
    (``fq={!query v=$nq}`` with ``nq`` supplied per request)."""
    sub = _deref(body, req)
    if not sub:
        raise ValueError("{!query} needs a sub-query (v= or body)")
    return qparser_search(
        index, sub, k=k, round_dp=round_dp, req=req, now_epoch_ms=now_epoch_ms
    )


def _switch_qparser(index, params, body, k, round_dp, req, now_epoch_ms):
    """SwitchQParserPlugin.java:105-145: the trimmed input selects
    ``case.<input>`` (empty input -> ``case``), else ``default``; the chosen
    param value is parsed as the delegate query."""
    key = _deref(body, req).strip() if body else ""
    if key == "":
        chosen = params.get("case")
    else:
        chosen = params.get(f"case.{key}")
    if chosen is None:
        chosen = params.get("default")
    if chosen is None:
        raise ValueError(f"switch: no case matching {key!r} and no default")
    return qparser_search(
        index, _deref(chosen, req), k=k, round_dp=round_dp, req=req,
        now_epoch_ms=now_epoch_ms,
    )


def _raw_qparser(index, params, body, k, round_dp):
    """RawQParserPlugin.java:34-49: TermQuery on the LITERAL body — no
    analysis, no field-type readableToIndexed conversion (the difference
    from {!term}, which converts human-readable forms for typed fields).
    Matches Solr in requiring ``f``."""
    if "f" not in params:
        raise ValueError("raw qparser needs f=<field>")
    f = _resolve_field(index, params["f"])
    if f is not None:
        hits = index.docs.filter(F.col(f) == F.lit(body)).select("docid")
    else:
        hits = (
            index.postings.filter(F.col("term") == body).select("docid").distinct()
        )
    return _topk(_constant_hits(hits, 1.0), k)


_SIMPLE_SPECIALS = re.compile(r'[+|](?=(?:[^"]*"[^"]*")*[^"]*$)')


def _simple_qparser(index, params, body, k, round_dp):
    """SimpleQParserPlugin.java:60-90 (Lucene SimpleQueryParser): the
    never-throws end-user grammar.  Supported subset: whitespace-separated
    clauses under ``q.op`` (default OR), ``-`` negation, quoted phrases
    (with ``~N`` slop), trailing-``*`` prefix, ``~N`` fuzzy — each of which
    the classic grammar shares, so execution routes through search_parsed.
    The infix ``+``/``|`` operators normalize to the default operator
    (documented subset of the operator-precedence parser).  True to the
    plugin's contract, a body the grammar rejects degrades to literal terms
    instead of erroring."""
    from lucene_solr_spark.analysis.analyzer import analyze_text
    from lucene_solr_spark.search.bm25 import search_parsed

    default_op = params.get("q.op", "OR").upper()
    normalized = _SIMPLE_SPECIALS.sub(" ", body)
    try:
        return search_parsed(
            index, normalized, k=k, default_op=default_op, round_dp=round_dp
        )
    except ValueError:
        toks = analyze_text(body)
        if not toks:
            return _empty(index)
        bq = (
            BooleanQuery.of(must=toks)
            if default_op == "AND"
            else BooleanQuery.of(should=toks)
        )
        from lucene_solr_spark.search.bm25 import _boolean_topk

        return _topk(_boolean_topk(index, bq, k, round_dp), k)


def _parent_key_col(index: IndexTables, params: dict) -> str:
    key = params.get("key", "_parent_docid")
    if key not in index.docs.columns:
        raise ValueError(f"block-join key column not in docs: {key!r}")
    return key


def _parent_qparser(index, params, body, k, round_dp):
    """BlockJoinParentQParserPlugin ({!parent which=...}childq, solr/core/
    .../search/join/BlockJoinParentQParserPlugin.java): children matching
    the body roll up to their parents.  The anonymous-children block
    structure maps to a ``key`` docvalues column holding each child's
    parent docid (null on parents) — the ``which`` parent-filter is implied
    by that column; ``score`` picks the ToParentBlockJoinQuery ScoreMode."""
    from lucene_solr_spark.search.bm25 import _boolean_topk, to_parent_block_join
    from lucene_solr_spark.search.parser import CompositeQuery, parse_query

    key = _parent_key_col(index, params)
    mode = params.get("score", "max").lower()
    parsed = parse_query(body)
    if isinstance(parsed, TermQuery):
        parsed = BooleanQuery(should=(parsed,))
    if isinstance(parsed, CompositeQuery) or not isinstance(parsed, BooleanQuery):
        raise ValueError("{!parent} supports term/boolean child bodies")
    children = _boolean_topk(index, parsed, k, 10).join(
        index.docs.select("docid", key), "docid"
    ).filter(F.col(key).isNotNull())
    rolled = to_parent_block_join(
        children.select(F.col(key).alias("_parent"), "score"),
        "_parent",
        mode,
        round_dp,
    )
    return _topk(rolled.select(F.col("_parent").alias("docid"), "score"), k)


def _child_qparser(index, params, body, k, round_dp):
    """BlockJoinChildQParserPlugin ({!child of=...}parentq): parents
    matching the body fan out to their children (ToChildBlockJoinQuery —
    children score with the parent's score)."""
    from lucene_solr_spark.search.bm25 import _boolean_topk
    from lucene_solr_spark.search.parser import CompositeQuery, parse_query

    key = _parent_key_col(index, params)
    parsed = parse_query(body)
    if isinstance(parsed, TermQuery):
        parsed = BooleanQuery(should=(parsed,))
    if isinstance(parsed, CompositeQuery) or not isinstance(parsed, BooleanQuery):
        raise ValueError("{!child} supports term/boolean parent bodies")
    parents = _boolean_topk(index, parsed, k, round_dp)
    kids = index.docs.filter(F.col(key).isNotNull()).select(
        "docid", F.col(key).alias("_parent")
    )
    out = kids.join(
        parents.select(F.col("docid").alias("_parent"), "score"), "_parent"
    ).select("docid", "score")
    return _topk(out, k)


def _geofilt_qparser(index, params, body, k, round_dp, box_only: bool = False):
    """SpatialFilterQParserPlugin ({!geofilt} / {!bbox}, solr/core/.../search/
    SpatialFilterQParser.java:49-91): sfield/pt/d local params over a
    LatLonType point field (two ``{sfield}_N_coordinate`` docs columns).
    ``score`` picks the SpatialDistanceQuery mode (none/distance/kilometers/
    recipDistance)."""
    from lucene_solr_spark.search.spatial import bbox_docset, geofilt_topk

    sfield = params.get("sfield")
    if sfield is None:
        raise ValueError("{!geofilt}/{!bbox} require sfield")
    lat_c = f"{sfield}_0_coordinate"
    if lat_c not in index.docs.columns:
        raise ValueError(f"undefined spatial field: {sfield!r}")
    pt, d = params["pt"], float(params["d"])
    boost = float(params.get("boost", 1.0))
    if box_only:
        hits = bbox_docset(index.docs, sfield, pt, d)
        return _topk(_constant_hits(hits, boost), k)
    return geofilt_topk(
        index.docs, sfield, pt, d, k=k,
        score=params.get("score", "none"), boost=boost, round_dp=round_dp,
    )


def qparser_search(
    index: IndexTables,
    q: str,
    k: int = 10,
    round_dp: int = 4,
    now_epoch_ms: int | None = None,
    req: dict[str, str] | None = None,
) -> DataFrame:
    """The QParser.getParser front door: dispatch a ``{!type ...}body`` query
    string to its plugin and return the standard (docid, score) top-k.

    ``req``: request params for ``$name`` dereferencing (fq templating —
    {!query v=$nq}, switch cases, any local-param value)."""
    qtype, params, body = parse_local_params(q)
    params = {pk: _deref(pv, req) for pk, pv in params.items()}
    if body.startswith("$"):  # a v=$name merged into the body by the parser
        body = _deref(body, req)
    if qtype == "query":
        return _nested_qparser(index, params, body, k, round_dp, req, now_epoch_ms)
    if qtype == "switch":
        return _switch_qparser(index, params, body, k, round_dp, req, now_epoch_ms)
    if qtype == "raw":
        return _raw_qparser(index, params, body, k, round_dp)
    if qtype == "simple":
        return _simple_qparser(index, params, body, k, round_dp)
    if qtype == "parent":
        return _parent_qparser(index, params, body, k, round_dp)
    if qtype == "child":
        return _child_qparser(index, params, body, k, round_dp)
    if qtype == "lucene":
        from lucene_solr_spark.search.bm25 import search_parsed

        return search_parsed(index, body, k=k, round_dp=round_dp)
    if qtype in ("lucenePlusSort", "old"):
        # "old" = OldLuceneQParserPlugin (LuceneQParserPlugin.java:50-79):
        # the legacy query;sort front door — same parser, legacy name.
        # With this alias every one of QParserPlugin.standardPlugins'
        # 27 names resolves (collapse executes as the PostFilter,
        # xport as the /export handler, exactly as in Solr).
        return _lucene_plus_sort_qparser(index, params, body, k, round_dp)
    if qtype == "func":
        return _func_qparser(
            index, params, body, k, round_dp, now_epoch_ms=now_epoch_ms,
            req=req,
        )
    if qtype == "dismax":
        return _dismax_qparser(index, params, body, k, round_dp)
    if qtype == "edismax":
        return _edismax_qparser(
            index, params, body, k, round_dp, now_epoch_ms=now_epoch_ms
        )
    if qtype == "rerank":
        return _rerank_qparser(index, params, body, k, round_dp)
    if qtype == "term":
        return _term_qparser(index, params, body, k, round_dp)
    if qtype == "terms":
        return _terms_qparser(index, params, body, k, round_dp)
    if qtype == "prefix":
        return _prefix_qparser(index, params, body, k, round_dp)
    if qtype == "field":
        return _field_qparser(index, params, body, k, round_dp)
    if qtype == "frange":
        return _frange_qparser(
            index, params, body, k, round_dp, now_epoch_ms=now_epoch_ms
        )
    if qtype == "complexphrase":
        return _complexphrase_qparser(index, params, body, k, round_dp)
    if qtype == "maxscore":
        return _maxscore_qparser(index, params, body, k, round_dp)
    if qtype == "surround":
        return _surround_qparser(index, params, body, k, round_dp)
    if qtype == "join":
        return _join_qparser(index, params, body, k, round_dp)
    if qtype == "geofilt":
        return _geofilt_qparser(index, params, body, k, round_dp)
    if qtype == "bbox":
        return _geofilt_qparser(index, params, body, k, round_dp, box_only=True)
    if qtype == "boost":
        return _boost_qparser(
            index, params, body, k, round_dp, now_epoch_ms=now_epoch_ms,
            req=req,
        )
    raise ValueError(f"unknown qparser type: {qtype!r}")
