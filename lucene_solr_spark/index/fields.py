"""Multi-field schema layer: per-field inverted indexes + field-aware search.

The reference's schema surface (solr/core/src/java/org/apache/solr/schema/
IndexSchema.java:79-149 — named fields, each with its own analyzed postings,
norms, and per-field statistics; lucene/core FieldInfo.java) re-expressed
Spark-first: every field is its own IndexTables (postings/segments/positions
DataFrames share the docid space, norms and avgdl are computed per field as
in BM25Similarity's per-field CollectionStatistics).  At storage scale the
per-field tables are one physical table partitioned by a ``field`` column;
here each field keeps its own lineage through the existing single-field
builder so all kernels (Catalyst scoring, WAND, phrase) work unchanged
against any field.

Query-side surface:
- ``search_fields`` — BooleanQuery whose TermQuery clauses carry field tags
  (the classic grammar's ``field:term`` production,
  QueryParserBase.java:486-858).
- ``dismax_fields`` — Solr DisMax ``qf`` semantics (DisMaxQParser.java:
  createQuery + DisjunctionMaxQuery.java:45-59): per user term, the score is
  the max over per-field scores (each weighted by the field boost) plus
  ``tie`` times the sum of the non-max fields; term scores sum.
- ``search_parsed_fields`` — the QParser front door over a MultiFieldIndex:
  field-tagged terms, phrases, and multi-term clauses compose with the same
  boolean-of-subqueries semantics as bm25.search_parsed.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_solr_spark.index.builder import IndexTables, build_index
from lucene_solr_spark.search.query import (
    BooleanQuery,
    FuzzyQuery,
    PhraseQuery,
    PrefixQuery,
    RangeQuery,
    RegexpQuery,
    WildcardQuery,
)

_MULTITERM = (PrefixQuery, WildcardQuery, RegexpQuery, FuzzyQuery, RangeQuery)


@dataclass
class MultiFieldIndex:
    """A schema: named fields, each an IndexTables over the same docids."""

    fields: dict[str, IndexTables]
    default_field: str

    def of(self, name: str | None = None) -> IndexTables:
        fname = name or self.default_field
        if fname not in self.fields:
            raise KeyError(
                f"unknown field {fname!r}; schema fields: {sorted(self.fields)}"
            )
        return self.fields[fname]

    @property
    def docs(self) -> DataFrame:
        return self.fields[self.default_field].docs


def build_multifield_index(
    spark: SparkSession,
    source: DataFrame,
    key_col: str,
    field_exprs: dict[str, Column | str],
    default_field: str,
    docid_col: str | None = None,
    num_index_partitions: int = 32,
    passthrough_cols: tuple[str, ...] = (),
    persist: bool = True,
    build_positions: bool = False,
) -> MultiFieldIndex:
    """Build one index per named field.  ``field_exprs`` maps field name to
    the source column (or Column expression) holding that field's text —
    e.g. ``{"body": "text", "title": F.substring("text", 1, 40)}``.
    Requires ``docid_col`` (or a deterministic key) so every field addresses
    the same docid space."""
    out: dict[str, IndexTables] = {}
    for fname, expr in field_exprs.items():
        col = F.col(expr) if isinstance(expr, str) else expr
        src = source.withColumn(f"_field_{fname}", col)
        out[fname] = build_index(
            spark,
            src,
            key_col=key_col,
            text_col=f"_field_{fname}",
            docid_col=docid_col,
            num_index_partitions=num_index_partitions,
            passthrough_cols=passthrough_cols if fname == default_field else (),
            persist=persist,
            build_positions=build_positions,
        )
    if default_field not in out:
        raise ValueError(f"default_field {default_field!r} not in {sorted(out)}")
    return MultiFieldIndex(out, default_field)


def _clause_frames(
    mfi: MultiFieldIndex, must: tuple, should: tuple
) -> tuple[list[DataFrame], list[tuple[str, bool, float]]]:
    """(one pivoted docid frame per FIELD, boolean_combine clauses) for
    field-tagged term clauses, deduplicated on (field, term): one scoring
    clause per distinct term, required if ANY occurrence is MUST, last
    occurrence's boost wins (bm25._boolean_topk's boosts dict)."""
    from lucene_solr_spark.search.bm25 import pivot_terms, term_scores

    info: dict[tuple[str, str], tuple[bool, float]] = {}
    for i, t in enumerate((*must, *should)):
        key = (t.field or mfi.default_field, t.term)
        req = key in info and info[key][0]
        info[key] = (req or i < len(must), t.boost)
    by_field: dict[str, list[str]] = {}
    for fname, term in info:
        by_field.setdefault(fname, []).append(term)
    frames, col = [], {}
    for fi, (fname, terms) in enumerate(by_field.items()):
        frames.append(pivot_terms(
            term_scores(mfi.of(fname), terms), terms, prefix=f"_f{fi}c"
        ))
        col.update({(fname, t): f"_f{fi}c{j}" for j, t in enumerate(terms)})
    # clause (= fold) order is first occurrence across fields
    return frames, [(col[key], *v) for key, v in info.items()]


def _must_not_docsets(mfi: MultiFieldIndex, must_not) -> list[DataFrame]:
    """One MUST_NOT docid frame per (field-routed) excluded term clause."""
    from lucene_solr_spark.search.bm25 import _term_docids

    return [_term_docids(mfi.of(t.field), [t.term]) for t in must_not]


def search_fields(
    mfi: MultiFieldIndex,
    q: BooleanQuery,
    k: int = 10,
    round_dp: int = 4,
) -> DataFrame:
    """Field-aware boolean top-k: TermQuery clauses may carry ``field`` tags;
    scoring/filter semantics are bm25._boolean_topk's (per-(field,term)
    dedup, fixed-order addition, MUST/mm/MUST_NOT on the composed set,
    round-then-order, docid ties)."""
    from lucene_solr_spark.search.bm25 import _topk, boolean_combine

    if not (q.must or q.should):
        raise ValueError("BooleanQuery needs at least one scoring clause")
    frames, clauses = _clause_frames(mfi, q.must, q.should)
    out = boolean_combine(
        frames, clauses, q.minimum_should_match,
        _must_not_docsets(mfi, q.must_not), round_dp,
    )
    return _topk(out, k)


def parse_qf(qf: str) -> dict[str, float]:
    """Parse a Solr ``qf`` parameter string — 'title^2 body^0.5 text' —
    into {field: boost} (DisMaxQParser.parseQueryFields ->
    SolrPluginUtils.parseFieldBoosts)."""
    out: dict[str, float] = {}
    for part in qf.split():
        if "^" in part:
            f, b = part.split("^", 1)
            out[f] = float(b)
        else:
            out[part] = 1.0
    if not out:
        raise ValueError("empty qf")
    return out


def dismax_fields(
    mfi: MultiFieldIndex,
    terms: list[str],
    qf: dict[str, float],
    tie: float = 0.0,
    k: int = 10,
    round_dp: int = 4,
) -> DataFrame:
    """Solr DisMax over real fields (DisMaxQParser ``qf``): per user term,
    score = max over fields of (field_boost * field_score) + tie * (sum of
    the others); per-doc total = fixed-order sum of term scores."""
    from lucene_solr_spark.search.bm25 import _topk, pivot_terms, term_scores

    fields = list(qf.items())
    acc = reduce(lambda a, b: a.join(b, "docid", "full"), [
        pivot_terms(term_scores(mfi.of(fname), terms), terms, prefix=f"_f{fi}t")
        for fi, (fname, _boost) in enumerate(fields)
    ])

    total = F.lit(0.0)
    for ti in range(len(terms)):
        parts = [
            F.coalesce(F.col(f"_f{fi}t{ti}"), F.lit(0.0)) * F.lit(boost)
            for fi, (_f, boost) in enumerate(fields)
        ]
        mx = F.greatest(*parts) if len(parts) > 1 else parts[0]
        sm = parts[0]
        for p in parts[1:]:
            sm = sm + p
        total = total + (mx + F.lit(tie) * (sm - mx))
    return _topk(acc.select("docid", F.round(total, round_dp).alias("score")), k)


def calculate_min_should_match(optional_count: int, spec: str) -> int:
    """SolrPluginUtils.calculateMinShouldMatch (solr/core/src/java/org/
    apache/solr/util/SolrPluginUtils.java): supports absolute ('3'),
    negative ('-2' = all but 2), percentage ('75%'), negative percentage
    ('-25%' = all but 25%), and space-separated conditional 'n<spec' forms
    (ascending n; counts <= n require all clauses)."""
    result = optional_count
    spec = spec.strip()
    if "<" in spec:
        for s in spec.split(" "):
            upper, _, sub = s.partition("<")
            if optional_count <= int(upper):
                return result
            result = calculate_min_should_match(optional_count, sub)
        return result
    if "%" in spec:
        pct = int(spec[: spec.index("%")])
        calc = (result * pct) / 100.0
        result = result + int(calc) if calc < 0 else int(calc)
    else:
        calc = int(spec)
        result = result + calc if calc < 0 else calc
    return min(optional_count, max(result, 0))


def edismax_fields(
    mfi: MultiFieldIndex,
    terms: list[str],
    qf: dict[str, float],
    pf: dict[str, float] | None = None,
    tie: float = 0.0,
    mm: str = "0%",
    ps: int = 0,
    k: int = 10,
    round_dp: int = 4,
    bq: list[tuple[str, str, float]] | None = None,
    bf: list[str] | None = None,
    now_epoch_ms: int | None = None,
) -> DataFrame:
    """ExtendedDismaxQParser subset (solr/core/src/java/org/apache/solr/
    search/ExtendedDisMaxQParserPlugin.java / ExtendedDismaxQParser):

    - main query: one DisMax clause per user term over the ``qf`` fields
      (score = max over fields of boost*field_score + tie*rest), with
      ``mm`` applied ACROSS the per-term clauses
      (DisMaxQParser.addMainQuery -> SolrPluginUtils.setMinShouldMatch) —
      the main query as a unit is REQUIRED;
    - phrase boost: each ``pf`` field adds an optional phrase query over ALL
      user terms with slop ``ps`` (addShingledPhraseQueries pf/ps); its
      boosted score is ADDED to docs already matching the main query
      (Occur.SHOULD — it never admits new docs);
    - ``bq`` boost queries, as (field, term, boost) triples, and ``bf``
      boost-function strings (compiled by the function-query registry) are
      additive SHOULD clauses on the outer query (DisMaxQParser.java:113-150:
      addBoostQuery / addBoostFunctions) — like pf, they re-rank docs the
      required main query already matched, never admit new ones.
    """
    from lucene_solr_spark.search.bm25 import (
        _phrase_topk,
        _sloppy_dispatch,
        _topk,
        pivot_terms,
        term_scores,
    )

    fields = list(qf.items())
    acc = reduce(lambda a, b: a.join(b, "docid", "full"), [
        pivot_terms(term_scores(mfi.of(fname), terms), terms, prefix=f"_f{fi}t")
        for fi, (fname, _boost) in enumerate(fields)
    ])

    total = F.lit(0.0)
    matched_terms = F.lit(0)
    for ti in range(len(terms)):
        raw = [F.col(f"_f{fi}t{ti}") for fi in range(len(fields))]
        parts = [
            F.coalesce(c, F.lit(0.0)) * F.lit(boost)
            for c, (_f, boost) in zip(raw, fields)
        ]
        mx = F.greatest(*parts) if len(parts) > 1 else parts[0]
        sm = parts[0]
        for p in parts[1:]:
            sm = sm + p
        total = total + (mx + F.lit(tie) * (sm - mx))
        any_field = raw[0].isNotNull()
        for c in raw[1:]:
            any_field = any_field | c.isNotNull()
        matched_terms = matched_terms + any_field.cast("int")

    mm_n = calculate_min_should_match(len(terms), mm)
    out = acc.withColumn("_main", total).filter(matched_terms >= max(mm_n, 1))

    for fname, boost in (pf or {}).items():
        idx = mfi.of(fname)
        pq = PhraseQuery(tuple(terms), slop=ps)
        fn = _sloppy_dispatch if ps > 0 else _phrase_topk
        ph = fn(idx, pq, round_dp=10).withColumnRenamed("score", "_ph")
        out = out.join(ph, "docid", "left")
        out = out.withColumn(
            "_main",
            F.col("_main") + F.coalesce(F.col("_ph"), F.lit(0.0)) * F.lit(boost),
        ).drop("_ph")

    for fname, bterm, boost in bq or []:
        idx = mfi.of(fname)
        bqs = term_scores(idx, [bterm]).select(
            "docid", F.col("score").alias("_bq")
        )
        out = out.join(bqs, "docid", "left")
        out = out.withColumn(
            "_main",
            F.col("_main") + F.coalesce(F.col("_bq"), F.lit(0.0)) * F.lit(boost),
        ).drop("_bq")

    if bf:
        from lucene_solr_spark.functions import parse_function_query

        fcols = [
            parse_function_query(expr, now_epoch_ms=now_epoch_ms).alias(f"_bf{i}")
            for i, expr in enumerate(bf)
        ]
        fvals = mfi.docs.select("docid", *fcols)
        out = out.join(fvals, "docid", "left")
        for i in range(len(bf)):
            out = out.withColumn(
                "_main",
                F.col("_main") + F.coalesce(F.col(f"_bf{i}"), F.lit(0.0)),
            ).drop(f"_bf{i}")

    return _topk(out.select("docid", F.round("_main", round_dp).alias("score")), k)


def search_parsed_fields(
    mfi: MultiFieldIndex,
    query_string: str,
    k: int = 10,
    default_op: str = "OR",
    round_dp: int = 4,
) -> DataFrame:
    """QParser front door over a schema: parse then execute with field
    routing.  Terms/phrases/multi-term clauses tagged ``field:`` run against
    that field's index; untagged clauses use the default field."""
    from lucene_solr_spark.search.bm25 import (
        _matched_docset,
        _phrase_topk,
        _sloppy_dispatch,
        _topk,
        boolean_combine,
    )
    from lucene_solr_spark.search.parser import CompositeQuery, parse_query

    parsed = parse_query(query_string, default_op=default_op)
    spark = mfi.docs.sparkSession

    def empty() -> DataFrame:
        return spark.createDataFrame([], "docid long, score double")

    if isinstance(parsed, BooleanQuery):
        if not (parsed.must or parsed.should):
            return empty()
        return search_fields(mfi, parsed, k=k, round_dp=round_dp)
    if isinstance(parsed, PhraseQuery):
        idx = mfi.of(parsed.field)
        fn = _sloppy_dispatch if parsed.slop > 0 else _phrase_topk
        return _topk(fn(idx, parsed, round_dp), k)
    if isinstance(parsed, _MULTITERM):
        boost = float(getattr(parsed, "boost", 1.0))
        out = _matched_docset(mfi.of(parsed.field), parsed).select(
            "docid", F.lit(boost).alias("score")
        )
        return _topk(out, k)

    assert isinstance(parsed, CompositeQuery)

    def part_scores(q) -> DataFrame:
        idx = mfi.of(getattr(q, "field", None))
        if isinstance(q, PhraseQuery):
            fn = _sloppy_dispatch if q.slop > 0 else _phrase_topk
            p = fn(idx, q, round_dp=10)
            if q.boost != 1.0:
                p = p.select(
                    "docid", (F.col("score") * F.lit(q.boost)).alias("score")
                )
            return p
        if isinstance(q, _MULTITERM):
            boost = float(getattr(q, "boost", 1.0))
            return _matched_docset(idx, q).select(
                "docid", F.lit(boost).alias("score")
            )
        raise TypeError(type(q))

    b = parsed.boolean
    frames, clauses = _clause_frames(mfi, b.must, b.should)
    specials = [(q, True) for q in parsed.must_specials] + [
        (q, False) for q in parsed.should_specials
    ]
    for j, (q, req) in enumerate(specials):
        frames.append(part_scores(q).withColumnRenamed("score", f"_sp{j}"))
        clauses.append((f"_sp{j}", req, 1.0))
    if not frames:
        return empty()

    excluded = _must_not_docsets(mfi, b.must_not) + [
        part_scores(q).select("docid") for q in parsed.not_specials
    ]
    out = boolean_combine(
        frames, clauses, b.minimum_should_match, excluded, round_dp
    )
    return _topk(out, k)
