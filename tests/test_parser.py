"""Query-string parser (QParser/classic-grammar subset) + parsed execution."""

from __future__ import annotations

import pytest

from lucene_solr_spark.search.parser import (
    CompositeQuery,
    QuerySyntaxError,
    parse_query,
)
from lucene_solr_spark.search.query import (
    BooleanQuery,
    FuzzyQuery,
    PhraseQuery,
    PrefixQuery,
    RangeQuery,
    TermQuery,
    WildcardQuery,
)


# ---------------------------------------------------------------------------
# tree shapes (pure python)
# ---------------------------------------------------------------------------

def test_bare_terms_default_or():
    q = parse_query("table merge")
    assert q == BooleanQuery(should=(TermQuery("table"), TermQuery("merge")))


def test_explicit_and_promotes_to_must():
    q = parse_query("table AND merge")
    assert q == BooleanQuery(must=(TermQuery("table"), TermQuery("merge")))


def test_default_op_and():
    q = parse_query("table merge", default_op="AND")
    assert q == BooleanQuery(must=(TermQuery("table"), TermQuery("merge")))


def test_plus_minus_signs():
    q = parse_query("+table -slow merge")
    assert q == BooleanQuery(
        must=(TermQuery("table"),),
        should=(TermQuery("merge"),),
        must_not=(TermQuery("slow"),),
    )


def test_not_keyword():
    q = parse_query("table NOT slow")
    assert q == BooleanQuery(
        should=(TermQuery("table"),), must_not=(TermQuery("slow"),)
    )


def test_boost_suffix():
    q = parse_query("table^2 merge")
    assert q == BooleanQuery(
        should=(TermQuery("table", boost=2.0), TermQuery("merge"))
    )


def test_analyzer_applied_stopwords_and_case():
    q = parse_query("The TABLE")
    assert q == BooleanQuery(should=(TermQuery("table"),))


def test_all_stopwords_yields_empty():
    q = parse_query("the of and")  # AND is a connective; the/of are stopwords
    assert q == BooleanQuery()


def test_bare_phrase():
    assert parse_query('"table scan"') == PhraseQuery(("table", "scan"))
    assert parse_query('"table scan"~2') == PhraseQuery(("table", "scan"), slop=2)


def test_phrase_drops_stopwords():
    assert parse_query('"the table scan"') == PhraseQuery(("table", "scan"))


def test_prefix_wildcard_fuzzy_range():
    assert parse_query("sc*") == PrefixQuery("sc")
    assert parse_query("s??n") == WildcardQuery("s??n")
    assert parse_query("tble~1") == FuzzyQuery("tble", max_edits=1)
    assert parse_query("[sa TO sd]") == RangeQuery("sa", "sd")
    assert parse_query("[sa TO *]") == RangeQuery("sa", None)


def test_composite_phrase_plus_term():
    q = parse_query('"table scan" merge')
    assert isinstance(q, CompositeQuery)
    assert q.boolean == BooleanQuery(should=(TermQuery("merge"),))
    assert q.should_specials == (PhraseQuery(("table", "scan")),)


def test_composite_and_promotes_specials():
    q = parse_query('"table scan" AND merge')
    assert isinstance(q, CompositeQuery)
    assert q.boolean == BooleanQuery(must=(TermQuery("merge"),))
    assert q.must_specials == (PhraseQuery(("table", "scan")),)


# ---------------------------------------------------------------------------
# parsed execution vs direct query objects
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def index(spark, sf_dir):
    from lucene_solr_spark.index.builder import build_index

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return build_index(
        spark, docs, key_col="doc_id", docid_col="doc_id",
        num_index_partitions=8, build_positions=True,
    )


def _rows(df):
    return [(r.docid, r.score) for r in df.collect()]


@pytest.mark.parametrize(
    "qstring,equivalent",
    [
        ("table merge", BooleanQuery.of(should=["table", "merge"])),
        ("table AND merge", BooleanQuery.of(must=["table", "merge"])),
        ("+table -slow", BooleanQuery.of(must=["table"], must_not=["slow"])),
        ('"table scan"', PhraseQuery(("table", "scan"))),
        ("sc*", PrefixQuery("sc")),
    ],
)
def test_search_parsed_equals_direct(index, qstring, equivalent):
    from lucene_solr_spark.search import search
    from lucene_solr_spark.search.bm25 import search_parsed

    assert _rows(search_parsed(index, qstring, k=10)) == _rows(
        search(index, equivalent, k=10)
    )


def test_search_parsed_composite_runs(index):
    from lucene_solr_spark.search.bm25 import search_parsed

    out = _rows(search_parsed(index, '"table scan" merge', k=10))
    assert len(out) > 0
    # descending scores, docid tiebreak
    assert out == sorted(out, key=lambda t: (-t[1], t[0]))


def test_search_parsed_empty_query(index):
    from lucene_solr_spark.search.bm25 import search_parsed

    assert _rows(search_parsed(index, "the of", k=10)) == []


# ---------------------------------------------------------------------------
# composite boolean-of-subqueries semantics (BooleanQuery.java:100-218):
# MUST/MUST_NOT/mm constraints apply to the COMPOSED part set, not per-part
# ---------------------------------------------------------------------------

def test_composite_must_term_filters_phrase_only_docs(index):
    """'+vector "table scan"': the optional phrase must not re-admit docs
    that fail the required term."""
    from pyspark.sql import functions as F

    from lucene_solr_spark.search.bm25 import search_parsed

    got = _rows(search_parsed(index, '+vector "table scan"', k=10))
    assert len(got) > 0
    vector_docs = {
        r.docid
        for r in index.postings.filter(F.col("term") == "vector")
        .select("docid")
        .collect()
    }
    assert all(d in vector_docs for d, _ in got)


def test_composite_must_not_excludes_phrase_matches(index):
    """'table -scan "table scan"': every phrase match contains 'scan', so the
    MUST_NOT strips all of them -> result equals plain 'table -scan'."""
    from lucene_solr_spark.search import search
    from lucene_solr_spark.search.bm25 import search_parsed

    got = _rows(search_parsed(index, 'table -scan "table scan"', k=10))
    want = _rows(
        search(index, BooleanQuery.of(should=["table"], must_not=["scan"]), k=10)
    )
    assert got == want


def test_composite_must_not_only_boolean_with_special(index):
    """'"table scan" -slow': phrase + prohibited term only — must not raise,
    and must equal the phrase result anti-joined on the excluded term."""
    from pyspark.sql import functions as F

    from lucene_solr_spark.search.bm25 import _phrase_topk, search_parsed

    got = _rows(search_parsed(index, '"table scan" -slow', k=10))
    ph = _phrase_topk(index, PhraseQuery(("table", "scan")), round_dp=10)
    excl = (
        index.postings.filter(F.col("term") == "slow").select("docid").distinct()
    )
    want = _rows(
        ph.join(excl, "docid", "left_anti")
        .select("docid", F.round("score", 4).alias("score"))
        .orderBy(F.col("score").desc(), F.col("docid").asc())
        .limit(10)
    )
    assert got == want
    assert len(got) > 0


def test_composite_must_special_does_not_require_should_term(index):
    """'merge +"table scan"': required phrase, optional term — phrase docs
    without 'merge' stay in, scored by the phrase alone."""
    from pyspark.sql import functions as F

    from lucene_solr_spark.search.bm25 import _phrase_topk, search_parsed, term_scores

    got = _rows(search_parsed(index, 'merge +"table scan"', k=10))
    ph = _phrase_topk(index, PhraseQuery(("table", "scan")), round_dp=10)
    ms = (
        term_scores(index, ["merge"])
        .groupBy("docid")
        .agg(F.max("score").alias("_m"))
    )
    want = _rows(
        ph.join(ms, "docid", "left")
        .select(
            "docid",
            F.round(
                F.coalesce(F.col("_m"), F.lit(0.0)) + F.col("score"), 4
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("docid").asc())
        .limit(10)
    )
    assert got == want
    assert len(got) > 0


def test_parsed_boost_on_phrase_and_prefix():
    q = parse_query('"table scan"^3 sc*^2')
    assert isinstance(q, CompositeQuery)
    assert q.should_specials == (
        PhraseQuery(("table", "scan"), boost=3.0),
        PrefixQuery("sc", boost=2.0),
    )


def test_signed_phrase_and_range_buckets():
    # -"..." prohibits, +"..." requires (the classic grammar's modifier
    # applies to any clause type, QueryParserBase.java:486-520)
    q = parse_query('table -"bad words"')
    assert q.not_specials == (PhraseQuery(("bad", "words")),)
    assert q.should_specials == ()

    q = parse_query('table +"exact phrase"')
    assert q.must_specials == (PhraseQuery(("exact", "phrase")),)

    q = parse_query("table -[aa TO bb]")
    assert q.not_specials == (RangeQuery("aa", "bb"),)

    q = parse_query('-title:"alpha beta" table')
    assert q.not_specials == (PhraseQuery(("alpha", "beta"), field="title"),)


@pytest.mark.parametrize(
    "q",
    [
        "(table OR merge) AND scan",  # flattened to +table +merge +scan
        "title:(table merge)",  # scoped only `table` to title
        "foo\\:bar",  # split into two terms
        "table (merge)",
        "scan)",
        "table\\ merge",
    ],
)
def test_unsupported_syntax_raises(q):
    """Grouping and escapes are outside the supported grammar subset: the
    parser refuses them instead of returning a different query."""
    with pytest.raises(QuerySyntaxError):
        parse_query(q)
    assert issubclass(QuerySyntaxError, ValueError)


def test_parens_inside_phrase_are_text():
    assert parse_query('"table (scan)"') == PhraseQuery(("table", "scan"))


def test_search_parsed_must_not_only_is_match_no_docs(index):
    from lucene_solr_spark.search.bm25 import search_parsed

    assert search_parsed(index, "-table").count() == 0
    assert search_parsed(index, "NOT table").count() == 0


def test_search_parsed_prohibited_phrase_excludes(index):
    from lucene_solr_spark.search.bm25 import search_parsed

    with_phrase = {r.docid for r in search_parsed(index, '"table scan"', k=1000).collect()}
    out = {r.docid for r in search_parsed(index, 'table -"table scan"', k=1000).collect()}
    assert with_phrase and not (out & with_phrase)
