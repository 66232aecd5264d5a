"""The shared boolean-of-terms frame (bm25.pivot_terms + bm25.boolean_combine)
behind every similarity's top-k: BooleanWeight's MUST / SHOULD+mm / MUST_NOT
selection equals a direct set computation over the postings (a pure-SHOULD
query needs at least one match), and every entry point runs one docid pivot
aggregate over a term-pruned postings read with no Python in the plan."""

import re

import pytest

from lucene_solr_spark.index.builder import build_index
from lucene_solr_spark.index.fields import MultiFieldIndex, search_fields
from lucene_solr_spark.search import search
from lucene_solr_spark.search.classic import classic_topk
from lucene_solr_spark.search.dfr import dfr_topk, ib_topk
from lucene_solr_spark.search.lm import lm_dirichlet_topk, lm_jelinek_mercer_topk
from lucene_solr_spark.search.query import BooleanQuery, TermQuery
from lucene_solr_spark.search.sweetspot import sweetspot_topk
from tests.plans import plan_nodes, subtree

ALL = 10**6  # k past every match: the top-k IS the selected docid set

ENTRY_POINTS = {
    "bm25": lambda idx, q: search(idx, q, k=ALL),
    "classic": lambda idx, q: classic_topk(idx, q, k=ALL),
    "sweetspot": lambda idx, q: sweetspot_topk(idx, q, k=ALL),
    "lm_dirichlet": lambda idx, q: lm_dirichlet_topk(idx, q, k=ALL),
    "lm_jelinek_mercer": lambda idx, q: lm_jelinek_mercer_topk(idx, q, k=ALL),
    "dfr": lambda idx, q: dfr_topk(idx, q, k=ALL),
    "ib": lambda idx, q: ib_topk(idx, q, k=ALL),
}

T = TermQuery
SHAPES = {
    "must": BooleanQuery(must=(T("table"), T("spark"))),
    "should_mm": BooleanQuery(
        should=(T("table"), T("merge"), T("vector")), minimum_should_match=2
    ),
    "must_not": BooleanQuery(must=(T("table"),), must_not=(T("vector"),)),
    "should": BooleanQuery(should=(T("table"), T("vector"))),
    # a duplicated SHOULD clause counts twice toward mm, like two clauses
    "duplicated": BooleanQuery(
        should=(T("merge"), T("vector"), T("merge")), minimum_should_match=2
    ),
    "boosted": BooleanQuery(
        must=(T("spark", boost=3.0),), should=(T("merge", boost=0.5),)
    ),
}


@pytest.fixture(scope="module")
def index(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return build_index(
        spark, docs, key_col="doc_id", docid_col="doc_id",
        num_index_partitions=8,
    )


@pytest.fixture(scope="module")
def docs_of(index):
    terms = {"table", "spark", "merge", "vector"}
    out: dict[str, set[int]] = {t: set() for t in terms}
    for r in index.postings.filter(index.postings.term.isin(list(terms))).collect():
        out[r.term].add(int(r.docid))
    return out


def _expected(q: BooleanQuery, docs_of) -> set[int]:
    """BooleanWeight selection computed directly over posting docid sets."""
    must = [docs_of[t.term] for t in q.must]
    should = [docs_of[t.term] for t in q.should]
    mm = q.minimum_should_match if must else max(q.minimum_should_match, 1)
    out = set()
    for d in set().union(*must, *should):
        if not all(d in s for s in must):
            continue
        if should and sum(d in s for s in should) < mm:
            continue
        if any(d in docs_of[t.term] for t in q.must_not):
            continue
        out.add(d)
    return out


@pytest.mark.parametrize("shape", sorted(SHAPES))
@pytest.mark.parametrize("entry", sorted(ENTRY_POINTS))
def test_boolean_selection_equals_posting_sets(index, docs_of, entry, shape):
    q = SHAPES[shape]
    want = _expected(q, docs_of)
    assert want, "query shape selects nothing on the test index"
    got = [int(r.docid) for r in ENTRY_POINTS[entry](index, q).collect()]
    assert len(got) == len(set(got))
    assert set(got) == want


@pytest.mark.parametrize("entry", sorted(ENTRY_POINTS))
def test_one_pivot_over_term_pruned_postings(index, entry):
    q = BooleanQuery(must=(T("table"), T("spark")), must_not=(T("vector"),))
    out = ENTRY_POINTS[entry](index, q)
    out.collect()
    nodes = plan_nodes(out)
    text = "\n".join(nodes)
    for python_node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert python_node not in text, text
    pivots = [
        i for i, n in enumerate(nodes)
        if n.lstrip().startswith("HashAggregate(keys=[docid")
        and "functions=[max(CASE WHEN (term" in n
    ]
    assert len(pivots) == 1, text
    below = "\n".join(subtree(nodes, pivots[0]))
    assert " IN (" in below and "term" in below, below


@pytest.mark.parametrize("entry", sorted(ENTRY_POINTS) + ["fields"])
def test_must_not_anti_join_needs_no_distinct(index, entry):
    """The MUST_NOT docid frame is broadcast straight from the pruned
    postings: a left-anti join needs no distinct keys, so no docid
    aggregate (and its shuffle) feeds it."""
    q = SHAPES["must_not"]
    if entry == "fields":
        out = search_fields(MultiFieldIndex({"text": index}, "text"), q, k=ALL)
    else:
        out = ENTRY_POINTS[entry](index, q)
    out.collect()
    nodes = plan_nodes(out)
    text = "\n".join(nodes)
    anti = [
        i for i, n in enumerate(nodes)
        if n.lstrip().startswith("BroadcastHashJoin") and "LeftAnti" in n
    ]
    assert len(anti) == 1, text
    join = subtree(nodes, anti[0])
    # the build side: the broadcast closest to the join
    build = min(
        (i for i, n in enumerate(join) if n.lstrip().startswith("BroadcastExchange")),
        key=lambda i: len(join[i]) - len(join[i].lstrip()),
    )
    build_side = "\n".join(subtree(join, build))
    assert "vector" in build_side, build_side  # the MUST_NOT term's postings
    distinct = re.compile(r"HashAggregate\(keys=\[docid#\d+L?\], functions=\[\]")
    assert not distinct.search(build_side), build_side
