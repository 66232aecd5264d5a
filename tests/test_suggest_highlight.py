"""Spellcheck / suggester / highlighter semantics over a tiny corpus."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.index.builder import build_index
from lucene_solr_spark.search.highlight import highlight_fragment, highlight_topk
from lucene_solr_spark.search.suggest import spellcheck, suggest_prefix


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "The merge phase sorts runs. MERGE again merges sorted runs."),
        (1, "A marge typo and a merge plus mergers here."),
        (2, "sort scan stream spark small"),
        (3, "unrelated content entirely"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_index(
        spark, docs, key_col="doc_id", docid_col="doc_id",
        num_index_partitions=2, persist=False,
    )
    return idx, docs.select(F.col("doc_id").alias("docid"), "text")


def test_spellcheck_ranks_distance_then_df(corpus):
    idx, _ = corpus
    out = spellcheck(idx, "merg", max_edits=2, k=10).collect()
    sugg = [r.suggestion for r in out]
    # d=1: merge (df 2 outranks all d=2); d=2 ties (df 1) break term-asc
    assert sugg == ["merge", "here", "marge", "merges"]
    assert [r.distance for r in out] == [1, 2, 2, 2]
    # mergers is d=3 -- outside max_edits; the query term itself never appears
    assert "mergers" not in sugg and "merg" not in sugg


def test_spellcheck_excludes_exact_and_respects_max_edits(corpus):
    idx, _ = corpus
    out = spellcheck(idx, "merge", max_edits=1, k=10).collect()
    sugg = [r.suggestion for r in out]
    assert "merge" not in sugg
    assert "marge" in sugg  # d=1
    assert "mergers" not in sugg  # d=2 > max_edits


def test_suggest_prefix_weight_order(corpus):
    idx, _ = corpus
    out = suggest_prefix(idx, "s", k=10).collect()
    # all five s-terms appear once each (weight ties) -> term-asc order
    assert [r.suggestion for r in out] == [
        "scan", "small", "sort", "sorted", "sorts", "spark", "stream",
    ]
    assert all(r.weight == 1 for r in out)


def test_suggest_prefix_narrow(corpus):
    idx, _ = corpus
    out = suggest_prefix(idx, "sort", k=10).collect()
    assert [r.suggestion for r in out] == ["sort", "sorted", "sorts"]


def test_highlight_wraps_all_in_fragment_occurrences(corpus):
    idx, stored = corpus
    out = highlight_topk(idx, stored, "merge", k=5, frag_size=200, context=10)
    rows = {r.docid: r.snippet for r in out.collect()}
    assert set(rows) == {0, 1}
    # doc 0: fragment holds 'merge', 'MERGE' (case-insensitive wrap), but
    # NOT 'merges'/'mergers' (the (?i)(merge) group wraps the exact token
    # text inside longer words too -- SimpleHTMLFormatter does the same for
    # substring matches of the scored token)
    assert "<em>merge</em> phase" in rows[0]
    assert "<em>MERGE</em> again" in rows[0]
    assert "<em>merge</em>s sorted" in rows[0]
    assert "a <em>merge</em> plus" in rows[1]
    # marge (d=1 neighbor) is NOT highlighted -- not the query term
    assert "<em>marge</em>" not in rows[1]


def test_highlight_fragment_window(spark, corpus):
    idx, stored = corpus
    # tight fragment: starts `context` chars before the first match and
    # spans frag_size chars
    out = highlight_topk(idx, stored, "merge", k=5, frag_size=20, context=4)
    row = {r.docid: r.snippet for r in out.collect()}[0]
    raw = "The merge phase sorts runs. MERGE again merges sorted runs."
    first = raw.lower().index("merge")  # 0-based 4
    expect = raw[first - 4 : first - 4 + 20].replace("merge", "<em>merge</em>")
    assert row == expect


def test_query_elevation_pins_excludes_and_carries_scores(corpus):
    from lucene_solr_spark.search.elevate import elevate_topk

    idx, _ = corpus
    # organic 'merge' ranking is [0, 1]; elevate 3 (non-matching) and 1
    # (matching, keeps organic score); exclude 0
    out = elevate_topk(
        idx, "merge", elevated_ids=[3, 1], excluded_ids=[0], k=5
    ).collect()
    assert [(r.position, r.docid, r.elevated) for r in out] == [
        (1, 3, True), (2, 1, True),
    ]
    assert out[0].score == 0.0  # doc 3 never matches 'merge'
    assert out[1].score > 0.0  # doc 1's organic score is carried


def test_query_elevation_rest_is_organic(corpus):
    from lucene_solr_spark.search.bm25 import search
    from lucene_solr_spark.search.elevate import elevate_topk

    idx, _ = corpus
    organic = [r.docid for r in search(idx, "merge", k=5).collect()]
    out = elevate_topk(idx, "merge", elevated_ids=[2], k=5).collect()
    rest = [r.docid for r in out if not r.elevated]
    assert out[0].docid == 2 and out[0].position == 1
    assert rest == [d for d in organic if d != 2]


def test_highlight_fragment_expression(spark):
    df = spark.createDataFrame([("Alpha beta ALPHA alphabet",)], "text string")
    snip = df.select(
        highlight_fragment(F.col("text"), "alpha", frag_size=100, context=0)
        .alias("s")
    ).collect()[0].s
    assert snip == "<em>Alpha</em> beta <em>ALPHA</em> <em>alpha</em>bet"


def test_highlight_capitalized_query_term(corpus):
    idx, stored = corpus
    # a capitalized user term must fold to the dictionary's lowercase form
    upper = {r.docid: r.snippet for r in
             highlight_topk(idx, stored, "MERGE", k=5, frag_size=200).collect()}
    lower = {r.docid: r.snippet for r in
             highlight_topk(idx, stored, "merge", k=5, frag_size=200).collect()}
    assert upper == lower and len(upper) > 0


def test_collate_verifies_hits(corpus):
    """SpellCheckCollator.java:89-169: each collation's hit count equals the
    AND-docset of (correction, context); hit-less collations are dropped."""
    from lucene_solr_spark.search.suggest import collate, spellcheck

    idx, _ = corpus
    out = collate(idx, "marge", ["runs"], tries=3, max_collations=3).collect()
    assert out
    hits = [r.hits for r in out]
    assert hits == sorted(hits, reverse=True) and all(h > 0 for h in hits)
    cands = [r.suggestion for r in spellcheck(idx, "marge", k=3).collect()]
    for r in out:
        corr = r.collation_query.split()[0]
        assert corr in cands
        expect = (
            idx.postings.filter(F.col("term").isin([corr, "runs"]))
            .groupBy("docid")
            .agg(F.count_distinct("term").alias("n"))
            .filter(F.col("n") == 2)
            .count()
        )
        assert r.hits == expect
    # 'merge runs' co-occur in doc 0 -> the top collation
    assert out[0].collation_query == "merge runs" and out[0].hits == 1


def test_collate_unknown_everything_is_empty(corpus):
    from lucene_solr_spark.search.suggest import collate

    idx, _ = corpus
    assert collate(idx, "zzzzzzzzzz", ["merge"]).count() == 0


def test_highlight_multi_anchors_first_of_any_and_wraps_all(spark, corpus):
    from lucene_solr_spark.search.highlight import highlight_topk

    idx, stored = corpus
    out = {r.docid: r.snippet for r in
           highlight_topk(idx, stored, ["merge", "runs"], k=10).collect()}
    assert out  # merge/runs docs exist
    snip0 = out[0]  # "The merge phase sorts runs. MERGE again merges sorted runs."
    assert "<em>merge</em>" in snip0.lower() or "<em>MERGE</em>" in snip0
    assert "<em>runs</em>" in snip0  # BOTH terms wrapped, not just the first
    # anchor = first occurrence of ANY term: 'merge' precedes 'runs' in doc 0,
    # so the fragment starts at/before 'merge' (context window)
    assert snip0.lower().find("<em>merge</em>") < snip0.find("<em>runs</em>")


def test_highlight_positions_uses_positions_layer(spark, sf_dir):
    """FVH/PostingsHighlighter analog: token-window fragment from the
    persisted positions index; matches wrapped; anchor maximizes in-window
    hit density."""
    from lucene_solr_spark.driver_queries import get_index
    from lucene_solr_spark.search.highlight import highlight_positions

    idx = get_index(spark, sf_dir)
    out = highlight_positions(idx, "table", k=5, window=5).collect()
    assert 0 < len(out) <= 5
    for r in out:
        assert "<em>table</em>" in r.snippet
        # token-space snippet: <= window tokens once wrappers are stripped
        plain = r.snippet.replace("<em>", "").replace("</em>", "")
        assert 1 <= len(plain.split(" ")) <= 5

    # multi-term: any query term anchors and wraps
    out2 = highlight_positions(idx, ["table", "merge"], k=5, window=6).collect()
    assert any("<em>" in r.snippet for r in out2)

    import pytest as _pytest

    from lucene_solr_spark.index.builder import build_index

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(5)
    nopos = build_index(spark, docs, key_col="doc_id", docid_col="doc_id",
                        num_index_partitions=2, persist=False)
    with _pytest.raises(ValueError, match="positions"):
        highlight_positions(nopos, "table")


def test_highlight_positions_anchor_density(spark):
    """The densest query-term window wins, not the first occurrence."""
    from lucene_solr_spark.index.builder import build_index
    from lucene_solr_spark.search.highlight import highlight_positions

    rows = [(0, "table alpha beta gamma delta table table near here end")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_index(spark, df, key_col="doc_id", docid_col="doc_id",
                      num_index_partitions=1, persist=False,
                      build_positions=True)
    out = highlight_positions(idx, "table", k=1, window=3).collect()
    # positions 5,6 hold the double 'table' — window [5,8) has 2 hits vs 1
    assert out[0].snippet == "<em>table</em> <em>table</em> near"


def test_suggest_infix(spark, sf_dir):
    from lucene_solr_spark.driver_queries import get_index
    from lucene_solr_spark.search.suggest import suggest_infix

    idx = get_index(spark, sf_dir)
    out = suggest_infix(idx, "ecto", k=5).collect()
    assert out and all("ecto" in r.suggestion for r in out)
    assert all("<b>ecto</b>" in r.highlighted for r in out)
    # ranked by weight desc
    weights = [r.weight for r in out]
    assert weights == sorted(weights, reverse=True)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="non-empty"):
        suggest_infix(idx, "")


def test_suggest_fuzzy(spark, sf_dir):
    from lucene_solr_spark.driver_queries import get_index
    from lucene_solr_spark.search.suggest import suggest_fuzzy

    idx = get_index(spark, sf_dir)
    got = {r.suggestion for r in suggest_fuzzy(idx, "vektor", k=10).collect()}
    assert "vector" in got                      # substitution k->c
    # non-fuzzy prefix: a first-char typo never matches
    got2 = {r.suggestion for r in suggest_fuzzy(idx, "wector", k=10).collect()}
    assert "vector" not in got2
    # below minFuzzyLength matching is exact-prefix
    short = suggest_fuzzy(idx, "ve", k=5).collect()
    assert all(r.suggestion.startswith("ve") and r.distance == 0 for r in short)


# --- FreeTextSuggester (round 3b) ---


@pytest.fixture(scope="module")
def freetext(spark):
    from lucene_solr_spark.search.suggest import FreeTextModel

    docs = spark.createDataFrame(
        [
            ("foo bar foo baz",),
            ("foo bar bar",),
            ("qux foo bar",),
        ],
        "text string",
    )
    m = FreeTextModel.build(spark, docs, "text", n=2)
    yield m
    m.unpersist()


def test_freetext_bigram_prediction(freetext):
    """'foo ' -> next token from the bigram model: context 'foo' count 4,
    'foo bar' 3x, 'foo baz' 1x -> scores 0.75 and 0.25."""
    got = freetext.lookup("foo ", num=5)
    assert got[0] == ("foo bar", pytest.approx(3 / 4))
    assert got[1] == ("foo baz", pytest.approx(1 / 4))


def test_freetext_prefix_completion(freetext):
    """'foo b' keeps the bigram context and filters by last-token prefix."""
    got = freetext.lookup("foo b", num=5)
    assert [g for g, _ in got] == ["foo bar", "foo baz"]


def test_freetext_backoff_to_unigram(freetext):
    """Unseen context 'zzz' backs off to unigrams with ALPHA=0.4:
    score = 0.4 * count/totTokens (totTokens=10)."""
    got = freetext.lookup("zzz b", num=5)
    want_bar = 0.4 * 4 / 10   # 'bar' occurs 4x of 10 tokens
    want_baz = 0.4 * 1 / 10
    assert got[0] == ("bar", pytest.approx(want_bar))
    assert ("baz", pytest.approx(want_baz)) in [
        (g, pytest.approx(s)) for g, s in got
    ]


def test_freetext_seen_dedup_across_orders(freetext):
    """A token suggested by the bigram model is not re-added by the unigram
    backoff (the seen set, FreeTextSuggester.java:552-556)."""
    got = freetext.lookup("foo b", num=10)
    lasts = [g.rsplit(" ", 1)[-1] for g, _ in got]
    assert len(lasts) == len(set(lasts))


def test_freetext_empty_prefix_vs_partial(freetext):
    """'foo' (no trailing space) treats 'foo' itself as the partial token:
    unigram completions of 'foo' only."""
    got = freetext.lookup("foo", num=5)
    assert all(g.startswith("foo") for g, _ in got)


# --- WordBreakSpellChecker (round 3b) ---


@pytest.fixture(scope="module")
def wb_index(spark):
    docs = spark.createDataFrame(
        [
            (1, "time out happens when the timeout fires"),
            (2, "time flies and the clock ticks"),
            (3, "timeout and timeout again with time to spare"),
            (4, "out and about"),
        ],
        "doc_id long, text string",
    )
    return build_index(
        spark, docs, key_col="doc_id", docid_col="doc_id", num_index_partitions=2
    )


def test_word_breaks(wb_index):
    from lucene_solr_spark.search.suggest import suggest_word_breaks

    got = [(r.suggestion, r.freq) for r in suggest_word_breaks(wb_index, "timeout").collect()]
    # 'time' df=3, 'out' df=2 -> 'time out' freq 5; no other split is valid
    assert got == [("time out", 5)]


def test_word_breaks_none(wb_index):
    from lucene_solr_spark.search.suggest import suggest_word_breaks

    assert suggest_word_breaks(wb_index, "zzzyyy").collect() == []


def test_word_combinations(wb_index):
    from lucene_solr_spark.search.suggest import suggest_word_combinations

    got = [
        (r.position, r.suggestion, r.freq)
        for r in suggest_word_combinations(wb_index, ["time", "out", "fires"]).collect()
    ]
    # 'timeout' df=2 from adjacent pair at position 0; 'outfires' absent
    assert got == [(0, "timeout", 2)]


@pytest.mark.parametrize("kind", ["breaks", "combinations"])
def test_word_break_broadcast_is_candidate_bounded(wb_index, kind):
    """The dictionary side of the WordBreak joins is filtered to the
    candidate words (term IN (...)) below the join, so no |V|-sized
    dictionary is broadcast; the suggestions are unchanged."""
    from lucene_solr_spark.search.suggest import (
        suggest_word_breaks,
        suggest_word_combinations,
    )
    from tests.plans import plan_nodes, subtree

    if kind == "breaks":
        out = suggest_word_breaks(wb_index, "timeout")
        assert [(r.suggestion, r.freq) for r in out.collect()] == [("time out", 5)]
    else:
        out = suggest_word_combinations(wb_index, ["time", "out", "fires"])
        got = [(r.position, r.suggestion, r.freq) for r in out.collect()]
        assert got == [(0, "timeout", 2)]
    nodes = plan_nodes(out)
    dictionary_broadcasts = [
        subtree(nodes, i) for i, n in enumerate(nodes)
        if n.lstrip().startswith("BroadcastExchange")
        and any("InMemoryTableScan" in m for m in subtree(nodes, i))
    ]
    assert dictionary_broadcasts, "\n".join(nodes)
    for sub in dictionary_broadcasts:  # IN (...) or, past 10 values, INSET
        assert any(re.search(r"term#\d+ (IN \(|INSET )", m) for m in sub), (
            "\n".join(sub)
        )


def test_spellcheck_direct_gates(spark, sf_dir):
    from lucene_solr_spark.index.builder import build_index
    from lucene_solr_spark.search.suggest import spellcheck

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    index = build_index(
        spark, docs, key_col="doc_id", docid_col="doc_id",
        num_index_partitions=8,
    )
    base = spellcheck(index, "tabel", k=5).collect()
    assert base, "baseline correction expected"
    # minPrefix: candidates must share the first char
    pref = spellcheck(index, "tabel", k=5, min_prefix=1).collect()
    assert all(r.suggestion.startswith("t") for r in pref)
    assert {r.suggestion for r in pref} <= {r.suggestion for r in base}
    # minQueryLength suppresses short inputs entirely
    assert spellcheck(index, "tab", k=5, min_query_length=4).count() == 0
    # maxQueryFrequency: a term present in (almost) every doc needs no fix
    assert spellcheck(index, "table", k=5, max_query_frequency=0.01).count() == 0
    # ...but an absent/misspelled term still gets suggestions under the gate
    assert spellcheck(index, "tabel", k=5, max_query_frequency=0.01).count() > 0


def test_spellcheck_only_more_popular(spark, sf_dir):
    from lucene_solr_spark.index.builder import build_index
    from lucene_solr_spark.search.suggest import spellcheck

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    index = build_index(
        spark, docs, key_col="doc_id", docid_col="doc_id",
        num_index_partitions=8,
    )
    # data-driven: the flag must keep exactly the strictly-more-popular
    # subset of the unflagged candidate set
    dfs = {r.term: int(r.df) for r in index.term_stats().collect()}
    probe = "part"  # neighbors within 2 edits: fast, sort, spark
    base = spellcheck(index, probe, k=100).collect()
    assert base
    omp = spellcheck(index, probe, k=100, only_more_popular=True).collect()
    want = {r.suggestion for r in base if int(r.df) > dfs[probe]}
    assert {r.suggestion for r in omp} == want
    assert all(int(r.df) > dfs[probe] for r in omp)
    # absent term: qdf 0 -> every candidate passes, same as default
    base = {r.suggestion for r in spellcheck(index, "tabel", k=5).collect()}
    omp = {
        r.suggestion
        for r in spellcheck(index, "tabel", k=5, only_more_popular=True).collect()
    }
    assert omp == base
