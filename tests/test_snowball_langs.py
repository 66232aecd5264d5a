"""Snowball German/German2/Danish/Norwegian/Swedish: the reference's full
vocabulary golden sets (TestSnowballVocabData.zip) + the term-map frames.

Reference: lucene/analysis/common/src/java/org/tartarus/snowball/ext/
{German,German2,Danish,Norwegian,Swedish}Stemmer.java via
SnowballPorterFilterFactory; goldens from TestSnowballVocab.java's data.
"""

import gzip
import os

import pytest

from lucene_solr_spark.analysis.snowball_de import (
    german2_snowball_stem,
    german_snowball_stem,
)
from lucene_solr_spark.analysis.snowball_nordic import (
    danish_snowball_stem,
    norwegian_snowball_stem,
    swedish_snowball_stem,
)
from lucene_solr_spark.analysis.snowball_registry import snowball_stem_map

_DATA = os.path.join(os.path.dirname(__file__), "data")

_CASES = [
    ("german", german_snowball_stem, 35033),
    ("german2", german2_snowball_stem, 35033),
    ("danish", danish_snowball_stem, 23829),
    ("norwegian", norwegian_snowball_stem, 20628),
    ("swedish", swedish_snowball_stem, 30623),
]


@pytest.mark.parametrize("lang,fn,expected_n", _CASES, ids=[c[0] for c in _CASES])
def test_reference_vocab_goldens_all(lang, fn, expected_n):
    n, bad = 0, []
    with gzip.open(
        os.path.join(_DATA, f"snowball_{lang}_goldens.txt.gz"),
        "rt",
        encoding="utf-8",
    ) as fh:
        for line in fh:
            line = line.rstrip("\n")
            if not line:
                continue
            a, b = line.split("\t")
            n += 1
            g = fn(a)
            if g != b:
                bad.append((a, g, b))
    assert n == expected_n
    assert not bad, f"{len(bad)} mismatches, first 10: {bad[:10]}"


def test_german_spot():
    # umlaut removal + step-3 d-suffix chain
    assert german_snowball_stem("aufeinanderfolgenden") == "aufeinanderfolg"
    assert german_snowball_stem("abendlichen") == "abend"
    # ß -> ss, s-ending gate
    assert german_snowball_stem("großes") == "gross"
    # german2 folds ae/oe/ue but skips after qu
    assert german2_snowball_stem("quelle") != german2_snowball_stem("qälle")
    assert german2_snowball_stem("haeuser") == german2_snowball_stem("häuser")


def test_nordic_spot():
    assert danish_snowball_stem("bestemmelse") == "bestem"       # undouble
    assert danish_snowball_stem("kærlighed") == "kær"
    assert norwegian_snowball_stem("hetslov") != ""              # other-suffix
    assert swedish_snowball_stem("klokheterna") == "klok"


def test_term_map_frames(spark):
    vocab = spark.createDataFrame(
        [("häusern",), ("bestemmelse",), ("run",)], "term string"
    )
    got = {
        r.term: r.new_term
        for r in snowball_stem_map(vocab, "German").collect()
    }
    assert got["häusern"] == german_snowball_stem("häusern")
    got_da = {
        r.term: r.new_term
        for r in snowball_stem_map(vocab, "Danish").collect()
    }
    assert got_da["bestemmelse"] == "bestem"
