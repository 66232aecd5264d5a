"""Atomic updates (getUpdatedDocument field modifiers) and optimistic
concurrency (versionAdd _version_ contract)."""

import pytest
from pyspark.sql import functions as F

from lucene_solr_spark.index.urp import (
    VersionConflictError,
    atomic_merge,
    check_versions,
)


@pytest.fixture(scope="module")
def existing(spark):
    return spark.createDataFrame(
        [
            ("u1", "hello world", "en", 3, ["a", "b"], 10),
            ("u2", "bonjour", "fr", 1, ["x"], 11),
        ],
        "url string, text string, lang string, hits int, tags array<string>, _version_ long",
    )


def _merge_rows(existing, updates, ops):
    out = atomic_merge(existing, updates, ops)
    return {r.url: r.asDict() for r in out.collect()}


def test_set_replaces_and_null_keeps(spark, existing):
    upd = spark.createDataFrame(
        [("u1", "de"), ("u2", None)], "url string, lang string"
    )
    got = _merge_rows(existing, upd, {"lang": "set"})
    assert got["u1"]["lang"] == "de"
    assert got["u2"]["lang"] == "fr"          # omitted value keeps stored
    assert got["u1"]["text"] == "hello world"  # unlisted fields carry over


def test_inc(spark, existing):
    upd = spark.createDataFrame([("u1", 5), ("u3", 2)], "url string, hits int")
    got = _merge_rows(existing, upd, {"hits": "inc"})
    assert got["u1"]["hits"] == 8
    assert got["u3"]["hits"] == 2          # absent doc: old treated as 0
    assert got["u3"]["text"] is None       # created doc has no stored fields


def test_add_and_remove(spark, existing):
    upd = spark.createDataFrame([("u1", "c"), ("u2", "x")], "url string, tags string")
    added = _merge_rows(existing, upd, {"tags": "add"})
    assert added["u1"]["tags"] == ["a", "b", "c"]
    removed = _merge_rows(existing, upd, {"tags": "remove"})
    assert removed["u2"]["tags"] == []
    assert removed["u1"]["tags"] == ["a", "b"]  # 'c' not present: no-op


def test_bad_op_rejected(spark, existing):
    upd = spark.createDataFrame([("u1", "x")], "url string, lang string")
    with pytest.raises(ValueError, match="unknown atomic op"):
        atomic_merge(existing, upd, {"lang": "replace"})
    with pytest.raises(ValueError, match="missing column"):
        atomic_merge(existing, upd, {"hits": "inc"})


def test_version_exact_match_passes(spark, existing):
    upd = spark.createDataFrame(
        [("u1", 10), ("u2", 11)], "url string, _version_ long"
    )
    check_versions(existing, upd)  # no raise


def test_version_mismatch_conflicts(spark, existing):
    upd = spark.createDataFrame([("u1", 99)], "url string, _version_ long")
    with pytest.raises(VersionConflictError, match="u1"):
        check_versions(existing, upd)


def test_version_one_requires_existence(spark, existing):
    ok = spark.createDataFrame([("u1", 1)], "url string, _version_ long")
    check_versions(existing, ok)
    missing = spark.createDataFrame([("nope", 1)], "url string, _version_ long")
    with pytest.raises(VersionConflictError):
        check_versions(existing, missing)


def test_version_negative_requires_absence(spark, existing):
    ok = spark.createDataFrame([("new", -1)], "url string, _version_ long")
    check_versions(existing, ok)
    clash = spark.createDataFrame([("u1", -1)], "url string, _version_ long")
    with pytest.raises(VersionConflictError):
        check_versions(existing, clash)


def test_version_zero_or_absent_no_check(spark, existing):
    zero = spark.createDataFrame([("u1", 0)], "url string, _version_ long")
    check_versions(existing, zero)
    noversion = spark.createDataFrame([("u1",)], "url string")
    check_versions(existing, noversion)


def test_atomic_update_through_store(spark, tmp_path):
    """End-to-end: atomic lang set merges against a live store's docs and
    re-indexes through update_documents (delete+add)."""
    from lucene_solr_spark.store import load_index
    from lucene_solr_spark.streaming.incremental import (
        StreamingIndexer,
        update_documents,
    )

    root = str(tmp_path / "store")
    pages = spark.createDataFrame(
        [
            ("u1", "<p>alpha beta</p>", "en"),
            ("u2", "<p>gamma delta</p>", "en"),
        ],
        "url string, html string, lang string",
    )
    StreamingIndexer(spark, root, 2).process_batch(pages, 0)
    idx = load_index(spark, root)
    stored = idx.docs.select("url", "lang")
    upd = spark.createDataFrame([("u1", "de")], "url string, lang string")
    merged = atomic_merge(stored, upd, {"lang": "set"}, key_col="url")
    # rebuild the full update rows (the pages store indexes html):
    html = spark.createDataFrame(
        [("u1", "<p>alpha beta</p>")], "url string, html string"
    )
    update_documents(spark, root, merged.join(html, "url"))
    after = load_index(spark, root)
    rows = {r.url: r.lang for r in after.docs.select("url", "lang").collect()}
    assert rows == {"u1": "de", "u2": "en"}
