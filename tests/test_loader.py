"""/update loaders (loader.py): JsonLoader/CSVLoader parse semantics plus
an end-to-end apply against a committed store."""

import pytest

from lucene_solr_spark.loader import (
    apply_update,
    parse_csv_update,
    parse_json_update,
)


def test_json_object_commands():
    cmds = parse_json_update(
        """{
  "add": {"doc": {"id": "1", "title": "Doc 1"}},
  "add": {"doc": {"id": "2", "title": "Doc 2"}, "commitWithin": 5000},
  "delete": "3",
  "delete": {"id": "4"},
  "delete": {"query": "title:obsolete"},
  "commit": {}
}"""
    )
    assert cmds.adds == [
        {"id": "1", "title": "Doc 1"},
        {"id": "2", "title": "Doc 2"},
    ]
    assert cmds.delete_ids == ["3", "4"]
    assert cmds.delete_queries == ["title:obsolete"]
    assert cmds.commit is True
    assert cmds.commit_within == 5000


def test_json_bare_array_shorthand():
    cmds = parse_json_update(
        '[{"id": "1", "v": 2}, {"id": "2", "nested": {"a": [1, 2]}}]'
    )
    assert cmds.adds == [
        {"id": "1", "v": 2},
        {"id": "2", "nested": {"a": [1, 2]}},
    ]
    assert not cmds.delete_ids and not cmds.commit


def test_json_delete_id_array_and_rollback():
    cmds = parse_json_update('{"delete": ["1", "2"], "rollback": {}}')
    assert cmds.delete_ids == ["1", "2"]
    assert cmds.rollback is True


def test_json_unknown_command_rejected():
    with pytest.raises(ValueError, match="Unknown command"):
        parse_json_update('{"frobnicate": {}}')


def test_csv_header_split_literals_trim():
    cmds = parse_csv_update(
        'id,tags, title\n1,"a|b", " Hello, World "\n2,c,Plain\n',
        split_fields={"tags": "|"},
        literals={"source": "csvload"},
        trim=True,
    )
    assert cmds.adds == [
        {"id": "1", "tags": ["a", "b"], "title": "Hello, World",
         "source": "csvload"},
        {"id": "2", "tags": ["c"], "title": "Plain", "source": "csvload"},
    ]


def test_csv_fieldnames_separator_skiplines():
    cmds = parse_csv_update(
        "garbage\n1;x\n2;y\n",
        separator=";",
        header=False,
        fieldnames=["id", "v"],
        skip_lines=1,
    )
    assert cmds.adds == [{"id": "1", "v": "x"}, {"id": "2", "v": "y"}]


@pytest.fixture(scope="module")
def store_root(spark, sf_dir, tmp_path_factory):
    # update_documents appends generations, so the store must use the
    # streaming (gen-partitioned) layout
    from lucene_solr_spark.pages import pages_from_documents
    from lucene_solr_spark.streaming import StreamingIndexer

    root = str(tmp_path_factory.mktemp("loader") / "idx")
    pages = pages_from_documents(spark, sf_dir)
    StreamingIndexer(spark, root, num_index_partitions=4).process_batch(
        pages, 0
    )
    return root


def test_apply_update_end_to_end(spark, store_root):
    from lucene_solr_spark.store.store import load_index, realtime_get

    url = "https://site1.example/doc/1"
    # the update request: delete doc 1 by id, add a replacement via the
    # bare-array shorthand (same unique key -> update semantics)
    payload = (
        '{"delete": "%s", '
        '"add": {"doc": {"url": "https://new.example/doc/x", '
        '"text": "fresh loader document text", "lang": "en"}}, '
        '"commit": {}}' % url
    )
    cmds = parse_json_update(payload)
    snap = apply_update(spark, store_root, cmds, key_col="url")
    assert snap is not None
    got = realtime_get(spark, store_root, ["https://new.example/doc/x", url])
    by_url = {r.url: r for r in got.collect()}
    assert "https://new.example/doc/x" in by_url
    assert url not in by_url  # deleted
    idx = load_index(spark, store_root)
    assert idx.docs.filter("url = 'https://new.example/doc/x'").count() == 1


def test_apply_rollback_is_noop(spark, store_root):
    cmds = parse_json_update('{"add": {"doc": {"url": "u", "text": "t"}}, '
                             '"rollback": {}}')
    assert apply_update(spark, store_root, cmds) is None


def test_xml_update_adds_and_deletes():
    from lucene_solr_spark.loader import parse_xml_update

    cmds = parse_xml_update(
        """
        <add commitWithin="5000">
          <doc>
            <field name="url">u1</field>
            <field name="text">alpha</field>
            <field name="tag">a</field>
            <field name="tag">b</field>
          </doc>
          <doc><field name="url">u2</field>
               <field name="text" null="true"/></doc>
        </add>
        <delete><id>u3</id><id>u4</id><query>lang:de</query></delete>
        <commit/>
        """
    )
    assert cmds.commit_within == 5000
    assert cmds.adds[0] == {
        "url": "u1", "text": "alpha", "tag": ["a", "b"]
    }
    assert cmds.adds[1] == {"url": "u2", "text": None}
    assert cmds.delete_ids == ["u3", "u4"]
    assert cmds.delete_queries == ["lang:de"]
    assert cmds.commit


def test_xml_update_atomic_ops():
    from lucene_solr_spark.loader import parse_xml_update

    cmds = parse_xml_update(
        """<add><doc>
             <field name="url">u1</field>
             <field name="views" update="inc">1</field>
             <field name="tags" update="add">x</field>
             <field name="tags" update="add">y</field>
           </doc></add>"""
    )
    assert cmds.adds[0]["views"] == {"inc": "1"}
    assert cmds.adds[0]["tags"] == {"add": ["x", "y"]}


def test_javabin_update_round_trip_from_reference_bytes():
    """The exact bytes the reference's JavaBinCodec produced for the
    update-request envelope (tests/data/javabin_goldens.tsv.gz row
    update_request) parse into the same commands."""
    import gzip
    import os

    from lucene_solr_spark.loader import parse_javabin_update

    data_dir = os.path.join(os.path.dirname(__file__), "data")
    with gzip.open(
        os.path.join(data_dir, "javabin_goldens.tsv.gz"),
        "rt",
        encoding="utf-8",
    ) as fh:
        goldens = dict(
            line.rstrip("\n").split("\t") for line in fh if line.strip()
        )
    cmds = parse_javabin_update(bytes.fromhex(goldens["update_request"]))
    assert cmds.delete_ids == ["7", "8"]
    assert cmds.delete_queries == ["lang:de"]
    assert cmds.adds == [
        {"id": "1", "text": "alpha"},
        {"id": "2", "text": "beta"},
    ]
    assert cmds.commit_within is None  # commitWithin=-1 means unset


def test_javabin_update_python_built():
    from lucene_solr_spark import javabin as jb
    from lucene_solr_spark.loader import parse_javabin_update

    up = jb.NamedList(
        [
            ("params", jb.NamedList([("commitWithin", jb.JInt(900))])),
            (
                "docs",
                [
                    jb.SolrInputDocument(
                        [("url", "u9"), ("tag", "a"), ("tag", "b")]
                    )
                ],
            ),
        ]
    )
    cmds = parse_javabin_update(jb.dumps(up))
    assert cmds.commit_within == 900
    assert cmds.adds == [{"url": "u9", "tag": ["a", "b"]}]
