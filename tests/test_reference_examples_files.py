"""Round-trip Toshi's documented example files through the API.

fixtures/lyrics_schema.json reconstructs Toshi's example schema (lyrics
corpus); fixtures/lyrics_doc.json is an example AddDocument body (see
fixtures/README.md).  Creating an index from the schema JSON and adding
the document exercises the Toshi-compatible surface on both option
shapes: ``indexing`` objects on text fields, flat ``indexed`` on ints.
"""

import json
import os

import pytest

from toshi_spark.api import ToshiApi
from toshi_spark.index.catalog import IndexCatalog

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "fixtures")


@pytest.fixture(scope="module")
def api(spark, tmp_path_factory):
    return ToshiApi(IndexCatalog(spark, str(tmp_path_factory.mktemp("lyr"))))


def test_reference_schema_and_doc_roundtrip(api):
    with open(os.path.join(FIXTURES, "lyrics_schema.json")) as f:
        schema_body = json.load(f)
    code, _ = api.handle("PUT", "/lyrics/_create", schema_body)
    assert code == 201
    with open(os.path.join(FIXTURES, "lyrics_doc.json")) as f:
        add_body = json.load(f)
    code, _ = api.handle("PUT", "/lyrics", add_body)  # commit: true
    assert code == 201
    # the document must be findable by a term from its own lyrics field
    doc = add_body["document"]
    from toshi_spark.analyzer import terms_only

    probe = terms_only(doc["lyrics"])[0]
    code, resp = api.handle("POST", "/lyrics",
                            {"query": {"term": {"lyrics": probe}}})
    assert code == 200 and resp["hits"] == 1
    got = resp["docs"][0]["doc"]
    assert got["artist"] == doc["artist"]
    assert got["year"] == doc["year"]
    # i64/u64 parsed with indexed (not indexing) option shape
    code, resp = api.handle("POST", "/lyrics", {
        "query": {"range": {"year": {"gte": doc["year"],
                                     "lte": doc["year"]}}}})
    assert resp["hits"] == 1
