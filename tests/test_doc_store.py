"""The driver-side doc store of a catalog handle.

A catalog handle whose row store is on disk fetches the k winners'
stored fields with pyarrow, from only the row groups that hold them
(``catalog.DocStore``); a handle with no row store on disk fetches them
in one pushed Spark scan.  These tests pin:

- that both fetches give identical API responses over a row store with
  every layout a commit can leave: two flushes and a merge, a committed
  delete, an array-promoted field, docs that lack a stored field;
- that the lookup reads at most k row groups of a row store written in
  many small ones;
- that a flush succeeds when no doc of the batch carries an indexed
  text field, on both parse paths;
- that a stored field some part files lack reads back from the files
  that have it, in both flush orders, through both row-store readers;
- that array columns a lost index.json save does not list still read
  as arrays, and that the API refuses a date that is not a string.
"""

import json

import pyarrow.parquet as pq
import pytest

from toshi_spark.api import ToshiApi
from toshi_spark.index import catalog as catalog_mod
from toshi_spark.index.catalog import IndexCatalog

from test_search_floor import BODIES, SCHEMA, _doc


def _bulk_flush(api, docs) -> None:
    body = "".join(json.dumps(d) + "\n" for d in docs)
    st, resp = api.handle("POST", "/fx/_bulk", body)
    assert st == 201, resp
    st, resp = api.handle("GET", "/fx/_flush")
    assert st == 200, resp


def _both_fetches(api, cat, body) -> tuple[dict, dict, list]:
    """The API response with the handle's doc store, then with the
    pushed Spark fetch, and the fetch gate each one recorded."""
    ix = cat.open("fx")
    st, driver = api.handle("POST", "/fx", body)
    assert st == 200, driver
    gates = [ix.gates.get("fetch")]
    store, ix.doc_store = ix.doc_store, None
    try:
        st, pushed = api.handle("POST", "/fx", body)
    finally:
        ix.doc_store = store
    assert st == 200, pushed
    return driver, pushed, gates + [ix.gates.get("fetch")]


def test_driver_fetch_matches_spark_fetch(spark, tmp_path):
    cat = IndexCatalog(spark, str(tmp_path))
    api = ToshiApi(cat, merge_policy={"kind": "log", "min_merge_size": 2})
    assert api.handle("PUT", "/fx/_create", SCHEMA)[0] == 201
    # two flushes, merged into one segment by the second commit
    _bulk_flush(api, [_doc(i) for i in range(0, 50)])
    _bulk_flush(api, [_doc(i) for i in range(50, 100)])
    assert len(api.handle("GET", "/fx/_summary")[1]
               ["summaries"]["segments"]) == 1
    # url goes multi-valued: the row store is rewritten with url as an
    # array; docs 100-119 also lack the stored site field
    promoted = []
    for i in range(100, 120):
        d = _doc(i)
        del d["site"]
        if i % 3 == 0:
            d["url"] = [d["url"], f"https://mirror.test/{i}"]
        promoted.append(d)
    _bulk_flush(api, promoted)
    # a flush after the promotion, into a per-flush part directory
    _bulk_flush(api, [_doc(i) for i in range(120, 160)])
    st, resp = api.handle("DELETE", "/fx",
                          {"terms": {"url": "https://s1.test/p/1"},
                           "options": {"commit": True}})
    assert st == 200 and resp["docs_affected"] == 1

    bodies = BODIES + [
        {"query": {"term": {"text": "w1"}}, "limit": 500},
        {"query": {"range": {"ts": {"gte": 95, "lt": 125}}}, "limit": 500},
        {"query": {"term": {"text": "w16"}}, "sort_by": "ts",
         "limit": 500},
    ]
    for body in bodies:
        driver, spark_, gates = _both_fetches(api, cat, body)
        assert gates == ["driver", "spark"] and driver["docs"], body
        # == on the parsed responses compares scores as doubles
        assert driver == spark_, body
    # limit above the hit count: every hit, the deleted doc left out
    everything = _both_fetches(api, cat, bodies[-3])[0]
    urls = [d["doc"]["url"] for d in everything["docs"]]
    assert everything["hits"] == len(urls) == 128
    assert "https://s1.test/p/1" not in urls
    assert ["https://s1.test/p/105", "https://mirror.test/105"] in urls
    assert any(d["doc"]["site"] is None for d in everything["docs"])


def test_lookup_reads_at_most_k_row_groups(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(catalog_mod, "ROWSTORE_ROW_GROUP_BYTES", 1)
    cat = IndexCatalog(spark, str(tmp_path))
    api = ToshiApi(cat)
    assert api.handle("PUT", "/fx/_create", SCHEMA)[0] == 201
    _bulk_flush(api, [_doc(i) for i in range(2000)])
    store = cat.open("fx").doc_store
    groups = sum(pq.read_metadata(f).num_row_groups for f in store.files)
    assert groups >= 12, groups

    read = []
    real = pq.ParquetFile.read_row_groups

    def spy(self, row_groups, *a, **kw):
        read.append(len(row_groups))
        return real(self, row_groups, *a, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", spy)
    for k in (1, 5, 10):
        read.clear()
        body = {"query": {"term": {"text": "w1"}}, "limit": k}
        driver, spark_, gates = _both_fetches(api, cat, body)
        assert gates == ["driver", "spark"]
        assert len(driver["docs"]) == k and driver == spark_
        assert 1 <= sum(read) <= k, (k, read)


SCHEMA_LANG = SCHEMA + [
    {"name": "lang", "type": "text",
     "options": {"indexing": {"record": "basic", "tokenizer": "raw"},
                 "stored": True}},
]


@pytest.mark.parametrize("flush_bytes", [1 << 30, 1],
                         ids=["driver_parse", "distributed_parse"])
def test_flush_without_an_indexed_text_field(spark, tmp_path, flush_bytes):
    """No doc of the batch carries ``lang``, an indexed text field: the
    flush commits the batch (before, ``analyze_corpus`` raised
    UNRESOLVED_COLUMN and the batch stayed staged)."""
    cat = IndexCatalog(spark, str(tmp_path),
                       flush_distributed_bytes=flush_bytes)
    api = ToshiApi(cat)
    assert api.handle("PUT", "/fx/_create", SCHEMA_LANG)[0] == 201
    docs = [{"url": f"https://x.test/{i}", "text": f"nolang w{i}",
             "ts": i} for i in range(3)]
    _bulk_flush(api, docs)
    _bulk_flush(api, [dict(_doc(7), lang="en")])
    for term, want in (("nolang", 3), ("w7", 1)):
        st, resp = api.handle(
            "POST", "/fx", {"query": {"term": {"text": term}}})
        assert st == 200 and resp["hits"] == want, resp
    st, resp = api.handle("POST", "/fx",
                          {"query": {"term": {"lang": "en"}}})
    assert st == 200 and [d["doc"]["url"] for d in resp["docs"]] == [
        "https://s3.test/p/7"]
    assert api.handle("GET", "/fx/_summary")[1]["summaries"][
        "num_docs"] == 4


@pytest.mark.parametrize("site_first", [True, False],
                         ids=["site_first", "site_second"])
def test_stored_field_missing_from_some_part_files(spark, tmp_path,
                                                   site_first):
    cat = IndexCatalog(spark, str(tmp_path))
    api = ToshiApi(cat, merge_policy={"kind": "none"})
    assert api.handle("PUT", "/fx/_create", SCHEMA)[0] == 201
    with_site = [_doc(i) for i in range(0, 12)]
    without = [{k: v for k, v in _doc(i).items() if k != "site"}
               for i in range(12, 24)]
    for batch in ((with_site, without) if site_first
                  else (without, with_site)):
        _bulk_flush(api, batch)
    want = {d["url"]: d.get("site") for d in with_site + without}

    term = {"query": {"term": {"text": "w0"}}, "limit": 100}
    rng = {"query": {"range": {"ts": {"gte": 0, "lt": 24}}}, "limit": 100}

    def check(resp, body):
        got = {d["doc"]["url"]: d["doc"]["site"] for d in resp["docs"]}
        assert got and got == {u: want[u] for u in got}, body

    for body in (term, rng):
        st, resp = api.handle("POST", "/fx", body)
        assert st == 200
        check(resp, body)
        check(_both_fetches(api, cat, body)[1], body)
    # the facet collector reads site through the Spark frame
    st, resp = api.handle("POST", "/fx", {**rng, "facets": {
        "site": ["/test"]}})
    assert st == 200
    assert sum(f["value"] for f in resp["facets"]) == len(with_site)


def test_promotion_replay_after_lost_meta_save(spark, tmp_path):
    """A crash after the array-promotion swap but before the flush saves
    index.json leaves array files that index.json does not list; the
    replayed flush and both readers must still read them as arrays."""
    import os

    cat = IndexCatalog(spark, str(tmp_path))
    api = ToshiApi(cat, merge_policy={"kind": "none"})
    assert api.handle("PUT", "/fx/_create", SCHEMA)[0] == 201
    _bulk_flush(api, [_doc(i) for i in range(6)])
    multi = dict(_doc(6), url=[_doc(6)["url"], "https://mirror.test/6"])
    assert api.handle("POST", "/fx/_bulk", json.dumps(multi) + "\n")[0] == 201
    pending = os.path.join(cat._dir("fx"), "pending.jsonl")
    staged, meta_before = open(pending).read(), cat._meta("fx")
    assert api.handle("GET", "/fx/_flush")[0] == 200
    with open(pending, "w") as f:
        f.write(staged)
    cat._save_meta("fx", meta_before)
    assert api.handle("GET", "/fx/_flush")[0] == 200  # the replay
    assert cat._meta("fx")["array_fields"] == ["url"]
    body = {"query": {"range": {"ts": {"gte": 0, "lt": 10}}}, "limit": 10}
    driver, spark_, _ = _both_fetches(api, cat, body)
    assert driver == spark_ and driver["hits"] == 7
    assert driver["docs"][-1]["doc"]["url"] == multi["url"]


def test_bulk_rejects_a_non_string_date(spark, tmp_path):
    """The row store types a date field as string, so the API refuses
    any other JSON type before staging (a staged int date would fail
    every later flush)."""
    api = ToshiApi(IndexCatalog(spark, str(tmp_path)))
    schema = SCHEMA + [{"name": "day", "type": "date",
                        "options": {"stored": True}}]
    assert api.handle("PUT", "/fx/_create", schema)[0] == 201
    st, resp = api.handle("POST", "/fx/_bulk",
                          json.dumps(dict(_doc(1), day=20200101)) + "\n")
    assert st == 400 and "expected string" in resp["message"]
    _bulk_flush(api, [dict(_doc(2), day="2020-01-01T00:00:00Z")])
    st, resp = api.handle("POST", "/fx",
                          {"query": {"term": {"text": "w2"}}})
    assert [d["doc"]["day"] for d in resp["docs"]] == [
        "2020-01-01T00:00:00Z"]


def test_doc_store_span_bound_takes_the_spark_fetch(spark, tmp_path,
                                                    monkeypatch):
    """Above ``DOC_STORE_MAX_SPANS`` row groups a handle holds no footer
    index and fetches in Spark; the API responses stay identical."""
    cat = IndexCatalog(spark, str(tmp_path))
    api = ToshiApi(cat)
    assert api.handle("PUT", "/fx/_create", SCHEMA)[0] == 201
    _bulk_flush(api, [_doc(i) for i in range(0, 40)])
    _bulk_flush(api, [_doc(i) for i in range(40, 80)])

    def responses(bound):
        monkeypatch.setattr(catalog_mod, "DOC_STORE_MAX_SPANS", bound)
        cat2 = IndexCatalog(spark, str(tmp_path))
        api2 = ToshiApi(cat2)
        out = []
        for body in BODIES:
            st, resp = api2.handle("POST", "/fx", body)
            assert st == 200, resp
            out.append(resp)
        ix = cat2.open("fx")
        return out, ix.doc_store is not None, ix.gates["fetch"]

    spans = sum(pq.read_metadata(p).num_row_groups for p in
                catalog_mod._part_files(cat._rowstore_path("fx")))
    assert spans >= 2
    held, has_store, gate = responses(spans)
    assert (has_store, gate) == (True, "driver")
    pushed, has_store, gate = responses(spans - 1)
    assert (has_store, gate) == (False, "spark")
    # == on Python floats is bitwise equality of the doubles
    assert pushed == held
    assert all(r["docs"] for r in held)
