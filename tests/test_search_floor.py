"""The per-search floor of the API read path.

A catalog handle is opened once per commit and holds the index metadata
on the driver (n_docs, avgdl per field, the term dictionary), so a
search compiles to literal-scored plans and runs only the jobs its
scoring needs; the winners' stored fields come from the row store on
the driver (tests/test_doc_store.py).  These tests pin:

- both sides of the two size gates (the driver term dictionary and the
  fuzzy/regex expansion) to bit-identical results, for every DSL shape
  of the ``search`` benchmark mix;
- literal scoring against the column-path scorer ``bm25_score``;
- that the cached handle follows commits (a flushed add, a committed
  delete);
- that a warm single-term search runs exactly one Spark job, and a
  faceted search at most four;
- that both sides of the aggregation gate (one task, or a doc_id
  shuffle) give bit-identical results, and that under the gate's row
  bound a warm bool, phrase, fuzzy or regex search runs one job;
- that a warm search of the benchmark mix makes at most 60 py4j round
  trips (median over the 11 body shapes).
"""

import statistics

import json

import pytest
from pyspark.sql import functions as F

from toshi_spark.api import ToshiApi
from toshi_spark.index import catalog as catalog_mod
from toshi_spark.index.catalog import IndexCatalog
from toshi_spark.query import compiler as compiler_mod
from toshi_spark.query.dsl import parse_search

SCHEMA = [
    {"name": "url", "type": "text",
     "options": {"indexing": {"record": "basic", "tokenizer": "raw"},
                 "stored": True}},
    {"name": "text", "type": "text",
     "options": {"indexing": {"record": "position",
                              "tokenizer": "default"},
                 "stored": False}},
    {"name": "ts", "type": "u64",
     "options": {"indexed": True, "stored": True, "fast": True}},
    {"name": "site", "type": "facet", "options": {"stored": True}},
]

# one body per DSL shape of the search benchmark's mix; the fuzzy and
# regex expansions each hold more than one term
BODIES = [
    {"query": {"term": {"text": "w1"}}, "limit": 10},
    {"query": {"term": {"text": "w13"}}, "limit": 10},
    {"query": {"bool": {"must": [{"term": {"text": "w1"}}],
                        "should": [{"term": {"text": "w12"}},
                                   {"term": {"text": "w5"}},
                                   {"term": {"text": "w5"}}],
                        "must_not": [{"term": {"text": "w4"}}]}},
     "limit": 10},
    {"query": {"phrase": {"text": {"terms": ["w2", "w3"]}}}, "limit": 10},
    {"query": {"fuzzy": {"text": {"value": "w12", "distance": 1}}},
     "limit": 10},
    {"query": {"regex": {"text": "w1[0-9]"}}, "limit": 10},
    {"query": {"range": {"ts": {"gte": 20, "lt": 60}}}, "limit": 10},
    {"query": {"raw": "text:w1 AND text:w12"}, "limit": 10},
    {"query": {"term": {"text": "w12"}}, "sort_by": "ts", "limit": 10},
    {"query": {"term": {"text": "w1"}}, "facets": {"site": ["/test"]},
     "limit": 10},
]


def _doc(i: int) -> dict:
    words = [f"w{i % k}" for k in (2, 3, 5, 7, 11, 13, 17, 19)]
    return {"url": f"https://s{i % 4}.test/p/{i}",
            "text": " ".join(words + words[:i % 4]),
            "ts": i, "site": f"/test/s{i % 4}"}


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """A committed 120-doc index built through the API, in two flushes
    (two segments, so df sums across segments)."""
    path = str(tmp_path_factory.mktemp("floor"))
    api = ToshiApi(IndexCatalog(spark, path))
    assert api.handle("PUT", "/fx/_create", SCHEMA)[0] == 201
    for lo in (0, 60):
        body = "".join(json.dumps(_doc(i)) + "\n"
                       for i in range(lo, lo + 60))
        assert api.handle("POST", "/fx/_bulk", body)[0] == 201
        assert api.handle("GET", "/fx/_flush")[0] == 200
    return path


def _run(spark, base: str) -> tuple[list, dict, list]:
    """(doc_id, score) rows of each body's top-k, the gates the term
    dictionary and the expansions took, and each API response."""
    cat = IndexCatalog(spark, base)
    api = ToshiApi(cat)
    ranks, gates, responses = [], {}, []
    for body in BODIES:
        ix = cat.open("fx")
        ranks.append([(r["doc_id"], r["score"])
                      for r in ix.rank_df(parse_search(body)).collect()])
        for k, v in ix.gates.items():
            gates.setdefault(k, set()).add(v)
        st, resp = api.handle("POST", "/fx", body)
        assert st == 200, resp
        responses.append(resp)
    return ranks, gates, responses


def test_both_gate_branches_agree_bitwise(spark, base, monkeypatch):
    ranks, gates, responses = _run(spark, base)
    assert gates == {"term_dict": {"driver"}, "expansion": {"literal"},
                     "expansion_source": {"driver"}, "agg": {"single"},
                     "fetch": {"driver"}}
    # every shape returns hits, so the comparison is not vacuous
    assert all(ranks), [len(r) for r in ranks]
    assert responses[-1]["facets"]

    monkeypatch.setattr(catalog_mod, "TERM_DICT_MAX_ROWS", 1)
    monkeypatch.setattr(compiler_mod, "EXPANSION_MAX_TERMS", 1)
    ranks2, gates2, responses2 = _run(spark, base)
    assert gates2 == {"term_dict": {"collect"},
                      "expansion": {"semi_join"},
                      "expansion_source": {"spark"},
                      "agg": {"single", "shuffle"}, "fetch": {"driver"}}
    # == on Python floats is bitwise equality of the doubles
    assert ranks2 == ranks
    assert responses2 == responses


def test_expansion_byte_bound_takes_the_semi_join(spark, base, monkeypatch):
    monkeypatch.setattr(compiler_mod, "EXPANSION_MAX_BYTES", 4)
    ix = IndexCatalog(spark, base).open("fx")
    rows = ix.rank_df(parse_search(BODIES[5])).collect()
    assert ix.gates["expansion"] == "semi_join"
    assert len(rows) == 10


def test_compile_term_equals_bm25_score(spark, base):
    from toshi_spark.query.compiler import Compiler
    from toshi_spark.query.dsl import ExactTerm
    from toshi_spark.scoring import bm25_score

    ix = IndexCatalog(spark, base).open("fx")
    for term in ("w1", "w12", "w16"):
        got = Compiler(ix).compile(ExactTerm("text", term))
        matched = ix.postings.filter(
            (F.col("field") == "text") & (F.col("term") == term)
        ).select("field", "term", "doc_id", "tf", "doc_len")
        want = bm25_score(matched, ix.doclens, ix.termstats, ix.n_docs,
                          ix.fieldstats, tf_mode="basic",
                          unique_doc_terms=True)
        got_rows = sorted((r["doc_id"], r["score"]) for r in got.collect())
        want_rows = sorted((r["doc_id"], r["score"])
                           for r in want.collect())
        assert got_rows and got_rows == want_rows, term


def _urls(api, term: str) -> list[str]:
    st, resp = api.handle("POST", "/fx2",
                          {"query": {"term": {"text": term}}, "limit": 10})
    assert st == 200, resp
    return [d["doc"]["url"] for d in resp["docs"]]


def test_cached_handle_follows_commits(spark, tmp_path):
    cat = IndexCatalog(spark, str(tmp_path))
    api = ToshiApi(cat)
    assert api.handle("PUT", "/fx2/_create", SCHEMA)[0] == 201
    body = "".join(json.dumps(_doc(i)) + "\n" for i in range(20))
    api.handle("POST", "/fx2/_bulk", body)
    api.handle("GET", "/fx2/_flush")
    assert _urls(api, "freshterm") == []
    ix = cat.open("fx2")
    assert cat.open("fx2") is ix, "one open per commit"

    new = dict(_doc(99), text="freshterm w1")
    api.handle("POST", "/fx2/_bulk", json.dumps(new) + "\n")
    assert _urls(api, "freshterm") == [], "not visible before the flush"
    api.handle("GET", "/fx2/_flush")
    assert _urls(api, "freshterm") == [new["url"]]

    st, resp = api.handle("DELETE", "/fx2",
                          {"terms": {"text": "freshterm"},
                           "options": {"commit": True}})
    assert st == 200 and resp["docs_affected"] == 1
    assert _urls(api, "freshterm") == []
    assert cat.open("fx2") is not ix


def _warm_jobs(spark, base: str, body: dict,
               group: str) -> tuple[dict, int]:
    """Run ``body`` once to open the handle, then again under a job
    group; returns the second response and its Spark job count."""
    api = ToshiApi(IndexCatalog(spark, base))
    assert api.handle("POST", "/fx", body)[0] == 200  # opens the handle
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        st, resp = api.handle("POST", "/fx", body)
    finally:
        sc.setJobGroup(f"after_{group}", "")
    assert st == 200, resp
    return resp, len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_single_term_search_runs_one_job(spark, base):
    resp, jobs = _warm_jobs(
        spark, base, {"query": {"term": {"text": "w12"}}, "limit": 10},
        "search_floor")
    assert len(resp["docs"]) == 10
    # the ranking job only: no open, no broadcast, no doc fetch
    assert jobs == 1


def test_warm_faceted_search_runs_at_most_four_jobs(spark, base):
    resp, jobs = _warm_jobs(spark, base, BODIES[-1], "facet_floor")
    assert len(resp["docs"]) == 10 and len(resp["facets"]) == 4
    # ranking, plus the facet collector's join and aggregation; the
    # counts are sorted on the driver
    assert jobs <= 4, jobs


def test_facet_counts_sorted_on_the_driver_in_spark_string_order(spark):
    """Facet counts are sorted on the driver by UTF-8 bytes; the order
    must equal Spark's string order, for multi-level and non-ASCII paths
    (U+FF5E and U+1F600 sort differently in UTF-16)."""
    from toshi_spark.engine import FullTextIndex
    from toshi_spark.schema import FieldSpec, IndexSchema

    paths = ["/a/b/c", "/a/b", "/a/B/x", "/a/é/1", "/a/z", "/a/Z",
             "/a/\uff5e", "/a/\U0001f600/q", "/a/日本/東京", "/a/ä",
             "/b/x", "/\U0001f600", "/\uff5e/y", "/é", "/A"]
    rows = [(i, "x", p) for i, p in enumerate(paths * 2 + paths[:5])]
    corpus = spark.createDataFrame(rows, "doc_id long, text string, "
                                         "cat string")
    schema = IndexSchema([FieldSpec("text", "text"),
                          FieldSpec("cat", "facet", indexed=False)])
    ix = FullTextIndex.build(spark, corpus, schema, cache=False)
    for prefix, n_children in (("/", 6), ("/a", 9), ("/a/b", 1)):
        got = ix.facet_counts(parse_search(
            {"query": {"term": {"text": "x"}}, "facets": {"cat": [prefix]}}))
        assert len(got) == n_children, (prefix, got)
        ordered = spark.createDataFrame(
            [(r["field"], r["value"]) for r in got],
            "field string, value long").orderBy("field").collect()
        assert [(r["field"], r["value"]) for r in ordered] == [
            (r["field"], r["value"]) for r in got], prefix


# the search benchmark's 11 body shapes: BODIES plus a third term body
MIX = BODIES[:2] + [{"query": {"term": {"text": "w16"}}, "limit": 10}] \
    + BODIES[2:]
AGG_BODIES = [BODIES[2], BODIES[3], BODIES[4], BODIES[5], BODIES[7]]


def test_agg_gate_branches_agree_bitwise(spark, base, monkeypatch):
    def ranks():
        ix = IndexCatalog(spark, base).open("fx")
        out, gates = [], set()
        for body in AGG_BODIES:
            out.append([(r["doc_id"], r["score"]) for r in
                        ix.rank_df(parse_search(body)).collect()])
            gates.add(ix.gates["agg"])
        return out, gates

    single, g1 = ranks()
    monkeypatch.setattr(compiler_mod, "AGG_SINGLE_MAX_ROWS", 0)
    shuffled, g2 = ranks()
    assert (g1, g2) == ({"single"}, {"shuffle"})
    assert all(single)
    # == on Python floats is bitwise equality of the doubles
    assert single == shuffled


@pytest.mark.parametrize("i", range(len(AGG_BODIES)))
def test_warm_aggregating_search_runs_one_job(spark, base, i):
    resp, jobs = _warm_jobs(spark, base, AGG_BODIES[i], f"agg_floor_{i}")
    assert resp["docs"]
    # under the agg bound the scan is coalesced: no Exchange, no AQE
    # re-plan, so ranking is one job
    assert jobs == 1, (AGG_BODIES[i], jobs)


def test_warm_search_py4j_floor(spark, base, py4j_calls):
    api = ToshiApi(IndexCatalog(spark, base))
    counts = []
    for body in MIX:
        assert api.handle("POST", "/fx", body)[0] == 200  # warm
        with py4j_calls() as n:
            st, resp = api.handle("POST", "/fx", body)
        assert st == 200, resp
        counts.append(n[0])
    assert statistics.median(counts) <= 60, counts
