"""Doc-sharded postings (index/bucketed.py): identity + plan pins.

The layout trades ONE write-time shuffle (bucketBy doc_id) for
exchange-free multi-term queries: phrase/bool intersections group by
doc_id directly on the bucketed scan.  These tests pin

  1. result identity: every query returns the same rows with and
     without the doc-sharded copy enabled,
  2. the plan claim: the bucketed phrase/bool plans have ZERO doc_id
     hash exchanges (vs exactly one on the default layout, pinned in
     test_plan_shapes.py),
  3. scan pruning: the bucketed scan carries partition filters on
     (field, term_bkt) — a P-term query reads <= P dirs,
  4. single-term routing: term lookups never touch the bucketed copy,
  5. the driver-side bucket hash matches the JVM expression.
"""

import re

from pyspark.sql import Row, functions as F

from toshi_spark.index.bucketed import term_bucket_col, term_bucket_py
from toshi_spark.query import compiler
from toshi_spark.query.dsl import parse_search


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _hash_exchanges(df) -> list[str]:
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    return [m.group(1)
            for m in re.finditer(r"Exchange hashpartitioning\((\w+)", plan)]


def _search_index(spark, tmp_path):
    from toshi_spark.engine import FullTextIndex
    from toshi_spark.schema import FieldSpec, IndexSchema

    docs = spark.createDataFrame(
        [Row(doc_id=i,
             text=f"alpha beta tok{i} {'spark' if i % 3 == 0 else 'flink'}")
         for i in range(60)]
    )
    schema = IndexSchema(
        [FieldSpec("text", "text", stored=True, indexed=True,
                   positions=True)]
    )
    return FullTextIndex.build(
        spark, docs, schema, id_col="doc_id", name="docbpin", cache=False,
    )


PHRASE = {"query": {"phrase": {"text": {"terms": ["alpha", "beta"]}}},
          "limit": 100}
BOOL = {"query": {"bool": {
    "must": [{"term": {"text": "spark"}}, {"term": {"text": "alpha"}}],
    "must_not": [{"term": {"text": "tok7"}}],
}}, "limit": 100}
TERM = {"query": {"term": {"text": "spark"}}, "limit": 100}


def _rows(df):
    return sorted(tuple(r) for r in df.select("doc_id", "score").collect())


def test_bucket_hash_python_matches_jvm(spark):
    terms = ["alpha", "beta", "маркер00000001", "日本語", "tok42", ""]
    got = dict(
        spark.createDataFrame([(t,) for t in terms], "term string")
        .select("term", term_bucket_col(F.col("term"), 16).alias("b"))
        .collect()
    )
    for t in terms:
        assert got[t] == term_bucket_py(t, 16), t


def test_results_identical_with_doc_sharded_copy(spark, tmp_path):
    ix = _search_index(spark, tmp_path)
    before = {name: _rows(ix.search_df(parse_search(q)))
              for name, q in [("phrase", PHRASE), ("bool", BOOL),
                              ("term", TERM)]}
    ix.enable_doc_bucketed(str(tmp_path / "docb"), n_term_partitions=8,
                           n_buckets=4)
    for name, q in [("phrase", PHRASE), ("bool", BOOL), ("term", TERM)]:
        assert _rows(ix.search_df(parse_search(q))) == before[name], name


def test_phrase_and_bool_plans_have_zero_doc_id_exchanges(spark, tmp_path,
                                                          monkeypatch):
    # above the single-task row bound, where the default layout shuffles
    monkeypatch.setattr(compiler, "AGG_SINGLE_MAX_ROWS", 0)
    ix = _search_index(spark, tmp_path).enable_doc_bucketed(
        str(tmp_path / "docb"), n_term_partitions=8, n_buckets=4)
    for q in (PHRASE, BOOL):
        keys = _hash_exchanges(ix.search_df(parse_search(q)))
        assert not [k for k in keys if k.startswith("doc_id")], keys
        # whatever remains is metadata-grain (avgdl per field)
        assert all(k.startswith("field") for k in keys), keys


def test_bucketed_scan_prunes_term_partitions(spark, tmp_path):
    ix = _search_index(spark, tmp_path).enable_doc_bucketed(
        str(tmp_path / "docb"), n_term_partitions=8, n_buckets=4)
    plan = _plan(ix.search_df(parse_search(PHRASE)))
    assert "Bucketed: true" in plan, plan
    pf = re.search(r"PartitionFilters: \[[^\]]*term_bkt[^\]]*\]", plan)
    assert pf, plan


def test_single_term_keeps_term_sorted_layout(spark, tmp_path):
    ix = _search_index(spark, tmp_path).enable_doc_bucketed(
        str(tmp_path / "docb"), n_term_partitions=8, n_buckets=4)
    plan = _plan(ix.search_df(parse_search(TERM)))
    assert "toshi_docb" not in plan, plan


def test_catalog_doc_sharded_lifecycle(spark, tmp_path, monkeypatch):
    """The production wiring: build_doc_sharded stamps the copy with
    the manifest fingerprint; open() attaches it while the stamp
    matches; committed deletes filter at read (copy stays); new
    segments make the stale copy fall away until rebuilt."""
    from toshi_spark.index.catalog import IndexCatalog

    # above the single-task row bound, where the default layout shuffles
    monkeypatch.setattr(compiler, "AGG_SINGLE_MAX_ROWS", 0)

    cat = IndexCatalog(spark, str(tmp_path))
    cat.create_index("dsx", [{"name": "text", "ftype": "text",
                              "stored": False, "indexed": True}],
                     merge_policy={"kind": "none"})
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha beta tok{i}") for i in range(60)])
    cat.ingest("dsx", docs, fingerprint="c1")

    ix0 = cat.open("dsx")
    assert ix0.doc_bucketed is None
    df0 = ix0.search_df(parse_search(PHRASE))
    want = _rows(df0)
    assert len(want) == 60
    doc_exch_before = [k for k in _hash_exchanges(df0)
                       if k.startswith("doc_id")]

    cat.build_doc_sharded("dsx", n_term_partitions=8, n_buckets=4)
    ix1 = cat.open("dsx")
    assert ix1.doc_bucketed is not None
    df = ix1.search_df(parse_search(PHRASE))
    doc_exch_after = [k for k in _hash_exchanges(df)
                      if k.startswith("doc_id")]
    # the phrase-grouping exchange is gone; what remains is the
    # stored-field-less catalog's row-store fallback (doclens
    # .distinct() stands in for the corpus), which is orthogonal to
    # the postings layout
    assert len(doc_exch_after) == len(doc_exch_before) - 1, (
        doc_exch_before, doc_exch_after)
    assert "Bucketed: true" in _plan(df)
    assert _rows(df) == want

    # committed delete: manifest unchanged -> copy stays attached,
    # the tombstoned doc vanishes from the bucketed read path
    assert cat.delete_term("dsx", {"text": "tok7"}, commit=True) == 1
    ix2 = cat.open("dsx")
    assert ix2.doc_bucketed is not None
    got = _rows(ix2.search_df(parse_search(PHRASE)))
    assert got == [r for r in want if r[0] != 7]

    # new segments: the stale copy falls away (correct-but-slower)
    cat.ingest("dsx", spark.createDataFrame(
        [Row(doc_id=100 + i, text="alpha beta fresh") for i in range(5)]),
        fingerprint="c2")
    ix3 = cat.open("dsx")
    assert ix3.doc_bucketed is None
    got3 = _rows(ix3.search_df(parse_search(PHRASE)))
    assert len(got3) == len(got) + 5

    # rebuild re-stamps; attach returns, results identical
    cat.build_doc_sharded("dsx", n_term_partitions=8, n_buckets=4)
    ix4 = cat.open("dsx")
    assert ix4.doc_bucketed is not None
    assert _rows(ix4.search_df(parse_search(PHRASE))) == got3


def test_attach_written_copy_in_new_session(spark, tmp_path):
    """Cross-session durability: write the copy, drop its catalog
    entry (what a session restart does — the in-memory catalog dies
    with the session, the files do not), attach via DDL, and pin that
    the attached table serves the same rows on the same exchange-free
    bucketed plan."""
    ix = _search_index(spark, tmp_path)
    path = str(tmp_path / "docb")
    ix.enable_doc_bucketed(path, n_term_partitions=8, n_buckets=4)
    want = {name: _rows(ix.search_df(parse_search(q)))
            for name, q in [("phrase", PHRASE), ("bool", BOOL)]}
    spark.sql(f"DROP TABLE {ix.doc_bucketed.table}")
    ix.doc_bucketed = None

    ix.attach_doc_bucketed(path)
    # sidecar, not caller, supplies the layout
    assert ix.doc_bucketed.n_term_partitions == 8
    assert ix.doc_bucketed.n_buckets == 4
    for name, q in [("phrase", PHRASE), ("bool", BOOL)]:
        df = ix.search_df(parse_search(q))
        keys = _hash_exchanges(df)
        assert not [k for k in keys if k.startswith("doc_id")], keys
        assert "Bucketed: true" in _plan(df)
        assert _rows(df) == want[name], name
