"""Physical-plan shape assertions for the pipeline operators' scale
claims.

COVERAGE.md/docstrings claim specific shapes — "the blocklist
broadcasts", "the corpus never shuffles", "no all-pairs join".  These
tests pin the claims to the actual physical plan so a refactor that
silently degrades a broadcast into a shuffle join (or worse, a
cartesian product) fails CI instead of surfacing as a 100 TB incident.

Plans are inspected BEFORE execution (AdaptiveSparkPlan initial plan):
explicit F.broadcast hints resolve at planning time, which is exactly
what these tests guard.
"""

from pyspark.sql import Row, functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark, n=30):
    return spark.createDataFrame(
        [Row(doc_id=i, text=f"tok{i} tok{i + 1} the quick fox {i}")
         for i in range(n)]
    )


def test_blocklist_filter_broadcasts_anti_join(spark):
    from toshi_spark.pipeline.training import blocklist_filter

    pages = spark.createDataFrame(
        [Row(doc_id=0, url="https://a.com/x")])
    blocked = spark.createDataFrame([Row(host="a.com")])
    p = _plan(blocklist_filter(pages, blocked))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_contamination_eval_join_broadcasts(spark):
    from toshi_spark.pipeline.training import contamination

    ev = spark.createDataFrame([Row(gram="a b c d e f g h")])
    p = _plan(contamination(_docs(spark), ev))
    # the eval-gram match is hinted broadcast (the per-doc restore
    # join IS a sort-merge on doc_id — correct, both sides doc-scale)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_dsir_ratio_table_broadcasts(spark):
    from toshi_spark.pipeline.training import dsir_weights

    docs = _docs(spark)
    p = _plan(dsir_weights(docs, docs.limit(5)))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_apply_thresholds_broadcasts_group_cutoffs(spark):
    from toshi_spark.pipeline.training import (
        apply_thresholds,
        score_thresholds,
    )

    scored = spark.createDataFrame(
        [(i, "en", float(i)) for i in range(10)],
        "doc_id long, lang string, quality double",
    )
    th = score_thresholds(scored, keep_rate=0.5)
    p = _plan(apply_thresholds(scored, th))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_fuzzy_contamination_band_match_broadcasts(spark):
    from toshi_spark.pipeline.training import fuzzy_contamination

    # inspect the CANDIDATE subplan shape via the full operator's plan
    # string captured pre-collect is impossible (the operator returns
    # an eagerly-materialized frame) — so pin the building blocks:
    # band_buckets explodes map-only and the eval side is hinted.
    from toshi_spark.pipeline.dedup import (
        _signatures_from_tokens,
        band_buckets,
        tokens_col,
    )

    docs = _docs(spark)
    toks = docs.select("doc_id", tokens_col("text").alias("_toks"))
    tb = band_buckets(_signatures_from_tokens(toks, 8, 3), 8, 4)
    eb = tb.withColumnRenamed("doc_id", "eval_id")
    cand = tb.join(F.broadcast(eb), ["band", "bucket"])
    p = _plan(cand)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # band explosion is a Generate over the signature projection —
    # no exchange before the join's broadcast side
    assert "Generate explode" in p
    # and the public operator still returns rows (shape smoke)
    out = fuzzy_contamination(docs, docs.limit(3), threshold=0.5)
    assert {r["doc_id"] for r in out.collect()} >= {0, 1, 2}


def test_mix_weights_normalizers_broadcast_not_cartesian(spark):
    from toshi_spark.pipeline.training import mix_weights

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 else "fr") for i in range(10)],
        "doc_id long, lang string",
    )
    p = _plan(mix_weights(docs))
    # 1-row normalizers join via broadcast nested loop, never a
    # shuffled cartesian
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


# --- Round 6: search-path pins (BASELINE.md plan-audit claims) ----------
#
# The load-bearing serving-path claims lived in prose only; these
# assertions keep a compiler refactor from silently regressing them.
# Counting convention: FULL lineage with cache=False over a
# parquet-backed corpus, of the ranking job a search runs
# (``rank_df``: compile + top-k).  Index metadata (n_docs, avgdl, each
# query term's df) enters the plan as literals, so no plan joins or
# broadcasts a metadata table; the only acceptable exchanges are the
# doc_id ones named below.

import re

import pytest


def _hash_exchanges(df) -> list[str]:
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" not in plan, plan
    keys = [m.group(1)
            for m in re.finditer(r"Exchange hashpartitioning\((\w+)", plan)]
    # every exchange in the plan is a hash exchange counted above
    assert plan.count("Exchange") == len(keys), plan
    return keys


def _search_index(spark, tmp_path):
    from toshi_spark.engine import FullTextIndex
    from toshi_spark.schema import FieldSpec, IndexSchema

    docs = spark.createDataFrame(
        [Row(doc_id=i,
             text=f"alpha beta tok{i} {'spark' if i % 3 == 0 else 'flink'}")
         for i in range(50)]
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "docs"))
    schema = IndexSchema(
        [FieldSpec("text", "text", stored=True, indexed=True,
                   positions=True)]
    )
    return FullTextIndex.build(
        spark, spark.read.parquet(str(tmp_path / "docs")), schema,
        id_col="doc_id", name="planpin", cache=False,
    )


def test_single_term_plan_has_no_data_scale_exchange(spark, tmp_path):
    """Single-term BM25: pushed scan → literal score → top-k; no
    Exchange and no BroadcastExchange anywhere in the lineage."""
    from toshi_spark.query.dsl import parse_search

    ix = _search_index(spark, tmp_path)
    df = ix.rank_df(
        parse_search({"query": {"term": {"text": "spark"}}, "limit": 10})
    )
    assert _hash_exchanges(df) == []
    assert len(df.collect()) == 10


PHRASE_BODY = {"query": {"phrase": {"text": {"terms": ["alpha", "beta"]}}},
               "limit": 10}
BOOL_BODY = {"query": {"bool": {"must": [{"term": {"text": "spark"}}],
                                "must_not": [{"term": {"text": "tok3"}}]}},
             "limit": 10}


def test_phrase_plan_has_exactly_one_doc_id_exchange(spark, tmp_path,
                                                     monkeypatch):
    """Phrase: the term→positions groupBy is the one doc_id exchange;
    nothing is broadcast.  (Above the single-task row bound, here 0.)"""
    from toshi_spark.query import compiler
    from toshi_spark.query.dsl import parse_search

    monkeypatch.setattr(compiler, "AGG_SINGLE_MAX_ROWS", 0)
    ix = _search_index(spark, tmp_path)
    df = ix.rank_df(
        parse_search({"query": {"phrase": {"text": {"terms":
                     ["alpha", "beta"]}}}, "limit": 10})
    )
    assert _hash_exchanges(df) == ["doc_id"]
    assert len(df.collect()) == 10


def test_bool_fast_path_has_exactly_one_doc_id_exchange(spark, tmp_path,
                                                        monkeypatch):
    """Bool fast path: one fused doc_id exchange (conditional-sum agg),
    not the two-phase distinct shape; nothing is broadcast.  (Above the
    single-task row bound, here 0.)"""
    from toshi_spark.query import compiler
    from toshi_spark.query.dsl import parse_search

    monkeypatch.setattr(compiler, "AGG_SINGLE_MAX_ROWS", 0)
    ix = _search_index(spark, tmp_path)
    df = ix.rank_df(
        parse_search({"query": {"bool": {
            "must": [{"term": {"text": "spark"}}],
            "must_not": [{"term": {"text": "tok3"}}],
        }}, "limit": 10})
    )
    assert _hash_exchanges(df) == ["doc_id"]
    assert len(df.collect()) == 10


@pytest.mark.parametrize("body", [PHRASE_BODY, BOOL_BODY, {
    "query": {"fuzzy": {"text": {"value": "spark", "distance": 1}}},
    "limit": 10}], ids=["phrase", "bool", "fuzzy"])
def test_small_aggregation_plans_no_exchange(spark, tmp_path, body):
    """Under the single-task row bound the aggregating shapes read a
    scan coalesced to one partition: no Exchange at all, nothing
    broadcast."""
    from toshi_spark.query.dsl import parse_search

    ix = _search_index(spark, tmp_path)
    df = ix.rank_df(parse_search(body))
    assert _hash_exchanges(df) == []
    assert "Coalesce 1" in _plan(df)
    assert ix.gates["agg"] == "single"
    assert len(df.collect()) == 10


def test_host_cap_window_carries_no_payload(spark):
    """host_cap's per-host exchange moves only (id, host, rank-key) —
    the page payload joins back after the cap — and Spark's
    WindowGroupLimit bounds the rows entering the window sort."""
    from toshi_spark.pipeline.webtext import host_cap

    pages = spark.createDataFrame(
        [Row(doc_id=i, host=f"h{i % 3}", url=f"https://h{i % 3}/p{i}",
             payload="x" * 10) for i in range(30)]
    )
    df = host_cap(pages, cap=2)
    plan = _plan(df)
    assert "WindowGroupLimit" in plan
    # the Window node's input attributes must be exactly the projected
    # slice — no url/payload below the window
    win = plan[plan.index("Window "):]
    exch = win[win.index("Exchange"):win.index("Exchange") + 400]
    assert "payload" not in exch and "url" not in exch


def test_text_profile_is_map_only(spark):
    """The fused profile's whole point: every stat family in ONE scan
    with zero exchanges (column algebra + one Arrow kernel)."""
    from toshi_spark.pipeline.textstats import text_profile

    p = _plan(text_profile(_docs(spark)))
    assert "Exchange" not in p, p
    assert "MapInArrow" in p or "ArrowEvalPython" in p or "MapPartitions" in p


def test_multimodal_pipeline_is_map_only(spark):
    """Fused multimodal ingest: one Arrow pass, zero exchanges."""
    from toshi_spark.pipeline.multimodal import multimodal_pipeline

    p = _plan(multimodal_pipeline(_docs(spark)))
    assert "Exchange" not in p, p
