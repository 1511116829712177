"""Staged pipeline artifacts: bit-identity with the live pipeline.

A production dedup/mix run materializes each phase's output (pairs →
clusters → filtered corpus) as parquet and the next phase reads it.
`queries._staged` is the session-scoped form of that contract (one
entry of the session-artifact registry, ``queries._ARTIFACTS``); these
tests pin that every consumer of a staged artifact returns results
IDENTICAL to running the full pipeline live (the oracle-parity suite
covers the same wiring against DuckDB at sf0.01).
"""

from pyspark import StorageLevel
from pyspark.sql import functions as F

from toshi_spark.queries import (
    _ARTIFACTS,
    QUERIES,
    _get_verified_pairs,
    _held_frames,
    analyzed_corpus,
    release_session_artifacts,
    staged_clusters,
)

SF = "/root/testdata/sf0.001"


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def _entries(spark, name):
    """Registry keys of artifact ``name`` over SF in this session."""
    scope = (name, SF, id(spark.sparkContext))
    return [k for k in _ARTIFACTS if k[:3] == scope]


def _evict(spark, stage):
    for k in _entries(spark, stage):
        _ARTIFACTS.pop(k)


def test_staged_clusters_bit_identical_to_live(spark):
    from toshi_spark.pipeline.dedup import dedup_clusters

    _evict(spark, "dedup_clusters")
    live = rows(dedup_clusters(_get_verified_pairs(spark, SF)))
    art = rows(staged_clusters(spark, SF))
    assert art == live
    # second read is a cache hit returning the same materialization
    assert rows(staged_clusters(spark, SF)) == live


def test_survivors_consume_clusters_artifact(spark):
    """Survivor filter over the staged artifact == anti-join over the
    live CC output."""
    from toshi_spark.pipeline.dedup import dedup_clusters
    from toshi_spark.queries import q_dedup_survivors

    docs = analyzed_corpus(spark, SF, augmented=True)
    live_drop = (
        dedup_clusters(_get_verified_pairs(spark, SF))
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
    )
    want = rows(
        docs.join(live_drop, "doc_id", "left_anti")
        .select("doc_id").orderBy("doc_id")
    )
    got = rows(q_dedup_survivors(spark, SF))
    assert got == want


def test_mix_stable_across_artifact_cache(spark):
    """assemble_training_mix: first call (builds the atm_selected
    artifact) and second call (reads it) return identical rows."""
    from toshi_spark.queries import q_assemble_training_mix

    _evict(spark, "atm_selected")
    first = rows(q_assemble_training_mix(spark, SF))
    assert _entries(spark, "atm_selected")
    second = rows(q_assemble_training_mix(spark, SF))
    assert first == second
    assert len(first) > 0


def test_release_session_artifacts(spark):
    """The serving-process knob: release drops every artifact for THIS
    context and unpersists every frame they cached; results are
    identical after a lazy rebuild."""
    from toshi_spark.queries import q_dedup_survivors

    sc_id = id(spark.sparkContext)

    def session_keys():
        return [k for k in _ARTIFACTS if k[2] == sc_id]

    # pipeline artifacts: tokens corpus, verified pairs, staged clusters
    before = rows(q_dedup_survivors(spark, SF))  # populates artifacts
    assert _entries(spark, "analyzed_corpus_aug")
    n = release_session_artifacts(spark)
    assert n >= 2  # at least corpus + one staged artifact
    assert not session_keys()
    assert rows(q_dedup_survivors(spark, SF)) == before  # rebuilds

    # index-style artifacts: index handle, encoded blocks, IVF cells,
    # verified pairs and the fuzzy-eval artifact all hold persisted
    # frames; release must free every one of them.  Start from an empty
    # CacheManager (earlier tests cache frames of their own) so that
    # "empty after release" covers frames the bookkeeping might miss.
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    release_session_artifacts(spark)
    spark.catalog.clearCache()
    keys = ["ft_term_bm25", "ft_blockmax_topk", "ann_ivf",
            "dedup_clusters", "fuzzy_contamination"]
    before = {k: rows(QUERIES[k](spark, SF)) for k in keys}
    held = {}
    for name in ["index", "blocks", "ivf", "verified_pairs", "fuzzy_eval"]:
        [key] = _entries(spark, name)
        held[name] = _held_frames(_ARTIFACTS[key])
        assert any(f.storageLevel != StorageLevel.NONE
                   for f in held[name]), f"{name} holds no cached frame"
    ix = _ARTIFACTS[_entries(spark, "index")[0]]
    held["index"] += [ix.corpus, ix.termstats]  # row store + dictionary
    assert release_session_artifacts(spark) >= len(held)
    assert not session_keys()
    for name, frames in held.items():
        for f in frames:
            assert f.storageLevel == StorageLevel.NONE, name
    assert cache_manager.isEmpty()
    assert {k: rows(QUERIES[k](spark, SF)) for k in keys} == before


def test_mix_selected_artifact_matches_live_filters(spark):
    """The staged filtered corpus == applying the three filter phases
    live (gopher gate ∧ dedup keep ∧ not contaminated)."""
    from toshi_spark.pipeline.dedup import dedup_clusters
    from toshi_spark.pipeline.textstats import gopher_filter
    from toshi_spark.pipeline.training import contamination
    from toshi_spark.queries import (
        _CONTAM_N,
        _eval_ngrams_df,
        q_assemble_training_mix,
    )

    _evict(spark, "atm_selected")
    q_assemble_training_mix(spark, SF).collect()  # populate
    [key] = _entries(spark, "atm_selected")
    art = _ARTIFACTS[key]

    aug = analyzed_corpus(spark, SF, augmented=True)
    keep_g = gopher_filter(aug, toks_col="toks").filter(
        F.col("keep")
    ).select("doc_id")
    drop_dup = (
        dedup_clusters(_get_verified_pairs(spark, SF))
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
    )
    contam = contamination(
        aug, _eval_ngrams_df(analyzed_corpus(spark, SF), toks_col="toks"),
        n=_CONTAM_N, toks_col="toks",
    )
    keep_c = contam.filter(~F.col("contaminated")).select("doc_id")
    live = (
        aug.join(keep_g, "doc_id")
        .join(drop_dup, "doc_id", "left_anti")
        .join(keep_c, "doc_id")
    )
    assert rows(art.select("doc_id")) == rows(live.select("doc_id"))


def test_release_drops_index_temp_views(spark):
    """A searched index artifact's temp views go with the artifact:
    they hold its plans, so a release that left them would keep those
    plans for the life of the session."""
    from toshi_spark.queries import get_index

    def ix_views():
        return {t.name for t in spark.catalog.listTables()
                if t.name.startswith("toshi_ix")}

    release_session_artifacts(spark)
    before = ix_views()
    ix = get_index(spark, SF)
    res = ix.search_json({"query": {"term": {"text": "spark"}}, "limit": 5})
    assert res.hits > 0
    names = set(ix.view_names())
    assert names and names <= ix_views()
    release_session_artifacts(spark)
    assert not ix.view_names()
    assert not names & ix_views()
    assert ix_views() <= before
