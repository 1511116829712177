"""Shared analyzed-corpus artifact (pipeline.corpus): bit-identity.

VERDICT r6 #1: the pipeline family consumes one materialized
(doc_id, text, toks) artifact instead of re-tokenizing the corpus per
operator.  The artifact column is built by the same expression the
direct paths use, so every routed consumer must return results
IDENTICAL to its direct-path twin — pinned here per operator (the
oracle-parity suite covers the end-to-end query wiring).
"""

import pytest
from pyspark.sql import functions as F

from toshi_spark.pipeline.corpus import with_tokens
from toshi_spark.pipeline.dedup import (
    minhash_dedup,
    minhash_signatures,
    tokens_col as dd_tokens,
)
from toshi_spark.pipeline.textstats import gopher_filter, text_profile
from toshi_spark.pipeline.training import (
    contamination,
    dsir_weights,
    fuzzy_contamination,
    lm_score,
    pack_sequences,
    tokens_col as tr_tokens,
)
from toshi_spark.queries import _ARTIFACTS, analyzed_corpus


@pytest.fixture(scope="module")
def docs(spark):
    from toshi_spark.fixtures import synth_webtext
    from toshi_spark.index.docmap import assign_doc_ids

    d = assign_doc_ids(
        synth_webtext(spark, 120, seed=7), order_col="url"
    ).select("doc_id", "text")
    return d.persist()


@pytest.fixture(scope="module")
def art(docs):
    return with_tokens(docs).localCheckpoint(eager=True)


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_token_expressions_are_one_tokenizer(spark):
    """The artifact serves dedup AND training consumers because both
    families share one tokenizer; if these ever diverge the artifact
    must grow a second column."""
    probe = spark.createDataFrame(
        [("A b!c 12x  ,", ), ("", ), (None, )], "text string"
    )
    got = probe.select(
        dd_tokens("text").alias("d"),
        tr_tokens(F.col("text")).alias("t"),
    ).collect()
    for r in got:
        assert r.d == r.t


def test_artifact_tokens_match_direct(docs, art):
    direct = docs.select(
        "doc_id", tr_tokens(F.col("text")).alias("toks")
    )
    assert rows(direct) == rows(art.select("doc_id", "toks"))


def test_contamination_routed_identical(spark, docs, art):
    ev = spark.createDataFrame(
        [("w3 w4 w5 w6",), ("nope nope nope nope",)], "gram string"
    )
    assert rows(contamination(docs, ev, n=4)) == rows(
        contamination(art, ev, n=4, toks_col="toks")
    )


def test_lm_score_routed_identical(docs, art):
    assert rows(lm_score(docs)) == rows(lm_score(art, toks_col="toks"))


def test_dsir_routed_identical(docs, art):
    tgt_direct = docs.filter(F.col("doc_id") % 5 == 0)
    tgt_art = art.filter(F.col("doc_id") % 5 == 0)
    assert rows(dsir_weights(docs, tgt_direct, n_buckets=256)) == rows(
        dsir_weights(art, tgt_art, n_buckets=256, toks_col="toks")
    )


def test_pack_sequences_routed_identical(docs, art):
    assert rows(pack_sequences(docs, seq_len=16)) == rows(
        pack_sequences(art, seq_len=16, toks_col="toks")
    )


def test_text_profile_routed_identical(docs, art):
    assert rows(text_profile(docs, simhash_bits=16)) == rows(
        text_profile(art, simhash_bits=16, toks_col="toks")
    )


def test_gopher_routed_identical(docs, art):
    assert rows(gopher_filter(docs)) == rows(
        gopher_filter(art, toks_col="toks")
    )


def test_minhash_family_routed_identical(docs, art):
    toks = art.select("doc_id", F.col("toks").alias("_toks"))
    assert rows(minhash_signatures(docs, n_hashes=4)) == rows(
        minhash_signatures(art, n_hashes=4, toks_col="toks")
    )
    assert rows(
        minhash_dedup(docs, n_hashes=8, n_bands=4, threshold=0.3)
    ) == rows(
        minhash_dedup(art, n_hashes=8, n_bands=4, threshold=0.3,
                      tokens=toks)
    )


def test_fuzzy_contamination_routed_identical(docs, art):
    ev = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    toks = art.select("doc_id", F.col("toks").alias("_toks"))
    assert rows(fuzzy_contamination(docs, ev, threshold=0.5)) == rows(
        fuzzy_contamination(docs, ev, threshold=0.5, train_tokens=toks)
    )


def test_analyzed_corpus_cached_per_session(spark):
    sf = "/root/testdata/sf0.001"
    a = analyzed_corpus(spark, sf)
    b = analyzed_corpus(spark, sf)
    assert a is b, "second call must be the cached handle"
    import os

    from toshi_spark.checkpoint import ENV_VAR

    scope = ("analyzed_corpus", sf, id(spark.sparkContext),
             os.environ.get(ENV_VAR))
    [key] = [k for k in _ARTIFACTS if k[:4] == scope]
    assert _ARTIFACTS[key] is a
    # the artifact plan is a materialized scan — no tokenizer re-run
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "split" not in plan.lower()
