"""Shared analyzed-corpus artifact for the pipeline family.

At 100 TB, tokenization is the dominant per-operator cost after the
scan itself: ``contamination``, ``substring_dedup``, ``dsir_weights``,
``ngram_jaccard``, ``lm_score``, ``text_profile``, ``gopher_filter``
and the training-mix assembly each consume the SAME lowercased
alnum-run token array (``[^a-z0-9]+`` split, empties filtered — the
one tokenizer shared by ``pipeline.dedup.tokens_col`` and
``pipeline.training.tokens_col``).  Run independently, each operator
re-scans and re-tokenizes the corpus; a real pipeline materializes
``(doc_id, text, toks)`` ONCE — exactly the way the search path
materializes its analyzed table in ``index/builder.py`` — and every
downstream stage reads the artifact.

This module holds the pure construction (:func:`with_tokens`); the
per-``(sf_dir, session)`` cached, ``phase_checkpoint``-materialized
handle lives in ``queries.analyzed_corpus``, one entry of the
session-artifact registry there (with the IVF cells, the fuzzy-eval
artifact and the index handles).

Consuming operators take the token array as an existing COLUMN
(``toks_col=...``) rather than a separate frame: a join would shuffle
doc-id-aligned data that is already row-aligned, and a column read
from a checkpoint/parquet scan is a bound attribute — the Generate
barrier that :func:`training.tokens_barrier` exists to provide is
inherent (there is no projection expression for CollapseProject to
inline into downstream higher-order lambdas).

Bit-identity contract: the artifact column is built by the SAME
expression the direct paths use, so routed and direct results are
identical — pinned per consumer in ``tests/test_corpus_artifact.py``
and end-to-end by the oracle-parity suite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import tokens_col

TOKENS_COL = "toks"


def with_tokens(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = TOKENS_COL,
) -> DataFrame:
    """``(doc_id, text, toks)``: the corpus with its shared token
    array, one map-only scan.  Lean by design — lang/source/facet
    columns stay in the raw table; pipeline consumers need exactly
    these three (substring/paragraph dedup read ``text``, everything
    else reads ``toks``)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
        tokens_col(text_col).alias(out_col),
    )
