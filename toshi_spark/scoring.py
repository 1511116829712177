"""BM25 scoring as native Catalyst column arithmetic (no UDFs).

Formula (Tantivy 0.19 public docs; Toshi uses Tantivy's default
scoring — plain ``TopDocs::with_limit`` collector at
``toshi-server/src/handle.rs:94``, scores surfaced at
``handle.rs:136-143``):

    idf(t)    = ln(1 + (N - df + 0.5) / (df + 0.5))
    tf_norm   = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    score(d)  = Σ_t idf(t) * tf_norm(t, d)          k1 = 1.2, b = 0.75

Two fidelity notes pinned by SURVEY.md §2.2/§4:

* **Basic record option**: Toshi's term query is constructed with
  ``IndexRecordOption::Basic`` (``toshi-types/src/query/term.rs:38``) —
  postings decode without term frequencies, so tf is treated as 1
  (idf and length-norm still apply).  ``tf_expr='basic'`` reproduces it.
* **f32**: Tantivy computes in f32.  The engine computes in double
  (Spark-native) and exposes ``as_f32`` casting for rank-identity
  tests against the pinned pure-Python oracle (tests/oracle_bm25.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from . import B, K1


def idf_col(n_docs: int, df_col: Column) -> Column:
    return F.log(
        1.0 + (F.lit(float(n_docs)) - df_col + F.lit(0.5)) / (df_col + F.lit(0.5))
    )


def tf_norm_dyn(tf_col: Column, doclen_col: Column, avgdl_col: Column) -> Column:
    denom = tf_col + F.lit(K1) * (
        F.lit(1.0 - B) + F.lit(B) * doclen_col / avgdl_col
    )
    return tf_col * F.lit(K1 + 1.0) / denom


def bm25_score(
    matched: DataFrame,
    doclens: DataFrame,
    termstats: DataFrame,
    n_docs: int,
    fieldstats: DataFrame | float,
    tf_mode: str = "full",
    as_f32: bool = False,
    unique_doc_terms: bool = False,
) -> DataFrame:
    """Score per-(doc, term) matches → per-doc summed BM25.

    ``matched``: rows (field, term, doc_id, tf[, doc_len]).  Join shape:
    termstats restricted to the (few) query terms → broadcast; doc_len
    comes INLINE from the postings row when present (build_index
    denormalizes it — zero doclens join), falling back to a join on
    (field, doc_id) for callers without it; fieldstats (field → avgdl,
    one row per field) → broadcast.  Output: (doc_id, score).
    """
    # The column path, for callers holding termstats as a frame (the
    # API compiler reads df and avgdl from driver-held metadata as
    # literals instead).  No broadcast hint on termstats: the equi-join
    # on (field, term) lets Catalyst propagate the matched side's term
    # predicate into the termstats scan (InferFiltersFromConstraints),
    # and AQE may turn the shrunken side into a broadcast at runtime.
    # A static hint here would ship the ENTIRE term dictionary.
    per_term_df = termstats.select("field", "term", "df")
    tf = F.lit(1.0) if tf_mode == "basic" else F.col("tf").cast("double")
    joined = matched.join(per_term_df, ["field", "term"])
    if "doc_len" not in matched.columns:
        joined = joined.join(doclens, ["field", "doc_id"])
    if isinstance(fieldstats, (int, float)):
        avgdl_col = F.lit(float(fieldstats))
    else:
        joined = joined.join(F.broadcast(fieldstats), "field")
        avgdl_col = F.col("avgdl")
    scored = joined.withColumn(
        "part_score",
        idf_col(n_docs, F.col("df").cast("double"))
        * tf_norm_dyn(tf, F.col("doc_len").cast("double"), avgdl_col),
    )
    if unique_doc_terms:
        # single-term queries: postings are unique per (field, term,
        # doc_id), so each doc has exactly one row — the groupBy-sum
        # would be an identity aggregation costing one full shuffle.
        # Skipping it makes the whole plan shuffle-free: pushed scan →
        # broadcast joins → TakeOrderedAndProject.
        agg = scored.select("doc_id", F.col("part_score").alias("score"))
    else:
        agg = scored.groupBy("doc_id").agg(F.sum("part_score").alias("score"))
    if as_f32:
        agg = agg.withColumn("score", F.col("score").cast("float").cast("double"))
    return agg


def topk(scored: DataFrame, k: int) -> DataFrame:
    """Distributed top-k: score desc, doc_id asc tie-break (pinned order).

    Spark plans this as TakeOrderedAndProject — per-partition heaps +
    driver merge, the same partial/final shape as Tantivy's per-segment
    collectors merged at ``handle.rs:124-127``.
    """
    return scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
