"""Inverted-index build: corpus → postings / doclens / termstats.

Spark-first rebuild of the ingest pipeline described in SURVEY.md §3.2
(reference: ``toshi-server/src/handlers/bulk.rs:56-135`` streams NDJSON
through parse workers into a single Tantivy writer).  Here the "parse
thread pool" is executor parallelism and the single-writer mutex
dissolves into deterministic docId assignment + a shuffle-by-term:

    corpus ──mapInPandas(analyze)──► per-(doc,term) rows   [map-side
      │                                                      partial agg]
      ├─► doclens    (groupBy field,doc — partial agg'd)
      ├─► termstats  (groupBy field,term → df — partial agg'd)
      ├─► fieldstats (avgdl per field, N)
      └─► postings   repartition(field, term[, salt]) + sortWithinPartitions
                     → parquet segment sorted by (field, term, doc_id)

Skew: head terms (stopword-like, df ~ N) are salted —
``salt = doc_id % n_salts`` for terms whose df exceeds a threshold —
so no single reducer receives an entire head-term posting run
(north-rule requirement).  Salts merge back at query time with a
cheap re-aggregation (scores are additive per doc).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import cached_property

from pyspark.sql import DataFrame, functions as F

from ..analyzer import ANALYZE_SCHEMA, analyze_arrow_batches, get_analyzer
from ..query.compiler import sql_ident


@dataclass
class IndexTables:
    """Lazy-DataFrame view of one built index (or one segment).

    BM25 length normalization is per field, so doclens/fieldstats carry
    a ``field`` column (a doc has one length per indexed text field).
    avgdl per field is driver-held metadata (``field_avgdl``); the
    ``fieldstats`` frame is derived from it for the column-path scorers
    (``scoring.bm25_score``, ``query.blockmax``).
    """

    postings: DataFrame  # field, term, doc_id, tf, positions
    doclens: DataFrame  # field, doc_id, doc_len
    termstats: DataFrame  # field, term, df
    field_avgdl: dict[str, float]  # field → avgdl
    n_docs: int
    # the frames build_index persist()ed, so an owner can release them
    persisted: list[DataFrame] = field(default_factory=list)

    @cached_property
    def fieldstats(self) -> DataFrame:
        """(field, avgdl) as a local relation: no Spark job."""
        return self.doclens.sparkSession.createDataFrame(
            sorted(self.field_avgdl.items()), "field string, avgdl double"
        )

    @property
    def avgdl(self) -> float:
        """Single-field convenience: the one field's avgdl."""
        assert len(self.field_avgdl) == 1, (
            "avgdl property is for single-field indexes"
        )
        return next(iter(self.field_avgdl.values()))


def analyze_corpus(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    field: str | None = None,
    tokenizer: str = "default",
) -> DataFrame:
    """corpus → per-(doc, term) rows with tf, positions, doc_len."""
    field = field or text_col
    # quoted: a field name may hold a dot, a space or a backtick
    proj = corpus.select(
        F.col(sql_ident(id_col)).cast("long").alias("doc_id"),
        F.col(sql_ident(text_col)).alias("text"),
    )
    # mapInArrow: RecordBatches in/out, flat buffers — no per-row
    # pandas objects on the Python→JVM hop.  The analyzer is resolved
    # DRIVER-side and captured in the shipped closure: dictionary
    # tokenizers snapshot their dictionary into it, which is the only
    # way the dictionary reaches executors (a by-name lookup on the
    # worker would see freshly-imported module state).
    analyze = get_analyzer(tokenizer)
    return proj.mapInArrow(
        lambda it: analyze_arrow_batches(
            it, id_col="doc_id", text_col="text", field=field,
            tokenizer=tokenizer, analyze=analyze,
        ),
        ANALYZE_SCHEMA,
    )


def build_index(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_fields: list[str] | str = "text",
    cache: bool = True,
    tokenizers: dict[str, str] | None = None,
    quantize_fieldnorms: bool = False,
    cache_partitions: int | None = None,
) -> IndexTables:
    """Build index tables over one or more text fields of a corpus.

    ``tokenizers`` maps field name → registered tokenizer name (the
    schema's ``tokenizer`` option, analyzer registry in analyzer.py);
    unlisted fields use the ``default`` chain.

    ``quantize_fieldnorms=True`` stores doc lengths byte-quantized
    (Tantivy stores fieldnorms as 1 byte — see index/fieldnorm.py), so
    BM25's length normalization sees the quantized length; avgdl stays
    EXACT (Tantivy computes it from segment token totals, not from the
    quantized norms).  Default OFF: exact lengths.

    The analyzed intermediate feeds four consumers, so it is persisted
    (at segment-write time, parquet on disk plays this role instead);
    every frame persisted here is listed in ``IndexTables.persisted``
    so the owner of a cached index can release it.

    ``cache_partitions`` — partition count for the CACHED serving
    tables.  A corpus that was spread wide for the per-doc analyzer
    (see ``queries._spread``) would otherwise persist one small cache
    partition per core, and every warm query pays one task per cached
    partition per plan branch — measured 2× latency on multi-branch
    queries at local[32].  Pass the input's own scan-split count
    (data-proportional: thousands at crawl scale, 1-2 on a one-row-
    group test file) so the serving cache keeps size-derived
    partitioning while the analyze stage keeps its parallelism.
    """
    if isinstance(text_fields, str):
        text_fields = [text_fields]
    tokenizers = tokenizers or {}
    analyzed = None
    for tf in text_fields:
        part = analyze_corpus(
            corpus, id_col, tf, field=tf,
            tokenizer=tokenizers.get(tf, "default"),
        )
        analyzed = part if analyzed is None else analyzed.unionByName(part)
    assert analyzed is not None, "at least one text field required"
    persisted = []
    if cache:
        if (cache_partitions is not None
                and cache_partitions < corpus.rdd.getNumPartitions()):
            analyzed = analyzed.repartition(cache_partitions)
        analyzed = analyzed.persist()
        persisted.append(analyzed)
    # doc_len rides ALONG in the postings row (the analyzer emits it
    # per (doc, term) anyway): BM25 then needs NO doclens join — the
    # fieldnorm travels with the posting the way Lucene impact-ordered
    # postings inline norms.  Cost: one int32 per posting row (~5% of a
    # row dominated by the positions list); payoff: one fewer shuffle
    # join in EVERY scoring query, which at 100 TB is the difference
    # between 1 and 2 wide shuffles per search.
    postings = analyzed.filter(F.col("tf") > 0).select(
        "field", "term", "doc_id", "tf", "positions", "doc_len"
    )
    doclens = analyzed.groupBy("field", "doc_id").agg(
        F.max("doc_len").alias("doc_len")
    )
    termstats = postings.groupBy("field", "term").agg(F.count("*").alias("df"))
    if cache:
        # the dictionary is consulted (with a pushed term filter) by
        # every scoring query — persist the aggregate so serving reads
        # a cached table instead of re-shuffling postings per search
        termstats = termstats.persist()
        persisted.append(termstats)
    # ONE metadata job computes avgdl AND n_docs (doclens has exactly
    # one row per (field, doc) including empty-doc sentinels, so the
    # per-field row count IS the doc count): both are driver-held
    # metadata, so queries read them as literals and the build pays a
    # single stats pass.
    # avgdl from EXACT lengths, before any quantization (see docstring)
    stats_rows = doclens.groupBy("field").agg(
        F.avg("doc_len").alias("avgdl"), F.count("*").alias("n")
    ).collect()
    n_docs = max((r["n"] for r in stats_rows), default=0)
    field_avgdl = (
        {r["field"]: float(r["avgdl"]) for r in stats_rows}
        or {tf: 0.0 for tf in text_fields}  # empty corpus: avgdl 0
    )
    if quantize_fieldnorms:
        import pandas as pd

        from .fieldnorm import quantize_array

        # no parameter annotations: PEP-563 stringified hints confuse
        # pandas_udf type inference under `from __future__ import annotations`
        _quant = F.pandas_udf(
            lambda lens: pd.Series(quantize_array(lens.to_numpy()),
                                   dtype="int32"),
            "int",
        )
        doclens = doclens.withColumn("doc_len", _quant(F.col("doc_len")))
        postings = postings.withColumn("doc_len", _quant(F.col("doc_len")))
    return IndexTables(
        postings=postings,
        doclens=doclens,
        termstats=termstats,
        field_avgdl=field_avgdl,
        n_docs=n_docs,
        persisted=persisted,
    )


# Stripe width (log2) for head-term salting.  Salting by contiguous
# 2^SALT_STRIPE_BITS-doc stripes round-robined over the salts — rather
# than doc_id % n_salts — keeps doc runs contiguous inside each salt:
#   * delta encoding stays dense (one larger jump per stripe boundary
#     instead of EVERY delta inflating n_salts-fold), and
#   * local tf skew (a spammy doc-id neighborhood) stays co-located in
#     blocks, so block-max impact bounds keep certifying it — pure
#     modulo salting shards skewed docs below HI_RANK per block and
#     weakens τ (measured, see test_prune_stats_skewed_corpus_prunes).
# Balance is within one stripe per salt once a term's doc range spans
# ≳ 2^bits · n_salts docs — trivially true for any term worth salting.
SALT_STRIPE_BITS = 8


def salted_postings(
    postings: DataFrame,
    termstats: DataFrame,
    df_threshold: int,
    n_salts: int = 16,
) -> DataFrame:
    """Add a ``salt`` column: 0 for tail terms; for head terms the
    doc-stripe round-robin (doc_id >> SALT_STRIPE_BITS) % n_salts.

    Head terms (df > threshold) would otherwise hash-partition an entire
    multi-million-doc posting run onto one reducer.  Salting spreads the
    run over ``n_salts`` reducers; the (field, term, salt) grouping is
    what the block encoder and the segment writer operate on.
    """
    heads = termstats.filter(F.col("df") > df_threshold).select("field", "term")
    return (
        postings.join(
            F.broadcast(heads.withColumn("__is_head", F.lit(True))),
            ["field", "term"],
            "left",
        )
        .withColumn(
            "salt",
            F.when(
                F.col("__is_head").isNotNull(),
                (
                    F.shiftright(F.col("doc_id"), SALT_STRIPE_BITS)
                    % F.lit(n_salts)
                ).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .drop("__is_head")
    )
