"""Doc-sharded postings: partitionBy(field, term_bkt) + bucketBy(doc_id).

The (field, term)-sorted segment layout is optimal for single-term
lookups — the scan prunes to one term's rows and BM25 runs with zero
data-scale exchanges (test_plan_shapes.py pins it).  Multi-term
POSITIONAL and boolean queries pay a different cost: the intersection/
union groups posting rows by doc_id, one corpus-scale Exchange per
query (measured 2.0-3.5 s at 1M docs / 104.7M postings,
scripts_phrase_1m.py — the exchange of head-term position arrays IS
the phrase premium).

This module provides the layout every doc-sharded search engine uses
at cluster scale (Elasticsearch/Solr shards; the reference delegates
to one Tantivy node — ``toshi-server/src/index/mod.rs`` — so its
scale-out story is exactly "run many of them and shard by doc"): all
of a doc's posting rows, for every term, live in one shard.  In Spark
terms:

    write.partitionBy("field", "term_bkt")  # scan pruning: a P-term
                                            # query reads <= P of the
                                            # n_term_partitions dirs
         .bucketBy(n_buckets, "doc_id")     # groupBy/join on doc_id is
         .sortBy("doc_id")                  # exchange-free (bucketed
                                            # scan satisfies the agg's
                                            # required distribution)

so a phrase/bool query becomes: prune term_bkt dirs -> filter terms ->
groupBy doc_id with NO Exchange (pinned in tests/test_bucketed.py).
Single-term queries keep the term-sorted layout; the compiler routes
only multi-term leaf scans here (query/compiler.py ``_scan``).

The term bucket uses an md5-prefix hash (not ``F.hash``) so the
driver can compute a query term's bucket WITHOUT a Spark job — the
same digest is available in Python and as a codegen'd JVM expression.
"""

from __future__ import annotations

import hashlib
import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

TERM_BKT = "term_bkt"
_META_FILE = "_docb_meta.json"


def term_bucket_col(term_col, n_term_partitions: int):
    """JVM-side term bucket: first 8 hex chars of md5, mod n."""
    return F.pmod(
        F.conv(F.substring(F.md5(term_col), 1, 8), 16, 10).cast("long"),
        F.lit(n_term_partitions),
    )


def term_bucket_py(term: str, n_term_partitions: int) -> int:
    """Driver-side twin of :func:`term_bucket_col` — same digest, no
    Spark job (the bucket ids for a query's terms are computed here
    and pushed as partition filters)."""
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % (
        n_term_partitions
    )


@dataclass
class DocBucketedPostings:
    """Handle to one written doc-sharded postings table."""

    spark: SparkSession
    table: str
    n_term_partitions: int
    n_buckets: int
    # committed deletes, applied at READ time: the copy stores raw
    # segment postings, so tombstoning a doc never invalidates it
    tombstones: DataFrame | None = None

    def with_tombstones(self, tomb: DataFrame | None) -> "DocBucketedPostings":
        return DocBucketedPostings(
            spark=self.spark, table=self.table,
            n_term_partitions=self.n_term_partitions,
            n_buckets=self.n_buckets, tombstones=tomb,
        )

    def buckets(self, terms: list[str]) -> list[int]:
        """The term buckets that hold ``terms``: a query on them reads
        only those partition dirs (partition filters on field +
        term_bkt), and the scan keeps the bucketed-by-doc_id
        distribution — the downstream group/join on doc_id plans with
        zero Exchanges."""
        return sorted({term_bucket_py(t, self.n_term_partitions)
                       for t in terms})

    def frame(self) -> DataFrame:
        """The copy's rows less the tombstoned docs.  A broadcast
        anti-join for the tombstones preserves the streamed side's
        partitioning, so deletes don't cost the exchange back, and
        filters on the copy's columns push below it to the scan."""
        out = self.spark.table(self.table)
        if self.tombstones is not None:
            out = out.join(F.broadcast(self.tombstones), "doc_id",
                           "left_anti")
        return out


def read_docb_meta(path: str) -> dict | None:
    """The layout sidecar at ``path``, or None if no copy lives there."""
    p = os.path.join(path, _META_FILE)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def write_doc_bucketed(
    postings: DataFrame,
    path: str,
    table: str | None = None,
    n_term_partitions: int = 16,
    n_buckets: int = 32,
    extra_meta: dict | None = None,
) -> DocBucketedPostings:
    """Write ``postings`` (field, term, doc_id, tf, positions[,
    doc_len]) in the doc-sharded layout at ``path``.

    One shuffle at WRITE time (bucketBy clusters rows by doc_id) buys
    exchange-free multi-term queries forever after — the same trade
    the term-sorted segment write already makes for single-term
    lookups.  ``path`` is explicit (external table) so the session's
    warehouse dir is never touched; the table entry lives in the
    session catalog only.
    """
    spark = postings.sparkSession
    if table is None:
        table = f"toshi_docb_{uuid.uuid4().hex[:12]}"
    staged = postings.withColumn(
        TERM_BKT, term_bucket_col(F.col("term"), n_term_partitions)
    )
    # Spark's bucketed write shuffles NOTHING on its own: every input
    # task writes its own file per (partition dir x bucket), so T tasks
    # x P dirs x B buckets explodes into tiny files (measured 65k files
    # / 113 s for a 20k-doc corpus).  Pre-repartition on exactly the
    # file grain — (field, term_bkt, Spark's own bucket hash of doc_id,
    # i.e. pmod(murmur3, B) which is what F.hash computes) — so each
    # (dir, bucket) pair is ONE task writing ONE file.
    staged = staged.repartition(
        n_term_partitions * n_buckets,
        F.col("field"), F.col(TERM_BKT),
        F.pmod(F.hash("doc_id"), F.lit(n_buckets)),
    )
    (
        staged.write.mode("overwrite")
        .partitionBy("field", TERM_BKT)
        .bucketBy(n_buckets, "doc_id")
        .sortBy("doc_id")
        .option("path", path)
        .format("parquet")
        .saveAsTable(table)
    )
    # layout sidecar: attach_doc_bucketed in a LATER session re-derives
    # the bucket spec from here instead of trusting its caller (a wrong
    # n_term_partitions would silently prune the wrong dirs)
    with open(os.path.join(path, _META_FILE), "w") as f:
        json.dump({"n_term_partitions": n_term_partitions,
                   "n_buckets": n_buckets, **(extra_meta or {})}, f)
    return DocBucketedPostings(
        spark=spark, table=table,
        n_term_partitions=n_term_partitions, n_buckets=n_buckets,
    )


def attach_doc_bucketed(
    spark: SparkSession,
    path: str,
    table: str | None = None,
) -> DocBucketedPostings:
    """Re-register an ALREADY-WRITTEN doc-sharded copy in this session
    — the cross-session half of the dial: the copy is written once at
    ingest (write_doc_bucketed) and every later serving session
    attaches it with metadata-only DDL (CREATE TABLE ... CLUSTERED BY
    ... LOCATION + partition recovery), never rewriting data.  The
    bucket spec comes from the layout sidecar the writer left at
    ``path``; the data schema is inferred from the files themselves so
    optional columns (inline doc_len) attach unchanged."""
    with open(os.path.join(path, _META_FILE)) as f:
        meta = json.load(f)
    if table is None:
        table = f"toshi_docb_{uuid.uuid4().hex[:12]}"
    if spark.catalog.tableExists(table):
        # already attached in this session (repeated open()) — reuse
        return DocBucketedPostings(
            spark=spark, table=table,
            n_term_partitions=meta["n_term_partitions"],
            n_buckets=meta["n_buckets"],
        )
    inferred = spark.read.parquet(path).schema
    data_ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in inferred.fields if f.name not in ("field", TERM_BKT)
    )
    spark.sql(
        f"CREATE TABLE {table} ({data_ddl}, field STRING, "
        f"{TERM_BKT} BIGINT) USING parquet "
        f"PARTITIONED BY (field, {TERM_BKT}) "
        f"CLUSTERED BY (doc_id) SORTED BY (doc_id) "
        f"INTO {meta['n_buckets']} BUCKETS "
        f"LOCATION '{path}'"
    )
    spark.sql(f"MSCK REPAIR TABLE {table}")
    return DocBucketedPostings(
        spark=spark, table=table,
        n_term_partitions=meta["n_term_partitions"],
        n_buckets=meta["n_buckets"],
    )
