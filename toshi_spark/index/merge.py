"""Log-structured segment compaction (the reference's merge policy).

Mirrors Tantivy's LogMergePolicy as configured by Toshi
(``toshi-server/src/settings.rs:190-201``; defaults
``settings.rs:47-49``: min_merge_size=8, min_layer_size=10_000,
level_log_size=0.75): segments are bucketed by log(size) levels —
segments whose log-size is within ``level_log_size`` of the bucket
leader share a bucket, sizes below ``min_layer_size`` share the floor
bucket — and any bucket with ≥ ``min_merge_size`` segments merges into
one.

The merge itself is a Spark job: union the member segments' postings,
re-aggregate termstats/doclens, rewrite as one segment, and atomically
rewrite the manifest (remove members, add the merged segment).
"""

from __future__ import annotations

import math
import shutil
import os

from pyspark.sql import SparkSession, functions as F

from .builder import IndexTables
from .segments import Manifest, ManifestEntry, segment_id_for, write_segment


def plan_merges(
    entries: list[ManifestEntry],
    min_merge_size: int = 8,
    min_layer_size: int = 10_000,
    level_log_size: float = 0.75,
) -> list[list[ManifestEntry]]:
    """Group committed segments into merge buckets (largest-first)."""
    ordered = sorted(entries, key=lambda e: -e.docs)
    buckets: list[list[ManifestEntry]] = []
    current: list[ManifestEntry] = []
    leader_level = None
    for e in ordered:
        level = math.log(max(e.docs, min_layer_size))
        if leader_level is None or leader_level - level > level_log_size:
            if current:
                buckets.append(current)
            current = [e]
            leader_level = level
        else:
            current.append(e)
    if current:
        buckets.append(current)
    return [b for b in buckets if len(b) >= min_merge_size]


def run_merge(
    spark: SparkSession,
    index_dir: str,
    min_merge_size: int = 8,
    min_layer_size: int = 10_000,
    level_log_size: float = 0.75,
    index_name: str = "index",
    apply_tombstones: bool = True,
) -> list[str]:
    """Execute all due merges; returns the new segment ids.

    Deletes fold in on merge (Tantivy semantics): tombstoned doc ids
    are anti-joined out of the merged postings/doclens, and df/avgdl
    are recomputed from the surviving postings — so compaction
    physically reclaims deleted docs while read-time tombstone
    anti-joins keep covering unmerged segments.
    """
    manifest = Manifest(index_dir)
    entries = manifest.entries()
    merged_ids: list[str] = []
    to_merge = plan_merges(entries, min_merge_size, min_layer_size,
                           level_log_size)
    if not to_merge:
        return merged_ids
    tomb = None
    tomb_dir = os.path.join(index_dir, "tombstones")
    if apply_tombstones and os.path.exists(tomb_dir) and any(
        f.endswith(".parquet") for f in os.listdir(tomb_dir)
    ):
        tomb = spark.read.parquet(tomb_dir).select("doc_id").distinct()
    remaining = {e.segment_id: e for e in entries}
    for bucket in to_merge:
        seg_dirs = [
            os.path.join(index_dir, "segments", e.segment_id) for e in bucket
        ]
        postings = spark.read.parquet(
            *[f"{d}/postings" for d in seg_dirs]
        ).drop("salt")
        doclens = spark.read.parquet(*[f"{d}/doclens" for d in seg_dirs])
        if tomb is not None:
            postings = postings.join(tomb, "doc_id", "left_anti")
            doclens = doclens.join(tomb, "doc_id", "left_anti")
        termstats = (
            postings.groupBy("field", "term").agg(F.count("*").alias("df"))
        )
        field_avgdl = {
            r["field"]: float(r["avgdl"])
            for r in doclens.groupBy("field").agg(
                F.avg("doc_len").alias("avgdl")
            ).collect()
        }
        n_docs = (
            doclens.select("doc_id").distinct().count()
            if tomb is not None
            else sum(e.docs for e in bucket)
        )
        tables = IndexTables(
            postings=postings, doclens=doclens, termstats=termstats,
            field_avgdl=field_avgdl, n_docs=n_docs,
        )
        new_id = segment_id_for(
            index_name, "merge:" + "+".join(sorted(e.segment_id for e in bucket)),
            "v1",
        )
        # publish=False: the payload lands on disk but is NOT appended
        # to the manifest — the single replace_all below swaps members
        # for merged entries atomically, so no reader (or crash window)
        # ever sees a manifest listing both
        entry = write_segment(
            spark, tables, index_dir, new_id,
            opstamp=max(e.opstamp for e in bucket),
            publish=False,
        )
        # carry member provenance (transitively) so committed_ids()
        # still covers every batch id ever ingested — an
        # at-least-once replay of a compacted-away micro-batch must
        # stay skipped (exactly-once across compactions)
        absorbed: set[str] = set()
        for e in bucket:
            absorbed.add(e.segment_id)
            absorbed.update(e.absorbed)
        entry.absorbed = sorted(absorbed)
        for e in bucket:
            remaining.pop(e.segment_id, None)
        remaining[new_id] = entry
        merged_ids.append(new_id)
    manifest.replace_all(list(remaining.values()))
    # old segment dirs are garbage now; remove them (readers follow the
    # manifest, so this is safe after replace_all)
    keep = set(remaining)
    seg_root = os.path.join(index_dir, "segments")
    for d in os.listdir(seg_root):
        if d not in keep and not d.endswith(".staging"):
            shutil.rmtree(os.path.join(seg_root, d), ignore_errors=True)
    return merged_ids
