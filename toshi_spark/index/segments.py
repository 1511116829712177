"""Segment model: durable index chunks + manifest commit protocol.

Mirrors the reference lifecycle (SURVEY.md §2.10): Tantivy segments are
immutable chunks created per commit (``toshi-server/src/handle.rs:
228-232``), with an opstamp counter reset on commit
(``handle.rs:62-70``), readers that see only committed state
(ReloadPolicy::OnCommit, ``handle.rs:232``), and rollback that discards
uncommitted work (``handlers/bulk.rs:121-129``).

Spark mapping:
- a segment = a directory of parquet tables
  (postings/doclens/termstats + stats.json + _metrics.jsonl); the
  block table is derived from postings at open (``open_blocks``)
- commit = write to ``<seg>.staging`` → atomic rename → append one
  JSON line to ``manifest.jsonl`` (the manifest append IS the commit
  point; readers list the manifest, never the directory)
- rollback = staging dir discarded, manifest untouched
- resume = segment ids are content-addressed (index name + chunk id +
  input fingerprint), so a re-run skips chunks already in the manifest
  (north rule: builds resume from the last committed segment)
- per-partition lineage: each segment records the postings row count
  of each written postings part file in ``_metrics.jsonl`` (read from
  the file's parquet footer, no Spark job); docs/terms/bytes are
  per segment, in the manifest entry
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from .blocks import encode_blocks_df
from .builder import IndexTables, build_index, salted_postings


# bump when the on-disk segment layout changes: content-addressed
# segment ids include it, so stale segments from an older format are
# never mistaken for committed work (v3: postings carry inline
# doc_len; v4: blocks carry min_tf/min_dl/max_dl bounds + inline
# varint doc lengths).  The version is ALSO recorded per ManifestEntry
# so readers fail fast on a stale manifest instead of silently reading
# mixed-schema parquet (null doc_len → null BM25 scores).  Dropping
# blocks/ (open_blocks derives them) changed no table a reader opens, so
# v4 stands: a v4 segment's leftover blocks/ dir is never read.
SEGMENT_FORMAT_VERSION = 4

# pinned read schemas for the v4 on-disk layout.  _check_format
# guarantees every committed segment a reader touches is exactly this
# version, so open paths pass these to spark.read instead of paying
# parquet schema inference — at 10k+ segments the footer-sampling
# job and merged-schema reconciliation are pure waste, and locally
# each skipped inference is one fewer tiny driver job per open().
# Bump these together with SEGMENT_FORMAT_VERSION.
POSTINGS_READ_SCHEMA = (
    "field string, term string, doc_id bigint, tf int, "
    "positions array<int>, doc_len int, salt int"
)
DOCLENS_READ_SCHEMA = "field string, doc_id bigint, doc_len int"
TERMSTATS_READ_SCHEMA = "field string, term string, df bigint"


@dataclass
class ManifestEntry:
    segment_id: str
    opstamp: int
    docs: int
    terms: int
    postings: int
    bytes: int
    committed_at: str
    # entries written before versioning default to 0 (= unknown/old)
    format_version: int = 0
    # segment ids a merge absorbed into this entry (transitively):
    # committed_ids() must keep covering them or an at-least-once
    # replay of an already-compacted micro-batch would re-ingest it
    # (the batch-id-addressed segment id no longer appears directly)
    absorbed: list[str] = field(default_factory=list)

    def to_json(self) -> dict:
        return self.__dict__.copy()


class Manifest:
    """Append-only commit log (manifest.jsonl) for one index."""

    def __init__(self, index_dir: str):
        self.index_dir = index_dir
        self.path = os.path.join(index_dir, "manifest.jsonl")

    def entries(self) -> list[ManifestEntry]:
        if not os.path.exists(self.path):
            return []
        # dedupe by segment_id (keep last): foreachBatch replay or a
        # crashed writer retry may append the same id twice; readers
        # must never double-load a segment's postings (that would
        # double tf/df and corrupt BM25 scores)
        by_id: dict[str, ManifestEntry] = {}
        with open(self.path) as f:
            for line in f:
                if line.strip():
                    e = ManifestEntry(**json.loads(line))
                    by_id[e.segment_id] = e
        return list(by_id.values())

    def committed_ids(self) -> set[str]:
        """Every id this index has EVER committed: live entries plus
        the member ids merges absorbed — the exactly-once dedup set
        for at-least-once writers (see ManifestEntry.absorbed)."""
        out: set[str] = set()
        for e in self.entries():
            out.add(e.segment_id)
            out.update(e.absorbed)
        return out

    def append(self, entry: ManifestEntry) -> None:
        os.makedirs(self.index_dir, exist_ok=True)
        with open(self.path, "a") as f:
            f.write(json.dumps(entry.to_json()) + "\n")
            f.flush()
            os.fsync(f.fileno())

    def replace_all(self, entries: list[ManifestEntry]) -> None:
        """Atomic rewrite (used by merge compaction)."""
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            for e in entries:
                f.write(json.dumps(e.to_json()) + "\n")
        os.replace(tmp, self.path)


def segment_id_for(
    index_name: str,
    chunk_key: str,
    fingerprint: str,
    fmt: int = SEGMENT_FORMAT_VERSION,
) -> str:
    h = hashlib.md5(
        f"{index_name}:{chunk_key}:{fingerprint}:fmt{fmt}".encode()
    )
    return f"seg-{h.hexdigest()[:16]}"


def _recreatable_stale_ids(
    index_name: str, n_chunks: int, fingerprint: str
) -> set[str]:
    """Every segment id THIS build's chunks could have carried under an
    older format — the only stale entries build_segments may purge.
    Covers the pre-versioning id form (no fmt suffix) and every
    versioned form below the current one."""
    ids: set[str] = set()
    for chunk in range(n_chunks):
        key = f"chunk{chunk}of{n_chunks}"
        legacy = hashlib.md5(
            f"{index_name}:{key}:{fingerprint}".encode()
        ).hexdigest()[:16]
        ids.add(f"seg-{legacy}")
        for v in range(1, SEGMENT_FORMAT_VERSION):
            ids.add(segment_id_for(index_name, key, fingerprint, fmt=v))
    return ids


def _part_rows(path: str) -> list[int]:
    """Row count of each part file of a parquet table directory, read
    from the footers on the driver (no Spark job)."""
    return [
        pq.ParquetFile(f).metadata.num_rows
        for f in sorted(glob.glob(os.path.join(path, "*.parquet")))
    ]


def _parquet_rows(path: str) -> int:
    """Row count of a parquet table directory (footers, no Spark job)."""
    return sum(_part_rows(path))


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def write_segment(
    spark: SparkSession,
    tables: IndexTables,
    index_dir: str,
    segment_id: str,
    opstamp: int,
    salt_df_threshold: int = 100_000,
    n_salts: int = 16,
    term_partitions: int | None = None,
    publish: bool = True,
) -> ManifestEntry:
    """Write one segment durably and commit it to the manifest.

    ``publish=False`` writes the segment payload and returns the entry
    WITHOUT appending to the manifest — callers that must swap several
    entries atomically (merge compaction) publish via a single
    ``Manifest.replace_all`` instead, so readers never observe a
    window where merged docs exist twice.

    Postings are range-partitioned by (field, term) and sorted within
    partitions by (field, term, doc_id) — the layout that makes term
    lookups prune files/row-groups via parquet min/max stats, the
    engine's analogue of the term-dictionary access path.
    """
    seg_dir = os.path.join(index_dir, "segments", segment_id)
    staging = seg_dir + ".staging"
    if os.path.exists(staging):
        shutil.rmtree(staging)
    os.makedirs(staging, exist_ok=True)
    if term_partitions is None:
        term_partitions = spark.sparkContext.defaultParallelism

    salted = salted_postings(
        tables.postings, tables.termstats, salt_df_threshold, n_salts
    )
    (
        salted.repartitionByRange(
            term_partitions, F.col("field"), F.col("term"), F.col("salt")
        )
        .sortWithinPartitions("field", "term", "salt", "doc_id")
        .write.mode("overwrite")
        .parquet(f"{staging}/postings")
    )

    tables.doclens.write.mode("overwrite").parquet(f"{staging}/doclens")
    # dictionary sorted by (field, term): parquet min/max stats give
    # prefix-range pruning for regex/fuzzy dictionary scans
    (
        tables.termstats.repartitionByRange(
            max(1, term_partitions // 4), F.col("field"), F.col("term")
        )
        .sortWithinPartitions("field", "term")
        .write.mode("overwrite")
        .parquet(f"{staging}/termstats")
    )

    # the parquet replaces the build's cached frames; left cached over
    # the source, they would serve its old rows to a rebuild of the path
    for df in tables.persisted:
        df.unpersist()

    n_terms = _parquet_rows(f"{staging}/termstats")
    part_postings = _part_rows(f"{staging}/postings")
    n_postings = sum(part_postings)
    with open(f"{staging}/stats.json", "w") as f:
        json.dump(
            {"n_docs": tables.n_docs, "fieldstats": tables.field_avgdl,
             "n_terms": n_terms, "n_postings": n_postings},
            f,
        )

    # per-partition lineage: one line per non-empty postings part file
    with open(f"{staging}/_metrics.jsonl", "w") as f:
        for i, n in enumerate(n for n in part_postings if n):
            f.write(json.dumps({"segment_id": segment_id, "partition": i,
                                "postings": n}) + "\n")

    seg_bytes = _dir_bytes(staging)
    if os.path.exists(seg_dir):
        shutil.rmtree(seg_dir)
    os.replace(staging, seg_dir)  # atomic publish
    entry = ManifestEntry(
        segment_id=segment_id,
        opstamp=opstamp,
        docs=tables.n_docs,
        terms=n_terms,
        postings=n_postings,
        bytes=seg_bytes,
        committed_at=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        format_version=SEGMENT_FORMAT_VERSION,
    )
    if publish:
        Manifest(index_dir).append(entry)
    return entry


def build_segments(
    spark: SparkSession,
    corpus: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_fields: list[str] | str = "text",
    n_chunks: int = 1,
    index_name: str = "index",
    fingerprint: str = "v1",
    salt_df_threshold: int = 100_000,
    tokenizers: dict[str, str] | None = None,
) -> list[ManifestEntry]:
    """Chunked, resumable index build.

    The corpus is split into ``n_chunks`` by doc-id hash range; each
    chunk becomes one segment.  Chunks whose (content-addressed)
    segment id is already committed are SKIPPED — that is the resume
    path: kill the build after chunk i, rerun, and chunks ≤ i are not
    recomputed (verified by tests/test_segments.py).
    """
    manifest = Manifest(index_dir)
    # stale-format entries are REPLACED, not appended beside: their new
    # content-addressed ids differ (fmt is in the id), so leaving the
    # old entries in the manifest would double-count every chunk's
    # docs/tf/df.  Rewrite the manifest without them, then drop their
    # now-unreferenced payload dirs.
    fresh = [
        e for e in manifest.entries()
        if e.format_version == SEGMENT_FORMAT_VERSION
    ]
    stale = [
        e for e in manifest.entries()
        if e.format_version != SEGMENT_FORMAT_VERSION
    ]
    if stale:
        # ONLY purge stale entries this very build is about to recreate
        # (its own chunk ids under older formats).  Anything else —
        # flush micro-segments, chunks of a different corpus
        # fingerprint — holds committed docs this build cannot restore;
        # deleting them would silently lose data, so refuse instead.
        recreatable = _recreatable_stale_ids(index_name, n_chunks,
                                             fingerprint)
        orphans = [e for e in stale if e.segment_id not in recreatable]
        if orphans:
            raise RuntimeError(
                f"index at {index_dir} has {len(orphans)} segment(s) in "
                f"an older format that this build cannot recreate "
                f"(e.g. flush micro-segments or another ingest's "
                f"chunks): {[e.segment_id for e in orphans][:5]}. "
                "Run migrate_stale_segments() to re-encode them in "
                "place, or re-ingest their sources into a fresh index "
                "directory; refusing to drop committed documents."
            )
        manifest.replace_all(fresh)
        for e in stale:
            shutil.rmtree(
                os.path.join(index_dir, "segments", e.segment_id),
                ignore_errors=True,
            )
    done = {e.segment_id for e in fresh}
    out = list(fresh)
    for chunk in range(n_chunks):
        seg_id = segment_id_for(index_name, f"chunk{chunk}of{n_chunks}",
                                fingerprint)
        if seg_id in done:
            continue
        # pmod (not %): Spark's % keeps the dividend's sign, so negative
        # doc ids would match no chunk and silently vanish from the
        # index; coalesce routes null/uncastable ids to chunk 0 — every
        # row matches exactly one chunk by construction
        part = corpus.filter(
            F.coalesce(
                F.pmod(F.col(id_col).cast("long"), F.lit(n_chunks)),
                F.lit(0),
            )
            == F.lit(chunk)
        )
        tables = build_index(part, id_col=id_col, text_fields=text_fields,
                             tokenizers=tokenizers)
        entry = write_segment(
            spark, tables, index_dir, seg_id, opstamp=chunk + 1,
            salt_df_threshold=salt_df_threshold,
        )
        out.append(entry)
    return out


def migrate_stale_segments(
    spark: SparkSession,
    index_dir: str,
    index_name: str = "index",
) -> list[str]:
    """Re-encode older-format committed segments under the CURRENT
    format, in place — the upgrade path for durable indexes that
    ``build_segments`` refuses to touch (flush micro-segments, merged
    segments, other ingests' chunks: their docs are committed and not
    recreatable from any pending build input).

    Works for any older layout whose RAW tables are column-compatible
    (postings: field/term/doc_id/tf[/positions]; doclens:
    field/doc_id/doc_len): the derived tables (salted postings with
    inline doc_len, termstats, stats.json) are recomputed from the raw
    tables exactly as a fresh write would.  An older segment's blocks/
    dir is not carried over: blocks are derived at open.  Each stale
    segment is rewritten under a new content-addressed id and the
    manifest is swapped in ONE ``replace_all`` — readers never observe
    a mixed old/new state, and a crash mid-migration leaves the old
    manifest fully intact.
    Returns the new segment ids.
    """
    manifest = Manifest(index_dir)
    entries = manifest.entries()
    stale = [
        e for e in entries if e.format_version != SEGMENT_FORMAT_VERSION
    ]
    if not stale:
        return []
    remaining = {e.segment_id: e for e in entries}
    new_entries: list[ManifestEntry] = []
    for e in stale:
        seg_dir = os.path.join(index_dir, "segments", e.segment_id)
        try:
            raw = spark.read.parquet(f"{seg_dir}/postings")
            cols = ["field", "term", "doc_id", "tf"]
            missing = [c for c in cols if c not in raw.columns]
            if missing:
                raise ValueError(
                    f"postings table lacks column(s) {missing}"
                )
            if "positions" in raw.columns:
                cols.append("positions")
            doclens = spark.read.parquet(f"{seg_dir}/doclens").select(
                "field", "doc_id", "doc_len"
            )
            if "doc_len" in raw.columns:  # inline since format v3
                postings = raw.select(*cols, "doc_len")
            else:  # pre-v3: stitch the inline doc_len from doclens
                postings = raw.select(*cols).join(
                    doclens, ["field", "doc_id"]
                )
        except Exception as exc:
            raise RuntimeError(
                f"segment {e.segment_id} (format v{e.format_version}) "
                f"is not raw-table compatible with the current format; "
                "re-ingest its source into a fresh index"
            ) from exc
        termstats = postings.groupBy("field", "term").agg(
            F.count("*").alias("df")
        )
        field_avgdl = {
            r["field"]: float(r["avgdl"])
            for r in doclens.groupBy("field").agg(
                F.avg("doc_len").alias("avgdl")
            ).collect()
        }
        tables = IndexTables(
            postings=postings,
            doclens=doclens,
            termstats=termstats,
            field_avgdl=field_avgdl,
            n_docs=e.docs,
        )
        new_id = segment_id_for(
            index_name, f"migrate:{e.segment_id}", f"fmt{e.format_version}"
        )
        entry = write_segment(
            spark, tables, index_dir, new_id, opstamp=e.opstamp,
            publish=False,
        )
        remaining.pop(e.segment_id, None)
        remaining[new_id] = entry
        new_entries.append(entry)
    manifest.replace_all(list(remaining.values()))
    for e in stale:
        shutil.rmtree(
            os.path.join(index_dir, "segments", e.segment_id),
            ignore_errors=True,
        )
    return [e.segment_id for e in new_entries]


def build_report(index_dir: str) -> dict:
    """Consolidated build audit from the committed manifest plus each
    segment's per-partition lineage metrics (``_metrics.jsonl``) —
    the read side of the north-star checkpoint contract: every
    indexing stage records docs/terms/postings/bytes, so an operator
    can answer "what did this build write, and was it skewed?"
    without touching the data files.

    Driver-side only (manifest + one small jsonl per segment — no
    Spark jobs), so it's safe to call from monitoring at any scale.

    Returns totals (segments/docs/terms/postings/bytes), per-segment
    rows, and a partition-skew audit over the postings layout:
    ``max_partition_postings / mean`` — the number a salting change
    should move (head-term stripes land here first).
    """
    entries = Manifest(index_dir).entries()
    per_segment = []
    part_counts: list[int] = []
    for e in entries:
        seg = {
            "segment_id": e.segment_id,
            "docs": e.docs,
            "terms": e.terms,
            "postings": e.postings,
            "bytes": e.bytes,
            "committed_at": e.committed_at,
        }
        mpath = os.path.join(index_dir, "segments", e.segment_id,
                             "_metrics.jsonl")
        if os.path.exists(mpath):
            with open(mpath) as f:
                parts = [json.loads(ln) for ln in f if ln.strip()]
            seg["n_partitions"] = len(parts)
            part_counts.extend(p["postings"] for p in parts)
        per_segment.append(seg)
    report = {
        "segments": len(entries),
        "docs": sum(e.docs for e in entries),
        "terms": sum(e.terms for e in entries),
        "postings": sum(e.postings for e in entries),
        "bytes": sum(e.bytes for e in entries),
        "per_segment": per_segment,
    }
    if part_counts:
        mean = sum(part_counts) / len(part_counts)
        report["partition_skew"] = {
            "partitions": len(part_counts),
            "max_postings": max(part_counts),
            "mean_postings": round(mean, 1),
            "skew_ratio": round(max(part_counts) / mean, 2) if mean else 0.0,
        }
    return report


def open_segmented_tables(spark: SparkSession, index_dir: str) -> IndexTables:
    """Read the union of committed segments as one logical index.

    Readers consult ONLY the manifest (write/read isolation: a crashed
    or in-flight build's staging dirs are invisible).  Stats are
    re-aggregated across segments: df and doclens add; avgdl is the
    doc-weighted mean, held on the driver.
    """
    seg_dirs = _segment_dirs(index_dir)
    postings = spark.read.schema(POSTINGS_READ_SCHEMA).parquet(
        *[f"{d}/postings" for d in seg_dirs]
    ).drop("salt")
    doclens = spark.read.schema(DOCLENS_READ_SCHEMA).parquet(
        *[f"{d}/doclens" for d in seg_dirs]
    )
    termstats = (
        spark.read.schema(TERMSTATS_READ_SCHEMA).parquet(
            *[f"{d}/termstats" for d in seg_dirs]
        )
        .groupBy("field", "term")
        .agg(F.sum("df").alias("df"))
    )
    n_docs = 0
    # stitched avgdl = doc-weighted mean of per-segment avgdl — pure
    # metadata from stats.json (every doc contributes one doclens row
    # per indexed field, so segment n_docs is the right weight); no
    # Spark job, and queries read it as a literal
    fsum: dict[str, float] = {}
    fw: dict[str, int] = {}
    for d in seg_dirs:
        with open(f"{d}/stats.json") as f:
            st = json.load(f)
        n_docs += st["n_docs"]
        for fld, avgdl in st.get("fieldstats", {}).items():
            fsum[fld] = fsum.get(fld, 0.0) + float(avgdl) * st["n_docs"]
            fw[fld] = fw.get(fld, 0) + st["n_docs"]
    field_avgdl = {
        fld: fsum[fld] / fw[fld] if fw[fld] else 0.0  # 0: empty segments
        for fld in sorted(fsum)
    }
    return IndexTables(
        postings=postings,
        doclens=doclens,
        termstats=termstats,
        field_avgdl=field_avgdl,
        n_docs=n_docs,
    )


def read_term_dict(index_dir: str,
                   max_rows: int) -> dict[tuple[str, str], int] | None:
    """The committed term dictionary as ``{(field, term): df}``, read on
    the driver with pyarrow (no Spark job), or None when the segments'
    termstats hold more than ``max_rows`` rows (summed over the parquet
    footers, so checking the bound reads no data)."""
    paths = [f"{d}/termstats" for d in _segment_dirs(index_dir)]
    if sum(_parquet_rows(p) for p in paths) > max_rows:
        return None
    files = [f for p in paths
             for f in sorted(glob.glob(os.path.join(p, "*.parquet")))]
    if not files:
        return {}
    ts = pa.concat_tables(
        [pq.read_table(f, columns=["field", "term", "df"]) for f in files]
    ).group_by(["field", "term"]).aggregate([("df", "sum")])
    return dict(zip(
        zip(ts["field"].to_pylist(), ts["term"].to_pylist()),
        ts["df_sum"].to_pylist(),
    ))


def _segment_dirs(index_dir: str) -> list[str]:
    """Directories of the manifest's committed segments."""
    entries = Manifest(index_dir).entries()
    if not entries:
        raise FileNotFoundError(f"no committed segments in {index_dir}")
    _check_format(entries, index_dir)
    return [
        os.path.join(index_dir, "segments", e.segment_id) for e in entries
    ]


def _check_format(entries: list[ManifestEntry], index_dir: str) -> None:
    """Fail fast on a manifest carrying older-format segments: reading
    mixed segment layouts would drop or null new columns silently."""
    bad = [e for e in entries if e.format_version != SEGMENT_FORMAT_VERSION]
    if bad:
        raise ValueError(
            f"index at {index_dir} has {len(bad)} segment(s) with format "
            f"version {sorted({e.format_version for e in bad})} "
            f"(current: {SEGMENT_FORMAT_VERSION}); run "
            "migrate_stale_segments() to re-encode them in place, or "
            "rebuild (build_segments replaces its own stale chunks "
            "automatically)"
        )


def open_blocks(spark: SparkSession, index_dir: str) -> DataFrame:
    """Block table (``index.blocks``) of the committed segments, encoded
    from their stored postings and salts at the stitched avgdl of
    ``open_segmented_tables`` — the avgdl the blocks are queried with."""
    avgdl = open_segmented_tables(spark, index_dir).field_avgdl
    postings = spark.read.schema(POSTINGS_READ_SCHEMA).parquet(
        *[f"{d}/postings" for d in _segment_dirs(index_dir)]
    )
    return encode_blocks_df(postings, avgdl)
