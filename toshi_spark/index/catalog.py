"""Index catalog: the control plane over named indexes.

Mirrors Toshi's ``IndexCatalog`` (``toshi-server/src/index.rs:15-19``):
a map of name → index handle with create / list / summary / flush /
refresh, plus the document-mutation surface (add_document,
delete_term) from ``toshi-server/src/handle.rs:162-210`` and the
HTTP handlers in ``handlers/index.rs`` / ``handlers/summary.rs``.

On disk:

    base/<name>/index.json        schema + settings
    base/<name>/manifest.jsonl    committed segments (commit log)
    base/<name>/segments/<id>/    segment payloads
    base/<name>/tombstones/       delete-by-term tombstone parquet

Deletes are tombstones (doc ids), anti-joined at query time —
the Iceberg merge-on-read pattern; compaction folds them in.
"""

from __future__ import annotations

import bisect
import dataclasses
import json
import os
import shutil
import time
from itertools import accumulate
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..analyzer import analyzer_version
from ..engine import FullTextIndex
from ..query.compiler import sql_ident
from ..schema import FieldSpec, IndexSchema, QueryError
from .builder import build_index
from .segments import (
    Manifest,
    build_segments,
    open_segmented_tables,
    read_term_dict,
    segment_id_for,
    write_segment,
)


# pending buffers above this size parse DISTRIBUTED at flush (the
# driver-side json.loads loop over a staged multi-hundred-MB
# distributed-bulk batch was the last serial parse in the ingest path)
DEFAULT_FLUSH_DISTRIBUTED_BYTES = 16 << 20

# an opened handle holds the committed term dictionary on the driver as
# a {(field, term): df} dict while the segments' termstats hold at most
# this many rows; above it each query collects its own terms' rows.
# Measured with tracemalloc (CPython 3.11, 200,000 entries of 11-char
# terms): 253 bytes per entry held, 296 at peak while building, so the
# dict stays under about 50 MB of driver memory.
TERM_DICT_MAX_ROWS = 200_000

# an opened handle holds the row store's footer index (DocStore) while
# the row-store part files hold at most this many row groups; above it
# the winners' stored fields come from a Spark fetch.  A span costs
# about 170 bytes held, so the index stays under about 34 MB.
DOC_STORE_MAX_SPANS = 200_000

# row-store writes cap their parquet row groups at this many bytes, so a
# driver lookup of k docs decodes at most k small blocks, as Tantivy's
# doc store decompresses only the blocks that hold its hits
ROWSTORE_ROW_GROUP_BYTES = 1 << 20


def rowstore_fields(schema: IndexSchema,
                    array_fields) -> list[tuple[str, str]]:
    """The one (name, Spark type) layout of the row store: doc_id, then
    every schema field, long for i64/u64 and string otherwise, as an
    array once the field has gone multi-valued.  Both flush parses
    write every field of it (null where no doc has the field) and the
    Spark frame reads it, so no reader infers it from one part file;
    :class:`DocStore` reads its stored columns, null where a part file
    lacks one."""
    out = [("doc_id", "long")]
    for spec in schema.fields:
        if spec.name == "doc_id":
            continue
        base = "long" if spec.ftype in ("i64", "u64") else "string"
        out.append((spec.name, f"array<{base}>"
                    if spec.name in array_fields else base))
    return out


def _ddl(fields: list[tuple[str, str]]) -> str:
    return ", ".join(f"{sql_ident(n)} {t}" for n, t in fields)


def _part_files(root: str) -> list[str]:
    """The parquet part files under ``root``, skipping the hidden and
    ``_``-prefixed entries Spark's file listing skips."""
    out = []
    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(x for x in dirs if x[0] not in "._")
        out += [os.path.join(d, f) for f in sorted(files)
                if f.endswith(".parquet") and f[0] not in "._"]
    return out


class DocStore:
    """The committed row store as a driver-side doc store.

    Built once per opened handle from the parquet footers of the
    row-store part files: one (min doc_id, max doc_id, file, row group)
    span per row group, sorted by min; :meth:`open` builds none above
    ``DOC_STORE_MAX_SPANS`` spans.  :meth:`rows` reads with pyarrow
    only the row groups whose [min, max] holds a wanted doc_id, and runs
    no Spark job.  (pyarrow 16's ``isin`` filter prunes no row group, so
    the spans are kept here.)
    """

    def __init__(self, files: list[str], footers: list):
        self.files = files
        spans = []
        for fi, md in enumerate(footers):
            col = next(j for j in range(md.num_columns)
                       if md.schema.column(j).path == "doc_id")
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(col).statistics
                # a row group without min/max is read for every lookup
                lo, hi = ((st.min, st.max) if st is not None
                          and st.has_min_max else (-2**63, 2**63 - 1))
                spans.append((lo, hi, fi, g))
        spans.sort()
        self._spans = spans
        self._lo = [s[0] for s in spans]
        # _reach[i] = the largest max of spans[0..i], so a backward walk
        # from the last span starting at or below d stops at the first
        # span no earlier one can reach d from
        self._reach = list(accumulate((s[1] for s in spans), max))

    @classmethod
    def open(cls, root: str) -> "DocStore | None":
        """The doc store of the row store under ``root``, or None when
        its part files hold more than ``DOC_STORE_MAX_SPANS`` row
        groups (counted from the footers before any span is built)."""
        files = _part_files(root)
        footers = [pq.read_metadata(p) for p in files]
        if sum(md.num_row_groups for md in footers) > DOC_STORE_MAX_SPANS:
            return None
        return cls(files, footers)

    def rows(self, doc_ids, names: list[str]) -> list[dict[str, Any]]:
        """The rows holding ``doc_ids``, as {"doc_id", *names} dicts; a
        column a part file lacks reads as null."""
        groups: dict[int, set[int]] = {}
        for d in doc_ids:
            i = bisect.bisect_right(self._lo, d) - 1
            while i >= 0 and self._reach[i] >= d:
                lo, hi, fi, g = self._spans[i]
                if hi >= d:
                    groups.setdefault(fi, set()).add(g)
                i -= 1
        want = pa.array(sorted(doc_ids), pa.int64())
        out = []
        for fi in sorted(groups):
            pf = pq.ParquetFile(self.files[fi])
            have = set(pf.schema_arrow.names)
            t = pf.read_row_groups(
                sorted(groups[fi]),
                columns=["doc_id"] + [n for n in names if n in have],
            )
            t = t.filter(pc.is_in(t["doc_id"], value_set=want))
            out += [{n: r.get(n) for n in ["doc_id", *names]}
                    for r in t.to_pylist()]
        return out


class IndexCatalog:
    def __init__(self, spark: SparkSession, base_path: str,
                 flush_distributed_bytes: int =
                 DEFAULT_FLUSH_DISTRIBUTED_BYTES):
        self.spark = spark
        self.base_path = base_path
        self.flush_distributed_bytes = flush_distributed_bytes
        # name → (commit fingerprint, handle): one open per commit.  An
        # entry serves only while its fingerprint matches the one on
        # disk, so racing opens can cost a re-open, never a stale view
        self._handles: dict[str, tuple[str, FullTextIndex]] = {}
        os.makedirs(base_path, exist_ok=True)

    def _dir(self, name: str) -> str:
        return os.path.join(self.base_path, name)

    # ------------------------------------------------------------ create

    def create_index(self, name: str, schema: IndexSchema | list[dict],
                     merge_policy: dict | None = None) -> None:
        """PUT /{index}/_create (handlers/index.rs:30-42).

        ``merge_policy`` mirrors the reference settings
        (settings.rs:47-49,190-201): ``{"kind": "log"|"none",
        "min_merge_size": 8, "min_layer_size": 10000,
        "level_log_size": 0.75}``; default is the log policy with the
        reference defaults.  Compaction runs automatically after each
        commit (flush), like Tantivy's writer-attached merge policy.
        """
        if isinstance(schema, list):
            if schema and "ftype" in schema[0]:
                schema = IndexSchema([FieldSpec(**s) for s in schema])
            else:  # Toshi schema-JSON shape {name, type, options}
                schema = IndexSchema.from_json(schema)
        # unknown tokenizer names must fail HERE with the pinned
        # QueryError, not later inside an executor-side analyze kernel
        schema.validate_tokenizers()
        idx_dir = self._dir(name)
        if os.path.exists(os.path.join(idx_dir, "index.json")):
            raise QueryError(f"Index: {name} already exists")
        os.makedirs(idx_dir, exist_ok=True)
        with open(os.path.join(idx_dir, "index.json"), "w") as f:
            json.dump(
                {
                    "name": name,
                    "created_at": time.strftime(
                        "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                    ),
                    "opstamp": 0,
                    "fields": [vars(s) for s in schema.fields],
                    "merge_policy": merge_policy or {"kind": "log"},
                    # indexed terms are DERIVED data: record the
                    # analyzer version each tokenizer produced them
                    # under (for dictionary tokenizers this includes
                    # the dictionary fingerprint), so open() can refuse
                    # an index whose terms no longer match current
                    # query-side analysis
                    "analyzer_versions": {
                        s.tokenizer: analyzer_version(s.tokenizer)
                        for s in schema.text_fields()
                    },
                },
                f,
            )

    def exists(self, name: str) -> bool:
        return os.path.exists(os.path.join(self._dir(name), "index.json"))

    def _meta(self, name: str) -> dict:
        if not self.exists(name):
            raise QueryError(f"Unknown Index: '{name}' does not exist")
        with open(os.path.join(self._dir(name), "index.json")) as f:
            return json.load(f)

    def _save_meta(self, name: str, meta: dict) -> None:
        with open(os.path.join(self._dir(name), "index.json"), "w") as f:
            json.dump(meta, f)

    def schema(self, name: str) -> IndexSchema:
        meta = self._meta(name)
        return IndexSchema([FieldSpec(**s) for s in meta["fields"]])

    # -------------------------------------------------------------- list

    def list_indexes(self) -> list[str]:
        """GET /_list — sorted, deduped (index.rs:51-56)."""
        out = set()
        for d in os.listdir(self.base_path):
            if os.path.exists(os.path.join(self.base_path, d, "index.json")):
                out.add(d)
        return sorted(out)

    def refresh_catalog(self) -> list[str]:
        """Directory re-scan (index.rs:102-124); stateless here."""
        return self.list_indexes()

    # ------------------------------------------------------------ ingest

    def ingest(
        self,
        name: str,
        corpus: DataFrame,
        id_col: str = "doc_id",
        n_chunks: int = 1,
        fingerprint: str = "v1",
    ) -> int:
        """Bulk ingest: chunked, resumable, all-or-nothing per chunk.

        Mirrors _bulk semantics (handlers/bulk.rs): any failure leaves
        the manifest untouched for the failing chunk (rollback).
        Returns docs ingested.
        """
        schema = self.schema(name)
        # terms are produced NOW, not at create: verify the current
        # analyzer identity (incl. the cang_jie_dict dictionary
        # fingerprint) still matches the create-time stamp, so a
        # set_dictionary() between create and ingest fails the build
        # loudly instead of stamping terms under the wrong identity
        self._check_analyzer_versions(name, schema)
        text_fields = [f.name for f in schema.text_fields()]
        entries = build_segments(
            self.spark, corpus, self._dir(name), id_col=id_col,
            text_fields=text_fields, n_chunks=n_chunks,
            index_name=name, fingerprint=fingerprint,
            tokenizers={f.name: f.tokenizer for f in schema.text_fields()},
        )
        meta = self._meta(name)
        meta["opstamp"] = 0  # commit resets the opstamp (handle.rs:62-70)
        # track the id ceiling so API-added docs (no explicit id — the
        # reference's writer assigns ids) never collide with ingested ids
        max_id = corpus.agg(F.max(F.col(id_col))).collect()[0][0]
        if max_id is not None:
            meta["next_doc_id"] = max(
                int(meta.get("next_doc_id", 0)), int(max_id) + 1
            )
        self._save_meta(name, meta)
        return sum(e.docs for e in entries)

    def add_document(self, name: str, doc: dict[str, Any],
                     commit: bool = False) -> None:
        """Single-doc add (handle.rs:162-182): micro-segment append.

        Without commit=True the doc sits in a staging buffer (pending
        NDJSON) and only becomes visible on flush — mirroring writer
        buffering + ReloadPolicy::OnCommit.
        """
        pending = os.path.join(self._dir(name), "pending.jsonl")
        with open(pending, "a") as f:
            f.write(json.dumps(doc) + "\n")
        meta = self._meta(name)
        meta["opstamp"] = int(meta.get("opstamp", 0)) + 1
        self._save_meta(name, meta)
        if commit:
            self.flush(name)

    def stage_pending_lines(self, name: str, lines: list[str]) -> None:
        """Append pre-validated NDJSON lines to the pending buffer in
        one sequential write (the distributed-bulk staging path: the
        API layer has already parsed+validated every line in a Spark
        job, so re-serializing per doc through add_document would only
        add a driver-side JSON round-trip).  Opstamp advances by one
        per doc, same as per-doc adds."""
        self.stage_pending_stream(name, lines, len(lines))

    def stage_pending_stream(self, name: str, lines, count: int) -> None:
        """Streaming form of :meth:`stage_pending_lines`: ``lines`` is
        any iterable (e.g. a generator over a spilled bulk file), so a
        multi-hundred-MB validated batch appends to the pending buffer
        without ever being held as a Python list.  ``count`` advances
        the opstamp (one per doc, same as per-doc adds)."""
        pending = os.path.join(self._dir(name), "pending.jsonl")
        with open(pending, "a") as f:
            for line in lines:
                f.write(line.rstrip("\n") + "\n")
        meta = self._meta(name)
        meta["opstamp"] = int(meta.get("opstamp", 0)) + count
        self._save_meta(name, meta)

    def flush(self, name: str) -> int:
        """POST /{index}/_flush (handlers/summary.rs:35-46).

        Builds a micro-segment from pending docs; returns the opstamp
        before reset.
        """
        meta = self._meta(name)
        opstamp = int(meta.get("opstamp", 0))
        self._recover_rowstore(name)
        pending = os.path.join(self._dir(name), "pending.jsonl")
        if os.path.exists(pending) and os.path.getsize(pending) > 0:
            schema = self.schema(name)
            # segment build = term production: the analyzer identity
            # (incl. dictionary fingerprint) must still match the
            # create-time stamp — see ingest()
            self._check_analyzer_versions(name, schema)
            # writer-assigned doc ids (reference: Tantivy assigns ids on
            # add; our deterministic equivalent is a persisted counter)
            next_id = int(meta.get("next_doc_id", 0))
            sticky = set(meta.get("array_fields", []))
            distributed = (
                os.path.getsize(pending) > self.flush_distributed_bytes
            )
            if distributed:
                sdf, array_fields, n_new_ids = (
                    self._parse_pending_distributed(
                        pending, schema, next_id, sticky
                    )
                )
                # one parse for the three downstream actions (postings
                # build, segment write, rowstore write) — and pins the
                # rows before the pending file is deleted below
                sdf = sdf.persist()
            else:
                sdf, array_fields, n_new_ids = (
                    self._parse_pending_driver(
                        pending, schema, next_id, sticky
                    )
                )
            meta["next_doc_id"] = next_id + n_new_ids
            if array_fields:
                self._promote_rowstore_arrays(name, array_fields, meta)
                meta["array_fields"] = sorted(array_fields)
            text_fields = [f.name for f in schema.text_fields()]
            tables = build_index(
                sdf, id_col="doc_id", text_fields=text_fields,
                tokenizers={f.name: f.tokenizer
                            for f in schema.text_fields()},
            )
            # monotonic persisted counter — NOT manifest length, which
            # shrinks after merge compaction and could repeat with the
            # same opstamp, colliding with (and rmtree-ing) a live
            # committed segment
            flush_no = int(meta.get("flush_counter", 0))
            meta["flush_counter"] = flush_no + 1
            seg_id = segment_id_for(name, f"flush-{flush_no}", str(opstamp))
            write_segment(self.spark, tables, self._dir(name), seg_id,
                          opstamp=opstamp)
            # stash the flushed rows so open() can serve stored fields.
            # Written under a per-flush subdirectory keyed by seg_id
            # with overwrite semantics: a crash between this write and
            # the meta save replays the SAME pending docs into the SAME
            # directory — idempotent, so searches never see duplicate
            # stored rows (mirrors the manifest's dedupe-by-segment-id).
            self._write_rowstore(
                sdf, os.path.join(self._rowstore_path(name),
                                  f"flush-{seg_id}"))
            if distributed:
                sdf.unpersist()
            os.remove(pending)
        # deletes become visible at the commit point, like the reference
        self._promote_pending_tombstones(name)
        meta["opstamp"] = 0
        self._save_meta(name, meta)
        # Tantivy's merge policy is writer-attached and engages on
        # commit (settings.rs:190-201): compact due buckets now
        self._auto_merge(name)
        return opstamp

    def _parse_pending_driver(self, pending: str, schema: IndexSchema,
                              next_id: int, sticky: set[str]):
        """Small-buffer flush parse (driver-side json.loads loop).

        Multi-valued fields: once ANY doc supplies an array for a
        field, that field's row-store column becomes array-typed for
        every doc (sticky, recorded in index.json) — parquet cannot
        mix string and array<string> across appends.  Render collapses
        singletons back (FlatNamedDocument).  The rows take the
        :func:`rowstore_fields` layout, so a field no doc of the batch
        carries is a typed null column.  Returns (sdf, array_fields
        incl. sticky, count of writer-assigned ids).
        """
        with open(pending) as f:
            docs = [json.loads(line) for line in f if line.strip()]
        n_new = 0
        for doc in docs:
            if "doc_id" not in doc:
                doc["doc_id"] = next_id + n_new
                n_new += 1
        array_fields = set(sticky)
        for doc in docs:
            for k, v in doc.items():
                if isinstance(v, list):
                    array_fields.add(k)
        if array_fields:
            for doc in docs:
                for k in array_fields:
                    if k in doc and not isinstance(doc[k], list):
                        doc[k] = [doc[k]]
        sdf = self.spark.createDataFrame(
            docs, _ddl(rowstore_fields(schema, array_fields)))
        return sdf, array_fields, n_new

    def _parse_pending_distributed(self, pending: str,
                                   schema: IndexSchema, next_id: int,
                                   sticky: set[str]):
        """Large-buffer flush parse as a Spark job (same semantics as
        the driver path, verified by A/B test): a staged
        distributed-bulk batch re-parsed through a serial driver loop
        was the last single-threaded stage in the ingest path.

        Two distributed passes over the buffer (json.loads twice, but
        N-wide): pass 1 discovers which fields are array-valued
        anywhere (the sticky promotion rule needs GLOBAL knowledge
        before any row is emitted) and how many docs need
        writer-assigned ids; pass 2 emits typed rows in the
        :func:`rowstore_fields` layout that pass 1 fixes.  Per-line
        ordinals (zipWithIndex over the offset-ordered text read) make
        writer-assigned ids deterministic in LINE ORDER, byte-identical
        to the driver loop's next_id++.
        """
        spark = self.spark
        rdd = (
            spark.read.text(pending).rdd
            .map(lambda r: r[0])
            .filter(lambda s: s.strip())
            .zipWithIndex()
        )
        ldf = spark.createDataFrame(rdd, "line string, _ln long")

        def probe(batches):
            import json as _json

            import pandas as _pd

            for pdf in batches:
                arr: set[str] = set()
                missing = 0
                for line in pdf["line"]:
                    d = _json.loads(line)
                    for k, v in d.items():
                        if isinstance(v, list):
                            arr.add(k)
                    if "doc_id" not in d:
                        missing += 1
                yield _pd.DataFrame({
                    "arr": [sorted(arr)], "missing": [missing],
                })

        stats = ldf.mapInPandas(
            probe, "arr array<string>, missing long"
        ).collect()
        array_fields = set(sticky)
        n_missing = 0
        for r in stats:
            array_fields.update(r["arr"])
            n_missing += int(r["missing"])

        layout = rowstore_fields(schema, array_fields)
        fields = [n for n, _t in layout[1:]]
        out_schema = _ddl(layout[:1] + [("_ln", "long")] + layout[1:])
        arrf = frozenset(array_fields)

        def parse(batches):
            import json as _json

            import pandas as _pd

            for pdf in batches:
                cols: dict[str, list] = {f: [] for f in fields}
                ids: list = []
                lns: list[int] = []
                for line, ln in zip(pdf["line"], pdf["_ln"]):
                    d = _json.loads(line)
                    ids.append(d.get("doc_id"))
                    lns.append(int(ln))
                    for f in fields:
                        v = d.get(f)
                        if (f in arrf and v is not None
                                and not isinstance(v, list)):
                            v = [v]
                        cols[f].append(v)
                yield _pd.DataFrame({"doc_id": _pd.Series(
                    ids, dtype="object"), "_ln": lns, **cols})

        out = ldf.mapInPandas(parse, out_schema)
        if n_missing == 0:
            sdf = out.drop("_ln")
        else:
            total = ldf.count()
            if n_missing == total:
                # every doc needs an id: ordinals are dense, so the
                # assignment is a pure column expression — no shuffle
                sdf = out.withColumn(
                    "doc_id", F.lit(next_id) + F.col("_ln")
                ).drop("_ln")
            else:
                # mixed batch (some docs carry ids): rank the missing
                # ones by line order.  The global window sorts ONLY
                # the missing rows on one partition — a rare shape
                # (APIs either assign ids or don't); documented trade.
                from pyspark.sql.window import Window

                w = Window.orderBy("_ln")
                missing = (
                    out.filter(F.col("doc_id").isNull())
                    .withColumn(
                        "doc_id",
                        F.lit(next_id) + F.row_number().over(w) - 1,
                    )
                )
                sdf = (
                    out.filter(F.col("doc_id").isNotNull())
                    .unionByName(missing)
                    .drop("_ln")
                )
        return sdf, array_fields, n_missing

    def _auto_merge(self, name: str) -> list[str]:
        from .merge import run_merge

        meta = self._meta(name)
        pol = meta.get("merge_policy") or {"kind": "log"}
        if pol.get("kind", "log") == "none":
            return []  # NoMergePolicy (settings.rs merge_policy = "none")
        return run_merge(
            self.spark, self._dir(name),
            min_merge_size=int(pol.get("min_merge_size", 8)),
            min_layer_size=int(pol.get("min_layer_size", 10_000)),
            level_log_size=float(pol.get("level_log_size", 0.75)),
            index_name=name,
        )

    def _rowstore_path(self, name: str) -> str:
        return os.path.join(self._dir(name), "rowstore")

    def _read_rowstore(self, name: str) -> DataFrame | None:
        """Row store = flat parquet (post-promotion rewrites) and/or
        per-flush subdirectories (idempotent appends), read in the
        committed :func:`rowstore_fields` layout: a part file that
        lacks a column reads it as null."""
        rowstore = self._rowstore_path(name)
        if not os.path.exists(rowstore):
            return None
        # a column is an array where index.json lists it or a part
        # file holds it as a list: a promotion swap lands before the
        # flush that made it saves index.json, and a crash between the
        # two must not leave the rewritten files read as scalars
        arrays = set(self._meta(name).get("array_fields", []))
        for path in _part_files(rowstore):
            arrays.update(f.name for f in pq.read_schema(path)
                          if pa.types.is_list(f.type))
        layout = rowstore_fields(self.schema(name), arrays)
        return self.spark.read.schema(_ddl(layout)).option(
            "recursiveFileLookup", "true"
        ).parquet(rowstore)

    @staticmethod
    def _write_rowstore(df: DataFrame, path: str) -> None:
        df.write.mode("overwrite").option(
            "parquet.block.size", ROWSTORE_ROW_GROUP_BYTES
        ).parquet(path)

    def _recover_rowstore(self, name: str) -> None:
        """Finish or discard an interrupted array-promotion swap.

        Invariants: ``rowstore.promote`` only ever holds a COMPLETE
        rewrite (it is written before any rename), and the old data is
        renamed ASIDE (never deleted) before the new data moves in —
        so every crash point leaves either the old or the new complete
        row store recoverable.
        """
        rowstore = self._rowstore_path(name)
        tmp, old = rowstore + ".promote", rowstore + ".old"
        if not os.path.exists(rowstore):
            if os.path.exists(tmp):  # crashed between the two renames
                os.replace(tmp, rowstore)
            elif os.path.exists(old):  # defensive: tmp lost somehow
                os.replace(old, rowstore)
        else:
            # rowstore intact → any leftovers are stale (an incomplete
            # promote rewrite, or the pre-swap copy after a completed
            # swap); the promotion re-runs on the next flush because
            # meta.array_fields only updates after a successful swap
            shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)

    def _promote_rowstore_arrays(self, name: str, array_fields: set[str],
                                 meta: dict) -> None:
        """Rewrite scalar row-store columns to array<...> for fields
        that have gone multi-valued (one-time schema promotion; the
        rowstore holds only flushed docs, so the rewrite is small)."""
        self._recover_rowstore(name)
        rowstore = self._rowstore_path(name)
        df = self._read_rowstore(name)
        if df is None:
            return
        already = set(meta.get("array_fields", []))
        todo = array_fields - already
        if not todo:
            return
        changed = False
        for f in todo:
            if f in df.columns and not str(
                df.schema[f].dataType
            ).startswith("ArrayType"):
                df = df.withColumn(
                    f, F.when(F.col(f).isNotNull(), F.array(F.col(f)))
                )
                changed = True
        if not changed:
            return
        tmp, old = rowstore + ".promote", rowstore + ".old"
        self._write_rowstore(df, tmp)
        # swap via rename-aside: the old row store is never deleted
        # before the new one is in place (_recover_rowstore completes
        # an interrupted swap on the next open/flush)
        os.replace(rowstore, old)
        os.replace(tmp, rowstore)
        shutil.rmtree(old, ignore_errors=True)

    def rollback(self, name: str) -> None:
        """Discard uncommitted adds AND deletes (bulk.rs:121-129)."""
        pending = os.path.join(self._dir(name), "pending.jsonl")
        if os.path.exists(pending):
            os.remove(pending)
        shutil.rmtree(
            os.path.join(self._dir(name), "tombstones_pending"),
            ignore_errors=True,
        )
        meta = self._meta(name)
        meta["opstamp"] = 0
        self._save_meta(name, meta)

    # ------------------------------------------------------------ delete

    def delete_term(self, name: str, terms: dict[str, str],
                    commit: bool = False) -> int:
        """DELETE /{index} (handle.rs:184-210): delete docs matching
        each exact (field, term); returns docs_affected.

        Implemented as tombstones: matching doc ids append to a
        tombstone table that queries anti-join against; compaction
        folds them in (merge.run_merge).  Visibility mirrors the
        reference's deferred-delete semantics (handle.rs:184-210 runs
        ``writer.delete_term`` but readers only see it after the next
        commit): without ``commit=True`` the tombstones land in a
        PENDING area that searches ignore; flush/commit promotes them.
        """
        ix = self.open(name)
        matched = None
        for field, value in terms.items():
            ix.schema.require_indexed(field)
            m = ix.postings.filter(
                (F.col("field") == field) & (F.col("term") == value)
            ).select("doc_id")
            matched = m if matched is None else matched.union(m)
        if matched is None:
            return 0
        matched = matched.distinct()
        pending_dir = os.path.join(self._dir(name), "tombstones_pending")
        existing = self._tombstones(name, include_pending=True)
        fresh = (
            matched.join(existing, "doc_id", "left_anti")
            if existing is not None
            else matched
        )
        n = fresh.count()
        if n:
            fresh.write.mode("append").parquet(pending_dir)
        if commit:
            self._promote_pending_tombstones(name)
        return n

    def _read_tomb_dir(self, name: str, dirname: str) -> DataFrame | None:
        tomb_dir = os.path.join(self._dir(name), dirname)
        if os.path.exists(tomb_dir) and any(
            f.endswith(".parquet") for f in os.listdir(tomb_dir)
        ):
            # pinned schema: skip parquet inference (one fewer tiny
            # driver job per open; see segments.POSTINGS_READ_SCHEMA)
            return self.spark.read.schema("doc_id bigint").parquet(
                tomb_dir
            )
        return None

    def _tombstones(self, name: str,
                    include_pending: bool = False) -> DataFrame | None:
        committed = self._read_tomb_dir(name, "tombstones")
        if not include_pending:
            return committed
        pending = self._read_tomb_dir(name, "tombstones_pending")
        if committed is None:
            return pending
        if pending is None:
            return committed
        return committed.union(pending).distinct()

    def _promote_pending_tombstones(self, name: str) -> None:
        """Commit point for deletes: pending parquet → committed dir.

        File moves (not a Spark rewrite): each pending part file is
        renamed into the committed directory under a unique name, so
        promotion is cheap and crash-safe (a re-run re-moves leftovers;
        duplicate doc_ids across files are harmless — anti-join
        semantics dedupe).
        """
        src = os.path.join(self._dir(name), "tombstones_pending")
        if not os.path.exists(src):
            return
        dst = os.path.join(self._dir(name), "tombstones")
        os.makedirs(dst, exist_ok=True)
        for fn in os.listdir(src):
            if fn.endswith(".parquet"):
                os.replace(
                    os.path.join(src, fn),
                    os.path.join(dst, f"promoted-{int(time.time()*1e6)}-{fn}"),
                )
        shutil.rmtree(src, ignore_errors=True)

    # ------------------------------------------------------------- open

    def open(self, name: str, corpus: DataFrame | None = None) -> FullTextIndex:
        """Open the committed view of an index as a query engine.

        ``corpus`` optionally supplies the row store (stored fields);
        otherwise the flushed rowstore parquet (if any) is used.  Such
        a handle is opened once per commit: it is cached on the catalog
        under the commit fingerprint, so a flush, merge or committed
        delete opens a new one.  A call with ``corpus`` bypasses the
        cache.
        """
        schema = self.schema(name)
        self._check_analyzer_versions(name, schema)
        self._recover_rowstore(name)
        if corpus is None:
            fp = self.commit_fingerprint(name)
            cached = self._handles.get(name)
            if cached is not None and cached[0] == fp:
                return cached[1]
            ix = self._open(name, schema, None)
            self._forget(name)
            self._handles[name] = (fp, ix)
            return ix
        return self._open(name, schema, corpus)

    def _open(self, name: str, schema: IndexSchema,
              corpus: DataFrame | None) -> FullTextIndex:
        tables = open_segmented_tables(self.spark, self._dir(name))
        doc_store = None
        if corpus is None:
            corpus = self._read_rowstore(name)
            if corpus is None:
                corpus = tables.doclens.select("doc_id").distinct()
            else:
                doc_store = DocStore.open(self._rowstore_path(name))
        # stored-field retrieval needs every stored column present; an
        # index opened without its row store (ingest() indexes a corpus
        # the caller owns) serves nulls for missing stored fields
        # instead of failing the search plan
        for spec in schema.fields:
            if spec.stored and spec.name not in corpus.columns:
                corpus = corpus.withColumn(spec.name, F.lit(None))
        tomb = self._tombstones(name)
        if tomb is not None:
            # deletes filter the matched docs only: df, n_docs and
            # avgdl stay index-wide until a merge folds them in
            tables = dataclasses.replace(
                tables,
                postings=tables.postings.join(tomb, "doc_id", "left_anti"),
                doclens=tables.doclens.join(tomb, "doc_id", "left_anti"),
            )
            corpus = corpus.join(tomb, "doc_id", "left_anti")
        ix = FullTextIndex(self.spark, schema, corpus, tables,
                           id_col="doc_id", name=name)
        ix.term_dict = read_term_dict(self._dir(name), TERM_DICT_MAX_ROWS)
        ix.doc_store = doc_store
        return ix

    def commit_fingerprint(self, name: str) -> str:
        """Cheap stamp of the COMMITTED view: manifest bytes + the
        committed-tombstone file listing.  Changes iff a commit
        (flush/merge/format migration) changed what readers may see —
        staged tombstones (``tombstones_pending``) are deliberately
        excluded, matching deferred-delete visibility.  Long-lived
        serving processes key cached :meth:`open` handles on it so a
        later commit refreshes the handle instead of silently serving
        the pre-commit view (queries.q_delete_visibility's handle)."""
        import hashlib

        d = self._dir(name)
        h = hashlib.md5()
        man = os.path.join(d, "manifest.jsonl")
        if os.path.exists(man):
            with open(man, "rb") as f:
                h.update(f.read())
        tdir = os.path.join(d, "tombstones")
        if os.path.isdir(tdir):
            for fn in sorted(os.listdir(tdir)):
                p = os.path.join(tdir, fn)
                h.update(f"{fn}:{os.path.getsize(p)}".encode())
        return h.hexdigest()

    def _check_analyzer_versions(self, name: str,
                                 schema: IndexSchema) -> None:
        """Fail fast when an index's terms were produced by an analyzer
        whose output has since changed (e.g. the round-4 Porter-1980 →
        Snowball swap): queries analyze with the CURRENT chain, so a
        stale-stemmed index would silently return zero hits instead of
        an error.  Indexes created before versions were recorded count
        as version 1 for every tokenizer."""
        stored = self._meta(name).get("analyzer_versions", {})
        stale = []
        for s in schema.text_fields():
            have = stored.get(s.tokenizer, 1)
            want = analyzer_version(s.tokenizer)
            if str(have) != str(want):
                stale.append((s.name, s.tokenizer, have, want))
        if stale:
            # QueryError: the API layer's (status, json) contract
            # catches it as a 400 with this message — a bare ValueError
            # would escape handle() as a transport-level crash
            raise QueryError(
                f"index {name!r} has field(s) analyzed under a "
                f"different analyzer version: "
                f"{[(f, t, f'v{h}->v{w}') for f, t, h, w in stale]}. "
                "Indexed terms no longer match query-side analysis — "
                "re-ingest the source documents (stemmed/segmented "
                "terms cannot be migrated in place)."
            )

    # ----------------------------------------------------------- summary

    def index_summary(self, name: str, include_sizes: bool = False) -> dict:
        """GET /{index}/_summary (handlers/summary.rs:17-33)."""
        meta = self._meta(name)
        entries = Manifest(self._dir(name)).entries()
        out = {
            "summaries": {
                "index_name": name,
                "segments": [e.segment_id for e in entries],
                "opstamp": meta.get("opstamp", 0),
                "num_docs": sum(e.docs for e in entries),
            }
        }
        if include_sizes:
            out["summaries"]["segment_sizes"] = {
                e.segment_id: e.bytes for e in entries
            }
        return out

    def _forget(self, name: str) -> None:
        """Drop the cached handle of ``name`` and its temp views, so no
        statement reads a replaced commit."""
        cached = self._handles.pop(name, None)
        if cached is not None:
            cached[1].drop_views()

    def delete_index(self, name: str) -> None:
        self._forget(name)
        if self.exists(name):
            shutil.rmtree(self._dir(name))
