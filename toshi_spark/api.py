"""Toshi-compatible API surface: (method, path, body) → (status, json).

Route table mirrors ``toshi-server/src/router.rs:52-73`` exactly; this
layer is transport-agnostic (plug it behind any HTTP server — the
engine core stays a library).  Response/error shapes follow the
handlers in ``toshi-server/src/handlers/``:

    GET    /                    → {"name": "Toshi Search", "version"}
    GET    /_list               → ["idx", ...]
    PUT    /{idx}/_create       → 201 {} | 400 {"message"}
    GET    /{idx}/_summary      → {"summaries": {...}}  (?include_sizes)
    GET    /{idx}/_flush        → {"opstamp": n}
    POST   /{idx}/_bulk         → NDJSON ingest; ANY parse error rolls
                                  back the whole batch (bulk.rs:121-129)
    POST   /{idx}               → search (SearchResults JSON)
    PUT    /{idx}               → add_document {options:{commit}, document}
    DELETE /{idx}               → delete_term {options, terms}
    GET    /{idx}               → all_docs
"""

from __future__ import annotations

import json
from typing import Any

from . import __version__
from .index.catalog import IndexCatalog
from .schema import IndexSchema, QueryError

DEFAULT_MAX_LINE_LENGTH = 10_000  # LinesCodec default, bulk.rs framing

# bodies above this parse/validate DISTRIBUTED (the reference fans
# parsing out to N tasks, bulk.rs:37-54; a driver-side json.loads loop
# over a multi-MB body is a bottleneck the reference does not have)
DEFAULT_BULK_DISTRIBUTED_BYTES = 4 << 20


def validate_document(schema: IndexSchema, doc: dict[str, Any]) -> None:
    """Schema validation mirroring ``schema.parse_document`` failures
    (unknown fields / wrong types / negative u64 ⇒ the whole bulk
    rolls back)."""
    for name, value in doc.items():
        spec = schema.get(name)
        if spec is None:
            raise QueryError(f"Unknown field: {name}")
        # Tantivy fields are multi-valued: a JSON array means several
        # values for the field (rendered flatten-if-singleton on read)
        values = value if isinstance(value, list) else [value]
        if isinstance(value, list) and not values:
            raise QueryError(f"invalid value: empty array for field {name}")
        for v in values:
            if spec.ftype in ("i64", "u64"):
                if isinstance(v, bool) or not isinstance(v, int):
                    raise QueryError(
                        f"invalid type: `{v!r}`, expected {spec.ftype}"
                    )
                if spec.ftype == "u64" and v < 0:
                    raise QueryError(
                        f"invalid value: integer `{v}`, expected u64"
                    )
            elif (spec.ftype in ("text", "facet", "date")
                  and not isinstance(v, str)):
                raise QueryError(f"invalid type: `{v!r}`, expected string")


class ToshiApi:
    def __init__(self, catalog: IndexCatalog,
                 max_line_length: int = DEFAULT_MAX_LINE_LENGTH,
                 merge_policy: dict | None = None,
                 bulk_distributed_bytes: int =
                 DEFAULT_BULK_DISTRIBUTED_BYTES,
                 bulk_spill_dir: str | None = None):
        """``merge_policy`` mirrors the server-config merge settings
        (settings.rs:47-49: kind log/none + log parameters) — in Toshi
        the policy is server configuration, not part of the create
        body, so it is an API-level default applied at index create.

        ``bulk_spill_dir`` — where large bulk bodies spill before the
        distributed parse (default: the system temp dir).  Must be
        readable by executors: any local path on local[*]; a shared
        filesystem/object-store mount on a multi-node cluster."""
        self.catalog = catalog
        self.max_line_length = max_line_length
        self.merge_policy = merge_policy
        self.bulk_distributed_bytes = bulk_distributed_bytes
        self.bulk_spill_dir = bulk_spill_dir

    # -------------------------------------------------------- dispatch

    def handle(self, method: str, path: str, body: Any = None,
               query_options: dict | None = None) -> tuple[int, Any]:
        method = method.upper()
        parts = [p for p in path.strip("/").split("/") if p]
        qo = query_options or {}
        try:
            if method == "GET" and parts == []:
                return 200, {"name": "Toshi Search", "version": __version__}
            if method == "GET" and parts == ["_list"]:
                return 200, self.catalog.list_indexes()
            if method == "PUT" and len(parts) == 2 and parts[1] == "_create":
                return self._create(parts[0], body)
            if method == "GET" and len(parts) == 2 and parts[1] == "_summary":
                return 200, self.catalog.index_summary(
                    parts[0], include_sizes=bool(qo.get("include_sizes"))
                )
            if method == "GET" and len(parts) == 2 and parts[1] == "_flush":
                return 200, {"opstamp": self.catalog.flush(parts[0])}
            if method == "POST" and len(parts) == 2 and parts[1] == "_bulk":
                return self._bulk(parts[0], body)
            if method == "POST" and len(parts) == 1:
                return self._search(parts[0], body)
            if method == "PUT" and len(parts) == 1:
                return self._add_document(parts[0], body)
            if method == "DELETE" and len(parts) == 1:
                return self._delete(parts[0], body)
            if method == "GET" and len(parts) == 1:
                return self._search(parts[0], {"query": None})
            return 404, {"message": "Not found"}
        except QueryError as e:
            # error_response shape: handlers/search.rs error tests
            return 400, {"message": f"Error in query execution: '{e}'"}

    # --------------------------------------------------------- handlers

    def _create(self, index: str, body: Any) -> tuple[int, Any]:
        if self.catalog.exists(index):
            return 400, {"message": f"Index: {index} already exists"}
        self.catalog.create_index(index, body,
                                  merge_policy=self.merge_policy)
        return 201, {}

    def _require(self, index: str) -> None:
        if not self.catalog.exists(index):
            raise QueryError(f"Unknown Index: '{index}' does not exist")

    def _search(self, index: str, body: Any) -> tuple[int, Any]:
        self._require(index)
        ix = self.catalog.open(index)
        results = ix.search_json(body if body is not None else {"query": None})
        return 200, results.to_json()

    def _add_document(self, index: str, body: Any) -> tuple[int, Any]:
        self._require(index)
        opts = (body or {}).get("options") or {}
        doc = (body or {}).get("document")
        if doc is None:
            return 400, {"message": "Error Parsing Json: missing 'document'"}
        validate_document(self.catalog.schema(index), doc)
        self.catalog.add_document(index, doc,
                                  commit=bool(opts.get("commit")))
        return 201, {}

    def _delete(self, index: str, body: Any) -> tuple[int, Any]:
        self._require(index)
        terms = (body or {}).get("terms") or {}
        n = self.catalog.delete_term(index, terms,
                                     commit=bool(((body or {}).get("options")
                                                  or {}).get("commit")))
        return 200, {"docs_affected": n}

    def _bulk(self, index: str, body: Any) -> tuple[int, Any]:
        """NDJSON bulk: frame lines, parse+validate ALL before any add —
        a single bad line rolls back the entire batch (bulk.rs:121-129).

        Bodies above ``bulk_distributed_bytes`` parse and validate as a
        Spark job (the reference fans parsing out to N tasks,
        bulk.rs:37-54): line framing and the length cap stay driver-side
        (cheap C string ops), the json.loads + schema validation — the
        CPU-heavy part — runs distributed, and NOTHING is staged until
        every line validated, so the all-or-nothing contract is
        unchanged.
        """
        self._require(index)
        schema = self.catalog.schema(index)
        raw = body if isinstance(body, (bytes, bytearray)) else None
        text = body if isinstance(body, str) else (body or b"").decode("utf-8")
        # threshold is BYTES (as the knob's name says): measure the
        # wire body, not the decoded character count, so a non-ASCII
        # body doesn't dodge the distributed path
        body_bytes = len(raw) if raw is not None else len(
            text.encode("utf-8")
        )
        if body_bytes > self.bulk_distributed_bytes:
            return self._bulk_distributed(index, schema, text)
        docs: list[dict] = []
        for ln, line in enumerate(text.splitlines(), 1):
            if not line.strip():
                continue
            if len(line) > self.max_line_length:
                return 400, {"message": f"line {ln} exceeds max line length"}
            try:
                doc = json.loads(line)
            except json.JSONDecodeError as e:
                return 400, {"message": f"Error Parsing Json: '{e}'"}
            try:
                validate_document(schema, doc)
            except QueryError as e:
                # rollback: nothing buffered, manifest untouched
                return 400, {"message": f"Error Parsing Json: '{e}'"}
            docs.append(doc)
        for doc in docs:
            self.catalog.add_document(index, doc, commit=False)
        return 201, {"docs": len(docs)}

    def _bulk_distributed(self, index: str, schema: IndexSchema,
                          text: str) -> tuple[int, Any]:
        """Large-body path: spill the framed lines to a temp NDJSON
        file and ``spark.read.text`` it — the driver streams the body
        to disk one line at a time and never materializes a Python
        line list or its py4j DataFrame copy (the previous
        ``createDataFrame([(line,) ...])`` paid a full second in-memory
        copy plus a slow py4j hop for multi-hundred-MB bodies; the
        reference streams, bulk.rs:87-118).

        Each spilled line is prefixed ``<1-based line no>\\t`` so the
        validation verdict is DETERMINISTIC: the minimum-line error is
        reported in the reference error shape (error.rs:64), exactly
        the error the driver-side path returns for the same body — the
        same payload no longer yields a different 400 depending on
        whether its size crossed ``bulk_distributed_bytes``.

        Framing is ``\\n``/``\\r\\n`` (the reference's LinesCodec),
        not ``str.splitlines`` — splitlines also breaks on U+2028 etc.,
        which are LEGAL inside JSON strings.

        ``bulk_spill_dir`` must be storage the executors can read: any
        local path works on local[*]; a multi-node cluster needs a
        shared filesystem/object store mount (the same requirement as
        any spark.read input).
        """
        import io
        import os
        import tempfile

        from pyspark.sql import functions as F

        spark = self.catalog.spark
        fd, path = tempfile.mkstemp(
            suffix=".ndjson", prefix="toshi_bulk_",
            dir=self.bulk_spill_dir,
        )
        n_lines = 0
        try:
            with os.fdopen(fd, "w", encoding="utf-8") as out, \
                    io.StringIO(text) as src:
                for ln, rawline in enumerate(src, 1):
                    line = rawline.rstrip("\r\n")
                    if not line.strip():
                        continue
                    if len(line) > self.max_line_length:
                        return 400, {
                            "message":
                            f"line {ln} exceeds max line length"
                        }
                    out.write(f"{ln}\t{line}\n")
                    n_lines += 1
            if n_lines == 0:
                return 201, {"docs": 0}
            parsed = spark.read.text(path).select(
                F.substring_index("value", "\t", 1)
                .cast("long").alias("ln"),
                F.expr(
                    "substring(value, instr(value, '\t') + 1)"
                ).alias("line"),
            )

            def check(batches):
                import json as _json

                import pandas as _pd

                for pdf in batches:
                    lns, errs = [], []
                    for ln, line in zip(pdf["ln"], pdf["line"]):
                        try:
                            doc = _json.loads(line)
                            validate_document(schema, doc)
                        except Exception as e:  # json or schema error
                            lns.append(int(ln))
                            errs.append(str(e))
                    yield _pd.DataFrame({"ln": lns, "err": errs})

            first_bad = (
                parsed.mapInPandas(check, "ln long, err string")
                .agg(F.min(F.struct("ln", "err")).alias("m"))
                .collect()[0]["m"]
            )
            if first_bad is not None:
                # min-line error, reference error shape (error.rs:64 —
                # no line suffix): the SAME body now returns the SAME
                # 400 as the driver-side path regardless of size
                return 400, {
                    "message": f"Error Parsing Json: '{first_bad['err']}'"
                }
            # every line validated — stage the batch by STREAMING the
            # spilled file into the pending buffer (strip the line-no
            # prefix); flush parses the pending buffer when building
            # the micro-segment
            def stripped():
                with open(path, encoding="utf-8") as f:
                    for row in f:
                        yield row.split("\t", 1)[1].rstrip("\n")

            self.catalog.stage_pending_stream(index, stripped(), n_lines)
            return 201, {"docs": n_lines}
        finally:
            if os.path.exists(path):
                os.unlink(path)
