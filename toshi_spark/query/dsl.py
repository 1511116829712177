"""The Toshi JSON query DSL as Python dataclasses (IR #1).

JSON shapes mirror the untagged serde enum at
``toshi-types/src/query/mod.rs:68-93``:

    {"term":   {field: "value"}}                          → ExactTerm
    {"phrase": {field: {"terms": [...], "offsets": [..]}}}→ Phrase
    {"fuzzy":  {field: {"value": v, "distance": d,
                        "transposition": bool}}}          → Fuzzy
    {"regex":  {field: "pattern"}}                        → Regex
    {"range":  {field: {"gt","gte","lt","lte"}}}          → Range
    {"bool":   {"must":[], "must_not":[], "should":[],
                "minimum_should_match": n, "boost": x}}   → Boolean
    {"raw":    "query string"}                            → Raw
    null / absent                                         → All

Single-pair maps (term/phrase/fuzzy/regex/range) follow the KVVisitor
rule (``mod.rs:249-`` ): exactly one key/value pair.

Validation that the reference performs at ``create_query`` time
(phrase arity, range types, bool clause nesting) lives in
``validate()`` here and raises ``QueryError`` with the reference's
message text (pinned by tests).
"""

from __future__ import annotations

import re as _re
from dataclasses import dataclass, field as dc_field
from typing import Any

from ..schema import QueryError


@dataclass
class Query:
    def validate(self) -> None:  # noqa: B027
        pass


@dataclass
class ExactTerm(Query):
    field: str
    value: str  # NOT re-analyzed: Term::from_field_text verbatim (mod.rs:221)


@dataclass
class PhraseQuery(Query):
    field: str
    terms: list[str]
    offsets: list[int] | None = None

    def validate(self) -> None:
        # reference: toshi-types/src/query/phrase.rs:47-57
        if len(self.terms) <= 1:
            raise QueryError("Phrase Query must have more than 1 term")
        if self.offsets is not None and len(self.terms) != len(self.offsets):
            raise QueryError(
                f"Differing numbers of offsets and query terms "
                f"({len(self.terms)} and {len(self.offsets)})"
            )


@dataclass
class FuzzyQuery(Query):
    field: str
    value: str
    distance: int = 0
    transposition: bool = False


@dataclass
class RegexQuery(Query):
    field: str
    pattern: str

    def validate(self) -> None:
        """Compile the pattern in the dialect that runs it: Spark's
        ``rlike`` of ``^(?:pattern)$`` uses ``java.util.regex``, so the
        pattern is compiled there (a few py4j calls, no Spark job).  With
        no JVM running, Python's ``re`` stands in."""
        from py4j.protocol import Py4JJavaError
        from pyspark import SparkContext
        from pyspark.errors.exceptions.captured import CapturedException

        sc = SparkContext._active_spark_context
        try:
            if sc is None:
                _re.compile(self.pattern)
            else:
                sc._jvm.java.util.regex.Pattern.compile(
                    f"^(?:{self.pattern})$")
        except (_re.error, Py4JJavaError, CapturedException) as e:
            raise QueryError(f"An invalid regex was passed: {self.pattern}") from e


@dataclass
class RangeQuery(Query):
    """Raw JSON bound values kept for reference-faithful type checks.

    Bound precedence: exclusive (lt/gt) beats inclusive (lte/gte) when
    both present — reference ``range.rs:131-153`` (include_exclude
    checks the exclusive bound first).
    """

    field: str
    gt: Any = None
    gte: Any = None
    lt: Any = None
    lte: Any = None

    def bounds_for(self, ftype: str) -> tuple[Any, bool, Any, bool]:
        """→ (lower, lower_incl, upper, upper_incl); None = unbounded."""
        if ftype not in ("i64", "u64"):
            raise QueryError(f"Invalid field type: {ftype} for range query")

        def check(v: Any) -> Any:
            if v is None:
                return None
            if isinstance(v, bool) or not isinstance(v, int):
                # reference test: range.rs:196-206 (float for i64)
                raise QueryError(f"invalid type: `{v}`, expected {ftype}")
            if ftype == "u64" and v < 0:
                # reference test: range.rs:207-218
                raise QueryError(f"invalid value: integer `{v}`, expected u64")
            return v

        gt, gte, lt, lte = (check(self.gt), check(self.gte),
                            check(self.lt), check(self.lte))
        if gt is not None:
            lower, lower_incl = gt, False
        elif gte is not None:
            lower, lower_incl = gte, True
        else:
            lower, lower_incl = None, True
        if lt is not None:
            upper, upper_incl = lt, False
        elif lte is not None:
            upper, upper_incl = lte, True
        else:
            upper, upper_incl = None, True
        return lower, lower_incl, upper, upper_incl


_BOOL_NESTABLE = (FuzzyQuery, ExactTerm, RangeQuery, PhraseQuery, RegexQuery)


@dataclass
class BoolQuery(Query):
    """must/must_not/should clause lists.

    Reference quirks preserved (``boolean.rs:47-75``):
    * ``minimum_should_match`` and ``boost`` are parsed but NEVER
      applied — dropped on the floor by create_query.
    * only fuzzy/exact/range/phrase/regex may nest; anything else is
      "Invalid type for boolean query".
    """

    must: list[Query] = dc_field(default_factory=list)
    must_not: list[Query] = dc_field(default_factory=list)
    should: list[Query] = dc_field(default_factory=list)
    minimum_should_match: int | None = None  # parsed, intentionally unused
    boost: float | None = None  # parsed, intentionally unused
    # raw-query-derived trees bypass the DSL nesting restriction (the
    # reference's restriction lives in the JSON DSL, boolean.rs:63-75;
    # Tantivy's own QueryParser nests booleans freely)
    allow_nested: bool = False

    def validate(self) -> None:
        for clause in (*self.must, *self.must_not, *self.should):
            if not self.allow_nested and not isinstance(clause, _BOOL_NESTABLE):
                raise QueryError("Invalid type for boolean query")
            clause.validate()


@dataclass
class BoostQuery(Query):
    """Score multiplier wrapper (Lucene ``clause^boost``).

    Only produced by the raw query-string parser — the JSON DSL's
    ``boost`` field is parsed-but-dropped (reference quirk,
    ``boolean.rs:47-61``), while Tantivy's QueryParser (the raw path,
    ``handle.rs:115-119``) wraps the clause in a real BoostQuery.
    """

    inner: Query
    boost: float

    def validate(self) -> None:
        self.inner.validate()


@dataclass
class RawQuery(Query):
    raw: str


@dataclass
class AllQuery(Query):
    pass


@dataclass
class FacetQuery:
    field: str
    values: list[str]


@dataclass
class Search:
    query: Query | None
    facets: FacetQuery | None = None
    limit: int = 100  # default: mod.rs:142-144
    sort_by: str | None = None


def _single_kv(node: dict, kind: str) -> tuple[str, Any]:
    if not isinstance(node, dict) or len(node) != 1:
        raise QueryError(f"expected map with a single key-value pair for {kind}")
    return next(iter(node.items()))


def parse_query(node: Any) -> Query:
    if node is None:
        return AllQuery()
    if not isinstance(node, dict):
        raise QueryError(f"Invalid query: {node!r}")
    if "term" in node:
        f, v = _single_kv(node["term"], "term")
        return ExactTerm(f, str(v))
    if "phrase" in node:
        f, v = _single_kv(node["phrase"], "phrase")
        return PhraseQuery(f, list(v.get("terms", [])), v.get("offsets"))
    if "fuzzy" in node:
        f, v = _single_kv(node["fuzzy"], "fuzzy")
        return FuzzyQuery(
            f, v["value"], int(v.get("distance", 0)), bool(v.get("transposition", False))
        )
    if "regex" in node:
        f, v = _single_kv(node["regex"], "regex")
        return RegexQuery(f, str(v))
    if "range" in node:
        f, v = _single_kv(node["range"], "range")
        return RangeQuery(
            f, gt=v.get("gt"), gte=v.get("gte"), lt=v.get("lt"), lte=v.get("lte")
        )
    if "bool" in node:
        b = node["bool"]
        return BoolQuery(
            must=[parse_query(q) for q in b.get("must", [])],
            must_not=[parse_query(q) for q in b.get("must_not", [])],
            should=[parse_query(q) for q in b.get("should", [])],
            minimum_should_match=b.get("minimum_should_match"),
            boost=b.get("boost"),
        )
    if "raw" in node:
        return RawQuery(str(node["raw"]))
    if node == {} or node.get("all") is not None:
        return AllQuery()
    raise QueryError(f"Invalid query: {sorted(node.keys())}")


def parse_search(body: dict) -> Search:
    facets = None
    if body.get("facets") is not None:
        f, v = _single_kv(body["facets"], "facets")
        facets = FacetQuery(f, list(v))
    query = parse_query(body["query"]) if "query" in body else None
    return Search(
        query=query,
        facets=facets,
        limit=int(body.get("limit", 100)),
        sort_by=body.get("sort_by"),
    )
