"""The search engine: index handle + query lifecycle.

Spark rebuild of ``LocalIndex::search_index``
(``toshi-server/src/handle.rs:77-161``): build collectors (top-k,
optional sorted-top-k, optional facet counter), lower the DSL to an
executable query, run, fetch stored docs, assemble SearchResults.

Lifecycle mapping (SURVEY.md §3.1): JSON DSL → dataclass tree (IR #1)
→ one Spark SQL statement (IR #2, ``query/compiler.py``) over the
handle's temp views, built from its driver-held metadata (n_docs,
avgdl per field, term df, and the fuzzy/regex expansion from the held
term dictionary) with the top-k ORDER BY/LIMIT inside it → Catalyst
optimizes → distributed execute → the top-k (doc_id, score) rows come
to the driver → their stored fields come from the doc store (``fetch``)
→ the k rows are ordered on the driver.  A handle is opened once per
commit (``IndexCatalog.open``), as Toshi opens a reader once per
commit; it registers a temp view of each relation a statement reads
(``view``) once, and the catalog drops them when a commit replaces
the handle.  A catalog handle with a row store on disk reads the k
winners' row groups with pyarrow on the driver (``searcher.doc``,
``handle.rs:127-156``), so ranking is the only Spark job of a term,
bool, phrase, fuzzy, regex, range or raw search.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .index.builder import IndexTables, build_index
from .query.compiler import Compiler, sql_ident, sql_num, sql_str
from .query.dsl import AllQuery, Search, parse_search
from .query.expand import FieldTerms, field_terms
from .schema import IndexSchema, QueryError


@dataclass
class ScoredDoc:
    score: float | None
    doc: dict[str, Any]


@dataclass
class SearchResults:
    """Mirror of ``toshi-types/src/client.rs:27-55`` — mergeable results."""

    hits: int
    docs: list[ScoredDoc]
    facets: list[dict[str, Any]] = dc_field(default_factory=list)

    def get_docs(self) -> list[ScoredDoc]:
        return self.docs

    def get_facets(self) -> list[dict[str, Any]]:
        return self.facets

    def to_json(self) -> dict[str, Any]:
        return {
            "hits": self.hits,
            "docs": [{"score": d.score, "doc": d.doc} for d in self.docs],
            "facets": self.facets,
        }

    def __add__(self, other: "SearchResults") -> "SearchResults":
        # scatter-gather merge (client.rs:37-55): concatenation; the
        # distributed top-k already happened inside Spark.
        return SearchResults(
            hits=self.hits + other.hits,
            docs=self.docs + other.docs,
            facets=self.facets + other.facets,
        )


class FullTextIndex:
    """One named index: schema + corpus row store + inverted-index tables.

    A search registers temp views of the handle's relations (``view``).
    ``IndexCatalog`` drops the views of the handles it caches; a
    standalone handle (``FullTextIndex.build``, ``IndexCatalog.open``
    with ``corpus=``) is released with ``drop_views()``.  No finalizer
    does it: dropping a view also uncaches a persisted frame its plan
    names, and another live object may share that frame.
    """

    def __init__(
        self,
        spark: SparkSession,
        schema: IndexSchema,
        corpus: DataFrame,
        tables: IndexTables,
        id_col: str = "doc_id",
        name: str = "index",
    ):
        self.spark = spark
        self.schema = schema
        self.corpus = corpus
        self.tables = tables
        self.id_col = id_col
        self.name = name
        # frames build() persist()ed (index tables + row store), so an
        # owner can release them
        self.persisted = list(tables.persisted)
        # the committed term dictionary {(field, term): df}, set by the
        # catalog when it is within its row bound; None → each query
        # collects its own terms' rows of termstats
        self.term_dict: dict[tuple[str, str], int] | None = None
        # the committed row store's driver-side lookup
        # (catalog.DocStore), set by the catalog when the row store is
        # on disk; None → fetch scans ``corpus`` in a Spark job
        self.doc_store = None
        # which side of each gate the last search took: "term_dict" →
        # driver|collect, "expansion" → literal|semi_join,
        # "expansion_source" → driver|spark, "agg" → single|shuffle,
        # "fetch" → driver|spark
        self.gates: dict[str, str] = {}
        # kind → (source relation, temp view name); see view()
        self._views: dict[str, tuple[Any, str]] = {}
        # (term_dict, {field: FieldTerms}), built at the first fuzzy or
        # regex search that expands on the driver
        self._field_terms: tuple[dict, dict[str, FieldTerms]] | None = None

    # convenience accessors used by the compiler
    @property
    def postings(self) -> DataFrame:
        return self.tables.postings

    @property
    def doclens(self) -> DataFrame:
        return self.tables.doclens

    @property
    def termstats(self) -> DataFrame:
        return self.tables.termstats

    @property
    def fieldstats(self) -> DataFrame:
        return self.tables.fieldstats

    @property
    def n_docs(self) -> int:
        return self.tables.n_docs

    def avgdl(self, field: str) -> float:
        return self.tables.field_avgdl[field]

    def term_df(self, field: str, terms: list[str]) -> dict[str, int]:
        """df of each of ``terms`` in ``field``; terms the dictionary
        does not hold are left out."""
        if self.term_dict is not None:
            self.gates["term_dict"] = "driver"
            return {t: self.term_dict[(field, t)] for t in terms
                    if (field, t) in self.term_dict}
        self.gates["term_dict"] = "collect"
        rows = self.spark.sql(
            f"SELECT term, df FROM {self.view('termstats')} "
            f"WHERE field = {sql_str(field)} AND term IN "
            f"({', '.join(sql_str(t) for t in terms)})").collect()
        return {r["term"]: int(r["df"]) for r in rows}

    def field_terms(self, field: str) -> FieldTerms | None:
        """The held dictionary's terms of ``field`` (None: the handle
        holds no dictionary), built for every field at first use."""
        if self.term_dict is None:
            return None
        if self._field_terms is None or self._field_terms[0] is not self.term_dict:
            self._field_terms = (self.term_dict, field_terms(self.term_dict))
        return self._field_terms[1].get(field) or FieldTerms([])

    # -------------------------------------------------------------- views

    def view(self, kind: str) -> str:
        """The name of this handle's temp view of one of its relations
        ("postings", "termstats" or "corpus"), registered at the first
        statement that reads it and again after the handle's relation
        is replaced."""
        source = {"postings": self.tables.postings,
                  "termstats": self.tables.termstats,
                  "corpus": self.corpus}[kind]
        have = self._views.get(kind)
        if have is not None and have[0] is source:
            return have[1]
        # named by object id: unique among live handles, and a view left
        # by a collected handle is simply replaced
        name = f"toshi_ix{id(self):x}_{kind}"
        source.createOrReplaceTempView(name)
        self._views[kind] = (source, name)
        return name

    def view_names(self) -> list[str]:
        """The temp views this handle has registered."""
        return sorted(name for _src, name in self._views.values())

    def drop_views(self) -> None:
        """Drop this handle's temp views (its owner replaced or deleted
        it); a later statement on the handle registers them again."""
        for name in self.view_names():
            self.spark.catalog.dropTempView(name)
        self._views.clear()

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        corpus: DataFrame,
        schema: IndexSchema,
        id_col: str = "doc_id",
        name: str = "index",
        cache: bool = True,
        quantize_fieldnorms: bool = False,
        cache_partitions: int | None = None,
    ) -> "FullTextIndex":
        text_fields = [f.name for f in schema.text_fields()]
        tables = build_index(
            corpus, id_col=id_col, text_fields=text_fields, cache=cache,
            tokenizers={f.name: f.tokenizer for f in schema.text_fields()},
            quantize_fieldnorms=quantize_fieldnorms,
            cache_partitions=cache_partitions,
        )
        if cache:
            # the cached row store obeys the same partition rule as the
            # index tables (see build_index's cache_partitions doc)
            if (cache_partitions is not None
                    and cache_partitions < corpus.rdd.getNumPartitions()):
                corpus = corpus.repartition(cache_partitions)
            corpus = corpus.persist()
        ix = cls(spark, schema, corpus, tables, id_col=id_col, name=name)
        if cache:
            ix.persisted.append(corpus)
        return ix

    # ------------------------------------------------------------- search

    def rank_df(self, search: Search, scored: str | None = None) -> DataFrame:
        """Compile + rank as one statement; returns the lazy top-k
        (score, doc_id) frame, ordered score desc, doc_id asc.
        ``scored`` optionally supplies an already-compiled (doc_id,
        score) relation as SQL text — ``search()`` shares one compile
        between the top-k and the facet collector."""
        if search.query is None:
            raise QueryError("Empty Query Provided")  # handle.rs:158-160
        comp = Compiler(self)
        if scored is None:
            search.query.validate()
            return comp.compile(search.query, search)
        return self.spark.sql(comp.ranked(scored, search))

    def _stored_names(self) -> list[str]:
        return [f.name for f in self.schema.fields if f.stored]

    def search_df(self, search: Search) -> DataFrame:
        """``rank_df`` joined to the row store, in the same statement;
        returns (score, doc_id, <stored fields>), ordered and limited,
        still lazy (used directly by the driver-contract ``queries()``)."""
        if search.query is None:
            raise QueryError("Empty Query Provided")
        search.query.validate()
        return Compiler(self).compile(search.query, search,
                                      stored=self._stored_names())

    def fetch(self, top: list) -> list[tuple[float, int, Any]]:
        """Stored fields of the top-k ``(score, doc_id)`` rows; returns
        (score, doc_id, row) ordered score desc, doc_id asc, where
        ``row`` maps each stored field to its value.  A doc the row
        store lacks drops out, as it would from a join.

        With a doc store (a catalog handle whose row store is on disk)
        the rows are read on the driver, from only the row groups that
        hold a winner; otherwise ONE pushed ``doc_id IN (…)`` scan of
        ``corpus`` fetches them.  The doc store holds deleted docs too;
        it needs no tombstone filter, as every winner comes from the
        tombstone-filtered tables."""
        self.gates["fetch"] = "spark" if self.doc_store is None else "driver"
        if not top:
            return []
        score = {r["doc_id"]: r["score"] for r in top}
        names = self._stored_names()
        if self.doc_store is not None:
            rows = self.doc_store.rows(score, names)
        else:
            key = sql_ident(self.id_col)
            cols = "".join(f", {sql_ident(n)}" for n in names)
            ids = ", ".join(sql_num(int(d)) for d in score)
            rows = self.spark.sql(
                f"SELECT CAST({key} AS BIGINT) AS doc_id{cols} "
                f"FROM {self.view('corpus')} WHERE {key} IN ({ids})"
            ).collect()
        hits = [(score[r["doc_id"]], r["doc_id"], r) for r in rows]
        return sorted(hits, key=lambda h: (-h[0], h[1]))

    def facet_counts(self, search: Search,
                     scored: str | None = None) -> list[dict[str, Any]]:
        """Facet counting with the reference's first-value extraction quirk.

        Only the FIRST requested facet path is extracted into the
        response (``handle.rs:146-155`` uses ``values()[0]``); counts are
        per immediate child path, sorted by path (term order) on the
        driver: by UTF-8 bytes, which is Spark's string order.
        ``scored`` reuses an already-compiled matched relation (one
        compile, one postings scan for top-k AND facets — recompiling
        would scan the postings twice per faceted search).
        """
        if search.facets is None:
            return []
        fq = search.facets
        spec = self.schema.get(fq.field)
        if spec is None or spec.ftype != "facet":
            return []  # handle.rs:95-105: silently no facet collector
        if not fq.values:
            return []
        comp = Compiler(self)
        if scored is None:
            scored = comp.sql(search.query or AllQuery())
        prefix = fq.values[0].rstrip("/")
        depth = len([p for p in prefix.split("/") if p]) + 1
        counts = self.spark.sql(
            comp.facet_counts(scored, fq.field, prefix, depth)).collect()
        counts.sort(key=lambda r: r["facet_child"].encode("utf-8"))
        return [{"field": r["facet_child"], "value": r["value"]} for r in counts]

    def search(self, search: Search) -> SearchResults:
        # with facets requested, compile ONCE and persist the matched
        # set: both collectors (top-k, facet counter) read it through a
        # scratch view instead of re-scanning the postings (VERDICT r2
        # #6).  The view is dropped only after both ran: dropping a
        # view uncaches the frame it names.
        scored = view = rel = None
        if search.facets is not None and search.query is not None:
            search.query.validate()
            scored = Compiler(self).compile(search.query).persist()
            view = f"toshi_ix{id(self):x}_scored{id(scored):x}"
            scored.createOrReplaceTempView(view)
            rel = f"SELECT doc_id, score FROM {view}"
        try:
            top = self.rank_df(search, scored=rel).collect()
            facets = (
                self.facet_counts(search, scored=rel)
                if search.facets else []
            )
        finally:
            if scored is not None:
                self.spark.catalog.dropTempView(view)
                scored.unpersist()

        def render(v):
            # FlatNamedDocument (toshi-types/src/query/mod.rs:322-338):
            # multi-valued stored fields collapse to a scalar when
            # single-valued, else render as an array
            if isinstance(v, list):
                return v[0] if len(v) == 1 else v
            return v

        docs = [
            ScoredDoc(score=float(score),
                      doc={n: render(r[n]) for n in self._stored_names()})
            for score, _doc_id, r in self.fetch(top)
        ]
        return SearchResults(hits=len(docs), docs=docs, facets=facets)

    def search_json(self, body: dict[str, Any]) -> SearchResults:
        """POST /{index} equivalent: JSON body → results.

        Missing query → substituted all_docs (handlers/search.rs:17).
        """
        if "query" not in body or body.get("query") is None:
            body = {**body, "query": None}  # parse_query(None) → AllQuery
        return self.search(parse_search(body))
