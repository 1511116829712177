"""Query compiler: DSL tree (IR #1) → one Spark SQL statement (IR #2).

The reference lowers its DSL 1:1 to Tantivy query objects
(``toshi-server/src/handle.rs:107-121``); all physical smarts live in
the library.  Here each search lowers to ONE SQL statement over the
handle's temp views (``FullTextIndex.view``: postings, row store,
term dictionary), and the physical smarts are Catalyst's: the
postings filter pushes down to the parquet scan, posting-list
intersection is a join on doc_id, union is UNION ALL + GROUP BY sum,
difference is a LEFT ANTI join.  One ``spark.sql`` call
parses and analyzes the statement, where a DataFrame program paid a
py4j round trip per operator and per column expression.

Index metadata is resolved on the driver before the statement is
built, as Toshi's reader resolves it from the segment's term
dictionary: n_docs and avgdl come from the handle, each query term's
df from ``ctx.term_df``, and all of them enter the statement as
literals (Catalyst folds each term's idf to one constant), so no
metadata table is joined or broadcast.  Fuzzy and regex expand on the
driver from the held dictionary (``expand.py``) when the handle holds
one and, for regex, when the pattern reads alike in Python and Java;
otherwise a Spark job over the term dictionary expands them.  A
bounded expansion becomes a literal ``term IN (…)`` on the postings
scan, a larger one an IN-subquery that AQE plans as a semi-join.  The
aggregating shapes (bool fast path, phrase, the fuzzy/regex DISTINCT)
read Σdf posting rows, which the driver knows: at or under
``AGG_SINGLE_MAX_ROWS`` the scan is coalesced to one partition, so the
aggregation plans with no Exchange and the search runs as one job.

Values enter the text only in three forms: a user string as a hex
literal ``CAST(X'…' AS STRING)`` (Catalyst folds it, so an ``In`` on
``term`` still pushes to the parquet scan), a number from a typed
Python value (``repr`` of a float round-trips exactly), and an
identifier backquoted with its backticks doubled.  Every score is the
same expression tree, in the same operand order, as the DataFrame
column path (``scoring.idf_col``/``tf_norm_dyn``), so scores are
bit-identical to it.

Scoring semantics pinned per clause type (SURVEY.md §2.2):

- term    → BM25 with tf treated as 1 (``IndexRecordOption::Basic``,
            ``toshi-types/src/query/term.rs:38``; idf + length norm
            still apply)
- phrase  → BM25 with tf = phrase frequency (positional intersection)
- fuzzy   → constant 1.0 (Tantivy automaton queries use a ConstScorer)
- regex   → constant 1.0 (same)
- range   → constant 1.0 (observed: ``handlers/search.rs:154-174``)
- all     → constant 1.0
- bool    → must: doc∈all clauses, score = Σ clause scores;
            should: adds score when present (pure OR if no must);
            must_not: anti-join; minimum_should_match/boost DROPPED
            (reference quirk, ``boolean.rs:47-61``)

Every compiled relation has exactly the columns (doc_id: long,
score: double).
"""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import B, K1
from ..schema import QueryError
from ..session import bounded_collect
from .dsl import (
    AllQuery,
    BoolQuery,
    BoostQuery,
    ExactTerm,
    FuzzyQuery,
    PhraseQuery,
    Query,
    RangeQuery,
    RawQuery,
    RegexQuery,
    Search,
)
from .expand import (
    _damerau,
    fuzzy_terms,
    python_regex,
    regex_literal_prefix as _regex_literal_prefix,
    regex_terms,
)

# a fuzzy/regex expansion at or under both bounds becomes a literal
# ``term IN (…)`` on the postings scan; a larger one is a semi-join
EXPANSION_MAX_TERMS = 1024
EXPANSION_MAX_BYTES = 1 << 20

# an aggregating search that reads at most this many posting rows runs
# its aggregation in one task (the scan coalesced to one partition: no
# Exchange, one job); above it the aggregation shuffles on doc_id.
# Measured on a 4-core box, local[4], a 3-term bool over a parquet
# catalog index (median ms, single task vs shuffle): 30k rows 224 vs
# 276, 90k 223 vs 292, 300k 315 vs 409, 450k 679 vs 740, 600k 740 vs
# 743, 900k 875 vs 614.  The bound sits at half the ~600k crossover.
AGG_SINGLE_MAX_ROWS = 300_000

# the SQL name of the Damerau shell check of the Spark fuzzy expansion
_DAMERAU_UDF = "toshi_damerau_within"

_EMPTY = ("SELECT CAST(NULL AS BIGINT) AS doc_id, "
          "CAST(NULL AS DOUBLE) AS score WHERE FALSE")


def sql_str(s: str) -> str:
    """A string value as SQL text: a hex literal of its UTF-8 bytes."""
    return f"CAST(X'{s.encode('utf-8', 'surrogatepass').hex()}' AS STRING)"


def sql_num(x: int | float) -> str:
    """A typed Python number as SQL text: an int as an integer literal,
    a float as a double literal that parses to the same double."""
    if isinstance(x, int) and not isinstance(x, bool):
        return str(x)
    x = float(x)
    if math.isfinite(x):
        return f"{x!r}D"
    return f"CAST('{x!r}' AS DOUBLE)"


def sql_ident(name: str) -> str:
    """An identifier as SQL text: backquoted, backticks doubled."""
    return "`" + name.replace("`", "``") + "`"


def _in(col: str, values: list[str]) -> str:
    if len(values) == 1:
        return f"{col} = {sql_str(values[0])}"
    return f"{col} IN ({', '.join(sql_str(v) for v in values)})"


def _by_term(pairs: list[tuple[str, str]]) -> str:
    """``CASE WHEN term = t1 THEN v1 … END`` over (term, SQL value)
    pairs."""
    return ("CASE " + " ".join(f"WHEN term = {sql_str(t)} THEN {v}"
                              for t, v in pairs) + " END")


def _idf(n_docs: int, df: int) -> str:
    """``scoring.idf_col`` over literals."""
    n, d = sql_num(float(n_docs)), sql_num(float(df))
    return f"LN(1.0D + ((({n} - {d}) + 0.5D) / ({d} + 0.5D)))"


def _tf_norm(tf: str, doc_len: str, avgdl: float) -> str:
    """``scoring.tf_norm_dyn`` with a literal avgdl."""
    denom = (f"({tf} + ({sql_num(K1)} * ({sql_num(1.0 - B)} + "
             f"(({sql_num(B)} * {doc_len}) / {sql_num(avgdl)}))))")
    return f"(({tf} * {sql_num(K1 + 1.0)}) / {denom})"


_DOC_LEN = "CAST(doc_len AS DOUBLE)"


class Compiler:
    """Compiles DSL nodes against one index handle.

    ``ctx`` is the engine (FullTextIndex): ``view(kind)``, n_docs,
    avgdl(field), term_df(field, terms), field_terms(field), gates,
    id_col, schema, spark.
    """

    def __init__(self, ctx):
        self.ctx = ctx

    def compile(self, q: Query, search: Search | None = None,
                stored: list[str] | None = None) -> DataFrame:
        """``q`` as one statement: its (doc_id, score) relation; with
        ``search`` the ranked top-k (score, doc_id) of it; with
        ``stored`` too, that top-k joined to those row-store fields."""
        text = self.sql(q)
        if search is not None:
            text = self.ranked(text, search)
            if stored is not None:
                text = self.with_stored(text, stored)
        return self.ctx.spark.sql(text)

    # ----------------------------------------------------------- ranking

    def ranked(self, rel: str, search: Search) -> str:
        """The top-k (score, doc_id) of relation ``rel``, ordered score
        desc, doc_id asc; by a fast u64 field the returned score IS the
        field value (handle.rs:82-92,127-134), with a silent fallback to
        the score for any other sort_by."""
        spec = (self.ctx.schema.get(search.sort_by)
                if search.sort_by else None)
        if (spec is not None and spec.fast and spec.stored
                and spec.ftype == "u64"):
            rel = (f"SELECT CAST(c.{sql_ident(spec.name)} AS DOUBLE) "
                   f"AS score, s.doc_id AS doc_id FROM ({rel}) s "
                   f"JOIN {self.ctx.view('corpus')} c "
                   f"ON s.doc_id = c.{sql_ident(self.ctx.id_col)}")
        return (f"SELECT score, doc_id FROM ({rel}) "
                f"ORDER BY score DESC, doc_id ASC "
                f"LIMIT {sql_num(int(search.limit))}")

    def with_stored(self, ranked: str, names: list[str]) -> str:
        """A ranked relation joined to the row store: (score, doc_id,
        <names>), ordered score desc, doc_id asc."""
        cols = "".join(f", c.{sql_ident(n)} AS {sql_ident(n)}"
                       for n in names)
        return (f"SELECT /*+ BROADCAST(r) */ r.score AS score, "
                f"r.doc_id AS doc_id{cols} FROM ({ranked}) r "
                f"JOIN {self.ctx.view('corpus')} c "
                f"ON r.doc_id = c.{sql_ident(self.ctx.id_col)} "
                f"ORDER BY r.score DESC, r.doc_id ASC")

    def facet_counts(self, rel: str, field: str, prefix: str,
                     depth: int) -> str:
        """(facet_child, value): the matched docs of ``rel`` counted
        per child path ``depth`` levels deep under ``prefix``."""
        col = f"c.{sql_ident(field)}"
        child = (f"concat('/', array_join(slice(split({col}, '/'), 2, "
                 f"{sql_num(depth)}), '/'))")
        return (f"SELECT {child} AS facet_child, count(*) AS value "
                f"FROM ({rel}) s JOIN {self.ctx.view('corpus')} c "
                f"ON s.doc_id = c.{sql_ident(self.ctx.id_col)} "
                f"WHERE startswith({col}, {sql_str(prefix + '/')}) "
                f"GROUP BY 1")

    # -------------------------------------------------------------- leafs

    def _scan(self, field: str, terms: list[str], cols: str,
              hint: str = "") -> str:
        """The posting rows of ``terms`` in ``field``."""
        return (f"SELECT {hint}{cols} FROM {self.ctx.view('postings')} "
                f"WHERE field = {sql_str(field)} AND {_in('term', terms)}")

    def _agg_hint(self, n_rows: int | None) -> str:
        """The scan hint of an aggregating search that reads ``n_rows``
        posting rows (None: not known on the driver)."""
        if n_rows is not None and n_rows <= AGG_SINGLE_MAX_ROWS:
            self.ctx.gates["agg"] = "single"
            return "/*+ COALESCE(1) */ "
        self.ctx.gates["agg"] = "shuffle"
        return ""

    def _bm25(self, field: str, dfs: dict[str, int], tf: str) -> str:
        """Per-posting BM25 over literal metadata: each term's idf is a
        constant expression Catalyst folds (a CASE over ``term`` when
        there are several)."""
        idfs = [(t, _idf(self.ctx.n_docs, df)) for t, df in sorted(dfs.items())]
        idf = idfs[0][1] if len(idfs) == 1 else _by_term(idfs)
        return f"({idf} * {_tf_norm(tf, _DOC_LEN, self.ctx.avgdl(field))})"

    def _term(self, q: ExactTerm) -> str:
        self.ctx.schema.require_indexed(q.field)
        # query value used verbatim (Term::from_field_text, mod.rs:221)
        dfs = self.ctx.term_df(q.field, [q.value])
        if not dfs:
            return _EMPTY
        # Basic record option: tf treated as 1; one posting row per doc,
        # so no aggregation
        return self._scan(
            q.field, [q.value],
            f"doc_id, {self._bm25(q.field, dfs, '1.0D')} AS score")

    def _phrase(self, q: PhraseQuery) -> str:
        q.validate()
        self.ctx.schema.require_indexed(q.field)
        offsets = q.offsets if q.offsets is not None else list(range(len(q.terms)))
        counts = Counter(q.terms)
        dfs = self.ctx.term_df(q.field, list(counts))
        if len(dfs) < len(counts):
            return _EMPTY  # a term no doc holds: no match
        # ONE pushed scan over the phrase's distinct terms + ONE
        # aggregation (GROUP BY doc_id → term→positions map); the inline
        # doc_len rides along.  Joining one leg per term on doc_id
        # would shuffle the same posting rows P-1 times.
        distinct = list(dict.fromkeys(q.terms))
        scan = self._scan(q.field, distinct, "doc_id, term, positions, doc_len",
                          self._agg_hint(sum(dfs.values())))
        grouped = (
            "SELECT doc_id, map_from_entries(collect_list("
            "struct(term, positions))) AS pos, count(term) AS n_present, "
            f"first(doc_len) AS doc_len FROM ({scan}) GROUP BY doc_id")
        # anchor on term 0: phrase matches at p iff term_i sits at
        # p - offsets[0] + offsets[i] for all i (Tantivy
        # PhraseQuery::new_with_offset semantics, phrase.rs:58-71)
        anchor = " AND ".join(
            f"array_contains(pos[{sql_str(q.terms[i])}], "
            f"p + {sql_num(offsets[i] - offsets[0])})"
            for i in range(1, len(q.terms)))
        tf = f"size(filter(pos[{sql_str(q.terms[0])}], p -> {anchor}))"
        matched = (f"SELECT doc_id, tf, doc_len FROM (SELECT doc_id, "
                   f"{tf} AS tf, doc_len FROM ({grouped}) "
                   f"WHERE n_present = {sql_num(len(distinct))}) "
                   f"WHERE tf > 0")
        # Tantivy's PhraseQuery uses a multi-term BM25 weight: idf
        # summed over the phrase terms (with multiplicity), tf = phrase
        # frequency; the sum is a constant expression
        idf_sum = ""
        for t, c in sorted(counts.items()):
            part = f"({_idf(self.ctx.n_docs, dfs[t])} * {sql_num(float(c))})"
            idf_sum = part if not idf_sum else f"({idf_sum} + {part})"
        score = (f"({idf_sum} * "
                 f"{_tf_norm('CAST(tf AS DOUBLE)', _DOC_LEN, self.ctx.avgdl(q.field))})")
        return f"SELECT doc_id, {score} AS score FROM ({matched})"

    # ------------------------------------------------------ fuzzy, regex

    def _expanded(self, field: str, driver, spark_pred: str) -> str:
        """Automaton-query scoring: every doc holding a matching term
        scores 1.0.

        ``driver(FieldTerms)`` expands on the driver (None: this pattern
        cannot); ``spark_pred`` is the same test as a SQL predicate on
        the term dictionary's ``term``.  A bounded expansion is pushed
        into the postings scan as a literal term list; above the bounds
        the postings semi-join the dictionary rows ``spark_pred``
        selects, and AQE picks the join strategy."""
        ft = self.ctx.field_terms(field)
        terms = driver(ft) if ft is not None else None
        fq = sql_str(field)
        if terms is not None:
            dfs = [self.ctx.term_dict[(field, t)] for t in terms]
            size = sum(len(t.encode()) + len(str(d))
                       for t, d in zip(terms, dfs))
            bounded = (len(terms) <= EXPANSION_MAX_TERMS
                       and size <= EXPANSION_MAX_BYTES)
            self.ctx.gates["expansion_source"] = ("driver" if bounded
                                                  else "spark")
        else:
            self.ctx.gates["expansion_source"] = "spark"
            rows = bounded_collect(
                self.ctx.spark.sql(
                    f"SELECT term, df FROM {self.ctx.view('termstats')} "
                    f"WHERE field = {fq} AND {spark_pred}"),
                EXPANSION_MAX_TERMS, EXPANSION_MAX_BYTES)
            bounded = rows is not None
            if bounded:
                terms = [r["term"] for r in rows]
                dfs = [int(r["df"]) for r in rows]
        if not bounded:
            self.ctx.gates["expansion"] = "semi_join"
            hint = self._agg_hint(None)
            dictionary = (f"SELECT term FROM {self.ctx.view('termstats')} "
                          f"WHERE field = {fq} AND {spark_pred}")
            scan = (f"SELECT {hint}doc_id FROM {self.ctx.view('postings')} "
                    f"WHERE field = {fq} AND term IN ({dictionary})")
        else:
            self.ctx.gates["expansion"] = "literal"
            if not terms:
                return _EMPTY
            scan = self._scan(field, sorted(terms), "doc_id",
                              self._agg_hint(sum(dfs)))
        return f"SELECT doc_id, 1.0D AS score FROM ({scan}) GROUP BY doc_id"

    def _fuzzy(self, q: FuzzyQuery) -> str:
        self.ctx.schema.require_indexed(q.field)
        value, dist = q.value, q.distance

        def driver(ft):
            return fuzzy_terms(ft, value, dist, q.transposition)

        if dist == 0:
            # Levenshtein distance 0 ≡ exact term: the equality pushes
            # all the way to the parquet scan (no dictionary sweep)
            return self._expanded(q.field, driver,
                                  f"term = {sql_str(value)}")
        # cheap columnar prefilter: |len(term) − len(value)| ≤ d holds
        # for every term within edit distance d — prunes the dictionary
        # before the (expensive) edit-distance evaluation
        lev = f"levenshtein(term, {sql_str(value)})"
        pred = (f"length(term) BETWEEN {sql_num(len(value) - dist)} "
                f"AND {sql_num(len(value) + dist)}")
        if not q.transposition:
            pred += f" AND {lev} <= {sql_num(dist)}"
        elif dist == 1:
            # Damerau at distance 1 is fully JVM-expressible: dam ≤ 1
            # ⇔ lev ≤ 1 OR the term is the value with one adjacent
            # transposition, enumerated here from the literal value
            swaps = sorted({
                value[:i] + value[i + 1] + value[i] + value[i + 2:]
                for i in range(len(value) - 1)
                if value[i] != value[i + 1]
            })
            inner = f"{lev} <= 1"
            if swaps:
                inner = f"({inner} OR {_in('term', swaps)})"
            pred += f" AND {inner}"
        else:
            # Damerau-Levenshtein at distance ≥ 2: dam(t,v) ≤ d ⇒
            # lev(t,v) ≤ 2d (a transposition is at most two plain
            # edits), so the JVM levenshtein bounds the sweep, terms
            # with lev ≤ d are within without a Python check, and the
            # Arrow-batched UDF only judges the d < lev ≤ 2d shell
            _register_damerau(self.ctx.spark)
            pred += (f" AND {lev} <= {sql_num(2 * dist)} AND ({lev} <= "
                     f"{sql_num(dist)} OR {_DAMERAU_UDF}(term, "
                     f"{sql_str(value)}, {sql_num(dist)}))")
        return self._expanded(q.field, driver, pred)

    def _regex(self, q: RegexQuery) -> str:
        q.validate()
        self.ctx.schema.require_indexed(q.field)
        # Tantivy regex-automaton matches the ENTIRE term (regex.rs:28-36)
        pred = f"term RLIKE {sql_str(f'^(?:{q.pattern})$')}"
        # the automaton's cheap cousin: a literal regex prefix becomes a
        # term RANGE, a bisect of the driver's sorted terms or a
        # predicate parquet min/max stats prune the sorted dictionary on
        # — e.g. "qu.*" → 'qu' ≤ term < 'qv'
        prefix = _regex_literal_prefix(q.pattern)
        if prefix:
            pred = f"term >= {sql_str(prefix)} AND {pred}"
            last = prefix[-1]
            if ord(last) < 0x10FFFF:
                upper = prefix[:-1] + chr(ord(last) + 1)
                pred = f"term < {sql_str(upper)} AND {pred}"
        rx = python_regex(q.pattern)

        def driver(ft):
            return None if rx is None else regex_terms(ft, rx, prefix)

        return self._expanded(q.field, driver, pred)

    # ------------------------------------------------------ range, all

    def _range(self, q: RangeQuery) -> str:
        spec = self.ctx.schema.require_indexed(q.field)
        lower, lower_incl, upper, upper_incl = q.bounds_for(spec.ftype)
        col = sql_ident(q.field)
        conds = []
        if lower is not None:
            conds.append(f"{col} {'>=' if lower_incl else '>'} "
                         f"{sql_num(lower)}")
        if upper is not None:
            conds.append(f"{col} {'<=' if upper_incl else '<'} "
                         f"{sql_num(upper)}")
        # native typed predicate → Catalyst pushes to the parquet scan
        where = f" WHERE {' AND '.join(conds)}" if conds else ""
        return self._all() + where

    def _all(self) -> str:
        return (f"SELECT {sql_ident(self.ctx.id_col)} AS doc_id, "
                f"1.0D AS score FROM {self.ctx.view('corpus')}")

    # ------------------------------------------------------------ boolean

    def _compile_bool_terms_fast(self, q: BoolQuery) -> str | None:
        """Single-scan plan for the all-term-clauses boolean (the common
        shape).  The general path scans postings once per clause and
        joins; when every clause is an ExactTerm on one field, the whole
        query is ONE postings scan + ONE aggregation:

            filter term ∈ all-clause-terms
            → per-(doc,term) basic BM25 part (literal idf per term)
            → GROUP BY doc: score = Σ weight·part,
              matched-must count, must_not flag
            → filter must-complete ∧ ¬must_not

        The weights (clause multiplicity) and the must/not/should flags
        are CASE/IN literals over ``term``.  Semantics identical to the
        clause-by-clause plan.  Returns None when the shape doesn't
        apply (mixed clause types / multiple fields).
        """
        clauses = [*q.must, *q.must_not, *q.should]
        if not clauses or not all(isinstance(c, ExactTerm) for c in clauses):
            return None
        fields = {c.field for c in clauses}
        if len(fields) != 1:
            return None
        field = next(iter(fields))
        self.ctx.schema.require_indexed(field)

        must_c = Counter(c.value for c in q.must)
        should_c = Counter(c.value for c in q.should)
        not_set = {c.value for c in q.must_not}
        # a term the dictionary lacks has no postings: it contributes
        # nothing, and a must clause on it matches no doc
        dfs = self.ctx.term_df(
            field, sorted(set(must_c) | set(should_c) | not_set)
        )
        if not dfs:
            return _EMPTY

        def flag(terms) -> str:
            terms = sorted(terms)
            return (f"CASE WHEN term IN ({', '.join(map(sql_str, terms))})"
                    f" THEN 1 ELSE 0 END" if terms else "0")

        w = _by_term([(t, sql_num(float(must_c[t] + should_c[t])))
                      for t in sorted(dfs)])
        scan = self._scan(field, sorted(dfs), "doc_id, term, doc_len",
                          self._agg_hint(sum(dfs.values())))
        part = self._bm25(field, dfs, "1.0D")
        # posting rows are unique per (term, doc), so a conditional SUM
        # equals the distinct must-term count — a COUNT(DISTINCT) here
        # would plan a second shuffle (two-phase distinct aggregation)
        agg = (f"SELECT doc_id, SUM({part} * {w}) AS score, "
               f"SUM({flag(must_c)}) AS n_must, "
               f"MAX({flag(not_set)}) AS excluded, "
               f"MAX({flag(should_c)}) AS has_should "
               f"FROM ({scan}) GROUP BY doc_id")
        cond = "excluded = 0"
        if must_c:
            cond += f" AND n_must = {sql_num(len(must_c))}"
        else:
            cond += " AND has_should = 1"
        return f"SELECT doc_id, score FROM ({agg}) WHERE {cond}"

    def _bool(self, q: BoolQuery) -> str:
        q.validate()
        fast = self._compile_bool_terms_fast(q)
        if fast is not None:
            return fast
        musts = [self.sql(c) for c in q.must]
        shoulds = [self.sql(c) for c in q.should]
        must_nots = [self.sql(c) for c in q.must_not]

        base = musts[0] if musts else None
        for m in musts[1:]:
            # posting-list intersection = inner join on doc_id
            base = (f"SELECT a.doc_id AS doc_id, a.score + b.score AS score "
                    f"FROM ({base}) a JOIN ({m}) b ON a.doc_id = b.doc_id")
        if shoulds:
            union = " UNION ALL ".join(f"SELECT doc_id, score FROM ({s})"
                                       for s in shoulds)
            s_sum = (f"SELECT doc_id, SUM(score) AS score FROM ({union}) "
                     f"GROUP BY doc_id")
            if base is None:
                base = s_sum
            else:
                base = (f"SELECT a.doc_id AS doc_id, a.score + "
                        f"coalesce(b.score, 0.0D) AS score FROM ({base}) a "
                        f"LEFT JOIN ({s_sum}) b ON a.doc_id = b.doc_id")
        if base is None:
            # no positive clause → empty result (Tantivy: no scorer)
            return _EMPTY
        for mn in must_nots:
            base = (f"SELECT a.doc_id AS doc_id, a.score AS score "
                    f"FROM ({base}) a LEFT ANTI JOIN ({mn}) b "
                    f"ON a.doc_id = b.doc_id")
        return base

    # ----------------------------------------------------------- dispatch

    def sql(self, q: Query) -> str:
        """``q`` as the SQL text of its (doc_id, score) relation."""
        if isinstance(q, ExactTerm):
            return self._term(q)
        if isinstance(q, PhraseQuery):
            return self._phrase(q)
        if isinstance(q, FuzzyQuery):
            return self._fuzzy(q)
        if isinstance(q, RegexQuery):
            return self._regex(q)
        if isinstance(q, RangeQuery):
            return self._range(q)
        if isinstance(q, BoolQuery):
            return self._bool(q)
        if isinstance(q, AllQuery):
            return self._all()
        if isinstance(q, BoostQuery):
            # Tantivy BoostQuery: multiply the inner scorer's score
            return (f"SELECT doc_id, score * {sql_num(float(q.boost))} "
                    f"AS score FROM ({self.sql(q.inner)})")
        if isinstance(q, RawQuery):
            from .raw import parse_raw

            return self.sql(parse_raw(q.raw, self.ctx.schema))
        raise QueryError(f"Unsupported query type: {type(q).__name__}")


def _damerau_within(terms: pd.Series, values: pd.Series,
                    dists: pd.Series) -> pd.Series:
    return pd.Series([_damerau(t, v, d) <= d
                      for t, v, d in zip(terms, values, dists)])


def _register_damerau(spark) -> None:
    if not spark.catalog.functionExists(_DAMERAU_UDF):
        spark.udf.register(_DAMERAU_UDF,
                           F.pandas_udf(_damerau_within, "boolean"))
