"""Query compiler: DSL tree (IR #1) → DataFrame program (IR #2).

The reference lowers its DSL 1:1 to Tantivy query objects
(``toshi-server/src/handle.rs:107-121``); all physical smarts live in
the library.  Here the lowering target is a Catalyst logical plan over
the postings table, and the physical smarts are Catalyst's: the
postings filter pushes down to the parquet scan, posting-list
intersection is a join on doc_id, union is union+groupBy-sum,
difference is left_anti.

Index metadata is resolved on the driver before the plan is built, as
Toshi's reader resolves it from the segment's term dictionary: n_docs
and avgdl come from the handle, each query term's df from
``ctx.term_df``, and all of them enter the plan as literals (Catalyst
folds each term's idf to one constant).  So a term query is one pushed
postings scan, and no metadata table is joined or broadcast.  Fuzzy
and regex expansions run as a Spark job over the term dictionary; a
bounded expansion becomes a literal ``term IN (…)`` on the postings
scan, a larger one a semi-join that AQE plans.

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

Every compile returns a DataFrame with exactly (doc_id: long,
score: double).
"""

from __future__ import annotations

from collections import Counter
from functools import reduce
from operator import add

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ..schema import QueryError
from ..scoring import idf_col, tf_norm_dyn
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
)

# a fuzzy/regex expansion at or under both bounds becomes a literal
# ``term IN (…)`` on the postings scan; a larger one is a semi-join
EXPANSION_MAX_TERMS = 1024
EXPANSION_MAX_BYTES = 1 << 20


class Compiler:
    """Compiles DSL nodes against one index's tables.

    ``ctx`` is the engine (FullTextIndex): postings, doclens, termstats,
    n_docs, avgdl(field), term_df(field, terms), gates, corpus, schema.
    """

    def __init__(self, ctx):
        self.ctx = ctx

    # -------------------------------------------------------------- leafs

    def _postings_for_terms(self, field: str, terms: list[str]) -> DataFrame:
        # multi-term scans feed a doc_id intersection/union — when the
        # index carries a doc-sharded postings copy (index/bucketed.py)
        # the bucketed scan satisfies that grouping's distribution and
        # the corpus-scale Exchange disappears.  Single-term lookups
        # stay on the (field, term)-sorted layout, which prunes harder.
        docb = getattr(self.ctx, "doc_bucketed", None)
        if docb is not None and len(terms) > 1:
            return docb.postings_for_terms(field, terms)
        p = self.ctx.postings
        cond = F.col("field") == field
        if len(terms) == 1:
            tcond = F.col("term") == terms[0]
        else:
            tcond = F.col("term").isin(terms)
        return p.filter(cond & tcond)

    def _empty(self) -> DataFrame:
        return self.ctx.spark.createDataFrame([], "doc_id long, score double")

    def _with_doc_len(self, p: DataFrame) -> DataFrame:
        if "doc_len" in p.columns:  # inline fieldnorm: no doclens join
            return p
        return p.join(self.ctx.doclens, ["field", "doc_id"])

    def _bm25(self, field: str, dfs: dict[str, int], tf: Column) -> Column:
        """Per-posting BM25 over literal metadata: each term's idf is a
        constant expression Catalyst folds with the column path's
        arithmetic (a CASE over ``term`` when there are several)."""
        idfs = [(t, idf_col(self.ctx.n_docs, F.lit(df).cast("double")))
                for t, df in sorted(dfs.items())]
        idf = idfs[0][1] if len(idfs) == 1 else _by_term(idfs)
        return idf * tf_norm_dyn(tf, F.col("doc_len").cast("double"),
                                 F.lit(self.ctx.avgdl(field)))

    def compile_term(self, q: ExactTerm) -> DataFrame:
        self.ctx.schema.require_indexed(q.field)
        # query value used verbatim (Term::from_field_text, mod.rs:221)
        dfs = self.ctx.term_df(q.field, [q.value])
        if not dfs:
            return self._empty()
        # Basic record option: tf treated as 1; one posting row per doc,
        # so no aggregation
        p = self._with_doc_len(self._postings_for_terms(q.field, [q.value]))
        return p.select(
            "doc_id", self._bm25(q.field, dfs, F.lit(1.0)).alias("score")
        )

    def compile_phrase(self, q: PhraseQuery) -> DataFrame:
        q.validate()
        self.ctx.schema.require_indexed(q.field)
        offsets = q.offsets if q.offsets is not None else list(range(len(q.terms)))
        counts = Counter(q.terms)
        dfs = self.ctx.term_df(q.field, list(counts))
        if len(dfs) < len(counts):
            return self._empty()  # a term no doc holds: no match
        has_inline_len = "doc_len" in self.ctx.postings.columns
        # ONE pushed scan over the phrase's distinct terms + ONE shuffle
        # (groupBy doc_id → term→positions map).  The previous plan
        # joined P per-term legs on doc_id — P-1 shuffles of the same
        # posting rows; at crawl scale the phrase cost IS those
        # shuffles, so the single-aggregation shape is the 100 TB plan.
        distinct_terms = list(dict.fromkeys(q.terms))
        p = self._postings_for_terms(q.field, distinct_terms)
        cols = ["doc_id", "term", "positions"]
        aggs = [
            F.map_from_entries(
                F.collect_list(F.struct("term", "positions"))
            ).alias("pos"),
            F.count("term").alias("n_present"),
        ]
        if has_inline_len:
            # inline fieldnorm rides along: no doclens join
            cols.append("doc_len")
            aggs.append(F.first("doc_len").alias("doc_len"))
        grouped = (
            p.select(*cols)
            .groupBy("doc_id")
            .agg(*aggs)
            .filter(F.col("n_present") == len(distinct_terms))
        )
        # anchor on term 0: phrase matches at p iff term_i sits at
        # p - offsets[0] + offsets[i] for all i (Tantivy
        # PhraseQuery::new_with_offset semantics, phrase.rs:58-71)
        deltas = [(q.terms[i], offsets[i] - offsets[0])
                  for i in range(1, len(q.terms))]

        def anchor_matches(pp):
            cond = None
            for term_i, d in deltas:
                c = F.array_contains(
                    F.col("pos").getItem(term_i), pp + F.lit(d)
                )
                cond = c if cond is None else (cond & c)
            return cond

        phrase_tf = F.size(
            F.filter(F.col("pos").getItem(q.terms[0]), anchor_matches)
        )
        keep = [F.lit(q.field).alias("field"), "doc_id", "tf"]
        if has_inline_len:
            keep.append("doc_len")
        matched = (
            grouped.withColumn("tf", phrase_tf)
            .filter(F.col("tf") > 0)
            .select(*keep)
        )
        # Phrase scoring: Tantivy's PhraseQuery uses a multi-term BM25
        # weight — idf summed over the phrase terms (with multiplicity),
        # tf = phrase frequency; the sum is a constant expression
        idf_sum = reduce(add, [
            idf_col(self.ctx.n_docs, F.lit(dfs[t]).cast("double"))
            * F.lit(float(c))
            for t, c in sorted(counts.items())
        ])
        scored = self._with_doc_len(matched).withColumn(
            "score",
            idf_sum * tf_norm_dyn(
                F.col("tf").cast("double"),
                F.col("doc_len").cast("double"),
                F.lit(self.ctx.avgdl(q.field)),
            ),
        )
        return scored.select("doc_id", "score")

    def _expand_dict(self, field: str, term_pred: Column) -> DataFrame:
        """Term-dictionary expansion → matching terms for this field."""
        d = self.ctx.termstats.filter(F.col("field") == field).filter(term_pred)
        return d.select("field", "term")

    def _const_score_for_terms(self, field: str,
                               expanded: DataFrame) -> DataFrame:
        """Automaton-query scoring: every matching doc scores 1.0.

        A bounded expansion is pushed into the postings scan as a
        literal term list; above the bounds the postings semi-join the
        expansion and AQE picks the join strategy."""
        rows = bounded_collect(expanded.select("term"),
                               EXPANSION_MAX_TERMS, EXPANSION_MAX_BYTES)
        if rows is None:
            self.ctx.gates["expansion"] = "semi_join"
            matched = self.ctx.postings.join(
                expanded, ["field", "term"], "left_semi"
            )
        else:
            self.ctx.gates["expansion"] = "literal"
            if not rows:
                return self._empty()
            matched = self._postings_for_terms(
                field, sorted(r["term"] for r in rows)
            )
        return matched.select("doc_id").distinct().withColumn(
            "score", F.lit(1.0)
        )

    def compile_fuzzy(self, q: FuzzyQuery) -> DataFrame:
        self.ctx.schema.require_indexed(q.field)
        if q.distance == 0:
            # Levenshtein distance 0 ≡ exact term: the equality pushes
            # all the way to the parquet scan (no dictionary sweep)
            return self._const_score_for_terms(
                q.field, self._expand_dict(q.field, F.col("term") == q.value)
            )
        # cheap columnar prefilter: |len(term) − len(value)| ≤ d holds
        # for every term within edit distance d — prunes the dictionary
        # before the (expensive) edit-distance evaluation
        len_pred = F.length(F.col("term")).between(
            len(q.value) - q.distance, len(q.value) + q.distance
        )
        if not q.transposition:
            pred = len_pred & (
                F.levenshtein(F.col("term"), F.lit(q.value)) <= q.distance
            )
            expanded = self._expand_dict(q.field, pred)
        elif q.distance == 1:
            # Damerau at distance 1 is FULLY JVM-expressible: dam ≤ 1
            # ⇔ lev ≤ 1 OR the term is the value with one adjacent
            # transposition — and the query value is a literal, so its
            # ≤len-1 swap variants enumerate driver-side.  No Python
            # worker in the plan (the pandas-UDF spin-up, not the rows,
            # was the cost of the fuzzy~1 path: 1.5 s vs 0.6 s for the
            # plain-Levenshtein twin at sf0.1).
            value = q.value
            swaps = sorted({
                value[:i] + value[i + 1] + value[i] + value[i + 2:]
                for i in range(len(value) - 1)
                if value[i] != value[i + 1]
            })
            pred = F.levenshtein(F.col("term"), F.lit(value)) <= 1
            if swaps:
                pred = pred | F.col("term").isin(swaps)
            expanded = self._expand_dict(q.field, len_pred & pred)
        else:
            # Damerau-Levenshtein at distance 2 (Lucene's cap): no
            # Spark built-in, but dam(t,v) ≤ d ⇒ lev(t,v) ≤ 2d (a
            # transposition is at most two plain edits), so the JVM
            # levenshtein bounds the sweep — and terms with lev ≤ d are
            # already within (dam ≤ lev) without any Python check.  The
            # Arrow-batched pandas UDF only adjudicates the d < lev ≤ 2d
            # shell, a handful of terms instead of the length-band slice
            # of the dictionary.
            value, dist = q.value, q.distance
            lev = F.levenshtein(F.col("term"), F.lit(value))
            candidates = self._expand_dict(
                q.field, len_pred & (lev <= 2 * dist)
            )

            @F.pandas_udf("boolean")
            def within(terms: pd.Series) -> pd.Series:
                return terms.map(lambda t: _damerau(t, value, dist) <= dist)

            expanded = candidates.filter(
                (lev <= dist) | within(F.col("term"))
            )
        return self._const_score_for_terms(q.field, expanded)

    def compile_regex(self, q: RegexQuery) -> DataFrame:
        q.validate()
        self.ctx.schema.require_indexed(q.field)
        # Tantivy regex-automaton matches the ENTIRE term (regex.rs:28-36)
        pred = F.col("term").rlike(f"^(?:{q.pattern})$")
        # the automaton's cheap cousin: a literal regex prefix becomes a
        # term RANGE predicate that parquet min/max stats can prune on
        # the (sorted) dictionary — e.g. "qu.*" → 'qu' ≤ term < 'qv'
        prefix = _regex_literal_prefix(q.pattern)
        if prefix:
            pred = (F.col("term") >= prefix) & pred
            last = prefix[-1]
            if ord(last) < 0x10FFFF:
                upper = prefix[:-1] + chr(ord(last) + 1)
                pred = (F.col("term") < upper) & pred
        return self._const_score_for_terms(
            q.field, self._expand_dict(q.field, pred)
        )

    def compile_range(self, q: RangeQuery) -> DataFrame:
        spec = self.ctx.schema.require_indexed(q.field)
        lower, lower_incl, upper, upper_incl = q.bounds_for(spec.ftype)
        col = F.col(q.field)
        cond = F.lit(True)
        if lower is not None:
            cond = cond & (col >= lower if lower_incl else col > lower)
        if upper is not None:
            cond = cond & (col <= upper if upper_incl else col < upper)
        # native typed predicate → Catalyst pushes to the parquet scan
        return (
            self.ctx.corpus.filter(cond)
            .select(F.col(self.ctx.id_col).alias("doc_id"))
            .withColumn("score", F.lit(1.0))
        )

    def compile_all(self, _q: AllQuery) -> DataFrame:
        return self.ctx.corpus.select(
            F.col(self.ctx.id_col).alias("doc_id")
        ).withColumn("score", F.lit(1.0))

    # ------------------------------------------------------------ boolean

    def _compile_bool_terms_fast(self, q: BoolQuery) -> DataFrame | None:
        """Single-scan plan for the all-term-clauses boolean (the common
        shape).  The general path scans postings once per clause and
        joins; when every clause is an ExactTerm on one field, the whole
        query is ONE postings scan + ONE aggregation:

            filter term ∈ all-clause-terms
            → per-(doc,term) basic BM25 part (literal idf per term)
            → groupBy(doc): score = Σ weight·part,
              matched-must distinct count, must_not flag
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
            return self._empty()
        term = F.col("term")

        def flag(terms) -> Column:
            terms = sorted(terms)
            return F.when(term.isin(terms), 1).otherwise(0) if terms \
                else F.lit(0)

        w = _by_term([(t, float(must_c[t] + should_c[t]))
                      for t in sorted(dfs)])
        p = self._with_doc_len(self._postings_for_terms(field, sorted(dfs)))
        part = self._bm25(field, dfs, F.lit(1.0))
        agg = p.groupBy("doc_id").agg(
            F.sum(part * w).alias("score"),
            # posting rows are unique per (term, doc), so a conditional
            # SUM equals the distinct must-term count — count_distinct
            # here would plan a second shuffle (two-phase distinct agg),
            # doubling the query's exchange cost at scale
            F.sum(flag(must_c)).alias("n_must"),
            F.max(flag(not_set)).alias("excluded"),
            F.max(flag(should_c)).alias("has_should"),
        )
        cond = F.col("excluded") == 0
        if must_c:
            cond = cond & (F.col("n_must") == len(must_c))
        else:
            cond = cond & (F.col("has_should") == 1)
        return agg.filter(cond).select("doc_id", "score")

    def compile_bool(self, q: BoolQuery) -> DataFrame:
        q.validate()
        fast = self._compile_bool_terms_fast(q)
        if fast is not None:
            return fast
        musts = [self.compile(c) for c in q.must]
        shoulds = [self.compile(c) for c in q.should]
        must_nots = [self.compile(c) for c in q.must_not]

        base: DataFrame | None = None
        if musts:
            base = musts[0]
            for m in musts[1:]:
                # posting-list intersection = inner join on doc_id
                base = (
                    base.join(m.withColumnRenamed("score", "s2"), "doc_id")
                    .withColumn("score", F.col("score") + F.col("s2"))
                    .drop("s2")
                )

        if shoulds:
            s_union = reduce(lambda a, b: a.unionByName(b), shoulds)
            s_sum = s_union.groupBy("doc_id").agg(F.sum("score").alias("s2"))
            if base is None:
                base = s_sum.withColumnRenamed("s2", "score")
            else:
                base = (
                    base.join(s_sum, "doc_id", "left")
                    .withColumn(
                        "score", F.col("score") + F.coalesce(F.col("s2"), F.lit(0.0))
                    )
                    .drop("s2")
                )

        if base is None:
            # no positive clause → empty result (Tantivy: no scorer)
            return self._empty()

        for mn in must_nots:
            base = base.join(mn.select("doc_id"), "doc_id", "left_anti")
        return base

    # ----------------------------------------------------------- dispatch

    def compile(self, q: Query) -> DataFrame:
        if isinstance(q, ExactTerm):
            return self.compile_term(q)
        if isinstance(q, PhraseQuery):
            return self.compile_phrase(q)
        if isinstance(q, FuzzyQuery):
            return self.compile_fuzzy(q)
        if isinstance(q, RegexQuery):
            return self.compile_regex(q)
        if isinstance(q, RangeQuery):
            return self.compile_range(q)
        if isinstance(q, BoolQuery):
            return self.compile_bool(q)
        if isinstance(q, AllQuery):
            return self.compile_all(q)
        if isinstance(q, BoostQuery):
            # Tantivy BoostQuery: multiply the inner scorer's score
            return self.compile(q.inner).withColumn(
                "score", F.col("score") * F.lit(float(q.boost))
            )
        if isinstance(q, RawQuery):
            from .raw import parse_raw

            return self.compile(parse_raw(q.raw, self.ctx.schema))
        raise QueryError(f"Unsupported query type: {type(q).__name__}")


def _by_term(pairs: list[tuple[str, Column | float]]) -> Column:
    """``CASE term WHEN t1 THEN v1 … END`` over literal (term, value)
    pairs (``F.when`` opens the CASE, ``Column.when`` extends it)."""
    return reduce(lambda c, tv: c.when(F.col("term") == tv[0], tv[1]),
                  pairs, F)


_REGEX_META = set(".^$*+?{}[]|()\\")


def _regex_literal_prefix(pattern: str) -> str:
    """Longest literal prefix of a regex (chars before any metachar).

    Conservative: stops at the first metacharacter and drops the last
    literal char if the NEXT token could make it optional/repeated
    (e.g. "ab?" must not assume 'b').  A pattern containing '|'
    anywhere gets NO prefix: a top-level alternation means the scanned
    literal only prefixes the FIRST branch ("w1|w2|w3" must still
    match w2), and distinguishing top-level from grouped pipes isn't
    worth the parse — the pushdown is an optimization, never a filter.
    """
    if "|" in pattern:
        return ""
    out: list[str] = []
    i = 0
    n = len(pattern)
    while i < n and pattern[i] not in _REGEX_META:
        out.append(pattern[i])
        i += 1
    if i < n and pattern[i] in "?*{" and out:
        out.pop()  # the preceding literal may repeat zero times
    return "".join(out)


def _damerau(a: str, b: str, cap: int) -> int:
    """Restricted Damerau-Levenshtein with early exit above ``cap``."""
    if abs(len(a) - len(b)) > cap:
        return cap + 1
    prev2: list[int] = []
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i] + [0] * len(b)
        for j, cb in enumerate(b, 1):
            cost = 0 if ca == cb else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if i > 1 and j > 1 and ca == b[j - 2] and a[i - 2] == cb:
                cur[j] = min(cur[j], prev2[j - 2] + cost)
        prev2, prev = prev, cur
        if min(prev) > cap:
            return cap + 1
    return prev[len(b)]
