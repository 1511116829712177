"""Damerau fuzzy compilation paths (round 7).

distance=1 compiles to pure JVM column algebra (lev ≤ 1 OR literal
adjacent-swap set — no Python worker in the plan); distance=2 keeps
the Arrow UDF but only over the d < lev ≤ 2d shell.  Both must agree
exactly with a brute-force Damerau oracle over the term dictionary, and
so must the driver expansion (query/expand.py) at every distance.
"""

import pytest
from pyspark.sql import Row

from toshi_spark.engine import FullTextIndex
from toshi_spark.query.compiler import _damerau
from toshi_spark.query.dsl import parse_search
from toshi_spark.schema import FieldSpec, IndexSchema
from toshi_spark.session import bounded_collect

# one term per doc → matched doc ids ARE the matched dictionary terms
VOCAB = [
    "spark", "sprak", "spakr", "psark", "sparkk", "spak", "sparc",
    "saprk", "spork", "shark", "stark", "sparks", "park", "aspark",
    "sprka", "rapks", "kraps", "spray", "scark", "spa",
]


@pytest.fixture(scope="module")
def ix(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(VOCAB)])
    schema = IndexSchema(
        [FieldSpec("text", "text", stored=False, indexed=True)])
    return FullTextIndex.build(spark, docs, schema, id_col="doc_id",
                               name="dampin", cache=False)


def _matched_terms(ix, dist):
    df = ix.search_df(parse_search({
        "query": {"fuzzy": {"text": {"value": "spark", "distance": dist,
                                     "transposition": True}}},
        "limit": 100,
    }))
    return {VOCAB[r["doc_id"]] for r in df.collect()}, df


@pytest.mark.parametrize("dist", [1, 2])
def test_damerau_matches_bruteforce(ix, dist):
    want = {t for t in VOCAB if _damerau(t, "spark", dist) <= dist}
    got, _ = _matched_terms(ix, dist)
    assert got == want, (dist, got ^ want)
    # the transposition case is actually exercised
    assert "sprak" in got


def _expansion_plans(ix, dist, monkeypatch) -> tuple[str, str]:
    """Executed plans of the dictionary expansion (collected on its own
    by ``bounded_collect`` before the search plan is built) and of the
    search itself."""
    from toshi_spark.query import compiler

    seen = []

    def spy(df, *bounds):
        seen.append(df)
        return bounded_collect(df, *bounds)

    monkeypatch.setattr(compiler, "bounded_collect", spy)
    _, df = _matched_terms(ix, dist)
    assert len(seen) == 1
    return tuple(d._jdf.queryExecution().executedPlan().toString()
                 for d in (seen[0], df))


def test_distance1_plan_has_no_python_worker(ix, monkeypatch):
    for plan in _expansion_plans(ix, 1, monkeypatch):
        for py in ("ArrowEvalPython", "BatchEvalPython", "PythonUDF"):
            assert py not in plan, plan


def test_distance2_keeps_udf_on_shell_only(ix, monkeypatch):
    plan, search_plan = _expansion_plans(ix, 2, monkeypatch)
    assert "ArrowEvalPython" in plan or "PythonUDF" in plan
    # the JVM levenshtein bound prunes BELOW the UDF
    assert "levenshtein" in plan
    # the search itself scans a literal term list: no Python worker
    assert "ArrowEvalPython" not in search_plan
    assert "PythonUDF" not in search_plan


def test_driver_expansion_matches_pairwise_reference():
    """The driver's banded numpy DP selects, at every distance with and
    without transpositions, exactly the terms the pairwise Python DPs
    (``_damerau``, and the oracle's Levenshtein) put within it."""
    import random

    from oracle_bm25 import _levenshtein
    from toshi_spark.query.expand import FieldTerms, fuzzy_terms

    rng = random.Random(7)
    alpha = "abcé\U0001f600"
    terms = sorted({"".join(rng.choices(alpha, k=rng.randint(1, 6)))
                    for _ in range(600)})
    ft = FieldTerms(terms)
    for _ in range(60):
        v = "".join(rng.choices(alpha, k=rng.randint(1, 6)))
        for d in (1, 2, 3):
            for tr in (False, True):
                want = [t for t in terms if (_damerau(t, v, d) if tr
                                             else _levenshtein(t, v)) <= d]
                assert fuzzy_terms(ft, v, d, tr) == want, (v, d, tr)
