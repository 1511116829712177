"""Seeded inputs for the benchmark workloads.

Everything here is plain numpy/pandas/pyarrow, run by ``run.py``
before the worker process starts, so no timed region includes it.  The same seed always gives the same bytes;
the generated files are cached per seed under ``perfbench/.cache``.

- ``search``: the program's ``synth_webtext`` corpus as NDJSON (url,
  text, lang, ts, site), plus the query mix (one body per DSL shape).
- ``pipeline``: the two tables the pipeline operators read (documents,
  embeddings), in the layout of the sf0.001 test data: one parquet row
  group per table.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np

SEARCH_SCHEMA = [
    {"name": "url", "type": "text",
     "options": {"indexing": {"record": "basic", "tokenizer": "raw"},
                 "stored": True}},
    {"name": "text", "type": "text",
     "options": {"indexing": {"record": "position",
                              "tokenizer": "default"},
                 "stored": False}},
    {"name": "lang", "type": "text",
     "options": {"indexing": {"record": "basic", "tokenizer": "raw"},
                 "stored": True}},
    {"name": "ts", "type": "u64",
     "options": {"indexed": True, "stored": True, "fast": True}},
    {"name": "site", "type": "facet", "options": {"stored": True}},
]
# the synth_webtext vocabulary is w0..w1999, rank r drawn with weight
# 1/(r+1); its documents carry the time stamp epoch + i
VOCAB_SIZE = 2000
TS_BASE = 1_577_836_800  # 2020-01-01T00:00:00Z


def marker(i: int) -> str:
    return f"marker{i:08d}"


def site_facet(url: str) -> str:
    """Facet path of a url's host, labels reversed:
    ``https://example-0042.test/…`` -> ``/test/example-0042``."""
    host = url.split("/")[2]
    return "/" + "/".join(reversed(host.split(".")))


def search_corpus(seed: int, n_docs: int, first: int = 0) -> str:
    """NDJSON body of documents ``first .. first + n_docs - 1`` of the
    program's own seeded ``synth_webtext`` corpus (its per-row
    generator, so no Spark is needed): url, text, lang as generated,
    ``ts`` = ``warc_ts`` in epoch seconds, ``site`` = the url host as a
    facet.  Document ``i`` holds the unique term ``marker(i)``."""
    from toshi_spark.fixtures import _gen_batch

    pdf = _gen_batch(np.arange(first, first + n_docs), seed)
    return "".join(
        json.dumps({"url": url, "text": text, "lang": lang,
                    "ts": int(ts.timestamp()), "site": site_facet(url)}) + "\n"
        for url, text, lang, ts in zip(pdf["url"], pdf["text"], pdf["lang"],
                                       pdf["warc_ts"]))


def search_queries(seed: int, n_docs: int) -> list[dict]:
    """One ``POST /{idx}`` body per DSL shape, terms drawn from the
    seed: head (rank < 10), mid (rank 50-300) and rare (rank >= 1000)
    terms of the corpus vocabulary, and one document's marker term."""
    rng = np.random.default_rng([seed, 2])

    def head() -> str:
        return f"w{int(rng.integers(0, 10))}"

    def mid() -> str:
        return f"w{int(rng.integers(50, 300))}"

    def rare() -> str:
        return f"w{int(rng.integers(1000, VOCAB_SIZE))}"

    lo = TS_BASE + int(rng.integers(0, n_docs // 2))
    span = n_docs // 8
    return [
        {"query": {"term": {"text": head()}}, "limit": 10},
        {"query": {"term": {"text": rare()}}, "limit": 10},
        {"query": {"term": {"text": marker(int(rng.integers(0, n_docs)))}},
         "limit": 10},
        {"query": {"bool": {"must": [{"term": {"text": head()}}],
                            "should": [{"term": {"text": mid()}}],
                            "must_not": [{"term": {"text": head()}}]}},
         "limit": 10},
        {"query": {"phrase": {"text": {"terms": [head(), head()]}}},
         "limit": 10},
        {"query": {"fuzzy": {"text": {"value": mid(), "distance": 1}}},
         "limit": 10},
        {"query": {"regex": {"text": f"w{int(rng.integers(1, 10))}[0-9]"}},
         "limit": 10},
        {"query": {"range": {"ts": {"gte": lo, "lt": lo + span}}},
         "limit": 10},
        {"query": {"raw": f"text:{head()} AND text:{mid()}"}, "limit": 10},
        {"query": {"term": {"text": mid()}}, "sort_by": "ts", "limit": 10},
        {"query": {"term": {"text": head()}}, "facets": {"site": ["/test"]},
         "limit": 10},
    ]


# ---------------------------------------------------------------- pipeline

_DOC_VOCAB = np.array([
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
])
_DOC_LANGS = ["en", "zh", "es", "de", "fr"]
_DOC_LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]


def pipeline_tables(seed: int, n_docs: int = 500) -> dict:
    """documents / embeddings as pyarrow tables.  (No operator of the
    workload reads the test data's third table, events.)"""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 3])
    lengths = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(_DOC_VOCAB), int(lengths.sum()))
    has_dup = rng.random(n_docs) < 0.05
    texts, off = [], 0
    for i in range(n_docs):
        toks = _DOC_VOCAB[words[off:off + lengths[i]]].copy()
        off += int(lengths[i])
        if has_dup[i]:
            toks[int(rng.integers(0, len(toks)))] = "dup"
        texts.append(" ".join(toks))
    # exact-duplicate pairs at the rate of the sf0.1 test data (8 in
    # 5,000 docs), at least one pair
    pick = rng.choice(n_docs, size=2 * max(1, n_docs // 600), replace=False)
    for a, b in pick.reshape(-1, 2):
        texts[int(b)] = texts[int(a)]
    documents = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_DOC_LANGS, n_docs,
                                    p=_DOC_LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    vecs = rng.standard_normal((n_docs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(range(n_docs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_docs).tolist(), pa.int32()),
    })
    return {"documents": documents, "embeddings": embeddings}


# ------------------------------------------------------------------ cache

SEARCH_DOCS = 1500         # the search workload's index
SWEEP_COMMIT_DOCS = 50     # extra commit of the search layer sweep
SWEEP_DOCS = 400           # toy index of the pipeline layer sweep


def _version() -> str:
    """Cache key part: a change to this generator or to the program's
    corpus generator invalidates the cache."""
    from toshi_spark import fixtures

    h = hashlib.md5()
    for path in (__file__, fixtures.__file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:8]


def _write_text(path: str, text: str) -> None:
    with open(path + ".tmp", "w", encoding="utf-8") as f:
        f.write(text)
    os.replace(path + ".tmp", path)


def _write_tables(d: str, seed: int) -> None:
    import pyarrow.parquet as pq

    os.makedirs(d)
    for name, tbl in pipeline_tables(seed).items():
        pq.write_table(tbl, os.path.join(d, f"{name}.parquet"),
                       row_group_size=1 << 30, compression="snappy")


def prepare(cache_dir: str, workload: str, seed: int) -> dict:
    """Every input of one workload and seed, its layer sweep included,
    generated once and cached.  Returns the input paths by role; the
    worker only reads them."""
    d = os.path.join(cache_dir, f"{workload}-s{seed}-{_version()}")
    ins = {"tables": os.path.join(d, "tables")}
    if workload == "search":
        qn = SEARCH_DOCS
        parts = {"corpus": (0, SEARCH_DOCS),
                 "sweep_commit": (SEARCH_DOCS, SWEEP_COMMIT_DOCS)}
    else:
        half = SWEEP_DOCS // 2
        qn = SWEEP_DOCS
        parts = {"sweep_a": (0, half), "sweep_b": (half, half)}
    for role in parts:
        ins[role] = os.path.join(d, f"{role}.ndjson")
    ins["queries"] = os.path.join(d, "queries.json")
    done = os.path.join(d, "_done")
    if not os.path.exists(done):
        import shutil

        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        for role, (first, count) in parts.items():
            _write_text(ins[role], search_corpus(seed, count, first=first))
        _write_text(ins["queries"], json.dumps(search_queries(seed, qn)))
        _write_tables(ins["tables"], seed)
        _write_text(done, "")
    return ins
