"""toshi_spark — a PySpark-native full-text indexing + BM25 search engine.

A from-scratch, Spark-first rebuild of the capabilities of
toshi-search/Toshi (a Rust HTTP server over the Tantivy full-text
library).  Nothing here is a port: the reference defines WHAT to
compute (query DSL semantics, BM25 scoring, index lifecycle — see
SURVEY.md for file:line citations), while the HOW is idiomatic
PySpark: DataFrame programs over purpose-built posting-list tables,
vectorized pandas/Arrow UDFs for text analysis and block codecs, and
Catalyst for pushdown/pruning/join planning.

Layout
------
- ``analyzer``    — byte-exact Tantivy-default text analysis (tokenize,
                    long-token drop, lowercase) as Arrow-batched UDFs.
- ``index``       — distributed inverted-index build: deterministic docId
                    assignment, postings/termstats/doclens tables,
                    varint/bitpack block segments, manifest + resume,
                    log-merge compaction, catalog.
- ``query``       — Toshi JSON query DSL (term/phrase/fuzzy/regex/range/
                    bool/all/raw) compiled to one Spark SQL statement
                    per search; BM25 top-k with a block-max two-phase
                    fast path.
- ``scoring``     — BM25 (k1=1.2, b=0.75) as native column arithmetic.
- ``pipeline``    — training-data ops: dedup (exact/MinHash-LSH/SimHash/
                    n-gram Jaccard), ANN similarity search, text quality
                    stats, multimodal column plumbing.
- ``streaming``   — auto-commit micro-batch ingest (Structured Streaming).
"""

__version__ = "0.1.0"

K1 = 1.2
B = 0.75
DEFAULT_LIMIT = 100  # reference: toshi-types/src/query/mod.rs:142-144
