"""Session artifacts follow their source tables.

The query suite caches analyzed corpora and index handles per source
directory.  A table rewritten under the same path must be rebuilt from
the new rows, the way a Toshi reader reloads on commit: after the
rewrite, every cached consumer must return exactly what a fresh build
over the new table returns.
"""

import shutil

import pyarrow.compute as pc
import pyarrow.parquet as pq

from toshi_spark.queries import QUERIES, analyzed_corpus

SRC = "/root/testdata/sf0.001"


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def _snapshot(spark, sf_dir):
    corpus = rows(analyzed_corpus(spark, sf_dir).select("doc_id", "toks"))
    return corpus, rows(QUERIES["ft_term_bm25"](spark, sf_dir))


def test_rewritten_source_rebuilds_artifacts(spark, tmp_path):
    live = str(tmp_path / "live")
    fresh = str(tmp_path / "fresh")
    shutil.copytree(SRC, live)
    shutil.copytree(SRC, fresh)
    corpus0, bm25_0 = _snapshot(spark, live)  # fills the caches

    # overwrite documents.parquet IN PLACE with a strict subset of its
    # rows: odd doc_ids only, which removes part of the 'spark' top-20
    docs = pq.read_table(f"{SRC}/documents.parquet")
    subset = docs.filter(pc.equal(pc.bit_wise_and(docs["doc_id"], 1), 1))
    assert 0 < subset.num_rows < docs.num_rows
    pq.write_table(subset, f"{live}/documents.parquet")
    pq.write_table(subset, f"{fresh}/documents.parquet")

    corpus1, bm25_1 = _snapshot(spark, live)
    want_corpus, want_bm25 = _snapshot(spark, fresh)
    assert (corpus1, bm25_1) == (want_corpus, want_bm25)
    assert corpus1 != corpus0 and bm25_1 != bm25_0
