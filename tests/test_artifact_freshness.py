"""Session artifacts follow their source tables.

The query suite caches analyzed corpora and index handles per source
directory, and the durable gates keep their segments on disk.  A table
rewritten under the same path must be rebuilt from the new rows, the
way a Toshi reader reloads on commit: after the rewrite, every cached
consumer must return exactly what a fresh build over the new table
returns.
"""

import hashlib
import os
import shutil
import tempfile

import pyarrow.compute as pc
import pyarrow.parquet as pq

from toshi_spark.queries import QUERIES, analyzed_corpus

SRC = "/root/testdata/sf0.001"


def rows(df):
    return sorted(tuple(r) for r in df.collect())


# in-memory artifacts, and the two durable gates whose segments and
# catalog live on disk under a name derived from the source path
KEYS = ["ft_term_bm25", "ft_segmented_term_bm25", "ft_delete_visibility"]


def _snapshot(spark, sf_dir):
    corpus = rows(analyzed_corpus(spark, sf_dir).select("doc_id", "toks"))
    return (corpus, *(rows(QUERIES[k](spark, sf_dir)) for k in KEYS))


def test_rewritten_source_rebuilds_artifacts(spark, tmp_path):
    live = str(tmp_path / "live")
    fresh = str(tmp_path / "fresh")
    shutil.copytree(SRC, live)
    shutil.copytree(SRC, fresh)
    try:
        _check_rewrite(spark, live, fresh)
    finally:  # the durable gates' dirs live outside tmp_path
        for d in (live, fresh):
            tag = hashlib.md5(d.encode()).hexdigest()[:8]
            for kind in ("seg", "cat"):
                shutil.rmtree(os.path.join(tempfile.gettempdir(),
                                           f"toshi_spark_{kind}_{tag}"),
                              ignore_errors=True)


def _check_rewrite(spark, live, fresh):
    before = _snapshot(spark, live)  # fills the caches

    # overwrite documents.parquet IN PLACE with a strict subset of its
    # rows: odd doc_ids only, which removes part of the 'spark' top-20
    docs = pq.read_table(f"{SRC}/documents.parquet")
    subset = docs.filter(pc.equal(pc.bit_wise_and(docs["doc_id"], 1), 1))
    assert 0 < subset.num_rows < docs.num_rows
    pq.write_table(subset, f"{live}/documents.parquet")
    pq.write_table(subset, f"{fresh}/documents.parquet")

    after = _snapshot(spark, live)
    assert after == _snapshot(spark, fresh)
    assert all(a != b for a, b in zip(after, before))
