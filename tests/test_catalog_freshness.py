"""Catalog-handle cache freshness (VERDICT r6 #7).

q_delete_visibility caches the opened index handle as a session
artifact (queries._ARTIFACTS) whose key ends in the commit fingerprint.  The handle pins the manifest at open time, so
a commit AFTER cache-fill (another delete + flush here) must refresh
the handle — a stale reader would silently serve pre-delete results in
a long-lived serving process.  commit_fingerprint is the guard: it
covers exactly the committed view (manifest bytes + committed
tombstones) and deliberately ignores staged deletes.
"""

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_commit_fingerprint_tracks_commits_only(spark, tmp_path):
    from toshi_spark.index.catalog import IndexCatalog

    cat = IndexCatalog(spark, str(tmp_path))
    cat.create_index("fp", [
        {"name": "text", "ftype": "text", "stored": False,
         "indexed": True},
    ], merge_policy={"kind": "none"})
    docs = spark.createDataFrame(
        [(i, f"doc {i} spark data word{i}") for i in range(30)],
        "doc_id long, text string",
    )
    cat.ingest("fp", docs, fingerprint="t")
    fp0 = cat.commit_fingerprint("fp")
    assert fp0 == cat.commit_fingerprint("fp"), "stable between commits"
    # staged (uncommitted) delete: visibility unchanged → fp unchanged
    n = cat.delete_term("fp", {"text": "spark"})
    assert n > 0
    assert cat.commit_fingerprint("fp") == fp0
    # flush commits the tombstones → fp must change
    cat.flush("fp")
    fp1 = cat.commit_fingerprint("fp")
    assert fp1 != fp0


def test_cached_delete_visibility_handle_refreshes_on_commit(spark):
    """Fill q_delete_visibility's cache, commit ANOTHER delete on the
    same catalog, and assert the next call serves the post-commit view
    (term 'data' gone), not the cached pre-commit one."""
    import hashlib
    import tempfile

    from toshi_spark.index.catalog import IndexCatalog
    from toshi_spark.queries import _ARTIFACTS, QUERIES

    q = QUERIES["ft_delete_visibility"]
    tag = hashlib.md5(SF_DIR.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"toshi_spark_cat_{tag}")
    cat = IndexCatalog(spark, base)
    scope = ("ft_delete_visibility", SF_DIR, id(spark.sparkContext))
    try:
        rows0 = q(spark, SF_DIR).collect()
        assert len(rows0) > 0  # 'data' matches pre-second-delete
        handles = [k for k in _ARTIFACTS if k[:3] == scope]
        assert len(handles) == 1, "first call must fill the cache"
        stale_fp = handles[0][-1]
        # second committed mutation on the SAME index
        n = cat.delete_term("docs_del", {"text": "data"})
        assert n > 0
        cat.flush("docs_del")
        assert cat.commit_fingerprint("docs_del") != stale_fp
        rows1 = q(spark, SF_DIR).collect()
        assert rows1 == [], (
            "post-commit call served the stale pre-delete view"
        )
    finally:
        # the shared setup is now mutated beyond what the oracle
        # expects — drop it so the next caller rebuilds from scratch
        cat.delete_index("docs_del")
        for k in [k for k in _ARTIFACTS if k[:3] == scope]:
            _ARTIFACTS.pop(k)
    # and the rebuild path works: a fresh call reconstructs the
    # canonical post-first-delete view
    rows2 = q(spark, SF_DIR).collect()
    assert len(rows2) == len(rows0)
