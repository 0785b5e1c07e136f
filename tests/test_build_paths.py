"""The build writes its postings from the in-memory doc-grouped rows;
resume and vacuum rebuild them from the mappings staging parquet,
which is doc-grouped since r7 and one row per posting before. Both
staging layouts reach the one block kernel (the older one through
``build._read_doc_terms``), so every route must emit identical
artifacts, and the session must hold no more persisted RDDs after a
build or vacuum than before it, whether it succeeded or not.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from bm25spark import build as build_mod
from bm25spark.build import build_index, finalize_index
from bm25spark.config import Bm25Config
from bm25spark.maintain import delete, insert, vacuum

ARTIFACTS = ["docs", "postings", "terms", "lineage", "lineage_buckets"]


def _explode_staging(spark, index_dir):
    """Rewrite the build's doc-grouped staging in the per-posting
    layout older builds and vacuums wrote:
    (term_key, shard, local_id long, tf, fieldnorm)."""
    path = os.path.join(index_dir, "mappings")
    spark.read.parquet(path).select(
        "shard",
        F.col("local_id").cast("long").alias("local_id"),
        "fieldnorm",
        F.explode(F.arrays_zip("tkeys", "ttfs")).alias("z"),
    ).select(
        F.col("z.tkeys").alias("term_key"),
        "shard",
        "local_id",
        F.col("z.ttfs").alias("tf"),
        "fieldnorm",
    ).write.parquet(path + ".exploded")
    shutil.rmtree(path)
    os.rename(path + ".exploded", path)


def _assert_same_artifacts(spark, a_dir, b_dir):
    def path(d, art):
        with open(os.path.join(d, "meta.json")) as f:
            return os.path.join(d, json.load(f)["paths"][art])

    for art in ARTIFACTS:
        a = spark.read.parquet(path(a_dir, art))
        b = spark.read.parquet(path(b_dir, art))
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, art


@pytest.mark.parametrize("layout", ["doc_grouped", "exploded"])
def test_doc_grouped_and_mappings_paths_identical(spark, tmp_path, layout):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cfg = Bm25Config(shard_size=128)  # several shards even at sf0.001

    new_dir = str(tmp_path / "new")
    build_index(
        spark, docs.filter("doc_id % 5 != 0"), new_dir, "text", ["doc_id"], cfg=cfg
    )

    # rebuild stages 2-5 from the staged mappings parquet (the
    # vacuum/resume entry), in the given layout, into a copy
    old_dir = str(tmp_path / "old")
    shutil.copytree(new_dir, old_dir)
    if layout == "exploded":
        _explode_staging(spark, old_dir)
    for sub in ["postings", "terms", "lineage", "lineage_buckets"]:
        shutil.rmtree(os.path.join(old_dir, sub), ignore_errors=True)
    os.remove(os.path.join(old_dir, "meta.json"))
    finalize_index(spark, old_dir, cfg, ["doc_id"])
    _assert_same_artifacts(spark, new_dir, old_dir)

    # the same inserts and deletes, then a vacuum, over either staging
    for d in (new_dir, old_dir):
        insert(spark, d, docs.filter("doc_id % 5 = 0").select("doc_id", "text"), "text")
        delete(spark, d, docs.filter("doc_id % 7 = 0").select("doc_id"))
        vacuum(spark, d, "text")
    _assert_same_artifacts(spark, new_dir, old_dir)


def test_build_and_vacuum_release_their_persists(spark, tmp_path, monkeypatch):
    """Id assignment pins its range shuffle with localCheckpoints and
    the build caches its tokenized frame; build and vacuum release
    exactly those on every exit, so the session's persisted-RDD count
    is unchanged after a vacuum and after a build whose block kernel
    raises."""
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    df = spark.createDataFrame(
        [(i, f"w{i % 7} w{i % 5} common") for i in range(300)],
        "doc_id INT, text STRING",
    )
    d = str(tmp_path / "idx")
    cfg = Bm25Config(shard_size=128)
    before = persisted().size()
    build_index(spark, df.filter("doc_id < 250"), d, "text", ["doc_id"], cfg=cfg)
    assert persisted().size() == before
    insert(spark, d, df.filter("doc_id >= 250"), "text")
    delete(spark, d, df.filter("doc_id % 9 = 0").select("doc_id"))
    vacuum(spark, d, "text")
    assert persisted().size() == before

    def failing_kernel(cfg, avgdl, n_buckets):
        def build(batches):
            raise RuntimeError("injected block-kernel failure")

        return build

    monkeypatch.setattr(build_mod, "_build_blocks_docs_fn", failing_kernel)
    with pytest.raises(Exception, match="injected block-kernel failure"):
        build_index(spark, df, str(tmp_path / "broken"), "text", ["doc_id"], cfg=cfg)
    assert persisted().size() == before


def test_failed_vacuum_leaves_no_partial_artifacts(spark, tmp_path, monkeypatch):
    """A vacuum whose block kernel raises (with sealed tombstones and
    delta rows both to absorb) propagates the error and leaves the index
    as it was: meta.json unchanged, no half-built ``gen{N}.build``, no
    pinned RDDs and a free mutation lock. The next vacuum succeeds."""
    from bm25spark.maintain import _MutationLock

    persisted = spark.sparkContext._jsc.getPersistentRDDs
    df = spark.createDataFrame(
        [(i, f"w{i % 7} w{i % 5} common") for i in range(300)],
        "doc_id INT, text STRING",
    )
    d = str(tmp_path / "idx")
    build_index(
        spark, df.filter("doc_id < 250"), d, "text", ["doc_id"],
        cfg=Bm25Config(shard_size=128),
    )
    insert(spark, d, df.filter("doc_id >= 250"), "text")
    delete(spark, d, df.filter("doc_id % 9 = 0").select("doc_id"))
    with open(os.path.join(d, "meta.json"), "rb") as f:
        meta_before = f.read()
    before = persisted().size()

    def failing_kernel(cfg, avgdl, n_buckets):
        def build(batches):
            raise RuntimeError("injected vacuum block-kernel failure")

        return build

    monkeypatch.setattr(build_mod, "_build_blocks_docs_fn", failing_kernel)
    with pytest.raises(Exception, match="injected vacuum block-kernel failure"):
        vacuum(spark, d, "text")
    with open(os.path.join(d, "meta.json"), "rb") as f:
        assert f.read() == meta_before
    gen = json.loads(meta_before).get("generation", 0) + 1
    assert not os.path.exists(os.path.join(d, f"gen{gen}.build"))
    assert persisted().size() == before
    with _MutationLock(d, timeout=0.5):
        pass

    monkeypatch.undo()
    assert vacuum(spark, d, "text") == gen
    with open(os.path.join(d, "meta.json")) as f:
        assert json.load(f)["n_docs"] == 300 - len(range(0, 300, 9))


def test_empty_and_all_null_corpus_lifecycle(spark, tmp_path):
    """CREATE INDEX on an empty table works in the reference and must
    work here: an empty (or all-NULL-text) corpus builds a loadable
    index whose searches return nothing, accepts inserts whose terms
    only become searchable after vacuum (empty sealed dictionary =
    nothing surfaces from the growing segment, search.rs:55-62), and
    vacuums into a working one-doc index."""
    from bm25spark.index import Bm25Index
    from bm25spark.maintain import insert, search_with_delta, vacuum

    cases = {
        "empty": [],
        "null": [(1, None), (2, None)],
    }
    for name, rows in cases.items():
        d = str(tmp_path / f"idx_{name}")
        df = spark.createDataFrame(rows, "doc_id INT, text STRING")
        build_index(spark, df, d, "text", ["doc_id"], cfg=Bm25Config(shard_size=128))
        idx = Bm25Index(spark, d)
        assert idx.n_docs == 0
        assert idx.search("anything", 5) == []
        assert idx.search_df("anything", 5).collect() == []
        insert(
            spark,
            d,
            spark.createDataFrame([(10, "hello world")], "doc_id INT, text STRING"),
            "text",
        )
        # sealed dictionary is empty -> delta doc invisible until vacuum
        assert search_with_delta(spark, d, "hello", 5, "text") == []
        vacuum(spark, d, "text")
        idx = Bm25Index(spark, d)
        assert idx.n_docs == 1
        assert [doc for doc, _ in idx.search("hello", 5)] == [0]
