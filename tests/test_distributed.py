"""Distributed (per-shard) search path: must equal the driver kernel
exactly — per-shard top-k union provably contains the global top-k."""

from __future__ import annotations

import random

import numpy as np
import pytest

from bm25spark.build import build_index
from bm25spark.config import Bm25Config
from bm25spark.distributed import search_distributed
from bm25spark.index import Bm25Index


@pytest.fixture(scope="module")
def dist_index(spark, tmp_path_factory):
    rnd = random.Random(5)
    rows = [
        (i * 3, " ".join(f"t{rnd.randrange(500)}" for _ in range(40)))
        for i in range(600)
    ]  # non-dense source ids: payload != internal id
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    d = str(tmp_path_factory.mktemp("dist") / "idx")
    build_index(spark, df, d, "text", ["doc_id"], cfg=Bm25Config(shard_size=128))
    return d, dict(rows)


class TestDistributed:
    def test_batch_equals_single_query(self, spark, dist_index):
        """search_distributed_batch answers M queries in one job with
        per-query results identical to M single-query jobs (incl. an
        all-absent query, which simply yields no rows)."""
        from bm25spark.distributed import search_distributed_batch

        d, _ = dist_index
        qs = {
            "a": "t1 t22 t333",
            "b": "t0",
            "c": "t7 zz_absent",
            "d": "zz qq",
        }
        batch = search_distributed_batch(spark, d, qs, 25).collect()
        by_q: dict = {}
        for r in batch:
            by_q.setdefault(r.query_id, []).append((r.doc_id, r.score))
        for qid, text in qs.items():
            single = [
                (r.doc_id, r.score)
                for r in search_distributed(spark, d, text, 25).collect()
            ]
            assert by_q.get(qid, []) == single, qid

    def test_matches_driver_kernel(self, spark, dist_index):
        d, _ = dist_index
        idx = Bm25Index(spark, d)
        pay = {
            r.doc_id: r.p_doc_id
            for r in idx.docs_df().select("doc_id", "p_doc_id").collect()
        }
        for q in ("t1 t22 t333", "t0", "t7 zz_absent", "zz qq"):
            driver = [(pay[i], s) for i, s in idx.search(q, 25)]
            dist = [
                (r.doc_id, r.score)
                for r in search_distributed(spark, d, q, 25, round_score=None).collect()
            ]
            assert [p for p, _ in dist] == [p for p, _ in driver], q
            if driver:
                assert np.allclose(
                    [s for _, s in dist], [s for _, s in driver], rtol=1e-12
                )

    def test_payload_ids_returned(self, spark, dist_index):
        d, rows = dist_index
        out = search_distributed(spark, d, "t1", 10).collect()
        assert out and all(r.doc_id % 3 == 0 for r in out)  # source ids

    def test_prefilter_cogroup(self, spark, dist_index):
        d, rows = dist_index
        allowed = spark.createDataFrame(
            [(i,) for i in rows if i % 2 == 0], "doc_id INT"
        )
        got = search_distributed(
            spark, d, "t1 t22", 25, round_score=None, prefilter=allowed
        ).collect()
        assert got and all(r.doc_id % 2 == 0 for r in got)
        # equals the driver kernel with the equivalent mask
        idx = Bm25Index(spark, d)
        pay = {
            r.doc_id: r.p_doc_id
            for r in idx.docs_df().select("doc_id", "p_doc_id").collect()
        }
        mask = np.zeros(idx.n_docs, dtype=bool)
        for iid, pid in pay.items():
            mask[iid] = pid % 2 == 0
        want = [(pay[i], s) for i, s in idx.search("t1 t22", 25, allowed_mask=mask)]
        assert [(r.doc_id, r.score) for r in got] == want

    def test_blocklist_and_prefilter_combo(self, spark, dist_index):
        """blocked= alone (P4 inverted mask) and together with a
        prefilter (blocked ids removed from the allowlist) both match
        the driver kernel with the equivalent dense mask."""
        d, rows = dist_index
        idx = Bm25Index(spark, d)
        pay = {
            r.doc_id: r.p_doc_id
            for r in idx.docs_df().select("doc_id", "p_doc_id").collect()
        }
        # block the internal ids of payloads divisible by 9
        blocked_iids = [iid for iid, pid in pay.items() if pid % 9 == 0]
        blocked = spark.createDataFrame([(i,) for i in blocked_iids], "doc_id LONG")

        got = search_distributed(
            spark, d, "t1 t22", 25, round_score=None, blocked=blocked
        ).collect()
        mask = np.ones(idx.n_docs, dtype=bool)
        mask[blocked_iids] = False
        want = [(pay[i], s) for i, s in idx.search("t1 t22", 25, allowed_mask=mask)]
        assert [(r.doc_id, r.score) for r in got] == want
        assert got and all(r.doc_id % 9 != 0 for r in got)

        allowed = spark.createDataFrame(
            [(i,) for i in rows if i % 2 == 0], "doc_id INT"
        )
        got2 = search_distributed(
            spark, d, "t1 t22", 25, round_score=None,
            prefilter=allowed, blocked=blocked,
        ).collect()
        mask2 = np.zeros(idx.n_docs, dtype=bool)
        for iid, pid in pay.items():
            mask2[iid] = pid % 2 == 0 and pid % 9 != 0
        want2 = [(pay[i], s) for i, s in idx.search("t1 t22", 25, allowed_mask=mask2)]
        assert [(r.doc_id, r.score) for r in got2] == want2

    def test_batch_equals_single_with_tombstones(self, spark, dist_index):
        """The batched path must apply P3/P4 masks exactly like the
        single-query path (the reference applies the deleted filter on
        EVERY scan, search.rs:112-118) — with tombstones, with a
        prefilter, and with both at once; and a tombstoned doc must
        never surface from the batch."""
        from bm25spark.distributed import search_distributed_batch

        d, rows = dist_index
        idx = Bm25Index(spark, d)
        pay = {
            r.doc_id: r.p_doc_id
            for r in idx.docs_df().select("doc_id", "p_doc_id").collect()
        }
        blocked_iids = [iid for iid, pid in pay.items() if pid % 5 == 0]
        blocked = spark.createDataFrame(
            [(i,) for i in blocked_iids], "doc_id LONG"
        )
        allowed = spark.createDataFrame(
            [(i,) for i in rows if i % 2 == 0], "doc_id INT"
        )
        qs = {"a": "t1 t22 t333", "b": "t0", "c": "t7 zz_absent"}
        for kw in (
            {"blocked": blocked},
            {"prefilter": allowed},
            {"blocked": blocked, "prefilter": allowed},
        ):
            batch = search_distributed_batch(
                spark, d, qs, 25, round_score=None, **kw
            ).collect()
            by_q: dict = {}
            for r in batch:
                by_q.setdefault(r.query_id, []).append((r.doc_id, r.score))
            if "blocked" in kw:
                assert all(
                    r.doc_id % 5 != 0 for r in batch
                ), "tombstoned doc surfaced from the batch path"
            for qid, text in qs.items():
                single = [
                    (r.doc_id, r.score)
                    for r in search_distributed(
                        spark, d, text, 25, round_score=None, **kw
                    ).collect()
                ]
                assert by_q.get(qid, []) == single, (qid, sorted(kw))


class TestPruneGate:
    def test_forced_prune_identical_single_and_batch(self, spark, dist_index):
        """prune_min_bytes=0 forces the θ-seeded decode pre-cut through
        the real Spark tasks (the size gate normally skips it on tiny
        shards); results must be identical to the gated (decode-all)
        run — single query, batch, and with a prefilter+tombstone mask
        live (the masked-θ path)."""
        from pyspark.sql import functions as F

        from bm25spark.distributed import (
            search_distributed,
            search_distributed_batch,
        )

        d, rows = dist_index
        pre = spark.createDataFrame(
            [(i,) for i in sorted(rows) if (i // 3) % 2 == 0], "doc_id INT"
        )
        blocked = spark.createDataFrame([(3,), (9,)], "doc_id BIGINT")

        for kwargs in (
            {},
            {"prefilter": pre, "blocked": blocked},
        ):
            want = search_distributed(
                spark, d, "t1 t22 t333", 30, **kwargs
            ).collect()
            got = search_distributed(
                spark, d, "t1 t22 t333", 30, prune_min_bytes=0, **kwargs
            ).collect()
            assert [tuple(r) for r in got] == [tuple(r) for r in want], kwargs

        qs = {"a": "t1 t22 t333", "b": "t0", "c": "t7 t9 t11 t13"}
        want = search_distributed_batch(
            spark, d, qs, 20, blocked=blocked
        ).collect()
        got = search_distributed_batch(
            spark, d, qs, 20, blocked=blocked, prune_min_bytes=0
        ).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_absent_term_results_keep_payload_schema(spark, tmp_path):
    """A query with no term in the dictionary returns an empty frame
    with the payload columns + score on every serving path — checked
    on a payload that is not named doc_id, so a hard-coded
    (doc_id, score) schema cannot pass by accident."""
    from bm25spark.maintain import insert, search_with_delta_df

    rows = [
        (f"r{i % 3}", f"src/f{i}.py", f"def f{i}(): return alpha_{i % 5}")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "repo STRING, path STRING, text STRING")
    d = str(tmp_path / "idx_payload")
    build_index(spark, df, d, "text", ["repo", "path"])
    insert(
        spark, d,
        spark.createDataFrame([("r9", "new.py", "alpha_1 beta")], df.schema),
        "text",
    )
    want = ["repo", "path", "score"]
    idx = Bm25Index(spark, d)
    frames = {
        "search_distributed": search_distributed(spark, d, "zz_absent_term", 5),
        "search_df": idx.search_df("zz_absent_term", 5),
        "search_df_routed": idx.search_df("zz_absent_term", 5, max_driver_docs=1),
        "search_with_delta_df": search_with_delta_df(
            spark, d, "zz_absent_term", 5, "text"
        ),
    }
    for name, out in frames.items():
        assert out.columns == want, (name, out.columns)
        assert out.collect() == [], name


def _temp_files(spark) -> int:
    import os

    return len(os.listdir(spark.sparkContext._temp_dir))


def test_batch_searches_leave_no_broadcast_files(spark, dist_index):
    """The shard task's inputs travel in its closure: searches leave no
    broadcast pickle behind in the driver's temp dir."""
    from bm25spark.distributed import search_distributed_batch

    d, _ = dist_index
    search_distributed_batch(spark, d, {"a": "t1"}, 5).collect()  # warm
    before = _temp_files(spark)
    for i in range(5):
        search_distributed_batch(spark, d, {"a": f"t{i}", "b": "t9 t10"}, 5).collect()
    assert _temp_files(spark) == before


def test_failed_shard_task_leaves_session_clean(spark, dist_index, monkeypatch):
    """A shard task that raises fails the search loudly and leaves no
    pinned RDD or broadcast file; the next search on the same session
    answers as before."""
    from bm25spark import distributed

    d, _ = dist_index
    qs = {"a": "t1 t22 t333", "b": "t0"}
    expected = distributed.search_distributed_batch(spark, d, qs, 10).collect()
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    rdds, files = persisted().size(), _temp_files(spark)

    def failing_kernel(*args, **kwargs):  # nested: pickled by value
        raise RuntimeError("injected shard-task failure")

    monkeypatch.setattr(distributed, "taat_topk_batch", failing_kernel)
    with pytest.raises(Exception, match="injected shard-task failure"):
        distributed.search_distributed_batch(spark, d, qs, 10).collect()
    assert persisted().size() == rdds
    assert _temp_files(spark) == files

    monkeypatch.undo()
    assert distributed.search_distributed_batch(spark, d, qs, 10).collect() == expected


@pytest.fixture(scope="module")
def typed_index(spark, tmp_path_factory):
    """A sealed index whose payload holds a timestamp with microseconds,
    a decimal and a column named doc_id (the sibling of
    test_index.test_footer_schema_equals_spark_inference's index)."""
    import datetime
    import decimal

    rows = [
        (
            i * 7,
            datetime.datetime(2024, 1, 1 + i % 28, 12, i % 60, 0, 997 * i + 7),
            decimal.Decimal(f"{i}.25"),
            f"w{i % 7} w{i % 5} common",
        )
        for i in range(300)
    ]
    df = spark.createDataFrame(
        rows, "doc_id INT, ts TIMESTAMP, amount DECIMAL(12,2), text STRING"
    )
    d = str(tmp_path_factory.mktemp("typed") / "idx")
    build_index(  # 3 shards
        spark, df, d, "text", ["doc_id"],
        payload_cols=["doc_id", "ts", "amount"], cfg=Bm25Config(shard_size=128),
    )
    return d


def test_shard_rows_carry_payload_types(spark, typed_index):
    """The payload a shard task attaches from its Arrow read of the docs
    artifact equals what a Spark join of ``docs_df()`` on the same
    internal ids returns: no timezone shift, no decimal rescale, no
    microsecond loss — on both sealed serving calls, with and without
    an allowlist (cogroup)."""
    from pyspark.sql import functions as F

    from bm25spark.distributed import search_distributed_batch
    from bm25spark.maintain import search_with_delta_batch_df

    idx = Bm25Index(spark, typed_index)
    qs = {"a": "w1 w3", "b": "common", "c": "w6 w4 w0"}
    docs = idx.docs_df()
    allowed = [r.doc_id for r in docs.filter("p_doc_id % 2 = 0").collect()]
    mask = np.zeros(idx.n_docs, dtype=bool)
    mask[allowed] = True
    prefilter = docs.filter("p_doc_id % 2 = 0").select(
        F.col("p_doc_id").alias("doc_id"),
        F.col("p_ts").alias("ts"),
        F.col("p_amount").alias("amount"),
    )

    def joined(allowed_mask):
        """(query_id, payload..., score) of every hit of the driver
        kernel, labeled by a Spark join of docs_df() on its ids."""
        hits = [
            (qid, doc, score)
            for qid, text in qs.items()
            for doc, score in idx.search(text, 400, allowed_mask=allowed_mask)
        ]
        h = spark.createDataFrame(hits, "query_id STRING, iid BIGINT, score DOUBLE")
        out = h.join(docs, h["iid"] == docs["doc_id"]).select(
            "query_id",
            F.col("p_doc_id").alias("doc_id"),
            F.col("p_ts").alias("ts"),
            F.col("p_amount").alias("amount"),
            "score",
        )
        return out.schema, sorted(out.collect())

    for allowed_mask, pre in ((None, None), (mask, prefilter)):
        schema, want = joined(allowed_mask)
        assert want
        for out in (
            search_distributed_batch(
                spark, typed_index, qs, 400, round_score=None, prefilter=pre
            ),
            search_with_delta_batch_df(
                spark, typed_index, qs, 400, "text", round_score=None,
                prefilter=pre,
            ),
        ):
            assert out.schema == schema
            assert sorted(out.collect()) == want
