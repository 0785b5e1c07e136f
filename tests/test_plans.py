"""Physical-plan regression guards for the claims in PLANS.md: the
exact scorer stays Python-free and heap-limited, scans prune columns,
and the LSH candidate join stays a broadcast hash join. If an innocent
refactor de-optimizes a plan, these fail before the benchmark does."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_exact_scorer_plan_is_codegen_and_heap_limited(spark, docs):
    from bm25spark.query import exact_topk

    plan = plan_of(exact_topk(spark, docs, "text", "doc_id", "merge spark", 10))
    # zero row-at-a-time or Arrow Python operators in the simple path
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # global top-k is a per-partition heap + driver merge, not a sort
    assert "TakeOrderedAndProject" in plan
    # the 256-row quantization join broadcasts
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_exact_scorer_scan_prunes_columns(spark, docs):
    from bm25spark.query import exact_topk

    plan = plan_of(exact_topk(spark, docs, "text", "doc_id", "merge", 5))
    # documents.parquet has 5 columns; the scan must read only 2
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and all(
        "doc_id" in ln and "text" in ln and "lang" not in ln and "source" not in ln
        for ln in scan
    ), scan


def test_postings_read_prunes_partitions_and_pushes_keys(spark, tmp_path):
    from bm25spark.api import index_for_parquet

    idx = index_for_parquet(spark, f"{SF}/documents.parquet", "text", ["doc_id"])
    keys = idx.query_keys("merge spark")
    buckets = idx._buckets(keys)
    scan = idx.postings_df().filter(
        F.col("bucket").isin(buckets)
        & F.col("term_key").isin([bytearray(k) for k in keys])
    )
    plan = plan_of(scan)
    assert "PartitionFilters" in plan and "bucket" in plan
    assert "PushedFilters" in plan and "term_key" in plan


def test_lsh_candidate_join_is_broadcast_hash(spark):
    from bm25spark.datapipe import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = plan_of(similarity.ann_lsh_topk(emb, bits=8, tables=4))
    # candidates come from a codegen broadcast hash equi-join on the
    # tagged bucket — never a nested-loop over the corpus
    assert "BroadcastHashJoin" in plan


def test_payload_join_broadcasts_topk_side(spark, tmp_path):
    from bm25spark.api import index_for_parquet
    from bm25spark.distributed import search_distributed

    idx = index_for_parquet(spark, f"{SF}/documents.parquet", "text", ["doc_id"])
    plan = plan_of(search_distributed(idx.spark, idx.index_dir, "merge", 5))
    assert "BroadcastHashJoin" in plan


def test_delta_batch_plan_broadcasts_and_single_python_crossing(spark, tmp_path):
    """Batched delta leg: the payload join broadcasts, and the only
    Python operators in the whole batched growing∪sealed plan family
    are the fused Arrow tokenizer plus the kernel tasks (per shard and
    per delta partition) — no row-at-a-time Python anywhere."""
    from bm25spark.api import index_for_parquet
    from bm25spark.maintain import insert, search_with_delta_batch_df

    idx = index_for_parquet(spark, f"{SF}/documents.parquet", "text", ["doc_id"])
    insert(
        spark, idx.index_dir,
        spark.read.parquet(f"{SF}/documents.parquet").limit(20).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        ),
        "text",
    )
    plan = plan_of(
        search_with_delta_batch_df(
            spark, idx.index_dir, {"a": "merge spark", "b": "window"}, 5, "text"
        )
    )
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python
    assert "BroadcastHashJoin" in plan    # payload join
    # exactly one Arrow tokenizer crossing in the delta leg, plus the
    # kernel tasks (FlatMapGroupsInPandas / cogroup / MapInArrow)
    assert plan.count("ArrowEvalPython") <= 1, plan.count("ArrowEvalPython")


def test_substring_spans_shuffle_carries_hash_not_gram(spark, docs):
    """The scale claim in dedup.substring_dup_spans: the 40-char gram
    is hashed to 8 bytes BEFORE the pair-count shuffle, so no string
    gram column ever crosses an Exchange; the groupBy gets a map-side
    partial aggregate; and the whole pipeline stays Python-free."""
    from bm25spark.datapipe import dedup

    plan = plan_of(dedup.substring_dup_spans(docs))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # partial agg before the exchange (count_distinct partials)
    assert "partial_" in plan
    # every shuffle is keyed on the hash or doc_id — a plan that
    # shuffled `substring(...)` output would name the expression or a
    # gram alias in its hashpartitioning clause
    import re

    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
        keys = m.group(1)
        assert "substring" not in keys and "gram" not in keys, keys
    dedup.release_caches()


# ---- job budgets ------------------------------------------------------------
# Jobs per serving call at SF: a sealed batch runs the shard-task stage,
# the broadcast build, the docs scan of the payload join and the final
# one-task ordering as AQE jobs; an added partition-discovery or
# schema-inference job (an artifact opened by ``spark.read.parquet``
# inference) or an added exchange breaks the budget. Counts, not times.
SEALED_BATCH_JOBS = 5
DELTA_SEALED_JOBS = 5
DELTA_GROWING_JOBS = 9
BUDGET_QUERIES = {"a": "merge spark", "b": "window", "c": "spark join plan"}


def jobs_of(spark, tag: str, run) -> int:
    """Spark jobs that ``run()`` starts on this thread."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(tag))


@pytest.fixture(scope="module")
def budget_index(spark, tmp_path_factory):
    """A private sealed index over SF (the memoized one may carry a
    growing segment from another test)."""
    from bm25spark.api import index_for_parquet

    base = str(tmp_path_factory.mktemp("budget"))
    return index_for_parquet(
        spark, f"{SF}/documents.parquet", "text", ["doc_id"], base_dir=base
    ).index_dir


def test_sealed_batch_search_job_budget(spark, budget_index):
    from bm25spark.distributed import search_distributed_batch

    for i in range(2):  # the first call of a session runs no extra job
        n = jobs_of(
            spark, f"budget-sealed-{i}",
            lambda: search_distributed_batch(
                spark, budget_index, BUDGET_QUERIES, 5
            ).collect(),
        )
        assert n <= SEALED_BATCH_JOBS, n


def test_delta_batch_search_job_budgets(spark, budget_index, tmp_path):
    import shutil

    from bm25spark.maintain import delete, insert, search_with_delta_batch_df

    d = str(tmp_path / "idx")
    shutil.copytree(budget_index, d)

    def search():
        search_with_delta_batch_df(spark, d, BUDGET_QUERIES, 5, "text").collect()

    n = jobs_of(spark, "budget-delta-sealed", search)
    assert n <= DELTA_SEALED_JOBS, n
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    insert(
        spark, d,
        docs.limit(20).select((F.col("doc_id") + 100000).alias("doc_id"), "text"),
        "text",
    )
    delete(spark, d, docs.limit(5).select("doc_id"))
    n = jobs_of(spark, "budget-delta-growing", search)
    assert n <= DELTA_GROWING_JOBS, n
