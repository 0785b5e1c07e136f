#!/usr/bin/env python
"""Per-operator measurement harness for the optimization rounds
(guide §1: measure first, noop-sink isolation, labeled jobs, plan
capture). NOT the driver bench — ``bench.py`` stays frozen; this file
exists so every optimization claim in OPTIMIZATION_r07.md has an
isolated number and a committed ``.explain("formatted")`` behind it.

Usage:
  python bench_extra.py [leg ...]            # time legs (all when none)
  python bench_extra.py --plans DIR [leg ..] # also dump explain() files
  python bench_extra.py --mult 10 [leg ...]  # replicate docs N× first
                                             # (approximates the driver's
                                             # escalated sf without new data)

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default: the host's CPU count), BM25SPARK_BENCH_REPEATS (default 3).

Each leg times the *computation* via a noop sink where the public API
returns a DataFrame; legs that are driver-side kernels (wand) or
multi-job pipelines (build) time the call itself, like bench.py does.
"""

from __future__ import annotations

import os
import shutil
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    repeats = max(1, int(os.environ.get("BM25SPARK_BENCH_REPEATS", "3")))

    args = [a for a in sys.argv[1:]]
    plans_dir = None
    mult = 1
    if "--plans" in args:
        i = args.index("--plans")
        plans_dir = args[i + 1]
        del args[i : i + 2]
    if "--mult" in args:
        i = args.index("--mult")
        mult = int(args[i + 1])
        del args[i : i + 2]
    only = set(args) or None

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from pyspark.sql import functions as F

    from bm25spark.datapipe import bpe, dedup, similarity, textstats
    from bm25spark.query import exact_topk, release_caches
    from bm25spark.session import get_spark

    spark = get_spark("bm25spark-bench-extra", cores=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_docs = docs.count()
    if mult > 1:
        work = "/tmp/bm25spark-bench-extra"
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        reps = F.array(*[F.lit(i) for i in range(mult)])
        (
            docs.withColumn("r", F.explode(reps))
            .select(
                (F.col("doc_id") + F.col("r") * F.lit(n_docs)).alias("doc_id"),
                "text",
            )
            .write.parquet(f"{work}/docs.parquet")
        )
        docs = spark.read.parquet(f"{work}/docs.parquet")
        n_emb = emb.count()
        (
            emb.withColumn("r", F.explode(reps))
            .select(
                (F.col("vec_id") + F.col("r") * F.lit(n_emb)).alias("vec_id"),
                "embedding",
            )
            .write.parquet(f"{work}/emb.parquet")
        )
        emb = spark.read.parquet(f"{work}/emb.parquet")

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    LEGS = {
        "dedup_substring_spans": lambda: noop(dedup.substring_dup_spans(docs)),
        "dedup_minhash_pairs": lambda: noop(dedup.minhash_candidate_pairs(docs)),
        "dedup_minhash_signatures": lambda: noop(dedup.minhash_signatures(docs)),
        "text_stats": lambda: noop(textstats.text_stats(docs)),
        "ann_cosine_topk": lambda: noop(similarity.ann_cosine_topk(emb)),
        "ann_pq_topk": lambda: noop(similarity.ann_pq_topk(emb)),
        "ann_ivfpq_topk": lambda: noop(similarity.ann_ivfpq_topk(emb)),
        "bpe_train16": lambda: noop(bpe.bpe_train(docs, n_merges=16)),
        "exact_q_multi": lambda: noop(
            exact_topk(spark, docs, "text", "doc_id", "merge spark window", 10)
        ),
    }

    def _persisted_ids() -> set:
        try:
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            return {int(k) for k in jmap.keySet().toArray()}
        except Exception:
            return set()

    def _release_since(before: set) -> None:
        release_caches()
        dedup.release_caches()
        try:
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            for k in jmap.keySet().toArray():
                if int(k) not in before:
                    jmap.get(k).unpersist()
        except Exception:
            spark.catalog.clearCache()

    results = {}
    for name, fn in LEGS.items():
        if only and name not in only:
            continue
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        before = _persisted_ids()
        fn()  # warm: codegen compile
        samples = []
        for _ in range(repeats):
            _release_since(before)
            t0 = time.perf_counter()
            fn()
            samples.append(time.perf_counter() - t0)
        _release_since(before)
        spark.sparkContext.setJobDescription(None)
        results[name] = (
            round(min(samples), 3),
            round(max(samples) / max(min(samples), 1e-9), 2),
        )
        print(f"{name:28s} min={results[name][0]:8.3f}s noise={results[name][1]}")

    if plans_dir:
        os.makedirs(plans_dir, exist_ok=True)
        PLANNED = {
            "dedup_substring_spans": lambda: dedup.substring_dup_spans(docs),
            "dedup_minhash_pairs": lambda: dedup.minhash_candidate_pairs(docs),
            "text_stats": lambda: textstats.text_stats(docs),
            "ann_cosine_topk": lambda: similarity.ann_cosine_topk(emb),
            "exact_q_multi": lambda: exact_topk(
                spark, docs, "text", "doc_id", "merge spark window", 10
            ),
        }
        for name, fn in PLANNED.items():
            if only and name not in only:
                continue
            df = fn()
            p = os.path.join(plans_dir, f"{name}.txt")
            with open(p, "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                ))
            _release_since(set())
            print(f"plan -> {p}")

    total = round(sum(v[0] for v in results.values()), 3)
    print(f"TOTAL {total}s over {len(results)} legs (sf={sf_dir}, mult={mult})")


if __name__ == "__main__":
    main()
