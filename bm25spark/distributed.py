"""Distributed top-k: one kernel task per doc-shard, global merge.

The scale form of the query path (SURVEY.md §2.7 Q1 "distributed
form"): term statistics broadcast from the driver (they are global —
idf/avgdl must not vary per task), posting blocks of the query terms
grouped by shard, the vectorized taat kernel run inside each task over
its shard's blocks + fieldnorm slice, per-shard top-k unioned, cut
per query by a window (so the payload join broadcasts M*k rows
whatever the shard count) and ordered in one task. Per-shard
thresholds start at 0 so the union provably contains the global
top-k. A single query is a batch of one. Only the query terms' bucket
directories are opened, under a named schema: no listing or
schema-inference job runs.

Work per task is bounded by shard_size regardless of term skew — the
same property the build's (term, shard) grouping gives — so a 1000-
executor cluster serves a hot-term query by fanning exactly the hot
term's shards out, not by melting one task.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .index import Bm25Index
from .scoring import Cache
from .wand import TermPostings, _bytes_of, prune_blocks_batch, taat_topk_batch

#: decode pruning pays when the blocks it can skip are expensive to
#: decompress; below this many packed posting bytes per shard task the
#: vectorized decode is cheaper than the block-metadata pass, so the
#: shard task decodes everything (both paths are exact — this is a
#: pure latency knob; ``prune_min_bytes=0`` forces the pruned path).
PRUNE_MIN_BYTES = 256 << 10


def _shard_fieldnorms(
    docs_path: str, shard: int, shard_size: int
) -> np.ndarray:
    """One shard's uint8 fieldnorms indexed by shard-local id
    (row-group-pruned Arrow read of the docs artifact)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    base = shard * shard_size
    d = ds.dataset(docs_path, format="parquet")
    t = d.to_table(
        columns=["doc_id", "fieldnorm"], filter=pc.field("shard") == shard
    )
    ids = np.asarray(t["doc_id"])
    arr = np.zeros(shard_size, dtype=np.uint8)
    arr[ids - base] = np.asarray(t["fieldnorm"]).astype(np.uint8)
    return arr


def _termpostings_from_blocks(
    pdf: "pd.DataFrame",
    base: int,
    term_info: dict,
    n_docs: int,
    avgdl: float,
    k1: float,
    b: float,
) -> dict:
    """Assemble one shard's block rows into TermPostings in
    shard-local ids (global id - ``base``), keyed by term key in
    ascending key order.
    ``term_info``: key -> (df, wand_fn, wand_tf)."""
    pdf = pdf.sort_values(["term_key", "block_ord"], kind="stable")
    out: dict = {}
    for term_key, g in pdf.groupby("term_key", sort=True):
        bkey = bytes(term_key)
        df_, wfn, wtf = term_info[bkey]
        out[bkey] = TermPostings(
            cache=Cache(n_docs, df_, k1, b, avgdl),
            wand_fn=int(wfn),
            wand_tf=int(wtf),
            min_doc=g["min_doc"].to_numpy(np.int64) - base,
            max_doc=g["max_doc"].to_numpy(np.int64) - base,
            count=g["count"].to_numpy(np.int64),
            block_fn=g["wand_fn"].to_numpy(np.int64),
            block_tf=g["wand_tf"].to_numpy(np.int64),
            ids_meta=g["ids_meta"].tolist(),
            ids_bytes=[bytes(x) for x in g["ids_bytes"]],
            tfs_meta=g["tfs_meta"].tolist(),
            tfs_bytes=[bytes(x) for x in g["tfs_bytes"]],
            shard_base=np.zeros(len(g), dtype=np.int64),
        )
    return out


def _allowlist_frames(
    idx: Bm25Index,
    prefilter: DataFrame | None,
    blocked: DataFrame | None,
    shard_size: int,
) -> tuple[DataFrame | None, bool]:
    """P3/P4 routing for the distributed path: returns
    ``(allowed_df, mask_blocklist)`` where ``allowed_df`` is a
    per-shard (shard, doc_id) frame to cogroup into the kernel tasks.

    Prefilter (allowlist, P3): allowed *payload keys* are resolved to
    internal ids via a semi-join against the docs artifact. Blocked
    (blocklist, P4): tombstoned *internal ids* ship directly — the
    shard is derivable from the dense id, so the cogroup cost is
    O(tombstones), never O(n_docs). Both set: blocked ids are removed
    from the allowlist."""
    if prefilter is not None:
        pc = idx.payload_cols
        allowed_df = (
            idx.docs_df()
            .join(
                prefilter.select(*[F.col(c).alias(f"p_{c}") for c in pc]),
                [f"p_{c}" for c in pc],
                "left_semi",
            )
            .select("shard", "doc_id")
        )
        if blocked is not None:
            allowed_df = allowed_df.join(
                blocked.select("doc_id").distinct(), "doc_id", "left_anti"
            )
        return allowed_df, False
    if blocked is not None:
        allowed_df = (
            blocked.select(F.col("doc_id").cast("bigint").alias("doc_id"))
            .distinct()
            .select(
                (F.col("doc_id") / shard_size).cast("int").alias("shard"),
                "doc_id",
            )
        )
        return allowed_df, True
    return None, False


def search_distributed(
    spark: SparkSession,
    index_dir: str,
    query_text: str,
    k: int,
    round_score: int | None = 4,
    prefilter: DataFrame | None = None,
    blocked: DataFrame | None = None,
    prune_min_bytes: int | None = None,
) -> DataFrame:
    """-> DataFrame (payload cols..., score), best-first: one query as
    a batch of one through :func:`search_distributed_batch` (same
    options, same results)."""
    return search_distributed_batch(
        spark,
        index_dir,
        {"_": query_text},
        k,
        round_score=round_score,
        prefilter=prefilter,
        blocked=blocked,
        prune_min_bytes=prune_min_bytes,
    ).drop("query_id")


def search_distributed_batch(
    spark: SparkSession,
    index_dir: str,
    queries: dict[str, str],
    k: int,
    round_score: int | None = 4,
    prefilter: DataFrame | None = None,
    blocked: DataFrame | None = None,
    prune_min_bytes: int | None = None,
) -> DataFrame:
    """Distributed top-k: M queries answered by one fixed set of Spark
    jobs, whatever M (5: AQE runs each exchange stage as a job) — the
    one sealed-segment serving path (:func:`search_distributed` is a
    batch of one).

    Per-query job-scheduling overhead amortizes across the batch, each
    shard task reads its posting blocks once (the union of all
    queries' terms, still bucket/key-pruned), decodes each term once,
    and runs the taat kernel once per query against the shared decoded
    arrays. The per-shard output is O(M * k) rows; the global cut is a
    window per query_id and the payload join broadcasts the M*k-row
    side.

    ``queries``: {query_id: query_text}. Returns
    (query_id, payload cols..., score), ordered by
    (query_id, score desc, payload cols).

    ``prune_min_bytes``: per-shard packed-byte threshold below which
    the decode pre-cut is skipped (None = PRUNE_MIN_BYTES; 0 = always
    prune). Both paths are exact.

    ``prefilter``: optional DataFrame of allowed *payload key* rows —
    the reference's bm25.prefilter (P3). ``blocked``: optional
    DataFrame of tombstoned *internal doc ids* (one ``doc_id`` column)
    — the reference's deleted-filter (P4, bulkdelete.rs:20-112), which
    it applies on *every* scan (search.rs:112-118). Both route to their
    shard's task through one cogroup (see :func:`_allowlist_frames`);
    one shared mask is built per shard task and applied to every query
    in the batch, so the cost is O(tombstones), never O(n_docs) on the
    driver.
    """
    idx = Bm25Index(spark, index_dir)
    qterms, stats = _analyze_batch(idx, queries)
    return _ordered_by_query(
        _sealed_topk_df(
            idx, qterms, stats, k, round_score, prefilter, blocked,
            prune_min_bytes,
        ),
        idx.payload_cols,
    )


def _analyze_batch(
    idx: Bm25Index, queries: dict[str, str]
) -> tuple[dict[str, list[bytes]], dict[bytes, dict]]:
    """ONE analyze pass + ONE batched dictionary read for M queries ->
    ``(qterms, stats)``: ``qterms`` maps each query id with at least
    one indexed term to its indexed term keys in query order (absent
    terms are skipped); ``stats`` is the dictionary row of every
    indexed key."""
    qkeys = {qid: idx.query_keys(text) for qid, text in queries.items()}
    stats = idx.term_stats(sorted({key for ks in qkeys.values() for key in ks}))
    qterms = {
        qid: [key for key in keys if key in stats] for qid, keys in qkeys.items()
    }
    return {qid: keys for qid, keys in qterms.items() if keys}, stats


def _top_per_query(df: DataFrame, k: int, *order) -> DataFrame:
    """Each query's first ``k`` rows by ``order``."""
    w = Window.partitionBy("query_id").orderBy(*order)
    return df.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k
    ).drop("_rn")


def _ordered_by_query(
    df: DataFrame, payload_cols: list[str], k: int | None = None
) -> DataFrame:
    """Order a (query_id, payload cols..., score) result of a few M*k
    rows by (query_id, score desc, payload cols) in ONE task: a global
    ``orderBy`` would first run a range-partition sampling job over
    these few rows. ``repartition`` (not ``coalesce``) keeps the
    upstream docs scan of the payload join parallel. With ``k``, each
    query is first cut to its k best in that same task: a window over
    one partition adds no exchange."""
    order = [F.desc("score"), *payload_cols]
    df = df.repartition(1)
    if k is not None:
        df = _top_per_query(df, k, *order)
    return df.sortWithinPartitions("query_id", *order)


def _sealed_topk_df(
    idx: Bm25Index,
    qterms: dict[str, list[bytes]],
    stats: dict[bytes, dict],
    k: int,
    round_score: int | None,
    prefilter: DataFrame | None,
    blocked: DataFrame | None,
    prune_min_bytes: int | None,
) -> DataFrame:
    """:func:`search_distributed_batch` before the final ordering, over
    an :func:`_analyze_batch` result."""
    out_cols = "query_id STRING, doc_id BIGINT, score DOUBLE"
    if not qterms:
        return idx.empty_df(with_query_id=True)
    present = sorted({key for keys in qterms.values() for key in keys})

    n_docs, avgdl, k1, b = idx.n_docs, idx.avgdl, idx.k1, idx.b
    shard_size = idx.shard_size
    docs_path = idx._path("docs")
    term_info = {
        key: (stats[key]["df"], stats[key]["wand_fn"], stats[key]["wand_tf"])
        for key in present
    }
    # per-shard over-fetch: the shard heap cuts on *unrounded* scores,
    # but the global cut orders by (rounded score, doc_id) — a doc
    # whose raw score trails the k-th but rounds equal to it (and has a
    # smaller doc_id) must survive the shard cut, so fetch k+slack per
    # shard exactly like Bm25Index.search_df does
    k_fetch = k + (128 if round_score is not None else 0)
    prune_gate = PRUNE_MIN_BYTES if prune_min_bytes is None else prune_min_bytes
    blocks = (
        idx.postings_df(idx._buckets(present))
        .filter(F.col("term_key").isin([bytearray(x) for x in present]))
        .select(
            "term_key", "shard", "block_ord", "min_doc", "max_doc", "count",
            "wand_fn", "wand_tf", "ids_meta", "ids_bytes", "tfs_meta", "tfs_bytes",
        )
    )

    allowed_df, mask_blocklist = _allowlist_frames(
        idx, prefilter, blocked, shard_size
    )

    # the task's inputs ride in its closure, not an explicit broadcast
    # that would outlive the call (PySpark broadcasts a command over
    # 1 MiB by itself)
    def run_shard_batch(key, pdf, allowed_pdf=None):
        shard = int(key[0])
        base = shard * shard_size
        fns = _shard_fieldnorms(docs_path, shard, shard_size)
        tps = _termpostings_from_blocks(
            pdf, base, term_info, n_docs, avgdl, k1, b
        )
        allowed_mask = None
        if allowed_pdf is not None:
            # ONE shard-local mask shared by every query in the batch:
            # allowlist = prefilter (P3), blocklist = tombstones (P4).
            # A blocklist mask starts all-true and only the listed ids
            # are masked out, so a shard with few tombstones costs
            # O(tombstones) rows through the cogroup. An empty right
            # side means "allow everything" for a blocklist and "allow
            # nothing" for an allowlist — both fall out of the fill
            ids = allowed_pdf["doc_id"].to_numpy(np.int64) - base
            allowed_mask = np.full(shard_size, mask_blocklist)
            allowed_mask[ids[(ids >= 0) & (ids < shard_size)]] = (
                not mask_blocklist
            )
        # decode each term ONCE and reuse it for every query's kernel
        # run; above the size gate, single-term queries first skip the
        # blocks that provably cannot reach their top-k (see
        # prune_blocks_batch; results stay bit-identical)
        if sum(_bytes_of(t) for t in tps.values()) >= prune_gate:
            tps, _ = prune_blocks_batch(
                tps, qterms, fns, k_fetch, allowed_mask=allowed_mask
            )
        else:
            for tp in tps.values():
                tp.decoded = tp.decode_all()  # decode ONCE, reuse per query
        out = pd.DataFrame(
            taat_topk_batch(tps, qterms, fns, k_fetch, allowed_mask=allowed_mask),
            columns=["query_id", "doc_id", "score"],
        )
        out["doc_id"] += base
        return out

    if allowed_df is None:
        def run_batch_grouped(key, pdf):
            return run_shard_batch(key, pdf, None)

        per_shard = blocks.groupBy("shard").applyInPandas(
            run_batch_grouped, out_cols
        )
    else:
        def run_batch_cogrouped(key, left: pd.DataFrame, right: pd.DataFrame):
            if left.empty:
                return pd.DataFrame(columns=["query_id", "doc_id", "score"])
            return run_shard_batch(key, left, right)

        per_shard = (
            blocks.groupBy("shard")
            .cogroup(allowed_df.groupBy("shard"))
            .applyInPandas(run_batch_cogrouped, out_cols)
        )
    score_col = (
        F.round(F.col("score"), round_score)
        if round_score is not None
        else F.col("score")
    )
    topk = _top_per_query(
        per_shard.select("query_id", "doc_id", score_col.alias("score")),
        k, F.desc("score"), F.asc("doc_id"),
    )
    # J3: payload join on the dense id (internal id aliased so a
    # payload column may itself be named doc_id)
    docs = idx.docs_df().select(
        F.col("doc_id").alias("_iid"),
        *[F.col(f"p_{c}") for c in idx.payload_cols],
    )
    return (
        # M*k-row side broadcast: the docs artifact is never shuffled
        # for the payload lookup, only scanned
        docs.join(F.broadcast(topk), topk["doc_id"] == docs["_iid"])
        .select(
            "query_id",
            *[F.col(f"p_{c}").alias(c) for c in idx.payload_cols],
            topk["score"],
        )
    )
