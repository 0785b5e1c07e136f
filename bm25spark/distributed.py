"""Distributed top-k: one kernel task per doc-shard, global merge.

The scale form of the query path (SURVEY.md §2.7 Q1 "distributed
form"): term statistics broadcast from the driver (they are global —
idf/avgdl must not vary per task), posting blocks of the query terms
grouped by shard, the vectorized taat kernel run inside each task over
its shard's blocks + fieldnorm slice. The same task labels each query's
shard top-k with its payload columns (J3, address_documents.rs) from
the docs rows it reads for the fieldnorms, and returns finished rows as
Arrow; the union is cut per query and ordered in one task, so the docs
artifact is never scanned or joined by Spark. Per-shard thresholds
start at 0 so the union provably contains the global top-k. A single
query is a batch of one. Only the query terms' bucket directories are
opened, under a named schema: no listing or schema-inference job runs.

Work per task is bounded by shard_size regardless of term skew — the
same property the build's (term, shard) grouping gives — so a 1000-
executor cluster serves a hot-term query by fanning exactly the hot
term's shards out, not by melting one task.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import LongType

from .artifacts import postings_by_key
from .index import Bm25Index
from .scoring import Cache
from .wand import TermPostings, _bytes_of, prune_blocks_batch, taat_topk_batch

#: decode pruning pays when the blocks it can skip are expensive to
#: decompress; below this many packed posting bytes per shard task the
#: vectorized decode is cheaper than the block-metadata pass, so the
#: shard task decodes everything (both paths are exact — this is a
#: pure latency knob; ``prune_min_bytes=0`` forces the pruned path).
PRUNE_MIN_BYTES = 256 << 10


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
        cols = idx.payload_cols
        allowed_df = (
            idx.docs_df()
            .join(
                prefilter.select(*[F.col(c).alias(f"p_{c}") for c in cols]),
                [f"p_{c}" for c in cols],
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
    jobs, whatever M (3: AQE runs the postings scan, the shard tasks
    and the final one-task cut as one job each) — the one
    sealed-segment serving path (:func:`search_distributed` is a batch
    of one).

    Per-query job-scheduling overhead amortizes across the batch, each
    shard task reads its posting blocks once (the union of all
    queries' terms, still bucket/key-pruned), decodes each term once,
    and runs the taat kernel once per query against the shared decoded
    arrays. The per-shard output is O(M * k) finished rows, payloads
    included; the global cut by (score desc, internal id) runs in the
    one task that orders the result.

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
    if not qterms:
        return idx.empty_df(with_query_id=True)
    # per-shard over-fetch: the shard heap cuts on *unrounded* scores,
    # but the global cut orders by (rounded score, doc_id) — a doc
    # whose raw score trails the k-th but rounds equal to it (and has a
    # smaller doc_id) must survive the shard cut, so fetch k+slack per
    # shard exactly like Bm25Index.search_df does
    k_fetch = k + (128 if round_score is not None else 0)
    rows = _sealed_topk_df(
        idx, qterms, stats, k_fetch, prefilter, blocked, prune_min_bytes
    )
    iid = _iid_name(idx.payload_cols)
    return _ordered_by_query(
        _rounded(rows, round_score), idx.payload_cols, k, tiebreak=[iid]
    ).drop(iid)


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


def _iid_name(payload_cols: list[str]) -> str:
    """The name of the internal-id column beside the payload columns of
    a sealed result row: ``_iid``, prefixed until no payload column
    has it."""
    name = "_iid"
    while name in payload_cols:
        name = "_" + name
    return name


def _rounded(df: DataFrame, round_score: int | None) -> DataFrame:
    """``df`` with its ``score`` rounded to ``round_score`` places."""
    if round_score is None:
        return df
    return df.withColumn("score", F.round("score", round_score))


def _ordered_by_query(
    df: DataFrame,
    payload_cols: list[str],
    k: int,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Cut each query of a (query_id, payload cols..., score) result to
    its ``k`` best by (score desc, ``tiebreak``; payload cols by
    default) and order it by (query_id, score desc, payload cols), in
    ONE task: a global ``orderBy`` would first run a range-partition
    sampling job over these few rows, and a window over one partition
    adds no exchange. ``repartition`` (not ``coalesce``) keeps the
    upstream shard tasks parallel."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), *(tiebreak or payload_cols)
    )
    return (
        df.repartition(1)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
        .sortWithinPartitions("query_id", F.desc("score"), *payload_cols)
    )


def _sealed_topk_df(
    idx: Bm25Index,
    qterms: dict[str, list[bytes]],
    stats: dict[bytes, dict],
    k_fetch: int,
    prefilter: DataFrame | None,
    blocked: DataFrame | None,
    prune_min_bytes: int | None,
) -> DataFrame:
    """Each shard's raw-score top ``k_fetch`` per query over a non-empty
    :func:`_analyze_batch` result, as finished rows
    (query_id, payload cols..., score, internal id named
    :func:`_iid_name`), uncut across shards and unordered."""
    present = sorted({key for keys in qterms.values() for key in keys})

    n_docs, avgdl, k1, b = idx.n_docs, idx.avgdl, idx.k1, idx.b
    shard_size = idx.shard_size
    docs_path = idx._path("docs")
    p_cols = [f"p_{c}" for c in idx.payload_cols]
    out_schema = idx.result_schema(with_query_id=True).add(
        _iid_name(idx.payload_cols), LongType()
    )
    arrow_schema = to_arrow_schema(out_schema)
    term_info = {
        key: (stats[key]["df"], stats[key]["wand_fn"], stats[key]["wand_tf"])
        for key in present
    }
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
    # 1 MiB by itself); each task unpickles its own ``opened``, so the
    # docs dataset is discovered once per task and never outlives it
    opened: dict = {}

    def run_shard_batch(key, blocks_t: pa.Table, allowed_t: pa.Table | None):
        shard = key[0].as_py()
        base = shard * shard_size
        if not opened:
            opened["docs"] = ds.dataset(docs_path, format="parquet")
        # ONE read of this shard's docs rows: fieldnorms by local id,
        # and the payload row of every local id
        docs = opened["docs"].to_table(
            columns=["doc_id", "fieldnorm", *p_cols],
            filter=pc.field("shard") == shard,
        )
        local = np.asarray(docs["doc_id"]) - base
        fns = np.zeros(shard_size, dtype=np.uint8)
        fns[local] = np.asarray(docs["fieldnorm"]).astype(np.uint8)
        row_of = np.zeros(shard_size, dtype=np.int64)
        row_of[local] = np.arange(len(local))
        tps = {}
        for tkey, p in postings_by_key(blocks_t, shard_size, base).items():
            df_, wfn, wtf = term_info[tkey]
            tps[tkey] = TermPostings(
                cache=Cache(n_docs, df_, k1, b, avgdl),
                wand_fn=int(wfn),
                wand_tf=int(wtf),
                **p,
            )
        allowed_mask = None
        if allowed_t is not None:
            # ONE shard-local mask shared by every query in the batch:
            # allowlist = prefilter (P3), blocklist = tombstones (P4).
            # A blocklist mask starts all-true and only the listed ids
            # are masked out, so a shard with few tombstones costs
            # O(tombstones) rows through the cogroup. An empty right
            # side means "allow everything" for a blocklist and "allow
            # nothing" for an allowlist — both fall out of the fill
            ids = np.asarray(allowed_t["doc_id"], dtype=np.int64) - base
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
        hits = taat_topk_batch(tps, qterms, fns, k_fetch, allowed_mask=allowed_mask)
        if not hits:
            return arrow_schema.empty_table()
        qids, hit_local, scores = zip(*hits)
        hit_local = np.asarray(hit_local, dtype=np.int64)
        return pa.Table.from_arrays(
            [
                pa.array(qids, pa.string()),
                *docs.select(p_cols).take(row_of[hit_local]).columns,
                pa.array(scores, pa.float64()),
                pa.array(hit_local + base),
            ],
            names=out_schema.fieldNames(),
        ).cast(arrow_schema)

    if allowed_df is None:
        def run_batch_grouped(key, blocks_t):
            return run_shard_batch(key, blocks_t, None)

        return blocks.groupBy("shard").applyInArrow(run_batch_grouped, out_schema)

    def run_batch_cogrouped(key, blocks_t, allowed_t):
        if not blocks_t.num_rows:
            return arrow_schema.empty_table()
        return run_shard_batch(key, blocks_t, allowed_t)

    return (
        blocks.groupBy("shard")
        .cogroup(allowed_df.groupBy("shard"))
        .applyInArrow(run_batch_cogrouped, out_schema)
    )
