"""Distributed index build — the reference's `CREATE INDEX … USING
bm25` lifecycle (SURVEY.md §3.1; /root/reference/crates/bm25/src/
build.rs:22-71, src/index/bm25/am/am_build.rs:128-315) restated as a
sequence of Spark jobs with checkpoint/resume at stage granularity and
per-shard lineage rows.

Pipeline (thread/node boundaries in the reference = shuffles here):

1. ``docs``     scan source -> tokenize+intern (one fused Arrow UDF,
                narrow) -> deterministic dense doc-id assignment
                (global sort order by a caller-chosen unique key; ids
                are identical at any parallelism — *stronger* than the
                reference, which is single-machine-deterministic only)
                -> docs artifact (id, fieldnorm, doc_len, payload,
                content sha256) + mappings staging table.
2. ``stats``    N, Σdl  (flush.rs:49-66) -> part of meta.
3. ``postings`` doc-grouped rows (one per document: term keys, tfs,
                shard = id // shard_size, local id, fieldnorm) ->
                shuffle on shard -> per-(term, shard) block
                construction (128-posting chunks, delta bitpack,
                block-max WAND metadata; flush.rs:78-125) -> postings
                artifact, directory-partitioned by crc32(term_key)
                bucket.
4. ``terms``    per-term df + WAND argmax merged across shards with
                the Wand::extend monoid (bm25.rs:319-325) -> terms
                artifact (the broadcast dictionary).
5. ``meta``     meta.json written last = atomic publish
                (build.rs:60-70 writes jump+meta last for the same
                crash-atomicity).

Scale notes (designed for ~10^12 docs / 1000 executors, tested on
local[N]):
- The only global-sequential step, doc-id assignment, is two passes:
  per-partition counts (collect of P longs) + prefix-sum offsets
  (mirrors the reference's per-segment offset re-basing, io.rs:244-282).
- Skew: stop-word-like terms have postings far larger than one task.
  Sharding on id ranges splits *every* term's postings at shard
  boundaries (shard = doc-partitioned index, the standard distributed
  IR layout), so the build group and the query task for a hot term are
  both bounded by shard_size; block streams stay doc-id-ordered
  because shards are contiguous id ranges, and per-term stats merge
  monoidally (the north rule's "salted shuffle on skewed terms").
- Posting doc-ids are stored shard-relative (u32), so a corpus may
  exceed 2^32 docs even though each block stays in the reference's
  u32 domain (the reference has the same cap per segment, io.rs:52-57).
"""

from __future__ import annotations

import json
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from . import fs as fsio
from . import packing
from .analyze import analyzer_fingerprint as _analyzer_fingerprint
from .artifacts import read_parquet
from .config import BLOCK_SIZE, FORMAT_MAGIC, FORMAT_VERSION, Bm25Config
from .scoring import tf_score
from .udfs import with_doc_terms

POSTINGS_SCHEMA = StructType(
    [
        StructField("term_key", BinaryType(), False),
        StructField("bucket", IntegerType(), False),
        StructField("shard", IntegerType(), False),
        StructField("block_ord", IntegerType(), False),
        StructField("min_doc", LongType(), False),
        StructField("max_doc", LongType(), False),
        StructField("count", IntegerType(), False),
        StructField("wand_fn", IntegerType(), False),
        StructField("wand_tf", IntegerType(), False),
        StructField("block_ub", DoubleType(), False),
        StructField("ids_meta", IntegerType(), False),
        StructField("ids_bytes", BinaryType(), False),
        StructField("tfs_meta", IntegerType(), False),
        StructField("tfs_bytes", BinaryType(), False),
    ]
)


def term_bucket(term_key: bytes, n_buckets: int) -> int:
    """crc32-based bucket; zlib.crc32 == Spark's crc32 (both CRC-32/ISO),
    so driver-side query routing and executor-side writes agree."""
    return zlib.crc32(term_key) % n_buckets


def _stage_done(path: str) -> bool:
    return fsio.exists(fsio.join(path, "_SUCCESS"))


def _ensure_readable_parquet(path: str, schema, subdir: str | None = None) -> None:
    """AQE coalesces an empty frame to zero partitions, so its parquet
    write can produce a directory with no data files — unreadable
    (UNABLE_TO_INFER_SCHEMA) for every later reader. Drop one empty,
    schema-carrying file in (for hive-partitioned artifacts, under a
    synthetic partition dir) so an *empty index* builds, loads and
    searches cleanly — CREATE INDEX on an empty table works in the
    reference and must work here."""
    if fsio.has_parquet_files(path):
        return
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    target = fsio.join(path, subdir) if subdir else path
    fsio.mkdirs(target)
    fs, fpath = fsio.resolve(fsio.join(target, "part-empty.parquet"))
    pq.write_table(
        to_arrow_schema(schema).empty_table(), fpath, filesystem=fs
    )


def _assign_doc_ids(
    spark: SparkSession,
    df: DataFrame,
    order_cols: list[str],
    partitions: int,
    pins: list[int],
    pin_output: bool = False,
) -> DataFrame:
    """Dense deterministic ids 0..N-1 in the global sort order of
    ``order_cols`` (which must be a unique key). Two passes: range
    shuffle + per-partition counts, then offset + local rank — the
    Spark form of the reference's sequential RecordsWriter doc-id
    counter (io.rs:39-67) without the sequential bottleneck.

    The range-shuffled frame is eagerly local-checkpointed *before*
    the counts pass: Spark's RangePartitioner re-samples boundaries on
    every action (seed depends on the RDD id), so without pinning, the
    counts job and the assign job could see different partitionings
    and mint duplicate ids. The *id values* are independent of where
    the sampled boundaries fall — they equal the global rank under
    order_cols — so artifacts stay identical across cluster sizes.

    The id itself is pure JVM (r7 optimization round; previously a
    mapInPandas that shipped every row — including the text column —
    JVM->Python->JVM just to append a counter):
    ``monotonically_increasing_id()`` is partitionId * 2^33 + the
    row's rank within its (checkpoint-pinned, sorted) partition, so
    _iid = offsets[partitionId] + rank recovers exactly the global
    rank the Python pass produced. The offset table is a literal
    array indexed by partition id (O(1) per row).

    The id of every checkpoint RDD is appended to ``pins`` as soon as
    it exists; the caller drops them with :func:`_release_rdds` once
    the frame's consumers have run (they live for the session
    otherwise)."""
    parts = (
        df.repartitionByRange(partitions, *order_cols)
        .sortWithinPartitions(*order_cols)
        .localCheckpoint(eager=True)
    )
    pins.append(_checkpoint_rdd_id(parts))
    counts = (
        parts.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .count()
        .collect()
    )
    by_pid = {r._pid: r["count"] for r in counts}
    if by_pid and max(by_pid.values()) >= (1 << 33):
        raise ValueError(
            "doc-id assignment: a partition exceeds 2^33 rows; raise "
            "id_partitions"
        )
    offsets, acc = [], 0
    for pid in range(parts.rdd.getNumPartitions()):
        offsets.append(acc)
        acc += by_pid.get(pid, 0)

    # _mono materialized in its own projection so partition id and
    # local rank derive from ONE evaluation of the nondeterministic
    # expression
    off_arr = F.array(*[F.lit(o) for o in offsets])
    out = (
        parts.withColumn("_mono", F.monotonically_increasing_id())
        .withColumn(
            "_iid",
            F.get(off_arr, F.shiftrightunsigned(F.col("_mono"), 33).cast("int"))
            + F.col("_mono").bitwiseAND(F.lit((1 << 33) - 1)),
        )
        .drop("_mono")
    )
    if pin_output:
        # second pin: keeps partition ids valid when a later plan (the
        # vacuum union) would merge this projection into a wider
        # stage. The plain build skips it — its next step writes the
        # frame to parquet directly, so no such merge can happen.
        out = out.localCheckpoint(eager=True)
        pins.append(_checkpoint_rdd_id(out))
    return out


def _checkpoint_rdd_id(df: DataFrame) -> int:
    """Id of the persisted RDD behind a ``localCheckpoint``ed frame
    (its analyzed plan is the LogicalRDD over that RDD)."""
    return int(df._jdf.queryExecution().analyzed().rdd().id())


def _release_rdds(spark: SparkSession, rdd_ids: list[int]) -> None:
    """Unpersist exactly these RDDs — never a diff of the session's
    persisted set, which would drop a concurrent caller's pins."""
    persisted = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in rdd_ids:
        rdd = persisted.get(rid)
        if rdd is not None:
            rdd.unpersist()


def _blocks_from_arrays(
    keys: np.ndarray,
    shards: np.ndarray,
    lids: np.ndarray,
    tfs_all: np.ndarray,
    fns_all: np.ndarray,
    k1: float,
    b: float,
    avgdl: float,
    shard_size: int,
    n_buckets: int,
) -> list:
    """Block construction over parallel posting arrays
    (any order): lexsort by (term_key, shard, local_id), find group
    boundaries vectorized, emit 128-posting blocks per (term, shard)
    group — compression + block-max WAND exactly as the reference's
    flush loop (flush.rs:78-125).

    Fully vectorized across groups (r7 optimization round; the
    previous per-group Python loop cost ~150µs x one iteration per
    (term, shard) group — the dominant cost of the postings stage at
    bench scale). Full 128-entry blocks from every group are gathered
    into one (nb, 128) matrix and batch-packed; tail blocks are
    delta'd, width-sized and max-scored with segmented reduceat
    operations, leaving one cheap byte-slice per tail block as the
    only per-group Python work. Output rows are identical to the old
    loop's (order differs — full blocks first — which is irrelevant:
    every consumer sorts or aggregates). Returns a dict of column
    arrays ready for DataFrame assembly."""
    n = len(keys)
    if not n:
        return {c: [] for c in POSTINGS_SCHEMA.fieldNames()}
    # uint64 halves of the 16-byte key: integer lexsort + comparisons
    # (byte order preserved via big-endian views) beat S16 bytes ops
    kb = np.ascontiguousarray(keys).view(np.uint8).reshape(n, 16)
    khi = np.ascontiguousarray(kb[:, :8]).view(">u8").ravel().astype(np.uint64)
    klo = np.ascontiguousarray(kb[:, 8:]).view(">u8").ravel().astype(np.uint64)
    order = np.lexsort((lids, shards, klo, khi))
    keys, shards, lids = keys[order], shards[order], lids[order]
    tfs_all, fns_all = tfs_all[order], fns_all[order]
    khi, klo = khi[order], klo[order]

    change = (
        (khi[1:] != khi[:-1]) | (klo[1:] != klo[:-1]) | (shards[1:] != shards[:-1])
    )
    starts = np.concatenate(([0], np.flatnonzero(change) + 1))
    lens = np.diff(np.concatenate((starts, [n])))
    ids_u32 = lids.astype(np.uint32)
    tfs_u32 = tfs_all.astype(np.uint32)
    scores = tf_score(fns_all, tfs_u32, k1, b, avgdl)

    # per-group metadata; bucket via a per-distinct-key memo (zlib
    # crc32 is ~1µs, vocab per task is small)
    g_shard = shards[starts].astype(np.int64)
    g_base = g_shard * shard_size
    # numpy S16 strips trailing NULs; re-pad — unambiguous because
    # raw interned keys contain no interior NULs and hashed keys end
    # in a forced-nonzero byte (vector.rs:30-32)
    g_keys = [bytes(kk).ljust(16, b"\x00") for kk in keys[starts]]
    bmemo: dict[bytes, int] = {}
    g_bucket = np.empty(len(starts), dtype=np.int64)
    for i, kk in enumerate(g_keys):
        v = bmemo.get(kk)
        if v is None:
            v = bmemo[kk] = term_bucket(kk, n_buckets)
        g_bucket[i] = v

    def _ragged_arange(reps: np.ndarray) -> np.ndarray:
        # [0..reps[0]-1, 0..reps[1]-1, ...]
        total = int(reps.sum())
        out = np.arange(total, dtype=np.int64)
        return out - np.repeat(np.concatenate(([0], np.cumsum(reps)[:-1])), reps)

    cols: dict[str, list] = {c: [] for c in POSTINGS_SCHEMA.fieldNames()}

    # ---- full blocks, batched across ALL groups --------------------------
    n_full_g = lens // BLOCK_SIZE
    fg = np.flatnonzero(n_full_g)
    if len(fg):
        reps = n_full_g[fg]
        fb_group = np.repeat(fg, reps)
        fb_ord = _ragged_arange(reps)
        fb_start = starts[fb_group] + BLOCK_SIZE * fb_ord
        off2d = fb_start[:, None] + np.arange(BLOCK_SIZE)
        ids2d = ids_u32[off2d]
        tfs2d = tfs_u32[off2d]
        sc2d = scores[off2d]
        fn2d = fns_all[off2d]
        am2d = np.argmax(sc2d, axis=1)
        rowsel = np.arange(len(fb_group))
        id_packs = packing.compress_id_blocks(ids2d)
        tf_packs = packing.compress_tf_blocks(tfs2d)
        cols["term_key"].extend(g_keys[g] for g in fb_group)
        cols["bucket"].append(g_bucket[fb_group])
        cols["shard"].append(g_shard[fb_group])
        cols["block_ord"].append(fb_ord)
        cols["min_doc"].append(g_base[fb_group] + ids2d[:, 0])
        cols["max_doc"].append(g_base[fb_group] + ids2d[:, -1])
        cols["count"].append(np.full(len(fb_group), BLOCK_SIZE, dtype=np.int64))
        cols["wand_fn"].append(fn2d[rowsel, am2d])
        cols["wand_tf"].append(tfs2d[rowsel, am2d].astype(np.int64))
        cols["block_ub"].append(sc2d[rowsel, am2d])
        cols["ids_meta"].append(np.array([p[0] for p in id_packs], dtype=np.int64))
        cols["ids_bytes"].extend(p[1] for p in id_packs)
        cols["tfs_meta"].append(np.array([p[0] for p in tf_packs], dtype=np.int64))
        cols["tfs_bytes"].extend(p[1] for p in tf_packs)

    # ---- tail blocks (< 128 postings), segmented-vectorized --------------
    rem = lens - n_full_g * BLOCK_SIZE
    tg = np.flatnonzero(rem)
    if len(tg):
        t_start = starts[tg] + BLOCK_SIZE * n_full_g[tg]
        t_len = rem[tg]
        flat0 = np.concatenate(([0], np.cumsum(t_len)[:-1]))  # group offsets
        tidx = np.repeat(t_start, t_len) + _ragged_arange(t_len)
        pos = _ragged_arange(t_len)
        it = ids_u32[tidx]
        vt = tfs_u32[tidx]
        sct = scores[tidx]
        fnt = fns_all[tidx]
        ids_meta, ids_bytes = packing.compress_tail_blocks(it, t_len, ordered=True)
        tfs_meta, tfs_bytes = packing.compress_tail_blocks(vt, t_len, ordered=False)
        # segmented argmax, first-max tie rule like np.argmax
        gmax = np.maximum.reduceat(sct, flat0)
        grp_rep = np.repeat(np.arange(len(tg)), t_len)
        cand = np.where(sct == gmax[grp_rep], pos, np.int64(1 << 40))
        am = np.minimum.reduceat(cand, flat0)
        am_flat = flat0 + am
        ends = flat0 + t_len
        cols["term_key"].extend(g_keys[g] for g in tg)
        cols["bucket"].append(g_bucket[tg])
        cols["shard"].append(g_shard[tg])
        cols["block_ord"].append(n_full_g[tg])
        cols["min_doc"].append(g_base[tg] + it[flat0])
        cols["max_doc"].append(g_base[tg] + it[ends - 1])
        cols["count"].append(t_len.astype(np.int64))
        cols["wand_fn"].append(fnt[am_flat])
        cols["wand_tf"].append(vt[am_flat].astype(np.int64))
        cols["block_ub"].append(sct[am_flat])
        cols["ids_meta"].append(ids_meta)
        cols["ids_bytes"].extend(ids_bytes)
        cols["tfs_meta"].append(tfs_meta)
        cols["tfs_bytes"].extend(tfs_bytes)

    for c in (
        "bucket", "shard", "block_ord", "min_doc", "max_doc", "count",
        "wand_fn", "wand_tf", "block_ub", "ids_meta", "tfs_meta",
    ):
        cols[c] = (
            np.concatenate(cols[c]) if cols[c] else np.array([], dtype=np.int64)
        )
    return cols


def _build_blocks_docs_fn(cfg: Bm25Config, avgdl: float, n_buckets: int):
    """The block kernel: mapInArrow over *doc-grouped* rows
    hash-clustered by shard (build, resume and vacuum alike).
    Shuffling one compact row per document (term-key/tf arrays +
    per-doc shard/local_id/fieldnorm) instead of one row per posting
    cuts the shuffle volume of the build's only wide stage by ~40% (no
    per-posting repetition of local_id, fieldnorm, shard). The flatten
    back to posting arrays is zero-copy Arrow: list offsets → np.repeat
    for the per-doc columns, fixed-size-binary cast for the 16-byte
    keys."""
    from pyspark.sql.pandas.types import to_arrow_schema

    k1, b = cfg.k1, cfg.b
    shard_size = cfg.shard_size
    schema = to_arrow_schema(POSTINGS_SCHEMA)

    def build(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        tabs = list(batches)
        if not tabs:
            return
        t = pa.Table.from_batches(tabs)
        if t.num_rows == 0:
            return
        tk = t.column("tkeys").combine_chunks()
        lens = pc.list_value_length(tk).to_numpy().astype(np.int64)
        flat = tk.flatten()
        # every interned key is exactly 16 bytes; the cast both
        # validates that and yields a contiguous packed buffer
        fk = flat.cast(pa.binary(16))
        data = np.frombuffer(fk.buffers()[1], dtype="S16",
                             count=fk.offset + len(fk))
        keys = data[fk.offset:]
        tfs_all = (
            t.column("ttfs").combine_chunks().flatten()
            .to_numpy(zero_copy_only=False).astype(np.int64)
        )
        shard_d = t.column("shard").to_numpy().astype(np.int64)
        lid_d = t.column("local_id").to_numpy().astype(np.int64)
        fn_d = t.column("fieldnorm").to_numpy().astype(np.int64)
        cols = _blocks_from_arrays(
            keys,
            np.repeat(shard_d, lens),
            np.repeat(lid_d, lens),
            tfs_all,
            np.repeat(fn_d, lens),
            k1, b, avgdl, shard_size, n_buckets,
        )
        yield pa.RecordBatch.from_pandas(
            pd.DataFrame(cols), schema=schema, preserve_index=False
        )

    return build


def _read_doc_terms(spark: SparkSession, path: str) -> DataFrame:
    """The mappings staging as doc-grouped rows ``(tkeys, ttfs, shard,
    local_id, fieldnorm)`` — one per document, the block kernel's only
    input layout. Staging written before r7 holds one row per posting
    ``(term_key, shard, local_id, tf, fieldnorm)``; it is regrouped
    here at read time. One struct list keeps each document's keys and
    tfs aligned; their order within a document is free (the kernel
    sorts its postings itself)."""
    maps = read_parquet(spark, path)
    if "tkeys" in maps.columns:
        return maps
    return (
        maps.groupBy("shard", "local_id", "fieldnorm")
        .agg(F.collect_list(F.struct("term_key", "tf")).alias("z"))
        .select(
            F.col("z.term_key").alias("tkeys"),
            F.col("z.tf").alias("ttfs"),
            F.col("shard").cast("int").alias("shard"),
            F.col("local_id").cast("int").alias("local_id"),
            F.col("fieldnorm").cast("int").alias("fieldnorm"),
        )
    )


def _write_postings(
    doc_terms: DataFrame,
    postings_path: str,
    cfg: Bm25Config,
    avgdl: float,
) -> None:
    """Stage 3: shuffle the doc-grouped rows on shard (a shard holds
    complete (term, shard) groups), build blocks per task, then cluster
    the blocks by term bucket for the directory-partitioned write. The
    shard exchange names no partition count, so AQE coalesces it to the
    data: an explicit count would run a Python task per partition, most
    of them empty when shards are few."""
    blocks = doc_terms.repartition("shard").mapInArrow(
        _build_blocks_docs_fn(cfg, avgdl, cfg.term_buckets),
        POSTINGS_SCHEMA,
    )
    (
        blocks.repartition("bucket")
        .sortWithinPartitions("term_key", "shard", "block_ord")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(postings_path)
    )
    _ensure_readable_parquet(
        postings_path,
        StructType([f for f in POSTINGS_SCHEMA.fields if f.name != "bucket"]),
        subdir="bucket=0",
    )


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    text_col: str,
    order_cols: list[str],
    payload_cols: list[str] | None = None,
    cfg: Bm25Config | None = None,
    resume: bool = False,
    id_partitions: int | None = None,
) -> str:
    """Build the full index artifact set under ``index_dir``.

    ``order_cols`` must be a unique key of ``docs``; it defines the
    (deterministic) dense doc-id order. ``payload_cols`` are carried
    into the docs artifact and returned by searches (default:
    order_cols).
    """
    cfg = cfg or Bm25Config()
    payload_cols = payload_cols or list(order_cols)

    docs_path = fsio.join(index_dir, "docs")
    maps_path = fsio.join(index_dir, "mappings")

    if not resume and fsio.exists(index_dir):
        fsio.rmtree(index_dir)
    fsio.mkdirs(index_dir)

    if resume and _stage_done(docs_path) and _stage_done(maps_path):
        return finalize_index(spark, index_dir, cfg, payload_cols, resume=True)

    # ---- stage 1: docs + mappings staging -------------------------------
    # the id-assignment checkpoints and the tokenized cache are dropped
    # on every exit: left behind, repeated builds in one session
    # accumulate dead blocks in the storage pool and evict live caches
    pins: list[int] = []
    with_ids = None
    try:
        src = docs.filter(F.col(text_col).isNotNull())
        keep = list(dict.fromkeys([*order_cols, *payload_cols, text_col]))
        src = src.select(*keep)
        # payloads are stored under p_<name> so they can never collide
        # with the engine's internal doc_id column
        for c in payload_cols:
            src = src.withColumn(f"p_{c}", F.col(c))
        n_rows_hint = id_partitions or max(
            spark.sparkContext.defaultParallelism, 32
        )
        # ids are a function of order_cols only — assign them *before*
        # tokenizing so the counts pass doesn't run the analyzer UDF
        # (tokenization then happens exactly once, under the persist)
        assigned = _assign_doc_ids(spark, src, order_cols, n_rows_hint, pins)
        with_ids = with_doc_terms(assigned, text_col, cfg.analyzer, cfg.seed)
        with_ids = (
            with_ids.withColumn(
                "shard", (F.col("_iid") / cfg.shard_size).cast("int")
            )
            .withColumn(
                "local_id",
                # int: shard_size <= 2^31 (u32 posting domain) — half
                # the staging width of a long
                (F.col("_iid") % cfg.shard_size).cast("int"),
            )
            .withColumn("content_sha256", F.sha2(F.col(text_col), 256))
            # quantize once per document, into the staging row
            .withColumn("fieldnorm", _fieldnorm_expr())
            # the raw text is fully consumed (terms + sha) — keep it
            # out of the cache, it is by far the widest column
            .drop(text_col)
        )
        with_ids.persist()

        docs_art = with_ids.select(
            F.col("_iid").alias("doc_id"),
            "shard",
            "local_id",
            F.col("doc_len").cast("long").alias("doc_len"),
            "fieldnorm",
            "content_sha256",
            *[f"p_{c}" for c in payload_cols],
        )
        # corpus stats (N, Σdl) in one aggregation — this is also the
        # job that materializes the tokenized cache, so the three
        # artifact writes below all start against a HOT cache and can
        # overlap fully (r7: the docs write previously had to finish
        # first just to produce these stats, which serialized it in
        # front of the postings stage)
        n_docs, sum_dl = with_ids.agg(
            F.count(F.lit(1)), F.sum("doc_len")
        ).first()
        n_docs, sum_dl = int(n_docs), int(sum_dl or 0)
        avgdl = (sum_dl / n_docs) if n_docs else 0.0

        def _write_docs():
            (
                docs_art
                # already range-partitioned + sorted by id (ids were
                # assigned in the order_cols range shuffle) — write
                # as-is, no second shuffle; row groups stay
                # doc_id-clustered for the per-shard fieldnorm reads
                .sortWithinPartitions("doc_id")
                .write.mode("overwrite")
                .parquet(docs_path)
            )
            _ensure_readable_parquet(docs_path, docs_art.schema)

        # the staging layout: one compact row per document, shuffled by
        # stage 3 straight from the cache
        doc_terms = with_ids.select(
            F.col("terms").getField("key").alias("tkeys"),
            F.col("terms").getField("tf").alias("ttfs"),
            "shard",
            F.col("local_id").cast("int").alias("local_id"),
            F.col("fieldnorm").cast("int").alias("fieldnorm"),
        )

        # the mappings staging parquet exists for resume (re-entering
        # through finalize_index) and vacuum (relabeling it); it reads the
        # already-materialized cache, so it can run concurrently with
        # stage 3 instead of serializing parquet IO in front of it
        def _write_mappings():
            doc_terms.write.mode("overwrite").parquet(maps_path)
            _ensure_readable_parquet(maps_path, doc_terms.schema)

        from concurrent.futures import ThreadPoolExecutor

        # all three consumers of the hot cache overlap (guide §2.6:
        # later jobs back-fill the tails of earlier ones); finalize
        # then only computes terms/lineage/meta over the written
        # postings (resume=True: its _SUCCESS markers skip stage 3)
        with ThreadPoolExecutor(max_workers=3) as pool:
            futures = [
                pool.submit(_write_docs),
                pool.submit(_write_mappings),
                pool.submit(
                    _write_postings, doc_terms,
                    fsio.join(index_dir, "postings"), cfg, avgdl,
                ),
            ]
            for fu in futures:
                fu.result()
        return finalize_index(
            spark, index_dir, cfg, payload_cols, resume=True,
            stats=(n_docs, sum_dl),
        )
    finally:
        if with_ids is not None:
            with_ids.unpersist()
        _release_rdds(spark, pins)


def finalize_index(
    spark: SparkSession,
    index_dir: str,
    cfg: Bm25Config,
    payload_cols: list[str],
    resume: bool = False,
    stats: tuple[int, int] | None = None,
) -> str:
    """Stages 2-5 over already-written docs and mappings staging.

    Shared by the initial build (``resume=True`` after it wrote the
    postings itself, with ``stats`` observed on the way), stage-granular
    resume, and vacuum compaction, which writes relabeled docs and
    doc-grouped staging itself — the reference's maintain re-runs
    exactly the sort+flush stages on the merged stream
    (maintain.rs:27-311). Stage 3 reads the staging through
    :func:`_read_doc_terms`, so indexes staged in the older per-posting
    layout rebuild through the same kernel."""
    docs_path = fsio.join(index_dir, "docs")
    maps_path = fsio.join(index_dir, "mappings")
    postings_path = fsio.join(index_dir, "postings")
    terms_path = fsio.join(index_dir, "terms")
    lineage_path = fsio.join(index_dir, "lineage")
    meta_path = fsio.join(index_dir, "meta.json")

    # ---- stage 2: corpus stats ------------------------------------------
    # the initial build passes them in (observed during the docs
    # write — zero extra jobs); resume/vacuum recompute from the
    # written artifact
    docs_art = read_parquet(spark, docs_path)
    if stats is not None:
        n_docs, sum_dl = stats
    else:
        n_docs, sum_dl = docs_art.agg(
            F.count("*"), F.sum("doc_len")
        ).first()
    n_docs = int(n_docs)
    sum_dl = int(sum_dl or 0)
    avgdl = (sum_dl / n_docs) if n_docs else 0.0

    # ---- stage 3: postings ----------------------------------------------
    if not (resume and _stage_done(postings_path)):
        _write_postings(
            _read_doc_terms(spark, maps_path), postings_path, cfg, avgdl
        )

    # ---- stages 4 + lineage: three independent jobs over the written
    # postings artifact, submitted from threads so the scheduler
    # overlaps them (each is small; serializing them just stacks their
    # fixed per-job latency) -------------------------------------------
    # named schema: no inference job; Spark still lists the bucket
    # directories (a listing job above its 32-path driver threshold)
    postings = spark.read.schema(POSTINGS_SCHEMA).parquet(postings_path)

    def _write_terms():
        terms = postings.groupBy("term_key").agg(
            F.first("bucket").alias("bucket"),
            F.sum("count").cast("long").alias("df"),
            F.max_by(
                F.struct("wand_fn", "wand_tf"),
                # total order: block_ub desc-pick, then earliest block,
                # then lowest shard — (term_key, shard, block_ord) is a
                # unique key, so two shards tying on (block_ub,
                # block_ord) can no longer produce run-to-run variance
                # in the stored (wand_fn, wand_tf)
                F.struct(
                    "block_ub", F.col("block_ord") * -1, F.col("shard") * -1
                ),
            ).alias("w"),
            F.max("block_ub").alias("token_ub"),
        )
        tsel = terms.select(
            "term_key",
            "bucket",
            "df",
            F.col("w.wand_fn").alias("wand_fn"),
            F.col("w.wand_tf").alias("wand_tf"),
            "token_ub",
        )
        (
            tsel
            # a handful of sorted files: parallel write, and the query
            # path's Arrow key filter prunes by row-group stats (no
            # serial single-partition sort — dictionaries can be huge)
            .repartitionByRange(max(1, cfg.term_buckets // 16), "term_key")
            .sortWithinPartitions("term_key")
            .write.mode("overwrite")
            .parquet(terms_path)
        )
        _ensure_readable_parquet(terms_path, tsel.schema)

    def _write_lineage():
        lineage = postings.groupBy("shard").agg(
            F.count("*").alias("n_blocks"),
            F.sum("count").cast("long").alias("n_postings"),
            (
                F.sum(F.length("ids_bytes")) + F.sum(F.length("tfs_bytes"))
            ).alias("packed_bytes"),
            F.count_distinct("term_key").alias("n_terms"),
        )
        shard_docs = docs_art.groupBy("shard").agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_len").cast("long").alias("sum_dl"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.expr("bit_xor(xxhash64(content_sha256))").alias("input_fingerprint"),
        )
        joined = lineage.join(shard_docs, "shard", "full").orderBy("shard")
        joined.write.mode("overwrite").parquet(lineage_path)
        _ensure_readable_parquet(lineage_path, joined.schema)

    def _write_bucket_lineage():
        # second lineage axis: per term-bucket rows (term range, block/
        # posting/byte counts) — the "term range" granularity of the
        # build, one row per postings output directory
        bl = (
            postings.groupBy("bucket")
            .agg(
                F.min("term_key").alias("min_term_key"),
                F.max("term_key").alias("max_term_key"),
                F.count_distinct("term_key").alias("n_terms"),
                F.count("*").alias("n_blocks"),
                F.sum("count").cast("long").alias("n_postings"),
                (
                    F.sum(F.length("ids_bytes")) + F.sum(F.length("tfs_bytes"))
                ).alias("packed_bytes"),
            )
            .orderBy("bucket")
        )
        bl.write.mode("overwrite").parquet(lineage_path + "_buckets")
        _ensure_readable_parquet(lineage_path + "_buckets", bl.schema)

    tasks = []
    if not (resume and _stage_done(terms_path)):
        tasks.append(_write_terms)
    if not (resume and _stage_done(lineage_path)):
        tasks.append(_write_lineage)
        tasks.append(_write_bucket_lineage)
    if tasks:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(tasks)) as pool:
            futures = [pool.submit(t) for t in tasks]
            for fu in futures:
                fu.result()  # re-raise any job failure

    # id-density invariant over the *written* lineage (no extra scan):
    # within a shard, ids must be the dense range [min, max] — catches
    # any id-assignment fault. Cheap, so it runs on resume too.
    import pyarrow.dataset as _ds

    lt = _ds.dataset(lineage_path, format="parquet").to_table(
        columns=["shard", "n_docs", "min_doc_id", "max_doc_id"]
    )
    bad = [
        int(lt["shard"][i].as_py())
        for i in range(lt.num_rows)
        if lt["max_doc_id"][i].as_py() - lt["min_doc_id"][i].as_py() + 1
        != lt["n_docs"][i].as_py()
    ]
    if bad:
        raise RuntimeError(
            f"doc-id assignment produced non-dense ids in shards {bad[:10]}"
        )

    # ---- stage 5: meta (publish-last) ------------------------------------
    import pyarrow.dataset as _ds

    n_terms = _ds.dataset(terms_path, format="parquet").count_rows()
    meta = {
        "magic": FORMAT_MAGIC,
        "version": FORMAT_VERSION,
        "k1": cfg.k1,
        "b": cfg.b,
        "seed": cfg.seed.hex(),
        "analyzer": cfg.analyzer,
        # behavior fingerprint of the analyzer at build time (wordlist
        # hash for dictionary analyzers) — verified at open so the
        # same NAME with a different wordlist cannot silently tokenize
        # queries unlike the indexed corpus
        "analyzer_fingerprint": _analyzer_fingerprint(cfg.analyzer),
        "shard_size": cfg.shard_size,
        "term_buckets": cfg.term_buckets,
        "n_docs": n_docs,
        "sum_dl": sum_dl,
        "avgdl": avgdl,
        "n_terms": int(n_terms),
        "payload_cols": payload_cols,
        "paths": {
            "docs": "docs",
            "postings": "postings",
            "terms": "terms",
            "lineage": "lineage",
            "lineage_buckets": "lineage_buckets",
            "mappings": "mappings",
        },
    }
    fsio.write_text_atomic(meta_path, json.dumps(meta, indent=2))
    return index_dir


def _fieldnorm_expr():
    """length_to_fieldnorm as a Catalyst expression: index of the last
    table entry <= doc_len (the reference's binary search,
    bm25.rs:278-283). Emitted as an 8-level nested-CASE binary search —
    whole-stage-codegen evaluates ~8 comparisons per row, where a
    higher-order aggregate over a 256-literal array would run 256
    interpreted steps per row."""
    from .fieldnorm import FIELDNORM_TO_LENGTH

    table = [int(v) for v in FIELDNORM_TO_LENGTH]
    dl = F.col("doc_len")

    def search(lo: int, hi: int):
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi + 1) // 2
        return (
            F.when(dl >= F.lit(table[mid]), search(mid, hi))
            .otherwise(search(lo, mid - 1))
        )

    return search(0, len(table) - 1).cast("int")
