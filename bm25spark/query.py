"""Query-side entry points.

``exact_topk`` is the reference's *seqscan exact scorer* (entry point
3, /root/reference/src/index/operators.rs:22-55 + crates/bm25/src/
evaluate.rs:22-74) restated as a pure Catalyst plan: tokenize ->
tf/df/dl aggregates -> broadcast joins -> one ordered limit. It is the
engine's differential oracle — the fuzz harness in the reference flips
between exactly this and the indexed WAND path (tests/fuzz:217-303).

The indexed WAND path lives in :mod:`bm25spark.wand` /
:mod:`bm25spark.index`.

Scores use the quantized document length (evaluate.rs:36 quantizes via
length_to_fieldnorm before scoring), k1/b/IDF per bm25.rs:285-295.
Ties are broken by ascending doc id — *stronger* than the reference,
whose heap order on ties is unspecified (always_equal payloads), so
every ordering we emit is reproducible.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .analyze import get_analyzer
from .config import Bm25Config
from .fieldnorm import FIELDNORM_TO_LENGTH
from .datapipe.util import SPREAD_MIN_BYTES_LIGHT, spread_small_scan
from .udfs import explode_mappings, with_doc_terms

#: half-open quantization ranges (lo, hi, qdl): dl in [lo, hi) -> qdl=lo
_FN_RANGES = [
    (int(lo), int(hi), int(lo))
    for lo, hi in zip(
        FIELDNORM_TO_LENGTH,
        list(FIELDNORM_TO_LENGTH[1:]) + [1 << 62],
    )
]


#: persisted per-doc frames from in-flight exact queries. Each new
#: exact query drains the previous entry, so a long-lived session
#: never accumulates cached blocks (one frame is live at a time);
#: :func:`release_caches` drains explicitly.
_live_persists: list[DataFrame] = []


def _persist_tracked(df: DataFrame) -> DataFrame:
    release_caches()
    df = df.persist()
    _live_persists.append(df)
    return df


def release_caches() -> None:
    """Unpersist any per-doc frame left behind by a prior
    ``exact_topk`` call (its result plan was lazy, so the persist
    could not be dropped inside the call itself)."""
    while _live_persists:
        try:
            _live_persists.pop().unpersist()
        except Exception:
            pass


def quantized_dl(spark: SparkSession, df: DataFrame, dl_col: str = "doc_len"):
    """Join-in the fieldnorm-quantized doc length as ``qdl``.

    A 256-row broadcast range join — the Catalyst equivalent of the
    reference's length_to_fieldnorm binary search (bm25.rs:278-283).
    """
    ranges = spark.createDataFrame(_FN_RANGES, "lo BIGINT, hi BIGINT, qdl BIGINT")
    return df.join(
        F.broadcast(ranges),
        (F.col(dl_col) >= F.col("lo")) & (F.col(dl_col) < F.col("hi")),
        "left",
    ).drop("lo", "hi")


def tokenize_simple_sql(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """simple-analyzer mappings via built-in expressions only (stays
    inside whole-stage codegen; no Python). Returns
    (doc_id, token, tf) with one row per distinct (doc, token)."""
    toks = spread_small_scan(df, min_bytes=SPREAD_MIN_BYTES_LIGHT).select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
                lambda s: s != "",
            )
        ).alias("token"),
    )
    return toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))


def tokenize_udf_mappings(
    df: DataFrame, text_col: str, id_col: str, cfg: Bm25Config
) -> DataFrame:
    """Analyzer-general mappings (term keys, not token strings) via the
    fused Arrow tokenizer pass. Only (id, text) are selected first —
    the map pass is opaque to Catalyst column pruning."""
    prepared = with_doc_terms(
        spread_small_scan(
            df.select(id_col, text_col), min_bytes=SPREAD_MIN_BYTES_LIGHT
        ),
        text_col,
        cfg.analyzer,
        cfg.seed,
    )
    return explode_mappings(
        prepared.withColumnRenamed(id_col, "doc_id")
        if id_col != "doc_id"
        else prepared
    )


def exact_topk_wide(
    spark: SparkSession,
    docs: DataFrame,
    text_col: str,
    id_col: str,
    query_text: str,
    k: int,
    cfg: Bm25Config | None = None,
    round_score: int | None = 4,
    prefilter: DataFrame | None = None,
) -> DataFrame:
    """Exact scorer for *wide* queries (hundreds+ of terms), where the
    narrow path's one-aggregate-column-per-term pivot would degenerate
    into a thousand-expression projection. Shape: query terms join the
    mappings via a broadcast map; one hash-aggregate per doc collects
    (doc_len, matched (term, idf, tf) pairs); the per-doc sum runs over
    the array_sort'ed pair array — i.e. interned-key byte order for
    non-simple analyzers, token order for simple, which is exactly the
    order the narrow path accumulates in (it sorts its per-term
    expressions by the same key), so the two forms agree bit-for-bit
    across the 64-term threshold. One extra shuffle vs the narrow
    path; still zero corpus-side joins."""
    cfg = cfg or Bm25Config()
    analyzer = get_analyzer(cfg.analyzer)
    qtokens = sorted(set(analyzer(query_text)))
    docs = docs.filter(F.col(text_col).isNotNull())
    if not qtokens:
        return spark.createDataFrame([], "doc_id BIGINT, score DOUBLE")

    if cfg.analyzer == "simple":
        m = tokenize_simple_sql(docs, text_col, id_col).withColumnRenamed(
            "token", "term"
        )
        qterms = qtokens
    else:
        from .analyze import intern_str

        qterms = [intern_str(cfg.seed, t) for t in qtokens]
        m = tokenize_udf_mappings(docs, text_col, id_col, cfg).withColumnRenamed(
            "term_key", "term"
        ).select("doc_id", "term", "tf")

    n_docs = docs.count()
    if not n_docs:
        return spark.createDataFrame([], "doc_id BIGINT, score DOUBLE")

    # binary isin literals need bytearray wrapping (Spark BinaryType)
    qlits = [bytearray(t) if isinstance(t, bytes) else t for t in qterms]
    per_doc = m.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("doc_len"),
        F.collect_list(
            F.when(F.col("term").isin(qlits), F.struct("term", "tf"))
        ).alias("pairs"),
    )
    per_doc = _persist_tracked(per_doc)
    # pass 1: sum_dl in one job over the aggregated frame
    sums = per_doc.agg(F.sum("doc_len").alias("s")).first()
    avgdl = float(sums["s"] or 0) / float(n_docs)
    dfs = {
        r["term"]: r["df"]
        for r in per_doc.select(F.explode("pairs").alias("p"))
        .groupBy(F.col("p.term").alias("term"))
        .agg(F.count("*").alias("df"))
        .collect()
    }
    idf_map = {
        t: math.log((float(n_docs) + 1.0) / (float(dfs.get(t, 0)) + 0.5))
        for t in qterms
    }
    idf_items = sorted(idf_map.items())
    idf_df = spark.createDataFrame(
        [(t, v) for t, v in idf_items], ["term", "idf"]
    )

    matched = per_doc.filter(F.size("pairs") > 0)
    matched = quantized_dl(spark, matched, "doc_len")
    # token-sorted accumulation = the narrow path's / oracle's order
    exploded = matched.select(
        "doc_id", "qdl", F.explode("pairs").alias("p")
    ).select("doc_id", "qdl", F.col("p.term").alias("term"), F.col("p.tf").alias("tf"))
    norm = F.lit(cfg.k1) * (
        F.lit(1.0 - cfg.b) + F.lit(cfg.b) * F.col("qdl") / F.lit(avgdl)
    )
    contrib = F.col("idf") * (F.col("tf") * F.lit(cfg.k1 + 1.0)) / (
        F.col("tf") + norm
    )
    scored = (
        exploded.join(F.broadcast(idf_df), "term")
        .select("doc_id", "term", contrib.alias("c"))
        .groupBy("doc_id")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("term", "c"))),
                F.lit(0.0),
                lambda acc, x: acc + x["c"],
            ).alias("raw_score")
        )
        .filter(F.col("raw_score") > 0.0)
    )
    if prefilter is not None:
        scored = scored.join(prefilter.select("doc_id"), "doc_id", "left_semi")
    score_col = (
        F.round(F.col("raw_score"), round_score)
        if round_score is not None
        else F.col("raw_score")
    )
    return (
        scored.select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            score_col.alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


#: above this many distinct query terms, exact_topk routes to the
#: explode-join form instead of the per-term pivot (a 1000-term query
#: would otherwise compile a 1000-aggregate projection)
WIDE_QUERY_TERMS = 64


def exact_topk(
    spark: SparkSession,
    docs: DataFrame,
    text_col: str,
    id_col: str,
    query_text: str,
    k: int,
    cfg: Bm25Config | None = None,
    round_score: int | None = 4,
    prefilter: DataFrame | None = None,
) -> DataFrame:
    """Full-precision BM25 top-k as a two-pass, shuffle-free plan.

    Pass 1 (one narrow scan + scalar agg): N, Σdl, and per-query-term
    document frequencies, all in a single partial-aggregated job.
    Pass 2 (one narrow scan + TakeOrderedAndProject): per-doc tf for
    each query term is extracted from the token array inside codegen
    (no explode, no groupBy), scored, and top-k'd with Spark's
    map-side heap + driver merge. Neither pass shuffles data — the
    plan is two embarrassingly-parallel scans regardless of corpus
    size, which is what survives a 100 TB input.

    ``prefilter``: optional DataFrame of allowed ``doc_id`` rows,
    applied *before* ranking — the reference's ``bm25.prefilter``
    semantics (candidates must pass the predicate before counting
    toward k; src/index/fetcher.rs:180-216).
    """
    cfg = cfg or Bm25Config()
    analyzer = get_analyzer(cfg.analyzer)
    qtokens = sorted(set(analyzer(query_text)))

    if len(qtokens) > WIDE_QUERY_TERMS:
        return exact_topk_wide(
            spark, docs, text_col, id_col, query_text, k,
            cfg=cfg, round_score=round_score, prefilter=prefilter,
        )

    docs = docs.filter(F.col(text_col).isNotNull())

    if not qtokens:
        return spark.createDataFrame([], "doc_id BIGINT, score DOUBLE")

    if cfg.analyzer == "simple":
        toks = spread_small_scan(docs, min_bytes=SPREAD_MIN_BYTES_LIGHT).select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.filter(
                    F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
                    lambda s: s != "",
                )
            ).alias("token"),
        )
        per_doc = toks.groupBy("doc_id").agg(
            F.count("*").alias("doc_len"),
            *[
                F.sum(F.when(F.col("token") == F.lit(t), 1).otherwise(0))
                .cast("bigint")
                .alias(f"_tf{i}")
                for i, t in enumerate(qtokens)
            ],
        )
    else:
        from .analyze import intern_str

        # sorted by interned key bytes — the SAME accumulation order as
        # exact_topk_wide's array_sort and the taat kernel's sorted
        # query keys, so scores agree bit-for-bit across the 64-term
        # threshold
        qtokens = sorted(intern_str(cfg.seed, t) for t in qtokens)  # type: ignore[assignment]
        m = tokenize_udf_mappings(docs, text_col, id_col, cfg)
        per_doc = m.groupBy("doc_id").agg(
            F.first("doc_len").cast("bigint").alias("doc_len"),
            *[
                F.coalesce(
                    F.max(F.when(F.col("term_key") == F.lit(k), F.col("tf"))),
                    F.lit(0),
                )
                .cast("bigint")
                .alias(f"_tf{i}")
                for i, k in enumerate(qtokens)
            ],
        )
    # Tokenization + the single doc_id shuffle (with map-side partial
    # aggregation) happen exactly once; both downstream jobs read the
    # cached per-doc rows. Tracked: the next exact query (or an
    # explicit release_caches()) unpersists it.
    per_doc = _persist_tracked(per_doc)

    # Pass 1a: N over the raw table (zero-token docs still count toward
    # N and avgdl with dl = 0 — matching the reference's NULL-skip but
    # empty-doc-keep build semantics). Parquet count(*) is metadata-fast.
    n_docs = docs.count()
    # Pass 1b: Σdl and per-term document frequencies in one job.
    stats = per_doc.agg(
        F.sum("doc_len").alias("s"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("bigint")).alias(f"_df{i}")
            for i in range(len(qtokens))
        ],
    ).first()
    sum_dl = stats["s"]
    if not n_docs:
        return spark.createDataFrame([], "doc_id BIGINT, score DOUBLE")
    avgdl = float(sum_dl or 0) / float(n_docs)
    idfs = [
        math.log((float(n_docs) + 1.0) / (float(stats[f"_df{i}"]) + 0.5))
        for i in range(len(qtokens))
    ]

    # Pass 2: score per doc entirely in codegen, then global top-k.
    matched = per_doc.filter(
        F.greatest(*[F.col(f"_tf{i}") for i in range(len(qtokens))]) > 0
        if len(qtokens) > 1
        else F.col("_tf0") > 0
    )
    matched = quantized_dl(spark, matched, "doc_len")
    norm = F.lit(cfg.k1) * (
        F.lit(1.0 - cfg.b) + F.lit(cfg.b) * F.col("qdl") / F.lit(avgdl)
    )
    score_terms = [
        F.when(
            F.col(f"_tf{i}") > 0,
            F.lit(idfs[i])
            * (F.col(f"_tf{i}") * F.lit(cfg.k1 + 1.0))
            / (F.col(f"_tf{i}") + norm),
        ).otherwise(F.lit(0.0))
        for i in range(len(qtokens))
    ]
    total = score_terms[0]
    for t in score_terms[1:]:
        total = total + t
    scored = matched.withColumn("raw_score", total).filter(
        F.col("raw_score") > 0.0
    )
    if prefilter is not None:
        scored = scored.join(prefilter.select("doc_id"), "doc_id", "left_semi")

    score_col = (
        F.round(F.col("raw_score"), round_score)
        if round_score is not None
        else F.col("raw_score")
    )
    return (
        scored.select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            score_col.alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
