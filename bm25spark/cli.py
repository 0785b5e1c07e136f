"""spark-submit entry point.

Usage (ship the package with --py-files):

    zip -r bm25spark.zip bm25spark
    spark-submit --py-files bm25spark.zip -m bm25spark.cli build \
        --input s3://bucket/corpus --format iceberg \
        --text-col content --order-cols repo,path,commit \
        --index-dir s3://bucket/indexes/corpus_bm25

Subcommands: build | search | search-dist | search-batch |
search-delta | search-delta-batch | insert | delete | vacuum | gc |
lineage.
"""

from __future__ import annotations

import argparse
import json

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession


def load_table(spark: SparkSession, source: str, fmt: str = "auto") -> DataFrame:
    """Read an input table: an Iceberg/catalog table name or a
    parquet path. ``auto`` tries the catalog first, then parquet when
    the catalog has no such table."""
    if fmt == "iceberg" or (fmt == "auto" and "/" not in source):
        try:
            return spark.read.table(source)
        except AnalysisException:
            if fmt == "iceberg":
                raise
    if fmt in ("auto", "parquet"):
        return spark.read.parquet(source)
    return spark.read.format(fmt).load(source)


_BUILTIN_ANALYZERS = ("simple", "code", "english", "unicode")


def _read_vocab_file(path: str) -> list[str]:
    """One vocabulary entry per line (URI-capable via the fs control
    plane). No comment syntax: '##'-prefixed lines are WordPiece
    continuation pieces, not comments. Blank lines dropped."""
    from . import fs as fsio

    return [ln.strip() for ln in fsio.read_text(path).splitlines() if ln.strip()]


def _vocab_analyzer_args(p) -> None:
    p.add_argument(
        "--wordpiece-vocab", default=None,
        help="file of WordPiece pieces ('##'-prefixed = continuation); "
        "registers a BERT-style subword analyzer",
    )
    p.add_argument(
        "--vocab", default=None,
        help="file of whole tokens; registers a vocabulary-filter "
        "analyzer (custom-model flow)",
    )
    p.add_argument(
        "--vocab-base", default="simple",
        help="base analyzer the --vocab filter applies to",
    )


def _register_vocab_analyzer(args, name: str) -> None:
    """Register the analyzer a --wordpiece-vocab/--vocab flag
    describes under ``name`` (the build's --analyzer, or the opened
    index's recorded analyzer) — the fingerprint check at index open
    then verifies the file matches the one the index was built with."""
    wp = getattr(args, "wordpiece_vocab", None)
    vf = getattr(args, "vocab", None)
    if wp and vf:
        raise SystemExit("--wordpiece-vocab and --vocab are mutually exclusive")
    if not wp and not vf:
        return
    if name in _BUILTIN_ANALYZERS:
        raise SystemExit(
            f"refusing to shadow built-in analyzer {name!r}; pass a "
            "custom --analyzer name at build time"
        )
    if wp:
        from .analyze import make_wordpiece_analyzer

        make_wordpiece_analyzer(_read_vocab_file(wp), name=name)
    else:
        from .analyze import make_vocab_analyzer

        make_vocab_analyzer(
            _read_vocab_file(vf), base=args.vocab_base, name=name
        )


def _index_analyzer_name(index_dir: str) -> str:
    import json as _json

    from . import fs as fsio

    return _json.loads(
        fsio.read_text(fsio.join(index_dir, "meta.json"))
    ).get("analyzer", "code")


def main(argv: list[str] | None = None) -> None:
    from .build import build_index
    from .config import Bm25Config, derive_seed
    from .distributed import search_distributed
    from .index import Bm25Index
    from .maintain import vacuum

    ap = argparse.ArgumentParser(prog="bm25spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--input", required=True)
    b.add_argument("--format", default="auto")
    b.add_argument("--text-col", required=True)
    b.add_argument("--order-cols", required=True, help="comma-separated unique key")
    b.add_argument("--index-dir", required=True)
    b.add_argument("--analyzer", default="code")
    b.add_argument("--k1", type=float, default=1.2)
    b.add_argument("--b", type=float, default=0.75)
    b.add_argument("--shard-size", type=int, default=1 << 20)
    b.add_argument("--seed-name", default="bm25spark")
    b.add_argument("--resume", action="store_true")
    _vocab_analyzer_args(b)
    b.add_argument(
        "--train-vocab", type=int, default=None, metavar="N",
        help="train a top-N df vocabulary from the input corpus and "
        "build with it (custom-model flow); writes the vocabulary to "
        "--vocab-out for reopening",
    )
    b.add_argument(
        "--vocab-out", default=None,
        help="where --train-vocab writes the trained vocabulary "
        "(default <index-dir>/vocab.txt)",
    )

    for name in ("search", "search-dist"):
        s = sub.add_parser(name)
        s.add_argument("--index-dir", required=True)
        s.add_argument("--query", required=True)
        s.add_argument("-k", type=int, default=100)
        _vocab_analyzer_args(s)
        if name == "search-dist":
            s.add_argument(
                "--deleted-aware", action="store_true",
                help="exclude tombstoned docs (P4 mask; see 'delete')",
            )

    sb = sub.add_parser(
        "search-batch", help="M queries in one batch of Spark jobs (one per line)"
    )
    sb.add_argument("--index-dir", required=True)
    sb.add_argument(
        "--queries-file", required=True,
        help="text file, one query per line; line number = query_id",
    )
    sb.add_argument("-k", type=int, default=100)
    sb.add_argument(
        "--deleted-aware", action="store_true",
        help="exclude tombstoned docs (P4 mask; see 'delete')",
    )
    _vocab_analyzer_args(sb)

    pp = sub.add_parser(
        "prepare",
        help="end-to-end corpus preparation: dedup-keeper -> quality "
        "rules -> optional benchmark decontamination -> split "
        "assignment; writes the per-doc audit frame and (optionally) "
        "the cleaned corpus",
    )
    pp.add_argument("--input", required=True)
    pp.add_argument("--format", default="auto")
    pp.add_argument("--text-col", default="text")
    pp.add_argument("--id-col", default="doc_id")
    pp.add_argument(
        "--benchmark", default=None,
        help="held-out eval table (same shape) to decontaminate against",
    )
    pp.add_argument("--benchmark-format", default="auto")
    pp.add_argument("--decontam-n", type=int, default=13)
    pp.add_argument(
        "--output", required=True,
        help="parquet dir for the audit frame (one row per input doc)",
    )
    pp.add_argument(
        "--clean-output", default=None,
        help="optional parquet dir for the kept docs + split column",
    )

    v = sub.add_parser("vacuum")
    v.add_argument("--index-dir", required=True)
    v.add_argument("--text-col", required=True)
    _vocab_analyzer_args(v)

    g = sub.add_parser("gc", help="reclaim the retired index generation")
    g.add_argument("--index-dir", required=True)
    g.add_argument("--grace-sec", type=float, default=None)

    ins = sub.add_parser("insert")
    ins.add_argument("--index-dir", required=True)
    ins.add_argument("--input", required=True)
    ins.add_argument("--format", default="auto")
    ins.add_argument("--text-col", required=True)
    _vocab_analyzer_args(ins)

    de = sub.add_parser("delete")
    de.add_argument("--index-dir", required=True)
    de.add_argument("--input", required=True, help="table of payload keys")
    de.add_argument("--format", default="auto")
    _vocab_analyzer_args(de)

    sd = sub.add_parser("search-delta")
    sd.add_argument("--index-dir", required=True)
    sd.add_argument("--query", required=True)
    sd.add_argument("--text-col", required=True)
    sd.add_argument("-k", type=int, default=100)
    _vocab_analyzer_args(sd)

    sdb = sub.add_parser(
        "search-delta-batch",
        help="M queries against the mutated (growing∪sealed) index in "
        "two Spark jobs total",
    )
    sdb.add_argument("--index-dir", required=True)
    sdb.add_argument(
        "--queries-file", required=True,
        help="text file, one query per line; line number = query_id",
    )
    sdb.add_argument("--text-col", required=True)
    sdb.add_argument("-k", type=int, default=100)
    _vocab_analyzer_args(sdb)

    ln = sub.add_parser("lineage")
    ln.add_argument("--index-dir", required=True)
    _vocab_analyzer_args(ln)

    iv = sub.add_parser(
        "inspect",
        help="per-term storage stats (the reference's bm25_page_inspect "
        "analogue over the postings artifact)",
    )
    iv.add_argument("--index-dir", required=True)
    iv.add_argument("--term", default=None, help="restrict to one query term")
    iv.add_argument("--limit", type=int, default=50)
    _vocab_analyzer_args(iv)

    args = ap.parse_args(argv)
    spark = SparkSession.builder.appName(f"bm25spark-{args.cmd}").getOrCreate()

    # index-opening commands: a vocabulary flag re-registers the
    # analyzer the index was built with (fingerprint-checked at open)
    if args.cmd != "build" and (
        getattr(args, "wordpiece_vocab", None) or getattr(args, "vocab", None)
    ):
        _register_vocab_analyzer(args, _index_analyzer_name(args.index_dir))

    if args.cmd == "build":
        df = load_table(spark, args.input, args.format)
        vocab = None
        if args.train_vocab is not None:
            if args.wordpiece_vocab or args.vocab:
                raise SystemExit(
                    "--train-vocab is exclusive with "
                    "--wordpiece-vocab/--vocab"
                )
            if args.analyzer in _BUILTIN_ANALYZERS:
                raise SystemExit(
                    "pass a custom --analyzer name with --train-vocab"
                )
            from pyspark.sql import functions as F

            from .analyze import make_vocab_analyzer
            from .api import train_corpus_vocab

            # document frequency must count DOCUMENTS: with a
            # composite sort key, the first column alone is not a
            # per-row id (many docs per repo), so train on the full
            # key tuple joined into one distinct-per-doc string
            id_cols = args.order_cols.split(",")
            if len(id_cols) == 1:
                tdf, train_id = df, id_cols[0]
            else:
                train_id = "_vocab_doc_key"
                tdf = df.withColumn(
                    train_id,
                    F.concat_ws(
                        "\x1f", *[F.col(c).cast("string") for c in id_cols]
                    ),
                )
            vocab = train_corpus_vocab(
                tdf, args.text_col, train_id, top_n=args.train_vocab,
            )
            make_vocab_analyzer(vocab, base=args.vocab_base, name=args.analyzer)
        else:
            _register_vocab_analyzer(args, args.analyzer)
        cfg = Bm25Config(
            k1=args.k1,
            b=args.b,
            seed=derive_seed(args.seed_name),
            analyzer=args.analyzer,
            shard_size=args.shard_size,
        )
        build_index(
            spark,
            df,
            args.index_dir,
            args.text_col,
            args.order_cols.split(","),
            cfg=cfg,
            resume=args.resume,
        )
        built = {"built": args.index_dir}
        if vocab is not None:
            from . import fs as fsio

            out_path = args.vocab_out or fsio.join(args.index_dir, "vocab.txt")
            fsio.write_text_atomic(out_path, "\n".join(vocab) + "\n")
            built["vocab"] = out_path
        idx = Bm25Index(spark, args.index_dir)
        built["n_docs"] = idx.n_docs
        print(json.dumps(built))
    elif args.cmd == "search":
        idx = Bm25Index(spark, args.index_dir)
        for row in idx.search_df(args.query, args.k).collect():
            print(json.dumps(row.asDict(), default=str))
    elif args.cmd == "search-dist":
        blocked = None
        if args.deleted_aware:
            from .maintain import _tombstones_df

            blocked = _tombstones_df(spark, args.index_dir)
        for row in search_distributed(
            spark, args.index_dir, args.query, args.k, blocked=blocked
        ).collect():
            print(json.dumps(row.asDict(), default=str))
    elif args.cmd == "search-batch":
        from .distributed import search_distributed_batch

        blocked = None
        if args.deleted_aware:
            from .maintain import _tombstones_df

            blocked = _tombstones_df(spark, args.index_dir)
        with open(args.queries_file) as f:
            qs = {
                str(i): line.strip()
                for i, line in enumerate(f)
                if line.strip()
            }
        for row in search_distributed_batch(
            spark, args.index_dir, qs, args.k, blocked=blocked
        ).collect():
            print(json.dumps(row.asDict(), default=str))
    elif args.cmd == "prepare":
        from pyspark.sql import functions as F

        from .datapipe import pipeline

        def _doc_shape(df):
            # the pipeline operators are doc-shaped (doc_id, text)
            return df.select(
                F.col(args.id_col).cast("bigint").alias("doc_id"),
                F.col(args.text_col).alias("text"),
            )

        docs = _doc_shape(load_table(spark, args.input, args.format))
        bench = (
            _doc_shape(load_table(spark, args.benchmark, args.benchmark_format))
            if args.benchmark
            else None
        )
        verdict = pipeline.prepare_corpus(
            docs, benchmark=bench, decontam_n=args.decontam_n
        )
        verdict.write.mode("overwrite").parquet(args.output)
        v = spark.read.parquet(args.output)
        summary = {
            "docs": v.count(),
            "kept": v.filter(F.col("keep")).count(),
            "dropped_duplicate": v.filter(F.col("is_duplicate")).count(),
            "dropped_quality": v.filter(~F.col("quality_keep")).count(),
            "dropped_contaminated": v.filter(F.col("contaminated")).count(),
            "audit": args.output,
        }
        if args.clean_output:
            kept = v.filter(F.col("keep")).select("doc_id", "split")
            full = load_table(spark, args.input, args.format).withColumn(
                "doc_id", F.col(args.id_col).cast("bigint")
            )
            full.join(kept, "doc_id").write.mode("overwrite").parquet(
                args.clean_output
            )
            summary["clean"] = args.clean_output
        print(json.dumps(summary))
    elif args.cmd == "vacuum":
        vacuum(spark, args.index_dir, args.text_col)
        print(json.dumps({"vacuumed": args.index_dir}))
    elif args.cmd == "gc":
        from .maintain import gc_index

        reclaimed = gc_index(args.index_dir, grace_sec=args.grace_sec)
        print(json.dumps({"reclaimed": bool(reclaimed)}))
    elif args.cmd == "insert":
        from .maintain import delta_size, insert

        insert(
            spark,
            args.index_dir,
            load_table(spark, args.input, args.format),
            args.text_col,
        )
        print(json.dumps({"delta_rows": delta_size(spark, args.index_dir)}))
    elif args.cmd == "delete":
        from .maintain import delete

        delete(spark, args.index_dir, load_table(spark, args.input, args.format))
        print(json.dumps({"deleted_from": args.index_dir}))
    elif args.cmd == "search-delta":
        from .maintain import search_with_delta_df

        for row in search_with_delta_df(
            spark, args.index_dir, args.query, args.k, args.text_col
        ).collect():
            print(json.dumps(row.asDict(), default=str))
    elif args.cmd == "search-delta-batch":
        from .maintain import search_with_delta_batch_df

        with open(args.queries_file) as f:
            qs = {
                str(i): line.strip()
                for i, line in enumerate(f)
                if line.strip()
            }
        for row in search_with_delta_batch_df(
            spark, args.index_dir, qs, args.k, args.text_col
        ).collect():
            print(json.dumps(row.asDict(), default=str))
    elif args.cmd == "lineage":
        idx = Bm25Index(spark, args.index_dir)
        for row in idx.lineage_df().collect():
            print(json.dumps(row.asDict(), default=str))
    elif args.cmd == "inspect":
        from .api import inspect_index

        for row in inspect_index(
            spark, args.index_dir, term=args.term, limit=args.limit
        ).collect():
            d = row.asDict()
            d["term_key"] = bytes(d["term_key"]).hex()
            print(json.dumps(d))


if __name__ == "__main__":
    main()
