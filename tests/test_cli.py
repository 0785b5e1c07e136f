"""CLI smoke tests (the spark-submit surface)."""

from __future__ import annotations

import json

import pytest

from bm25spark import cli


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("cli") / "corpus.parquet")
    rows = [(i, f"org/r{i%3}", f"src/f{i}.py", f"c{i:04x}", "python",
             f"def parse_{i}(): return merge(index, {i % 9})")
            for i in range(120)]
    spark.createDataFrame(
        rows, "doc_id INT, repo STRING, path STRING, commit STRING, lang STRING, content STRING"
    ).drop("doc_id").write.parquet(p)
    return p


def test_build_search_vacuum_lineage(spark, corpus_path, tmp_path, capsys):
    d = str(tmp_path / "idx")
    cli.main([
        "build", "--input", corpus_path, "--format", "parquet",
        "--text-col", "content", "--order-cols", "repo,path,commit",
        "--index-dir", d, "--analyzer", "code", "--shard-size", "16384",
    ])
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["n_docs"] == 120

    cli.main(["search", "--index-dir", d, "--query", "parse merge", "-k", "5"])
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == 5 and all("score" in r for r in lines)

    cli.main(["search-dist", "--index-dir", d, "--query", "parse merge", "-k", "5"])
    dlines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert [r["path"] for r in dlines] == [r["path"] for r in lines]

    cli.main(["lineage", "--index-dir", d])
    lin = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert sum(r["n_docs"] for r in lin) == 120

    # storage introspection (bm25_page_inspect analogue): 'merge'
    # appears once in every doc -> df 120, one 128-cap block
    cli.main(["inspect", "--index-dir", d, "--term", "merge"])
    ins = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert len(ins) == 1 and ins[0]["token"] == "merge"
    assert ins[0]["df"] == 120 and ins[0]["n_blocks"] == 1
    cli.main(["inspect", "--index-dir", d, "--limit", "3"])
    top = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert len(top) == 3 and all(r["df"] == 120 for r in top)

    cli.main(["vacuum", "--index-dir", d, "--text-col", "content"])
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1]) == {
        "vacuumed": d
    }


def test_negated_score_convention(spark, corpus_path, tmp_path):
    from bm25spark.api import index_for_parquet
    from bm25spark.config import Bm25Config

    idx = index_for_parquet(
        spark, corpus_path, "content", ["repo", "path", "commit"],
        cfg=Bm25Config(analyzer="code"), base_dir=str(tmp_path),
    )
    pos = idx.search_df("parse", 3).collect()
    neg = idx.search_df("parse", 3, negate=True).collect()
    assert [r.score for r in neg] == [-r.score for r in pos]


def test_search_batch_deleted_aware(spark, corpus_path, tmp_path, capsys):
    """search-batch --deleted-aware must exclude tombstoned docs (the
    same P4 mask as the library's blocked=), while the plain batch
    returns the sealed view."""
    d = str(tmp_path / "idx_bdel")
    cli.main([
        "build", "--input", corpus_path, "--format", "parquet",
        "--text-col", "content", "--order-cols", "repo,path,commit",
        "--index-dir", d, "--analyzer", "code", "--shard-size", "16384",
    ])
    capsys.readouterr()
    qf = str(tmp_path / "queries.txt")
    with open(qf, "w") as f:
        f.write("parse merge\nindex\n")

    cli.main(["search-batch", "--index-dir", d, "--queries-file", qf, "-k", "5"])
    before = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert before
    victim_path = before[0]["path"]

    # tombstone the top hit's key, then the deleted-aware batch must
    # not return it (and the plain batch still does — sealed view)
    keys = spark.createDataFrame(
        [(r["repo"], r["path"], r["commit"]) for r in before[:1]],
        "repo STRING, path STRING, commit STRING",
    )
    kp = str(tmp_path / "delkeys.parquet")
    keys.write.parquet(kp)
    cli.main(["delete", "--index-dir", d, "--input", kp, "--format", "parquet"])
    capsys.readouterr()

    cli.main([
        "search-batch", "--index-dir", d, "--queries-file", qf, "-k", "5",
        "--deleted-aware",
    ])
    after = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert after and all(r["path"] != victim_path for r in after)

    cli.main(["search-batch", "--index-dir", d, "--queries-file", qf, "-k", "5"])
    plain = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert any(r["path"] == victim_path for r in plain)

    cli.main([
        "search-dist", "--index-dir", d, "--query", "parse merge", "-k", "5",
        "--deleted-aware",
    ])
    dlines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert all(r["path"] != victim_path for r in dlines)


def test_search_delta_batch_cli(spark, corpus_path, tmp_path, capsys):
    """search-delta-batch answers M queries against the mutated index;
    per-query lines equal M search-delta invocations."""
    d = str(tmp_path / "idx_sdb")
    cli.main([
        "build", "--input", corpus_path, "--format", "parquet",
        "--text-col", "content", "--order-cols", "repo,path,commit",
        "--index-dir", d, "--analyzer", "code", "--shard-size", "16384",
    ])
    capsys.readouterr()
    ins = str(tmp_path / "ins.parquet")
    # delta doc with dominant tf on SEALED-dictionary terms (a term
    # seen only in the delta contributes nothing — stale-statistics
    # semantics, search.rs:55-62 — so findability must come through
    # sealed terms)
    spark.createDataFrame(
        [("org/rX", "src/new.py", "cafe", "python",
          "parse merge " * 8)],
        "repo STRING, path STRING, commit STRING, lang STRING, content STRING",
    ).write.parquet(ins)
    cli.main([
        "insert", "--index-dir", d, "--input", ins, "--format", "parquet",
        "--text-col", "content",
    ])
    capsys.readouterr()
    qf = str(tmp_path / "q.txt")
    with open(qf, "w") as f:
        f.write("parse merge\nindex\n")
    cli.main([
        "search-delta-batch", "--index-dir", d, "--queries-file", qf,
        "--text-col", "content", "-k", "5",
    ])
    blines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert blines and any(r["path"] == "src/new.py" for r in blines)
    by_q: dict = {}
    for r in blines:
        by_q.setdefault(r.pop("query_id"), []).append(r)
    for qid, qtext in (("0", "parse merge"), ("1", "index")):
        cli.main([
            "search-delta", "--index-dir", d, "--query", qtext,
            "--text-col", "content", "-k", "5",
        ])
        single = [
            json.loads(x) for x in capsys.readouterr().out.strip().splitlines()
        ]
        assert by_q.get(qid, []) == single, qid


def test_vocab_analyzer_cli_lifecycle(spark, corpus_path, tmp_path, capsys):
    """--train-vocab build writes the trained vocabulary next to the
    index; reopening requires the file (via --vocab) and a different
    file fails the fingerprint check; --wordpiece-vocab registers a
    subword analyzer end to end."""
    d = str(tmp_path / "idx_cv")
    cli.main([
        "build", "--input", corpus_path, "--format", "parquet",
        "--text-col", "content", "--order-cols", "repo,path,commit",
        "--index-dir", d, "--analyzer", "cv_test", "--train-vocab", "5",
        "--shard-size", "16384",
    ])
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["vocab"].endswith("vocab.txt")
    vocab = open(built["vocab"]).read().split()
    assert len(vocab) == 5
    # df must count DOCUMENTS (all five appear in every one of the 120
    # docs), not first-order-col groups — per-repo counting would tie
    # the digit tokens at the same df and rank them first
    assert vocab == ["def", "index", "merge", "parse", "return"]

    cli.main([
        "search", "--index-dir", d, "--query", "parse merge", "-k", "3",
        "--vocab", built["vocab"],
    ])
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == 3

    # delete and lineage open the index too — the vocabulary flag must
    # be available there (review finding: a vocab-analyzer index was
    # un-deletable from the CLI)
    keys = str(tmp_path / "del_keys.parquet")
    spark.read.parquet(corpus_path).select(
        "repo", "path", "commit"
    ).limit(1).write.parquet(keys)
    cli.main([
        "delete", "--index-dir", d, "--input", keys, "--format", "parquet",
        "--vocab", built["vocab"],
    ])
    assert json.loads(
        capsys.readouterr().out.strip().splitlines()[-1]
    )["deleted_from"] == d
    cli.main(["lineage", "--index-dir", d, "--vocab", built["vocab"]])
    capsys.readouterr()

    bad = str(tmp_path / "bad_vocab.txt")
    open(bad, "w").write("different\nwords\n")
    with pytest.raises(ValueError, match="fingerprint"):
        cli.main([
            "search", "--index-dir", d, "--query", "parse", "-k", "3",
            "--vocab", bad,
        ])

    wpv = str(tmp_path / "wp_vocab.txt")
    chars = "abcdefghijklmnopqrstuvwxyz0123456789"
    with open(wpv, "w") as f:
        f.write("merge\nparse\n")
        for c in chars:
            f.write(f"{c}\n##{c}\n")
    d2 = str(tmp_path / "idx_wp")
    cli.main([
        "build", "--input", corpus_path, "--format", "parquet",
        "--text-col", "content", "--order-cols", "repo,path,commit",
        "--index-dir", d2, "--analyzer", "wp_cli", "--wordpiece-vocab", wpv,
        "--shard-size", "16384",
    ])
    capsys.readouterr()
    cli.main([
        "search", "--index-dir", d2, "--query", "parse merge", "-k", "3",
        "--wordpiece-vocab", wpv,
    ])
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == 3

    # shadowing a built-in analyzer name is refused
    with pytest.raises(SystemExit, match="shadow"):
        cli.main([
            "build", "--input", corpus_path, "--format", "parquet",
            "--text-col", "content", "--order-cols", "repo,path,commit",
            "--index-dir", str(tmp_path / "x"), "--analyzer", "simple",
            "--wordpiece-vocab", wpv,
        ])


def test_load_table_catalog_and_parquet(spark, corpus_path):
    """load_table resolves catalog table names (the Iceberg-shaped
    path — spark.read.table works against any catalog-registered
    table) and parquet paths, with fmt=auto routing on '/'-presence;
    a bad explicit iceberg name fails loudly."""
    from bm25spark.cli import load_table

    spark.read.parquet(corpus_path).createOrReplaceTempView("cli_corpus_v")
    via_catalog = load_table(spark, "cli_corpus_v")          # auto: no '/'
    via_iceberg = load_table(spark, "cli_corpus_v", "iceberg")
    via_parquet = load_table(spark, corpus_path)             # auto: path
    assert via_catalog.count() == via_parquet.count() == 120
    assert via_iceberg.count() == 120
    with pytest.raises(Exception):
        load_table(spark, "no_such_table_xyz", "iceberg")


def test_load_table_reraises_non_analysis_errors(spark, monkeypatch):
    """Only a catalog miss (AnalysisException) falls back to a parquet
    read; any other catalog error surfaces instead of being masked by
    the parquet attempt."""
    from pyspark.sql.readwriter import DataFrameReader

    from bm25spark.cli import load_table

    def broken_table(self, name):
        raise RuntimeError("catalog unavailable")

    monkeypatch.setattr(DataFrameReader, "table", broken_table)
    with pytest.raises(RuntimeError, match="catalog unavailable"):
        load_table(spark, "some_table")


def test_prepare_pipeline_cli_and_index_integration(spark, tmp_path, capsys):
    """The two halves of the repo compose: `prepare` cleans a corpus
    (dedup keeper + quality rules + decontamination + split), then the
    cleaned parquet builds a BM25 index that serves rank-identically
    to the exact scorer — the full user workflow in one test."""
    src = "/root/testdata/sf0.001/documents.parquet"
    audit = str(tmp_path / "audit")
    clean = str(tmp_path / "clean")
    cli.main([
        "prepare", "--input", src, "--format", "parquet",
        "--output", audit, "--clean-output", clean,
    ])
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["docs"] == 500
    assert 0 < summary["kept"] < 500
    assert summary["dropped_duplicate"] > 0
    assert summary["dropped_contaminated"] == 0  # no benchmark given

    # audit frame invariants: one row per doc, verdict composition
    a = spark.read.parquet(audit)
    assert a.count() == 500
    from pyspark.sql import functions as F

    bad = a.filter(
        F.col("keep")
        != (~F.col("is_duplicate") & F.col("quality_keep")
            & ~F.col("contaminated"))
    )
    assert bad.count() == 0

    # the cleaned corpus builds and serves
    d = str(tmp_path / "idx")
    cli.main([
        "build", "--input", clean, "--format", "parquet",
        "--text-col", "text", "--order-cols", "doc_id",
        "--index-dir", d, "--analyzer", "simple",
        "--shard-size", "16384",
    ])
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["n_docs"] == summary["kept"]
    cli.main(["search", "--index-dir", d, "--query", "data table", "-k", "5"])
    lines = [
        json.loads(x) for x in capsys.readouterr().out.strip().splitlines()
    ]
    assert len(lines) == 5

    # rank-identical to the pure-Catalyst exact scorer on the SAME
    # cleaned corpus (the reference's own regression invariant)
    from bm25spark.config import Bm25Config
    from bm25spark.query import exact_topk

    cleaned = spark.read.parquet(clean)
    ex = exact_topk(
        spark, cleaned, "text", "doc_id", "data table", 5,
        cfg=Bm25Config(analyzer="simple"),
    ).collect()
    got = [(int(r["doc_id"]), round(float(r["score"]), 4)) for r in lines]
    want = [(int(r["doc_id"]), round(float(r["score"]), 4)) for r in ex]
    assert got == want


def test_prepare_cli_with_benchmark_decontaminates(spark, tmp_path, capsys):
    src = "/root/testdata/sf0.001/documents.parquet"
    audit = str(tmp_path / "audit_b")
    cli.main([
        "prepare", "--input", src, "--format", "parquet",
        "--benchmark", src, "--benchmark-format", "parquet",
        "--decontam-n", "4", "--output", audit,
    ])
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # self-benchmark: every doc with >=4 tokens is contaminated
    assert summary["dropped_contaminated"] > 400
    assert summary["kept"] < 100
