"""Index build + WAND query tests: the reference's differential fuzz
oracle (tests/fuzz:43-59,217-303 — indexed search vs exact scorer),
golden .slt orderings through the real index, build determinism across
parallelism, stage resume, and lineage integrity."""

from __future__ import annotations

import random
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from bm25spark.build import build_index
from bm25spark.config import Bm25Config
from bm25spark.index import Bm25Index
from bm25spark.query import exact_topk

VOCAB = 2000
DOC_LEN = 60
N_DOCS = 800


def _fuzz_rows(n=N_DOCS, seed=42):
    rnd = random.Random(seed)
    return [
        (i, " ".join(f"t{rnd.randrange(VOCAB)}" for _ in range(DOC_LEN)))
        for i in range(n)
    ]


def canon(hits, nd=9):
    """Canonicalize a ranking for comparison: float-tie groups at 1e-9
    are ordered by doc id. The reference fuzz harness tolerates tie
    reordering the same way (edit distance <= 10, tests/fuzz:287)."""
    return sorted(((round(s, nd), d) for d, s in hits), key=lambda t: (-t[0], t[1]))


@pytest.fixture(scope="module")
def fuzz_docs(spark):
    return spark.createDataFrame(_fuzz_rows(), "doc_id INT, text STRING")


@pytest.fixture(scope="module")
def fuzz_index(spark, fuzz_docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx") / "fuzz")
    cfg = Bm25Config(shard_size=256)  # multiple shards + tail blocks
    build_index(spark, fuzz_docs, d, "text", ["doc_id"], cfg=cfg)
    return Bm25Index(spark, d)


def _py_exact(rows, qtokens, k, k1=1.2, b=0.75):
    """Independent pure-Python exact BM25 oracle."""
    from collections import Counter

    from bm25spark.fieldnorm import length_to_fieldnorm
    from bm25spark.scoring import idf, tf_score

    tfs = {i: Counter(t.split()) for i, t in rows}
    dls = {i: sum(c.values()) for i, c in tfs.items()}
    n = len(rows)
    avgdl = sum(dls.values()) / n
    out = []
    for i in tfs:
        s = 0.0
        for t in sorted(set(qtokens)):
            if tfs[i][t]:
                df = sum(1 for j in tfs if tfs[j][t])
                fn = int(length_to_fieldnorm(dls[i]))
                s += float(idf(n, df)) * float(tf_score(fn, tfs[i][t], k1, b, avgdl))
        if s > 0:
            out.append((i, s))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


class TestFuzzDifferential:
    def test_rank_identity_vs_python_oracle(self, fuzz_index):
        rows = _fuzz_rows()
        rnd = random.Random(7)
        for _ in range(25):
            nq = rnd.randint(1, 5)
            qtokens = [f"t{rnd.randrange(VOCAB)}" for _ in range(nq)]
            if rnd.random() < 0.3:
                qtokens.append("zz_absent")
            q = " ".join(qtokens)
            want = canon(_py_exact(rows, qtokens, 100))
            taat = fuzz_index.search(q, 100, mode="taat")
            bmw = fuzz_index.search(q, 100, mode="bmw")
            assert taat == bmw, q  # bit-identical kernels
            assert canon(taat) == want, q

    def test_rank_identity_vs_spark_exact(self, spark, fuzz_docs, fuzz_index):
        for q in ("t3 t55 t999", "t0", "t1 zz_absent"):
            want = [
                (r.doc_id, r.score)
                for r in exact_topk(
                    spark, fuzz_docs, "text", "doc_id", q, 100, round_score=None
                ).collect()
            ]
            got = fuzz_index.search(q, 100, mode="taat")
            assert canon(got) == canon(want), q

    def test_all_absent_empty(self, fuzz_index):
        assert fuzz_index.search("zz qq", 10) == []
        assert fuzz_index.search("zz qq", 10, mode="bmw") == []

    def test_k_larger_than_hits(self, fuzz_index):
        hits = fuzz_index.search("t17", N_DOCS * 2)
        bmw = fuzz_index.search("t17", N_DOCS * 2, mode="bmw")
        assert hits == bmw and 0 < len(hits) < N_DOCS

    def test_prefilter_mask(self, fuzz_index):
        mask = np.zeros(fuzz_index.n_docs, dtype=bool)
        mask[::2] = True  # even internal ids only
        got = fuzz_index.search("t3 t55", 50, mode="taat", allowed_mask=mask)
        assert all(d % 2 == 0 for d, _ in got)
        bmw = fuzz_index.search(
            "t3 t55", 50, mode="bmw", allowed_mask=mask
        )
        assert got == bmw
        unfiltered = [d for d, _ in fuzz_index.search("t3 t55", 50)]
        assert [d for d, _ in got] != unfiltered


class TestGoldenThroughIndex:
    def test_slt_ordering_via_wand(self, spark, passages_df, tmp_path):
        cfg = Bm25Config(analyzer="english")
        d = str(tmp_path / "slt")
        build_index(spark, passages_df, d, "passage", ["doc_id"], cfg=cfg)
        idx = Bm25Index(spark, d)
        for mode in ("taat", "bmw"):
            hits = idx.search("PostgreSQL", 10, mode=mode)
            assert [d_ for d_, _ in hits] == [7, 8, 3, 0, 6, 1]  # internal ids
        out = idx.search_df("PostgreSQL", 10).collect()
        assert [r.doc_id for r in out] == [8, 9, 4, 1, 7, 2]  # payload ids


class TestBuildProperties:
    def test_determinism_across_parallelism(self, spark, fuzz_docs, tmp_path):
        """North-rule scaling precondition: identical artifacts at any
        partitioning of the id-assignment shuffle."""
        cfg = Bm25Config(shard_size=256)
        a, b_ = str(tmp_path / "a"), str(tmp_path / "b")
        build_index(spark, fuzz_docs, a, "text", ["doc_id"], cfg=cfg, id_partitions=3)
        build_index(spark, fuzz_docs, b_, "text", ["doc_id"], cfg=cfg, id_partitions=17)
        ia, ib = Bm25Index(spark, a), Bm25Index(spark, b_)
        assert ia.meta["n_docs"] == ib.meta["n_docs"]
        assert ia.meta["sum_dl"] == ib.meta["sum_dl"]

        cols = ["term_key", "shard", "block_ord", "min_doc", "max_doc",
                "count", "wand_fn", "wand_tf", "ids_meta", "ids_bytes",
                "tfs_meta", "tfs_bytes"]
        pa = sorted(map(tuple, ia.postings_df().select(cols).collect()))
        pb = sorted(map(tuple, ib.postings_df().select(cols).collect()))
        assert pa == pb

        da = sorted(map(tuple, ia.docs_df().select("doc_id", "p_doc_id", "fieldnorm").collect()))
        db = sorted(map(tuple, ib.docs_df().select("doc_id", "p_doc_id", "fieldnorm").collect()))
        assert da == db

    def test_resume_skips_completed_stages(self, spark, fuzz_docs, tmp_path):
        import os

        cfg = Bm25Config(shard_size=256)
        d = str(tmp_path / "resume")
        build_index(spark, fuzz_docs, d, "text", ["doc_id"], cfg=cfg)
        idx1 = Bm25Index(spark, d)
        t1 = idx1.search("t3 t55", 10)
        # simulate crash after postings stage: drop terms + meta
        shutil.rmtree(os.path.join(d, "terms"))
        os.remove(os.path.join(d, "meta.json"))
        docs_mtime = os.path.getmtime(os.path.join(d, "docs", "_SUCCESS"))
        build_index(spark, fuzz_docs, d, "text", ["doc_id"], cfg=cfg, resume=True)
        assert os.path.getmtime(os.path.join(d, "docs", "_SUCCESS")) == docs_mtime
        idx2 = Bm25Index(spark, d)
        assert idx2.search("t3 t55", 10) == t1

    def test_lineage_and_content_sha(self, spark, fuzz_docs, fuzz_index):
        lin = fuzz_index.lineage_df().collect()
        assert len(lin) == (N_DOCS + 255) // 256  # one row per shard
        assert sum(r.n_docs for r in lin) == N_DOCS
        assert all(r.n_blocks > 0 and r.packed_bytes > 0 for r in lin)
        # per-row invariant: content sha256 carried unmutated
        joined = (
            fuzz_index.docs_df()
            .select("p_doc_id", "content_sha256")
            .join(
                fuzz_docs.select(
                    F.col("doc_id").alias("p_doc_id"),
                    F.sha2(F.col("text"), 256).alias("src_sha"),
                ),
                "p_doc_id",
            )
            .filter(F.col("content_sha256") != F.col("src_sha"))
            .count()
        )
        assert joined == 0

    def test_block_invariants(self, fuzz_index):
        rows = fuzz_index.postings_df().collect()
        from bm25spark.config import BLOCK_SIZE

        by_ts = {}
        for r in rows:
            assert 1 <= r["count"] <= BLOCK_SIZE
            assert r.min_doc <= r.max_doc
            assert r.min_doc // fuzz_index.shard_size == r.shard
            assert r.max_doc // fuzz_index.shard_size == r.shard
            by_ts.setdefault((bytes(r.term_key), r.shard), []).append(r)
        for (_, _), blocks in by_ts.items():
            blocks.sort(key=lambda r: r.block_ord)
            # only the last block of a (term, shard) chain may be partial
            for bl in blocks[:-1]:
                assert bl["count"] == BLOCK_SIZE
            # ascending non-overlapping doc ranges
            for x, y in zip(blocks, blocks[1:]):
                assert x.max_doc < y.min_doc


def test_cache_eviction_mid_query_still_serves(spark, tmp_path):
    """Regression: a key cached at query entry must survive the cache
    clear that admitting another key's postings can trigger mid-call
    (the output snapshot holds the reference) — previously a KeyError
    crash. Exercised at several byte budgets including ones that force
    a clear between the two terms and ones that cache nothing."""
    rnd = random.Random(9)
    rows = [
        (i, " ".join(f"w{rnd.randrange(30)}" for _ in range(30)))
        for i in range(200)
    ]
    d = str(tmp_path / "idx_evict")
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    build_index(spark, df, d, "text", ["doc_id"], cfg=Bm25Config(shard_size=128))
    ref = Bm25Index(spark, d).search("w1 w2", 10)
    one_term = sum(
        len(b)
        for p in Bm25Index(spark, d).postings_for(
            Bm25Index(spark, d).query_keys("w1")
        ).values()
        for b in p["ids_bytes"] + p["tfs_bytes"]
    )
    for limit in (1, one_term + 8, one_term * 10):
        idx = Bm25Index(spark, d)
        idx.postings_cache_limit = limit
        idx.search("w1", 10)           # may cache w1
        assert idx.search("w1 w2", 10) == ref  # admit(w2) may clear w1
        assert idx.search("w1 w2", 10) == ref  # and again from cold/warm mix


def test_taat_dense_and_sparse_bit_identical(spark, tmp_path):
    """The dense-accumulator and candidate-union forms of the taat
    kernel must return the same (id, score) lists bit-for-bit — on
    plain queries, with a prefilter mask, and at k beyond the
    candidate count."""
    from bm25spark.wand import taat_topk

    rnd = random.Random(7)
    rows = [
        (i, " ".join(f"w{rnd.randrange(40)}" for _ in range(25)))
        for i in range(300)
    ]
    d = str(tmp_path / "idx_dense")
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    build_index(spark, df, d, "text", ["doc_id"], cfg=Bm25Config(shard_size=128))
    idx = Bm25Index(spark, d)
    fns = idx.fieldnorms()
    mask = np.zeros(idx.n_docs, dtype=bool)
    mask[::3] = True
    for q in ["w1 w2 w3", "w0 w39", "w5 w6 w7 w8 w9"]:
        terms = idx.term_postings(q)
        for am in (None, mask):
            for k in (10, 1000):
                a = taat_topk(terms, fns, k, allowed_mask=am, dense=True)
                b = taat_topk(terms, fns, k, allowed_mask=am, dense=False)
                assert a == b, (q, k, am is not None)


def test_unicode_analyzer_end_to_end(spark, tmp_path):
    """Built-in ``unicode`` analyzer (CJK bigrams + alphanumeric
    words): build + WAND search + exact scorer agree, and CJK queries
    retrieve CJK documents — the self-contained counterpart of the
    reference's jieba/lindera tokenizer configs (README.md:174-344)."""
    rows = [
        (0, "全文検索エンジンを構築する"),
        (1, "分散処理で全文検索を高速化する設計"),
        (2, "machine learning pipelines"),
        (3, "검색 엔진 최적화"),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    d = str(tmp_path / "idx_uni")
    cfg = Bm25Config(analyzer="unicode", shard_size=128)
    build_index(spark, df, d, "text", ["doc_id"], cfg=cfg)
    idx = Bm25Index(spark, d)

    hits = idx.search("全文検索", 10)
    assert {i for i, _ in hits} == {0, 1}
    assert [i for i, _ in idx.search("검색 엔진", 10)] == [3]
    assert [i for i, _ in idx.search("machine learning", 10)] == [2]

    # indexed WAND vs exact Catalyst scorer: rank- and score-identical
    exact = exact_topk(
        spark, df, "text", "doc_id", "全文検索", 10, cfg=cfg, round_score=None
    ).collect()
    assert [(r.doc_id, round(r.score, 9)) for r in exact] == [
        (i, round(s, 9)) for i, s in hits
    ]


def test_custom_analyzer_end_to_end(spark, tmp_path):
    """register_analyzer: the pluggable-analyzer extension point (the
    reference delegates tokenization to external pg_tokenizer configs;
    ours is a registered text->tokens function shipped inside the UDF
    closure). Build + WAND search + exact oracle all honor it."""
    from bm25spark.analyze import register_analyzer

    # a CSV "analyzer": comma-separated fields, no lowercasing
    register_analyzer("csv", lambda text: [t for t in text.split(",") if t])
    rows = [(1, "Alpha,beta"), (2, "beta,beta,gamma"), (3, "Alpha,Alpha")]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    d = str(tmp_path / "idx_csv")
    cfg = Bm25Config(analyzer="csv", shard_size=128)
    build_index(spark, df, d, "text", ["doc_id"], cfg=cfg)
    idx = Bm25Index(spark, d)
    assert idx.meta["analyzer"] == "csv"
    got = [r.doc_id for r in idx.search_df("Alpha", 10).collect()]
    assert got == [3, 1]  # case preserved: doc 2 has no "Alpha"
    exact = [
        r.doc_id
        for r in exact_topk(spark, df, "text", "doc_id", "Alpha", 10, cfg=cfg)
        .collect()
    ]
    assert exact == got


def test_prune_blocks_bit_identical(spark, tmp_path):
    """θ-seeded exact block pruning (VERDICT r3 #6): taat over the
    pruned term set must be BIT-identical to the unpruned run — over a
    skewed corpus (hot + mid + rare terms), many queries, both mask
    states, small and large k — and must actually prune on the skewed
    single-hot-term query. Only single-term queries are cut: a
    multi-term query keeps every block."""
    from bm25spark.wand import prune_blocks, taat_topk

    rnd = random.Random(17)
    rows = []
    for i in range(2000):
        # hot term in every doc, but tf is SKEWED: a handful of docs
        # carry tf 8 (real hot terms have heavy-tailed tf) — that is
        # what makes θ exceed most blocks' upper bound
        toks = ["hot"] * (8 if i % 251 == 0 else 1 + i % 2)
        toks += [f"mid{rnd.randrange(8)}" for _ in range(4)]
        toks += [f"rare{rnd.randrange(400)}" for _ in range(3)]
        rnd.shuffle(toks)
        rows.append((i, " ".join(toks)))
    d = str(tmp_path / "idx_prune")
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    build_index(spark, df, d, "text", ["doc_id"], cfg=Bm25Config(shard_size=256))
    idx = Bm25Index(spark, d)
    fns = idx.fieldnorms()
    mask = np.zeros(idx.n_docs, dtype=bool)
    mask[::2] = True

    queries = [
        "hot", "hot rare1", "hot mid0 rare2", "mid1 mid2",
        "rare3 rare4 rare5", "hot mid3 mid4 rare6 rare7", "mid5",
        "hot zz_absent",
    ] + [f"hot rare{rnd.randrange(400)} mid{rnd.randrange(8)}" for _ in range(10)]
    for q in queries:
        terms = idx.term_postings(q)
        for am in (None, mask):
            for k in (10, 138, 5000):
                want = taat_topk(terms, fns, k, allowed_mask=am)
                # fresh TermPostings per run: prune attaches .decoded
                t2 = idx.term_postings(q)
                got_terms, st = prune_blocks(t2, fns, k, allowed_mask=am)
                got = taat_topk(got_terms, fns, k, allowed_mask=am)
                assert got == want, (q, k, am is not None)
                assert st["blocks_kept"] <= st["blocks_total"]
                assert st["bytes_kept"] <= st["bytes_total"]
                if len(t2) > 1:
                    assert st["blocks_kept"] == st["blocks_total"], (q, k)

    # the headline case: hot-term query, k below the heavy-tail count —
    # θ lands on a tf-8 doc's score, so only blocks containing one of
    # the 8 heavy docs survive (≤ 8 of 16)
    t2 = idx.term_postings("hot")
    want = taat_topk(t2, fns, 5)
    t2 = idx.term_postings("hot")
    got_terms, st = prune_blocks(t2, fns, 5)
    assert taat_topk(got_terms, fns, 5) == want
    # 8 heavy blocks + at most one θ-seed chunk block survive
    assert st["blocks_kept"] <= st["blocks_total"] // 2 + 1, st


def test_dict_segmenter_end_to_end(spark, tmp_path):
    """Dictionary CJK segmentation (VERDICT r3 missing #5): the
    in-tree MaxMatch analyzer registered via the plugin point builds,
    searches, and agrees with the exact scorer — the same lifecycle a
    jieba/lindera registration would use."""
    from bm25spark.analyze import make_dict_analyzer
    from bm25spark.query import exact_topk

    make_dict_analyzer(
        ["全文検索", "エンジン", "構築", "分散", "処理", "機械", "学習"],
        name="jp_dict",
    )
    rows = [
        (0, "全文検索エンジンを構築する"),
        (1, "分散処理で全文検索を高速化"),
        (2, "機械学習の分散処理"),
        (3, "machine learning pipelines"),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    d = str(tmp_path / "idx_jpdict")
    cfg = Bm25Config(analyzer="jp_dict", shard_size=128)
    build_index(spark, df, d, "text", ["doc_id"], cfg=cfg)
    idx = Bm25Index(spark, d)

    # whole dictionary words are single terms (not bigram fragments)
    assert {i for i, _ in idx.search("全文検索", 10)} == {0, 1}
    assert [i for i, _ in idx.search("機械学習", 10)] == [2]
    assert {i for i, _ in idx.search("分散処理", 10)} == {1, 2}
    # exact scorer (same registered analyzer) rank-identical
    for q in ("全文検索", "分散処理 構築"):
        wand = idx.search_df(q, 10, round_score=None).collect()
        exact = exact_topk(
            spark, df, "text", "doc_id", q, 10, cfg=cfg, round_score=None
        ).collect()
        assert [(r.doc_id, round(r.score, 9)) for r in wand] == [
            (r.doc_id, round(r.score, 9)) for r in exact
        ], q


def test_analyzer_fingerprint_guard(spark, tmp_path):
    """Same analyzer NAME, different wordlist -> reopening the index
    fails loudly instead of silently tokenizing queries differently
    (VERDICT r4 missing #4). Re-registering the ORIGINAL wordlist
    opens fine; built-ins are fingerprinted too (stable across
    sessions by construction)."""
    import pytest as _pytest

    from bm25spark.analyze import make_dict_analyzer

    words_v1 = ["全文検索", "分散", "処理"]
    make_dict_analyzer(words_v1, name="fp_dict")
    rows = [(0, "全文検索の分散処理"), (1, "分散システム")]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    d = str(tmp_path / "idx_fp")
    build_index(
        spark, df, d, "text", ["doc_id"],
        cfg=Bm25Config(analyzer="fp_dict", shard_size=128),
    )
    import json

    meta = json.loads(open(f"{d}/meta.json").read())
    assert meta["analyzer_fingerprint"].startswith("dict:")

    # same name, DIFFERENT wordlist -> open refuses
    make_dict_analyzer(["完全に", "違う", "辞書"], name="fp_dict")
    with _pytest.raises(ValueError, match="fingerprint"):
        Bm25Index(spark, d)
    # original wordlist back (any order/dup) -> opens and searches
    make_dict_analyzer(list(reversed(words_v1)) + ["分散"], name="fp_dict")
    idx = Bm25Index(spark, d)
    assert [i for i, _ in idx.search("全文検索", 10)] == [0]


def test_vocab_fingerprint_chains_base_behavior():
    """A vocab analyzer built over a PLUGGABLE base must change its
    fingerprint when the base's wordlist changes, even under the same
    base name — hashing only the base NAME would silently pass the
    guard (review finding)."""
    from bm25spark.analyze import (
        ANALYZER_FINGERPRINTS,
        make_dict_analyzer,
        make_vocab_analyzer,
    )

    make_dict_analyzer(["全文検索", "分散"], name="fpv_base")
    make_vocab_analyzer(["全文検索"], base="fpv_base", name="fpv_top")
    fp1 = ANALYZER_FINGERPRINTS["fpv_top"]
    # same base NAME, different wordlist -> derived fingerprint moves
    make_dict_analyzer(["違う", "辞書"], name="fpv_base")
    make_vocab_analyzer(["全文検索"], base="fpv_base", name="fpv_top")
    assert ANALYZER_FINGERPRINTS["fpv_top"] != fp1


class TestWordpieceAndVocabAnalyzers:
    """BERT-style WordPiece + corpus-trained vocabulary analyzers —
    the two pg_tokenizer surfaces (bert preset, custom model;
    reference README.md:49-56,143-166) previously missing."""

    def test_wordpiece_canonical_segmentation(self):
        from bm25spark.analyze import make_wordpiece_analyzer

        wp = make_wordpiece_analyzer(["un", "##aff", "##able", "aff"])
        assert wp("unaffable") == ["un", "##aff", "##able"]
        # greedy longest-match-first: initial 'aff' wins over 'a...'
        assert wp("affable") == ["aff", "##able"]
        # no continuation for the tail -> whole word is [unk]
        assert wp("unaffordable") == ["[unk]"]
        # pre-tokenization is the simple analyzer's split
        assert wp("un-aff") == ["un", "aff"]

    def test_wordpiece_unk_and_max_chars(self):
        import pytest as _pytest

        from bm25spark.analyze import make_wordpiece_analyzer

        chars = "abcdefghijklmnopqrstuvwxyz0123456789"
        wp = make_wordpiece_analyzer(
            list(chars) + ["##" + c for c in chars], max_chars=5
        )
        assert wp("abcde") == list("abcde")[:1] + ["##" + c for c in "bcde"]
        assert wp("abcdef") == ["[unk]"]  # over max_chars
        with _pytest.raises(ValueError, match="word-initial"):
            make_wordpiece_analyzer(["##only", "##cont"])

    def test_wordpiece_matches_oracle_sql(self, spark):
        """Spark exact_topk under the gate vocabulary == the
        recursive-CTE DuckDB oracle, on a corpus with multi-piece,
        single-char, and [unk] words."""
        import duckdb

        from bm25spark.analyze import make_wordpiece_analyzer
        from bm25spark.config import Bm25Config
        from bm25spark.fixtures import WORDPIECE_GATE_VOCAB
        from bm25spark.oracle import wordpiece_topk_sql
        from bm25spark.query import exact_topk

        rows = [
            (1, "merge the window batch"),
            (2, "quartz zebra merge"),  # q/z words -> [unk]
            (3, "window window streaming"),
            (4, "spark scanner merged windows"),
            (5, "plain words here"),
        ]
        wp = make_wordpiece_analyzer(WORDPIECE_GATE_VOCAB, name="wp_test")
        df = spark.createDataFrame(rows, "doc_id INT, text STRING")
        got = [
            (r.doc_id, r.score)
            for r in exact_topk(
                spark, df, "text", "doc_id", "merge quartz window", 5,
                cfg=Bm25Config(analyzer="wp_test"),
            ).collect()
        ]
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM (VALUES "
            + ",".join(f"({i}, '{t}')" for i, t in rows)
            + ") AS t(doc_id, text)"
        )
        want = [
            (r[0], r[1])
            for r in con.execute(
                wordpiece_topk_sql(
                    wp("merge quartz window"), 5, WORDPIECE_GATE_VOCAB
                )
            ).fetchall()
        ]
        assert got == want and len(got) > 0

    def test_vocab_analyzer_filters_and_train_is_deterministic(self, spark):
        from bm25spark.analyze import make_vocab_analyzer
        from bm25spark.api import train_corpus_vocab

        rows = [(i, "alpha beta gamma" if i % 2 else "alpha delta") for i in range(10)]
        df = spark.createDataFrame(rows, "doc_id INT, text STRING")
        v1 = train_corpus_vocab(df, top_n=2)
        v2 = train_corpus_vocab(df.repartition(7), top_n=2)
        # df(alpha)=10 > df(beta)=df(gamma)=5 = df(delta)=5; tie-break
        # is token ASC -> beta
        assert v1 == v2 == ["alpha", "beta"]
        va = make_vocab_analyzer(v1)
        assert va("delta alpha beta theta") == ["alpha", "beta"]

    def test_analyzer_fingerprints_differ_by_content(self):
        from bm25spark.analyze import (
            ANALYZER_FINGERPRINTS,
            make_vocab_analyzer,
            make_wordpiece_analyzer,
        )

        make_wordpiece_analyzer(["ab", "##cd"], name="fp_wp")
        fp1 = ANALYZER_FINGERPRINTS["fp_wp"]
        make_wordpiece_analyzer(["ab", "##ce"], name="fp_wp")
        assert ANALYZER_FINGERPRINTS["fp_wp"] != fp1
        make_vocab_analyzer(["x"], name="fp_v")
        fpv = ANALYZER_FINGERPRINTS["fp_v"]
        make_vocab_analyzer(["y"], name="fp_v")
        assert ANALYZER_FINGERPRINTS["fp_v"] != fpv
        assert fp1.startswith("wordpiece:") and fpv.startswith("vocab:")

    def test_wordpiece_indexed_vs_exact_rank_identical(self, spark, tmp_path):
        """The subword analyzer through the REAL index path: build →
        BMW search must be rank-identical to the exact Catalyst scorer
        (the reference's own fuzz invariant), with [unk] terms
        participating as first-class postings."""
        from bm25spark.analyze import make_wordpiece_analyzer
        from bm25spark.config import Bm25Config
        from bm25spark.fixtures import WORDPIECE_GATE_VOCAB
        from bm25spark.index import Bm25Index
        from bm25spark.build import build_index
        from bm25spark.query import exact_topk

        make_wordpiece_analyzer(WORDPIECE_GATE_VOCAB, name="wp_idx")
        rows = [
            (0, "merge the window batch stream"),
            (1, "quartz zebra merge quartz"),
            (2, "window window streaming scanner"),
            (3, "spark merged windows batches"),
            (4, "plain words only here"),
            (5, "zigzag quizzes everywhere"),
        ]
        df = spark.createDataFrame(rows, "doc_id INT, text STRING")
        d = str(tmp_path / "idx_wp")
        cfg = Bm25Config(analyzer="wp_idx", shard_size=128)
        build_index(spark, df, d, "text", ["doc_id"], cfg=cfg)
        idx = Bm25Index(spark, d)
        for q in ("merge quartz window", "zebra stream", "spark batch"):
            wand = idx.search_df(q, 10, round_score=None).collect()
            exact = exact_topk(
                spark, df, "text", "doc_id", q, 10, cfg=cfg, round_score=None
            ).collect()
            assert [(r.doc_id, round(r.score, 9)) for r in wand] == [
                (r.doc_id, round(r.score, 9)) for r in exact
            ], q
        # [unk] behaves as a real term: q/z docs rank for any unk query
        got = {i for i, _ in idx.search("quiz", 10)}
        assert got == {1, 5}

    def test_wordpiece_sql_differential_fuzz(self):
        """Hypothesis: for random vocabularies and random corpora, the
        recursive-CTE SQL segmentation produces the exact (doc, token,
        tf) multiset the Python analyzer produces — including [unk]
        collapse and greedy longest-match tie behavior."""
        from collections import Counter

        import duckdb
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from bm25spark.analyze import make_wordpiece_analyzer
        from bm25spark.oracle import wordpiece_tokens_sql

        piece = st.text(alphabet="abc", min_size=1, max_size=3)
        vocab_s = st.tuples(
            st.lists(piece, min_size=1, max_size=8),   # initial
            st.lists(piece, min_size=0, max_size=8),   # continuation
        )
        word = st.text(alphabet="abcq", min_size=1, max_size=8)
        corpus_s = st.lists(
            st.lists(word, min_size=0, max_size=6), min_size=1, max_size=5
        )

        @settings(max_examples=60, deadline=None)
        @given(vocab_s, corpus_s)
        def run(vparts, docs):
            initial, cont = vparts
            vocab = list(initial) + ["##" + p for p in cont]
            wp = make_wordpiece_analyzer(vocab)
            rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
            want = Counter()
            for i, text in rows:
                for tok in wp(text):
                    want[(i, tok)] += 1
            con = duckdb.connect()
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM (VALUES "
                + ",".join(f"({i}, '{t}')" for i, t in rows)
                + ") AS t(doc_id, text)"
            )
            got = Counter()
            for doc_id, tok, tf in con.execute(
                wordpiece_tokens_sql(vocab)
            ).fetchall():
                got[(doc_id, tok)] = tf
            assert got == want, (vocab, rows)

        run()


def test_inspect_index_hashed_and_raw_keys(spark, tmp_path):
    """Storage introspection: raw-interned keys decode back to the
    token, hashed keys (>=16-byte tokens) surface as NULL, df /
    n_blocks / packed_bytes agree with the physical artifact."""
    from bm25spark.api import inspect_index

    long_tok = "a" * 20  # >= KEY_WIDTH -> keyed-BLAKE3 hashed key
    rows = [(i, f"merge {long_tok}") for i in range(5)] + [
        (5, "merge only")
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    d = str(tmp_path / "idx_inspect")
    build_index(
        spark, df, d, "text", ["doc_id"],
        cfg=Bm25Config(shard_size=128),
    )
    out = {
        (r["token"], r["df"], r["n_blocks"]): r
        for r in inspect_index(spark, d).collect()
    }
    assert ("merge", 6, 1) in out
    # the hashed term: token NULL, df 5
    hashed = [r for r in out.values() if r["token"] is None]
    assert len(hashed) == 1 and hashed[0]["df"] == 5
    assert len(bytes(hashed[0]["term_key"])) == 16
    # packed bytes agree with the loaded postings
    idx = Bm25Index(spark, d)
    (tp,) = idx.term_postings("merge")
    want = sum(len(a) + len(b) for a, b in zip(tp.ids_bytes, tp.tfs_bytes))
    got = inspect_index(spark, d, term="merge").collect()[0]
    assert got["packed_bytes"] == want and got["n_blocks"] == tp.n_blocks


class TestWarmApi:
    """warm(): a fresh index instance pre-warmed on the hot query set
    serves its first query from the resident caches — same results,
    no cold Arrow read."""

    def test_warm_prefills_and_preserves_results(self, spark, fuzz_index):
        cold_hits = fuzz_index.search("t3 t55 t999", 10, mode="taat")
        b2 = Bm25Index(spark, fuzz_index.index_dir)
        stats = b2.warm(["t3 t55 t999"])
        assert stats["terms_warmed"] > 0
        assert stats["cache_bytes"] > 0
        assert b2._fieldnorms is not None
        assert b2._terms_ds is not None and b2._postings_ds is not None
        assert b2._decoded_cache  # decoded arrays resident pre-query
        warm_hits = b2.search("t3 t55 t999", 10, mode="taat")
        assert canon(warm_hits) == canon(cold_hits)

    def test_warm_empty_is_fieldnorms_only(self, spark, fuzz_index):
        b2 = Bm25Index(spark, fuzz_index.index_dir)
        stats = b2.warm()
        assert stats == {"terms_warmed": 0, "cache_bytes": 0}
        assert b2._fieldnorms is not None


def test_footer_schema_equals_spark_inference(spark, tmp_path):
    """``artifacts.spark_schema`` returns exactly the schema Spark
    infers for every flat artifact (payload with a timestamp and a
    decimal included), Parquet without Spark's footer key falls back to
    inference, and a bucket-directory postings scan returns the rows of
    the filtered whole relation."""
    import datetime
    import decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bm25spark import maintain
    from bm25spark.artifacts import spark_schema
    from bm25spark.index import read_parquet

    rows = [
        (
            i,
            datetime.datetime(2024, 1, 1 + i % 28, 12, i % 60),
            decimal.Decimal(f"{i}.25"),
            f"w{i % 7} w{i % 5} common",
        )
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "doc_id INT, ts TIMESTAMP, amount DECIMAL(12,2), text STRING"
    )
    d = str(tmp_path / "idx")
    build_index(
        spark, df.filter("doc_id < 50"), d, "text", ["doc_id"],
        payload_cols=["doc_id", "ts", "amount"], cfg=Bm25Config(shard_size=128),
    )
    maintain.insert(spark, d, df.filter("doc_id >= 50"), "text")
    maintain.delete(
        spark, d, df.filter("doc_id % 9 = 0").select("doc_id", "ts", "amount")
    )
    idx = Bm25Index(spark, d)
    gen = maintain._gen_of(idx.meta)
    paths = [idx._path(n) for n in ("docs", "terms", "lineage")] + [
        maintain._delta_path(d, gen),
        maintain._tomb_path(d, gen),
        maintain._delta_tomb_path(d, gen),
    ]
    for p in paths:
        inferred = spark.read.parquet(p).schema
        assert spark_schema(p) == inferred, p
        assert read_parquet(spark, p).schema == inferred, p
    assert {"ts", "amount"} <= set(idx.result_schema().fieldNames())

    foreign = str(tmp_path / "foreign")
    (tmp_path / "foreign").mkdir()
    pq.write_table(
        pa.table({"a": [1, 2], "b": ["x", None]}), f"{foreign}/part-0.parquet"
    )
    assert spark_schema(foreign) is None
    got = read_parquet(spark, foreign)
    assert got.schema == spark.read.parquet(foreign).schema
    assert sorted(got.collect()) == sorted(spark.read.parquet(foreign).collect())

    keys = idx.query_keys("w1 w3 common")
    buckets = idx._buckets(keys)
    whole = idx.postings_df().filter(F.col("bucket").isin(buckets))
    part = idx.postings_df(buckets)
    assert part.schema == idx.postings_df().schema
    assert whole.count() > 0
    assert sorted(part.collect()) == sorted(whole.collect())
