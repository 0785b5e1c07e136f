"""Unit tests for the pure-NumPy core: fieldnorm table, intern,
packing roundtrips, scoring goldens. Mirrors the reference's unit
layer (SURVEY.md §5): score roundtrips + simd compress/decompress
property tests."""

from __future__ import annotations

import math
import os
import re

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from bm25spark import packing as P
from bm25spark.analyze import (
    analyze_document,
    analyze_query,
    intern,
    tokenize_code,
    tokenize_english,
    tokenize_simple,
)
from bm25spark.config import Bm25Config, derive_seed
from bm25spark.fieldnorm import (
    FIELDNORM_TO_LENGTH,
    fieldnorm_to_length,
    length_to_fieldnorm,
)
from bm25spark.scoring import Cache, idf, tf_score, wand_max


def _byte4_to_int(b: int) -> int:
    """Lucene's ``SmallFloat.byte4ToInt`` (org/apache/lucene/util/
    SmallFloat.java): bytes below ``NUM_FREE_VALUES`` (24) are exact,
    the rest decode ``b - 24`` as a 4-bit-mantissa float via
    ``int4ToLong``. Yields the same 256 lengths as the reference's
    ``FIELDNORM_TO_LENGTH``, by an unrelated construction."""
    num_free_values = 24
    if b < num_free_values:
        return b
    i = b - num_free_values
    bits, shift = i & 7, (i >> 3) - 1
    return num_free_values + (bits if shift == -1 else (bits | 8) << shift)


class TestFieldnorm:
    def test_golden_values(self):
        # hand-copied from /root/reference/crates/bm25/src/bm25.rs:15-283
        golden = {0: 0, 40: 40, 41: 42, 48: 56, 49: 60, 56: 88, 57: 96,
                  64: 152, 65: 168, 128: 32792, 255: 2013265944}
        for i, v in golden.items():
            assert FIELDNORM_TO_LENGTH[i] == v

    def test_full_table_matches_reference_source(self):
        # All 256 entries against Lucene's SmallFloat.byte4ToInt, written
        # out above and sharing no code with fieldnorm._build_table.
        expected = [_byte4_to_int(b) for b in range(256)]
        assert len(FIELDNORM_TO_LENGTH) == 256
        assert FIELDNORM_TO_LENGTH.tolist() == expected
        # And against the reference table itself wherever its source is
        # checked out.
        bm25_rs = "/root/reference/crates/bm25/src/bm25.rs"
        if os.path.exists(bm25_rs):
            src = open(bm25_rs).read()
            body = src[src.index("["): src.index("];")]
            vals = [int(x.replace("_", "")) for x in re.findall(r"(\d[\d_]*),", body)]
            assert len(vals) == 256
            assert (np.array(vals) == FIELDNORM_TO_LENGTH).all()

    def test_round_down(self):
        assert length_to_fieldnorm(41) == 40  # rounds down to 40
        assert length_to_fieldnorm(42) == 41
        assert length_to_fieldnorm(43) == 41
        assert fieldnorm_to_length(length_to_fieldnorm(100)) <= 100

    @given(st.integers(min_value=0, max_value=2**31))
    def test_roundtrip_property(self, n):
        fn = int(length_to_fieldnorm(n))
        lo = int(fieldnorm_to_length(fn))
        assert lo <= n
        if fn < 255:
            assert n < int(fieldnorm_to_length(fn + 1))


class TestIntern:
    SEED = derive_seed("test-index")

    def test_short_raw_zero_padded(self):
        # byte-identical to reference vector.rs:21-24
        assert intern(self.SEED, b"spark") == b"spark" + b"\x00" * 11
        assert intern(self.SEED, b"a" * 15) == b"a" * 15 + b"\x00"

    def test_long_hashed_16_bytes_nonzero_tail(self):
        key = intern(self.SEED, b"a" * 16)
        assert len(key) == 16 and key[-1] != 0
        assert key != intern(derive_seed("other"), b"a" * 16)

    def test_nul_forces_hash_path(self):
        key = intern(self.SEED, b"a\x00b")
        assert len(key) == 16 and key != b"a\x00b".ljust(16, b"\x00")

    def test_deterministic(self):
        assert intern(self.SEED, b"x" * 40) == intern(self.SEED, b"x" * 40)

    def test_long_token_cross_engine_vectors(self):
        """Pinned vectors for the >=16-byte (hashed) path under the
        default index seed. Round 3 switched the long-token hash from
        the documented blake2b deviation to keyed BLAKE3
        (bm25spark/blake3.py, pure-Python from the public spec), so
        term keys now follow the reference's exact construction
        (vector.rs:19-35: first 16 bytes of blake3::keyed_hash, last
        byte forced nonzero). Any change to the hash breaks every
        persisted index -> these vectors are frozen.
        """
        from bm25spark.analyze import intern_str

        seed = derive_seed("bm25spark")
        assert seed.hex() == (
            "788b13b0d7c20e3c55bfdf41c971fc19"
            "1428bb1b05c20396acd5682b4a7626f4"
        )
        vectors = {
            "supercalifragilisticexpialidocious":
                "2f3c13ab41e60d871acba0dfe7f6ed72",
            "a" * 16: "ce60f92a3322912a83ab03241896fcaa",
            "interprocedural_analysis_pass":
                "7c89401ef655f6c25f05111e5422b579",
            "ThisIsAVeryLongCamelCaseIdentifierName":
                "556aead549153401f5fb1d40bec6db34",
            # NUL forces the hash path even under 16 bytes
            "z" * 15 + "\x00": "ec8d5d0f9a3313f907094de57eb6cc42",
        }
        for tok, want in vectors.items():
            assert intern_str(seed, tok).hex() == want, tok

    def test_blake2b_fallback_vectors_frozen(self):
        """The pre-round-3 blake2b intern stays available (indexes
        persisted before the blake3 switch bake its keys into their
        artifacts); its original frozen vectors still hold."""
        from bm25spark.analyze import intern_blake2b

        seed = derive_seed("bm25spark")
        vectors = {
            b"supercalifragilisticexpialidocious":
                "f2f96016088c67e8d19a74486234a441",
            b"a" * 16: "2966e6ffb0fb87bc6241660da2540e09",
            b"z" * 15 + b"\x00": "688b7d040da05da6ba6a462905697389",
        }
        for tok, want in vectors.items():
            assert intern_blake2b(seed, tok).hex() == want, tok


class TestBlake3:
    """bm25spark.blake3 — pure-Python BLAKE3 (public spec)."""

    def test_public_known_answers(self):
        """Known-answer digests published with the BLAKE3 reference
        implementation (unkeyed mode; the empty-input digest is the
        most widely cited BLAKE3 constant)."""
        from bm25spark.blake3 import blake3_hash

        assert blake3_hash(b"").hex() == (
            "af1349b9f5f9a1a6a0404dea36dcc949"
            "9bcb25c9adc112b7cc9a93cae41f3262"
        )
        assert blake3_hash(b"abc").hex() == (
            "6437b3ac38465133ffb63b75273a8db5"
            "48c558465d79db03fd359c6cd5bd9d85"
        )
        assert blake3_hash(b"hello world").hex() == (
            "d74981efa70a0c880b8d8c1985d075db"
            "cbf679b99a5f9914e5aaf96b831a9e24"
        )

    def test_keyed_empty_official_vector(self):
        """First vector of the official test_vectors.json (key =
        "whats the Elvish word for friend", empty input)."""
        from bm25spark.blake3 import keyed_hash

        assert keyed_hash(
            b"whats the Elvish word for friend", b""
        ).hex().startswith("92b2b75604ed3c761f9d6f62392c8a92")

    def test_tree_structure_against_chunk_stack(self):
        """Structural differential: the recursive tree in blake3.py vs
        an independent iterative chunk-stack reduction (the other
        canonical formulation), across block/chunk boundaries."""
        from bm25spark.blake3 import (
            CHUNK_LEN,
            IV,
            KEYED_HASH,
            PARENT,
            ROOT,
            _chunk_cv,
            _compress,
            keyed_hash,
        )
        import struct

        key = bytes(range(32))
        kw = struct.unpack("<8I", key)

        def parent(l, r, flags=0):
            return _compress(
                kw, (*l, *r), 0, 64, KEYED_HASH | PARENT | flags
            )[:8]

        def stack_hash(data: bytes) -> bytes:
            """Incremental formulation (reference_impl.rs's Hasher):
            binary-counter merge while absorbing, then a right-to-left
            finalize with ROOT on the last parent."""
            n = max(1, (len(data) + CHUNK_LEN - 1) // CHUNK_LEN)
            if n == 1:
                return struct.pack(
                    "<8I", *_chunk_cv(kw, KEYED_HASH, data, 0, True)
                )
            stack, total = [], 0
            for i in range(n - 1):
                cv = _chunk_cv(
                    kw, KEYED_HASH,
                    data[i * CHUNK_LEN:(i + 1) * CHUNK_LEN], i, False,
                )
                total += 1
                t = total
                while t & 1 == 0:
                    cv = parent(stack.pop(), cv)
                    t >>= 1
                stack.append(cv)
            cv = _chunk_cv(
                kw, KEYED_HASH, data[(n - 1) * CHUNK_LEN:], n - 1, False
            )
            while len(stack) > 1:
                cv = parent(stack.pop(), cv)
            return struct.pack("<8I", *parent(stack.pop(), cv, ROOT))

        pat = bytes(i % 251 for i in range(9000))
        for ln in (0, 1, 63, 64, 65, 127, 128, 1023, 1024, 1025,
                   2048, 2049, 3072, 3073, 4096, 4097, 5121, 8192):
            assert keyed_hash(key, pat[:ln]) == stack_hash(pat[:ln]), ln


class TestPacking:
    @settings(max_examples=200, deadline=None)
    @given(
        st.integers(min_value=1, max_value=128),
        st.integers(min_value=0, max_value=2**31),
        st.randoms(use_true_random=False),
    )
    def test_doc_id_roundtrip(self, n, base, rnd):
        gaps = np.array([rnd.randint(0, 2**20) for _ in range(n)], dtype=np.uint64)
        ids = (np.cumsum(gaps + 1) + base).astype(np.uint32)
        m, d = P.compress_document_ids(int(ids.min()), ids)
        out = P.decompress_document_ids(int(ids.min()), m, d)[: len(ids)]
        assert (out == ids).all()

    @settings(max_examples=200, deadline=None)
    @given(
        st.integers(min_value=1, max_value=128),
        st.randoms(use_true_random=False),
    )
    def test_tf_roundtrip(self, n, rnd):
        tfs = np.array(
            [rnd.randint(1, 2 ** rnd.randint(1, 31)) for _ in range(n)],
            dtype=np.uint32,
        )
        m, d = P.compress_term_frequencies(tfs)
        out = P.decompress_term_frequencies(m, d)[: len(tfs)]
        assert (out == tfs).all()

    @settings(
        max_examples=30,
        deadline=None,
        suppress_health_check=[HealthCheck.data_too_large],
    )
    @given(
        st.integers(min_value=1, max_value=16),
        st.randoms(use_true_random=False),
    )
    def test_batch_decode_equals_per_block(self, nb, rnd):
        """decompress_blocks_batch (grouped-by-width vector unpack) is
        element-identical to the per-block decoders, over a mix of full
        bitpacked and tail bytepacked blocks with varied widths."""
        metas_i, datas_i, bases, counts = [], [], [], []
        metas_t, datas_t = [], []
        want_ids, want_tfs = [], []
        base = 0
        for _ in range(nb):
            n = 128 if rnd.random() < 0.7 else rnd.randint(1, 127)
            gaps = np.array(
                [rnd.randint(0, 2 ** rnd.randint(0, 20)) for _ in range(n)],
                dtype=np.uint64,
            )
            ids = (np.cumsum(gaps + 1) + base).astype(np.uint32)
            tfs = np.array(
                [rnd.randint(1, 2 ** rnd.randint(1, 20)) for _ in range(n)],
                dtype=np.uint32,
            )
            m, d = P.compress_document_ids(int(base), ids)
            metas_i.append(m); datas_i.append(d)
            m, d = P.compress_term_frequencies(tfs)
            metas_t.append(m); datas_t.append(d)
            bases.append(base); counts.append(n)
            want_ids.append(ids); want_tfs.append(tfs)
            base = int(ids[-1])
        got_ids = P.decompress_blocks_batch(metas_i, datas_i, counts, bases=bases)
        got_tfs = P.decompress_blocks_batch(metas_t, datas_t, counts)
        for g, w, n in zip(got_ids, want_ids, counts):
            assert (g[:n] == w).all()
        for g, w, n in zip(got_tfs, want_tfs, counts):
            assert (g[:n] == w).all()

    def test_tail_blocks_equal_per_block(self):
        """compress_tail_blocks (the build's segmented tail-block pass)
        is byte-identical, block by block, to compress_document_ids /
        compress_term_frequencies for every tail length 1..127."""
        rng = np.random.default_rng(7)
        lens = np.arange(1, 128)
        ids, tfs = [], []
        for n in lens:
            bits = int(rng.integers(0, 25))
            gaps = rng.integers(0, 2**bits + 1, size=n, dtype=np.uint64)
            ids.append((np.cumsum(gaps) + int(rng.integers(0, 2**20))).astype(np.uint32))
            tfs.append(rng.integers(1, 2 ** int(rng.integers(1, 31)), size=n).astype(np.uint32))
        id_meta, id_data = P.compress_tail_blocks(np.concatenate(ids), lens, ordered=True)
        tf_meta, tf_data = P.compress_tail_blocks(np.concatenate(tfs), lens, ordered=False)
        for i, n in enumerate(lens):
            assert (int(id_meta[i]), id_data[i]) == P.compress_document_ids(int(ids[i][0]), ids[i]), n
            assert (int(tf_meta[i]), tf_data[i]) == P.compress_term_frequencies(tfs[i]), n

    def test_size_parity_with_reference_formula(self):
        # full block, bitwidth w -> 128*w/8 bytes; metadata (0<<7)|w
        ids = np.arange(128, dtype=np.uint32) * 5 + 7
        m, d = P.compress_document_ids(7, ids)
        assert m == 3 and len(d) == 128 * 3 // 8
        # tail block, bytewidth max(1, ceil(bits/8)); metadata (1<<7)|bw
        ids = np.array([100, 101], dtype=np.uint32)
        m, d = P.compress_document_ids(100, ids)
        assert m == (1 << 7) | 1 and len(d) == 2

    def test_constant_block_zero_width(self):
        ids = np.full(128, 42, dtype=np.uint32)
        m, d = P.compress_document_ids(42, ids)
        assert m == 0 and d == b""
        out = P.decompress_document_ids(42, m, d)
        assert (out == 42).all()


class TestScoring:
    def test_idf_golden(self):
        # ln((N+1)/(df+0.5)), reference bm25.rs:285-289
        assert idf(10, 6) == pytest.approx(math.log(11.0 / 6.5), abs=0)
        assert idf(1, 1) == pytest.approx(math.log(2.0 / 1.5), abs=0)
        assert float(idf(10, 10)) > 0  # never negative for df <= N

    def test_tf_uses_quantized_length(self):
        # dl=41 quantizes to 40: same score as dl=40
        fn41 = int(length_to_fieldnorm(41))
        fn40 = int(length_to_fieldnorm(40))
        s41 = tf_score(fn41, 3, 1.2, 0.75, 50.0)
        s40 = tf_score(fn40, 3, 1.2, 0.75, 50.0)
        assert s41 == s40

    def test_cache_equals_direct_formula(self):
        cache = Cache(1000, 37, 1.2, 0.75, 120.0)
        for fn in (0, 17, 99, 255):
            for tf in (1, 2, 50):
                direct = float(idf(1000, 37)) * float(
                    tf_score(fn, tf, 1.2, 0.75, 120.0)
                )
                assert float(cache.evaluate(fn, tf)) == pytest.approx(
                    direct, rel=1e-15
                )

    def test_wand_max_first_argmax(self):
        fns = np.array([10, 5, 10], dtype=np.uint8)
        tfs = np.array([3, 3, 3], dtype=np.uint32)
        fn, tf = wand_max(fns, tfs, 1.2, 0.75, 100.0)
        assert (fn, tf) == (5, 3)  # smaller dl -> higher score


class TestAnalyzers:
    SEED = derive_seed("t")

    def test_simple(self):
        assert tokenize_simple("Hello, World-42!") == ["hello", "world", "42"]

    def test_code_splits_identifiers(self):
        toks = tokenize_code("getUserByID snake_case_name HTTPServer v2")
        assert "get" in toks and "user" in toks and "by" in toks and "id" in toks
        assert "snake" in toks and "case" in toks and "name" in toks
        assert "http" in toks and "server" in toks
        assert "v2" in toks or ("v" in toks and "2" in toks)

    def test_english_stopwords_and_stem(self):
        toks = tokenize_english("The searching of databases is ranking")
        assert "the" not in toks and "of" not in toks and "is" not in toks
        assert "search" in toks and "databas" in toks and "rank" in toks

    def test_unicode_cjk_bigrams(self):
        from bm25spark.analyze import tokenize_unicode

        assert tokenize_unicode("全文検索") == ["全文", "文検", "検索"]
        assert tokenize_unicode("mixed中文and英文words") == [
            "mixed", "中文", "and", "英文", "words",
        ]
        assert tokenize_unicode("한국어 분석") == ["한국", "국어", "분석"]
        # lone CJK char stays findable as a unigram
        assert tokenize_unicode("中") == ["中"]
        # NFKC folds fullwidth forms; lowercase applies
        assert tokenize_unicode("Ａｂｃ１２３") == ["abc123"]
        # query tokens overlap document tokens for any substring >= 2 chars
        doc = set(tokenize_unicode("全文検索エンジンを構築する"))
        assert set(tokenize_unicode("検索エンジン")) <= doc
        # supplementary-plane ideographs (Ext B rare-name chars) and
        # katakana phonetic extensions bigram like any other CJK
        assert tokenize_unicode("一\U00020BB7七") == ["一\U00020BB7", "\U00020BB7七"]
        assert tokenize_unicode("ㇱㇵㇶ") == ["ㇱㇵ", "ㇵㇶ"]


    def test_unicode_mixed_script_words(self):
        """Mixed CJK/Latin inside ONE whitespace word: the analyzer
        splits script runs and bigrams only the CJK spans (the SQL
        oracle's single-script constraint is an oracle limitation,
        documented at oracle.py — the Python analyzer handles mixed
        runs, pinned here)."""
        from bm25spark.analyze import tokenize_unicode

        assert tokenize_unicode("mixed漢字word") == ["mixed", "漢字", "word"]
        assert tokenize_unicode("全文search検索") == ["全文", "search", "検索"]
        # CJK run resumes bigramming after the Latin span
        assert tokenize_unicode("検索エンジンv2構築") == [
            "検索", "索エ", "エン", "ンジ", "ジン", "v2", "構築"
        ]
        # lone CJK char between Latin spans survives as a unigram
        assert tokenize_unicode("a漢b") == ["a", "漢", "b"]

    def test_analyze_document_merges_and_sorts(self):
        items, length = analyze_document(
            "b a b c a b", lambda s: s.split(), self.SEED
        )
        keys = [k for k, _ in items]
        assert keys == sorted(keys)
        assert dict(items)[intern(self.SEED, b"b")] == 3
        assert length == 6

    def test_analyze_query_dedup_sorted(self):
        keys = analyze_query("b a b a", lambda s: s.split(), self.SEED)
        assert keys == sorted(set(keys)) and len(keys) == 2


class TestTokenizeCodeEquivalence:
    """The one-pass tokenize_code must equal the original two-stage
    form (identifier findall -> underscore split -> camel findall):
    the part regex cannot match across non-alphanumeric characters,
    so the global pass is the union of the per-piece passes."""

    @staticmethod
    def _two_stage(text):
        import unicodedata
        from bm25spark.analyze import _CAMEL_RE, _IDENT_RE

        text = unicodedata.normalize("NFKD", text)
        out = []
        for ident in _IDENT_RE.findall(text):
            for piece in ident.split("_"):
                if not piece:
                    continue
                parts = _CAMEL_RE.findall(piece)
                if len(parts) > 1:
                    out.extend(p.lower() for p in parts)
                elif parts:
                    out.append(parts[0].lower())
        return out

    def test_edge_strings(self):
        from bm25spark.analyze import tokenize_code

        cases = [
            "", "_", "__", "a", "A", "fooBar", "FOOBar", "FOO_bar",
            "foo-bar", "parseHTTPResponse2xx", "αβγ Ünïcode_Test",
            "snake_case_ID x86_64 __init__ a1B2c3", "MiXeD_CaSe123",
            "tab\tnew\nline", "emoji 🚀 done", "ends_", "_starts",
        ]
        for s in cases:
            assert tokenize_code(s) == self._two_stage(s), s

    def test_corpus_sample(self, spark):
        from bm25spark.analyze import tokenize_code

        rows = (
            spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
            .limit(300)
            .collect()
        )
        for r in rows:
            assert tokenize_code(r.text) == self._two_stage(r.text)

    def test_memo_identical_results(self):
        from bm25spark.analyze import analyze_document, get_analyzer
        from bm25spark.config import Bm25Config

        cfg = Bm25Config()
        an = get_analyzer("code")
        memo = {}
        texts = ["fooBar baz_qux fooBar", "FOO2bar foo", "baz_qux BAZ"]
        for t in texts:
            assert analyze_document(t, an, cfg.seed) == analyze_document(
                t, an, cfg.seed, memo
            )


class TestPruneBlocksProperty:
    """Spark-free hypothesis fuzz for wand.prune_blocks: synthetic
    posting structures (random dfs, tfs, fieldnorms, shard splits,
    masks, k) must yield BIT-identical taat_topk output with and
    without the pre-cut — the exactness proof exercised far beyond the
    corpus-shaped tests."""

    @staticmethod
    def _mk_term(rnd, n_docs, shard_size, k1, b, avgdl, fieldnorms):
        import numpy as np

        from bm25spark import packing
        from bm25spark.scoring import Cache
        from bm25spark.wand import TermPostings

        df = rnd.randint(1, n_docs)
        ids = np.array(sorted(rnd.sample(range(n_docs), df)), dtype=np.int64)
        # heavy-tailed tfs so block maxima actually vary
        tfs = np.array(
            [rnd.choice([1, 1, 1, 2, 2, 3, 8, 40]) for _ in range(df)],
            dtype=np.int64,
        )
        rows = []
        # blocks must not cross shard boundaries and hold <= 128 ids
        start = 0
        while start < df:
            shard = int(ids[start] // shard_size)
            hi = start
            while (
                hi < df
                and hi - start < 128
                and int(ids[hi] // shard_size) == shard
            ):
                hi += 1
            bi, bt = ids[start:hi], tfs[start:hi]
            base = shard * shard_size
            local = (bi - base).astype(np.uint32)
            im, ib = packing.compress_document_ids(int(local[0]), local)
            tm, tb = packing.compress_term_frequencies(bt.astype(np.uint32))
            fn = fieldnorms[bi]
            cache = Cache(n_docs, df, k1, b, avgdl)
            sc = np.asarray(cache.evaluate(fn, bt), dtype=np.float64)
            am = int(np.argmax(sc))
            rows.append(
                (shard, base, int(bi[0]), int(bi[-1]), len(bi),
                 int(fn[am]), int(bt[am]), im, ib, tm, tb)
            )
            start = hi
        cache = Cache(n_docs, df, k1, b, avgdl)
        g = np.asarray(cache.evaluate(fieldnorms[ids], tfs), dtype=np.float64)
        ga = int(np.argmax(g))
        return TermPostings(
            cache=cache,
            wand_fn=int(fieldnorms[ids[ga]]),
            wand_tf=int(tfs[ga]),
            min_doc=np.array([r[2] for r in rows], dtype=np.int64),
            max_doc=np.array([r[3] for r in rows], dtype=np.int64),
            count=np.array([r[4] for r in rows], dtype=np.int64),
            block_fn=np.array([r[5] for r in rows], dtype=np.int64),
            block_tf=np.array([r[6] for r in rows], dtype=np.int64),
            ids_meta=[r[7] for r in rows],
            ids_bytes=[r[8] for r in rows],
            tfs_meta=[r[9] for r in rows],
            tfs_bytes=[r[10] for r in rows],
            shard_base=np.array([r[1] for r in rows], dtype=np.int64),
        )

    @given(seed=st.integers(0, 10_000))
    @settings(max_examples=80, deadline=None)
    def test_pruned_taat_bit_identical(self, seed):
        import random as _random

        import numpy as np

        from bm25spark.wand import prune_blocks, taat_topk

        rnd = _random.Random(seed)
        n_docs = rnd.choice([40, 300, 1500])
        shard_size = rnd.choice([64, 128, 256, 1 << 14])
        k1, b = 1.2, 0.75
        avgdl = rnd.uniform(5.0, 200.0)
        fieldnorms = np.array(
            [rnd.randint(1, 40) for _ in range(n_docs)], dtype=np.uint8
        )
        n_terms = rnd.randint(1, 4)
        terms = [
            self._mk_term(rnd, n_docs, shard_size, k1, b, avgdl, fieldnorms)
            for _ in range(n_terms)
        ]
        k = rnd.choice([1, 3, 10, 200])
        mask = None
        if rnd.random() < 0.5:
            mask = np.zeros(n_docs, dtype=bool)
            mask[:: rnd.randint(2, 5)] = True
        want = taat_topk(terms, fieldnorms, k, allowed_mask=mask)
        pruned, stats = prune_blocks(terms, fieldnorms, k, allowed_mask=mask)
        got = taat_topk(pruned, fieldnorms, k, allowed_mask=mask)
        assert got == want, (seed, n_docs, k, stats)
        assert stats["blocks_kept"] <= stats["blocks_total"]
        if n_terms > 1:  # only single-term queries are cut
            assert stats["blocks_kept"] == stats["blocks_total"], stats


class TestPruneBlocksBatchProperty:
    """Batch (union-of-queries) pruning must leave every query's
    taat_topk bit-identical to its unpruned run, while the union keep
    never exceeds the total."""

    @given(seed=st.integers(0, 10_000))
    @settings(max_examples=60, deadline=None)
    def test_batch_pruned_taat_bit_identical(self, seed):
        import random as _random

        import numpy as np

        from bm25spark.wand import prune_blocks_batch, taat_topk

        rnd = _random.Random(seed)
        n_docs = rnd.choice([40, 300, 1500])
        shard_size = rnd.choice([128, 1 << 14])
        k1, b = 1.2, 0.75
        avgdl = rnd.uniform(5.0, 200.0)
        fieldnorms = np.array(
            [rnd.randint(1, 40) for _ in range(n_docs)], dtype=np.uint8
        )
        n_terms = rnd.randint(1, 5)
        keys = [bytes([65 + i]) * 4 for i in range(n_terms)]
        term_map = {
            key: TestPruneBlocksProperty._mk_term(
                rnd, n_docs, shard_size, k1, b, avgdl, fieldnorms
            )
            for key in keys
        }
        # fresh copies for the unpruned reference runs (prune attaches
        # .decoded to the originals)
        rnd2 = _random.Random(seed)
        rnd2.choice([40, 300, 1500]); rnd2.choice([128, 1 << 14])
        rnd2.uniform(5.0, 200.0)
        [rnd2.randint(1, 40) for _ in range(n_docs)]
        rnd2.randint(1, 5)
        ref_map = {
            key: TestPruneBlocksProperty._mk_term(
                rnd2, n_docs, shard_size, k1, b, avgdl, fieldnorms
            )
            for key in keys
        }
        n_q = rnd.randint(1, 3)
        qterms = {
            f"q{i}": rnd.sample(keys, rnd.randint(1, n_terms))
            for i in range(n_q)
        }
        k = rnd.choice([1, 3, 10, 200])
        mask = None
        if rnd.random() < 0.5:
            mask = np.zeros(n_docs, dtype=bool)
            mask[:: rnd.randint(2, 5)] = True
        want = {
            qid: taat_topk(
                [ref_map[key] for key in qkeys], fieldnorms, k,
                allowed_mask=mask,
            )
            for qid, qkeys in qterms.items()
        }
        pruned, stats = prune_blocks_batch(
            term_map, qterms, fieldnorms, k, allowed_mask=mask
        )
        for qid, qkeys in qterms.items():
            got = taat_topk(
                [pruned[key] for key in qkeys if key in pruned],
                fieldnorms, k, allowed_mask=mask,
            )
            assert got == want[qid], (seed, qid, k, stats)
            if len(qkeys) > 1:  # terms of multi-term queries stay whole
                assert all(
                    pruned[key].n_blocks == term_map[key].n_blocks
                    for key in qkeys
                ), (seed, qid)
        assert stats["blocks_kept"] <= stats["blocks_total"]


class TestSessionDefaults:
    """JVM-free: the SparkSession defaults derive from the host unless
    SPARK_GRAFT_CPUS / BM25SPARK_DRIVER_MEM override them."""

    def test_env_overrides(self, monkeypatch):
        from bm25spark import session

        monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
        monkeypatch.setenv("BM25SPARK_DRIVER_MEM", "2g")
        assert session._default_cores() == 3
        assert session._default_driver_mem() == "2g"

    def test_host_derived(self, monkeypatch):
        from bm25spark import session

        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
        monkeypatch.delenv("BM25SPARK_DRIVER_MEM", raising=False)
        monkeypatch.setattr(session.os, "cpu_count", lambda: 6)
        conf = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": (15 << 30) // 4096}
        monkeypatch.setattr(session.os, "sysconf", conf.__getitem__)
        assert session._default_cores() == 6
        assert session._default_driver_mem() == f"{(15 << 10) // 2}m"
        # a large host is capped at 16g
        conf["SC_PHYS_PAGES"] = (128 << 30) // 4096
        assert session._default_driver_mem() == f"{16 << 10}m"


class TestRelabelProperty:
    """Spark-free property test of vacuum's survivor relabel
    (``maintain._relabel_ids``): over any batch of ids in any order,
    each non-tombstoned id maps to its rank among all survivors,
    computed here by enumeration, and each tombstoned id to -1."""

    @settings(max_examples=300, deadline=None)
    @given(st.data())
    def test_kept_ids_and_ranks(self, data):
        from bm25spark.maintain import _relabel_ids

        n = data.draw(st.integers(1, 200), label="n_docs")
        ids_ = st.integers(0, n - 1)
        tombs = data.draw(
            st.one_of(
                st.just([]),
                st.just(list(range(n))),
                st.lists(ids_, max_size=n).map(lambda t: [0, n - 1, 0, n - 1] + t),
                st.lists(ids_, min_size=1, max_size=2 * n).map(lambda t: t + t),
            ),
            label="tombstones",
        )
        batch = data.draw(st.permutations(range(n)), label="batch")
        batch = np.array(batch[: data.draw(st.integers(0, n))], dtype=np.int64)

        dead = set(tombs)
        survivors = [i for i in range(n) if i not in dead]
        rank = {old: new for new, old in enumerate(survivors)}
        new = _relabel_ids(batch, np.unique(np.array(tombs, dtype=np.int64)))
        assert new.tolist() == [rank.get(int(i), -1) for i in batch]
