"""Bm25Index — loader + search front-end over the build artifacts.

Query lifecycle (reference entry point 2, SURVEY.md §3.2): analyze the
query text with the index's analyzer+seed -> look up per-term stats in
the terms dictionary (broadcast-sized read, J1) -> load only those
terms' posting blocks (Parquet directory pruning on ``bucket`` +
row-group predicate pushdown on ``term_key`` — the Spark form of the
reference's token B-tree descent, address_tokens.rs:61-98) -> run a
kernel from :mod:`bm25spark.wand` -> map internal doc ids back to
payload columns (J3, address_documents.rs: the distributed path labels
each hit in the shard task that scores it, from that shard's docs rows;
the driver path reads the payload rows of its k hits).
"""

from __future__ import annotations

import json
import os
import numpy as np
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from . import artifacts
from . import fs as fsio
from .artifacts import read_parquet
from .analyze import analyze_query, check_analyzer_fingerprint, get_analyzer
from .build import POSTINGS_SCHEMA, term_bucket
from .scoring import Cache
from .wand import TermPostings, bmw_topk, taat_topk


class Bm25Index:
    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        try:
            self.meta = json.loads(
                fsio.read_text(fsio.join(index_dir, "meta.json"))
            )
        except FileNotFoundError:
            raise FileNotFoundError(
                f"no meta.json under {index_dir} — not a published "
                "bm25spark index"
            ) from None
        if self.meta.get("magic") != "bm25spark":
            raise ValueError(f"not a bm25spark index: {index_dir}")
        from .config import FORMAT_VERSION

        if int(self.meta.get("version", 1)) != FORMAT_VERSION:
            raise ValueError(
                f"index {index_dir} is format v{self.meta.get('version')}, "
                f"engine reads v{FORMAT_VERSION} (v1 term keys used the "
                "blake2b fallback; rebuild the index, or intern with "
                "analyze.intern_blake2b for a one-off migration)"
            )
        self.k1 = float(self.meta["k1"])
        self.b = float(self.meta["b"])
        self.seed = bytes.fromhex(self.meta["seed"])
        self.analyzer = get_analyzer(self.meta["analyzer"])
        # refuse to tokenize queries with a different analyzer than the
        # corpus was indexed with (same name, different wordlist)
        check_analyzer_fingerprint(
            self.meta["analyzer"], self.meta.get("analyzer_fingerprint")
        )
        self.n_docs = int(self.meta["n_docs"])
        self.avgdl = float(self.meta["avgdl"]) if self.n_docs else 0.0
        self.shard_size = int(self.meta["shard_size"])
        self.payload_cols = list(self.meta["payload_cols"])
        self._fieldnorms: np.ndarray | None = None
        # Resident-server caches (the engine-side analogue of the
        # reference's reliance on PostgreSQL's buffer pool: a repeated
        # term's dictionary row and posting blocks come from memory,
        # not storage). Instance-bound, so a post-vacuum reload starts
        # clean; the postings cache is byte-bounded and simply resets
        # when full (queries re-read from Parquet — correctness never
        # depends on the cache).
        self._term_cache: dict[bytes, dict | None] = {}
        self._postings_cache: dict[bytes, dict] = {}
        self._decoded_cache: dict[bytes, tuple] = {}
        # ONE byte counter covers both the raw-bytes and decoded-array
        # caches, so the documented budget is the actual ceiling
        self._cache_bytes = 0
        self._terms_ds = None
        self._postings_ds = None
        self.postings_cache_limit = int(
            os.environ.get("BM25SPARK_POSTINGS_CACHE_BYTES", 512 << 20)
        )

    def _path(self, name: str) -> str:
        return fsio.join(self.index_dir, self.meta["paths"][name])

    # ---- artifact access -------------------------------------------------

    def docs_df(self) -> DataFrame:
        return read_parquet(self.spark, self._path("docs"))

    def postings_df(self, buckets: list[int] | None = None) -> DataFrame:
        """The postings relation; with ``buckets``, a scan of only those
        ``bucket=N`` directories, which Spark lists on the driver (no
        job up to 32 paths). Each must exist: every indexed key's
        bucket has blocks."""
        root = self._path("postings")
        reader = self.spark.read.schema(POSTINGS_SCHEMA).option("basePath", root)
        if buckets is None:
            return reader.parquet(root)
        return reader.parquet(*[fsio.join(root, f"bucket={b}") for b in buckets])

    def terms_df(self) -> DataFrame:
        return read_parquet(self.spark, self._path("terms"))

    def lineage_df(self) -> DataFrame:
        return read_parquet(self.spark, self._path("lineage"))

    def result_schema(self, with_query_id: bool = False):
        """``([query_id,] payload cols..., score)`` — the schema of every
        search result frame, its payload types read from the docs
        footer (no DataFrame is built)."""
        docs = (
            artifacts.spark_schema(self._path("docs")) or self.docs_df().schema
        )
        payload = [
            StructField(c, docs[f"p_{c}"].dataType) for c in self.payload_cols
        ]
        return StructType(
            ([StructField("query_id", StringType())] if with_query_id else [])
            + payload
            + [StructField("score", DoubleType())]
        )

    def empty_df(self, with_query_id: bool = False) -> DataFrame:
        """An empty search result (see :meth:`result_schema`)."""
        return self.spark.createDataFrame([], self.result_schema(with_query_id))

    def query_keys(self, query_text: str) -> list[bytes]:
        return analyze_query(query_text, self.analyzer, self.seed)

    def _buckets(self, keys: list[bytes]) -> list[int]:
        return sorted({term_bucket(k, self.meta["term_buckets"]) for k in keys})

    def term_stats(self, keys: list[bytes]) -> dict[bytes, dict]:
        """J1: dictionary lookup for the query's keys — a direct Arrow
        read with term_key pushdown (no Spark job), the analogue of the
        reference's token B-tree descent (address_tokens.rs:61-98).
        Hits the resident dictionary cache first (absent keys are
        negative-cached)."""
        if not keys:
            return {}
        missing = [k for k in keys if k not in self._term_cache]
        if missing:
            found = artifacts.read_terms(
                self._path("terms"), missing, self._buckets(missing),
                dataset=self._terms_dataset(),
            )
            for k in missing:
                self._term_cache[k] = found.get(k)
        return {k: v for k in keys if (v := self._term_cache.get(k)) is not None}

    def postings_for(self, keys: list[bytes]) -> dict[bytes, dict]:
        """Query terms' blocks, grouped per key, ordered by
        (shard, block_ord) — Arrow read with hive bucket-directory
        pruning + term_key row-group pushdown, behind the byte-bounded
        resident block cache."""
        if not keys:
            return {}
        # snapshot the hits FIRST: _cache_admit below may clear both
        # caches mid-call, and a key cached at entry must still be
        # served from the snapshot (the dict holds the reference)
        out = {k: self._postings_cache[k] for k in keys if k in self._postings_cache}
        missing = [k for k in keys if k not in out]
        if missing:
            found = artifacts.read_postings(
                self._path("postings"), missing, self._buckets(missing),
                self.shard_size, dataset=self._postings_dataset(),
            )
            for k, p in found.items():
                size = sum(len(b) for b in p["ids_bytes"]) + sum(
                    len(b) for b in p["tfs_bytes"]
                )
                if self._cache_admit(size):
                    self._postings_cache[k] = p
                    self._cache_bytes += size
                out[k] = p
        return out

    def _terms_dataset(self) -> pads.Dataset:
        if self._terms_ds is None:
            self._terms_ds = pads.dataset(self._path("terms"), format="parquet")
        return self._terms_ds

    def _postings_dataset(self) -> pads.Dataset:
        if self._postings_ds is None:
            self._postings_ds = pads.dataset(
                self._path("postings"), format="parquet", partitioning="hive"
            )
        return self._postings_ds

    def _cache_admit(self, size: int) -> bool:
        """Admission control shared by the raw-postings and
        decoded-array caches: one byte counter against
        ``postings_cache_limit``. An entry larger than the whole budget
        is served but never cached (no clear-then-insert blowout); when
        the pool is full both caches reset together."""
        if size > self.postings_cache_limit:
            return False
        if self._cache_bytes + size > self.postings_cache_limit:
            self._postings_cache.clear()
            self._decoded_cache.clear()
            self._cache_bytes = 0
        return True

    def fieldnorms(self) -> np.ndarray:
        """Dense uint8 fieldnorm array indexed by internal doc id.

        Driver-resident here (fine through bench scale); the
        distributed query path slices this per shard instead — each
        task reads only its shard's rows (docs artifact is sorted by
        doc_id, so the read prunes row groups).
        """
        if self._fieldnorms is None:
            self._fieldnorms = artifacts.read_fieldnorms(
                self._path("docs"), self.n_docs
            )
        return self._fieldnorms

    def warm(self, queries=None) -> dict:
        """Resident-server pre-warm: load the fieldnorm array, open
        the terms/postings Arrow datasets (first-touch metadata
        parse), and — for each query string in ``queries`` — pull its
        terms' dictionary rows, packed posting bytes, AND decoded
        arrays into the resident caches, so the first real query pays
        no cold read (round-5 measured sf34 first-touch p90 at
        58.6 ms vs 7.8 ms warm). Cache budget still applies: warming
        more than ``postings_cache_limit`` bytes resets the pool, so
        warm the hot set, not the dictionary. Returns
        {"terms_warmed", "cache_bytes"}."""
        self.fieldnorms()
        self._terms_dataset()
        self._postings_dataset()
        n = 0
        for q in queries or ():
            n += len(self.term_postings(q))
        return {"terms_warmed": n, "cache_bytes": self._cache_bytes}

    # ---- search ------------------------------------------------------------

    def term_postings(self, query_text: str) -> list[TermPostings]:
        keys = self.query_keys(query_text)
        stats = self.term_stats(keys)
        present = [k for k in keys if k in stats]  # absent terms skipped
        postings = self.postings_for(present)
        out = []
        for k in present:
            s, p = stats[k], postings[k]
            tp = TermPostings(
                cache=Cache(self.n_docs, s["df"], self.k1, self.b, self.avgdl),
                wand_fn=s["wand_fn"],
                wand_tf=s["wand_tf"],
                **p,
            )
            # decoded-postings memo: a repeated (hot) term skips block
            # decompression entirely — arrays are treated read-only by
            # the kernels; budget shared with the byte cache's limit
            dec = self._decoded_cache.get(k)
            if dec is None:
                dec = tp.decode_all()
                size = dec[0].nbytes + dec[1].nbytes
                if self._cache_admit(size):
                    self._decoded_cache[k] = dec
                    self._cache_bytes += size
            tp.decoded = dec
            out.append(tp)
        return out

    def search(
        self,
        query_text: str,
        k: int = 100,
        mode: str = "taat",
        allowed_mask: np.ndarray | None = None,
        max_driver_docs: int | None = None,
    ) -> list[tuple[int, float]]:
        """-> [(internal doc_id, score)] best-first, doc-id tiebreak.

        Refuses above the driver-residency guardrail
        (config.DRIVER_SEARCH_MAX_DOCS): this path materializes an
        O(n_docs) fieldnorm array on the driver, which is a bench-scale
        convenience, not the scale path — use
        :func:`bm25spark.distributed.search_distributed` (or
        ``search_df``, which auto-routes) beyond it."""
        from .config import DRIVER_SEARCH_MAX_DOCS

        limit = DRIVER_SEARCH_MAX_DOCS if max_driver_docs is None else max_driver_docs
        if self.n_docs > limit:
            raise ValueError(
                f"index has {self.n_docs} docs > driver-path guardrail "
                f"{limit}; use bm25spark.distributed.search_distributed "
                "(search_df auto-routes)"
            )
        terms = self.term_postings(query_text)
        if not terms:
            return []
        fns = self.fieldnorms()
        if mode == "taat":
            return taat_topk(terms, fns, k, allowed_mask=allowed_mask)
        if mode == "bmw":
            allowed = None
            if allowed_mask is not None:
                allowed = lambda d: bool(allowed_mask[d])  # noqa: E731
            return bmw_topk(terms, fns, k, allowed=allowed)
        raise ValueError(f"unknown mode {mode!r}")

    def search_df(
        self,
        query_text: str,
        k: int = 100,
        mode: str = "taat",
        round_score: int | None = 4,
        slack: int = 128,
        negate: bool = False,
        max_driver_docs: int | None = None,
    ) -> DataFrame:
        """Search returning a DataFrame of payload columns + score.

        With ``round_score`` set, candidates are over-fetched by
        ``slack`` and re-ranked by (rounded score, doc_id) so output
        ordering is reproducible across engines/float libraries.
        ``negate=True`` returns the reference's ``<&>`` operator
        convention — the negated score, ascending = best first
        (src/index/operators.rs:54, F7).

        Above the driver-residency guardrail this auto-routes to the
        per-shard distributed kernel (identical rounding/ordering
        convention), so callers never silently hit the O(n_docs)
        driver fieldnorm array.
        """
        from .config import DRIVER_SEARCH_MAX_DOCS

        limit = DRIVER_SEARCH_MAX_DOCS if max_driver_docs is None else max_driver_docs
        if self.n_docs > limit:
            from .distributed import search_distributed

            out = search_distributed(
                self.spark, self.index_dir, query_text, k, round_score=round_score
            )
            if negate:
                out = out.withColumn("score", -F.col("score"))
            return out
        hits = self.search(
            query_text,
            k + (slack if round_score else 0),
            mode=mode,
            max_driver_docs=limit,  # honor a caller-raised guardrail
        )
        if round_score is not None:
            hits = [(d, round(s, round_score)) for d, s in hits]
            hits.sort(key=lambda t: (-t[1], t[0]))
        hits = hits[:k]
        if not hits:
            return self.empty_df()
        scores = {d: float(s) for d, s in hits}
        pay = (
            self.docs_df()
            .filter(F.col("doc_id").isin(list(scores)))
            .select("doc_id", *[f"p_{c}" for c in self.payload_cols])
            .collect()
        )
        pay.sort(key=lambda r: (-scores[r.doc_id], r.doc_id))
        out = self.spark.createDataFrame(
            [(*r[1:], scores[r.doc_id]) for r in pay], self.result_schema()
        )
        if negate:
            out = out.withColumn("score", -F.col("score"))
        return out
