"""Mutation & maintenance: insert / delete / vacuum + delta-aware
search (SURVEY.md §2.9 M2-M4, §2.5 O6, §2.7 Q4).

Batch-native restatement of the reference's growing/sealed segment
model (insert appends to a growing tape, insert.rs:23-79; bulkdelete
flags docs, bulkdelete.rs:20-112; VACUUM merges and relabels,
maintain.rs:27-311):

- ``insert``   appends raw rows to a *delta* parquet table, stamped
  with a monotonically increasing mutation sequence number.
- ``delete``   appends tombstones: sealed docs by internal id (looked
  up via payload key), delta rows by payload key + the same sequence
  counter. A delta row is hidden only by a tombstone whose sequence is
  *later* than the row's, so insert(key) after delete(key) is live
  again — matching the reference's heap semantics, where a row
  inserted after a DELETE is a new, visible tuple.
- ``search_with_delta`` unions the distributed sealed search
  (tombstones shipped per shard as a blocklist mask, P4 — never an
  O(n_docs) driver allocation) with the growing segment (Q4), scored
  by the SAME ``taat_topk`` kernel: each partition of the live delta
  is one pseudo-shard task, scored against the *sealed* statistics
  (N, avgdl, df), exactly like the reference, whose growing-segment
  scan uses the token dictionary and jump stats as of the last merge
  (search.rs:49-51,83-135). Terms absent from the sealed dictionary
  contribute nothing even if present in delta docs (search.rs:55-62).
  Both legs are Spark tasks in one plan; nothing is collected except
  the final k rows per query, so an un-compacted delta of 10M rows is
  scanned where it lives, not on the driver.
- ``vacuum``   compacts: drops tombstoned docs, relabels survivors to
  dense ids (the reference's relabel array, maintain.rs:330-362 — here
  by arithmetic, ``old_id`` minus the tombstones below it, in one
  narrow map over docs and staging), tokenizes and appends delta docs,
  re-runs the build's sort+flush stages, and atomically swaps the
  artifact dirs (publish-last, like build.rs:60-70). A vacuum that
  fails removes its half-built generation.
- ``maybe_vacuum`` is the auto-seal policy: vacuum once the live delta
  exceeds a row threshold — the analogue of the reference's
  ``bm25.segment_growing_max_page_size`` GUC (README.md:466: growing
  segments auto-seal at 4,096 pages).
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from . import fs as fsio
from .artifacts import read_parquet
from .build import (
    _assign_doc_ids,
    _ensure_readable_parquet,
    _fieldnorm_expr,
    _read_doc_terms,
    _release_rdds,
    finalize_index,
)
from .config import Bm25Config
from .index import Bm25Index
from .udfs import with_doc_terms

#: auto-seal threshold (live delta rows) used when none is given —
#: the reference seals growing segments at 4,096 pages (README.md:466);
#: rows are our page analogue.
DEFAULT_MAX_DELTA_ROWS = 4096


def _gen_of(meta: dict) -> int:
    return int(meta.get("generation", 0))


def _read_gen(index_dir: str) -> int:
    return _gen_of(json.loads(fsio.read_text(fsio.join(index_dir, "meta.json"))))


def _mut_dir(index_dir: str, gen: int) -> str:
    """The growing segment is *generation-scoped*: every mutation file
    of generation G lives under ``mut_gen{G}/``. Vacuum absorbs
    generation G and publishes meta with generation G+1 — a reader
    opened after the publish reads ``mut_gen{G+1}`` (empty), a reader
    opened before keeps its old sealed artifacts AND its old delta
    dir, so there is no window in which a delta row is visible twice
    (the old design deleted the delta *after* the meta repoint and a
    newly opened reader in between double-counted). The absorbed
    ``mut_gen{G}`` rides the retired-paths list to gc_index."""
    return fsio.join(index_dir, f"mut_gen{gen}")


#: pre-generation-scoped layout kept these at the index root; a gen-0
#: index written by that layout resolves to them until its first
#: vacuum (writers and readers resolve identically, so pending
#: mutations survive the layout change)
_LEGACY_MUT_NAMES = {
    "delta": "delta",
    "tombstones": "tombstones",
    "delta_tombstones": "delta_tombstones",
    "delta_seq": "delta_seq",
}


def _mut_path(index_dir: str, gen: int, name: str) -> str:
    p = fsio.join(_mut_dir(index_dir, gen), name)
    if gen == 0 and not fsio.exists(p):
        legacy = fsio.join(index_dir, _LEGACY_MUT_NAMES[name])
        if fsio.exists(legacy):
            return legacy
    return p


def _delta_path(index_dir: str, gen: int) -> str:
    return _mut_path(index_dir, gen, "delta")


def _tomb_path(index_dir: str, gen: int) -> str:
    return _mut_path(index_dir, gen, "tombstones")


def _delta_tomb_path(index_dir: str, gen: int) -> str:
    return _mut_path(index_dir, gen, "delta_tombstones")


def _seq_path(index_dir: str, gen: int) -> str:
    return _mut_path(index_dir, gen, "delta_seq")


class _MutationLock:
    """Serializes mutators (insert/delete/vacuum) on one index via an
    O_EXCL lockfile — the filesystem analogue of the reference's
    reliance on PostgreSQL's relation locks for its multithreaded
    insert/delete/vacuum fuzz (tests/fuzz:217-303). Two concurrent
    inserts therefore mint distinct sequence numbers, and an insert
    racing a vacuum fails loudly (TimeoutError) instead of writing
    into a growing segment the vacuum is absorbing.

    On an object store the same guarantee comes from a conditional-
    write lease instead of O_EXCL: if a store adapter is registered
    for the index's URI scheme (``fs.register_lease_store`` — S3
    ``If-None-Match``/``If-Match``, GCS generation-match, or the
    reference ``fs.InMemoryConditionalStore``), acquire is an atomic
    put-if-absent of a ``{token, ts}`` lease object, heartbeat is a
    version-CAS refresh of its timestamp, and steal is a version-CAS
    replace of a lease whose embedded ``ts`` is older than ``stale``
    (exactly one of N waiters' CAS wins; a heartbeat racing the steal
    bumps the version and the steal re-loops). Staleness uses the
    lease body's own timestamp, so it needs only coarse clock
    agreement between drivers (stale=1h vs seconds of skew).

    pyarrow.fs itself exposes no conditional write, so for URI schemes
    with NO registered lease store the lock cannot be enforced; rather
    than silently degrade, acquiring there raises unless
    ``BM25SPARK_SINGLE_WRITER=1`` explicitly acknowledges the
    single-driver mutation model (readers need no lock either way —
    publishes are atomic meta repoints).

    Liveness vs long holders: the holder heartbeats the lockfile
    (mtime touch) from a daemon thread every ``stale/4`` seconds, so a
    legitimately long vacuum is never mistaken for a leaked lock. A
    lockfile whose mtime is older than ``BM25SPARK_LOCK_STALE_SEC``
    (default 3600) is presumed leaked by a crashed driver and stolen:
    the waiter renames it aside (exactly one of N waiters wins the
    rename), re-reads the renamed file, and — if its content is not
    the token it observed stale (a fresh holder slipped in between
    the mtime check and the rename) — restores it and re-loops.
    Holders additionally :meth:`assert_held` before every meta
    publish, so a holder that *was* stolen from aborts instead of
    publishing over the stealer's work."""

    def __init__(self, index_dir: str, timeout: float | None = None):
        import uuid

        self.store = fsio.lease_store_for(index_dir)
        if self.store is not None:
            self.enabled = True
            self.path = index_dir.rstrip("/") + "/.mutlock"
        else:
            self.enabled = fsio.is_local(index_dir)
            if (
                not self.enabled
                and os.environ.get("BM25SPARK_SINGLE_WRITER") != "1"
            ):
                raise RuntimeError(
                    f"mutation on non-local index {index_dir!r}: no "
                    "conditional-write lease store is registered for its "
                    "scheme (fs.register_lease_store) and pyarrow.fs "
                    "exposes no atomic create-exclusive, so the mutation "
                    "lock cannot be enforced there. Register a store "
                    "adapter (S3 If-None-Match / GCS generation-match), "
                    "or — if exactly ONE driver ever mutates this index — "
                    "set BM25SPARK_SINGLE_WRITER=1 to acknowledge the "
                    "single-writer model; two concurrent mutators WILL "
                    "corrupt sequences/generations."
                )
            self.path = (
                os.path.join(fsio.local_path(index_dir), ".mutlock")
                if self.enabled
                else ""
            )
        self.token = f"{os.getpid()} {uuid.uuid4().hex}"
        self.timeout = (
            float(os.environ.get("BM25SPARK_LOCK_TIMEOUT_SEC", "60"))
            if timeout is None
            else timeout
        )
        self.stale = float(os.environ.get("BM25SPARK_LOCK_STALE_SEC", "3600"))
        self._hb_stop = None  # threading.Event while held

    # -- helpers -------------------------------------------------------
    def _read_token(self, path: str) -> str | None:
        try:
            with open(path) as f:
                return f.read()
        except (FileNotFoundError, OSError):
            return None

    def _lease_body(self) -> bytes:
        return json.dumps({"token": self.token, "ts": time.time()}).encode()

    def _lease_current(self):
        """-> (token, ts, version) of the store lease, or None."""
        cur = self.store.get(self.path)
        if cur is None:
            return None
        try:
            d = json.loads(cur[0].decode())
            return str(d["token"]), float(d["ts"]), cur[1]
        except (ValueError, KeyError, UnicodeDecodeError):
            # an unparseable lease object is a foreign/corrupt write:
            # treat as held-by-unknown with ts=now (never auto-steal it)
            return "<unparseable>", time.time(), cur[1]

    def assert_held(self) -> None:
        """Fail loudly if this process no longer holds the lock (a
        waiter stole it after a >stale stall). Called by mutators
        immediately before publishing meta, so a stolen-from holder
        aborts instead of silently clobbering the stealer's state."""
        if not self.enabled:
            return
        if self.store is not None:
            cur = self._lease_current()
            held = cur is not None and cur[0] == self.token
        else:
            held = self._read_token(self.path) == self.token
        if not held:
            raise RuntimeError(
                f"mutation lock {self.path} lost (stolen after a "
                f">{self.stale}s stall or deleted); aborting. For "
                "vacuum this is before the meta publish, so the index "
                "is unmodified; for insert/delete the growing segment "
                "MAY already contain this mutation's rows — do not "
                "blindly retry, inspect delta_size/vacuum first"
            )

    def _heartbeat(self, stop) -> None:
        interval = max(1.0, self.stale / 4.0)
        while not stop.wait(interval):
            # refresh only OUR lock (don't resurrect a stealer's)
            if self.store is not None:
                cur = self._lease_current()
                if cur is not None and cur[0] == self.token:
                    # CAS refresh: if a stealer's write races this, the
                    # version no longer matches and the refresh no-ops
                    self.store.put_if_match(
                        self.path, self._lease_body(), cur[2]
                    )
            elif self._read_token(self.path) == self.token:
                try:
                    os.utime(self.path)
                except OSError:
                    pass

    def _start_heartbeat(self) -> None:
        import threading

        self._hb_stop = threading.Event()
        threading.Thread(
            target=self._heartbeat,
            args=(self._hb_stop,),
            daemon=True,
            name="bm25spark-mutlock-heartbeat",
        ).start()

    def _enter_lease(self):
        """Conditional-write lease acquire: put-if-absent, else steal a
        stale lease by version-CAS (exactly one waiter's CAS wins; any
        heartbeat between our read and our CAS bumps the version and
        the steal re-loops, so a live holder can never be displaced)."""
        deadline = time.monotonic() + self.timeout
        while True:
            if self.store.put_if_absent(self.path, self._lease_body()):
                self._start_heartbeat()
                return self
            cur = self._lease_current()
            if cur is None:
                continue  # released between our put and read: retry
            _, ts, version = cur
            if time.time() - ts > self.stale:
                if self.store.put_if_match(
                    self.path, self._lease_body(), version
                ):
                    self._start_heartbeat()
                    return self
                continue  # lost the steal race or holder refreshed
            if time.monotonic() >= deadline:
                raise TimeoutError(
                    f"could not acquire mutation lease {self.path} within "
                    f"{self.timeout}s — another mutator (insert/delete/"
                    "vacuum) holds the index; retry when it finishes"
                )
            time.sleep(0.05)

    def __enter__(self):
        if not self.enabled:
            return self
        if self.store is not None:
            return self._enter_lease()
        deadline = time.monotonic() + self.timeout
        while True:
            try:
                fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, self.token.encode())
                os.close(fd)
                self._start_heartbeat()
                return self
            except FileExistsError:
                try:
                    observed = self._read_token(self.path)
                    if time.time() - os.path.getmtime(self.path) > self.stale:
                        # atomic steal: rename the stale lock aside —
                        # exactly ONE of N waiters wins the rename (the
                        # losers get FileNotFoundError and re-loop), so
                        # two waiters can never both enter through an
                        # unlink/create race
                        aside = f"{self.path}.stale.{os.getpid()}"
                        os.rename(self.path, aside)
                        # TOCTOU guard: if the renamed file is not the
                        # one we observed stale (the holder released
                        # and a fresh holder acquired between our
                        # mtime check and the rename), put it back —
                        # os.link fails with EEXIST if yet another
                        # waiter already created a new lock, in which
                        # case the displaced fresh holder aborts at
                        # its next assert_held (documented residual
                        # window, requires a >stale stall to open)
                        if self._read_token(aside) != observed:
                            try:
                                os.link(aside, self.path)
                            except OSError:
                                pass
                        os.unlink(aside)  # no litter either way
                        continue
                except FileNotFoundError:
                    continue
                if time.monotonic() >= deadline:
                    raise TimeoutError(
                        f"could not acquire mutation lock {self.path} within "
                        f"{self.timeout}s — another mutator (insert/delete/"
                        "vacuum) holds the index; retry when it finishes"
                    ) from None
                time.sleep(0.05)

    def __exit__(self, *exc):
        if not self.enabled:
            return False
        if self._hb_stop is not None:
            self._hb_stop.set()
            self._hb_stop = None
        if self.store is not None:
            # compare-and-delete: remove the lease only while it is
            # still OURS — retried, because one in-flight heartbeat
            # refresh may land between our read and our delete (the
            # version bumps, delete_if_match returns False) and an
            # abandoned fresh-ts lease would block every later mutator
            # until it staled out. A stealer's lease (different token)
            # is left untouched.
            while True:
                cur = self._lease_current()
                if cur is None or cur[0] != self.token:
                    return False
                if self.store.delete_if_match(self.path, cur[2]):
                    return False
        # compare-and-unlink without a read-then-unlink window: rename
        # the lock to a private name first (atomic claim), verify it is
        # OURS, then delete; if it was a stealer's, restore it
        priv = f"{self.path}.rel.{os.getpid()}"
        try:
            os.rename(self.path, priv)
        except FileNotFoundError:
            return False
        # the unlinks are guarded: once the rename freed self.path, a
        # waiter can acquire and its gc litter sweep may have removed
        # our .rel file before we get to it — a missing priv at this
        # point means released-and-swept, not an error
        if self._read_token(priv) == self.token:
            try:
                os.unlink(priv)
            except FileNotFoundError:
                pass
        else:
            try:
                os.link(priv, self.path)
            except OSError:
                pass
            try:
                os.unlink(priv)
            except FileNotFoundError:
                pass
        return False


def _next_seq(index_dir: str, gen: int) -> int:
    """Monotonic mutation sequence, one per insert/delete call. A tiny
    driver-side counter file under the generation's mut dir —
    mutations are driver-issued commands, so this is not a distributed
    bottleneck; callers hold the mutation lock, so two concurrent
    mutators can no longer mint the same sequence. A fresh generation
    starts a fresh counter automatically (new mut dir)."""
    path = _seq_path(index_dir, gen)
    n = 0
    if fsio.exists(path):
        n = int(fsio.read_text(path).strip() or 0)
    fsio.mkdirs(_mut_dir(index_dir, gen))
    fsio.write_text_atomic(path, str(n + 1))
    return n


def _cfg_from_meta(meta: dict) -> Bm25Config:
    return Bm25Config(
        k1=float(meta["k1"]),
        b=float(meta["b"]),
        seed=bytes.fromhex(meta["seed"]),
        analyzer=meta["analyzer"],
        shard_size=int(meta["shard_size"]),
        term_buckets=int(meta["term_buckets"]),
    )


def insert(
    spark: SparkSession, index_dir: str, rows: DataFrame, text_col: str
) -> tuple[int, int]:
    """Append documents to the growing (delta) segment — M2.

    Every row is stamped with ``(_seq, _rid)`` — the batch's mutation
    sequence plus a within-batch row id — a unique per-row key. Delta
    scoring groups on it, so two live inserts that happen to share a
    payload key score as two independent pseudo-docs (the reference's
    heap semantics: each inserted tuple is its own document), matching
    what vacuum produces when it gives each row its own doc_id.

    Returns ``(generation, sequence)`` — the lock-serialized commit
    position of this mutation (the concurrency fuzz merges the two
    writers' logs on it to replay the winning order)."""
    with _MutationLock(index_dir) as lock:
        # meta is read UNDER the lock: a mutator that queued behind a
        # vacuum must see the post-vacuum generation, or its rows land
        # in the retired mut dir and silently vanish at gc
        idx = Bm25Index(spark, index_dir)
        gen = _gen_of(idx.meta)
        keep = list(dict.fromkeys([*idx.payload_cols, text_col]))
        seq = _next_seq(index_dir, gen)
        # gate BEFORE the append too: the parquet write below IS the
        # mutation (delta files are read directly, no meta repoint), so
        # shrink the stolen-lock window to the write itself
        lock.assert_held()
        (
            rows.select(*keep)
            .withColumn("_seq", F.lit(seq).cast("long"))
            .withColumn("_rid", F.monotonically_increasing_id())
            .write.mode("append")
            .parquet(_delta_path(index_dir, gen))
        )
        # a stalled-then-stolen-from insert wrote into a generation a
        # concurrent vacuum may have retired — fail loudly instead of
        # returning success for rows the next gc will delete
        lock.assert_held()
        return gen, seq


def delete(
    spark: SparkSession, index_dir: str, keys: DataFrame
) -> tuple[int, int]:
    """Tombstone documents by payload key — M3. ``keys`` has the
    index's payload columns. Only delta rows inserted *before* this
    call are masked (sequence-stamped tombstones). Returns
    ``(generation, sequence)`` like :func:`insert`."""
    with _MutationLock(index_dir) as lock:
        # meta (generation AND the docs artifact the ids are resolved
        # against) is read under the lock — see insert()
        idx = Bm25Index(spark, index_dir)
        gen = _gen_of(idx.meta)
        pc = idx.payload_cols
        sealed = idx.docs_df().join(
            keys.select(*[F.col(c).alias(f"p_{c}") for c in pc]),
            [f"p_{c}" for c in pc],
            "left_semi",
        )
        seq = _next_seq(index_dir, gen)
        lock.assert_held()  # see insert(): the writes ARE the mutation
        sealed.select("doc_id").write.mode("append").parquet(
            _tomb_path(index_dir, gen)
        )
        keys.select(*pc).withColumn("_seq", F.lit(seq).cast("long")).write.mode(
            "append"
        ).parquet(_delta_tomb_path(index_dir, gen))
        lock.assert_held()  # see insert()
        return gen, seq


def _tombstones_df(
    spark: SparkSession, index_dir: str, gen: int | None = None
) -> DataFrame | None:
    """Sealed-segment tombstones as a (small) distributed DataFrame of
    internal ``doc_id`` rows — routed per shard by the distributed
    search, never collected into a dense driver array (P4 at scale)."""
    path = _tomb_path(index_dir, _read_gen(index_dir) if gen is None else gen)
    if not fsio.exists(path):
        return None
    return read_parquet(spark, path).select("doc_id").distinct()


def _live_delta(spark: SparkSession, idx: Bm25Index, index_dir: str) -> DataFrame | None:
    """Delta rows still visible: a row is hidden only by a tombstone on
    its key with a *later* mutation sequence (delete-then-reinsert
    keeps the reinserted row live)."""
    gen = _gen_of(idx.meta)
    path = _delta_path(index_dir, gen)
    if not fsio.exists(path):
        return None
    delta = read_parquet(spark, path)
    dt = _delta_tomb_path(index_dir, gen)
    if fsio.exists(dt):
        tombs = (
            read_parquet(spark, dt)
            .groupBy(idx.payload_cols)
            .agg(F.max("_seq").alias("_tomb_seq"))
        )
        delta = (
            delta.join(F.broadcast(tombs), idx.payload_cols, "left")
            .filter(
                F.col("_tomb_seq").isNull() | (F.col("_seq") > F.col("_tomb_seq"))
            )
            .drop("_tomb_seq")
        )
    # unique per-row key for downstream grouping / deterministic id
    # assignment. Fail loudly if _rid is missing rather than collapse
    # a whole insert batch into one pseudo-doc: a _rid-less delta can
    # only come from hand-edited files (v1 indexes are rejected at
    # open, and every v2 insert stamps _rid).
    if "_rid" not in delta.columns:
        raise ValueError(
            f"delta table at {path} lacks the per-row _rid column; "
            "it was not written by bm25spark.maintain.insert — "
            "re-insert the rows (or vacuum from source) before searching"
        )
    return delta.withColumn(
        "_rowid",
        F.concat_ws(
            "#", F.col("_seq").cast("string"), F.col("_rid").cast("string")
        ),
    ).drop("_seq", "_rid")


def search_with_delta_df(
    spark: SparkSession,
    index_dir: str,
    query_text: str,
    k: int,
    text_col: str,
    round_score: int | None = 4,
    slack: int = 128,
    prefilter: DataFrame | None = None,
) -> DataFrame:
    """O6 growing∪sealed top-k for one query: a batch of one through
    :func:`search_with_delta_batch_df` (same options, same results).

    Returns (payload cols..., score) best-first, ties by payload cols
    ascending."""
    return search_with_delta_batch_df(
        spark,
        index_dir,
        {"_": query_text},
        k,
        text_col,
        round_score=round_score,
        slack=slack,
        prefilter=prefilter,
    ).drop("query_id")


def search_with_delta(
    spark: SparkSession,
    index_dir: str,
    query_text: str,
    k: int,
    text_col: str,
) -> list[tuple[tuple, float]]:
    """O6: growing ∪ sealed top-k. Returns [(payload tuple, score)] with
    raw float64 scores — a thin collect over :func:`search_with_delta_df`."""
    idx = Bm25Index(spark, index_dir)
    pc = idx.payload_cols
    rows = search_with_delta_df(
        spark, index_dir, query_text, k, text_col, round_score=None
    ).collect()
    return [(tuple(r[c] for c in pc), float(r["score"])) for r in rows]


def delta_size(spark: SparkSession, index_dir: str) -> int:
    """Live (visible) rows in the growing segment."""
    idx = Bm25Index(spark, index_dir)
    delta = _live_delta(spark, idx, index_dir)
    return 0 if delta is None else delta.count()


def maybe_vacuum(
    spark: SparkSession,
    index_dir: str,
    text_col: str,
    max_delta_rows: int = DEFAULT_MAX_DELTA_ROWS,
) -> bool:
    """Auto-seal policy (reference README.md:466's
    ``segment_growing_max_page_size`` analogue): vacuum iff the live
    delta exceeds ``max_delta_rows``. Returns True when a vacuum ran."""
    if delta_size(spark, index_dir) <= max_delta_rows:
        return False
    vacuum(spark, index_dir, text_col)
    return True


def _retired_entries(meta: dict) -> dict[str, float]:
    """The retired set as {top-level name: retired-at timestamp}.
    Reads both formats: the current per-path ``{"entries": {...}}`` and
    the legacy single-timestamp ``{"paths": [...], "at": t}``."""
    retired = meta.get("retired")
    if not retired:
        return {}
    if "entries" in retired:
        return {str(k): float(v) for k, v in retired["entries"].items()}
    at = float(retired.get("at", 0.0))
    return {str(p): at for p in retired.get("paths", [])}


def gc_index(
    index_dir: str,
    grace_sec: float | None = None,
    _held_lock: "_MutationLock | None" = None,
) -> bool:
    """Delete retired artifact dirs whose OWN grace period has elapsed
    (``BM25SPARK_VACUUM_GRACE_SEC``, default 0). Timestamps are
    per-path, so a generation retired inside an older generation's
    grace window gets its full window — carried paths never shorten a
    newer path's grace (and vice versa). Called automatically at the
    start of every vacuum; call explicitly to reclaim sooner. Takes the
    mutation lock (it rewrites meta.json): an explicit gc racing a
    vacuum can no longer clobber the vacuum's freshly published meta
    with a stale copy. The meta rewrite is assert_held-gated (with the
    caller's lock when invoked from a vacuum body). Returns True when
    something was reclaimed."""
    grace = (
        float(os.environ.get("BM25SPARK_VACUUM_GRACE_SEC", "0"))
        if grace_sec is None
        else grace_sec
    )
    # when called from inside a vacuum, the HOLDER's lock rides along
    # so the meta rewrite below still runs behind assert_held — a
    # stolen-from vacuum must not clobber the stealer's published meta
    # from its in-body gc either
    lock = _MutationLock(index_dir) if _held_lock is None else None
    gate = lock if lock is not None else _held_lock
    if lock is not None:
        lock.__enter__()
    try:
        # sweep stale-lock litter from crashed steals (a successful
        # steal unlinks its rename-aside file itself; a waiter that
        # died between rename and unlink leaves one behind). Only
        # age-qualified files are touched: a LIVE release is mid-flight
        # between its rename-aside and unlink for milliseconds, and
        # sweeping its .rel file would race the compare-and-unlink
        if fsio.is_local(index_dir):
            import glob as _glob

            root = fsio.local_path(index_dir)
            for pat in (".mutlock.stale.*", ".mutlock.rel.*"):
                litter = _glob.glob(os.path.join(root, pat))
                for f in litter:
                    try:
                        if time.time() - os.path.getmtime(f) > 60.0:
                            os.unlink(f)
                    except OSError:
                        pass
        mp = fsio.join(index_dir, "meta.json")
        meta = json.loads(fsio.read_text(mp))
        entries = _retired_entries(meta)
        if not entries:
            return False
        now = time.time()
        keep: dict[str, float] = {}
        reclaimed = False
        for rel, at in entries.items():
            # retired entries are simple top-level names written by
            # vacuum; refuse anything that could step outside the index
            # (works for URIs too, where realpath does not apply).
            # Refused names are KEPT (never silently dropped — they
            # signal a hand-edited meta worth noticing), as are paths
            # whose delete failed, so a later gc retries instead of
            # orphaning the directory forever.
            if not rel or "/" in rel or "\\" in rel or rel in (".", ".."):
                keep[rel] = at
                continue
            if now - at < grace:
                keep[rel] = at
                continue
            if fsio.rmtree(fsio.join(index_dir, rel)):
                reclaimed = True
            else:
                keep[rel] = at
        if keep:
            meta["retired"] = {"entries": keep}
        else:
            meta.pop("retired", None)
        if gate is not None:
            gate.assert_held()
        fsio.write_text_atomic(mp, json.dumps(meta, indent=2))
        return reclaimed
    finally:
        if lock is not None:
            lock.__exit__(None, None, None)


def vacuum(spark: SparkSession, index_dir: str, text_col: str) -> int:
    """M4: merge delta + drop tombstones + relabel + rebuild, then
    publish the new artifacts as a *versioned generation*.

    Concurrent-reader-safe publish (the reference gets this from
    PostgreSQL MVCC; a filesystem/object-store index needs it built
    in): the new artifacts land in ``index_dir/gen{N}/`` and the only
    mutation to the live tree is an atomic ``meta.json`` replace that
    repoints the artifact paths (publish-last, like build.rs:60-70).
    A ``Bm25Index`` opened before the vacuum holds the old meta and
    keeps reading the old generation's files, which stay on disk until
    :func:`gc_index` reclaims them after a grace period (the next
    vacuum GCs its grandparent automatically). Returns the published
    generation number."""
    # serialize against insert/delete (and a second vacuum): absorbing
    # the growing segment while a mutator appends to it would lose the
    # concurrent rows. The lock is held through the meta publish, and
    # meta is read UNDER it — a vacuum queued behind another vacuum
    # must see the new generation, not re-absorb a retired one.
    lock = _MutationLock(index_dir)
    lock.__enter__()
    try:
        idx = Bm25Index(spark, index_dir)
        cfg = _cfg_from_meta(idx.meta)
        pc = idx.payload_cols
        old_gen = _gen_of(idx.meta)
        gen = old_gen + 1
        _vacuum_locked(
            spark, idx, index_dir, text_col, cfg, pc, old_gen, gen, lock
        )
        return gen
    finally:
        lock.__exit__(None, None, None)


def _relabel_ids(ids: np.ndarray, tombs: np.ndarray) -> np.ndarray:
    """J4 relabel against the sorted, distinct tombstone ids: the new id
    of each survivor is its rank among the survivors, ``id − |{t in
    tombs : t < id}|`` (the reference's relabel array,
    maintain.rs:330-362); a tombstoned id maps to -1."""
    below = np.searchsorted(tombs, ids)
    dead = np.searchsorted(tombs, ids, side="right") != below
    return np.where(dead, -1, ids - below)


def _relabel(df: DataFrame, col: str, tombs: np.ndarray) -> DataFrame:
    """:func:`_relabel_ids` over ``df``'s ``col``, dropping tombstoned
    rows: a narrow map that ships only the id column to Python, with no
    shuffle, pin or join. ``tombs`` rides in the UDF closure (PySpark
    broadcasts a command over 1 MiB by itself)."""
    if not len(tombs):
        return df

    @F.arrow_udf("long")
    def relabel(ids: pa.Array) -> pa.Array:
        return pa.array(_relabel_ids(ids.to_numpy(), tombs))

    # nondeterministic, so the filter below cannot re-evaluate the UDF
    new = relabel.asNondeterministic()(F.col(col))
    return df.withColumn(col, new).filter(F.col(col) >= 0)


def _vacuum_locked(
    spark: SparkSession,
    idx: Bm25Index,
    index_dir: str,
    text_col: str,
    cfg: Bm25Config,
    pc: list,
    old_gen: int,
    gen: int,
    lock: "_MutationLock | None" = None,
) -> str:
    # reclaim the grandparent generation (if its grace elapsed) —
    # under the already-held mutation lock
    gc_index(index_dir, _held_lock=lock)
    work = fsio.join(index_dir, f"gen{gen}.build")
    fsio.rmtree(work)
    fsio.mkdirs(work)

    parts = max(spark.sparkContext.defaultParallelism, 8)
    # the delta id assignment's checkpoints are dropped on every exit
    pins: list[int] = []
    try:
        # --- survivors of the sealed segment, relabeled densely (J4);
        # the tombstones are O(deletes), read on the driver, no job ---
        tp = _tomb_path(index_dir, old_gen)
        tombs = np.array([], dtype=np.int64)
        if fsio.exists(tp):
            t = ds.dataset(tp, format="parquet").to_table(columns=["doc_id"])
            tombs = np.unique(t["doc_id"].to_numpy())
        n_sealed = idx.n_docs - len(tombs)
        new_docs = _relabel(idx.docs_df().select(
            "doc_id", "doc_len", "fieldnorm", "content_sha256",
            *[f"p_{c}" for c in pc],
        ), "doc_id", tombs)
        gid = F.col("shard").cast("long") * cfg.shard_size + F.col("local_id")
        new_maps = _relabel(
            _read_doc_terms(spark, idx._path("mappings"))
            .select("tkeys", "ttfs", gid.alias("gid"), "fieldnorm"),
            "gid", tombs,
        )

        # --- delta docs: tokenize, ids after the sealed block ---
        delta = _live_delta(spark, idx, index_dir)
        if delta is not None and delta.count() > 0:
            prep = with_doc_terms(delta, text_col, cfg.analyzer, cfg.seed)
            # _rowid makes the order key unique even when payload keys
            # repeat, so every delta row gets its own deterministic doc_id
            dass = _assign_doc_ids(
                spark, prep, [*pc, "_rowid"], parts, pins, pin_output=True
            ).select(
                (F.col("_iid") + F.lit(n_sealed)).alias("doc_id"),
                F.col("doc_len").cast("long").alias("doc_len"),
                _fieldnorm_expr().alias("fieldnorm"),
                F.sha2(F.col(text_col), 256).alias("content_sha256"),
                *[F.col(c).alias(f"p_{c}") for c in pc],
                F.col("terms").getField("key").alias("tkeys"),
                F.col("terms").getField("tf").alias("ttfs"),
            )
            new_docs = new_docs.unionByName(dass.drop("tkeys", "ttfs"))
            new_maps = new_maps.unionByName(dass.select(
                "tkeys", "ttfs", F.col("doc_id").alias("gid"), "fieldnorm"
            ))

        # --- new docs artifact + doc-grouped staging ---
        new_docs = new_docs.withColumn(
            "shard", (F.col("doc_id") / cfg.shard_size).cast("int")
        ).withColumn("local_id", (F.col("doc_id") % cfg.shard_size).cast("long"))
        new_docs.repartitionByRange(
            max(1, parts // 4), "doc_id"
        ).sortWithinPartitions("doc_id").write.parquet(fsio.join(work, "docs"))
        _ensure_readable_parquet(fsio.join(work, "docs"), new_docs.schema)
        staging = new_maps.select(
            "tkeys",
            "ttfs",
            (F.col("gid") / cfg.shard_size).cast("int").alias("shard"),
            (F.col("gid") % cfg.shard_size).cast("int").alias("local_id"),
            F.col("fieldnorm").cast("int").alias("fieldnorm"),
        )
        staging.write.parquet(fsio.join(work, "mappings"))
        _ensure_readable_parquet(fsio.join(work, "mappings"), staging.schema)
        finalize_index(spark, work, cfg, pc)
    except BaseException:
        # a failed vacuum leaves no partial generation behind; the live
        # meta.json still points at the old one
        fsio.rmtree(work)
        raise
    finally:
        _release_rdds(spark, pins)

    # --- versioned publish (publish-last) ---
    gen_dir = fsio.join(index_dir, f"gen{gen}")
    fsio.rmtree(gen_dir)
    fsio.move_dir(work, gen_dir)  # local: atomic rename (same parent)
    new_meta = json.loads(fsio.read_text(fsio.join(gen_dir, "meta.json")))
    new_meta["generation"] = gen
    new_meta["paths"] = {
        k: f"gen{gen}/{v}" for k, v in new_meta["paths"].items()
    }
    # the outgoing generation's top-level dirs, kept on disk for
    # concurrent readers until each one's gc grace elapses. Timestamps
    # are PER PATH: paths still unreclaimed from an earlier vacuum are
    # carried forward with their ORIGINAL timestamps (so back-to-back
    # vacuums neither restart their grace windows nor shorten the
    # just-retired generation's window). The carry source is the
    # on-disk meta re-read AFTER the in-body gc above, not the stale
    # idx.meta snapshot — already-reclaimed ghosts must not reappear.
    cur_meta = json.loads(
        fsio.read_text(fsio.join(index_dir, "meta.json"))
    )
    entries = _retired_entries(cur_meta)
    now = time.time()
    retiring = {p.split("/")[0] for p in idx.meta["paths"].values()}
    # the absorbed growing segment (mut_gen{old} — or the pre-layout
    # root dirs on a legacy gen-0 index) retires WITH its sealed
    # generation: a reader opened before the repoint keeps a consistent
    # sealed+delta view until gc reclaims both, and a reader opened
    # after reads mut_gen{new} (empty) — the old "delete delta after
    # repoint" double-visibility window is gone
    retiring.add(f"mut_gen{old_gen}")
    if old_gen == 0:
        for name in _LEGACY_MUT_NAMES.values():
            if fsio.exists(fsio.join(index_dir, name)):
                retiring.add(name)
    for p_ in retiring:
        entries.setdefault(p_, now)
    new_meta["retired"] = {"entries": {p_: entries[p_] for p_ in sorted(entries)}}
    # publish gate: a vacuum that stalled past the stale window and was
    # stolen from must NOT repoint meta (its mut_gen absorption raced a
    # newly admitted mutator) — abort loudly instead
    if lock is not None:
        lock.assert_held()
    fsio.write_text_atomic(
        fsio.join(index_dir, "meta.json"), json.dumps(new_meta, indent=2)
    )
    return index_dir


def _delta_kernel_df(
    idx: Bm25Index,
    delta: DataFrame,
    qterms: dict[str, list[bytes]],
    stats: dict[bytes, dict],
    k: int,
    text_col: str,
) -> DataFrame:
    """Q4: score the growing segment with the sealed segment's kernel.

    One ``mapInArrow`` task per partition of the live delta, each a
    pseudo-shard: rows sorted by (payload cols, _rowid) take local ids
    0..n-1 (so the kernel's id tiebreak is the final payload-ordered
    cut's), fieldnorms are ``length_to_fieldnorm(doc_len)``, and each
    query term becomes one decoded :class:`TermPostings` with a Cache
    over the *sealed* statistics (N, avgdl, df). Terms absent from the
    sealed dictionary are not in ``qterms`` and contribute nothing;
    two live rows sharing a payload key score as two documents, as
    they will after vacuum. No shuffle: work per task is bounded by
    the partition split.

    ``qterms``: {query_id: [sealed-present term keys, ascending]}.
    Returns (query_id, payload cols..., score) — per task, each
    query's top-k by raw score."""
    pc = idx.payload_cols
    prep = with_doc_terms(
        delta, text_col, idx.meta["analyzer"], idx.seed
    ).select(*pc, "_rowid", "doc_len", "terms")
    out_schema = StructType(
        [StructField("query_id", StringType())]
        + [prep.schema[c] for c in pc]
        + [StructField("score", DoubleType())]
    )
    term_df = {key: int(stats[key]["df"]) for ks in qterms.values() for key in ks}
    wanted = np.array(sorted(term_df), dtype="S16")
    n_docs, k1, b, avgdl = idx.n_docs, idx.k1, idx.b, idx.avgdl

    def score(batches):
        import pyarrow as pa
        import pyarrow.compute as pac

        from .fieldnorm import length_to_fieldnorm
        from .scoring import Cache
        from .wand import TermPostings, taat_topk_batch

        batches = list(batches)
        if not batches:
            return
        t = pa.Table.from_batches(batches)
        if t.num_rows == 0:
            return
        t = t.take(
            pac.sort_indices(
                t,
                sort_keys=[(c, "ascending") for c in (*pc, "_rowid")],
                null_placement="at_start",
            )
        )
        fns = length_to_fieldnorm(t["doc_len"].to_numpy())
        terms = t["terms"].combine_chunks()
        parent = pac.list_parent_indices(terms).to_numpy().astype(np.int64)
        fkeys, ftfs = terms.flatten().flatten()
        if not len(fkeys):
            return
        fk = fkeys.cast(pa.binary(16))
        keys = np.frombuffer(
            fk.buffers()[1], dtype="S16", count=fk.offset + len(fk)
        )[fk.offset:]
        sel = np.isin(keys, wanted)
        keys, ids = keys[sel], parent[sel]
        tfs = ftfs.to_numpy(zero_copy_only=False).astype(np.int64)[sel]
        tps = {}
        for key in np.unique(keys):
            m = keys == key
            bkey = bytes(key).ljust(16, b"\0")  # S16 strips trailing NULs
            tps[bkey] = TermPostings.from_decoded(
                Cache(n_docs, term_df[bkey], k1, b, avgdl), ids[m], tfs[m], fns
            )
        rows = taat_topk_batch(tps, qterms, fns, k)
        if not rows:
            return
        qids, locs, scores = zip(*rows)
        hits = t.select(pc).take(pa.array(locs, type=pa.int64()))
        yield from pa.Table.from_arrays(
            [pa.array(qids, type=pa.string()), *hits.columns,
             pa.array(scores, type=pa.float64())],
            names=out_schema.fieldNames(),
        ).to_batches()

    return prep.mapInArrow(score, out_schema)


def search_with_delta_batch_df(
    spark: SparkSession,
    index_dir: str,
    queries: dict[str, str],
    k: int,
    text_col: str,
    round_score: int | None = 4,
    slack: int = 128,
    prefilter: DataFrame | None = None,
) -> DataFrame:
    """O6 growing∪sealed top-k for M queries — the one delta-aware
    serving path (:func:`search_with_delta_df` is a batch of one). The
    sealed leg is the shard tasks of
    :func:`bm25spark.distributed.search_distributed_batch` (decode-once
    per term per shard, tombstones as the per-shard blocklist, finished
    rows with payloads); the growing leg runs the same ``taat_topk``
    kernel over each partition of the live delta
    (:func:`_delta_kernel_df`); then ONE per-query windowed re-rank over
    both, in the task that orders the result. With ``round_score`` set, both legs
    over-fetch by ``slack`` so the rounded boundary cannot drop a tied
    survivor (same convention as ``Bm25Index.search_df``).

    ``prefilter``: optional allowed *payload key* rows — P3 composed
    with O6, the reference's filter-on-every-scan applied to BOTH
    segments: the sealed leg routes it per shard alongside the
    tombstone blocklist (one shared allowlist mask per shard task), and
    the growing leg semi-joins the delta before scoring. Statistics
    stay sealed/whole-corpus either way.

    Returns (query_id, payload cols..., score), ordered by
    (query_id, score desc, payload cols)."""
    from .distributed import (
        _analyze_batch, _ordered_by_query, _rounded, _sealed_topk_df,
    )

    idx = Bm25Index(spark, index_dir)
    gen = _gen_of(idx.meta)
    pc = idx.payload_cols

    # the sealed leg and the delta leg share ONE analyze pass
    qterms, stats = _analyze_batch(idx, queries)
    if not qterms:
        return idx.empty_df(with_query_id=True)

    k_fetch = k + (slack if round_score is not None else 0)
    # each shard's raw-score top k_fetch, uncut across shards: the one
    # cut is the final one below
    merged = _sealed_topk_df(
        idx,
        qterms,
        stats,
        k_fetch,
        prefilter=prefilter,
        blocked=_tombstones_df(spark, index_dir, gen=gen),
        prune_min_bytes=None,
    ).select("query_id", *pc, "score")

    delta = _live_delta(spark, idx, index_dir)
    if delta is not None and prefilter is not None:
        delta = delta.join(
            F.broadcast(prefilter.select(*pc).distinct()), pc, "left_semi"
        )
    if delta is not None:
        merged = merged.unionByName(
            _delta_kernel_df(idx, delta, qterms, stats, k_fetch, text_col)
        )

    return _ordered_by_query(_rounded(merged, round_score), pc, k)
