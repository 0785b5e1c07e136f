"""One benchmark process: one Spark session, one workload, its output
checks and, when traced, its per-layer breakdown.

``run.py`` starts this file in a child process with the environment
pinned (cores, driver heap, local dirs, event log), so every setting is
in place before the JVM starts. It writes its result as JSON to
``--out``. ``--fill`` instead writes the shared serving corpus and its
index into the cache directory.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402

import corpus as gen  # noqa: E402

CORPUS_SEED, N_DOCS, SHARD_SIZE = gen.CORPUS_SEED, gen.N_DOCS, gen.SHARD_SIZE
POOL = 384
K = 10
SLACK = 128  # over-fetch before the rounded (score, doc id) re-rank
BATCH = 16
WARMUP_BATCHES = 2
SEALED_PER_CYCLE = 3
ROUNDS_PER_CYCLE = 1
INSERT_DOCS = 24
DELETE_KEYS = 24
CHECK_QUERIES = 1  # per serve_mutable run, against the live rows
EXACT_POOL = 16  # pool queries whose exact top-k the cache holds
HOP_S = 0.25  # serve_resident: time on one core before moving to the next


def _cfg():
    from bm25spark.config import Bm25Config

    return Bm25Config(analyzer="code", shard_size=SHARD_SIZE)


def _spark(cores: int):
    from bm25spark.session import get_spark

    spark = get_spark("perfbench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


# ---- cache fill -----------------------------------------------------------------


def fill(cache: str, cores: int) -> None:
    """Write the serving corpus (pyarrow, this process) and build its
    index into ``cache`` (written under a temporary name, then renamed)."""
    from collections import Counter

    from bm25spark.analyze import tokenize_code
    from bm25spark.build import build_index

    tmp = cache + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    c = gen.CodeCorpus(CORPUS_SEED, N_DOCS)
    rows = c.docs()
    corpus_bytes = gen.write_parquet(rows, os.path.join(tmp, "corpus.parquet"))
    df = Counter()
    for r in rows:
        df.update(set(tokenize_code(r[4])))
    # marker documents are written from these: terms the sealed
    # dictionary has (a delta doc only scores on sealed terms) but that
    # almost no document shares
    rare = sorted(t for t, n in df.items() if n == 1 and t.isalpha())
    spark = _spark(cores)
    try:
        corpus_df = spark.read.parquet(os.path.join(tmp, "corpus.parquet"))
        index_dir = os.path.join(tmp, "index")
        build_index(spark, corpus_df, index_dir, "content", gen.KEY, cfg=_cfg())
        # the corpus and the program are fixed for the cache's life, so
        # the exact scorer's answers for a sample of the pool are too;
        # serve_resident checks against them without a Spark job
        from bm25spark.index import Bm25Index

        docs = _with_ids(corpus_df, Bm25Index(spark, index_dir))
        pool = c.query_pool(CORPUS_SEED, POOL)
        rng = np.random.default_rng([CORPUS_SEED, 9])
        exact = {
            pool[int(i)]: _exact(spark, docs, pool[int(i)])
            for i in rng.choice(len(pool), size=EXACT_POOL, replace=False)
        }
    finally:
        spark.stop()
    meta = {
        "corpus_seed": CORPUS_SEED,
        "n_docs": N_DOCS,
        "digest": gen.digest(rows),
        "corpus_bytes": corpus_bytes,
        "index_bytes": _dir_bytes(os.path.join(tmp, "index")),
        "terms": len(df),
        "rare_terms": rare,
        "exact": exact,
    }
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    os.rename(tmp, cache)


# ---- helpers ------------------------------------------------------------------


def _pct(xs: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(xs), q)) if xs else float("nan")


def _ranked(hits: list[tuple[int, float]]) -> list[tuple[int, float]]:
    """Rounded scores, best first, doc-id tiebreak, cut at K."""
    out = sorted(((d, round(s, 4)) for d, s in hits), key=lambda t: (-t[1], t[0]))
    return out[:K]


def _exact(spark, docs_with_ids, query: str) -> list[tuple[int, float]]:
    from bm25spark.query import exact_topk

    rows = exact_topk(spark, docs_with_ids, "content", "doc_id", query, K, cfg=_cfg())
    return [(int(r.doc_id), float(r.score)) for r in rows.collect()]


def _with_ids(corpus_df, idx):
    """``corpus_df`` joined to the index's internal doc ids (through the
    payload key), so the exact scorer breaks ties by the same id."""
    from pyspark.sql import functions as F

    ids = idx.docs_df().select("doc_id", *[F.col(f"p_{c}").alias(c) for c in gen.KEY])
    return corpus_df.join(ids, gen.KEY)


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for the JVM")


class Tally:
    """Operations attempted and failed; a failed output check is a
    failed operation."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)


# ---- serve_resident ---------------------------------------------------------------


def serve_resident(spark, cache, meta, a, tally, spans):
    """Closed loop, one client: back-to-back ``Bm25Index.search`` on one
    warmed index. Returns (setup_end, metrics, detail)."""
    from bm25spark.index import Bm25Index

    c = gen.CodeCorpus(CORPUS_SEED, N_DOCS)
    pool = c.query_pool(CORPUS_SEED, POOL)
    idx = Bm25Index(spark, os.path.join(cache, "index"))
    warmed = idx.warm(pool)
    setup_end = time.perf_counter()

    if spans is not None:
        from spans import install_resident

        install_resident(spans)
    stream = c.query_stream(a.seed, pool, 0)
    lat_ns: list[int] = []
    # the client thread visits every core in turn: on a shared host the
    # cores slow down independently of each other, and a thread the
    # scheduler leaves on one slow core would make the whole run slow
    cpus = sorted(os.sched_getaffinity(0))
    hop = 0
    t_start = time.perf_counter()
    deadline = t_start + a.seconds
    next_hop = t_start
    while (now := time.perf_counter()) < deadline:
        if now >= next_hop:
            os.sched_setaffinity(0, {cpus[hop % len(cpus)]})
            hop += 1
            next_hop = now + HOP_S
        q = next(stream)
        t0 = time.perf_counter_ns()
        try:
            idx.search(q, K)
        except Exception as e:  # counted; the loop keeps serving
            tally.op(False, f"search {q!r}: {e!r}")
            continue
        lat_ns.append(time.perf_counter_ns() - t0)
    wall = time.perf_counter() - t_start
    os.sched_setaffinity(0, cpus)
    tally.attempted += len(lat_ns)
    if spans is not None:
        spans.unwrap()
    rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024

    if a.check:
        # rank identity with the exact scorer's answers for the cached
        # sample of the pool
        for q, want in meta["exact"].items():
            want = [(d, s) for d, s in want]
            try:
                got = _ranked(idx.search(q, K + SLACK))
                tally.op(got == want, f"resident {q!r}: {got} != {want}")
            except Exception as e:
                tally.op(False, f"resident check {q!r}: {e!r}")

    lat_ms = [x / 1e6 for x in lat_ns]
    metrics = {
        "search_p50_ms": _pct(lat_ms, 50),
        "ops_per_s": len(lat_ns) / wall,
        "py_rss_mb": rss,
    }
    detail = {
        "queries": len(lat_ns),
        "query_p50_ms": _pct(lat_ms, 50),
        "query_p99_ms": _pct(lat_ms, 99),
        "throughput_qps": len(lat_ns) / wall,
        "cache_bytes_after_warm": warmed["cache_bytes"],
    }
    return setup_end, metrics, detail


# ---- serve_mutable ---------------------------------------------------------------


class Mutable:
    """Cycles of sealed-state batch searches, insert/delete rounds with
    growing-state batch searches, and a vacuum; tracks the live rows so
    the checks know what every search must see."""

    def __init__(self, cache, meta, a, tally):
        import pyarrow.parquet as pq

        self.spark = None  # set once the session starts
        self.cache, self.a, self.tally = cache, a, tally
        self.index_dir = os.path.join(a.work, "index")
        shutil.copytree(os.path.join(cache, "index"), self.index_dir)
        self.c = gen.CodeCorpus(CORPUS_SEED, N_DOCS)
        keys = pq.read_table(os.path.join(cache, "corpus.parquet"), columns=gen.KEY)
        self.sealed_keys = list(zip(*(keys.column(k).to_pylist() for k in gen.KEY)))
        self.deleted: set[tuple] = set()
        self.inserted: dict[tuple, tuple] = {}
        self.rng = np.random.default_rng([a.seed, 4])
        self.rare = meta["rare_terms"]
        pool = self.c.query_pool(CORPUS_SEED, POOL)
        self.stream = self.c.query_stream(a.seed, pool, 1)
        self.ops: list[dict] = []  # {"kind", "t0", "t1", "s"}
        self.n_batch = 0

    def batch(self, extra: dict | None = None) -> dict[str, str]:
        n = BATCH - len(extra or {})
        qs = {f"q{self.n_batch:04d}_{i:02d}": next(self.stream) for i in range(n)}
        self.n_batch += 1
        qs.update(extra or {})
        return qs

    def timed(self, kind: str, fn):
        t0w, t0 = time.time(), time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # counted; the cycle goes on
            self.tally.op(False, f"{kind}: {e!r}")
            return None
        s = time.perf_counter() - t0
        self.ops.append({"kind": kind, "t0": t0w, "t1": time.time(), "s": s})
        self.tally.attempted += 1
        return out

    def search(self, kind: str, queries: dict[str, str]):
        from bm25spark import maintain

        return self.timed(
            kind,
            lambda: maintain.search_with_delta_batch_df(
                self.spark, self.index_dir, queries, K, "content"
            ).collect(),
        )

    def keys_for(self, rows, qid: str) -> set[tuple]:
        return {tuple(r[c] for c in gen.KEY) for r in rows if r.query_id == qid}

    def cycle(self, n: int) -> None:
        from bm25spark import maintain

        spark, tally = self.spark, self.tally
        for _ in range(SEALED_PER_CYCLE):
            self.search("sealed", self.batch())
        for r in range(ROUNDS_PER_CYCLE):
            terms = self.rng.choice(len(self.rare), size=3, replace=False)
            marker = " ".join(self.rare[int(i)] for i in terms)
            rows = self.c.insert_batch(self.a.seed, n, r, INSERT_DOCS, marker)
            mkey = rows[0][:3]
            df = spark.createDataFrame(rows, gen.COLUMNS)
            if self.timed(
                "insert", lambda: maintain.insert(spark, self.index_dir, df, "content")
            ) is not None:
                for row in rows:
                    self.inserted[row[:3]] = row
                    self.deleted.discard(row[:3])
            qs = self.batch({"marker": marker})
            got = self.search("growing", qs)
            if got is not None:
                tally.op(mkey in self.keys_for(got, "marker"), f"marker {mkey} missing after insert")
            live_sealed = [k for k in self.sealed_keys if k not in self.deleted]
            pick = self.rng.choice(len(live_sealed), size=DELETE_KEYS // 2, replace=False)
            dels = [mkey] + [row[:3] for row in rows[1 : DELETE_KEYS // 2]]
            dels += [live_sealed[int(i)] for i in pick]
            kdf = spark.createDataFrame(dels, gen.KEY)
            if self.timed(
                "delete", lambda: maintain.delete(spark, self.index_dir, kdf)
            ) is not None:
                self.deleted.update(dels)
            got = self.search("growing", qs)
            if got is not None:
                tally.op(mkey not in self.keys_for(got, "marker"), f"marker {mkey} found after delete")
        self.timed("vacuum", lambda: maintain.vacuum(spark, self.index_dir, "content"))

    def check(self) -> None:
        """Post-vacuum searches against the exact scorer on the live rows."""
        from pyspark.sql import functions as F

        from bm25spark.index import Bm25Index
        from bm25spark.query import release_caches

        spark, tally = self.spark, self.tally
        live = spark.read.parquet(os.path.join(self.cache, "corpus.parquet"))
        ins = [r for k, r in self.inserted.items() if k not in self.deleted]
        if ins:
            live = live.unionByName(spark.createDataFrame(ins, gen.COLUMNS))
        if self.deleted:
            live = live.join(
                F.broadcast(spark.createDataFrame(sorted(self.deleted), gen.KEY)),
                gen.KEY,
                "left_anti",
            )
        idx = Bm25Index(spark, self.index_dir)
        docs = _with_ids(live, idx)
        qs = self.batch()
        qs = dict(list(qs.items())[:CHECK_QUERIES])
        try:
            from bm25spark import maintain

            rows = maintain.search_with_delta_batch_df(
                spark, self.index_dir, qs, K + SLACK, "content"
            ).collect()
            ids = {
                tuple(r[c] for c in gen.KEY): int(r.doc_id)
                for r in docs.select("doc_id", *gen.KEY).collect()
            }
            for qid, q in qs.items():
                got = _ranked(
                    [
                        (ids[tuple(r[c] for c in gen.KEY)], float(r.score))
                        for r in rows
                        if r.query_id == qid
                    ]
                )
                want = _exact(spark, docs, q)
                tally.op(got == want, f"post-vacuum {q!r}: {got} != {want}")
        except Exception as e:
            tally.op(False, f"post-vacuum check: {e!r}")
        release_caches()


def serve_mutable(m: Mutable):
    """Closed loop, one client: whole cycles until the window has
    passed. Returns (setup_end, metrics, detail)."""
    for _ in range(WARMUP_BATCHES):
        m.search("warmup", m.batch())
    m.ops.clear()
    setup_end = time.perf_counter()
    t_start = time.perf_counter()
    n = 0
    while n == 0 or time.perf_counter() - t_start < m.a.seconds:
        m.cycle(n)
        n += 1
    wall = time.perf_counter() - t_start
    rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    if m.a.check:
        m.check()

    def p50(kind):
        xs = [o["s"] for o in m.ops if o["kind"] == kind]
        return statistics.median(xs) if xs else float("nan")

    metrics = {
        "search_p50_ms": p50("sealed") * 1e3,
        "ops_per_s": len(m.ops) / wall,
        "py_rss_mb": rss,
    }
    detail = {
        "cycles": n,
        "ops": len(m.ops),
        "search_sealed_p50_s": p50("sealed"),
        "search_growing_p50_s": p50("growing"),
        "insert_p50_s": p50("insert"),
        "delete_p50_s": p50("delete"),
        "vacuum_s": p50("vacuum"),
    }
    return setup_end, metrics, detail


# ---- traced extras ---------------------------------------------------------------


def traced_extras(spark, cache, a, ops: list[dict]) -> dict[str, float]:
    """Build-side layers, measured in the traced run after the timed
    window on the warm session: the Arrow tokenizer into a ``noop`` sink
    and one full ``build_index`` of the serving corpus."""
    from bm25spark.api import tokenize_df
    from bm25spark.build import build_index

    src = spark.read.parquet(os.path.join(cache, "corpus.parquet"))
    t0w, t0 = time.time(), time.perf_counter()
    tokenize_df(src, "content", cfg=_cfg()).write.format("noop").mode("overwrite").save()
    tok_s = time.perf_counter() - t0
    ops.append({"kind": "tokenize", "t0": t0w, "t1": time.time(), "s": tok_s})
    t0w = time.time()
    build_index(spark, src, os.path.join(a.work, "rebuild"), "content", gen.KEY, cfg=_cfg())
    ops.append({"kind": "build", "t0": t0w, "t1": time.time()})
    return {"udfs.tokenize_docs_per_s": N_DOCS / tok_s}


# ---- main -----------------------------------------------------------------------------


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--cache", required=True)
    ap.add_argument("--work")
    ap.add_argument("--out")
    ap.add_argument("--fill", action="store_true")
    ap.add_argument("--no-check", dest="check", action="store_false")
    a = ap.parse_args()
    if a.fill:
        fill(a.cache, a.cores)
        return

    with open(os.path.join(a.cache, "meta.json")) as fh:
        meta = json.load(fh)
    tally = Tally()
    spans = None
    if a.trace:
        from spans import Spans

        spans = Spans()
    mutable = None
    if a.workload == "serve_mutable":
        # copying the cached index and reading its keys is the
        # benchmark's own preparation, not the program's set-up
        mutable = Mutable(a.cache, meta, a, tally)

    t0 = time.perf_counter()
    spark = _spark(a.cores)
    spark_start_s = time.perf_counter() - t0
    if mutable is None:
        setup_end, metrics, detail = serve_resident(spark, a.cache, meta, a, tally, spans)
    else:
        mutable.spark = spark
        setup_end, metrics, detail = serve_mutable(mutable)
    metrics["setup_s"] = setup_end - t0
    detail["setup_s"] = metrics["setup_s"]
    detail["after_setup_s"] = time.perf_counter() - setup_end
    out = {
        "attempted": tally.attempted,
        "failed": tally.failed,
        "errors": tally.errors,
        "metrics": metrics,
        "detail": detail,
    }
    if a.trace:
        from spans import attribute, read_event_log, resident_metrics, spark_metrics

        ops = list(mutable.ops) if mutable else []
        layers = {
            "session.spark_start_s": spark_start_s,
            **resident_metrics(spans, detail.get("queries", 0)),
        }
        if mutable is None:
            # the resident workload leaves the session idle, so the
            # build-side layers are measured there
            layers.update(traced_extras(spark, a.cache, a, ops))
        else:
            layers["udfs.tokenize_docs_per_s"] = 0.0
        layers["session.jvm_peak_rss_mb"] = _jvm_peak_rss_mb(spark)
        spark.stop()
        per_op = attribute(read_event_log(os.path.join(a.work, "events")), ops)
        layers.update(spark_metrics(per_op, a.cores))
        out["layers"] = layers
    else:
        spark.stop()
    with open(a.out, "w") as fh:
        json.dump(out, fh)


if __name__ == "__main__":
    main()
