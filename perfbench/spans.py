"""Tracing for the traced run: driver-side spans and the Spark event log.

Driver-side layers are timed by wrappers installed around public
functions, patched where the caller looks them up (``index.py`` imports
``taat_topk`` and ``analyze_query`` by name, so the wrapper replaces
``bm25spark.index.taat_topk``, not ``bm25spark.wand.taat_topk``). Each
span adds its duration to its parent's child time, so a span's self
time is its duration minus its direct children's.

Spark-side layers come from the event log (uncompressed, not rolling),
parsed after the session stops. Jobs are attributed to a benchmark
operation by submission time within the operation's wall-clock window,
not by job description: the build's write pool threads do not inherit
the caller's thread-local job properties.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict


class Spans:
    """Per-name totals of wall time and self time, and counters."""

    def __init__(self):
        self.total_ns: dict[str, int] = defaultdict(int)
        self.self_ns: dict[str, int] = defaultdict(int)
        self.counts: dict[str, int] = defaultdict(int)
        self._local = threading.local()
        self._undo: list = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, owner, attr: str, name: str, count=None) -> None:
        """Replace ``owner.attr`` by a timed wrapper recorded as
        ``name``. ``count(args, kwargs)`` may return ``{counter: n}``
        to add at the same boundary."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def timed(*args, **kwargs):
            if count is not None:
                for k, v in count(args, kwargs).items():
                    self.counts[k] += v
            stack = self._stack()
            frame = [0]
            stack.append(frame)
            t0 = time.perf_counter_ns()
            try:
                return orig(*args, **kwargs)
            finally:
                dur = time.perf_counter_ns() - t0
                stack.pop()
                if stack:
                    stack[-1][0] += dur
                self.total_ns[name] += dur
                self.self_ns[name] += dur - frame[0]

        setattr(owner, attr, timed)
        self._undo.append((owner, attr, orig))

    def unwrap(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


def install_resident(spans: Spans) -> None:
    """Wrap the resident search path: ``Bm25Index.search`` and the
    calls it makes, each under its module's name."""
    from bm25spark import artifacts, index, wand

    def n_keys(args, kwargs):
        keys = args[1] if len(args) > 1 else kwargs["keys"]
        return {"postings_keys_requested": len(keys)}

    def n_read(args, kwargs):
        keys = args[1] if len(args) > 1 else kwargs["keys"]
        return {"postings_keys_read": len(keys)}

    spans.wrap(index.Bm25Index, "search", "index.search")
    spans.wrap(index, "analyze_query", "analyze.query")
    spans.wrap(index.Bm25Index, "term_stats", "index.term_stats")
    spans.wrap(index.Bm25Index, "postings_for", "index.postings", count=n_keys)
    spans.wrap(artifacts, "read_terms", "artifacts.read_terms")
    spans.wrap(artifacts, "read_postings", "artifacts.read_postings", count=n_read)
    spans.wrap(wand.TermPostings, "decode_all", "wand.decode")
    spans.wrap(index, "taat_topk", "wand.taat")


def resident_metrics(spans: Spans, n_queries: int) -> dict[str, float]:
    q = max(n_queries, 1)

    def us(name: str) -> float:
        return spans.total_ns[name] / 1e3 / q

    req = spans.counts["postings_keys_requested"]
    read = spans.counts["postings_keys_read"]
    return {
        "index.search_us": us("index.search"),
        "analyze.query_us": us("analyze.query"),
        "index.term_stats_us": us("index.term_stats"),
        "index.postings_us": us("index.postings"),
        "wand.taat_us": us("wand.taat"),
        "index.search_self_us": spans.self_ns["index.search"] / 1e3 / q,
        "index.postings_hit_ratio": (req - read) / req if req else 0.0,
        "artifacts.read_postings_ms": spans.total_ns["artifacts.read_postings"] / 1e6,
        "artifacts.read_terms_ms": spans.total_ns["artifacts.read_terms"] / 1e6,
        "wand.decode_ms": spans.total_ns["wand.decode"] / 1e6,
    }


# ---- Spark event log ---------------------------------------------------------

_ACC = {
    "run_ms": "internal.metrics.executorRunTime",
    "cpu_ns": "internal.metrics.executorCpuTime",
    "gc_ms": "internal.metrics.jvmGCTime",
    "input_bytes": "internal.metrics.input.bytesRead",
    "output_bytes": "internal.metrics.output.bytesWritten",
    "shuffle_write_bytes": "internal.metrics.shuffle.write.bytesWritten",
    "spill_bytes": "internal.metrics.diskBytesSpilled",
    "python_run_ms": "time to run Python workers",
    "arrow_sent_bytes": "data sent to Python workers",
    "arrow_returned_bytes": "data returned from Python workers",
}


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs of the (single) application logged under ``log_dir``:
    ``{"start", "end"}`` in epoch ms plus the summed stage metrics of
    ``_ACC`` and ``tasks``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(files[0]) as fh:
        for line in fh:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                jobs[e["Job ID"]] = {
                    "start": e["Submission Time"],
                    "end": None,
                    "stage_ids": e["Stage IDs"],
                }
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                acc = {a["Name"]: a["Value"] for a in si.get("Accumulables", [])}
                m = {k: int(acc.get(v, 0)) for k, v in _ACC.items()}
                m["tasks"] = si["Number of Tasks"]
                stages[si["Stage ID"]] = m
    out = []
    for j in jobs.values():
        if j["end"] is None:
            raise RuntimeError("event log has a job that never ended")
        m = {k: 0 for k in [*_ACC, "tasks"]}
        # a stage shared by several jobs (skipped on reuse) completes
        # once; it is counted under the job that ran it
        for sid in j["stage_ids"]:
            for k, v in stages.pop(sid, {}).items():
                m[k] += v
        m["start"], m["end"] = j["start"], j["end"]
        out.append(m)
    return sorted(out, key=lambda m: m["start"])


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(jobs: list[dict], ops: list[dict]) -> list[dict]:
    """For each operation ``{"kind", "t0", "t1"}`` (epoch seconds), the
    jobs submitted inside its window, summed, plus ``driver_s``: the
    window minus the union of its jobs' intervals (clipped to it)."""
    out = []
    for op in ops:
        lo, hi = op["t0"] * 1e3, op["t1"] * 1e3
        mine = [j for j in jobs if lo <= j["start"] <= hi]
        agg = {k: sum(j[k] for j in mine) for k in [*_ACC, "tasks"]}
        agg["jobs"] = len(mine)
        wall = hi - lo
        union = _union_ms([(max(j["start"], lo), min(j["end"], hi)) for j in mine])
        agg["wall_s"] = wall / 1e3
        agg["jobs_union_s"] = union / 1e3
        agg["driver_s"] = (wall - union) / 1e3
        agg["kind"] = op["kind"]
        out.append(agg)
    return out


def _mean(rows: list[dict], key: str) -> float:
    return sum(r[key] for r in rows) / len(rows) if rows else 0.0


def spark_metrics(per_op: list[dict], cores: int) -> dict[str, float]:
    """Per-layer Spark metrics from attributed operations. A layer
    whose operation kind did not run in this workload reports 0."""
    by = defaultdict(list)
    for r in per_op:
        by[r["kind"]].append(r)
    sealed, growing = by["sealed"], by["growing"]
    ins, dele, vac, build = by["insert"], by["delete"], by["vacuum"], by["build"]

    out = {
        "distributed.jobs_per_call": _mean(sealed, "jobs"),
        "distributed.tasks_per_call": _mean(sealed, "tasks"),
        "distributed.executor_run_s_per_call": _mean(sealed, "run_ms") / 1e3,
        "distributed.executor_cpu_s_per_call": _mean(sealed, "cpu_ns") / 1e9,
        "distributed.python_run_s_per_call": _mean(sealed, "python_run_ms") / 1e3,
        "distributed.arrow_bytes_per_call": _mean(sealed, "arrow_sent_bytes")
        + _mean(sealed, "arrow_returned_bytes"),
        "distributed.input_bytes_per_call": _mean(sealed, "input_bytes"),
        "distributed.shuffle_bytes_per_call": _mean(sealed, "shuffle_write_bytes"),
        "distributed.driver_s_per_call": _mean(sealed, "driver_s"),
        "distributed.jobs_union_s_per_call": _mean(sealed, "jobs_union_s"),
        "maintain.delta_jobs_per_call": (
            _mean(growing, "jobs") - _mean(sealed, "jobs") if growing else 0.0
        ),
        "maintain.delta_executor_s_per_call": (
            (_mean(growing, "run_ms") - _mean(sealed, "run_ms")) / 1e3
            if growing
            else 0.0
        ),
        "maintain.insert_jobs": _mean(ins, "jobs"),
        "maintain.insert_driver_s": _mean(ins, "driver_s"),
        "maintain.delete_jobs": _mean(dele, "jobs"),
        "maintain.delete_executor_s": _mean(dele, "run_ms") / 1e3,
        "maintain.vacuum_executor_s": _mean(vac, "run_ms") / 1e3,
        "maintain.vacuum_python_run_s": _mean(vac, "python_run_ms") / 1e3,
        "maintain.vacuum_shuffle_bytes": _mean(vac, "shuffle_write_bytes"),
        "maintain.vacuum_spill_bytes": _mean(vac, "spill_bytes"),
        "build.jobs": _mean(build, "jobs"),
        "build.tasks": _mean(build, "tasks"),
        "build.executor_run_s": _mean(build, "run_ms") / 1e3,
        "build.executor_cpu_s": _mean(build, "cpu_ns") / 1e9,
        "build.python_run_s": _mean(build, "python_run_ms") / 1e3,
        "build.shuffle_write_bytes": _mean(build, "shuffle_write_bytes"),
        "build.spill_bytes": _mean(build, "spill_bytes"),
        "build.gc_s": _mean(build, "gc_ms") / 1e3,
        "build.output_bytes": _mean(build, "output_bytes"),
        "build.driver_s": _mean(build, "driver_s"),
        "build.wall_s": _mean(build, "wall_s"),
        "build.core_busy_ratio": (
            _mean(build, "run_ms") / 1e3 / (_mean(build, "wall_s") * cores)
            if build
            else 0.0
        ),
    }
    return out
