"""bm25spark benchmark entry point.

    python3 perfbench/run.py --workload serve_resident --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Prints one information line (corpus
digest, environment, host-speed control loop, error ratio, per-operation
detail) and, as the last line, the result object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics of a
traced run plus ``trace.overhead_ratio``: traced time per operation over
the median of the untraced runs recorded in this checkout (with none
recorded yet, the invocation first makes an untraced run of its seed).

Each run happens in a child process (``worker.py``) whose environment
pins the core count, the driver heap and the Spark local dirs before
the JVM starts. The serving corpus and its index are built once per
checkout into ``.perfbench_cache/`` and copied or opened from there.
See README.md in this directory.
"""

from __future__ import annotations

import argparse
import fcntl
import hashlib
import json
import os
import platform
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve_resident", "serve_mutable")
DRIVER_MEM = "4g"  # below this host class's RAM; the library default is 16g
CHILD_TIMEOUT_S = 170
FILL_TIMEOUT_S = 800


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _ram_gib() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("no MemTotal in /proc/meminfo")


def control_loop_ms() -> float:
    """A fixed single-thread loop, timed: host speed, not the program.
    A diagnostic only; it never scales a metric."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += (i * i) % 7
    return (time.perf_counter() - t0) * 1e3


def _cache_key() -> str:
    """The cache is valid for one program source, one corpus generator
    (which also holds the corpus and index parameters) and one fill."""
    h = hashlib.sha256()
    base = os.path.join(ROOT, "bm25spark")
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(base)
        for f in fs
        if f.endswith(".py")
    ]
    for path in sorted(files) + [os.path.join(HERE, f) for f in ("corpus.py", "worker.py")]:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _env(work: str, traced: bool) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if traced:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                # Spark 4.1 defaults to rolling zstd files; keep one
                # plain JSON file the benchmark can parse
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    env.update(
        {
            "PYSPARK_SUBMIT_ARGS": f"{args} pyspark-shell",
            "BM25SPARK_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            # every JVM, the spark-submit launcher too: temp files in
            # the work dir, no hsperfdata under /tmp
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYTHONPATH": os.pathsep.join(
                [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]
            ),
        }
    )
    return env


def _run_child(args: list[str], env: dict, timeout: float) -> None:
    """Run ``worker.py`` in its own process group and make sure every
    process of the group (the JVM, Python workers) has ended."""
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), *args],
        env=env,
        cwd=ROOT,
        stdout=sys.stderr,
        start_new_session=True,
    )
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        _reap_group(proc.pid)
        proc.wait()
    if rc != 0:
        raise RuntimeError(f"worker {args[:2]} failed (exit {rc})")


def _group_alive(pgid: int) -> bool:
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            return True
    return False


def _reap_group(pgid: int) -> None:
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            if not _group_alive(pgid):
                return
            time.sleep(0.1)


def _ensure_cache(cores: int) -> str:
    base = os.path.join(ROOT, ".perfbench_cache")
    os.makedirs(base, exist_ok=True)
    key = _cache_key()
    cache = os.path.join(base, key)
    with open(os.path.join(base, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        for stale in os.listdir(base):
            if stale not in (key, "lock"):
                shutil.rmtree(os.path.join(base, stale))
        if not os.path.exists(os.path.join(cache, "meta.json")):
            work = os.path.join(ROOT, ".perfbench_run", f"fill-{os.getpid()}")
            os.makedirs(work, exist_ok=True)
            try:
                _run_child(
                    ["--fill", "--cache", cache, "--cores", str(cores)],
                    _env(work, traced=False),
                    FILL_TIMEOUT_S,
                )
            finally:
                shutil.rmtree(work, ignore_errors=True)
    return cache


def _one_run(a, cache: str, cores: int, traced: bool, check: bool) -> dict:
    """One child run. An untraced child made only as the time base of
    ``trace.overhead_ratio`` skips the output checks; the traced child
    of the same invocation makes them."""
    work = os.path.join(ROOT, ".perfbench_run", f"{os.getpid()}-{int(traced)}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = os.path.join(work, "result.json")
        _run_child(
            [
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(int(traced)),
                "--cores", str(cores), "--cache", cache, "--work", work,
                "--out", out,
                *([] if check else ["--no-check"]),
            ],
            _env(work, traced),
            CHILD_TIMEOUT_S,
        )
        with open(out) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _recorded(path: str) -> list[float]:
    """``ops_per_s`` of the untraced runs made in this checkout."""
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line)["ops_per_s"] for line in fh]


def _environment(cores: int) -> dict:
    from importlib.metadata import version

    return {
        "nproc": cores,
        "ram_gib": round(_ram_gib(), 1),
        "python": platform.python_version(),
        "spark": version("pyspark"),
        "pyarrow": version("pyarrow"),
        "numpy": version("numpy"),
        "driver_mem": DRIVER_MEM,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "bm25spark", "__init__.py")):
        print(f"no bm25spark package under {ROOT}: run from a checkout", file=sys.stderr)
        return 2

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)  # the metric names and units reported
    cores = _cores()
    control_before = control_loop_ms()
    cache = _ensure_cache(cores)
    with open(os.path.join(cache, "meta.json")) as fh:
        meta = json.load(fh)
    records = os.path.join(cache, f"untraced-{a.workload}.jsonl")
    runs = []
    if a.trace:
        untraced = _recorded(records)
        if not untraced:
            runs.append(_one_run(a, cache, cores, traced=False, check=False))
            untraced = [runs[-1]["metrics"]["ops_per_s"]]
        runs.append(_one_run(a, cache, cores, traced=True, check=True))
        layers = dict(runs[-1]["layers"])
        # time per operation, traced over untraced
        layers["trace.overhead_ratio"] = (
            statistics.median(untraced) / runs[-1]["metrics"]["ops_per_s"]
        )
        metrics = {
            m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        runs.append(_one_run(a, cache, cores, traced=False, check=True))
        with open(records, "a") as fh:
            fh.write(json.dumps({"seed": a.seed, "ops_per_s": runs[-1]["metrics"]["ops_per_s"]}) + "\n")
        metrics = {
            m["name"]: {"value": runs[-1]["metrics"][m["name"]], "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    control_after = control_loop_ms()
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    info = {
        "workload": a.workload,
        "seed": a.seed,
        "corpus": {
            "seed": meta["corpus_seed"],
            "docs": meta["n_docs"],
            "digest": meta["digest"],
            "terms": meta["terms"],
            "index_bytes_per_input_byte": meta["index_bytes"] / meta["corpus_bytes"],
        },
        "environment": _environment(cores),
        "control_loop_ms": {"before": control_before, "after": control_after},
        "error_ratio": failed / attempted if attempted else 1.0,
        "errors": [e for r in runs for e in r["errors"]],
        "detail": runs[-1]["detail"],
    }
    print(json.dumps({"info": info}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
