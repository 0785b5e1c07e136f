"""Seeded inputs for the benchmark: a source-code corpus, a query pool
and the insert/delete stream.

Everything here is a pure function of its seeds: the corpus seed fixes
the vocabulary, the documents and the query pool; the run seed fixes
the query streams sampled from the pool and the insert stream. The program under test only
ever sees what these functions return: Parquet files, query strings
and row lists that the workloads turn into DataFrames.

Corpus shape (one row per file, columns ``repo, path, commit, lang,
content``):

- document lengths are lognormal, as file sizes in real repositories;
- identifiers are built from a Zipf-distributed vocabulary of
  ``VOCAB`` lowercase parts, written as snake_case or camelCase, so the
  ``code`` analyzer splits them back into parts. Most parts are rare;
- every line starts with a language keyword, so a few head terms occur
  in nearly every document;
- numeric literals: small constants are common, long ones are rare.
"""

from __future__ import annotations

import hashlib

import numpy as np

#: the serving corpus: every run opens the index built once from it
CORPUS_SEED = 20_261_017
N_DOCS = 8192
SHARD_SIZE = 1024  # 8 shards: two shard tasks per core on 4 cores

VOCAB = 120_000
ZIPF_S = 1.07
LANGS = {
    "python": ["def", "return", "self", "import", "if", "for", "in", "class", "not"],
    "go": ["func", "return", "err", "nil", "if", "for", "range", "var", "type"],
    "js": ["function", "const", "return", "this", "if", "let", "new", "await", "export"],
}
LANG_NAMES = sorted(LANGS)
KEYWORDS = sorted({w for ws in LANGS.values() for w in ws})
KW_TABLE = np.array([LANGS[n] for n in LANG_NAMES], dtype=object)
# separators between consecutive tokens; "" makes a camelCase join
SEPS = np.array(["_", "", " ", "(", ", ", ")\n", " = ", ".", " "], dtype=object)
SEP_P = np.array([0.12, 0.12, 0.22, 0.1, 0.1, 0.1, 0.08, 0.08, 0.08])


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct lowercase strings of 3-9 letters, in Zipf rank
    order (index 0 is the most frequent part)."""
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype="S1")
    out: list[str] = []
    seen = set(KEYWORDS)
    while len(out) < n:
        m = 2 * (n - len(out))
        lens = rng.integers(3, 10, size=m)
        chars = letters[rng.integers(0, 26, size=(m, 9))]
        for row, ln in zip(chars, lens):
            w = b"".join(row[:ln]).decode()
            if w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return np.array(out, dtype=object)


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    c = np.cumsum(w)
    return c / c[-1]


def _draw(rng: np.random.Generator, cdf: np.ndarray, size: int) -> np.ndarray:
    return np.minimum(np.searchsorted(cdf, rng.random(size)), len(cdf) - 1)


class CodeCorpus:
    """The vocabulary of one corpus seed, and every stream drawn from it."""

    def __init__(self, seed: int, n_docs: int):
        self.seed = seed
        self.n_docs = n_docs
        self.parts = _vocab(np.random.default_rng([seed, 0]), VOCAB)
        self.caps = np.array([p.capitalize() for p in self.parts], dtype=object)
        self.cdf = _zipf_cdf(VOCAB, ZIPF_S)

    # ---- documents ---------------------------------------------------------

    def docs(self) -> list[tuple]:
        """The corpus rows, ``(repo, path, commit, lang, content)``."""
        return self._docs(np.random.default_rng([self.seed, 1]), self.n_docs)

    def _contents(self, rng: np.random.Generator, langs: np.ndarray) -> list[str]:
        """One file body per entry of ``langs`` (indices into
        ``LANG_NAMES``), drawn for all files at once."""
        n_tok = np.clip(rng.lognormal(np.log(90.0), 0.7, size=len(langs)), 8, 1500)
        n_tok = n_tok.astype(np.int64)
        total = int(n_tok.sum())
        starts = np.concatenate([[0], np.cumsum(n_tok)])
        doc_of = np.repeat(np.arange(len(langs)), n_tok)
        kinds = rng.random(total)
        ids = _draw(rng, self.cdf, total)
        seps = SEPS[rng.choice(len(SEPS), size=total, p=SEP_P)]
        # the separator *before* a token decides its case: after "" the
        # part is capitalized, which writes a camelCase identifier
        prev = np.roll(seps, 1)
        toks = np.where(prev == "", self.caps[ids], self.parts[ids])
        num = np.flatnonzero(kinds < 0.08)
        small = kinds[num] < 0.065
        lits = np.where(
            small,
            rng.integers(0, 64, size=len(num)),
            rng.integers(10_000, 100_000_000, size=len(num)),
        )
        toks[num] = lits.astype(str).astype(object)
        seps[num] = " "
        # every line opens with a keyword of the file's language
        line_start = np.flatnonzero(seps == ")\n") + 1
        line_start = np.union1d(line_start[line_start < total], starts[:-1])
        kw = KW_TABLE[langs[doc_of[line_start]], rng.integers(0, KW_TABLE.shape[1], size=len(line_start))]
        toks[line_start] = kw
        seps[line_start[line_start > 0] - 1] = ")\n"
        out = np.empty(2 * total, dtype=object)
        out[0::2] = toks
        out[1::2] = seps
        return ["".join(out[2 * a : 2 * b]) for a, b in zip(starts[:-1], starts[1:])]

    def _docs(self, rng: np.random.Generator, n: int) -> list[tuple]:
        langs = rng.integers(0, len(LANG_NAMES), size=n)
        repos = self.parts[_draw(rng, self.cdf, n)]
        orgs = rng.integers(0, 64, size=n)
        dirs = self.parts[rng.integers(0, VOCAB, size=n)]
        bodies = self._contents(rng, langs)
        rows = []
        for i in range(n):
            lang = LANG_NAMES[langs[i]]
            rows.append(
                (
                    f"org{orgs[i]:02d}/{repos[i]}",
                    f"src/{dirs[i]}/f{i:06d}.{lang}",
                    hashlib.sha1(f"{self.seed}:{i}".encode()).hexdigest()[:12],
                    lang,
                    bodies[i],
                )
            )
        return rows

    # ---- queries -----------------------------------------------------------

    def query_pool(self, seed: int, n: int) -> list[str]:
        """``n`` distinct 1-4 term queries. Terms are head keywords,
        Zipf-ranked vocabulary parts (flatter than the corpus, so mid
        and rare terms show up), small numbers, and ~5% terms that no
        document contains (longer than any vocabulary part)."""
        rng = np.random.default_rng([seed, 1])
        cdf = _zipf_cdf(VOCAB, 0.8)
        pool: list[str] = []
        seen: set[str] = set()
        while len(pool) < n:
            terms = []
            for _ in range(int(rng.integers(1, 5))):
                u = rng.random()
                if u < 0.15:
                    terms.append(KEYWORDS[int(rng.integers(0, len(KEYWORDS)))])
                elif u < 0.20:
                    terms.append(
                        "".join(chr(97 + c) for c in rng.integers(0, 26, size=12))
                    )
                elif u < 0.24:
                    terms.append(str(int(rng.integers(0, 64))))
                else:
                    terms.append(self.parts[int(_draw(rng, cdf, 1)[0])])
            q = " ".join(terms)
            if q not in seen:
                seen.add(q)
                pool.append(q)
        return pool

    @staticmethod
    def query_stream(run_seed: int, pool: list[str], stream: int):
        """Endless queries sampled Zipf from ``pool`` (pool order is the
        popularity rank)."""
        rng = np.random.default_rng([run_seed, 2, stream])
        cdf = _zipf_cdf(len(pool), 1.0)
        while True:
            for i in _draw(rng, cdf, 4096):
                yield pool[i]

    # ---- writes ------------------------------------------------------------

    def insert_batch(
        self, run_seed: int, cycle: int, rnd: int, n: int, marker: str
    ) -> list[tuple]:
        """``n`` new documents for one insert round. The first is the
        marker document, whose whole content is ``marker``."""
        rng = np.random.default_rng([run_seed, 3, cycle, rnd])
        langs = rng.integers(0, len(LANG_NAMES), size=n)
        bodies = self._contents(rng, langs)
        bodies[0] = marker
        return [
            (
                f"ins{run_seed}/c{cycle:03d}r{rnd:02d}",
                f"src/new/f{j:04d}.{LANG_NAMES[langs[j]]}",
                hashlib.sha1(f"{run_seed}:{cycle}:{rnd}:{j}".encode()).hexdigest()[:12],
                LANG_NAMES[langs[j]],
                bodies[j],
            )
            for j in range(n)
        ]


COLUMNS = ["repo", "path", "commit", "lang", "content"]
KEY = COLUMNS[:3]


def write_parquet(rows: list[tuple], path: str) -> int:
    """Write ``rows`` with pyarrow from this process; returns the file's
    byte size."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(zip(*rows))
    pq.write_table(
        pa.table({name: pa.array(col, pa.string()) for name, col in zip(COLUMNS, cols)}),
        path,
    )
    return os.path.getsize(path)


def digest(rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]
