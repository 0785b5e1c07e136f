"""Direct (Spark-free) Arrow access to index artifacts.

:func:`spark_schema` also serves the Spark reads: it reads the schema
Spark stored in a footer, so a Spark open needs no inference job.

The driver-side query path reads the terms dictionary, posting blocks
and fieldnorms straight through pyarrow datasets — no Spark job per
query. Filters push down to parquet (directory pruning on the hive
``bucket=N`` partition of postings, row-group stats elsewhere), which
is the same pruning the Spark reader would do, minus scheduling
latency. Executor-side tasks of the distributed query path use the
same functions (artifacts live on shared storage).
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyarrow import fs as pafs

from . import fs as fsio

#: the footer key under which Spark's Parquet writer stores the row
#: schema — the StructType JSON that Spark's own inference returns
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _as_nullable(t):
    """Spark's ``asNullable`` over StructType JSON: a file relation
    reads every column and element as nullable, whatever the writer
    declared."""
    if isinstance(t, list):
        return [_as_nullable(x) for x in t]
    if not isinstance(t, dict):
        return t
    return {
        k: True if k in ("nullable", "containsNull", "valueContainsNull")
        else v if k == "metadata" else _as_nullable(v)
        for k, v in t.items()
    }


def spark_schema(path: str):
    """The StructType ``spark.read.parquet(path)`` infers for the flat
    directory ``path``, read without a Spark job: the row schema
    Spark's writer stored in the footer of one data file. None when
    there is no data file or the file lacks the key (Parquet written
    by another tool)."""
    fs, p = fsio.resolve(path)
    try:
        infos = fs.get_file_info(pafs.FileSelector(p))
    except (FileNotFoundError, OSError):
        return None
    # Spark's listing skips names starting with "_" or "." (_SUCCESS,
    # checksums)
    files = sorted(
        i.path for i in infos
        if i.type == pafs.FileType.File and not i.base_name.startswith(("_", "."))
    )
    if not files:
        return None
    raw = (pq.read_schema(files[0], filesystem=fs).metadata or {}).get(
        SPARK_SCHEMA_KEY
    )
    if raw is None:
        return None
    from pyspark.sql.types import StructType

    return StructType.fromJson(_as_nullable(json.loads(raw)))


def read_terms(terms_path: str, keys: list[bytes], buckets: list[int],
               dataset=None):
    """-> {term_key: {df, wand_fn, wand_tf}} for the query's keys.
    ``dataset``: optional pre-discovered pyarrow dataset (a resident
    server discovers the artifact's files once, not per query)."""
    if not keys:
        return {}
    d = dataset if dataset is not None else ds.dataset(terms_path, format="parquet")
    t = d.to_table(
        columns=["term_key", "df", "wand_fn", "wand_tf"],
        filter=pc.field("term_key").isin(keys),
    )
    out = {}
    for i in range(t.num_rows):
        out[t["term_key"][i].as_py()] = {
            "df": t["df"][i].as_py(),
            "wand_fn": t["wand_fn"][i].as_py(),
            "wand_tf": t["wand_tf"][i].as_py(),
        }
    return out


_POSTING_COLS = [
    "term_key", "shard", "block_ord", "min_doc", "max_doc", "count",
    "wand_fn", "wand_tf", "ids_meta", "ids_bytes", "tfs_meta", "tfs_bytes",
]


def read_postings(
    postings_path: str,
    keys: list[bytes],
    buckets: list[int],
    shard_size: int,
    dataset=None,
):
    """-> {term_key: dict of block arrays} (ascending (shard, ord))."""
    if not keys:
        return {}
    d = (
        dataset
        if dataset is not None
        else ds.dataset(postings_path, format="parquet", partitioning="hive")
    )
    flt = pc.field("bucket").isin(buckets) & pc.field("term_key").isin(keys)
    t = d.to_table(columns=_POSTING_COLS, filter=flt).sort_by(
        [("term_key", "ascending"), ("shard", "ascending"), ("block_ord", "ascending")]
    )
    tk = t["term_key"].to_pylist()
    shard = np.asarray(t["shard"])
    out: dict[bytes, dict] = {}
    cols = {
        "min_doc": np.asarray(t["min_doc"]),
        "max_doc": np.asarray(t["max_doc"]),
        "count": np.asarray(t["count"]),
        "block_fn": np.asarray(t["wand_fn"]),
        "block_tf": np.asarray(t["wand_tf"]),
    }
    ids_meta = t["ids_meta"].to_pylist()
    ids_bytes = t["ids_bytes"].to_pylist()
    tfs_meta = t["tfs_meta"].to_pylist()
    tfs_bytes = t["tfs_bytes"].to_pylist()
    i = 0
    n = len(tk)
    while i < n:
        j = i
        key = tk[i]
        while j < n and tk[j] == key:
            j += 1
        out[key] = {
            **{c: v[i:j].astype(np.int64) for c, v in cols.items()},
            "ids_meta": ids_meta[i:j],
            "ids_bytes": ids_bytes[i:j],
            "tfs_meta": tfs_meta[i:j],
            "tfs_bytes": tfs_bytes[i:j],
            "shard_base": shard[i:j].astype(np.int64) * shard_size,
        }
        i = j
    return out


def read_fieldnorms(docs_path: str, n_docs: int) -> np.ndarray:
    """Dense uint8 fieldnorms indexed by doc_id."""
    d = ds.dataset(docs_path, format="parquet")
    t = d.to_table(columns=["doc_id", "fieldnorm"])
    arr = np.zeros(n_docs, dtype=np.uint8)
    ids = np.asarray(t["doc_id"])
    arr[ids] = np.asarray(t["fieldnorm"]).astype(np.uint8)
    return arr
