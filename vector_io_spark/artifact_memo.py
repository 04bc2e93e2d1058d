"""Driver-side memo for the small artifacts of the persisted catalogs.

A warm catalog probe used to re-read the same few KB on every call:
centroids, codebooks, SQ8 bounds, the sparse ``meta`` row, the exact-PQ
``params`` row — each a schema-inference job plus a collect job — and
it re-inferred the schema of the ``cells`` / ``postings`` / tombstone
scans (one more job each). Repeated top-k batches against one
unchanged index are the serving traffic, so those reads were pure
overhead.

Memo keys. An entry is keyed by a Hadoop-FS LISTING — (file path,
length, modification time) of every file under a directory that the
catalog's writers rewrite whenever the memoized value can change —
never by a path alone and never by a directory mtime (object stores
have none). Spark writes new UUID part-file names on every write, so a
rebuild, a compaction or a rewrite by another process changes the key
and is seen on the next call; checking costs one recursive listing and
no Spark job.

Which directory keys what:

- a small table (``centroids``, ``codebooks``, ``bounds``, ``meta``,
  ``params``) is keyed by its own listing;
- the inferred schema of a ``cells`` scan is keyed by ``centroids``
  (and ``postings`` by the sparse ``meta``; exact-PQ ``codes`` by
  ``params``): only a full build can change that schema, and every
  build rewrites the keying table last; appends and compactions keep
  the schema;
- the tombstone schema is keyed by the tombstone directory itself
  (tombstone dirs are written once, by rename).

The memo is a fixed-size LRU (``MEMO_ENTRIES``) shared by the process;
values are immutable (read-only ndarrays, tuples, schemas).
"""

from __future__ import annotations

import threading
from collections import OrderedDict

# one entry per (artifact dir, parser) or per scanned layout; the
# largest value is a num_cells x dim centroid matrix
MEMO_ENTRIES = 64

# data dir of a catalog layout -> the table whose listing keys its
# inferred schema: every full build writes it after the data dir, and
# appends and compactions leave it alone
_SCHEMA_KEY = {"cells": "centroids", "postings": "meta", "codes": "params"}

_MEMO: OrderedDict = OrderedDict()
_LOCK = threading.Lock()


def clear() -> None:
    """Drop every memoized artifact and schema."""
    with _LOCK:
        _MEMO.clear()


def _fs_path(spark, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def path_exists(spark, path: str) -> bool:
    """Whether ``path`` exists on its Hadoop filesystem (one metadata
    call, no Spark job)."""
    fs, p = _fs_path(spark, path)
    return bool(fs.exists(p))


def listing(spark, path: str):
    """Sorted ((file path, length, mtime), ...) of every file under
    ``path``, recursively; None when ``path`` does not exist. One
    recursive listing call on the driver, no Spark job."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return None
    out = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        out.append(
            (st.getPath().toString(), st.getLen(), st.getModificationTime())
        )
    return tuple(sorted(out))


def _memo(key, build):
    with _LOCK:
        if key in _MEMO:
            _MEMO.move_to_end(key)
            return _MEMO[key]
    value = build()
    with _LOCK:
        _MEMO[key] = value
        _MEMO.move_to_end(key)
        while len(_MEMO) > MEMO_ENTRIES:
            _MEMO.popitem(last=False)
    return value


def small_table(spark, path: str, parse):
    """``parse(rows)`` of the few-KB parquet table at ``path``,
    memoized on (path, its listing, parse). ``parse`` must return an
    immutable value — it is shared by every later call. A miss costs
    the read (schema inference + collect); a hit costs the listing."""
    files = listing(spark, path)
    if files is None:  # no table: let Spark raise its usual error
        return parse(spark.read.parquet(path).collect())
    return _memo(
        ("table", path, parse, files),
        lambda: parse(spark.read.parquet(path).collect()),
    )


def read_parquet(spark, paths, key_dir: str, files=None):
    """``spark.read.parquet(*paths)`` with the inferred schema memoized
    on the listing of ``key_dir`` — a directory the writers rewrite
    whenever the schema of ``paths`` can change (see module docstring).
    Repeat calls skip the schema-inference job; the scan itself still
    lists ``paths`` as usual. ``files`` passes a listing of ``key_dir``
    the caller already holds."""
    paths = [paths] if isinstance(paths, str) else list(paths)
    if files is None:
        files = listing(spark, key_dir)
    if files is None:
        return spark.read.parquet(*paths)
    schema = _memo(
        ("schema", tuple(paths), key_dir, files),
        lambda: spark.read.parquet(*paths).schema,
    )
    return spark.read.schema(schema).parquet(*paths)


def read_layout(spark, root: str, data_sub: str):
    """The ``data_sub`` layout (``cells``, ``postings`` or ``codes``)
    of the catalog at ``root``, its schema memoized on the listing of
    the layout's key table."""
    return read_parquet(
        spark, f"{root}/{data_sub}", f"{root}/{_SCHEMA_KEY[data_sub]}"
    )
