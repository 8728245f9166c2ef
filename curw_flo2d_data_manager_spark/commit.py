"""The one place that makes new content visible at a path — the
commit half of the engine's stand-in for MySQL's transactional
``INSERT … ON DUPLICATE KEY UPDATE`` (SURVEY §3.3).

``replace(target, write)`` has ``write`` materialize the new content
at the sibling ``<target>.tmp-swap``, then moves it over ``target``.
A file is fsynced and ``os.replace``d (atomic). A directory (a parquet
table or one partition) takes two renames, ``target`` →
``<target>.tmp-old`` and ``.tmp-swap`` → ``target``: POSIX has no
atomic directory exchange, so a crash between them leaves the
committed copy at ``.tmp-old``, which ``recover`` renames back. Every
reader of a swapped directory recovers it first, and a reader of a
table whose partitions are swapped one by one (``recover_partitions``)
recovers each of them. ``replace_all``
writes every temp copy of several targets before the first swap.
``carry_over`` hard-links a flat table's unchanged data files into
its temp copy, so a commit that changes a few files rewrites only
those.

``table(spark, path)`` is the read half: the only way the package
resolves a committed parquet path to a DataFrame. It remembers each
path's inferred schema per session, so a re-read skips Spark's
schema-inference job; the file listing stays fresh and no data is
cached. ``replace_all`` forgets every schema at or under a target it
swaps.

Single writer per target, and no ``recover`` during a commit of that
target: the CLI's cron-sequenced commands touch a path one at a time,
and a stream's micro-batches run one after another. Paths are local:
the swaps are ``os`` renames.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import stat
import threading

SWAP, OLD = ".tmp-swap", ".tmp-old"

# Parquet reader confs that change the schema Spark infers from the
# same files (``queries._events`` turns the first on).
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

# (application id, absolute path) -> {conf values: (signature, schema)}
_schemas: dict = {}
_schemas_lock = threading.Lock()


def _remove(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.lexists(path):
        os.remove(path)


def recover(target: str) -> None:
    """Bring ``target`` back to its last committed state: rename a
    stranded ``<target>.tmp-old`` back when ``target`` is absent, then
    drop any leftover ``.tmp-old``/``.tmp-swap`` copy."""
    old = target + OLD
    if not os.path.exists(target) and os.path.exists(old):
        os.rename(old, target)
    _remove(old)
    _remove(target + SWAP)


def recover_partitions(table: str) -> None:
    """``recover`` every child of the directory ``table`` that has a
    stranded ``.tmp-old`` or ``.tmp-swap`` copy: partition discovery
    would read ``date=X.tmp-old`` or ``batch=3.tmp-swap`` as one more
    partition value."""
    if not os.path.isdir(table):
        return
    for name in os.listdir(table):
        for suffix in (SWAP, OLD):
            if name.endswith(suffix):
                recover(os.path.join(table, name.removesuffix(suffix)))


def replace_all(pairs) -> None:
    """Commit each ``(target, write)`` pair in order, once every
    ``write(tmp)`` has succeeded. If a ``write`` raises, every target
    is untouched and the temp paths are removed."""
    targets = [target for target, _ in pairs]
    try:
        for target, write in pairs:
            recover(target)
            write(target + SWAP)
            if not os.path.isdir(target + SWAP):
                with open(target + SWAP, "rb") as f:
                    os.fsync(f.fileno())
        for target in targets:
            _forget(target)
            tmp, old = target + SWAP, target + OLD
            if not os.path.isdir(tmp):
                os.replace(tmp, target)
                continue
            if os.path.exists(target):
                os.rename(target, old)
            os.rename(tmp, target)
            _remove(old)
    except BaseException:
        for target in targets:
            _remove(target + SWAP)
        raise


def data_files(path: str) -> list[str]:
    """Names of the data files directly under the table directory
    ``path``: everything Spark lists, i.e. not ``_``/``.``-prefixed
    (``_SUCCESS``, ``.crc`` checksums)."""
    return sorted(e.name for e in os.scandir(path) if not e.name.startswith(("_", ".")))


def carry_over(target: str, tmp: str, drop=()) -> None:
    """Hard-link every data file of the flat table ``target``, except
    the names in ``drop``, into its temp copy ``tmp``, each with its
    ``.<name>.crc`` checksum sibling. Parquet files are never
    rewritten in place, so the swap publishes the same bytes under
    the new copy."""
    os.makedirs(tmp, exist_ok=True)
    for name in set(data_files(target)) - set(drop):
        src = os.path.join(target, name)
        if os.path.isdir(src):
            raise ValueError(f"{src} is a directory: carry_over takes flat tables only")
        os.link(src, os.path.join(tmp, name))
        crc = f".{name}.crc"
        if os.path.exists(os.path.join(target, crc)):
            os.link(os.path.join(target, crc), os.path.join(tmp, crc))


def replace(target: str, write) -> str:
    """Make the content ``write(tmp)`` materializes at a sibling temp
    path (a file or a directory) the content of ``target``; returns
    ``target``."""
    replace_all([(target, write)])
    return target


def read_parquet(spark, target: str):
    """The parquet table last committed at ``target`` (recovered first,
    with its partitions), or None when nothing was ever committed
    there. Every other error propagates: taking a failed read for a
    first run would have the next ``replace`` discard the table."""
    recover(target)
    recover_partitions(target)
    if not os.path.exists(target):
        return None
    return table(spark, target)


def _signature(path: str) -> bytes:
    """Digest of ``st_ino``/``st_mtime_ns``/``st_size`` of ``path`` and
    of every directory and file under it: an added partition or file,
    a swap and a rewrite all change it."""
    h = hashlib.blake2b(digest_size=16)
    todo = [path]
    while todo:
        p = todo.pop()
        st = os.stat(p)
        h.update(f"{p}\0{st.st_ino}\0{st.st_mtime_ns}\0{st.st_size}\n".encode())
        if stat.S_ISDIR(st.st_mode):
            todo.extend(sorted(e.path for e in os.scandir(p)))
    return h.digest()


def _forget(target: str) -> None:
    root = os.path.abspath(target)
    with _schemas_lock:
        for key in [k for k in _schemas if k[1] == root or k[1].startswith(root + os.sep)]:
            del _schemas[key]


def table(spark, path: str):
    """The parquet table at ``path``. The first read in a session
    infers the schema (``spark.read.parquet``); a re-read of unchanged
    files under the same inference confs passes that schema back, so
    Spark lists the files afresh but runs no inference job."""
    key = (spark.sparkContext.applicationId, os.path.abspath(path))
    confs = tuple(spark.conf.get(k, None) for k in _INFER_CONFS)
    sig = _signature(path)
    with _schemas_lock:
        hit = _schemas.get(key, {}).get(confs)
    if hit is not None and hit[0] == sig:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    with _schemas_lock:
        _schemas.setdefault(key, {})[confs] = (sig, df.schema)
    return df
