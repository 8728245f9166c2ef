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
reader of a swapped directory recovers it first. ``replace_all``
writes every temp copy of several targets before the first swap.

Single writer per target, and no ``recover`` during a commit of that
target: the CLI's cron-sequenced commands touch a path one at a time.
"""

from __future__ import annotations

import os
import shutil

SWAP, OLD = ".tmp-swap", ".tmp-old"


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


def replace(target: str, write) -> str:
    """Make the content ``write(tmp)`` materializes at a sibling temp
    path (a file or a directory) the content of ``target``; returns
    ``target``."""
    replace_all([(target, write)])
    return target


def read_parquet(spark, target: str):
    """The parquet table last committed at ``target`` (recovered first),
    or None when nothing was ever committed there. Every other error
    propagates: taking a failed read for a first run would have the
    next ``replace`` discard the table."""
    recover(target)
    if not os.path.exists(target):
        return None
    return spark.read.parquet(target)
