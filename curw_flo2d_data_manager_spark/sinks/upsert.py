"""Upsert sinks — SURVEY §2 rows K7/K9, §7 hard part 5.

The reference upserts forecast rows into MySQL with
``INSERT … ON DUPLICATE KEY UPDATE`` on ``(tms_id, time, fgt)``
(output/extract_water_level.py:216, via db_adapter insert_data
upsert=True). Spark's JDBC writer has no upsert, so the engine offers:

* :func:`merge_upsert` — MERGE semantics over the Parquet backend:
  new rows replace old rows with the same key (last-writer-wins),
  implemented as key-anti-join + union; deterministic and idempotent
  (re-running the same extraction is a no-op delta).
* :func:`upsert_files` — ``merge_upsert`` applied to a stored flat
  table file by file: only the files that can hold a colliding row
  are merged and rewritten, every other file is carried over
  unchanged (``commit.carry_over``), the way the reference's upsert
  touches only the new cycle's rows.
* :func:`jdbc_upsert_partition` — a ``foreachPartition`` writer that
  batches ``INSERT … ON DUPLICATE KEY UPDATE`` through any DB-API
  connection factory (for real curw_fcst deployments).
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable, Iterator
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from curw_flo2d_data_manager_spark import commit

# SQL identifiers are interpolated (not parameterized) into the upsert
# statement, so restrict them to the portable unquoted form; anything
# else (spaces, quotes, reserved punctuation) fails fast on the driver
# instead of producing a broken/injectable statement on every executor
# partition (round-4 advice).
_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _check_identifiers(table: str, cols: list[str], keys: list[str]) -> None:
    bad = [p for p in table.split(".") if not _IDENT_RE.match(p)]
    bad += [c for c in [*cols, *keys] if not _IDENT_RE.match(c)]
    if bad or not table:
        raise ValueError(
            f"unsafe SQL identifier(s) {bad!r}: table/column names must "
            "match ^[A-Za-z_][A-Za-z0-9_]*$ (optionally dot-qualified table)"
        )


def merge_upsert(existing: DataFrame, incoming: DataFrame, keys: list[str]) -> DataFrame:
    """Last-writer-wins MERGE: rows of ``existing`` whose key appears in
    ``incoming`` are replaced.

    Incoming is deduplicated on the key first (last occurrence wins is
    meaningless in an unordered DataFrame, so we require unique keys —
    duplicates are collapsed arbitrarily-but-deterministically via
    max_by on a stable struct). The result is the new table content;
    caller persists it (write-new-then-swap for atomicity).
    """
    inc = incoming.dropDuplicates(keys)
    kept = existing.join(inc.select(*keys), keys, "left_anti")
    return kept.unionByName(inc)


def require_schema(incoming: DataFrame, schema: StructType) -> None:
    """Check that ``incoming`` has exactly the columns of ``schema``,
    in any order. A column present on one side only, or of another
    type, raises ``ValueError`` naming it: appending such rows would
    leave files of two schemas in one table, and a silent cast would
    hide a changed payload."""
    have = {f.name: f.dataType for f in incoming.schema}
    for f in schema:
        if f.name not in have:
            raise ValueError(f"column {f.name!r} of the table is missing from the payload")
        if have[f.name] != f.dataType:
            raise ValueError(
                f"column {f.name!r} is {have[f.name].simpleString()} in the payload "
                f"but {f.dataType.simpleString()} in the table"
            )
    extra = [c for c in have if c not in schema.names]
    if extra:
        raise ValueError(f"payload column {extra[0]!r} is not in the table")


def files_holding(table: DataFrame, where: Column) -> list[str]:
    """Names of the files of the flat parquet scan ``table`` that hold
    at least one row satisfying ``where``. Only the filtered columns
    are read, and parquet row-group statistics skip the row groups
    that cannot match."""
    paths = table.where(where).select(F.col("_metadata.file_path")).distinct().collect()
    return sorted(os.path.basename(unquote(urlparse(p).path)) for (p,) in paths)


def upsert_files(
    spark, target: str, tmp: str, incoming: DataFrame, keys: list[str], where: Column
) -> DataFrame:
    """Write into ``tmp``, the temp copy of the flat parquet table
    ``target``, that table with ``incoming`` merged in on ``keys``.

    ``where`` must hold for every stored row that can share a key with
    an incoming row: the extract's ``fgt`` equality (``fgt`` is part of
    its key), or ``F.lit(True)`` to merge the whole table (the
    streaming upsert). The files holding rows that satisfy it go
    through ``merge_upsert`` with ``incoming`` and are written anew,
    together with it, in the table's schema (``require_schema``),
    minus any zero-row file the write left; every other file is
    hard-linked in unchanged. With no table at
    ``target`` the merge runs against nothing, so ``incoming`` is
    written with duplicate keys collapsed, as every later run does.

    Returns the rows of the new files that satisfy ``where``, read
    back from ``tmp``: a caller derives from them without running
    ``incoming``'s plan again. The scan is valid until ``tmp`` is
    swapped in.
    """
    existing = commit.read_parquet(spark, target)
    if existing is None:
        schema, hits = incoming.schema, []
    else:
        require_schema(incoming, existing.schema)
        schema, hits = existing.schema, files_holding(existing, where)
    prior = (
        spark.read.schema(schema).parquet(*(os.path.join(target, n) for n in hits))
        if hits
        else spark.createDataFrame([], schema)
    )
    merge_upsert(prior, incoming, keys).select(*schema.names).write.parquet(tmp)
    carried = existing is not None and bool(set(commit.data_files(target)) - set(hits))
    new = _drop_empty_files(tmp, keep_schema=not carried)
    if carried:
        commit.carry_over(target, tmp, drop=hits)
    if not new:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*(os.path.join(tmp, n) for n in new)).where(where)


def _drop_empty_files(path: str, keep_schema: bool) -> list[str]:
    """Remove the zero-row data files Spark wrote under ``path`` (the
    first task writes one even when its input is empty), with their
    ``.crc`` siblings, and return the names left. With
    ``keep_schema``, an all-empty write keeps its files, so the table
    still has one to read its schema from."""
    import pyarrow.parquet as pq

    names = commit.data_files(path)
    empty = [n for n in names if pq.read_metadata(os.path.join(path, n)).num_rows == 0]
    if keep_schema and len(empty) == len(names):
        return names
    for n in empty:
        for f in (n, f".{n}.crc"):
            if os.path.exists(os.path.join(path, f)):
                os.remove(os.path.join(path, f))
    return [n for n in names if n not in empty]


def _upsert_sql(
    table: str, cols: list[str], keys: list[str], dialect: str
) -> str:
    """Upsert statement per dialect. ``mysql`` (the reference's target
    — extract_water_level.py:216) uses ``ON DUPLICATE KEY UPDATE``
    with ``%s`` placeholders; ``standard`` (sqlite ≥3.24 / postgres)
    uses ``ON CONFLICT (keys) DO UPDATE SET c = excluded.c`` with
    ``?`` placeholders — both need a unique/PK index on ``keys``."""
    _check_identifiers(table, cols, keys)
    non_keys = [c for c in cols if c not in keys]
    if dialect == "mysql":
        placeholders = ", ".join(["%s"] * len(cols))
        update = (
            ", ".join(f"{c}=VALUES({c})" for c in non_keys)
            or f"{keys[0]}={keys[0]}"
        )
        return (
            f"INSERT INTO {table} ({', '.join(cols)}) VALUES ({placeholders}) "
            f"ON DUPLICATE KEY UPDATE {update}"
        )
    if dialect == "standard":
        placeholders = ", ".join(["?"] * len(cols))
        update = (
            ", ".join(f"{c} = excluded.{c}" for c in non_keys)
            or f"{keys[0]} = {table}.{keys[0]}"
        )
        return (
            f"INSERT INTO {table} ({', '.join(cols)}) VALUES ({placeholders}) "
            f"ON CONFLICT ({', '.join(keys)}) DO UPDATE SET {update}"
        )
    raise ValueError(f"unknown upsert dialect: {dialect!r}")


def jdbc_upsert_partition(
    df: DataFrame,
    table: str,
    keys: list[str],
    connection_factory: Callable[[], object],
    batch_size: int = 1000,
    dialect: str = "mysql",
) -> None:
    """Batched DB-API upsert from every partition in parallel.

    ``connection_factory`` must be importable on executors (e.g. a
    top-level function building a pymysql/psycopg/sqlite3 connection).
    ``dialect`` picks the upsert statement + paramstyle (``mysql``
    default, matching the reference's target; ``standard`` for
    sqlite/postgres ``ON CONFLICT DO UPDATE``).
    """
    cols = df.columns
    sql = _upsert_sql(table, cols, keys, dialect)

    def _write(rows: Iterator) -> None:
        conn = connection_factory()
        try:
            cur = conn.cursor()
            batch = []
            for row in rows:
                batch.append(tuple(row[c] for c in cols))
                if len(batch) >= batch_size:
                    cur.executemany(sql, batch)
                    conn.commit()
                    batch = []
            if batch:
                cur.executemany(sql, batch)
                conn.commit()
        finally:
            conn.close()  # type: ignore[attr-defined]

    df.foreachPartition(_write)
