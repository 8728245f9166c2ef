"""Z-order (Morton) data layout for multi-column scan pruning.

Parquet row-group min/max statistics prune scans only along columns
the file is CLUSTERED by. A single-column sort gives perfect pruning
on that column and none on any other; Z-ordering interleaves the bits
of several normalized columns into one Morton index and lays the data
out along that curve, so EVERY participating column's values are
locally clustered — each file/row-group covers a small hyper-rectangle
of the key space and a range predicate on ANY of the columns skips
most of the data (the technique behind Delta Lake's OPTIMIZE ZORDER
and ClickHouse/DuckDB space-filling-curve layouts — public designs;
implemented here from first principles).

At 100 TB this is a WRITE-TIME investment: one stats pass + one range
exchange, bought back on every subsequent selective scan over any of
the z-columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_index(
    cols: list[Column | str],
    mins: list[float],
    maxs: list[float],
    bits: int = 16,
) -> Column:
    """Morton index over numeric/timestamp columns as ONE long Column.

    Each column is affinely mapped from ``[min, max]`` onto
    ``[0, 2^bits)`` (values outside clamp to the edges, NULLs map to
    0), then the quantized integers' bits are interleaved:
    bit ``b`` of column ``i`` lands at position ``b*n_cols + i``.
    ``n_cols * bits`` must fit in 63 bits. Pure codegen expression —
    ``bits * n_cols`` shift/mask terms, no Python, no shuffle.
    """
    n = len(cols)
    if n * bits > 63:
        raise ValueError(f"{n} cols x {bits} bits exceeds a long ({n * bits} > 63)")
    if not (len(mins) == len(maxs) == n):
        raise ValueError("mins/maxs must match cols")
    top = (1 << bits) - 1
    quantized = []
    for c, lo, hi in zip(cols, mins, maxs):
        col = F.col(c) if isinstance(c, str) else c
        col = col.cast("double")
        span = float(hi) - float(lo)
        if span <= 0:
            quantized.append(F.lit(0).cast("long"))
            continue
        q = ((col - F.lit(float(lo))) / F.lit(span) * F.lit(float(top))).cast(
            "long"
        )
        q = F.least(F.lit(top).cast("long"), F.greatest(F.lit(0).cast("long"), q))
        quantized.append(F.coalesce(q, F.lit(0).cast("long")))
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, q in enumerate(quantized):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(q, b).bitwiseAND(F.lit(1)), b * n + i)
            )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    n_files: int | None = None,
) -> dict[str, tuple[float, float]]:
    """Write ``df`` as parquet laid out along the Z-curve of ``cols``
    (numeric or timestamp — anything castable to double).

    One aggregate pass computes per-column min/max (the normalization
    frame), then a single ``repartitionByRange`` on the Morton index +
    in-partition sort places every row; each output file covers a
    compact hyper-rectangle, so parquet row-group min/max stats prune
    range scans on ANY z-column. Returns the per-column (min, max)
    frame so readers can reconstruct the same index (e.g. to z-order
    an incremental batch compatibly).
    """
    aggs = []
    for c in cols:
        aggs.append(F.min(F.col(c).cast("double")).alias(f"_lo_{c}"))
        aggs.append(F.max(F.col(c).cast("double")).alias(f"_hi_{c}"))
    row = df.agg(*aggs).collect()[0]
    frame = {c: (row[f"_lo_{c}"], row[f"_hi_{c}"]) for c in cols}
    mins = [frame[c][0] if frame[c][0] is not None else 0.0 for c in cols]
    maxs = [frame[c][1] if frame[c][1] is not None else 0.0 for c in cols]
    z = zorder_index(list(cols), mins, maxs, bits)
    n = n_files or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    (
        df.withColumn("_z", z)
        .repartitionByRange(n, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
    return frame
