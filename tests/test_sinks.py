"""Ordered text sink + merge upsert semantics."""

from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.sinks.ordered_text import write_ordered_text
from curw_flo2d_data_manager_spark.sinks.upsert import merge_upsert


def test_write_ordered_text_single(spark, tmp_path):
    df = spark.createDataFrame(
        [(2, "second"), (1, "first"), (3, "third")], "rank int, line string"
    ).repartition(4)
    out = str(tmp_path / "OUT.DAT")
    write_ordered_text(df, out, ["rank"], header_lines=["HEAD"], footer_lines=["TAIL"])
    assert open(out).read() == "HEAD\nfirst\nsecond\nthird\nTAIL\n"


def test_write_ordered_text_large_order(spark, tmp_path):
    n = 10_000
    df = spark.range(n).select(
        F.col("id").alias("rank"), F.col("id").cast("string").alias("line")
    ).repartition(16)
    out = str(tmp_path / "BIG.DAT")
    write_ordered_text(df, out, ["rank"])
    lines = open(out).read().splitlines()
    assert lines == [str(i) for i in range(n)]


def test_merge_upsert(spark):
    existing = spark.createDataFrame(
        [("a", 1, 10.0), ("b", 1, 20.0)], "id string, t int, v double"
    )
    incoming = spark.createDataFrame(
        [("b", 1, 99.0), ("c", 1, 30.0)], "id string, t int, v double"
    )
    out = merge_upsert(existing, incoming, ["id", "t"])
    rows = {(r["id"], r["t"]): r["v"] for r in out.collect()}
    assert rows == {("a", 1): 10.0, ("b", 1): 99.0, ("c", 1): 30.0}


def test_merge_upsert_idempotent(spark):
    existing = spark.createDataFrame([("a", 1, 10.0)], "id string, t int, v double")
    incoming = spark.createDataFrame([("a", 1, 10.0)], "id string, t int, v double")
    once = merge_upsert(existing, incoming, ["id", "t"])
    twice = merge_upsert(once, incoming, ["id", "t"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_upsert_sql_rejects_unsafe_identifiers():
    """Identifiers are interpolated into the upsert statement, so
    anything outside the portable unquoted form must fail fast on the
    driver (round-4 advice)."""
    import pytest

    from curw_flo2d_data_manager_spark.sinks.upsert import _upsert_sql

    # dotted table qualification is fine
    assert "INSERT INTO curw_fcst.data" in _upsert_sql(
        "curw_fcst.data", ["id", "time", "value"], ["id", "time"], "mysql"
    )
    for table, cols, keys in [
        ("bad table", ["id"], ["id"]),
        ("t;drop", ["id"], ["id"]),
        ("t", ["va l"], ["id"]),
        ("t", ["id", 'v"'], ["id"]),
        ("t", ["id"], ["id); --"]),
        ("", ["id"], ["id"]),
    ]:
        with pytest.raises(ValueError, match="unsafe SQL identifier"):
            _upsert_sql(table, cols, keys, "standard")
