"""Bit-equality gates for the round-15 Arrow carve-out
(operators/arrowsig.py): the vectorized xxhash64 port and the
mapInArrow corpus-signal stage must match the pure-expression twins
exactly on organic and adversarial corpora (the BPE-encoder carve-out
discipline)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.functions import xxh64_np as X
from curw_flo2d_data_manager_spark.operators.arrowsig import (
    with_corpus_signals_arrow,
)
from curw_flo2d_data_manager_spark.operators.dedup import (
    minhash_signature,
    with_shingle_hashes,
)
from curw_flo2d_data_manager_spark.operators.textstats import lang_id, words


ADVERSARIAL = [
    (1, "the the and of to is in that for it was"),   # en markers, dupes
    (2, "der die das und ist nicht mit ein den von"), # de
    (3, ""),                                          # empty
    (4, None),                                        # NULL text
    (5, "one"),                                       # 1 word
    (6, "two words"),                                 # 2 words
    (7, "exactly three words"),                       # 3 words
    (8, "de que la el"),                              # multi-lang markers
    (9, "的 是 了 在 我"),                             # zh
    (10, "и в не на что"),                            # ru
    (11, "x " * 500),                                 # long, one distinct
    (12, "a-b c-d --- -"),                            # hyphens
    (13, "UPPER Case MiXeD the AND"),                 # casing
    (14, "o   extra   spaces  the  "),                # whitespace runs
    (15, "el el el the the the the"),                 # tie-break: en wins on count
    (16, "el el the the"),                            # exact tie: es before en? no — en later, es earlier
]


def test_xxh64_port_matches_jvm(spark):
    """hash_long / chained hash_int / string hashing pinned against
    the JVM expression on longs (incl. negatives/extremes), 32 seeds,
    NULL-skipping chains, and non-ASCII strings."""
    longs = [0, 1, -1, 42, 2**62, -(2**62), 1234567890123456789]
    rows = (
        spark.createDataFrame([(x,) for x in longs], "v long")
        .select("v", F.xxhash64("v").alias("h"))
        .collect()
    )
    got = X.hash_long(
        np.array(longs, dtype=np.int64).view(np.uint64), 42
    ).view(np.int64)
    assert [r["h"] for r in rows] == [int(g) for g in got]

    pairs = [(s, i) for s in longs[:3] for i in range(32)]
    rows = (
        spark.createDataFrame(pairs, "s long, i int")
        .select("s", "i", F.xxhash64(F.col("s"), F.col("i")).alias("h"))
        .collect()
    )
    with np.errstate(over="ignore"):
        for r in rows:
            h1 = X.hash_long(
                np.array([r["s"]], dtype=np.int64).view(np.uint64), 42
            )
            assert r["h"] == int(X.hash_int(r["i"], h1).view(np.int64)[0])

    strs = ["the", "más", "不", "olarak", "", "y" * 8, "v" * 32, "t" * 100]
    rows = (
        spark.createDataFrame([(s,) for s in strs], "s string")
        .select("s", F.xxhash64("s").alias("h"))
        .collect()
    )
    assert [r["h"] for r in rows] == [X.spark_xxhash64_str(s) for s in strs]


@pytest.mark.parametrize("num_hashes", [16, 32])
def test_corpus_signals_arrow_bit_equal(spark, sf_dir, num_hashes):
    """_sig bit-equal, _sh set-equal, lang equal vs the expression
    twins — adversarial rows plus the organic sf corpus."""
    adf = spark.createDataFrame(ADVERSARIAL, "doc_id long, text string")
    org = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    for df in (adf, org):
        base = df.select(
            "doc_id",
            F.transform(words("text"), lambda x: F.xxhash64(x)).alias("_hw"),
        )
        arrow = {
            r["doc_id"]: r
            for r in with_corpus_signals_arrow(
                base,
                hw_col="_hw",
                sh_col="_sh",
                sig_col="_sig",
                lang_col="lang",
                num_hashes=num_hashes,
            ).collect()
        }
        expr = {
            r["doc_id"]: r
            for r in (
                with_shingle_hashes(df, "text", "_sh", 3)
                .withColumn("_sig", minhash_signature(F.col("_sh"), num_hashes))
                .withColumn("lang", lang_id("text"))
                .select("doc_id", "_sh", "_sig", "lang")
            ).collect()
        }
        assert set(arrow) == set(expr)
        for k, e in expr.items():
            a = arrow[k]
            assert sorted(a["_sh"]) == sorted(e["_sh"]), k
            assert a["_sig"] == e["_sig"], k
            assert a["lang"] == e["lang"], k


def test_corpus_signals_passthrough_and_schema(spark):
    """Pass-through columns ride unchanged; _sh is sorted-distinct;
    hw can be kept or dropped."""
    df = spark.createDataFrame(
        [(1, "s0", "the quick brown fox the"), (2, "s1", "")],
        "doc_id long, source string, text string",
    )
    base = df.select(
        "doc_id",
        "source",
        F.transform(words("text"), lambda x: F.xxhash64(x)).alias("_hw"),
    )
    out = with_corpus_signals_arrow(
        base, hw_col="_hw", sh_col="_sh", sig_col="_sig", num_hashes=4,
        drop_hw=False,
    )
    assert out.columns == ["doc_id", "source", "_hw", "_sh", "_sig"]
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["source"] == "s0" and rows[2]["source"] == "s1"
    assert rows[1]["_sh"] == sorted(set(rows[1]["_sh"]))
    assert len(rows[1]["_sig"]) == 4
    # empty doc: the all-NULL gram == seed 42, like the expression twin
    assert rows[2]["_sh"] == [42]


def _hw_rows(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, _hw array<bigint>")


def test_corpus_signals_null_row_behaves_like_empty(spark):
    """A NULL word-hash array gives what an empty one gives: the single
    seed-42 gram, its real signature, and the default language."""
    out = with_corpus_signals_arrow(
        _hw_rows(spark, [(1, None), (2, [])]),
        hw_col="_hw", sh_col="_sh", sig_col="_sig", lang_col="lang",
        num_hashes=4, lang_default="xx",
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["_sh"] == rows[2]["_sh"] == [42]
    assert rows[1]["_sig"] == rows[2]["_sig"] and len(rows[1]["_sig"]) == 4
    assert rows[1]["lang"] == rows[2]["lang"] == "xx"


def test_corpus_signals_rejects_other_shingle_width_on_driver(spark):
    """The width is checked when the plan is built, not as an assertion
    inside a task."""
    with pytest.raises(ValueError, match="shingle_n=2"):
        with_corpus_signals_arrow(_hw_rows(spark, [(1, [1, 2, 3])]), shingle_n=2)


def test_list_to_flat_rejects_null_elements():
    import pyarrow as pa

    from curw_flo2d_data_manager_spark.operators.arrowsig import _list_to_flat

    flat, lens, nulls = _list_to_flat(pa.array([[1, 2], None, []], pa.list_(pa.int64())))
    assert (flat.tolist(), lens.tolist(), nulls.tolist()) == ([1, 2], [2, 0, 0], [False, True, False])
    with pytest.raises(ValueError, match="1 NULL element"):
        _list_to_flat(pa.array([[1, None, 3]], pa.list_(pa.int64())))
