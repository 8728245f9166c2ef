"""Throughput + exactness smoke for the HTML/markup stripper
(operators/markup.py): a pure projection must run at scan speed — no
shuffle, no Python — and produce byte-identical output to a plain
Python `re` replay of the same chain.

Data: ``n`` synthetic docs wrapped in per-doc markup (style block,
comment, attributes, script block, entity soup). Verification: 200
sampled docs byte-equal vs the Python replay; throughput reported as
docs/s and MB/s of wrapped input.

Prints one JSON line. Usage:
python tools/bench_markup_scale.py [n_docs]  (default 2_000_000)
"""

from __future__ import annotations

import hashlib
import re
import time

from _scale import run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.markup import (
    _AMP_FINAL_PAT,
    _ENTITY_STEPS,
    _NUMREF_PAT,
    _REGEX_STEPS,
    strip_html,
)

CHECKS = ("ok",)


def _py_strip(s: str) -> str:
    """Plain-`re` replay of the FULL round-13 chain (regex strips,
    named entities, numeric character references, final ampersand
    pass, whitespace collapse) — mirrors tests/test_round12_ops.py."""
    for pat, rep in _REGEX_STEPS:
        s = re.sub(pat, rep, s)
    for lit, rep in _ENTITY_STEPS:
        s = s.replace(lit, rep)

    def dec(m):
        body = m.group(1)
        n = int(body[1:], 16) if body[0] in "xX" else int(body)
        if 1 <= n <= 0x10FFFF and not (0xD800 <= n <= 0xDFFF) and n != 38:
            return chr(n)
        return m.group(0)

    s = re.sub(_NUMREF_PAT, dec, s)
    s = re.sub(_AMP_FINAL_PAT, "&", s)
    return re.sub(r"\s+", " ", s).strip()


def _wrapped_expr():
    return F.concat(
        F.lit('<html><head><style>p {color: #'),
        (F.col("id") % 999).cast("string"),
        F.lit('}</style><!-- doc '),
        F.col("id").cast("string"),
        F.lit(' --></head><body><p class="d" data-k="'),
        (F.col("id") % 7).cast("string"),
        F.lit('">payload text '),
        F.md5(F.col("id").cast("string")),
        F.lit(' with &amp; and &lt;angles&gt; and &#39;quotes&#39;'
              '</p><script>var a = "<b>x</b>"; if (1 < 2) {}</script>'
              "&nbsp;tail</body></html>"),
    )


def _py_wrapped(i: int) -> str:
    h = hashlib.md5(str(i).encode()).hexdigest()
    return (
        f'<html><head><style>p {{color: #{i % 999}}}</style><!-- doc {i} -->'
        f'</head><body><p class="d" data-k="{i % 7}">payload text {h} '
        "with &amp; and &lt;angles&gt; and &#39;quotes&#39;"
        '</p><script>var a = "<b>x</b>"; if (1 < 2) {}</script>'
        "&nbsp;tail</body></html>"
    )


def _clean_expr():
    """The common case at crawl scale: documents that carry NO markup
    and NO entities at all — they must ride the round-14 lazy-CASE
    fast paths (two contains probes + whitespace collapse)."""
    return F.concat(
        F.lit("payload text "),
        F.md5(F.col("id").cast("string")),
        F.lit("  with plain   words and  numbers "),
        (F.col("id") % 9973).cast("string"),
        F.lit(" tail"),
    )


def _py_clean(i: int) -> str:
    h = hashlib.md5(str(i).encode()).hexdigest()
    return (
        f"payload text {h}  with plain   words and  numbers "
        f"{i % 9973} tail"
    )


def _run_arm(spark, n, expr):
    docs = spark.range(n).select("id", expr.alias("html"))
    in_bytes = docs.agg(F.sum(F.length("html"))).collect()[0][0]
    t0 = time.time()
    out = docs.select("id", strip_html("html").alias("text"))
    agg = out.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.length("text")).alias("out_chars"),
        F.sum(F.crc32(F.col("text").cast("binary"))).alias("sig"),
    ).collect()[0]
    elapsed = time.time() - t0
    sample = {
        r["id"]: r["text"]
        for r in out.filter(F.col("id") % (n // 200) == 0).collect()
    }
    return in_bytes, elapsed, agg, sample


def main(spark, n_docs=2_000_000) -> dict:
    n = n_docs
    in_bytes, elapsed, agg, sample = _run_arm(spark, n, _wrapped_expr())
    ok = agg["docs"] == n and len(sample) == 200
    for i, got in sample.items():
        ok &= got == _py_strip(_py_wrapped(i))

    # clean-doc arm: same chain, entity/tag-free rows
    cb, ce, cagg, csample = _run_arm(spark, n, _clean_expr())
    cok = cagg["docs"] == n and len(csample) == 200
    for i, got in csample.items():
        cok &= got == _py_strip(_py_clean(i))

    ok = bool(ok and cok)
    return {
        "metric": "markup_strip_scale",
        "n_docs": n,
        "input_mb": round(in_bytes / 1e6, 1),
        "value": round(elapsed, 2),
        "unit": "sec",
        "docs_per_sec": int(n / elapsed),
        "mb_per_sec": round(in_bytes / 1e6 / elapsed, 1),
        "clean_docs_per_sec": int(n / ce),
        "clean_mb_per_sec": round(cb / 1e6 / ce, 1),
        "clean_over_wrapped": round(elapsed / ce, 2),
        "sampled_rows_exact": bool(ok),
        "ok": ok,
    }


if __name__ == "__main__":
    run(main, CHECKS)
