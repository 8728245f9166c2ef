"""Planted-truth scale smoke for BPE subword token counting
(operators/bpe.py): the operator's 100-TB claim is that the greedy
fold runs over the DISTINCT word vocabulary while the corpus only
pays keyed count shuffles — so throughput must hold when the corpus
grows 100× past the vocabulary.

Data: ``n`` synthetic docs, 20 words each, drawn from a CLOSED
``V``-word vocabulary (word_j = base-26 letter encoding of j, so
piece counts vary with the default merge table).  Slot ``s`` of doc
``id`` uses word index ``(id + s·31) % V`` — a bijection of id mod V
per slot, so with ``V | n`` every vocabulary word appears EXACTLY
``20·n / V`` times and the global expected token total is the closed
form

    total = (20·n / V) · Σ_j pieces(word_j)

with pieces() replayed by the plain-Python reference encoder.  The
aggregate is checked EXACTLY, plus 50 sampled docs row-exactly
against the per-doc closed form.

Prints one JSON line. Usage:
python tools/bench_bpe_scale.py [n_docs] [vocab]  (default 2_000_000 10_000)
"""

from __future__ import annotations

import time

from _scale import require, run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.bpe import (
    DEFAULT_BPE_VOCAB,
    bpe_token_counts,
)

WORDS_PER_DOC = 20
CHECKS = ("ok",)


def _word(j: int) -> str:
    """Deterministic lowercase word for vocabulary index j (length
    4-8, letters only, varied subword structure)."""
    s = ""
    x = j
    for _ in range(4 + j % 5):
        s += chr(ord("a") + x % 26)
        x = x * 31 + 7
    return s


def _pieces(word: str, vocab: list[str]) -> int:
    pos, cnt = 0, 0
    while pos < len(word):
        best = 1
        for t in vocab:
            if word.startswith(t, pos):
                best = max(best, len(t))
        pos += best
        cnt += 1
    return cnt


def main(spark, n_docs=2_000_000, vocab=10_000) -> dict:
    n, v = n_docs, vocab
    # each slot's word index (id + s·31) % V is a bijection of
    # id mod V, so V | n makes every word appear exactly n/V times
    # per slot — the closed-form total below depends on it.
    require(n % v == 0, "n_docs must be a multiple of vocab")

    words_py = [_word(j) for j in range(v)]
    pieces_py = [_pieces(w, DEFAULT_BPE_VOCAB) for w in words_py]

    # Spark-side doc text: 20 slots, slot s of doc id uses word index
    # (id + s*31) % V — each slot column is a bijection of id mod V,
    # so with V | n every word appears exactly n/V times per slot.
    # The vocabulary array literal is created ONCE as a column and
    # element_at'd 20 times (20 inline copies of a 10k-element
    # CreateArray would be 200k plan nodes — the round-9 literal trap).
    words_arr = "array(" + ",".join("'" + w + "'" for w in words_py) + ")"
    slots = ", ".join(
        f"element_at(_vocab, CAST((id + {s * 31}) % {v} AS INT) + 1)"
        for s in range(WORDS_PER_DOC)
    )
    docs = (
        spark.range(n)
        .withColumn("_vocab", F.expr(words_arr))
        .select(
            F.col("id").alias("doc_id"),
            F.expr(f"concat_ws(' ', {slots})").alias("text"),
        )
    )

    t0 = time.time()
    out = bpe_token_counts(docs)
    agg = out.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_words").alias("words"),
        F.sum("n_bpe_tokens").alias("bpe"),
    ).collect()[0]
    elapsed = time.time() - t0

    exp_words = n * WORDS_PER_DOC
    # each of the 20 slots cycles the whole vocabulary n/V times:
    exp_bpe = WORDS_PER_DOC * (n // v) * sum(pieces_py)

    ok = agg["docs"] == n and agg["words"] == exp_words and agg["bpe"] == exp_bpe

    # row-exact spot check: 50 sampled docs vs the per-doc closed form
    sample = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in out.filter(F.col("doc_id") % (n // 50) == 0).collect()
    }
    rows_ok = all(
        got
        == sum(pieces_py[(did + s * 31) % v] for s in range(WORDS_PER_DOC))
        for did, got in sample.items()
    ) and len(sample) == 50
    ok &= rows_ok

    return {
        "metric": "bpe_scale",
        "n_docs": n,
        "vocab": v,
        "tokens": int(agg["bpe"]),
        "value": round(elapsed, 2),
        "unit": "sec",
        "docs_per_sec": int(n / elapsed),
        "exact_total": bool(
            agg["bpe"] == exp_bpe and agg["words"] == exp_words
        ),
        "sampled_rows_exact": bool(rows_ok),
        "ok": bool(ok),
    }


if __name__ == "__main__":
    run(main, CHECKS)
