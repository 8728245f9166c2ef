"""Planted-truth scale smoke for the LARGE-vocabulary BPE path
(round-12 verdict item 4): load a ≥32k-entry merges table through the
public-format parser (`operators/bpe.py::load_merges`) and push a
planted corpus through the Arrow hash-set encoder — the carve-out the
expression fold hands over to past EXPR_VOCAB_LIMIT — verifying
sampled docs bit-equal to the plain-Python greedy reference and the
global total against the closed form.

The merges file is produced by ``tools/train_bpe_merges.py``: trained
merges from the real documents corpus first (the synthetic sf tables
have ~31 distinct words, saturating training at ~100 merges —
documented there), extended to the requested size with the
deterministic letter-lattice so the TABLE SIZE exercises the encoder
the way a trained 32k tokenizer would.

Corpus layout mirrors tools/bench_bpe_scale.py: ``n`` docs × 20
slots over a closed ``V``-word vocabulary, slot s of doc id using
word index (id + s·31) % V — every word appears exactly 20·n/V
times, so the global total has a closed form over the per-word piece
counts.  A second pass checks the BYTE-LEVEL path on 50 sampled docs
(ascii words: byte alphabet is the identity region of the GPT-2
table, but the code path — remap + encode — is the real one).

Prints one JSON line. Usage:
python tools/bench_bpe_merges_scale.py [n_docs] [vocab] [merges_path]
    (default 2_000_000 10_000 /tmp/merges_32k.txt — trains+writes the
    file if missing)
"""

from __future__ import annotations

import os
import time

from _scale import require, run, run_tool
from bench_bpe_scale import _word
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.bpe import (
    MAX_STEPS,
    bpe_token_counts,
    byte_pretokenize,
    load_merges,
)

WORDS_PER_DOC = 20
CHECKS = ("ok",)


def _pieces(word: str, vocab: frozenset, maxlen: int) -> int:
    """Plain-Python greedy reference with the engine's MAX_STEPS
    horizon + residue rule (hash-set probes — the 32k table makes the
    O(|V|) list scan infeasible here too)."""
    pos, cnt = 0, 0
    n = len(word)
    while pos < n and cnt < MAX_STEPS:
        step = 1
        for ln in range(min(maxlen, n - pos), 1, -1):
            if word[pos:pos + ln] in vocab:
                step = ln
                break
        pos += step
        cnt += 1
    return cnt + (n - pos)


def main(spark, n_docs=2_000_000, vocab=10_000,
         merges_path="/tmp/merges_32k.txt") -> dict:
    n, v = n_docs, vocab
    require(n % v == 0, "n_docs must be a multiple of vocab")

    if not os.path.exists(merges_path):
        run_tool(
            "train_bpe_merges",
            "--input", "/root/testdata/sf0.1/documents.parquet",
            "--out", merges_path,
            "--n", "32768",
            "--fill-synthetic",
        )
    merges = load_merges(merges_path)
    require(
        len(merges) >= 32768,
        f"merges_path holds {len(merges)} merges; needs >= 32,768",
    )
    vset = frozenset(merges)
    maxlen = max(len(t) for t in merges)

    words_py = [_word(j) for j in range(v)]
    pieces_py = [_pieces(w, vset, maxlen) for w in words_py]

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
    out = bpe_token_counts(docs, vocab=merges)
    agg = out.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_words").alias("words"),
        F.sum("n_bpe_tokens").alias("bpe"),
    ).collect()[0]
    elapsed = time.time() - t0

    exp_words = n * WORDS_PER_DOC
    exp_bpe = WORDS_PER_DOC * (n // v) * sum(pieces_py)
    ok = agg["docs"] == n and agg["words"] == exp_words and agg["bpe"] == exp_bpe

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

    # byte-level path: 50 sampled docs through the remap+encode code
    # path vs the python reference over byte_pretokenize'd words
    sample_docs = docs.filter(F.col("doc_id") % (n // 50) == 0)
    bl = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_token_counts(
            sample_docs, vocab=merges, byte_level=True
        ).collect()
    }
    bl_pieces = [
        _pieces(byte_pretokenize(w), vset, maxlen) for w in words_py
    ]
    bl_ok = all(
        got
        == sum(bl_pieces[(did + s * 31) % v] for s in range(WORDS_PER_DOC))
        for did, got in bl.items()
    ) and len(bl) == 50
    ok &= bl_ok

    return {
        "metric": "bpe_merges_scale",
        "n_docs": n,
        "corpus_vocab": v,
        "merges": len(merges),
        "tokens": int(agg["bpe"]),
        "value": round(elapsed, 2),
        "unit": "sec",
        "docs_per_sec": int(n / elapsed),
        "exact_total": bool(
            agg["bpe"] == exp_bpe and agg["words"] == exp_words
        ),
        "sampled_rows_exact": bool(rows_ok),
        "byte_level_rows_exact": bool(bl_ok),
        "ok": bool(ok),
    }


if __name__ == "__main__":
    run(main, CHECKS)
