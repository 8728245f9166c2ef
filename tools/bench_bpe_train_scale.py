"""End-to-end BPE TRAINING smoke on a corpus the trainer can't
saturate (round-13 verdict item 7).

The driver-generated test corpora have ~31 distinct words, so
`tools/train_bpe_merges.py` saturates after ~89 genuine merges and
pads the rest with the letter-lattice filler. This tool builds a
CHARACTER-DIVERSE deterministic corpus — a seeded morphology of
consonant-vowel stems crossed with common English-like suffixes under
a Zipf rank-frequency law — trains a merges table on it, asserts the
trainer genuinely learned >= 1,024 merges BEFORE any filler, then
runs the trained (filler-padded to 32,768) table through the 2M-doc
Arrow-encoder throughput smoke (`bench_bpe_merges_scale`), whose
sampled docs are verified bit-equal against the plain-Python greedy
reference.

Prints one JSON line. Usage:
python tools/bench_bpe_train_scale.py [n_smoke_docs]  (default 2_000_000)
"""

from __future__ import annotations

import random
import tempfile
import time

import bench_bpe_merges_scale
from _scale import run, run_tool

CONS = list("bcdfghjklmnpqrstvwz")
VOWELS = list("aeiouy")
SUFFIXES = [
    "", "s", "ed", "ing", "er", "est", "ly", "tion", "ness", "ment",
    "able", "ity", "ful", "less", "ish", "ous", "ive", "al", "ic", "ism",
]
CHECKS = ("ok",)


def build_vocab(n_stems: int, seed: int = 20260816) -> list[str]:
    """Deterministic stem morphology: 2-3 consonant-vowel syllables
    per stem, crossed with the suffix list — tens of thousands of
    distinct words sharing rich sub-word structure (syllables and
    suffixes recur across words, exactly what gives a BPE trainer
    thousands of genuinely frequent pairs)."""
    rng = random.Random(seed)
    stems = set()
    while len(stems) < n_stems:
        syls = rng.randint(2, 3)
        stems.add(
            "".join(
                rng.choice(CONS) + rng.choice(VOWELS)
                + (rng.choice(CONS) if rng.random() < 0.3 else "")
                for _ in range(syls)
            )
        )
    words = [s + suf for s in sorted(stems) for suf in SUFFIXES]
    rng.shuffle(words)
    return words


def write_corpus(path: str, n_docs: int, words_per_doc: int = 60) -> int:
    """Zipf-weighted documents over the morphology vocabulary, written
    as parquet via pyarrow (no Spark needed for generation)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    vocab = build_vocab(2000)
    rng = random.Random(7)
    # Zipf weights: freq(rank) ~ 1/(rank+10)
    weights = [1.0 / (r + 10) for r in range(len(vocab))]
    texts = []
    for i in range(n_docs):
        texts.append(
            " ".join(rng.choices(vocab, weights=weights, k=words_per_doc))
        )
    tbl = pa.table({"doc_id": list(range(n_docs)), "text": texts})
    pq.write_table(tbl, path)
    return len(vocab)


def main(spark, n_smoke_docs=2_000_000) -> dict:
    with tempfile.TemporaryDirectory(prefix="bpe_train_scale_") as work:
        corpus = f"{work}/train_corpus.parquet"
        merges = f"{work}/merges_trained_32k.txt"

        t0 = time.time()
        vocab_size = write_corpus(corpus, n_docs=20_000)
        t_gen = time.time() - t0

        t1 = time.time()
        run_tool(
            "train_bpe_merges",
            "--input", corpus,
            "--out", merges,
            "--n", "32768",
            "--fill-synthetic",
        )
        t_train = time.time() - t1

        learned = 0
        with open(merges, encoding="utf-8") as fh:
            for ln in fh:
                if ln.startswith("#learned:"):
                    learned = int(ln.split(":")[1])
                    break

        # the Arrow-encoder smoke on the TRAINED table (sampled docs
        # bit-equal to the plain-Python greedy reference inside)
        t2 = time.time()
        smoke = bench_bpe_merges_scale.main(spark, n_smoke_docs, 10000, merges)
        t_smoke = time.time() - t2

    return {
        "metric": "bpe_train_scale",
        "value": round(t_gen + t_train + t_smoke, 2),
        "unit": "sec",
        "corpus_docs": 20_000,
        "corpus_vocab": vocab_size,
        "learned_merges": learned,
        "table_size": 32768,
        "gen_s": round(t_gen, 2),
        "train_s": round(t_train, 2),
        "smoke": smoke,
        # the trainer must learn >= 1,024 merges before any filler,
        # or the corpus is not diverse enough to test it
        "ok": bool(learned >= 1024 and smoke.get("ok")),
    }


if __name__ == "__main__":
    run(main, CHECKS)
