"""Composed-pipeline scale smoke (round-12 verdict item 7): a real
ingest is not one operator at a time — it runs

    import (strip-html) → quality gates → lang-id → minhash-LSH dedup
    → domain mixture → sequence packing

as ONE job over the corpus.  This smoke runs exactly that at 10M docs
with PLANTED structure so every stage's survivor count has a closed
form, and reports end-to-end docs/s plus how many distinct corpus
scans / tokenizations the composed plan paid.

Planted layout (n docs, 10 per block; B = n/10 blocks):
  r = id % 10
  r == 0   → JUNK: 2 words — fails the word-count quality gate.
  r == 1   → FOREIGN: 60 German marker words — passes quality,
             lang-id says 'de', dropped by the lang filter.
  r ∈ 2..5 → GOOD, content A(block): 10 common English marker words
             + 50 block-unique words w{B}x{j} — the 4 docs are EXACT
             duplicates of each other.
  r ∈ 6..9 → GOOD, content B(block): same but v{B}x{j}.
Every doc is wrapped in HTML (style/comment/script/entities) that the
import strip must remove.  Cross-block/cross-group shingle Jaccard is
exactly 8/108 ≈ 0.074 (only the 8 shingles inside the 10-word common
prefix are shared) — far under the 0.5 verify threshold, so the LSH
verify stage keeps EXACTLY the intra-group pairs no matter what the
band hashes collide on.  Closed forms:
  after quality+lang filter:  0.8·n docs
  dedup survivors:            2 per block = n/5  (min-id of each
                              group; survivor-id sum is Σ(20b+8))
  source counts (source = 's'+id%3): exact per-residue-class counts
  packed bins at budget 480:  survivors·60/480 (60 | 480 — no bin
                              ever straddles, every bin is exactly
                              480 tokens)

Composed-plan shape (the point of the exercise):
  * raw corpus scanned ONCE (the import job);
  * cleaned corpus scanned ONCE: a single projection computes the
    word array, and EVERY downstream signal (token count, quality
    gates, lang-id, shingle hashes, minhash signature) derives from
    that one array — tokenize once;
  * the filtered projection persists (DISK_ONLY) and all later
    stages (band join, CC, keep-one, mixture, packing) read the
    cache — asserted by checking the downstream plans contain no
    parquet FileScan.
Stage logic mirrors the gated operators it composes
(operators/markup.py strip via the import CLI,
textstats.gopher_quality_flags word-count/mwl/dup gates fused over
the shared word array, the round-15 Arrow carve-out
operators/arrowsig.with_corpus_signals_arrow — bit-identical to
textstats.lang_id(tokenized=True) + dedup hashed shingles +
dedup.minhash_signature, pinned in tests/test_arrowsig.py — + the
band-join shape of dedup.minhash_lsh_pairs with exact-Jaccard
verification over hashed shingles, components.connected_components,
textstats.domain_mixture, packing.pack_sequences).

Prints one JSON line. Usage:
python tools/bench_pipeline_scale.py [n_docs]   (default 10_000_000)
"""

from __future__ import annotations

import shutil
import time

from _scale import require, run
from bench_bpe_merges_scale import _pieces
from pyspark.sql import Window
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.arrowsig import (
    with_corpus_signals_arrow,
)
from curw_flo2d_data_manager_spark.operators.components import (
    connected_components,
)
from curw_flo2d_data_manager_spark.operators.packing import pack_sequences
from curw_flo2d_data_manager_spark.operators.textstats import (
    domain_mixture,
    words,
)

COMMON = "the and of to is in that for it was"          # 10 en markers
FOREIGN = " ".join(
    ["der die das und ist nicht mit ein den von"] * 6    # 60 de markers
)
WORDS_GOOD = 60
BUDGET = 480  # 8 docs per bin exactly
NUM_HASHES = 16
BANDS = 4
CHECKS = ("ok",)


def _build_merges_file(path: str, common_words: list[str]) -> None:
    """Public-format merges file: prefix merges that fully fuse every
    COMMON word (so en-marker words encode to 1 piece), padded with
    the deterministic letter-lattice to 32,768 lines so the encode
    routes through the Arrow hash-set path (>EXPR_VOCAB_LIMIT).
    Lattice tokens are pure a-z letters, and the planted blockwords
    ('w<block>x<j>') never have two adjacent letters — so blockword
    piece count == len(word), keeping the subword totals closed-form.
    """
    from train_bpe_merges import synthetic_lattice

    lines: list[str] = []
    for w in common_words:
        for i in range(1, len(w)):
            lines.append(f"{w[:i]} {w[i]}")
    for a, b in synthetic_lattice(40_000):
        if len(lines) >= 32_768:
            break
        lines.append(f"{a} {b}")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("#version: pipeline-scale closed-form fixture\n")
        fh.write("\n".join(lines) + "\n")


def main(spark, n_docs=10_000_000, bpe=False) -> dict:
    n, use_bpe = n_docs, bpe
    require(n % 10 == 0, "n_docs must be a multiple of 10 (full blocks)")
    blocks = n // 10

    work = "/tmp/pipeline_scale"
    shutil.rmtree(work, ignore_errors=True)
    raw_dir = f"{work}/raw_jsonl"
    clean_dir = f"{work}/clean.parquet"

    # ---- stage 0 (untimed): generate the planted raw JSONL corpus
    blockwords = (
        "array_join(transform(sequence(1, 50),"
        " j -> concat('{p}', CAST(id DIV 10 AS STRING), 'x', j)), ' ')"
    )
    content = f"""CASE
      WHEN id % 10 = 0 THEN concat('junk w', CAST(id DIV 10 AS STRING))
      WHEN id % 10 = 1 THEN '{FOREIGN}'
      WHEN id % 10 < 6 THEN concat('{COMMON} ', {blockwords.format(p='w')})
      ELSE concat('{COMMON} ', {blockwords.format(p='v')})
    END"""
    html = (
        "concat('<html><head><style>p {color: red}</style>"
        "<!-- gen --></head><body><p class=\"d\">', _content, "
        "'</p><script>var a = \"<b>1</b>\";</script>"
        "&nbsp;&amp;&#38;</body></html>')"
    )
    (
        spark.range(n)
        .withColumn("_content", F.expr(content))
        .select(
            F.to_json(
                F.struct(
                    F.col("id").alias("doc_id"),
                    F.concat(F.lit("s"), (F.col("id") % 3)).alias("source"),
                    F.expr(html).alias("text"),
                )
            )
        )
        .write.mode("overwrite").text(raw_dir)
    )

    # ---- stage 1 (timed): import + strip — ONE raw-corpus scan
    from curw_flo2d_data_manager_spark.cli import main as cli_main

    t0 = time.time()
    cli_main([
        "import-corpus", "--input", raw_dir, "--output", clean_dir,
        "--schema", "doc_id long, source string, text string",
        "--strip-html", "text",
    ])
    t_import = time.time() - t0

    # ---- stage 2 (timed): the fused downstream job
    t1 = time.time()
    clean = spark.read.parquet(clean_dir)

    w = words("text")
    # mean word length from the single-spaced normalized string (the
    # round-14 textstats.mean_word_length identity) — no HOF fold
    from curw_flo2d_data_manager_spark.operators.textstats import (
        normalize_text,
    )
    _norm = normalize_text("text")
    mwl = F.when(
        F.size(w) > 0, F.length(_norm) - (F.size(w) - F.lit(1))
    ).otherwise(F.lit(0)).cast("long") / F.greatest(F.size(w), F.lit(1))
    dup_frac = 1.0 - F.size(F.array_distinct(w)) / F.greatest(
        F.size(w), F.lit(1)
    )
    # `w` appears in several output expressions; whole-stage codegen's
    # subexpression elimination evaluates the tokenize ONCE per row
    # inside ProjectExec (the regexp split is deterministic), so this
    # single projection is the pipeline's one tokenization.  The
    # quality-gate FILTER sits ABOVE the Arrow stage on purpose:
    # FilterExec does no subexpression elimination, so a filter pushed
    # below the projection inlines the full tokenize into every
    # conjunct (measured 8.2 → 86 s/1M in the round-15 probe); the
    # opaque mapInArrow node is a pushdown barrier that keeps the
    # gates referencing the projected columns.
    staged = clean.select(
        "doc_id",
        "source",
        F.transform(w, lambda x: F.xxhash64(x)).alias("_hw"),
        F.size(w).alias("n_tokens"),
        mwl.alias("_mwl"),
        dup_frac.alias("_dup"),
    )
    # Round-15 Arrow carve-out (guide §4.2, operators/arrowsig.py):
    # lang-id + hashed shingles + minhash signature in ONE mapInArrow
    # stage over the word-hash array — bit-identical to the expression
    # twins (lang_id(tokenized=True), shingle_hashes_from_word_hashes,
    # minhash_signature; pinned in tests/test_arrowsig.py).  The two
    # signals were measured at the expression-form floor in r14
    # (lang 6–13 s/1M, fold 6–9 s/1M); the vectorized NumPy stage cuts
    # the composed projection past that floor.  Only ~8 B/word crosses
    # the boundary each way — never the text.
    proj = with_corpus_signals_arrow(
        staged,
        hw_col="_hw",
        sh_col="_sh",
        sig_col="_sig",
        lang_col="lang",
        num_hashes=NUM_HASHES,
    ).filter(
        F.col("n_tokens").between(50, 100_000)
        & F.col("_mwl").between(3.0, 10.0)
        & (F.col("_dup") < 0.6)
        & (F.col("lang") == "en")
    ).drop("lang", "_mwl", "_dup")
    from pyspark import StorageLevel

    proj = proj.persist(StorageLevel.DISK_ONLY)
    n_filtered = proj.count()  # materialize: last touch of the corpus
    t_proj = time.time() - t1

    # band join (the minhash_lsh_pairs shape over the cached relation)
    rows = NUM_HASHES // BANDS
    banded = proj.select(
        F.col("doc_id").alias("_id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band_idx"),
                    F.xxhash64(
                        F.concat_ws(
                            ",", F.slice(F.col("_sig"), b * rows + 1, rows)
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("_b"),
    ).select("_id", "_b.band_idx", "_b.band_hash")
    # The SAME hot-bucket cap as minhash_lsh_pairs (max_bucket_size,
    # production default 2000). This is NOT an optimization knob: the
    # all-shared-shingle band value collects one bucket whose size is
    # O(corpus/2401-ish) — but the constant depends on where the
    # REALIZED shared-shingle minima happen to land per seed, so an
    # innocuous hash re-roll (round 14's per-word-hash shingles) can
    # turn a 4-doc max bucket into a 0.3%-of-corpus bucket and a
    # quadratic pair stream that fills the spill disk at 10M docs
    # (observed: SPILL_OUT_OF_MEMORY, no space left on device).
    # Planted clusters are 4 docs — never capped — and identical
    # signatures collide in EVERY band, so dropping a hot band bucket
    # cannot lose a planted pair; every closed form is unaffected.
    w_bucket = Window.partitionBy("band_idx", "band_hash")
    banded = (
        banded.withColumn("_bn", F.count(F.lit(1)).over(w_bucket))
        .filter(F.col("_bn") <= 2000)
        .drop("_bn")
    )
    cand = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x._id") < F.col("y._id")),
        )
        .select(
            F.col("x._id").alias("id_a"), F.col("y._id").alias("id_b")
        )
        .distinct()
    )
    sh_sets = proj.select("doc_id", "_sh")
    verified = (
        cand.join(
            sh_sets.select(
                F.col("doc_id").alias("id_a"), F.col("_sh").alias("_sa")
            ),
            "id_a",
        )
        .join(
            sh_sets.select(
                F.col("doc_id").alias("id_b"), F.col("_sh").alias("_sb")
            ),
            "id_b",
        )
        .withColumn(
            "_j",
            F.size(F.array_intersect("_sa", "_sb"))
            / F.size(F.array_union("_sa", "_sb")),
        )
        .filter(F.col("_j") >= 0.5)
        .select("id_a", "id_b")
    )
    t2 = time.time()
    comp = connected_components(verified)
    keepers = comp.filter(F.col("id") == F.col("component")).select(
        F.col("id").alias("doc_id")
    )
    survivors = proj.join(keepers, "doc_id", "left_semi").select(
        "doc_id", "source", "n_tokens"
    )
    survivors = survivors.persist(StorageLevel.DISK_ONLY)

    # downstream plans must read the cache, never the parquet again:
    # in the physical plan every FileScan must sit INSIDE an
    # InMemoryRelation (the cached-plan body that InMemoryTableScan
    # prints); a genuine rescan shows up as a FileScan with no
    # enclosing relation.
    for frame, tag in ((verified, "pairs"), (survivors, "survivors")):
        plan = frame._jdf.queryExecution().sparkPlan().toString()
        n_file = plan.count("FileScan")
        n_imr = plan.count("InMemoryRelation")
        # each cached-relation body embeds at most one FileScan (and a
        # relation cached over another cache embeds none), so more
        # FileScans than relations == a scan outside any cache
        assert "InMemoryTableScan" in plan and n_file <= n_imr, (
            f"{tag} re-scans the corpus: {n_file} FileScans vs "
            f"{n_imr} cached relations"
        )

    n_survivors = survivors.count()
    t_dedup = time.time() - t2
    t3 = time.time()
    id_sum = survivors.agg(F.sum("doc_id")).collect()[0][0]
    mix = {
        r["source"]: (r["n_docs"], r["n_tokens"])
        for r in domain_mixture(
            survivors, ["source"], token_count_col="n_tokens"
        ).collect()
    }
    packed = pack_sequences(survivors, "doc_id", "n_tokens", budget=BUDGET)
    bins = packed.groupBy("bin_id").agg(
        F.sum("n_tokens").alias("toks")
    )
    n_bins, min_toks, max_toks = bins.agg(
        F.count(F.lit(1)), F.min("toks"), F.max("toks")
    ).collect()[0]
    t_mix_pack = time.time() - t3
    t_pipeline = time.time() - t1

    # ---- closed-form truth
    exp_filtered = n * 8 // 10
    exp_survivors = n // 5
    b = blocks
    cnt = {0: (b + 2) // 3, 1: (b + 1) // 3, 2: b // 3}  # b%3 class sizes
    # survivor A of block b has source s((b+2)%3); survivor B s(b%3)
    exp_src = {
        "s0": cnt[1] + cnt[0],
        "s1": cnt[2] + cnt[1],
        "s2": cnt[0] + cnt[2],
    }
    exp_id_sum = 10 * b * (b - 1) + 8 * b
    exp_bins = exp_survivors * WORDS_GOOD // BUDGET

    ok = (
        n_filtered == exp_filtered
        and n_survivors == exp_survivors
        and id_sum == exp_id_sum
        and {k: v[0] for k, v in mix.items()} == exp_src
        and {k: v[1] for k, v in mix.items()}
        == {k: v * WORDS_GOOD for k, v in exp_src.items()}
        and n_bins == exp_bins
        and min_toks == BUDGET
        and max_toks == BUDGET
    )

    # ---- optional stage 3 (timed): real-tokenizer budgeting (--bpe)
    # Mixture AND packing re-budgeted in SUBWORD tokens from a
    # 32,768-entry merges file (Arrow hash-set encoder). The word
    # stream for the budget is one additional semi-joined scan of the
    # cleaned corpus (corpus_scans.clean becomes 2) — the cache
    # carries hashes, not words, by design. Truth is closed-form:
    # COMMON-word pieces come from the plain-Python greedy reference
    # over the same vocab, blockword pieces are exactly len(word)
    # (no vocab token contains a digit, and blockwords never have two
    # adjacent letters), and the packing is replayed exactly by a
    # sequential Python simulation over the known survivor order.
    bpe_out: dict = {}
    if use_bpe:
        from curw_flo2d_data_manager_spark.operators.bpe import (
            bpe_token_counts,
            load_merges,
        )

        BPE_BUDGET = 4096
        t4 = time.time()
        merges_path = f"{work}/merges_32k.txt"
        common_words = COMMON.split()
        _build_merges_file(merges_path, common_words)
        vocab = load_merges(merges_path)
        assert len(vocab) >= 32_768
        vset = frozenset(vocab)
        maxlen = max(len(t) for t in vocab)

        surv_text = clean.join(keepers, "doc_id", "left_semi")
        counts = bpe_token_counts(
            surv_text, id_col="doc_id", text_col="text", vocab=vocab
        ).select("doc_id", "n_bpe_tokens")
        surv_bpe = survivors.join(counts, "doc_id").persist(
            StorageLevel.DISK_ONLY
        )
        mix_bpe = {
            r["source"]: (r["n_docs"], r["n_tokens"])
            for r in domain_mixture(
                surv_bpe, ["source"], token_count_col="n_bpe_tokens"
            ).collect()
        }
        packed_bpe = pack_sequences(
            surv_bpe, "doc_id", "n_bpe_tokens", budget=BPE_BUDGET
        )
        bins_bpe = packed_bpe.groupBy("bin_id").agg(
            F.sum("n_bpe_tokens").alias("toks")
        )
        nb, mn, mx, tot = bins_bpe.agg(
            F.count(F.lit(1)), F.min("toks"), F.max("toks"), F.sum("toks")
        ).collect()[0]
        t_bpe = time.time() - t4

        # closed-form replay (sequential, exact)
        c_common = sum(
            _pieces(w, vset, maxlen) for w in common_words
        )
        digits_sum_j = sum(len(str(j)) for j in range(1, 51))  # 91
        exp_src_tok = {"s0": 0, "s1": 0, "s2": 0}
        sim_bins: dict[int, int] = {}
        start = 0
        exp_total = 0
        for b in range(blocks):
            t_doc = c_common + 50 * (2 + len(str(b))) + digits_sum_j
            for doc_id in (10 * b + 2, 10 * b + 6):
                exp_src_tok[f"s{doc_id % 3}"] += t_doc
                sim_bins[start // BPE_BUDGET] = (
                    sim_bins.get(start // BPE_BUDGET, 0) + t_doc
                )
                start += t_doc
                exp_total += t_doc

        # 50-doc bit-equality vs the Python greedy reference
        sample_ids = [
            (10 * (k * (blocks // 50) % blocks) + (2 if k % 2 else 6))
            for k in range(50)
        ]
        got_counts = {
            r["doc_id"]: r["n_bpe_tokens"]
            for r in surv_bpe.filter(
                F.col("doc_id").isin(sample_ids)
            ).collect()
        }
        sample_ok = True
        for did in sample_ids:
            b = did // 10
            p = "w" if did % 10 < 6 else "v"
            text = COMMON + " " + " ".join(
                f"{p}{b}x{j}" for j in range(1, 51)
            )
            exp = sum(
                _pieces(w, vset, maxlen)
                for w in text.split()
            )
            sample_ok &= got_counts.get(did) == exp

        bpe_exact = {
            "subword_total": int(tot) == exp_total,
            "mixture_tokens": {k: v[1] for k, v in mix_bpe.items()}
            == exp_src_tok,
            "mixture_docs": {k: v[0] for k, v in mix_bpe.items()} == exp_src,
            "bins": int(nb) == len(sim_bins)
            and int(mn) == min(sim_bins.values())
            and int(mx) == max(sim_bins.values()),
            "sampled_docs_bit_equal": bool(sample_ok),
        }
        ok = ok and all(bpe_exact.values())
        bpe_out = {
            "bpe_budget_s": round(t_bpe, 2),
            "bpe_budget": BPE_BUDGET,
            "bpe_bins": int(nb),
            "bpe_total_tokens": int(tot),
            "bpe_vocab": len(vocab),
            "bpe_exact": bpe_exact,
        }

    elapsed = t_import + t_pipeline + bpe_out.get("bpe_budget_s", 0.0)
    record = {
        "metric": "pipeline_scale",
        "n_docs": n,
        "value": round(elapsed, 2),
        "unit": "sec",
        "import_strip_s": round(t_import, 2),
        "fused_downstream_s": round(t_pipeline, 2),
        "stage_s": {
            "project_filter_sig": round(t_proj, 2),
            "lsh_cc_keepone": round(t_dedup, 2),
            "mixture_pack": round(t_mix_pack, 2),
        },
        "docs_per_sec": int(n / elapsed),
        "filtered": n_filtered,
        "survivors": n_survivors,
        "bins": int(n_bins),
        "corpus_scans": {
            "raw": 1,
            "clean": 2 if use_bpe else 1,
            "tokenize": 1,
        },
        **bpe_out,
        "exact": {
            "filtered": n_filtered == exp_filtered,
            "survivors": n_survivors == exp_survivors,
            "survivor_id_sum": id_sum == exp_id_sum,
            "mixture": {k: v[0] for k, v in mix.items()} == exp_src,
            "bins": bool(
                n_bins == exp_bins
                and min_toks == BUDGET
                and max_toks == BUDGET
            ),
        },
        "ok": bool(ok),
    }
    shutil.rmtree(work, ignore_errors=True)
    return record


if __name__ == "__main__":
    run(main, CHECKS)
