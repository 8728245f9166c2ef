"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram
Jaccard — designed for 100 TB document corpora.

Scale design notes:

* **exact**: one hash-groupBy shuffle on a 64-hex digest of the key
  columns (shuffling a 32-byte key instead of full documents).
* **minhash_lsh**: shingle → k minhashes → b bands; candidate pairs
  come from an equi-join on (band_idx, band_hash) — the only shuffle is
  by band bucket, never an O(n²) cross join. Signatures are pure
  Column expressions (xxhash64-based), no Python in the scan.
* **simhash**: 64-bit signature via per-bit weighted sums; near-dup
  candidates via 4×16-bit band blocking (Hamming ≤ small distances
  guarantee one identical band by pigeonhole).
* **ngram_jaccard**: exact verification operator — pairwise Jaccard
  within a blocking key (for candidates from LSH, or small groups).

All signatures are deterministic (seeded xxhash64), so results are
stable across runs and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.functions.plan_literals import lit_array
from curw_flo2d_data_manager_spark.operators.parallelism import ensure_min_partitions
from curw_flo2d_data_manager_spark.operators.textstats import words

# Cached intermediates (minhash signatures, winnowing fingerprints)
# that the RETURNED lazy plans still reference are tracked in the
# shared operator cache ledger (operators/caching.py); call
# :func:`release_caches` (re-exported here) once results are
# materialized to free executor storage in long-lived sessions
# (round-4 advice).
from curw_flo2d_data_manager_spark.operators.caching import (  # noqa: E402
    persist_tracked as _persist_tracked,
    release_caches,
)


# ---------------------------------------------------------------- exact
def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Exact duplicate groups: one row per distinct key, keeping the
    smallest id (deterministic winner) + the duplicate count."""
    digest = F.sha2(F.concat_ws("", *[F.col(c).cast("string") for c in key_cols]), 256)
    return (
        df.withColumn("_k", digest)
        .groupBy("_k")
        .agg(
            F.min(id_col).alias("kept_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .withColumnRenamed("_k", "key_hash")
    )


# ------------------------------------------------------------- shingles
def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text.

    Documents shorter than n words contribute their full word-join as
    a single shingle, so no document has an empty shingle set.
    """
    w = words(col)
    k = F.size(w) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(w, i, n)),
    )
    return F.array_distinct(grams)


def shingle_hashes_from_word_hashes(hw: Column, n: int = 3) -> Column:
    """Distinct 64-bit shingle hashes from an ALREADY-MATERIALIZED
    per-word-hash array column (see :func:`with_shingle_hashes`).

    Shingle hash at position i = ``xxhash64(hw[i], …, hw[i+n-1])`` —
    pure long arithmetic, no per-position array slice or string
    allocation (the round-13 cost decomposition measured the
    ``concat_ws(slice(w, i, n))`` form at 30 s/1M docs — ~45% of the
    composed-projection cost). ``try_element_at`` past the end yields
    NULL, which Spark's hash expressions skip, so documents shorter
    than ``n`` words hash their full word sequence as one shingle —
    the same short-document convention as :func:`word_shingles`.
    Identical word arrays give identical hash sets, so every
    planted-copy / identical-set guarantee downstream (LSH bands,
    threshold-1.0 Jaccard) is preserved; distinct-set Jaccard equals
    string-shingle Jaccard up to 2^-64 hash collisions.
    """
    k = F.size(hw) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
        lambda i: F.xxhash64(*[F.try_element_at(hw, i + F.lit(j)) for j in range(n)]),
    )
    return F.array_distinct(grams)


def with_shingle_hashes(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "_sh",
    n: int = 3,
) -> DataFrame:
    """Hashed word-n-gram shingles as ``array<long>`` ``out_col``.

    TWO projections on purpose (the ``with_winnow_fingerprints``
    lesson): the per-word hash array is materialized as its own
    column and the shingle pass reads it — fused into one expression,
    Catalyst would inline the word-hash ``transform`` into every
    shingle position (O(words × positions) re-hashing). The hash
    column is referenced ``n`` times per position, so CollapseProject
    keeps the split (non-cheap, multiply-used reference).
    """
    tmp = f"_hw_{out_col}"
    return (
        df.withColumn(tmp, F.transform(words(text_col), lambda x: F.xxhash64(x)))
        .withColumn(out_col, shingle_hashes_from_word_hashes(F.col(tmp), n))
        .drop(tmp)
    )


# -------------------------------------------------------------- minhash
def minhash_signature(shingles: Column, num_hashes: int = 32) -> Column:
    """Array of ``num_hashes`` minhash values: for seed i, the minimum
    xxhash64(shingle, i) over the shingle set. Pure expression —
    evaluated JVM-side per row, no shuffle.

    One aggregate/zip_with fold rather than ``num_hashes`` separate
    array_min(transform(...)) expressions: identical values, ~n× less
    generated code (Janino compile time was dominating cold runs).
    """
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    long_max = (1 << 63) - 1
    return F.aggregate(
        shingles,
        F.array_repeat(F.lit(long_max).cast("long"), num_hashes),
        lambda acc, s: F.zip_with(
            acc,
            F.transform(seeds, lambda i: F.xxhash64(s, i)),
            lambda a, b: F.least(a, b),
        ),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float | None = 0.5,
    max_bucket_size: int | None = 2000,
    observation=None,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash + banded LSH,
    optionally verified with exact shingle Jaccard.

    Returns (id_a, id_b, jaccard) with id_a < id_b. The join key is
    (band_idx, band_hash) so work scales with bucket sizes, not n².

    ``max_bucket_size`` guards the n² blow-up inside a single hot
    bucket (boilerplate-heavy corpora put thousands of near-identical
    documents into one band hash; a 100k-doc bucket alone is 5e9
    candidate pairs). Buckets larger than the cap are dropped from
    candidate generation — the standard recall-for-survival trade in
    web-scale LSH dedup; exact/fingerprint dedup still collapses the
    identical members of such clusters. The default is FINITE (2000:
    4M pairs/bucket worst case) so a naïve caller cannot hit the n²
    failure mode; pass ``None`` to disable explicitly.

    Dropped work is observable, not silent: pass a
    ``pyspark.sql.Observation`` as ``observation`` and after the first
    action ``observation.get`` carries ``rows_in_dropped_buckets``
    (band rows excluded by the cap) and ``max_bucket_rows`` (hottest
    bucket seen) — the metric also reaches any registered
    QueryExecutionListener for cluster-side monitoring.
    """
    rows = num_hashes // bands
    # Hashed shingles (``with_shingle_hashes``): the signature fold and
    # the exact-Jaccard verify both run over ``array<long>`` — no
    # per-position string allocation, and planted/identical-set
    # semantics are hash-function-independent (identical word arrays →
    # identical hash sets → every band collides).
    base = ensure_min_partitions(df).select(
        F.col(id_col).alias("_id"), text_col
    )
    sig_df = with_shingle_hashes(
        base, text_col, "_sh", shingle_n
    ).select("_id", "_sh").withColumn(
        "_sig", minhash_signature(F.col("_sh"), num_hashes)
    )
    # The signature/shingle relation feeds three plan branches (band
    # join + both verification joins); persist it once instead of
    # recomputing the shingling scan three times. Spills to disk at
    # scale; size ≈ corpus token count, far below the raw corpus.
    # Caller frees it via release_caches() once results materialize.
    sig_df = _persist_tracked(sig_df)

    # Band rows carry ONLY (id, band key) — the shingle arrays must not
    # ride through the ``bands``-way self-join shuffle (that would move
    # every document's shingle set ``bands`` times on each side).
    banded = sig_df.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_idx"),
                    F.xxhash64(
                        F.concat_ws(",", F.slice(F.col("_sig"), b * rows + 1, rows)),
                    ).alias("band_hash"),
                ),
            )
        ).alias("_band"),
    ).select("_id", "_band.band_idx", "_band.band_hash")

    if max_bucket_size is not None:
        w_bucket = Window.partitionBy("band_idx", "band_hash")
        banded = banded.withColumn("_bn", F.count(F.lit(1)).over(w_bucket))
        if observation is not None:
            banded = banded.observe(
                observation,
                F.count(F.when(F.col("_bn") > max_bucket_size, True)).alias(
                    "rows_in_dropped_buckets"
                ),
                F.max("_bn").alias("max_bucket_rows"),
            )
        banded = banded.filter(F.col("_bn") <= max_bucket_size).drop("_bn")

    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )

    # Exact-Jaccard verification: re-attach shingle sets to the (much
    # smaller) deduplicated candidate set only.
    sh = sig_df.select("_id", "_sh")
    verified = (
        pairs.join(sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")), "id_b")
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    out = verified.withColumn("jaccard", jac).select("id_a", "id_b", "jaccard")
    if jaccard_threshold is not None:
        out = out.filter(F.col("jaccard") >= jaccard_threshold)
    return out


# -------------------------------------------------------------- simhash
def simhash64(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document — fully row-local, zero shuffle.

    Per document: hash each word to 64 bits once, fold the ±1 bit
    contributions into a 64-int accumulator with a single
    ``aggregate``/``zip_with`` pass, take the sign per bit. The whole
    signature is one narrow projection — scales to any corpus size
    with no exchange (the reference for the groupBy-free shape is the
    SQL higher-order-function API, not any external engine).
    """
    # bit j of h tests as (h & 2^j) != 0 — shift amounts can't be
    # lambda variables, but a literal powers array can ride transform.
    # 2^63 overflows a signed long, so bit 63 is the sign test.
    # one array<long> Literal node (functions/plan_literals.py; a
    # python list through F.lit would expand to 63 element nodes)
    pow_arr = lit_array([1 << j for j in range(63)], dtype="int64")

    def _contrib(h):
        low = F.transform(
            pow_arr,
            lambda p: F.when(h.bitwiseAND(p) != 0, F.lit(1)).otherwise(F.lit(-1)),
        )
        top = F.array(F.when(h < 0, F.lit(1)).otherwise(F.lit(-1)))
        return F.concat(low, top)

    bit_sums = F.aggregate(
        F.transform(words(text_col), lambda w: F.xxhash64(w)),
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(acc, _contrib(h), lambda a, b: a + b),
    )
    base = ensure_min_partitions(df).select(F.col(id_col), bit_sums.alias("_bits"))
    # assemble the signature with one fold over (bit_sum, power) pairs;
    # bit 63's power is Long.MIN_VALUE (2^63 overflows signed long)
    sign_pow = F.array(F.lit(-(1 << 63)).cast("long"))
    all_pows = F.concat(pow_arr.cast("array<long>"), sign_pow)
    sig = F.aggregate(
        F.zip_with(
            F.col("_bits"),
            all_pows,
            lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, t: acc.bitwiseXOR(t),
    )
    return base.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str = "text", max_hamming: int = 3
) -> DataFrame:
    """Near-duplicate pairs by SimHash banding: 4×16-bit bands — any
    pair within Hamming distance 3 shares at least one exact band
    (pigeonhole), so candidates come from 4 equi-joins, not a cross
    join. Pairs are then verified with an exact popcount.

    The signature relation is persisted (tracked — caller frees via
    ``release_caches``) so the self-join's two traversals read the
    16-byte-per-doc cache instead of each recomputing the signature
    fold from the scan (the broadcast build side used to pay the
    whole fold a second time; a SHUFFLE_HASH hint was A/B'd and
    REJECTED — AQE did not reuse the two identical exchanges and the
    hinted form ran 2.7× slower than broadcast at sf0.1).  A pair
    colliding in several bands is kept only at its LOWEST colliding
    band (a pure expression on the signature XOR), which replaces the
    old dropDuplicates shuffle."""
    sigs = _persist_tracked(simhash64(df, id_col, text_col))
    banded = sigs.select(
        F.col(id_col).alias("_id"),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright("simhash", b * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("band_val"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("_band"),
    ).select("_id", "simhash", "_band.band_idx", "_band.band_val")

    l, r = banded.alias("l"), banded.alias("r")
    xor = F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
    # lowest colliding band of the pair: band b collides iff the
    # 16-bit slice of the XOR is zero; inside the join output at
    # least the joined band collides, so the CASE always resolves to
    # a member of the collision set and `band_idx == first` keeps
    # exactly one copy of every qualifying pair.
    first_band = (
        F.when(xor.bitwiseAND(F.lit(0xFFFF)) == 0, F.lit(0))
        .when(F.shiftright(xor, 16).bitwiseAND(F.lit(0xFFFF)) == 0, F.lit(1))
        .when(F.shiftright(xor, 32).bitwiseAND(F.lit(0xFFFF)) == 0, F.lit(2))
        .otherwise(F.lit(3))
    )
    return (
        l.join(
            r,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .filter(F.col("l.band_idx") == first_band)
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.bit_count(xor).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# -------------------------------------------------- n-gram jaccard exact
def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    block_col: str | None = None,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact pairwise word-n-gram Jaccard within a blocking key.

    With ``block_col=None`` every pair is compared — only for small
    inputs or verification of LSH candidates; at scale always pass a
    block (source, length bucket, LSH band…).
    """
    base = ensure_min_partitions(df).select(
        F.col(id_col).alias("_id"),
        word_shingles(text_col, n).alias("_sh"),
        (F.col(block_col) if block_col else F.lit(1)).alias("_blk"),
    )
    l, r = base.alias("l"), base.alias("r")
    pairs = l.join(
        r, (F.col("l._blk") == F.col("r._blk")) & (F.col("l._id") < F.col("r._id"))
    )
    jac = F.size(F.array_intersect(F.col("l._sh"), F.col("r._sh"))) / F.size(
        F.array_union(F.col("l._sh"), F.col("r._sh"))
    )
    return (
        pairs.select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ----------------------------------------------------------- winnowing
def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_bucket_size: int | None = 2000,
) -> DataFrame:
    """Near-copy pairs via shared MOSS winnowing fingerprints
    (``textstats.winnow_fingerprints``): explode each document's
    fingerprint set, equi-join on the fingerprint value, keep pairs
    sharing at least ``min_shared`` fingerprints.

    Returns ``(id_a, id_b, shared_fps)`` with ``id_a < id_b``. Because
    the winnowing guarantee is local (any shared substring of length
    ≥ k+window-1 yields a shared fingerprint), this catches documents
    sharing PASSAGES — plagiarism/quotation-style near-copies — that
    whole-document signatures (MinHash over the full shingle set,
    SimHash) dilute away.

    Scale shape is the same as the MinHash band join: work scales
    with fingerprint-bucket sizes, never n²; ``max_bucket_size``
    drops degenerate buckets (a boilerplate fingerprint shared by a
    million documents) exactly like the LSH cap, and only
    (id, fingerprint) rows ride the shuffle.
    """
    from curw_flo2d_data_manager_spark.operators.textstats import (
        with_winnow_fingerprints,
    )

    # Persist the per-document fingerprint relation BEFORE exploding:
    # (a) it feeds both sides of the self-join (same rationale as the
    # MinHash signature persist); (b) critically, the optimizer infers
    # `size(_fps) > 0` from the explode and pushes it below the
    # fingerprint projections — against the raw plan that inlines the
    # ENTIRE fused winnowing expression into the Filter, making every
    # row pay O(grams × windows) md5 calls. Predicate pushdown cannot
    # cross an InMemoryRelation, so the cache re-establishes the
    # materialize-once boundary.
    # Caller frees the cache via release_caches() once materialized.
    fps_docs = _persist_tracked(
        with_winnow_fingerprints(
            ensure_min_partitions(df), text_col, "_fps", k=k, window=window
        ).select(F.col(id_col).alias("_id"), "_fps")
    )
    fps = fps_docs.select("_id", F.explode("_fps").alias("_fp"))
    if max_bucket_size is not None:
        w_bucket = Window.partitionBy("_fp")
        fps = (
            fps.withColumn("_bn", F.count(F.lit(1)).over(w_bucket))
            .filter(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
    left = fps.alias("l")
    right = fps.alias("r")
    return (
        left.join(
            right,
            (F.col("l._fp") == F.col("r._fp"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .groupBy(
            F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


# ------------------------------------------------------ decontamination
def ngram_contamination(
    train: DataFrame,
    benchmark: DataFrame,
    train_id_col: str,
    text_col: str = "text",
    bench_text_col: str | None = None,
    n: int = 8,
    broadcast: bool | None = None,
    max_broadcast_grams: int = 20_000_000,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word ``n``-gram with the benchmark set (the standard eval-leakage
    guard in pre-training pipelines; n=8..13 word-grams in common
    recipes).

    Returns ``(train_id, n_hits)`` — contaminated training documents
    only, with the count of DISTINCT benchmark n-grams they contain.

    Scale shape: the benchmark side is tiny relative to the corpus, so
    its distinct gram set is broadcast by default; the training side is
    a narrow (id, gram) explode joined hash-to-hash — one scan of the
    corpus, no shuffle of document text, work linear in corpus grams.

    Broadcasting assumes the benchmark's distinct gram set fits the
    driver + broadcast limit (eval suites are typically a few hundred
    MB of text → tens of millions of grams at most). The default
    ``broadcast=None`` MEASURES instead of assuming (round-5 verdict
    item 5): one count job over the (small) benchmark side decides —
    at most ``max_broadcast_grams`` distinct grams broadcast, anything
    larger falls back to a plain shuffled hash join instead of failing
    late at broadcast-build time. Pass ``broadcast=True``/``False`` to
    skip the probe and force a side.
    """
    bench_grams = (
        benchmark.select(
            F.explode(
                word_shingles(bench_text_col or text_col, n)
            ).alias("_g")
        )
        .distinct()
    )
    train_grams = train.select(
        F.col(train_id_col).alias("train_id"),
        F.explode(word_shingles(text_col, n)).alias("_g"),
    )
    if broadcast is None:
        # the probe is linear in the BENCHMARK side only — cheap next
        # to the corpus scan, and far cheaper than a failed broadcast
        # build over an unexpectedly large gram set
        broadcast = bench_grams.count() <= max_broadcast_grams
    joined = train_grams.join(
        F.broadcast(bench_grams) if broadcast else bench_grams, "_g"
    )
    return joined.groupBy("train_id").agg(
        F.count_distinct("_g").alias("n_hits")
    )


# ------------------------------------------------------ passage dedup
def passage_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    passage_words: int = 8,
    skew_safe: bool = True,
) -> DataFrame:
    """Passage-level exact dedup: a bounded-memory form of the
    "dedupe training data at the substring level" rule (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better",
    ACL'22 — public description; fixed non-overlapping windows instead
    of suffix arrays so it stays one shuffle).

    Documents are chunked into consecutive ``passage_words``-word
    passages (last chunk may be short); each passage is md5-hashed and
    the GLOBAL first occurrence (smallest (id, pos)) is the keeper.

    Scale shape: passages are hashed in the scan (pure Column exprs)
    and the passage TEXT is dropped before anything shuffles; only
    (id, pos, hash, n_words) rows move.

    ``skew_safe=True`` (default) computes the global winner per hash
    as a ``min(struct(id, pos))`` AGGREGATE + join-back: the min
    partial-aggregates map-side, so a boilerplate passage repeated a
    billion times sends ONE combined row per map task to the reducer
    instead of a billion-row hot window partition (web corpora make
    this routine — headers, footers, license blurbs).
    ``skew_safe=False`` uses a single window over md5 buckets — one
    shuffle instead of two, measured ~2× faster locally on a
    near-unique-passage corpus (7.6 s vs 14.0 s at 100k docs/872k
    passages), but a hot passage lands on one reducer. Flip it only
    when the corpus is known boilerplate-free.

    Returns one row per passage: (id, pos, passage_hash, n_words, keep).
    """
    w = words(text_col)
    n_pass = F.ceil(F.size(w) / F.lit(float(passage_words))).cast("int")
    # chunk indices clamped in-expression instead of a separate
    # `size(words(text)) > 0` pre-filter: the filter is its own
    # operator, so its tokenize is NOT shared with the projection's
    # (subexpression elimination is per-operator) — the corpus was
    # tokenized twice per row. sequence(1, 0) DESCENDS ([1, 0]), so
    # the upper bound is clamped to 1 and a lambda filter drops the
    # out-of-range index; empty/NULL texts yield an empty array (a
    # NULL n_pass makes the predicate NULL → element dropped) and
    # explode then drops the row — exactly what the filter did.
    idx = F.filter(
        F.sequence(F.lit(1), F.greatest(n_pass, F.lit(1))),
        lambda i: i <= n_pass,
    )
    chunks = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("pos"),
            F.md5(
                F.concat_ws(
                    " ", F.slice(w, (i - 1) * passage_words + 1, passage_words)
                )
            ).alias("passage_hash"),
            F.size(
                F.slice(w, (i - 1) * passage_words + 1, passage_words)
            ).alias("n_words"),
        ),
    )
    exploded = (
        ensure_min_partitions(df)
        .select(F.col(id_col), F.explode(chunks).alias("p"))
        .select(id_col, "p.pos", "p.passage_hash", "p.n_words")
    )
    if not skew_safe:
        win = Window.partitionBy("passage_hash").orderBy(id_col, "pos")
        return exploded.withColumn("keep", F.row_number().over(win) == 1)
    # winners and the final join both consume the chunk/md5 projection
    # (the expensive part) — persist it once (tracked; see
    # release_caches) instead of recomputing it on each branch.
    exploded = _persist_tracked(exploded)
    winners = exploded.groupBy("passage_hash").agg(
        F.min(F.struct(F.col(id_col).alias("id"), F.col("pos").alias("pos"))).alias(
            "_w"
        )
    )
    return (
        exploded.join(winners, "passage_hash")
        .select(
            id_col,
            "pos",
            "passage_hash",
            "n_words",
            (
                (F.col(id_col) == F.col("_w.id")) & (F.col("pos") == F.col("_w.pos"))
            ).alias("keep"),
        )
    )


def passage_dedup_rebuild(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    passage_words: int = 8,
) -> DataFrame:
    """Passage dedup that REBUILDS the cleaned documents: duplicate
    passages (global first occurrence wins, as in :func:`passage_dedup`)
    are cut out and each document's surviving passages are re-joined in
    order. Documents whose every passage was boilerplate come back as
    empty strings (filter on ``n_kept > 0`` to drop them).

    The winner decision shuffles hashes only (same skew-safe aggregate
    as passage_dedup); passage TEXT rides along exactly once — on the
    explode side of the winner join — and is reassembled with one
    doc-keyed aggregation whose state is bounded by document size.
    Returns (id, text, n_passages, n_kept).
    """
    w = words(text_col)
    n_pass = F.ceil(F.size(w) / F.lit(float(passage_words))).cast("int")
    # index clamp instead of a size(words(text)) > 0 pre-filter — the
    # filter's tokenize is never shared with the projection's
    # (per-operator subexpression elimination); see passage_dedup
    idx = F.filter(
        F.sequence(F.lit(1), F.greatest(n_pass, F.lit(1))),
        lambda i: i <= n_pass,
    )
    chunks = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("pos"),
            F.concat_ws(
                " ", F.slice(w, (i - 1) * passage_words + 1, passage_words)
            ).alias("ptext"),
        ),
    )
    exploded = _persist_tracked(
        ensure_min_partitions(df)
        .select(F.col(id_col), F.explode(chunks).alias("p"))
        .select(
            id_col,
            "p.pos",
            F.md5("p.ptext").alias("passage_hash"),
            "p.ptext",
        )
    )
    winners = exploded.groupBy("passage_hash").agg(
        F.min(F.struct(F.col(id_col).alias("id"), F.col("pos").alias("pos"))).alias(
            "_w"
        )
    )
    kept = exploded.join(winners, "passage_hash").filter(
        (F.col(id_col) == F.col("_w.id")) & (F.col("pos") == F.col("_w.pos"))
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "ptext"))),
                lambda s: s["ptext"],
            ),
        ).alias(text_col),
        F.count(F.lit(1)).alias("n_kept"),
    )
    # left join restores docs that lost every passage (empty text).
    # Per-doc passage totals come from the PERSISTED exploded relation
    # (one count row per chunk) — the old form re-tokenized the whole
    # corpus twice more (filter + ceil projection) to recompute a
    # number the cache already holds.
    totals = exploded.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_passages")
    )
    return totals.join(rebuilt, id_col, "left").select(
        id_col,
        F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
        "n_passages",
        F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
    )


# --------------------------------------------- Bloom-filter blocklist
def bloom_build(
    blocklist: DataFrame, key_col: str, m_bits: int = 1 << 20, k: int = 5
) -> bytes:
    """Build a Bloom filter over ``blocklist[key_col]`` as a packed
    ``m_bits/8``-byte blob — the compact membership sketch for
    :func:`bloom_blocklist_filter`.

    The k probe positions come from Kirsch-Mitzenmacher double
    hashing: ``pos_i = (h1 + i·h2) mod m`` with ``h1 = xxhash64(key)``
    and ``h2 = xxhash64(key, salt)`` — two JVM hash evaluations per
    key regardless of k. Bit-words are aggregated DISTRIBUTED
    (explode positions → group by word index → bit_or), so the
    blocklist itself is never collected; only the fixed-size bit
    array (m_bits/8 bytes — 128 KiB at the default) comes back to the
    driver, like any broadcast dimension.

    The bytes layout puts global bit position ``p`` at byte ``p//8``,
    bit ``p%8`` (little-endian within each 64-bit aggregation word) —
    the addressing :func:`bloom_might_contain` relies on. A single
    BinaryType literal is crucial: a list literal would become a
    per-row ``CreateArray`` of m/64 children, ~70x slower at probe
    time (measured at m=2^23: 81 s vs 1.2 s for 5M probes).
    """
    if m_bits % 64:
        raise ValueError(f"m_bits {m_bits} not a multiple of 64")
    if k < 1:
        raise ValueError(f"k {k} < 1")
    key = F.col(key_col).cast("string")
    # reduce both hashes mod m BEFORE combining — h1 + i·h2 on raw
    # 64-bit hashes overflows under ANSI mode
    h1 = F.pmod(F.xxhash64(key), F.lit(m_bits))
    h2 = F.pmod(F.xxhash64(key, F.lit("bloom-salt")), F.lit(m_bits))
    pos = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda i: F.pmod(h1 + i * h2, F.lit(m_bits)),
        )
    )
    words_df = (
        blocklist.select(pos.alias("_pos"))
        .select(
            (F.col("_pos") / 64).cast("long").alias("_w"),
            # shiftleft's DataFrame binding wants a literal shift, so
            # the bit value is built with a SQL expr over _pos
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(_pos, 64) AS INT))"
            ).alias("_b"),
        )
        .groupBy("_w")
        .agg(F.bit_or("_b").alias("_bits"))
        .collect()
    )
    words = [0] * (m_bits // 64)
    for row in words_df:
        words[row["_w"]] = row["_bits"]
    # pack little-endian per word so byte(p//8)/bit(p%8) addressing
    # matches the word//64 / bit%64 aggregation layout
    return b"".join((w & ((1 << 64) - 1)).to_bytes(8, "little") for w in words)


def bloom_might_contain(
    blob: bytes, key: Column, m_bits: int, k: int = 5
) -> Column:
    """Probe column for a :func:`bloom_build` filter: true iff every
    one of the key's k bit positions is set. Pure Column expression —
    k one-byte slices of the single BinaryType literal, evaluated
    map-side inside codegen; no join, no shuffle."""
    blob_lit = F.lit(blob)
    h1 = F.pmod(F.xxhash64(key.cast("string")), F.lit(m_bits))
    h2 = F.pmod(F.xxhash64(key.cast("string"), F.lit("bloom-salt")), F.lit(m_bits))
    checks = []
    for i in range(k):
        pos = F.pmod(h1 + i * h2, F.lit(m_bits))
        byte_val = F.conv(
            F.hex(F.substring(blob_lit, ((pos / 8).cast("long") + 1).cast("int"), 1)),
            16,
            10,
        ).cast("int")
        checks.append(F.getbit(byte_val, (pos % 8).cast("int")) == 1)
    out = checks[0]
    for c in checks[1:]:
        out = out & c
    return out


def bloom_blocklist_filter(
    corpus: DataFrame,
    blocklist: DataFrame,
    key_col: str,
    m_bits: int = 1 << 20,
    k: int = 5,
    blob: bytes | None = None,
    persist_probe: bool = False,
) -> DataFrame:
    """Exact blocklist anti-join with a Bloom prefilter: drop every
    corpus row whose ``key_col`` appears in ``blocklist[key_col]``,
    without ever shuffling the corpus — the decontamination /
    already-trained-shard filter shape for corpora whose blocklist is
    too big to broadcast raw but whose BLOOM is tiny (1 B fingerprints
    ≈ 8 GB raw vs ~128 KiB-1 GiB of bits at 10 bits/key).

    Two phases, both exact in the end:

    1. **Map-side prefilter** — :func:`bloom_might_contain` over the
       broadcast bit-words. No false negatives, so rows failing the
       probe are DEFINITELY clean and pass through with zero join
       work; only true matches plus the false-positive sliver
       (~0.6% at m/n=16, k=5) continue.
    2. **Exact verify** — the candidate sliver left-anti joins the
       blocklist on the key, removing exactly the true matches. The
       join input is the sliver, not the corpus, so the shuffle (or
       broadcast) is proportional to the blocklist hit rate.

    The corpus relation is traversed by two branches (clean + sliver),
    so each row is probed twice; ``persist_probe=True`` caches the
    probed scan (tracked — release via ``release_caches``) to probe
    once, worth it when the probe dominates (k×~200 ns/row) and the
    corpus fits storage; at 100 TB prefer the default re-scan — both
    branches stay narrow and columnar. Result == plain anti-join,
    verified property-style in tests even with adversarially tiny
    filters (false positives only cost verify work, never
    correctness).

    When the blocklist DOES fit Spark's broadcast threshold, a plain
    broadcast anti-join beats this operator (hashtable probes are
    cheaper than k byte-slices) — use it only past that regime.
    """
    # pass a prebuilt blob (from bloom_build) to amortize the filter
    # across many corpus shards / streaming micro-batches
    if blob is None:
        blob = bloom_build(blocklist, key_col, m_bits=m_bits, k=k)
    probe = bloom_might_contain(blob, F.col(key_col), m_bits, k=k)
    probed = corpus.withColumn("_bloom_hit", probe)
    if persist_probe:
        probed = _persist_tracked(probed)
    clean = probed.filter(~F.col("_bloom_hit"))
    sliver = probed.filter(F.col("_bloom_hit"))
    verified = sliver.join(
        blocklist.select(F.col(key_col).alias("_blk_key")).distinct(),
        sliver[key_col] == F.col("_blk_key"),
        "left_anti",
    )
    return clean.unionByName(verified).drop("_bloom_hit")


# --------------------------------------------- repeated token spans
def repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Token-level MAXIMAL repeated spans — the exact-substring dedup
    shape of Lee et al. 2021 ("Deduplicating Training Data Makes
    Language Models Better", public method), approximated at k-gram
    granularity: a position is marked when its k-token gram occurs
    ``min_count``+ times corpus-wide; maximal runs of marked positions
    merge into spans, so a 200-token boilerplate block shared by two
    documents surfaces as ONE (start, end) span per document, not 193
    overlapping windows. Span boundaries are k-1 tokens coarse (the
    final gram extends the span to its last token).

    Returns ``(id_col, span_start, span_end, span_tokens)`` with
    token positions 0-based inclusive; documents without repeated
    spans emit nothing. Cut, mask, or count the spans downstream --
    ``span_tokens`` summed per doc is the duplicated-token budget the
    Lee et al. pipeline reports.

    Plan shape: one tokenize into per-position gram hashes (first 8
    md5 hex chars as a long -- engine-reproducible, the winnowing
    convention); the gram-frequency aggregate partial-aggregates
    before its hash shuffle (grams never carry text); marked positions
    join back hash-to-hash; the island merge is a per-document window
    (``pos - row_number()`` gaps-and-islands), partitioned by doc id --
    never a global sort. Hash width is the documented 32-bit
    collision trade (a colliding gram marks a position spuriously;
    at web scale widen the prefix).
    """
    if k < 1:
        raise ValueError(f"k {k} < 1")
    w = words(text_col)
    grams = (
        ensure_min_partitions(df)
        .select(F.col(id_col).alias("_id"), w.alias("_w"))
        .filter(F.size(F.col("_w")) >= k)
        .select(
            "_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size(F.col("_w")) - k),
                    lambda i: F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    " ", F.slice(F.col("_w"), i + 1, k)
                                )
                            ),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("long"),
                )
            ).alias("_pos", "_gh"),
        )
    )
    grams = _persist_tracked(grams)
    dup = (
        grams.groupBy("_gh")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .filter(F.col("_cnt") >= min_count)
        .select("_gh")
    )
    marked = grams.join(dup, "_gh").select("_id", "_pos").distinct()
    win = Window.partitionBy("_id").orderBy("_pos")
    islands = marked.withColumn(
        "_grp", F.col("_pos") - F.row_number().over(win)
    )
    return (
        islands.groupBy("_id", "_grp")
        .agg(
            F.min("_pos").alias("span_start"),
            (F.max("_pos") + k - 1).alias("span_end"),
        )
        .select(
            F.col("_id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def contamination_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str = "text",
    bench_text_col: str | None = None,
    k: int = 8,
) -> DataFrame:
    """Benchmark-contamination SPANS: the surgical form of
    :func:`ngram_contamination` — instead of flagging whole documents,
    locate the maximal token runs whose k-grams appear in the
    benchmark corpus, so the contaminated text can be CUT while the
    rest of the document survives (the span-level decontamination
    policy of recent open-data pipelines).

    Returns ``(id_col, span_start, span_end, span_tokens)`` like
    :func:`repeated_spans`; feed the spans to the same interval-cut
    rebuild. Boundaries are k-1 tokens coarse.

    Plan shape: the benchmark side reduces to its DISTINCT gram-hash
    set (tiny relative to the corpus — hashes, never text) and joins
    the corpus's per-position gram hashes hash-to-hash; the island
    merge windows per document. Corpus-side text never shuffles.
    """
    if k < 1:
        raise ValueError(f"k {k} < 1")
    btext = bench_text_col or text_col

    def gram_hashes(df: DataFrame, col: str, ident) -> DataFrame:
        w = words(col)
        return (
            ensure_min_partitions(df)
            .select(ident.alias("_id"), w.alias("_w"))
            .filter(F.size(F.col("_w")) >= k)
            .select(
                "_id",
                F.posexplode(
                    F.transform(
                        F.sequence(F.lit(0), F.size(F.col("_w")) - k),
                        lambda i: F.conv(
                            F.substring(
                                F.md5(
                                    F.concat_ws(
                                        " ", F.slice(F.col("_w"), i + 1, k)
                                    )
                                ),
                                1,
                                8,
                            ),
                            16,
                            10,
                        ).cast("long"),
                    )
                ).alias("_pos", "_gh"),
            )
        )

    bench_grams = gram_hashes(benchmark, btext, F.lit(0)).select("_gh").distinct()
    corpus_grams = gram_hashes(corpus, text_col, F.col(id_col))
    marked = corpus_grams.join(bench_grams, "_gh").select("_id", "_pos").distinct()
    win = Window.partitionBy("_id").orderBy("_pos")
    islands = marked.withColumn(
        "_grp", F.col("_pos") - F.row_number().over(win)
    )
    return (
        islands.groupBy("_id", "_grp")
        .agg(
            F.min("_pos").alias("span_start"),
            (F.max("_pos") + k - 1).alias("span_end"),
        )
        .select(
            F.col("_id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def remove_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Cut every :func:`repeated_spans` span from every document and
    reassemble the surviving tokens — the strict boilerplate-removal
    variant (ALL occurrences go; pipelines that keep one occurrence
    run span detection + a keep-winner policy instead).

    Returns ``(id_col, text_col, n_tokens_cut)`` for EVERY input row —
    documents without spans pass through with ``n_tokens_cut = 0``;
    a document that is entirely repeated text comes back empty, its
    row preserved for auditability.

    Plan shape: spans aggregate per (doc, span) and join back to the
    tokenized corpus as position intervals collected per doc (a small
    array — spans per doc, not tokens per doc); the token filter is a
    Column expression over the word array, so the rebuild adds one
    doc-keyed join and zero extra tokenize scans beyond
    :func:`repeated_spans`' own.
    """
    spans = repeated_spans(df, id_col, text_col, k=k, min_count=min_count)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans"),
        F.sum("span_tokens").alias("n_tokens_cut"),
    )
    w = words(text_col)
    base = df.select(F.col(id_col), w.alias("_w"))
    joined = base.join(per_doc, id_col, "left")
    # two-arg transform lambda = (element, index) — empty-array safe,
    # unlike zip_with against sequence(0, size-1) which DESCENDS for
    # empty docs
    indexed = F.transform(
        F.col("_w"), lambda tok, i: F.struct(tok.alias("t"), i.alias("i"))
    )
    kept = F.filter(
        indexed,
        lambda s: ~F.exists(
            F.coalesce(
                F.col("_spans"),
                F.array().cast(
                    "array<struct<span_start:bigint,span_end:bigint>>"
                ),
            ),
            lambda sp: (s["i"] >= sp["span_start"])
            & (s["i"] <= sp["span_end"]),
        ),
    )
    return joined.select(
        F.col(id_col),
        F.concat_ws(
            " ", F.transform(kept, lambda s: s["t"])
        ).alias(text_col),
        F.coalesce("n_tokens_cut", F.lit(0)).alias("n_tokens_cut"),
    )


def suffix_prefix_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Continuation-page pairs: (prev, next) where prev's trailing
    ``k``-gram equals next's leading ``k``-gram — the crawl artifact
    where a paginated article repeats the previous page's tail as a
    header. Docs shorter than ``k`` words are ineligible.

    One equi-join on the literal gram string: exact by construction
    (no hash, no verify pass), and the join stream carries (id, gram)
    only — the documents never ride the shuffle. Boilerplate grams
    (shared footers) are the skew case; at corpus scale pair this
    with AQE skew-join or a bucket cap as in ``minhash_lsh_pairs``.
    """
    from curw_flo2d_data_manager_spark.operators.textstats import words

    w = words(F.col(text_col))
    eligible = df.filter(F.size(w) >= k)
    tails = eligible.select(
        F.col(id_col).alias("prev_id"),
        F.concat_ws(" ", F.slice(w, -k, k)).alias("gram"),
    )
    heads = eligible.select(
        F.col(id_col).alias("next_id"),
        F.concat_ws(" ", F.slice(w, 1, k)).alias("gram"),
    )
    return (
        tails.join(heads, "gram")
        .filter(F.col("prev_id") != F.col("next_id"))
        .select("prev_id", "next_id", "gram")
    )


def fuzzy_name_pairs(
    df: DataFrame,
    name_col: str,
    max_dist: int = 2,
    block_col: Column | None = None,
) -> DataFrame:
    """Blocked edit-distance matching over the DISTINCT-value relation
    — the record-linkage / entity-resolution primitive ("Acme Corp" vs
    "Acme Corp.") the exact and MinHash families can't express: those
    need shared tokens or shingles, while edit distance catches
    single-character typos in short strings.

    Scale shape — two decisions make this survive 100 TB:

    * **distinct-first**: the quadratic refine runs on the DISTINCT
      name relation, never the row relation. A catalog with 10^9 rows
      but 10^6 distinct names does 10^12 → 10^6-scale work; the
      group sizes ride along so callers can weight matches back to
      row counts without a second scan.
    * **blocking**: candidate pairs come from an equi-join on a cheap
      block key (default: the name's first whitespace token), never a
      cartesian product; ``levenshtein`` (JVM codegen) refines inside
      the block. Hot blocks are the skew case — AQE skew-join or a
      per-block cap, exactly as with MinHash bands. A same-first-token
      block key misses typos IN the first token; widen with a second
      pass on e.g. a reversed-name or length-band key if recall there
      matters.

    Emits one row per unordered distinct-name pair with
    ``0 < levenshtein <= max_dist``: (name_a, name_b, dist, n_a, n_b)
    with name_a < name_b; dist 0 (exact duplicates) is exact_dedup's
    job, not a fuzzy match. ``block_col``, if given, is an expression
    over the distinct relation's ``name`` column.
    """
    names = (
        df.groupBy(F.col(name_col).alias("name"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn(
            "blk",
            block_col
            if block_col is not None
            else F.split_part(F.col("name"), F.lit(" "), F.lit(1)),
        )
    )
    a = names.select(
        F.col("blk"),
        F.col("name").alias("name_a"),
        F.col("n_rows").alias("n_a"),
    )
    b = names.select(
        F.col("blk"),
        F.col("name").alias("name_b"),
        F.col("n_rows").alias("n_b"),
    )
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter((F.col("dist") > 0) & (F.col("dist") <= max_dist))
        .select("name_a", "name_b", "dist", "n_a", "n_b")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.8,
    min_tokens: int = 5,
    n_rare: int = 3,
    max_block_df: int = 1000,
) -> DataFrame:
    """Asymmetric CONTAINMENT detection — |A∩B| / |A| over distinct
    token sets — the quote/subset duplicates resemblance metrics
    miss: a paragraph quoted inside a long page has high containment
    but low Jaccard, so MinHash never pairs them.

    Scale shape (prefix/rare-token blocking): candidates for "A
    contained in B" come from an equi-join of A's ``n_rare`` GLOBALLY
    RAREST tokens (by document frequency, token tiebreak) against the
    full inverted index — candidate volume is Σ df(rare token), small
    by construction, never |docs|². The exact intersection count then
    runs only on candidate pairs. Fully-contained docs are GUARANTEED
    candidates (every token of A, rare ones included, is in B);
    partial containment below 1.0 is heuristic-recall — a miss needs
    ALL of A's rare tokens to fall in the dropped fraction.

    ``max_block_df`` is the degeneracy guard: on a low-vocabulary /
    templated corpus a doc's "rarest" token can still sit in
    thousands of documents, and blocking on it regenerates the n²
    cartesian this operator exists to avoid (measured: the synthetic
    sf0.1 corpus has min df 250 — uncapped candidates were 23.9M of
    25M possible; capped at 1000 they drop to 62k). Rare tokens above
    the cap are unusable as block keys; a doc with NO usable key is
    excluded from the CONTAINED (id_small) side — such a doc consists
    entirely of ultra-common tokens, for which token-containment is
    textually meaningless anyway (it can still be a container). The
    same recall-for-survival trade as the MinHash hot-bucket cap.

    Emits (id_small, id_big, containment) per DIRECTED pair with
    containment ≥ threshold; docs under ``min_tokens`` distinct
    tokens are ignored (tiny sets make the ratio meaningless).
    """
    from curw_flo2d_data_manager_spark.operators.textstats import words

    toks = (
        df.select(
            F.col(id_col).alias("doc"),
            F.explode(words(F.col(text_col))).alias("token"),
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    sizes = toks.groupBy("doc").agg(F.count(F.lit(1)).alias("n_tok"))
    # No broadcast hint on the per-doc eligible relation (round-8
    # advice): it is one row per document — unbounded in corpus size —
    # so a forced broadcast OOMs at scale. AQE picks broadcast when
    # the relation is actually small.
    eligible = sizes.filter(F.col("n_tok") >= min_tokens)
    toks_e = toks.join(eligible.select("doc"), "doc")
    dfreq = toks_e.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc").orderBy(F.asc("df"), F.asc("token"))
    rare = (
        toks_e.join(dfreq, "token")
        .withColumn("_r", F.row_number().over(w))
        .filter(
            (F.col("_r") <= n_rare) & (F.col("df") <= max_block_df)
        )
        .select(F.col("doc").alias("id_small"), "token")
    )
    cand = (
        rare.join(
            toks_e.select(F.col("doc").alias("id_big"), "token"), "token"
        )
        .filter(F.col("id_small") != F.col("id_big"))
        .select("id_small", "id_big")
        .distinct()
    )
    inter = (
        cand.join(
            toks_e.select(F.col("doc").alias("id_small"), "token"),
            "id_small",
        )
        .join(
            toks_e.select(F.col("doc").alias("id_big"), "token"),
            ["id_big", "token"],
        )
        .groupBy("id_small", "id_big")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(
            eligible.select(
                F.col("doc").alias("id_small"),
                F.col("n_tok").alias("n_small"),
            ),
            "id_small",
        )
        .withColumn(
            "containment",
            F.round(F.col("n_inter") / F.col("n_small"), 6),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_small", "id_big", "containment")
    )
