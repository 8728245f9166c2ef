"""The external correctness driver verifies only the first
``DRIVER_WINDOW`` (50) registry entries. The window ROTATES each round
under the policy documented at the REGISTRY definition (amended in
round 11 per the round-10 advice): never-certified additions, then
queries over operator code touched this round, then one gate per
SURVEY §2 family whose last certification is older than round N-2
(a family may rotate out entirely only while recently certified),
then the oldest-certified cohort. Rotated-out entries are re-verified
every round by ``tools/check_correctness.py`` full sweeps.

This test pins the round-13 window so a registry edit can never
silently drop an intended gate: REQUIRED_IN_WINDOW must be edited in
lockstep with any registry reorder."""

import hashlib

from curw_flo2d_data_manager_spark.queries import (
    DRIVER_WINDOW,
    REGISTRY,
    oracle_sql,
    queries,
)

# Round-14 window: keys must sit at registry position < DRIVER_WINDOW.
REQUIRED_IN_WINDOW = {
    # (a) round-14 growth — gates over this round's operator rewrites
    "text_lang_scores", "dedup_shingle_hashes", "f_pack_null_order",
    "text_strip_clean",
    # (b) operator code touched in round 14: lang_scores regexp_count
    # form, minhash hashed shingles (incl. the streaming ledger and
    # the cluster-filter composite), pack_sequences label cap + NULL
    # handling, markup lazy gates + bounded ampersand pass
    "text_lang_id", "dedup_minhash_lsh", "dedup_cluster_filter",
    "stream_corpus_neardup", "f_pack_sequences", "text_strip_html",
    # (d) the 16 remaining r7-certified entries — after this window
    # the certification union holds nothing older than r10
    "sim_pagerank", "sim_semantic_dedup", "stream_corpus_decontam",
    "stream_corpus_quality", "stream_resample_events",
    "text_bigram_logprob", "text_bm25_topk", "text_ccnet_buckets",
    "text_chunk_documents", "text_dsir_weights", "text_epoch_plan",
    "text_frequent_terms", "text_hash_classifier", "w_hampel_despike",
    "w_seasonal_baseline", "w_winsorize",
    # (d) the 15 r9-certified entries
    "f_domain_cap", "f_quantile_norm", "j6_nearest_rank1", "j8_gap_fill",
    "j_interval_overlap", "j_range_join", "sim_ivfpq", "sim_kmeans",
    "sim_pq_adc", "sim_pq_rerank", "stream_cusum_drift",
    "text_char_entropy", "w_hampel_user", "w_interp_user",
    "w_linear_interp",
    # (d) the 9 alphabetically-first r10-certified entries (the next
    # drain cohort: 38 r10 entries remain for the r15 window)
    "a_grouping_sets", "a_histogram", "a_histogram_equidepth",
    "a_profile_columns", "a_rolling_actives", "a_salted_sum",
    "dedup_containment", "dedup_fuzzy_names", "dedup_normalized", }


def test_every_required_gate_is_inside_driver_window():
    order = list(REGISTRY)
    positions = {name: i for i, name in enumerate(order)}
    missing = REQUIRED_IN_WINDOW - set(order)
    assert not missing, f"registry lost gates: {sorted(missing)}"
    outside = sorted(
        name for name in REQUIRED_IN_WINDOW if positions[name] >= DRIVER_WINDOW
    )
    assert not outside, (
        f"gates past driver window ({DRIVER_WINDOW}): {outside}"
    )


def test_window_is_exactly_filled():
    # All 50 slots are spent on intended gates — no accidental filler
    # ahead of a gate.
    assert len(REQUIRED_IN_WINDOW) == DRIVER_WINDOW
    assert list(REGISTRY)[:DRIVER_WINDOW] == [
        n for n in REGISTRY if n in REQUIRED_IN_WINDOW
    ]


def test_every_entry_has_an_oracle_except_documented():
    # a_approx_distinct gained its tolerance-band oracle in round 3 —
    # nothing in the registry is rows-only any more.
    rows_only = [name for name, (_, sql) in REGISTRY.items() if sql is None]
    assert rows_only == []


# sha256 over every entry, in REGISTRY order, of its name, the defining
# module and qualified name of its Spark function, and its oracle SQL.
# A registry refactor must leave this unchanged; a deliberate registry
# edit updates it in the same change.
REGISTRY_DIGEST = "89c52d4fad6321518c3369ba0825db4ab8c138d4e26e680978a5f49b1cf37d0c"


def test_registry_identity_is_pinned():
    h = hashlib.sha256()
    for name, (fn, sql) in REGISTRY.items():
        h.update(f"{name}|{fn.__module__}.{fn.__qualname__}|{sql}\n".encode())
    assert len(REGISTRY) == 224
    assert DRIVER_WINDOW == 50
    assert h.hexdigest() == REGISTRY_DIGEST
    assert list(queries()) == list(REGISTRY)
    assert oracle_sql() == {
        name: sql for name, (_, sql) in REGISTRY.items() if sql is not None
    }
