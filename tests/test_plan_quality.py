"""Physical-plan regression tests: the properties that decide whether
a query survives a 100× scale-up — predicate pushdown to the parquet
scan, column pruning, broadcast joins for dimension tables — asserted
on the actual explain output so a refactor can't silently lose them.
"""

from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark import queries as q
from curw_flo2d_data_manager_spark.queries._shared import _events
from curw_flo2d_data_manager_spark.queries.analytics_breadth import a_approx_distinct
from curw_flo2d_data_manager_spark.queries.corpus_core import dedup_winnow_pairs_docs
from curw_flo2d_data_manager_spark.queries.parity_tpch import (
    q1_pricing_summary,
    q5_local_supplier,
    q6_revenue_change,
)


def plan_of(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    em = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(em)


def test_events_range_predicate_reaches_parquet_scan(spark, sf_dir):
    """The nanos→timestamp conversion hides `ts` from pushdown, so
    `_events` must filter the RAW long first — row-group pruning is
    the difference between a day's scan and a full-table scan."""
    df = _events(
        spark, sf_dir, start="2024-01-02 00:00:00", end="2024-01-03 00:00:00"
    )
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(ts" in plan, plan


def test_q6_pushdown_and_column_pruning(spark, sf_dir):
    plan = plan_of(q6_revenue_change(spark, sf_dir))
    # shipdate/discount/quantity predicates reach the scan
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1].split("\n")[0]
    # untouched columns are pruned from the read schema
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_tax" not in read_schema
    assert "l_returnflag" not in read_schema


def test_q5_broadcasts_dimension_joins(spark, sf_dir):
    plan = plan_of(q5_local_supplier(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_q1_aggregates_before_shuffle(spark, sf_dir):
    """Partial (map-side) aggregation must appear under the exchange —
    the shuffle carries 6 group rows per partition, not 600k rows."""
    plan = plan_of(q1_pricing_summary(spark, sf_dir), mode="simple")
    first_agg = plan.index("HashAggregate")
    assert "Exchange" in plan[:first_agg] or "Exchange" in plan, plan
    # final & partial pair exist
    assert plan.count("HashAggregate") >= 2


def test_approx_distinct_within_tolerance(spark, sf_dir):
    """a_approx_distinct now certifies accuracy IN its output: the
    query emits (event_type, exact_users, within_5pct) and the DuckDB
    oracle recomputes exact_users and pins within_5pct=1, so the hash
    check IS the accuracy assertion. Here: the flag really is 1 for
    every group and the exact counts match an independent recompute."""
    rows = a_approx_distinct(spark, sf_dir).collect()
    exact = {
        r["event_type"]: r["n"]
        for r in _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert {r["event_type"] for r in rows} == set(exact)
    for r in rows:
        assert r["within_5pct"] == 1, (r["event_type"], r)
        assert r["exact_users"] == exact[r["event_type"]]


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Fact tables bucketed identically on the join key must join with
    no Exchange at all — the scan provides the distribution."""
    import datetime as dt

    from curw_flo2d_data_manager_spark import TimeseriesStore

    base = dt.datetime(2024, 1, 1)
    rows = [
        (f"s{i % 7}", base + dt.timedelta(minutes=i), float(i)) for i in range(500)
    ]
    df = spark.createDataFrame(rows, "id string, time timestamp, value double")
    TimeseriesStore.write_data_bucketed(
        df, "t_bucket_a", buckets=8, path=str(tmp_path / "a")
    )
    TimeseriesStore.write_data_bucketed(
        df, "t_bucket_b", buckets=8, path=str(tmp_path / "b")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("t_bucket_a").alias("a").join(
            spark.table("t_bucket_b").alias("b"), "id"
        )
        plan = plan_of(j, mode="simple")
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert j.count() == sum(  # 500 rows over 7 ids → per-id n^2 pairs
            c * c for c in (72, 72, 72, 71, 71, 71, 71)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_bucket_a")
        spark.sql("DROP TABLE IF EXISTS t_bucket_b")


def test_text_ops_stay_jvm_side(spark, sf_dir):
    """PII redaction and URL extraction are pure Column regex chains —
    the whole scan must stay in codegen with no Python stage and read
    only the referenced columns."""
    for name in ("text_pii_redact", "text_url_extract"):
        df = q.queries()[name](spark, sf_dir)
        plan = plan_of(df)
        assert "BatchEvalPython" not in plan and "EvalPython" not in plan, name
        read_schema = plan.split("ReadSchema")[1].split("\n")[0]
        assert "lang" not in read_schema and "source" not in read_schema, name


def test_k8_merge_joins_are_broadcast(spark, sf_dir):
    """The run-metadata upsert's anti-join is against a handful of
    provenance rows — it must broadcast, never shuffle the fact side."""
    plan = plan_of(q.queries()["k8_run_metadata"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_parser_line_source_is_a_file_scan(spark, tmp_path):
    """The line source must be a JVM FileScan (round-2 change from the
    Python RDD path) and the parse must not re-read the file per
    window stage."""
    f = tmp_path / "TIMDEP.OUT"
    f.write_text("   0.00\n   900  1 2 3 4  7.25\n")
    from curw_flo2d_data_manager_spark.sources.timdep import parse_timdep

    cells = spark.createDataFrame([("900",)], "cell_id string")
    df = parse_timdep(spark, str(f), "2024-01-01 00:00:00", cells)
    plan = plan_of(df, mode="simple")
    assert "FileScan text" in plan
    # the created-in-test cells dim may be an in-memory relation; the
    # parse itself must carry no Python stage
    assert "BatchEvalPython" not in plan and "EvalPython" not in plan


def test_weighted_sample_is_take_ordered(spark, sf_dir):
    """weighted_sample's orderBy+limit must compile to
    TakeOrderedAndProject (per-partition heaps, no global sort
    materialization) — the property that makes top-n sampling scale."""
    from curw_flo2d_data_manager_spark.operators.sampling import (
        weighted_sample,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(
        weighted_sample(docs, ["doc_id"], "n_chars", 100), mode="simple"
    )
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no full sort stage on the data path


def test_winnow_pairs_is_hash_join_no_python(spark, sf_dir):
    """The winnowing pair join is a shuffled equi-join on the
    fingerprint value — never a cartesian/BNLJ — and the whole
    fingerprint pipeline stays JVM-side."""
    plan = plan_of(dedup_winnow_pairs_docs(spark, sf_dir), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pack_sequences_label_exchange_and_broadcast_carry(spark, sf_dir):
    """Packing's global order rides a DATA-DERIVED label (driver-
    sampled boundaries baked into the expression — round-13 fix: a
    physical spark_partition_id after repartitionByRange meant
    different partitionings in the two traversals once column pruning
    stopped ReuseExchange from firing, and each exchange sampled its
    own boundaries).  The plan therefore shows hash exchanges on the
    label — NEVER a sampled rangepartitioning on the data path — and
    the carry join is a broadcast (label-count rows)."""
    from curw_flo2d_data_manager_spark.operators.packing import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    packed = pack_sequences(docs, "doc_id", "n_chars", budget=2048)
    packed.collect()
    final = packed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange rangepartitioning" not in final, final
    assert "Exchange hashpartitioning(_pid" in final
    assert "BroadcastHashJoin" in final


def test_passage_dedup_shuffle_carries_hashes_not_text(spark, sf_dir):
    """passage_dedup's one shuffle (the first-occurrence window over
    md5 buckets) must move (id, pos, hash, n_words) only — the raw
    document text and the reconstructed passage string both stay in
    the scan stage."""
    from curw_flo2d_data_manager_spark.operators.dedup import passage_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    plan = plan_of(passage_dedup(docs, "doc_id", "text"))
    exchange_part = plan[plan.index("Exchange") :].split("===")[0]
    # the post-shuffle stages never reference the text column
    assert "text#" not in exchange_part.split("Exchange")[1].split("(1) Scan")[0]
    assert "BatchEvalPython" not in plan


def test_tfidf_partial_aggregates_before_shuffles(spark, sf_dir):
    """Both tf-idf aggregations (term frequency, document frequency)
    must map-side partial-aggregate: every Exchange is fed by a
    HashAggregate, so only (keys, partial counts) shuffle."""
    from curw_flo2d_data_manager_spark.operators.textstats import tfidf_top_terms

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    plan = plan_of(tfidf_top_terms(docs, "doc_id", "text"), mode="simple")
    assert "partial_count" in plan.lower() or plan.count("HashAggregate") >= 4
    assert "BatchEvalPython" not in plan


def test_tfidf_single_tokenize_no_vocab_join(spark, sf_dir):
    """tf-idf must tokenize the corpus exactly ONCE (r14: df is a
    count-over-window on the term exchange, N a char-class rlike scan
    — the old dfreq join arm and n_docs filter each re-tokenized):
    exactly one Generate(explode) in the plan and no vocabulary-scaled
    join (the only join left is the 1-row n_docs broadcast)."""
    from curw_flo2d_data_manager_spark.operators.textstats import tfidf_top_terms

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    plan = plan_of(tfidf_top_terms(docs, "doc_id", "text"), mode="simple")
    assert plan.count("Generate") == 1
    assert "SortMergeJoin" not in plan


def test_unigram_logprob_single_tokenize(spark, sf_dir):
    """unigram_logprob (round-5 verdict item 4) must tokenize the
    corpus ONCE: the per-(doc, term) tf relation is persisted and
    feeds both the unigram model and the scoring join, so every
    Generate(explode) in the plan sits INSIDE the cached subtree
    (printed once per InMemoryTableScan consumer) — a bare Generate
    outside the cache means the corpus is being re-tokenized. The
    scoring join must also consume tf, not the raw token stream."""
    from curw_flo2d_data_manager_spark.operators.caching import release_caches
    from curw_flo2d_data_manager_spark.operators.textstats import unigram_logprob

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    try:
        plan = plan_of(unigram_logprob(docs, "doc_id", "text"), mode="simple")
        assert plan.count("InMemoryTableScan") >= 2  # both consumers hit the cache
        assert plan.count("Generate") == plan.count("InMemoryRelation"), plan
        assert "BatchEvalPython" not in plan
    finally:
        release_caches()


def test_lm_scorers_window_model_counts_no_vocab_join(spark, sf_dir):
    """r14: the LM scorers' model counts are window sums on the
    scoring exchange — no vocabulary-scaled aggregate may join back
    onto tf (the old tf ⋈ model SMJ re-tokenized the corpus on its
    build arm). The plans must carry a Window and ZERO SortMergeJoin;
    the only join left is the 1-row broadcast normalizer."""
    from curw_flo2d_data_manager_spark.operators.caching import release_caches
    from curw_flo2d_data_manager_spark.operators.textstats import (
        bigram_logprob,
        dsir_log_ratio,
        unigram_logprob,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", (F.col("doc_id") % 2 == 0).alias("is_tgt")
    )
    try:
        for op in (
            lambda: unigram_logprob(docs, "doc_id", "text"),
            lambda: bigram_logprob(docs, "doc_id", "text"),
            lambda: dsir_log_ratio(docs, "doc_id", "is_tgt", "text"),
        ):
            plan = plan_of(op(), mode="simple")
            assert "SortMergeJoin" not in plan, plan
            assert "Window" in plan, plan
            assert "BatchEvalPython" not in plan
    finally:
        release_caches()


def test_chunk_and_split_are_shuffle_free(spark, sf_dir):
    """chunk_documents (explode-only) and split_assign (pure hash
    projection) must never introduce an Exchange — their 100 TB story
    is precisely that they push through any plan without data
    movement."""
    from curw_flo2d_data_manager_spark.operators.sampling import split_assign
    from curw_flo2d_data_manager_spark.operators.textstats import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    chunk_plan = plan_of(chunk_documents(docs, "doc_id", chunk_words=32))
    assert "Exchange" not in chunk_plan and "BatchEvalPython" not in chunk_plan
    split_plan = plan_of(
        split_assign(docs, ["doc_id"], {"train": 0.9, "test": 0.1})
    )
    assert "Exchange" not in split_plan and "BatchEvalPython" not in split_plan


def test_connected_components_round_bound(spark):
    """Star contraction must stay O(log n): a 64-node chain (diameter
    63) converges within 10 rounds — a naive propagation would need
    ~63. Guards against a regression to per-hop label spreading."""
    from curw_flo2d_data_manager_spark.operators import components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    # driver_threshold=0 forces the distributed star contraction (the
    # adaptive driver-side union-find would otherwise absorb a graph
    # this small)
    out = {r["id"]: r["component"] for r in
           components.connected_components(pairs, driver_threshold=0).collect()}
    assert set(out.values()) == {0} and len(out) == 65
    assert components.last_rounds <= 10, components.last_rounds


def test_bloom_prefilter_is_mapside_and_verify_joins_sliver(spark, sf_dir):
    """bloom_blocklist_filter's 100-TB contract: the clean branch is a
    pure scan+filter (the probe is a literal-array expression — no
    Exchange, no join), and the only join in the whole plan is the
    left-anti verify fed by the candidate sliver."""
    from pyspark.sql import functions as F

    from curw_flo2d_data_manager_spark.operators.dedup import (
        bloom_blocklist_filter,
        bloom_build,
        bloom_might_contain,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.select("doc_id", F.md5("text").alias("fp"))
    blocklist = docs.filter(F.col("source") == "src0").select(
        F.md5("text").alias("fp")
    )
    # the probe alone must stay map-side
    words = bloom_build(blocklist, "fp", m_bits=4096, k=3)
    probe_plan = plan_of(
        corpus.filter(~bloom_might_contain(words, F.col("fp"), 4096, k=3))
    )
    assert "Exchange" not in probe_plan and "Join" not in probe_plan
    assert "BatchEvalPython" not in probe_plan
    # the full operator has exactly one join (the anti verify)
    full_plan = plan_of(
        bloom_blocklist_filter(corpus, blocklist, "fp", m_bits=4096, k=3),
        mode="simple",
    )
    assert full_plan.count("Join") == 1 and "LeftAnti" in full_plan


def test_knn_graph_blocked_join_is_equi_not_cartesian(spark, sf_dir):
    """Blocked knn_graph must plan the candidate join as a hash/merge
    equi-join on the block key — a BroadcastNestedLoop or Cartesian
    means the blocking key was lost and the plan is corpus-quadratic."""
    from curw_flo2d_data_manager_spark.operators.similarity import knn_graph

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = plan_of(knn_graph(emb, k=5, block_col="label"), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_dsir_single_tokenize_and_partial_aggregates(spark, sf_dir):
    """dsir_log_ratio mirrors unigram_logprob's plan contract: the
    corpus is tokenized ONCE into the cached tf relation (every
    Generate sits inside the cache), and the LM join consumes tf, not
    the raw token stream."""
    from pyspark.sql import functions as F

    from curw_flo2d_data_manager_spark.operators.caching import release_caches
    from curw_flo2d_data_manager_spark.operators.textstats import dsir_log_ratio

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", (F.col("lang") == "en").alias("is_tgt")
    )
    try:
        plan = plan_of(dsir_log_ratio(docs, "doc_id", "is_tgt"), mode="simple")
        assert plan.count("InMemoryTableScan") >= 2
        assert plan.count("Generate") == plan.count("InMemoryRelation"), plan
        assert "BatchEvalPython" not in plan
    finally:
        release_caches()


def test_pq_assign_is_narrow_and_adc_ships_codes_not_vectors(spark, sf_dir):
    """pq_assign must be a pure narrow projection (no Exchange, no
    Python); pq_adc_topk's ranking join must carry the packed code,
    never SortMergeJoin or CartesianProduct — the broadcast query side
    makes it a BroadcastNestedLoop by design."""
    from pyspark.sql import functions as F

    from curw_flo2d_data_manager_spark.operators.similarity import (
        pq_adc_topk,
        pq_assign,
    )
    from curw_flo2d_data_manager_spark.queries.sim_streams import PQ_CODEBOOKS

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assign_plan = plan_of(pq_assign(emb, PQ_CODEBOOKS))
    assert "Exchange" not in assign_plan
    assert "BatchEvalPython" not in assign_plan

    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    adc_plan = plan_of(pq_adc_topk(emb, qs, PQ_CODEBOOKS, k=5), mode="simple")
    assert "SortMergeJoin" not in adc_plan
    assert "CartesianProduct" not in adc_plan
    assert "BatchEvalPython" not in adc_plan
    # Two-stage ranking (round-7 verdict item 3): the row_number ≤ k
    # pattern must hit Spark's InferWindowGroupLimit rewrite — a
    # WindowGroupLimit Partial BELOW the exchange cuts each map
    # partition to its own top-k per query, so at most k·P rows per
    # query ride the shuffle and no reducer ever sorts a full query's
    # candidate stream. Plan prints top-down: Final → Exchange →
    # Partial. A hand-rolled (query_id, spark_partition_id) stage-1
    # window was measured as the alternative and rejected — it
    # shuffles the ENTIRE pair stream.
    assert "WindowGroupLimit" in adc_plan, adc_plan
    i_partial = adc_plan.index(", Partial")
    i_final = adc_plan.index(", Final")
    i_exchange = adc_plan.index("Exchange hashpartitioning")
    assert i_final < i_exchange < i_partial, adc_plan


def test_ccnet_buckets_broadcast_cuts_no_global_sort(spark, sf_dir):
    """logprob_buckets must assign by broadcast thresholds — a global
    ntile/rank Window over the corpus would funnel 100 TB through one
    reducer. The only acceptable window-free plan: aggregate to the
    2-value cuts, broadcast-join back."""
    from curw_flo2d_data_manager_spark.operators.caching import release_caches
    from curw_flo2d_data_manager_spark.operators.textstats import (
        logprob_buckets,
        unigram_logprob,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    try:
        plan = plan_of(logprob_buckets(unigram_logprob(docs, "doc_id")),
                       mode="simple")
        # no GLOBAL window: an empty-partition ntile/rank funnels the
        # corpus through one reducer. r14: the unigram scorer
        # legitimately uses a term-PARTITIONED window for its model
        # count, and the 1-row cuts aggregate legitimately plans an
        # Exchange SinglePartition — so the precise assertion is that
        # every window spec STARTS with a partition column (a
        # partition-less spec starts with its ORDER BY column, which
        # prints with an ASC/DESC direction).
        import re

        for spec in re.findall(r"windowspecdefinition\((.*?)\)", plan):
            first = spec.split(",")[0]
            assert "ASC" not in first and "DESC" not in first, plan
        assert "BroadcastNestedLoopJoin" in plan  # the 1-row cuts join
        assert "BatchEvalPython" not in plan
    finally:
        release_caches()


def test_hash_classifier_broadcasts_weights_and_partial_aggregates(spark, sf_dir):
    """hash_classifier_score: the weight table joins broadcast (never
    a shuffle of the tf relation against a 64-row dim) and the doc
    aggregate partial-aggregates before its exchange."""
    from curw_flo2d_data_manager_spark.operators.textstats import (
        hash_classifier_score,
    )
    from curw_flo2d_data_manager_spark.queries.sim_streams import CLASSIFIER_WEIGHTS

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = plan_of(
        hash_classifier_score(docs, "doc_id", CLASSIFIER_WEIGHTS),
        mode="simple",
    )
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "BatchEvalPython" not in plan


def test_bm25_filters_before_tf_shuffle_and_takes_ordered(spark, sf_dir):
    """bm25_topk's query-term filter must run in the scan stage (only
    query-term occurrences ride the tf shuffle), the tiny df/stats
    relations must broadcast, and the global top-k must compile to
    TakeOrdered — never a full-corpus single-partition sort."""
    from curw_flo2d_data_manager_spark.operators.textstats import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = plan_of(
        bm25_topk(docs, "doc_id", ["spark", "join"]), mode="simple"
    )
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan
    # the term filter sits below the first Exchange: the segment above
    # (executed first) containing the tokenize Generate also contains
    # the isin filter
    first_exchange = plan.index("Exchange")
    assert "spark" in plan[first_exchange:], plan


def test_seasonal_baseline_broadcasts_climatology_no_fact_shuffle(
    spark, sf_dir
):
    """seasonal_baseline must partial-aggregate the climatology (only
    (key, period) cells shuffle) and broadcast it back onto the fact
    scan — the fact table itself is never exchanged for the join."""
    from curw_flo2d_data_manager_spark.operators.seasonal import (
        seasonal_baseline,
    )

    ev = _events(spark, sf_dir)
    plan = plan_of(
        seasonal_baseline(ev, ["event_type"], F.hour("ts"), "value"),
        mode="simple",
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan
    # exactly the climatology aggregation shuffles; no shuffle feeds
    # the probe side of the broadcast join
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_linear_interpolate_no_quadratic_frame(spark, sf_dir):
    """Both bracket passes must be incremental running frames
    (unboundedPreceding → currentRow) over ONE exchange. An
    UnboundedFollowing frame is O(n²) per key — Spark re-scans to the
    partition end for every row (measured 38 s vs 0.75 s on 100k
    rows / 5 keys) — so its appearance anywhere in the plan is a
    regression. The second Sort (descending pass over the same
    exchange) is the price of staying linear and is expected."""
    from curw_flo2d_data_manager_spark.operators.interpolate import (
        linear_interpolate,
    )

    ev = _events(spark, sf_dir)
    plan = plan_of(
        linear_interpolate(ev, ["event_type"], "ts", "value"), mode="simple"
    )
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Sort ") <= 2, plan
    assert "unboundedfollowing" not in plan.lower(), plan
    assert "BatchEvalPython" not in plan


def test_domain_cap_uses_partial_window_group_limit(spark, sf_dir):
    """domain_cap(keep_only=True) must hit InferWindowGroupLimit: the
    Partial operator below the exchange caps a skewed domain at
    cap rows per map partition — without it, one giant host funnels
    every page into a single reducer sort."""
    from curw_flo2d_data_manager_spark.operators.sampling import domain_cap

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "n_chars"
    )
    plan = plan_of(
        domain_cap(docs, ["source"], [F.col("n_chars").desc(), "doc_id"], cap=5),
        mode="simple",
    )
    assert "WindowGroupLimit" in plan, plan
    i_partial = plan.index(", Partial")
    i_exchange = plan.index("Exchange hashpartitioning")
    assert i_exchange < i_partial, plan
    assert "BatchEvalPython" not in plan


def test_char_entropy_is_zero_shuffle_projection(spark, sf_dir):
    """char_entropy must stay a pure projection: NO exchange, NO
    explode (Generate), no Python — the naive explode→groupBy shape
    ships one row per corpus CHARACTER through a shuffle."""
    from curw_flo2d_data_manager_spark.operators.textstats import char_entropy

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = plan_of(docs.select("doc_id", char_entropy("text").alias("h")),
                   mode="simple")
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan
    assert "BatchEvalPython" not in plan


def test_boilerplate_anti_join_is_broadcast_and_ships_hashes(spark, sf_dir):
    """strip_boilerplate_lines: the boilerplate filter must be a
    BROADCAST left-anti join (the boilerplate relation is tiny by
    construction), and its join keys are the 8-byte line hashes —
    no line text in the join condition."""
    from curw_flo2d_data_manager_spark.operators.textstats import (
        strip_boilerplate_lines,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = plan_of(strip_boilerplate_lines(docs, "doc_id", min_doc_freq=25))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # no sort-merge anti join anywhere (would mean the corpus lines
    # were exchanged on the boilerplate key)
    assert "SortMergeJoin LeftAnti" not in plan


def test_containment_candidates_are_equi_join_no_cartesian(spark, sf_dir):
    from curw_flo2d_data_manager_spark.operators.dedup import (
        containment_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = plan_of(containment_pairs(docs, "doc_id"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_label_propagation_round_has_no_window_operator(spark):
    """The per-round argmax must be the partial-aggregable
    max(struct) form — a rank window over (node) would sort every
    hub's count rows in one task."""
    from curw_flo2d_data_manager_spark.operators.components import (
        label_propagation,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "id_a long, id_b long"
    )
    plan = plan_of(label_propagation(edges, n_iters=1))
    assert "Window" not in plan
    assert "row_number" not in plan.lower()


def test_inverted_index_partial_group_limit(spark, sf_dir):
    """inverted_index's per-term top-k must hit InferWindowGroupLimit
    with the map-side Partial BELOW the exchange — at most k postings
    per term per map partition ride the shuffle, the difference between
    shipping full posting lists of a 10^11-token corpus and k rows per
    term."""
    from curw_flo2d_data_manager_spark.operators.textstats import (
        inverted_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = plan_of(
        inverted_index(docs, "doc_id", k=3, min_df=2, ngram=2),
        mode="simple",
    )
    assert "WindowGroupLimit" in plan, plan
    i_partial = plan.index(", Partial")
    i_exchange = plan.index("Exchange hashpartitioning")
    assert i_exchange < i_partial, plan
