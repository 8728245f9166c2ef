"""Streaming ingest operators.

Batch parity siblings: ``operators.resample.resample_sum`` (A2),
``operators.cumulative.cumulative_fraction`` (A4),
``sinks.upsert.merge_upsert`` (K7). Each batch operator's semantics
carry over; streaming adds watermark-bounded state.

Scale notes:

* the resample is a keyed windowed aggregation — state is one row per
  open (series, bucket), bounded by the watermark horizon; at 100 TB/
  day the state store shards by the same grouping key as the shuffle;
* the stateful running sum uses ``applyInPandasWithState`` — the
  canonical PySpark custom-stateful-operator surface — holding one
  scalar per series;
* the upsert sink routes each micro-batch through the same
  deterministic merge used in batch (idempotent on (key, fgt) replays,
  which Structured Streaming requires for exactly-once file sinks).

Every micro-batch output is committed through ``commit``: a batch's
outputs are written to temp copies and swapped in together, so a
failed or retried batch leaves the previous files, and the ledger
reads recover any swap a crash interrupted.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from curw_flo2d_data_manager_spark import commit
from curw_flo2d_data_manager_spark.functions.timeutil import right_closed_bucket

SERIES_SCHEMA = StructType(
    [
        StructField("id", StringType(), False),
        StructField("time", TimestampType(), False),
        StructField("value", DoubleType(), True),
    ]
)


def _require_local(path: str, param: str) -> None:
    """Fail on the driver, when the stream is wired, unless ``path`` is
    local: ``commit`` swaps directories with ``os`` renames."""
    if "://" in path:
        raise ValueError(f"{param} must be a local path, not {path!r}")


def _start(stream: DataFrame, process, checkpoint: str | None, available_now: bool):
    """Start ``stream`` with ``process(batch_df, batch_id)`` as its
    ``foreachBatch`` body; returns the started ``StreamingQuery``.

    ``update`` mode: for the sources here (no aggregation) it emits
    exactly what ``append`` does, and an aggregating input to
    :func:`foreach_batch_upsert` hands each batch its updated keys.
    """
    writer = stream.writeStream.foreachBatch(process).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        # drain everything currently on disk, then terminate (one-shot
        # catch-up runs and tests); default is a long-lived stream
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_series_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: StructType = SERIES_SCHEMA,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """File-arrival stream of series rows (id, time, value).

    Every new file dropped under ``path`` becomes a micro-batch — the
    streaming analogue of the reference's cron-triggered re-reads.
    ``options`` are source options (e.g. ``maxFilesPerTrigger`` to
    bound batch size / force one-file-per-batch replays).
    """
    reader = spark.readStream.schema(schema)
    if fmt == "csv":
        reader = reader.option("header", "true")
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.format(fmt).load(path)


def streaming_resample_sum(
    stream: DataFrame,
    minutes: int,
    watermark: str = "30 minutes",
    time_col: str = "time",
    value_col: str = "value",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Watermarked right-closed resample-sum (streaming A2).

    The bucket key is the same ceil-to-grid expression as batch, so
    batch and streaming results agree bucket-for-bucket; the watermark
    bounds how late a sample may arrive and still land in its bucket.
    Emit with ``outputMode("update")`` (or "append" once buckets close).

    The watermark is declared ON THE BUCKET COLUMN, not the raw event
    time: Spark's event-time annotation does not survive the ceil-to-
    grid arithmetic, so watermarking the raw column and grouping by the
    derived bucket silently produces an aggregation with NO late-row
    dropping and NO state eviction — unbounded state at scale (found
    by tests/test_streaming.py's cross-batch late-data test). Bucket
    labels are right-shifted from event time by < one grid step, so
    the effective lateness bound is ``watermark`` ± one bucket.
    """
    bucketed = stream.withColumn(
        "__bucket", right_closed_bucket(time_col, minutes)
    ).withWatermark("__bucket", watermark)
    out = bucketed.groupBy(*(group_cols or []), "__bucket").agg(
        F.sum(value_col).alias(value_col)
    )
    return out.withColumnRenamed("__bucket", time_col)


_CUM_STATE = StructType([StructField("total", DoubleType(), True)])
_CUM_OUT = StructType(
    [
        StructField("id", StringType(), False),
        StructField("time", TimestampType(), False),
        StructField("value", DoubleType(), True),
        StructField("cum_value", DoubleType(), True),
    ]
)


def _cum_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    total = state.get[0] if state.exists else 0.0
    for pdf in batches:
        pdf = pdf.sort_values("time")
        vals = pdf["value"].fillna(0.0)
        cums = vals.cumsum() + total
        total = float(cums.iloc[-1]) if len(cums) else total
        yield pd.DataFrame(
            {
                "id": pdf["id"],
                "time": pdf["time"],
                "value": pdf["value"],
                "cum_value": cums,
            }
        )
    state.update((total,))


def streaming_cumulative_sum(stream: DataFrame) -> DataFrame:
    """Per-series running total across micro-batches (streaming A4).

    Custom stateful operator via ``applyInPandasWithState``: state is
    one scalar per series id; within a batch rows are ordered by time
    (cross-batch order is arrival order, the streaming contract).
    """
    return stream.groupBy("id").applyInPandasWithState(
        _cum_fn,
        outputStructType=_CUM_OUT,
        stateStructType=_CUM_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def foreach_batch_upsert(
    stream: DataFrame,
    target_path: str,
    keys: list[str],
    checkpoint: str,
    available_now: bool = False,
):
    """Continuously merge-upsert micro-batches into the flat parquet
    table ``target_path`` (streaming K7). Each batch goes through
    ``sinks.upsert.upsert_files`` and one ``commit.replace``:
    deterministic last-writer-wins per key, replayed batches re-merge
    idempotently, and a batch whose columns or types differ from the
    table fails with a ``ValueError`` naming the column, leaving the
    table as it was.

    Returns the started ``StreamingQuery``.
    """
    from curw_flo2d_data_manager_spark.sinks.upsert import upsert_files

    _require_local(target_path, "target_path")

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        commit.replace(
            target_path,
            lambda tmp: upsert_files(
                batch_df.sparkSession, target_path, tmp, batch_df, keys, F.lit(True)
            ),
        )

    return _start(stream, _merge, checkpoint, available_now)


def streaming_session_sum(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
    time_col: str = "time",
    value_col: str = "value",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Watermarked session-window aggregation (streaming twin of
    ``operators.sessionize``): per-key sessions merge while events
    arrive within ``gap`` of the session's end; the watermark decides
    when a session can no longer grow.

    State is one open session per active key — bounded by key
    cardinality, not event volume, so a 100 TB/day stream holds state
    proportional to concurrent users. Emit with ``update`` (merged-so-
    far sessions) or ``append`` (only watermark-closed sessions).
    """
    keys = list(group_cols or [])
    return (
        stream.withWatermark(time_col, watermark)
        .groupBy(*keys, F.session_window(time_col, gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias(value_col),
        )
        .select(
            *keys,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            value_col,
        )
    )


def streaming_dedup(
    stream: DataFrame,
    key_cols: list[str],
    event_time_col: str = "time",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once streaming dedup of an at-least-once ingest.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only for the
    watermark horizon, so state is bounded by ingest lateness, not
    corpus size — the 100 TB shape for removing replayed/duplicated
    rows at the door (batch sibling: ``operators.dedup.exact_dedup``).
    First occurrence is forwarded immediately (not an aggregation, so
    append mode emits without waiting for the watermark to pass).
    """
    return stream.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def hychan_extract_stream(
    spark: SparkSession,
    watch_dir: str,
    base_time: str,
    on_batch,
    variable: str = "water_level",
    checkpoint: str | None = None,
    available_now: bool = False,
    keep_incomplete: bool = False,
):
    """File-arrival HYCHAN extraction (SURVEY §2.11 stretch goal): the
    streaming twin of the reference's cron-triggered
    extract_water_level runs.

    Each new ``HYCHAN.OUT``-style file dropped under ``watch_dir``
    arrives as one micro-batch of text lines (Spark's file source
    admits only whole, closed files into a batch — a file's lines are
    never split across batches), is parsed with the SAME single-pass
    plan as the batch parser (``sources.hychan._parse_hychan_lines``,
    parallel-prefix fill-down included), and the parsed
    ``(file, element_no, time, value)`` DataFrame is handed to
    ``on_batch(parsed_df, batch_id)`` — typically
    ``sinks.upsert.merge_upsert`` into the forecast store, which is
    idempotent on replays (exactly-once downstream).

    Inside ``foreachBatch`` the batch DataFrame is a static scan over
    the batch's files, so the ``input_file_name`` +
    ``monotonically_increasing_id`` line-order contract of
    ``sources.line_text.read_lines_multi`` applies unchanged (pinned
    by ``assert_line_order`` / the forced-splits tests).

    Checkpointed file discovery means a restart resumes from the last
    processed file — the operational property the reference's cron +
    "latest fgt" bookkeeping approximates manually.

    Returns the started ``StreamingQuery``.
    """
    lines = spark.readStream.format("text").load(watch_dir)

    from curw_flo2d_data_manager_spark.sources.hychan import _parse_hychan_lines

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        tagged = batch_df.select(
            F.input_file_name().alias("file"),
            F.monotonically_increasing_id().alias("line_no"),
            "value",
        )
        parsed = _parse_hychan_lines(tagged, base_time, variable, keep_incomplete)
        on_batch(parsed, batch_id)

    return _start(lines, _process, checkpoint, available_now)


def timdep_extract_stream(
    spark: SparkSession,
    watch_dir: str,
    base_time: str,
    cells: DataFrame,
    on_batch,
    checkpoint: str | None = None,
    available_now: bool = False,
    drop_last_block: bool = False,
):
    """File-arrival TIMDEP extraction — the water-depth twin of
    :func:`hychan_extract_stream` (reference: extract_water_depth's
    cron-triggered runs). Each new ``TIMDEP.OUT`` file arrives as one
    whole-file micro-batch, parses through the batch plan
    (``sources.timdep._parse_timdep_lines`` — block fill-down +
    per-cell densification against the broadcast ``cells`` dim), and
    ``on_batch(parsed_df, batch_id)`` receives
    ``(file, cell_id, time, value)``. Checkpointed exactly-once file
    discovery, same as the HYCHAN stream. Returns the started query.
    """
    lines = spark.readStream.format("text").load(watch_dir)

    from curw_flo2d_data_manager_spark.sources.timdep import _parse_timdep_lines

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        tagged = batch_df.select(
            F.input_file_name().alias("file"),
            F.monotonically_increasing_id().alias("line_no"),
            "value",
        )
        parsed = _parse_timdep_lines(tagged, base_time, cells, drop_last_block)
        on_batch(parsed, batch_id)

    return _start(lines, _process, checkpoint, available_now)


def corpus_dedup_stream(
    spark: SparkSession,
    watch_dir: str,
    out_dir: str,
    schema: StructType | str,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint: str | None = None,
    available_now: bool = False,
):
    """File-arrival corpus ingest with INCREMENTAL exact dedup — the
    streaming twin of ``cli dedup-corpus --method exact``.

    New parquet files under ``watch_dir`` arrive as micro-batches.
    Each batch is deduplicated in two steps inside ``foreachBatch``:

    1. within-batch: keep the smallest id per normalized-text digest;
    2. against history: left-anti join the batch's digests against the
       digest ledger accumulated from all PREVIOUS batches.

    Survivors land under ``out_dir/docs/batch=<id>/`` and their
    digests under ``out_dir/digests/batch=<id>/``, both committed with
    one ``commit.replace_all``: a failed batch leaves both ledgers as
    they were, and a replay replaces the batch's directories whole, so
    a crashed-and-retried micro-batch converges to the same files
    (idempotent; with checkpointed file discovery this is end-to-end
    exactly-once). The ledger read excludes the current batch id for
    the same reason: a replay of a batch whose commit landed must not
    see its own output.

    Scale shape: the anti-join shuffles 32-byte digests, never text;
    the ledger is digest-only parquet, so history grows by hash count,
    not corpus bytes. At very large history, compact the ledger dir
    between runs with ``TimeseriesStore.compact_data(spark,
    ledger_dir, partition_prefix="batch=", sort_cols=("digest",))`` —
    per-batch directories stay intact (replay identity and the
    current-batch exclusion filter are untouched), each just collapses
    to ceil(bytes/target) sorted files. Proved by the 3-wave
    compact-between-waves case in ``tests/test_streaming.py``.

    Returns the started ``StreamingQuery``.
    """
    import os

    from curw_flo2d_data_manager_spark.operators.textstats import normalize_text

    _require_local(out_dir, "out_dir")
    stream = spark.readStream.schema(schema).parquet(watch_dir)
    docs_root = os.path.join(out_dir, "docs")
    ledger_root = os.path.join(out_dir, "digests")

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        digested = batch_df.withColumn(
            "_digest", F.sha2(normalize_text(text_col), 256)
        )
        w_first = (
            digested.groupBy("_digest").agg(F.min(id_col).alias("_keep_id"))
        )
        local = digested.join(
            w_first,
            (digested["_digest"] == w_first["_digest"])
            & (digested[id_col] == w_first["_keep_id"]),
        ).select(digested["*"])
        seen = commit.read_parquet(batch_df.sparkSession, ledger_root)
        if seen is not None:  # None: first batch, no ledger yet
            seen = seen.filter(F.col("batch") != batch_id).select("digest")
            local = local.join(seen, local["_digest"] == seen["digest"], "left_anti")
        # both outputs write from one evaluation: the ledger probe runs
        # once, and the docs and their digests are the same survivors
        fresh = local.localCheckpoint(eager=True)
        commit.replace_all([
            (
                os.path.join(docs_root, f"batch={batch_id}"),
                fresh.drop("_digest").write.parquet,
            ),
            (
                os.path.join(ledger_root, f"batch={batch_id}"),
                fresh.select(
                    F.col("_digest").alias("digest"), F.lit(batch_id).alias("batch")
                ).write.parquet,
            ),
        ])

    return _start(stream, _process, checkpoint, available_now)


def corpus_quality_stream(
    spark: SparkSession,
    watch_dir: str,
    out_dir: str,
    schema: StructType | str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 5,
    max_punct_ratio: float = 0.2,
    checkpoint: str | None = None,
    available_now: bool = False,
):
    """File-arrival QUALITY-GATED corpus ingest: each micro-batch is
    scored with the JVM-side quality signals (whitespace word count,
    punctuation ratio — pure Column expressions, no Python in the
    scan) and routed to ``out_dir/accepted/batch=<id>/`` or the
    dead-letter ``out_dir/rejected/batch=<id>/``; rejected rows carry
    their measurements so the reject stream is auditable, accepted
    rows come through unchanged. A batch commits both directories with
    one ``commit.replace_all`` and a replay replaces them whole, so
    with checkpointed file discovery a crashed-and-retried micro-batch
    converges to the same files — end-to-end exactly-once, same
    idempotence argument as ``corpus_dedup_stream``.

    Scale shape: stateless per batch (no ledger, no watermark state);
    one scan per batch, the accepted/rejected split reuses the scored
    relation via persist. Returns the started ``StreamingQuery``.
    """
    import os

    from curw_flo2d_data_manager_spark.operators.textstats import (
        punctuation_ratio,
        whitespace_token_count,
    )

    _require_local(out_dir, "out_dir")
    stream = spark.readStream.schema(schema).parquet(watch_dir)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        scored = (
            batch_df.withColumn("n_words", whitespace_token_count(text_col))
            .withColumn(
                "punct_ratio", F.round(punctuation_ratio(text_col), 6)
            )
            .withColumn(
                "_ok",
                (F.col("n_words") >= min_words)
                & (F.col("punct_ratio") <= max_punct_ratio),
            )
            .persist()
        )
        try:
            commit.replace_all([
                (
                    os.path.join(out_dir, "accepted", f"batch={batch_id}"),
                    scored.filter("_ok").drop("n_words", "punct_ratio", "_ok").write.parquet,
                ),
                (
                    os.path.join(out_dir, "rejected", f"batch={batch_id}"),
                    scored.filter("NOT _ok").drop("_ok").write.parquet,
                ),
            ])
        finally:
            scored.unpersist()

    return _start(stream, _process, checkpoint, available_now)


def corpus_neardup_stream(
    spark: SparkSession,
    watch_dir: str,
    out_dir: str,
    schema: StructType | str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    checkpoint: str | None = None,
    available_now: bool = False,
    max_bucket_size: int | None = 2000,
):
    """File-arrival corpus ingest with INCREMENTAL NEAR-duplicate
    dedup — the fuzzy twin of ``corpus_dedup_stream``: instead of a
    digest ledger, history keeps each admitted document's MinHash
    SIGNATURE plus its LSH band keys, so later batches can drop
    near-copies of documents whose text is long gone.

    Per micro-batch inside ``foreachBatch``:

    1. within-batch: ``dedup.minhash_lsh_pairs`` (exact-Jaccard verify
       — the batch still has its text), smallest id wins;
    2. against history: the batch's band keys equi-join the band
       ledger (never a batch×history product), candidates verify by
       SIGNATURE agreement — the fraction of matching minhash
       components estimates Jaccard (unbiased, exact 1.0 for identical
       shingle sets), which is the standard memory-bounded choice when
       history keeps ~256 B of signature per document instead of its
       text. ``threshold=1.0`` therefore means "identical shingle set"
       EXACTLY (deterministic), while fuzzier thresholds trade the
       estimator's variance for storage.

    Survivors land under ``out_dir/docs/batch=<id>/``, their band
    rows under ``out_dir/bands/batch=<id>/`` and signatures under
    ``out_dir/sigs/batch=<id>/``, all three committed with one
    ``commit.replace_all`` — replay-idempotent, same exactly-once
    argument as the exact stream.
    Scale shape: band join shuffles (band_idx, band_hash) keys only;
    the signature join moves num_hashes longs per CANDIDATE, not per
    document. ``max_bucket_size`` applies minhash_lsh_pairs' hot-bucket
    cap to the LEDGER side of the cross-batch probe: the
    all-shared-shingle band value accumulates one unbounded bucket
    over the stream's lifetime, and batch×history candidates from it
    grow quadratically in stream length (the round-14 lesson — bucket
    size is one hash realization away from pathological; the cap is a
    cost invariant, not tuning). Identical-set duplicates collide in
    EVERY band, so a capped bucket cannot hide an exact near-copy
    unless all ``bands`` of its band values are simultaneously hot.
    Returns the started ``StreamingQuery``.
    """
    import os

    from curw_flo2d_data_manager_spark.operators.caching import (
        cache_mark,
        release_caches_since,
    )
    from curw_flo2d_data_manager_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signature,
        with_shingle_hashes,
    )

    _require_local(out_dir, "out_dir")
    rows_per_band = num_hashes // bands
    stream = spark.readStream.schema(schema).parquet(watch_dir)
    bands_root = os.path.join(out_dir, "bands")
    sigs_root = os.path.join(out_dir, "sigs")

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        bspark = batch_df.sparkSession
        # scoped release: free only the caches THIS micro-batch
        # persists (inside minhash_lsh_pairs), never intermediates a
        # co-resident operator tracked in the shared session ledger.
        cache_base = cache_mark()
        # hashed shingles — MUST stay construction-identical to
        # minhash_lsh_pairs' signature path: the cross-batch band
        # ledger compares these signatures against within-batch ones.
        sig = (
            with_shingle_hashes(batch_df, text_col, "_shh", shingle_n)
            .withColumn("_sig", minhash_signature(F.col("_shh"), num_hashes))
            .drop("_shh")
            .persist()
        )
        banded = sig.select(
            F.col(id_col).alias("_bid"),
            "_sig",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.struct(
                        b.alias("band_idx"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                F.slice(F.col("_sig"), b * rows_per_band + 1, rows_per_band),
                            )
                        ).alias("band_hash"),
                    ),
                )
            ).alias("_b"),
        ).select("_bid", "_sig", "_b.band_idx", "_b.band_hash")

        # within-batch (exact verify over the batch's own text)
        within = minhash_lsh_pairs(
            batch_df, id_col, text_col,
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n,
            jaccard_threshold=threshold,
        ).select(F.col("id_b").alias("_drop")).distinct()

        # against the signature ledger (None: first batch, no ledger yet)
        hist_bands = commit.read_parquet(bspark, bands_root)
        hist_sigs = commit.read_parquet(bspark, sigs_root)
        if hist_bands is None or hist_sigs is None:
            drops = within
        else:
            hist_bands = hist_bands.filter(F.col("batch") != batch_id)
            if max_bucket_size is not None:
                # Exclude over-cap buckets via aggregate + broadcast
                # anti-join rather than a window count: the window
                # shuffles and sorts the FULL history rows every
                # batch, while the aggregate moves only (band_idx,
                # band_hash) keys with map-side combine and the
                # overflow list is tiny (the handful of all-shared-
                # minima mega-buckets) — the O(ledger) term stays a
                # plain scan instead of a sort shuffle as the stream's
                # history grows. Same rows excluded either way.
                over_cap = (
                    hist_bands.groupBy("band_idx", "band_hash")
                    .agg(F.count(F.lit(1)).alias("_bn"))
                    .filter(F.col("_bn") > max_bucket_size)
                    .select("band_idx", "band_hash")
                )
                hist_bands = hist_bands.join(
                    F.broadcast(over_cap),
                    ["band_idx", "band_hash"],
                    "left_anti",
                )
            hist_sigs = hist_sigs.filter(F.col("batch") != batch_id)
            cand = (
                banded.join(hist_bands, ["band_idx", "band_hash"])
                .select("_bid", "_sig", F.col("hist_id"))
                .distinct()
                .join(hist_sigs, "hist_id")
            )
            est = (
                F.size(
                    F.filter(
                        F.zip_with(
                            F.col("_sig"), F.col("hist_sig"), lambda a, b: a == b
                        ),
                        lambda x: x,
                    )
                )
                / F.lit(float(num_hashes))
            )
            dominated = (
                cand.withColumn("_est", est)
                .filter(F.col("_est") >= threshold)
                .select(F.col("_bid").alias("_drop"))
                .distinct()
            )
            drops = within.unionByName(dominated).distinct()

        # the three outputs write from one evaluation: the ledger probe
        # runs once, and docs, bands and sigs hold the same survivors
        survivors = sig.join(
            drops, sig[id_col] == drops["_drop"], "left_anti"
        ).localCheckpoint(eager=True)
        surv_banded = banded.join(
            survivors.select(F.col(id_col).alias("_keep")),
            banded["_bid"] == F.col("_keep"),
        )
        commit.replace_all([
            (
                os.path.join(out_dir, "docs", f"batch={batch_id}"),
                survivors.drop("_sig").write.parquet,
            ),
            (
                os.path.join(bands_root, f"batch={batch_id}"),
                surv_banded.select(
                    "band_idx", "band_hash", F.col("_bid").alias("hist_id"),
                    F.lit(batch_id).alias("batch"),
                ).write.parquet,
            ),
            (
                os.path.join(sigs_root, f"batch={batch_id}"),
                survivors.select(
                    F.col(id_col).alias("hist_id"), F.col("_sig").alias("hist_sig"),
                    F.lit(batch_id).alias("batch"),
                ).write.parquet,
            ),
        ])
        release_caches_since(cache_base)
        sig.unpersist()

    return _start(stream, _process, checkpoint, available_now)


def corpus_decontam_stream(
    spark: SparkSession,
    watch_dir: str,
    out_dir: str,
    schema: StructType | str,
    blocklist: DataFrame,
    key_col: str | None = None,
    text_col: str = "text",
    m_bits: int = 1 << 20,
    k: int = 5,
    checkpoint: str | None = None,
    available_now: bool = False,
):
    """File-arrival corpus ingest with BLOCKLIST decontamination: every
    micro-batch drops rows whose fingerprint appears in a static
    blocklist corpus (benchmark sets, already-trained shards), routing
    survivors to ``out_dir/accepted/batch=<id>/`` and the blocked rows
    to the auditable ``out_dir/blocked/batch=<id>/``.

    The Bloom blob over the blocklist is built ONCE when the stream is
    wired (``dedup.bloom_build`` — distributed aggregation, only the
    m/8-byte blob reaches the driver) and is then a plan literal in
    every micro-batch: the probe is map-side, no per-batch blocklist
    scan on the clean path, and only the candidate sliver (true
    matches + ~0.1% false positives at the default sizing) joins the
    blocklist for the exact verify. ``key_col=None`` fingerprints rows
    as ``md5(text_col)`` on both sides.

    A batch commits both directories with one ``commit.replace_all``
    and a replay replaces them whole, so with checkpointed file
    discovery a crashed-and-retried micro-batch converges to the same
    files — exactly-once, same argument as ``corpus_quality_stream``.
    Returns the started ``StreamingQuery``.
    """
    import os

    from curw_flo2d_data_manager_spark.operators.dedup import (
        bloom_build,
        bloom_might_contain,
    )

    _require_local(out_dir, "out_dir")

    def keyed(df: DataFrame) -> tuple[DataFrame, str]:
        if key_col is not None:
            return df, key_col
        return df.withColumn("_fp", F.md5(F.col(text_col))), "_fp"

    blk, bkey = keyed(blocklist)
    blk_keys = blk.select(F.col(bkey).alias("_blk_key")).distinct()
    blob = bloom_build(blk_keys, "_blk_key", m_bits=m_bits, k=k)

    stream = spark.readStream.schema(schema).parquet(watch_dir)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        probed, ckey = keyed(batch_df)
        probed = probed.withColumn(
            "_hit", bloom_might_contain(blob, F.col(ckey), m_bits, k=k)
        ).persist()
        try:
            clean = probed.filter(~F.col("_hit"))
            sliver = probed.filter(F.col("_hit"))
            verified = sliver.join(
                blk_keys, sliver[ckey] == F.col("_blk_key"), "left_anti"
            )
            blocked = sliver.join(
                blk_keys, sliver[ckey] == F.col("_blk_key"), "left_semi"
            )
            drop = ["_hit"] + ([] if key_col is not None else ["_fp"])
            commit.replace_all([
                (
                    os.path.join(out_dir, "accepted", f"batch={batch_id}"),
                    clean.unionByName(verified).drop(*drop).write.parquet,
                ),
                (
                    os.path.join(out_dir, "blocked", f"batch={batch_id}"),
                    blocked.drop(*drop).write.parquet,
                ),
            ])
        finally:
            probed.unpersist()

    return _start(stream, _process, checkpoint, available_now)


def streaming_pot(
    stream: DataFrame,
    threshold: float,
    gap: str = "1 hour",
    watermark: str = "1 hour",
    time_col: str = "time",
    value_col: str = "value",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Streaming peaks-over-threshold (twin of
    ``operators.extremes.peaks_over_threshold``): exceedances of
    ``threshold`` are clustered with a native ``session_window``
    whose gap IS the runs-declustering separation — a storm cluster
    is exactly a session of exceedances — and each closed session
    emits one row with the cluster's peak.

    The watermark must be set BEFORE the exceedance filter so quiet
    readings still advance event time (otherwise a dry spell would
    hold every open cluster hostage). State is one open cluster per
    key currently in storm — bounded by key cardinality, the right
    shape for a 100 TB/day gauge feed.
    """
    keys = list(group_cols or [])
    return (
        stream.withWatermark(time_col, watermark)
        .filter(F.col(value_col) > F.lit(threshold))
        .groupBy(*keys, F.session_window(time_col, gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_exceed"),
            F.max(value_col).alias("peak_value"),
        )
        .select(
            *keys,
            F.col("w.start").alias("cluster_start"),
            "n_exceed",
            "peak_value",
        )
    )


_CUSUM_STATE = StructType(
    [
        StructField("p", DoubleType(), True),
        StructField("min_p", DoubleType(), True),
        StructField("n", DoubleType(), True),
        StructField("max_n", DoubleType(), True),
    ]
)
_CUSUM_OUT = StructType(
    [
        StructField("id", StringType(), False),
        StructField("time", TimestampType(), False),
        StructField("value", DoubleType(), True),
        StructField("cusum_pos", DoubleType(), True),
        StructField("cusum_neg", DoubleType(), True),
    ]
)


def streaming_cusum(
    stream: DataFrame, target: float, slack: float
) -> DataFrame:
    """Two-sided CUSUM across micro-batches (streaming twin of
    ``operators.extremes.cusum_drift``, streaming W-family).

    State per series is FOUR scalars — the prefix sums and their
    running extrema (the same prefix-scan identity the batch operator
    uses: ``s+ = P − min(0, min P)``), so a year-long series costs
    the same state as a day. Within a batch rows are ordered by
    event time (cross-batch order is arrival order, the streaming
    contract, matching ``streaming_cumulative_sum``).
    """
    import numpy as np

    def _fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            p, min_p, n, max_n = state.get
        else:
            p, min_p, n, max_n = 0.0, 0.0, 0.0, 0.0
        for pdf in batches:
            pdf = pdf.sort_values("time")
            x = pdf["value"].astype(float)
            pref_p = p + (x - target - slack).cumsum()
            pref_n = n + (x - target + slack).cumsum()
            runmin = np.minimum(np.minimum.accumulate(pref_p), min_p)
            runmax = np.maximum(np.maximum.accumulate(pref_n), max_n)
            pos = pref_p - runmin
            neg = runmax - pref_n
            if len(x):
                p = float(pref_p.iloc[-1])
                min_p = float(runmin.iloc[-1])
                n = float(pref_n.iloc[-1])
                max_n = float(runmax.iloc[-1])
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "time": pdf["time"],
                    "value": pdf["value"],
                    "cusum_pos": pos,
                    "cusum_neg": neg,
                }
            )
        state.update((p, min_p, n, max_n))

    return stream.groupBy("id").applyInPandasWithState(
        _fn,
        outputStructType=_CUSUM_OUT,
        stateStructType=_CUSUM_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_hot_terms(
    stream: DataFrame,
    min_count: int = 5,
    window: str = "1 hour",
    watermark: str = "1 minute",
    time_col: str = "time",
    text_col: str = "text",
) -> DataFrame:
    """Watermarked hot-term detection: the trending-terms / poisoned-
    phrase monitor for a streaming corpus ingest. Documents explode
    into whitespace tokens (the SAME JVM-side tokenizer as every batch
    text operator, so batch and streaming counts agree term-for-term),
    counts aggregate per (event-time tumbling window, term), and a
    window's heavy hitters — terms with ``n >= min_count`` — emit once
    the watermark closes the window (``outputMode("append")``).

    Scale shape: the explode multiplies rows INSIDE the micro-batch,
    where the windowed aggregation's partial (map-side) combine
    collapses them to distinct (window, term) partials before the
    shuffle; streaming state holds one counter per open-window term —
    bounded by the watermark horizon — never raw tokens or documents.
    The ``min_count`` gate is a stateless filter above the stateful
    aggregate, so it costs nothing extra and emitted rows are final.
    """
    from curw_flo2d_data_manager_spark.operators.textstats import words

    toks = (
        stream.withWatermark(time_col, watermark)
        .select(time_col, F.explode(words(text_col)).alias("term"))
        .filter(F.col("term") != "")
    )
    return (
        toks.groupBy(F.window(time_col, window).alias("w"), "term")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
        .select(F.col("w.start").alias("window_start"), "term", "n")
    )


def streaming_attribution_join(
    stream: DataFrame,
    left_type: str,
    right_type: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    type_col: str = "event_type",
    key_col: str = "id",
    time_col: str = "time",
    id_col: str = "event_id",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: every ``right_type`` event is
    attributed to each ``left_type`` event of the same key whose
    timestamp precedes it by at most ``gap`` (view→purchase
    attribution, trigger→alert correlation). Both sides are filtered
    views of ONE input stream — Spark treats them as two streams, so
    this is the full stream-stream inner-join machinery, the one
    Structured Streaming shape the other eleven streams don't cover.

    Scale shape: both sides carry a ``watermark`` and the join has
    both an equi-key (state co-partitions on it — the shuffle key) and
    a closed time-range condition, so each side's buffered state is
    bounded by the watermark horizon per key, not by stream length;
    without the range bound Spark would buffer the right side forever.
    Inner-join matches emit as soon as both rows have arrived (no
    watermark wait); the watermark only evicts state.

    ``how='left_outer'`` changes the semantics qualitatively: an
    unmatched left row can only be DECLARED unmatched once the
    watermark has passed its whole match window, so null-extended rows
    emit on watermark advancement, not on arrival — the streaming
    analogue of an anti-join needs the event-time clock to move past
    the row (callers replaying finite data append far-future sentinel
    rows to push it there; see the ``stream_join_unmatched`` query).

    Returns (key, left_id, left_time, right_id, right_time);
    right columns are NULL for watermark-closed unmatched left rows.
    """
    left = (
        stream.filter(F.col(type_col) == left_type)
        .select(
            F.col(key_col).alias("l_key"),
            F.col(time_col).alias("l_time"),
            F.col(id_col).alias("left_id"),
        )
        .withWatermark("l_time", watermark)
    )
    right = (
        stream.filter(F.col(type_col) == right_type)
        .select(
            F.col(key_col).alias("r_key"),
            F.col(time_col).alias("r_time"),
            F.col(id_col).alias("right_id"),
        )
        .withWatermark("r_time", watermark)
    )
    joined = left.join(
        right,
        F.expr(
            f"l_key = r_key AND r_time >= l_time "
            f"AND r_time <= l_time + interval {gap}"
        ),
        how,
    )
    return joined.select(
        F.col("l_key").alias(key_col),
        "left_id",
        F.col("l_time").alias("left_time"),
        "right_id",
        F.col("r_time").alias("right_time"),
    )


def streaming_windowed_distinct(
    stream: DataFrame,
    window: str = "6 hours",
    watermark: str = "1 hour",
    time_col: str = "time",
    id_col: str = "id",
) -> DataFrame:
    """EXACT distinct-id count per tumbling event-time window — the
    "unique users per window" metric computed exactly (not HLL) by
    CHAINING two stateful operators: a watermark-evicted dedup on
    (window bucket, id) feeding a windowed count. Chained stateful
    operators are the one Structured Streaming shape the other
    seventeen streams don't exercise (Spark supports dedup →
    time-window aggregation since 3.5).

    The dedup key uses the window START (a derived column), so its
    state must be evicted by ``dropDuplicatesWithinWatermark`` — plain
    dropDuplicates only evicts when the raw event-time column itself
    is part of the key. State per open window = one row per distinct
    id (the exactness cost; HLL is the approximate alternative at
    extreme cardinality), bounded by the watermark horizon.

    Counts emit on watermark passage (append mode) — finite replays
    need a far-future sentinel row to flush the last real window.
    Returns (wstart_s, n_ids): epoch-second window start + exact
    distinct count.
    """
    w = stream.withWatermark(time_col, watermark)
    bucketed = w.select(
        F.col(time_col),
        F.window(time_col, window).getField("start").alias("_wstart"),
        F.col(id_col).alias("_id"),
    )
    dedup = bucketed.dropDuplicatesWithinWatermark(["_wstart", "_id"])
    return (
        dedup.groupBy(F.window(time_col, window).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_ids"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("wstart_s"),
            "n_ids",
        )
    )
