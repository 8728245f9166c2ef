"""Structured Streaming ingest tests (availableNow micro-batching over
file sources, memory sinks for assertions)."""

from datetime import datetime

import pytest

from curw_flo2d_data_manager_spark.streaming import (
    foreach_batch_upsert,
    read_series_stream,
    streaming_cumulative_sum,
    streaming_resample_sum,
)


def _write_series(spark, path, rows):
    spark.createDataFrame(
        [(i, datetime.fromisoformat(t), v) for i, t, v in rows],
        "id string, time timestamp, value double",
    ).coalesce(1).write.mode("append").parquet(path)


@pytest.fixture()
def series_dir(spark, tmp_path):
    p = str(tmp_path / "series")
    _write_series(
        spark,
        p,
        [
            ("a", "2024-01-01 00:05:00", 1.0),
            ("a", "2024-01-01 00:10:00", 2.0),
            ("a", "2024-01-01 00:20:00", 4.0),
            ("b", "2024-01-01 00:15:00", 10.0),
        ],
    )
    return p


def _run_to_memory(df, name, mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_streaming_resample_matches_batch_buckets(spark, series_dir):
    stream = read_series_stream(spark, series_dir)
    agg = streaming_resample_sum(stream, 15, group_cols=["id"])
    _run_to_memory(agg, "resampled", "update")
    rows = {
        (r.id, r.time.isoformat(), r.value)
        for r in spark.sql("select * from resampled").collect()
    }
    # right-closed buckets: 00:05,00:10,00:15 -> 00:15; 00:20 -> 00:30
    assert ("a", "2024-01-01T00:15:00", 3.0) in rows
    assert ("a", "2024-01-01T00:30:00", 4.0) in rows
    assert ("b", "2024-01-01T00:15:00", 10.0) in rows


def test_streaming_cumulative_sum_state_carries(spark, series_dir):
    stream = read_series_stream(spark, series_dir)
    cum = streaming_cumulative_sum(stream)
    _run_to_memory(cum, "cums", "append")
    got = {
        (r.id, r.time.isoformat()): r.cum_value
        for r in spark.sql("select * from cums").collect()
    }
    assert got[("a", "2024-01-01T00:05:00")] == 1.0
    assert got[("a", "2024-01-01T00:10:00")] == 3.0
    assert got[("a", "2024-01-01T00:20:00")] == 7.0
    assert got[("b", "2024-01-01T00:15:00")] == 10.0


def test_foreach_batch_upsert_idempotent(spark, tmp_path, series_dir):
    target = str(tmp_path / "target")
    ckpt1 = str(tmp_path / "ckpt1")
    stream = read_series_stream(spark, series_dir)
    q = foreach_batch_upsert(
        stream, target, keys=["id", "time"], checkpoint=ckpt1, available_now=True
    )
    q.awaitTermination(120)
    q.stop()
    first = spark.read.parquet(target).count()
    assert first == 4

    # re-stream the same files through a fresh checkpoint: merge keeps
    # the relation keyed — no duplicate (id, time) rows appear
    ckpt2 = str(tmp_path / "ckpt2")
    stream2 = read_series_stream(spark, series_dir)
    q2 = foreach_batch_upsert(
        stream2, target, keys=["id", "time"], checkpoint=ckpt2, available_now=True
    )
    q2.awaitTermination(120)
    q2.stop()
    df = spark.read.parquet(target)
    assert df.count() == 4
    assert df.select("id", "time").distinct().count() == 4


def test_foreach_batch_upsert_rejects_schema_mismatch_and_keeps_target(
    spark, tmp_path, series_dir
):
    """A micro-batch with a column the target lacks fails the query
    with an error naming that column, and the target keeps its files
    and rows instead of being replaced by the one-row batch."""
    import os

    from pyspark.errors import StreamingQueryException
    from pyspark.sql.types import IntegerType, StructField, StructType

    from curw_flo2d_data_manager_spark.streaming.ingest import SERIES_SCHEMA

    def snapshot(path):
        return {n: open(os.path.join(path, n), "rb").read() for n in sorted(os.listdir(path))}

    target = str(tmp_path / "target")
    q = foreach_batch_upsert(
        read_series_stream(spark, series_dir), target, keys=["id", "time"],
        checkpoint=str(tmp_path / "ckpt1"), available_now=True,
    )
    q.awaitTermination(120)
    q.stop()
    files, rows = snapshot(target), sorted(spark.read.parquet(target).collect())
    assert len(rows) == 4

    wider = StructType(SERIES_SCHEMA.fields + [StructField("flag", IntegerType())])
    extra = str(tmp_path / "extra")
    spark.createDataFrame(
        [("a", datetime(2024, 1, 1, 0, 30), 8.0, 1)], wider
    ).coalesce(1).write.parquet(extra)
    q = foreach_batch_upsert(
        read_series_stream(spark, extra, schema=wider), target, keys=["id", "time"],
        checkpoint=str(tmp_path / "ckpt2"), available_now=True,
    )
    with pytest.raises(StreamingQueryException, match="payload column 'flag'"):
        q.awaitTermination(120)
    q.stop()

    assert snapshot(target) == files
    assert sorted(spark.read.parquet(target).collect()) == rows


def test_streams_reject_remote_output_paths_when_wired(spark, tmp_path, series_dir):
    """Stream outputs are committed with local renames, so a
    ``scheme://`` output fails on the driver, naming the parameter,
    before any query starts."""
    from curw_flo2d_data_manager_spark.streaming.ingest import corpus_dedup_stream

    with pytest.raises(ValueError, match="out_dir"):
        corpus_dedup_stream(spark, str(tmp_path), "s3a://bucket/out", "doc_id long, text string")
    with pytest.raises(ValueError, match="target_path"):
        foreach_batch_upsert(
            read_series_stream(spark, series_dir), "hdfs://nn/target", ["id", "time"],
            str(tmp_path / "ckpt"),
        )
    assert not spark.streams.active


def test_watermark_finalizes_once_and_drops_late_rows(spark, tmp_path):
    """End-to-end late-data semantics in append mode, three
    micro-batches (one file each): batch 1 advances the watermark,
    batch 2's end finalizes + evicts the first bucket, batch 3
    delivers a row for the evicted bucket — it must be DROPPED
    (numRowsDroppedByWatermark), never resurrecting the finalized
    bucket. Requires the watermark annotation on the grouping key,
    which streaming_resample_sum's watermark-on-the-bucket-column
    form provides — watermarking the raw event time and grouping by
    the derived bucket loses the annotation, so append mode would
    emit nothing and state would grow without bound."""
    import time
    import uuid
    from datetime import datetime

    from curw_flo2d_data_manager_spark.streaming import (
        read_series_stream,
        streaming_resample_sum,
    )

    src = str(tmp_path / "src")
    T = lambda h, m=0: datetime(2024, 1, 1, h, m)  # noqa: E731
    batches = [
        [("s", T(0, 5), 1.0), ("s", T(3, 5), 10.0)],  # wm -> 02:45
        [("s", T(4, 0), 7.0)],                        # evicts bucket 00:15; wm -> 03:30
        [("s", T(0, 7), 100.0)],                      # late for evicted bucket
    ]
    for rows in batches:
        spark.createDataFrame(
            rows, "id string, time timestamp, value double"
        ).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.2)  # stable file mtime order = batch order

    name = "wm_" + uuid.uuid4().hex[:8]
    agg = streaming_resample_sum(
        read_series_stream(spark, src, options={"maxFilesPerTrigger": "1"}),
        15,
        watermark="30 minutes",
        group_cols=["id"],
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    progress = [
        (
            p["stateOperators"][0]["numRowsDroppedByWatermark"],
            p["stateOperators"][0]["numRowsTotal"],
        )
        for p in q.recentProgress
        if p["stateOperators"]
    ]
    q.stop()

    rows = {(r.id, r.time): r.value for r in spark.table(name).collect()}
    # finalized buckets emitted exactly once, untainted by the late row
    assert rows == {("s", T(0, 15)): 1.0, ("s", T(3, 15)): 10.0}
    assert sum(d for d, _ in progress) == 1   # the 00:07 row was dropped
    assert progress[-1][1] <= 2               # state bounded (open buckets only)


def test_hychan_extract_stream_file_arrival(spark, tmp_path):
    """Files dropped into the watch dir arrive as whole-file
    micro-batches, parse through the batch plan, and checkpointed
    discovery processes each file exactly once across restarts."""
    from curw_flo2d_data_manager_spark.sources.hychan import parse_hychan
    from curw_flo2d_data_manager_spark.streaming import hychan_extract_stream

    watch = tmp_path / "watch"
    watch.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def _hychan_text(elements, rows=6):
        out = []
        for el in elements:
            out.append(f"     CHANNEL HYDROGRAPH FOR ELEMENT NO:   {el}")
            out.append("   TIME   ELEV   DEPTH   VEL   Q")
            for i in range(rows):
                out.append(
                    f"   {i * 0.25:.2f}   {10.0 + el * 0.01 + i * 0.001:.4f}"
                    f"   1.0   0.1   {50.0 + i:.2f}"
                )
        return "\n".join(out) + "\n"

    (watch / "run1.out").write_text(_hychan_text([100, 101]))

    got: list[tuple] = []

    def _collect(parsed, batch_id):
        got.extend(
            (r.file.rsplit("/", 1)[-1], r.element_no, str(r.time), r.value)
            for r in parsed.collect()
        )

    q = hychan_extract_stream(
        spark, str(watch), "2024-01-01 00:00:00", _collect,
        checkpoint=ckpt, available_now=True,
    )
    q.awaitTermination(120)
    q.stop()
    assert len(got) == 2 * 6
    # parity with the batch parser on the same file
    batch = sorted(
        (r.element_no, str(r.time), r.value)
        for r in parse_hychan(
            spark, str(watch / "run1.out"), "2024-01-01 00:00:00"
        ).collect()
    )
    assert sorted((e, t, v) for _, e, t, v in got) == batch

    # second file + restart from the same checkpoint: only the new
    # file is processed (exactly-once discovery)
    got.clear()
    (watch / "run2.out").write_text(_hychan_text([200], rows=6))
    q2 = hychan_extract_stream(
        spark, str(watch), "2024-01-01 00:00:00", _collect,
        checkpoint=ckpt, available_now=True,
    )
    q2.awaitTermination(120)
    q2.stop()
    assert {f for f, *_ in got} == {"run2.out"}
    assert len(got) == 6


def test_timdep_extract_stream_file_arrival(spark, tmp_path):
    """TIMDEP twin of the HYCHAN stream: whole-file micro-batch parses
    match the batch parser, including per-cell densification."""
    from curw_flo2d_data_manager_spark.sources.timdep import parse_timdep
    from curw_flo2d_data_manager_spark.streaming import timdep_extract_stream

    watch = tmp_path / "watch"
    watch.mkdir()
    (watch / "run1.out").write_text(
        "   0.00\n   24  1 2 3 4  5.0\n   0.50\n   24  1 2 3 4  6.0\n"
    )
    cells = spark.createDataFrame([("24",), ("153",)], "cell_id string")

    got: list[tuple] = []

    def _collect(parsed, batch_id):
        got.extend(
            (r.cell_id, str(r.time), r.value) for r in parsed.collect()
        )

    q = timdep_extract_stream(
        spark, str(watch), "2024-01-01 00:00:00", cells, _collect,
        checkpoint=str(tmp_path / "ckpt"), available_now=True,
    )
    q.awaitTermination(120)
    q.stop()

    batch = sorted(
        (r.cell_id, str(r.time), r.value)
        for r in parse_timdep(
            spark, str(watch / "run1.out"), "2024-01-01 00:00:00", cells
        ).collect()
    )
    assert sorted(got) == batch
    assert len(batch) == 4  # 2 blocks x 2 cells (153 densified NULL)


def test_corpus_dedup_stream_incremental_exact(spark, tmp_path):
    """Two waves of corpus files: within-wave and cross-wave verbatim
    duplicates are dropped, first occurrence (smallest id) wins, and a
    restart with the same checkpoint re-admits nothing."""
    from curw_flo2d_data_manager_spark.streaming.ingest import corpus_dedup_stream

    watch = tmp_path / "in"
    watch.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta words")],
        schema,
    ).coalesce(1).write.parquet(str(watch / "wave1"))

    q = corpus_dedup_stream(
        spark, str(watch / "*"), out, schema,
        checkpoint=ckpt, available_now=True,
    )
    q.awaitTermination(120)
    q.stop()

    spark.createDataFrame(
        [(4, "ALPHA  beta gamma!"),   # normalizes to a seen digest
         (5, "epsilon fresh text"),
         (6, "epsilon fresh text")],  # within-wave dup
        schema,
    ).coalesce(1).write.parquet(str(watch / "wave2"))

    q = corpus_dedup_stream(
        spark, str(watch / "*"), out, schema,
        checkpoint=ckpt, available_now=True,
    )
    q.awaitTermination(120)
    q.stop()

    docs = spark.read.parquet(f"{out}/docs")
    ids = sorted(r["doc_id"] for r in docs.collect())
    assert ids == [1, 3, 5]
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert texts[1] == "alpha beta gamma"

    # third run with nothing new: no re-admission, output unchanged
    q = corpus_dedup_stream(
        spark, str(watch / "*"), out, schema,
        checkpoint=ckpt, available_now=True,
    )
    q.awaitTermination(120)
    q.stop()
    assert sorted(r["doc_id"] for r in spark.read.parquet(f"{out}/docs").collect()) == [1, 3, 5]


def test_corpus_dedup_stream_ledger_compaction(spark, tmp_path):
    """Round-10 verdict item 8: compacting the digest ledger between
    waves (generalized ``compact_data`` with ``partition_prefix=
    "batch="``, ``sort_cols=("digest",)``) must lose nothing and
    readmit nothing — wave 3's cross-wave duplicates still drop
    against the compacted history, fresh docs still land, and the
    ledger's digest set is exactly preserved."""
    import glob

    from curw_flo2d_data_manager_spark.store import TimeseriesStore
    from curw_flo2d_data_manager_spark.streaming.ingest import (
        corpus_dedup_stream,
    )

    watch = tmp_path / "in"
    watch.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    def run_wave():
        q = corpus_dedup_stream(
            spark, str(watch / "*"), out, schema,
            checkpoint=ckpt, available_now=True,
        )
        q.awaitTermination(120)
        q.stop()

    spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta words")],
        schema,
    ).coalesce(1).write.parquet(str(watch / "wave1"))
    run_wave()
    spark.createDataFrame(
        [(4, "ALPHA  beta gamma!"), (5, "epsilon fresh text")],
        schema,
    ).coalesce(1).write.parquet(str(watch / "wave2"))
    run_wave()

    ledger = f"{out}/digests"
    before = {r["digest"] for r in spark.read.parquet(ledger).collect()}
    files_before = len(glob.glob(f"{ledger}/batch=*/*.parquet"))

    n = TimeseriesStore.compact_data(
        spark, ledger, partition_prefix="batch=", sort_cols=("digest",)
    )
    assert n >= 2  # one dir per micro-batch so far

    after = {r["digest"] for r in spark.read.parquet(ledger).collect()}
    files_after = len(glob.glob(f"{ledger}/batch=*/*.parquet"))
    assert after == before  # no loss, no invention
    assert files_after <= files_before
    assert files_after == n  # each batch dir collapsed to ONE file

    # wave 3: a dup of wave 1, a dup of wave 2, and one fresh doc —
    # the compacted ledger must still block both dups
    spark.createDataFrame(
        [(7, "alpha beta gamma"), (8, "epsilon fresh text"), (9, "novel nine")],
        schema,
    ).coalesce(1).write.parquet(str(watch / "wave3"))
    run_wave()

    docs = spark.read.parquet(f"{out}/docs")
    assert sorted(r["doc_id"] for r in docs.collect()) == [1, 3, 5, 9]
    final = {r["digest"] for r in spark.read.parquet(ledger).collect()}
    assert before < final and len(final) == len(before) + 1


def test_corpus_quality_stream_routes_and_replays(spark, tmp_path):
    """Two waves of quality-gated ingest: accepted + rejected exactly
    partition the input, rejected rows carry their measurements, and a
    restart with the same checkpoint changes nothing."""
    from curw_flo2d_data_manager_spark.streaming.ingest import (
        corpus_quality_stream,
    )

    watch = tmp_path / "in"
    watch.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    spark.createDataFrame(
        [(1, "six clean words of real content"),
         (2, "short"),                              # < 5 words
         (3, "!!! ??? ;;; ### $$$ %%% words here")],  # punct-heavy
        schema,
    ).coalesce(1).write.parquet(str(watch / "wave1"))

    def run():
        q = corpus_quality_stream(
            spark, str(watch / "*"), out, schema,
            min_words=5, max_punct_ratio=0.2,
            checkpoint=ckpt, available_now=True,
        )
        q.awaitTermination(120)
        q.stop()

    run()
    spark.createDataFrame(
        [(4, "another perfectly fine document with words")], schema
    ).coalesce(1).write.parquet(str(watch / "wave2"))
    run()

    acc = spark.read.parquet(f"{out}/accepted")
    rej = spark.read.parquet(f"{out}/rejected")
    assert sorted(r["doc_id"] for r in acc.collect()) == [1, 4]
    rej_rows = {r["doc_id"]: r for r in rej.collect()}
    assert set(rej_rows) == {2, 3}
    assert rej_rows[2]["n_words"] == 1  # measurements ride the dead letter
    assert rej_rows[3]["punct_ratio"] > 0.2
    # accepted rows pass through unchanged (plus the batch=<id>
    # partition directory surfacing as a column on read)
    assert sorted(acc.columns) == ["batch", "doc_id", "text"]

    run()  # nothing new: no re-admission anywhere
    assert sorted(r["doc_id"] for r in spark.read.parquet(f"{out}/accepted").collect()) == [1, 4]
    assert sorted(r["doc_id"] for r in spark.read.parquet(f"{out}/rejected").collect()) == [2, 3]


def test_corpus_neardup_stream_signature_ledger(spark, tmp_path):
    """Incremental NEAR-dup dedup: a cross-wave near-copy (one word
    appended) is dropped against the signature ledger even though the
    original's text is gone; within-batch copies drop too; restart
    with the same checkpoint re-admits nothing."""
    from curw_flo2d_data_manager_spark.streaming.ingest import (
        corpus_neardup_stream,
    )

    watch = tmp_path / "in"
    watch.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"
    base = " ".join(f"w{i}" for i in range(60))

    def run():
        q = corpus_neardup_stream(
            spark, str(watch / "*"), out, schema,
            threshold=0.5, checkpoint=ckpt, available_now=True,
        )
        q.awaitTermination(120)
        q.stop()

    spark.createDataFrame(
        [(1, base), (2, "totally different words in this other document body")],
        schema,
    ).coalesce(1).write.parquet(str(watch / "wave1"))
    run()

    spark.createDataFrame(
        [(3, base + " extra"),             # near-copy of 1 (cross-wave)
         (4, "fresh unseen content with several more words"),
         (5, "fresh unseen content with several more words")],  # within-wave copy
        schema,
    ).coalesce(1).write.parquet(str(watch / "wave2"))
    run()

    ids = sorted(r["doc_id"] for r in
                 spark.read.parquet(f"{out}/docs").collect())
    assert ids == [1, 2, 4]

    run()  # replay with nothing new
    assert sorted(r["doc_id"] for r in
                  spark.read.parquet(f"{out}/docs").collect()) == [1, 2, 4]


def test_corpus_decontam_stream_blocks_and_replays(spark, tmp_path):
    """Blocklist decontamination across waves: blocklisted texts land
    in the blocked sink with full audit rows, everything else is
    accepted unchanged, an adversarially tiny Bloom (guaranteed false
    positives) never changes the decision, and replay with the same
    checkpoint is idempotent."""
    from curw_flo2d_data_manager_spark.streaming.ingest import (
        corpus_decontam_stream,
    )

    watch = tmp_path / "in"
    watch.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"
    blocklist = spark.createDataFrame(
        [(f"blocked body {i}",) for i in range(30)], "text string"
    )

    def run():
        q = corpus_decontam_stream(
            spark, str(watch / "*"), out, schema, blocklist,
            m_bits=64, k=2,  # tiny on purpose: force false positives
            checkpoint=ckpt, available_now=True,
        )
        q.awaitTermination(120)
        q.stop()

    spark.createDataFrame(
        [(1, "clean one"), (2, "blocked body 3"), (3, "clean two")], schema
    ).coalesce(1).write.parquet(str(watch / "wave1"))
    run()
    spark.createDataFrame(
        [(4, "blocked body 17"), (5, "clean three")], schema
    ).coalesce(1).write.parquet(str(watch / "wave2"))
    run()

    acc = sorted(r["doc_id"] for r in spark.read.parquet(f"{out}/accepted").collect())
    blk = sorted(r["doc_id"] for r in spark.read.parquet(f"{out}/blocked").collect())
    assert acc == [1, 3, 5] and blk == [2, 4]
    # accepted rows: original columns + the batch provenance partition;
    # no probe/fingerprint helper columns leak through
    assert set(spark.read.parquet(f"{out}/accepted").columns) == {
        "doc_id", "text", "batch",
    }

    run()  # replay: nothing new, same outputs
    assert sorted(r["doc_id"] for r in
                  spark.read.parquet(f"{out}/accepted").collect()) == [1, 3, 5]


def test_streaming_hot_terms_window_close_and_threshold(spark, tmp_path):
    """Hot-term emission across micro-batches in append mode: batch 1
    fills the 00:00 window (one term over threshold, one under),
    batch 2's far-future doc advances the watermark and closes it —
    only the over-threshold term emits, counted across documents, and
    the open far-future window stays unemitted."""
    import time
    import uuid
    from datetime import datetime

    from pyspark.sql.types import (
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from curw_flo2d_data_manager_spark.streaming import (
        read_series_stream,
        streaming_hot_terms,
    )

    schema = StructType(
        [
            StructField("time", TimestampType(), True),
            StructField("text", StringType(), True),
        ]
    )
    src = str(tmp_path / "src")
    T = lambda h, m=0: datetime(2024, 1, 1, h, m)  # noqa: E731
    batches = [
        # "spam" x3 across two docs (>= 3); "rare" x2 (< 3); the
        # tokenizer lowercases + strips punctuation, so "Spam!"
        # counts toward spam
        [(T(0, 5), "Spam! spam rare"), (T(0, 40), "spam rare")],
        [(T(6, 0), "later doc")],  # watermark -> past the 00:00 window
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(1.2)

    name = "hot_" + uuid.uuid4().hex[:8]
    q = (
        streaming_hot_terms(
            read_series_stream(
                spark, src, schema=schema,
                options={"maxFilesPerTrigger": "1"},
            ),
            min_count=3,
            window="1 hour",
            watermark="1 minute",
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    q.stop()

    got = {
        (r.window_start, r.term): r.n for r in spark.table(name).collect()
    }
    assert got == {(T(0), "spam"): 3}


def test_streaming_attribution_join_interval_and_key_semantics(spark, tmp_path):
    """Stream-stream interval join: purchases match each same-user
    view within the closed 30-minute window — boundary hits (exactly
    0 and exactly 30 min) included, 31 min and other-user purchases
    excluded, two views inside the window both matched. The two sides
    are filtered views of ONE replayed source, exercising Spark's
    full stream-stream join machinery."""
    import uuid
    from datetime import datetime, timedelta

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from curw_flo2d_data_manager_spark.streaming import (
        read_series_stream,
        streaming_attribution_join,
    )

    schema = StructType([
        StructField("id", StringType()),
        StructField("time", TimestampType()),
        StructField("event_type", StringType()),
        StructField("event_id", LongType()),
    ])
    t0 = datetime(2024, 1, 1, 12, 0)
    m = lambda k: t0 + timedelta(minutes=k)  # noqa: E731
    rows = [
        ("u1", m(0), "view", 1),
        ("u1", m(10), "view", 2),
        ("u1", m(10), "purchase", 100),   # matches views 1 (10m) and 2 (0m)
        ("u1", m(30), "purchase", 101),   # matches 1 (exactly 30m) and 2
        ("u1", m(41), "purchase", 102),   # 41m/31m after views: no match
        # u2: purchase at m(5) matches view 4 (same instant, closed
        # bound) but NOT view 3 (purchase precedes it), and never
        # crosses users into u1's views
        ("u2", m(5), "purchase", 200),
        ("u2", m(6), "view", 3),
        ("u2", m(5), "view", 4),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)

    name = "attrib_" + uuid.uuid4().hex[:8]
    q = (
        streaming_attribution_join(
            read_series_stream(spark, src, schema=schema),
            "view", "purchase", gap="30 minutes", watermark="2 hours",
        )
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    got = sorted(
        (r.id, r.left_id, r.right_id)
        for r in spark.table(name).collect()
    )
    assert got == [
        ("u1", 1, 100), ("u1", 1, 101),
        ("u1", 2, 100), ("u1", 2, 101),
        ("u2", 4, 200),
    ]


def test_streaming_attribution_join_left_outer_watermark_emission(spark, tmp_path):
    """Left-outer stream-stream join: a view with no in-window
    purchase emits null-extended ONLY after the watermark passes its
    match window (pushed by far-future sentinels); matched views never
    emit a null row; the sentinel's own open window stays unemitted
    within the replay's filtered view."""
    import uuid
    from datetime import datetime, timedelta

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from curw_flo2d_data_manager_spark.streaming import (
        read_series_stream,
        streaming_attribution_join,
    )

    schema = StructType([
        StructField("id", StringType()),
        StructField("time", TimestampType()),
        StructField("event_type", StringType()),
        StructField("event_id", LongType()),
    ])
    t0 = datetime(2024, 1, 1, 12, 0)
    m = lambda k: t0 + timedelta(minutes=k)  # noqa: E731
    rows = [
        ("u1", m(0), "view", 1),              # matched at +10
        ("u1", m(10), "purchase", 100),
        ("u1", m(20), "view", 2),             # purchase at +40 -> unmatched
        ("u1", m(60), "purchase", 101),
        ("u2", m(0), "view", 3),              # no purchases at all
        # sentinels push the watermark past every real window —
        # distinct keys so they can't match each other
        ("sv", m(24 * 60), "view", -1),
        ("sp", m(24 * 60), "purchase", -2),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)

    name = "unmatched_" + uuid.uuid4().hex[:8]
    q = (
        streaming_attribution_join(
            read_series_stream(spark, src, schema=schema),
            "view", "purchase", gap="30 minutes",
            watermark="10 minutes", how="left_outer",
        )
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    out = spark.table(name)
    matched = sorted(
        (r.id, r.left_id, r.right_id)
        for r in out.filter("right_id IS NOT NULL").collect()
    )
    unmatched = sorted(
        (r.id, r.left_id)
        for r in out.filter(
            "right_id IS NULL AND id NOT IN ('sv', 'sp')"
        ).collect()
    )
    assert matched == [("u1", 1, 100)]
    assert unmatched == [("u1", 2), ("u2", 3)]


def test_stream_queries_leave_no_output_dir(spark, sf_dir, tmp_path, monkeypatch):
    """Each ``stream_corpus_*`` registry query drains a stream into temp
    dirs; its result is readable after it returns, and no
    ``<prefix>_out_*`` dir is left behind."""
    import tempfile

    from curw_flo2d_data_manager_spark.queries import queries

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for name in (
        "stream_corpus_dedup",
        "stream_corpus_quality",
        "stream_corpus_neardup",
        "stream_corpus_decontam",
    ):
        assert queries()[name](spark, sf_dir).collect(), name
    assert sorted(p.name for p in tmp_path.glob("*_out_*")) == []
