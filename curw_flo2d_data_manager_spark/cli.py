"""CLI parity layer — SURVEY §7 step 7.

The reference ships 7+ standalone getopt scripts sharing one shape:
``parse flags → defaults/validation → extract → transform → render``
(e.g. input/raincell/gen_raincell.py:194-257). This module provides
the same entry points as subcommands over the Parquet-backed store:

    python -m curw_flo2d_data_manager_spark.cli gen-inflow \\
        --model flo2d_150_v2 --store /data/store --out INFLOW.DAT \\
        --start "2024-01-01 00:00:00" --end "2024-01-04 00:00:00"

Shared behaviors replicated from the reference:

* flag names mirror the reference's long options (``--model/-m``,
  ``--start_time/-s``, ``--end_time/-e``, ``--dir/-d``);
* grid-minute validation (F10 — gen_raincell.py:53-71: seconds must
  be :00 and minutes on the model's timestep grid);
* idempotence: existing output files are not regenerated (F9 —
  gen_raincell.py:246);
* a ``run_meta.json`` manifest merged read-modify-write next to every
  generated file (K6 — gen_raincell.py:17-32).

``main`` builds the one Spark session. Every output is committed
through ``commit``, so a failed run leaves the previous output in
place, and every parquet input is read through it (``_read_input``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from datetime import datetime

from curw_flo2d_data_manager_spark import commit

DATE_FMT = "%Y-%m-%d %H:%M:%S"

# The 17 FLO-2D input files archived for event simulations
# (reference: output/extract_water_level.py:27-29)
TEMPLATE_FILES = [
    "ARF.DAT", "CHAN.DAT", "HYSTRUC.DAT", "MANNINGS_N.DAT", "RAIN.DAT",
    "TOPO.DAT", "CADPTS.DAT", "CONT.DAT", "INFIL.DAT", "NEIGHBORS.DAT",
    "SUPPLEMENT.DAT", "XSEC.DAT", "CHANBANK.DAT", "FPLAIN.DAT",
    "INFLOW.DAT", "OUTFLOW.DAT", "TOLER.DAT",
]


def archive_templates(
    source_dir: str, out_name: str = "template", file_names: list[str] | None = None
) -> str:
    """K10 template archiver: tar.gz the FLO-2D input files for event
    sims (reference: output/extract_water_level.py:49-50,339-341 —
    shell `tar -cvzf`; here stdlib tarfile, no subshell). Driver-side
    job metadata, out of the data plane. Missing files are skipped
    (pinned semantics; the reference's tar would error noisily).
    Returns the archive path.
    """
    import tarfile

    names = file_names if file_names is not None else TEMPLATE_FILES

    def pack(tmp: str) -> None:
        with tarfile.open(tmp, "w:gz") as tar:
            for n in names:
                pth = os.path.join(source_dir, n)
                if os.path.exists(pth):
                    tar.add(pth, arcname=n)

    return commit.replace(os.path.join(source_dir, f"{out_name}.tar.gz"), pack)


def cmd_archive_templates(spark, args) -> None:
    out = archive_templates(args.source_dir, out_name=args.name)
    print(out)


# ------------------------------------------------------------- manifest
def merge_run_manifest(out_path: str, metadata: dict) -> str:
    """Read-merge-write ``run_meta.json`` beside ``out_path`` (K6).

    Last-writer-wins per key — the reference's dict-update semantics
    (gen_raincell.py:17-32; identical clones in every input script).
    """
    manifest_path = os.path.join(os.path.dirname(os.path.abspath(out_path)), "run_meta.json")
    merged: dict = {}
    try:
        with open(manifest_path) as f:
            merged = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        pass
    merged.update(metadata)
    return commit.replace(manifest_path, _json_writer(merged))


def _json_writer(obj):
    """A ``commit.replace`` writer that dumps ``obj`` as JSON."""

    def dump(tmp: str) -> None:
        with open(tmp, "w") as f:
            json.dump(obj, f)

    return dump


# ------------------------------------------------------------ validation
def validate_grid_time(value: str, timestep_min: int) -> str:
    """F10 checks (reference: gen_raincell.py:53-71): parseable, :00
    seconds, minutes on the timestep grid."""
    try:
        dt = datetime.strptime(value, DATE_FMT)
    except ValueError as e:
        raise SystemExit(f"invalid timestamp {value!r}: {e}") from None
    if dt.second != 0:
        raise SystemExit(f"seconds must be 00 in {value!r}")
    if dt.minute % timestep_min != 0:
        raise SystemExit(
            f"minutes must align to the {timestep_min}-minute grid in {value!r}"
        )
    return value


def _skip_existing(path: str) -> bool:
    """F9 idempotence gate (reference: gen_raincell.py:246)."""
    if os.path.exists(path):
        print(f"{path} already exists — skipping generation")
        return True
    return False


# ------------------------------------------------------------ inputs/outputs
def _read_input(spark, path: str, flag: str, cols=()):
    """The parquet table committed at ``path``, given as ``flag``: read
    through ``commit``, so a stage whose upstream output was interrupted
    between its two renames reads the recovered copy. A missing table
    or a missing column in ``cols`` fails on the driver."""
    df = commit.read_parquet(spark, path)
    if df is None:
        raise SystemExit(f"{flag} {path}: no parquet table there")
    for col in cols:
        if col not in df.columns:
            raise SystemExit(f"{flag}: column {col!r} not in input ({df.columns})")
    return df


def _overwrite_parquet(df, target: str):
    """Commit ``df`` as the parquet table at ``target`` and return the
    committed table; the old copy stays intact while the same plan may
    still be reading it."""
    return _overwrite_parquets({target: df})[target]


def _overwrite_parquets(tables: dict) -> dict:
    """Commit each ``{target: df}`` as a parquet table with one
    ``commit.replace_all`` (every temp copy is written before the first
    swap) and return the committed tables by target."""
    commit.replace_all([(target, df.write.parquet) for target, df in tables.items()])
    return {target: commit.table(df.sparkSession, target) for target, df in tables.items()}


def _load_store(spark, store_dir: str):
    from curw_flo2d_data_manager_spark.store import TimeseriesStore

    return TimeseriesStore.open(spark, store_dir)


# ------------------------------------------------------------- commands
def _validate_window(args, timestep_min: int) -> None:
    validate_grid_time(args.start_time, timestep_min)
    validate_grid_time(args.end_time, timestep_min)


def _write_dat(lines, args, kind: str, **frame) -> None:
    """Render ``lines`` into ``args.out`` (``frame`` passes the
    verbatim ``header_lines``/``footer_lines``) and merge the run into
    the ``run_meta.json`` manifest beside it."""
    from curw_flo2d_data_manager_spark.sinks.ordered_text import write_ordered_text

    write_ordered_text(lines, args.out, sort_cols=["block_rank", "intra_rank"], **frame)
    merge_run_manifest(args.out, {kind: {"model": args.model, "sim_tag": args.sim_tag}})
    print(f"wrote {args.out}")


def cmd_gen_inflow(spark, args) -> None:
    from curw_flo2d_data_manager_spark.plans.inflow import inflow_lines
    from curw_flo2d_data_manager_spark.plans.models import MODELS

    _validate_window(args, MODELS[args.model].timestep_min)
    store = _load_store(spark, args.store)
    ts = store.get_timeseries_by_meta(
        args.method, args.model, args.grid_id, args.start_time, args.end_time
    )
    _write_dat(inflow_lines(ts, args.model, obs_wl=args.obs_wl), args, "inflow")


def cmd_gen_rain(spark, args) -> None:
    from curw_flo2d_data_manager_spark.plans.models import FLO2D_10_PATTERN
    from curw_flo2d_data_manager_spark.plans.rain import (
        nearest_gauge_grid_ids,
        rain_lines,
    )

    # flo2d_10 models share the 5-minute grid (gen_rain.py:98-101)
    _validate_window(args, 5)
    is_10m = bool(FLO2D_10_PATTERN.match(args.model))
    lat, lon = args.lat, args.lon
    if is_10m and (lat is None or lon is None):
        # gauge resolved from the model's config point via the nearest
        # weather station (gen_rain.py:119-135,306-314)
        if not args.rain_config:
            raise SystemExit(
                f"{args.model}: provide --lat/--lon or --rain_config "
                "(flo2d_10 models resolve their gauge from a config point)"
            )
        with open(args.rain_config) as fh:
            cfg = json.load(fh).get(args.model)
        if not cfg:
            raise SystemExit(f"{args.model} not present in {args.rain_config}")
        lat, lon = float(cfg["lat"]), float(cfg["lon"])
    if not is_10m and args.grid_id is None:
        raise SystemExit("grid_id of the desired timeseries is not specified")
    store = _load_store(spark, args.store)
    if is_10m:
        stations = commit.table(
            spark, args.obs_stations or os.path.join(args.store, "obs_stations")
        )
        grid_ids = nearest_gauge_grid_ids(spark, stations, lat, lon)
        # the reference hardcodes method='MME' when resolving the
        # nearest rainfall station for flo2d_10 models
        # (gen_rain.py find_hash_id_of_nearest_rainfall_station), so
        # --method is ignored on this branch (round-3 advice); say so
        # instead of silently overriding (round-4 advice)
        if args.method != "MME":
            print(
                f"warning: --method {args.method!r} ignored for "
                f"{args.model}: flo2d_10 gauge resolution is pinned to "
                "method='MME' (reference parity)",
                file=sys.stderr,
            )
        ts = store.get_timeseries_by_grid_ids(
            "MME", grid_ids, args.start_time, args.end_time
        )
    else:
        ts = store.get_timeseries_by_meta(
            args.method, args.model, args.grid_id, args.start_time, args.end_time
        )
    _write_dat(rain_lines(spark, ts, args.model, args.start_time, args.end_time), args, "rain")


def cmd_gen_raincell(spark, args) -> None:
    from curw_flo2d_data_manager_spark.plans.models import MODELS, RAINCELL_MIN_START
    from curw_flo2d_data_manager_spark.plans.raincell import raincell_lines

    _validate_window(args, MODELS[args.model].timestep_min)
    start = max(args.start_time, RAINCELL_MIN_START)  # hard floor (:110)
    rain = commit.table(spark, os.path.join(args.store, "raincell"))
    _write_dat(raincell_lines(spark, rain, args.model, start, args.end_time), args, "raincell")


def cmd_gen_outflow(spark, args) -> None:
    from pyspark.sql import functions as F

    from curw_flo2d_data_manager_spark.plans.models import MODELS
    from curw_flo2d_data_manager_spark.plans.outflow import outflow_lines

    _validate_window(args, MODELS[args.model].timestep_min)
    store = _load_store(spark, args.store)

    # tide-node fan-out as one plan: the node→grid_id config map joins
    # the run dim, then one scan pulls every node's series (J7)
    tide_map = json.loads(open(args.tide_config).read()) if args.tide_config else {}
    node_rows = [(int(node), grid_id) for node, grid_id in tide_map.items()]
    nodes = spark.createDataFrame(node_rows, "node int, grid_id string")
    ids = store.run.filter(
        (F.col("method") == args.method) & (F.col("model") == "flo2d")
    ).select("id", "grid_id")
    node_ids = nodes.join(F.broadcast(ids), "grid_id").select("node", "id")
    tide = (
        store.data.join(F.broadcast(node_ids), "id", "inner")
        .filter(F.col("time").between(F.lit(args.start_time), F.lit(args.end_time)))
        .select("node", "time", "value")
    )
    tail = open(args.tail).read().splitlines() if args.tail else None
    _write_dat(outflow_lines(tide, args.model), args, "outflow", footer_lines=tail)


def cmd_gen_chan(spark, args) -> None:
    from curw_flo2d_data_manager_spark.plans.chan import chan_lines

    # body template pairs (P3 asset): '<cell> <default>' line pairs
    body = [ln.split() for ln in open(args.body).read().splitlines() if ln.strip()]
    pairs = spark.createDataFrame(
        [
            (i // 2, body[i][0], body[i][1], body[i + 1][0], body[i + 1][1])
            for i in range(0, len(body) - 1, 2)
        ],
        "pair_idx long, up_cell string, up_default string, dwn_cell string, dwn_default string",
    )
    ics = commit.table(spark, os.path.join(args.store, "initial_conditions"))
    obs = commit.table(spark, os.path.join(args.store, "obs"))
    lines = chan_lines(pairs, ics, obs, args.model, args.start_time)
    head = open(args.head).read().splitlines() if args.head else None
    tail = open(args.tail).read().splitlines() if args.tail else None
    _write_dat(lines, args, "chan", header_lines=head, footer_lines=tail)


def cmd_init(spark, args) -> None:
    from curw_flo2d_data_manager_spark.plans.init_dims import (
        read_grid_csv,
        register_dims,
        stations_from_cell_maps,
    )

    params = json.loads(open(args.station_map).read())
    grid = read_grid_csv(spark, args.grid_csv)
    stations = stations_from_cell_maps(
        spark,
        grid,
        channel_map=params.get("CHANNEL_CELL_MAP", {}),
        flood_map=params.get("FLOOD_PLAIN_CELL_MAP") or None,
        model_tag=args.model,
    )
    src = spark.createDataFrame(
        [("FLO2D", args.model.replace("flo2d_", ""), json.dumps(params))],
        "model string, version string, parameters string",
    )
    src_path = os.path.join(args.store, "sources")
    sta_path = os.path.join(args.store, "stations_dim")
    ex_src = commit.read_parquet(spark, src_path)
    ex_sta = commit.read_parquet(spark, sta_path)
    m_src, m_sta = register_dims(
        src.limit(0) if ex_src is None else ex_src,
        stations.limit(0) if ex_sta is None else ex_sta,
        src,
        stations,
    )
    n_src = _overwrite_parquet(m_src, src_path).count()
    n_sta = _overwrite_parquet(m_sta, sta_path).count()
    print(f"registered {n_sta} stations, {n_src} sources")


def cmd_extract_water_level(spark, args) -> None:
    from datetime import timedelta, timezone

    from pyspark.sql import functions as F

    from curw_flo2d_data_manager_spark.functions.timeutil import parse_utc_offset
    from curw_flo2d_data_manager_spark.plans.extract import (
        extract_hychan_forecast,
        insert_run_metadata,
        run_metadata_record,
        update_run_dates,
    )
    from curw_flo2d_data_manager_spark.sinks.upsert import upsert_files
    from curw_flo2d_data_manager_spark.sources.hychan import parse_hychan
    from curw_flo2d_data_manager_spark.sources.timdep import parse_timdep

    # fgt = output-file mtime in Sri Lanka time, UTC+5:30
    # (reference: extract_water_level.py:53-60 get_file_last_modified_time)
    if args.fgt:
        fgt = args.fgt
    else:
        mtime = datetime.fromtimestamp(
            os.path.getmtime(args.hychan), tz=timezone.utc
        ) + timedelta(hours=5, minutes=30)
        fgt = mtime.strftime(DATE_FMT)
    col = {"WaterLevel": "water_level", "Discharge": "discharge"}[args.variable]
    parsed = parse_hychan(spark, args.hychan, base_time=args.base_time, variable=col)
    stations = commit.table(spark, os.path.join(args.store, "stations"))

    # Reference utcOffset semantics (extract_water_level.py:80-106
    # getUTCOffset + :176-191): pattern-or-default parse, then BOTH
    # the series timestamps and the extract cut shift by the offset.
    utc_offset_minutes = parse_utc_offset(args.utc_offset, default=True)
    extract_cut = args.extract_cut
    if utc_offset_minutes and extract_cut is not None:
        extract_cut = (
            datetime.strptime(extract_cut, DATE_FMT)
            + timedelta(minutes=utc_offset_minutes)
        ).strftime(DATE_FMT)

    def _forecast(rows, sta):
        return extract_hychan_forecast(
            rows,
            sta,
            sim_tag=args.sim_tag,
            source_model=args.model,
            variable=args.variable,
            unit="m" if args.variable == "WaterLevel" else "m3/s",
            fgt=fgt,
            extract_cut=extract_cut,
            utc_offset_minutes=utc_offset_minutes,
        )

    forecast = _forecast(parsed, stations)
    if args.timdep:
        # flood-plain water levels from TIMDEP.OUT in the same run
        # (reference: extract_water_level.py:540-587). Gap-filled
        # (block, cell) holes become the reference's MISSING_VALUE
        # −999 in the upsert payload (:575-577 appends MISSING_VALUE
        # straight into the series pushed to the DB).
        fp_sta = (
            commit.table(spark, args.flood_stations)
            if args.flood_stations
            else stations
        )
        cells = fp_sta.select(F.col("element_no").alias("cell_id")).distinct()
        fp = parse_timdep(
            spark, args.timdep, base_time=args.base_time, cells=cells
        ).withColumnRenamed("cell_id", "element_no")
        fp_forecast = _forecast(fp, fp_sta).withColumn(
            "value", F.coalesce(F.col("value"), F.lit(-999.0))
        )
        forecast = forecast.unionByName(fp_forecast)

    # The merge key (tms_id, time, fgt) pins fgt, so the cycle can only
    # collide with stored rows at its own fgt: the forecast is parsed
    # and written once, next to the untouched history files, and the
    # run dim is derived from the written rows.
    target = os.path.join(args.store, "fcst_data")
    written = []

    def write_forecast(tmp):
        at_fgt = F.col("fgt") == F.lit(fgt).cast("timestamp")
        keys = ["tms_id", "time", "fgt"]
        written.append(upsert_files(spark, target, tmp, forecast, keys, at_fgt))

    # run-dim dates: start_date pinned at series creation (reference
    # update_start_date, extract_water_level.py:213-214), fgt advanced
    # every run (update_latest_fgt, :216-217). Reads the prior dim
    # (legacy fgt-only schema upgraded in place) and full-outer-merges
    # the new payload's per-series aggregate.
    dim_target = os.path.join(args.store, "fcst_latest_fgt")
    prior_dim = commit.read_parquet(spark, dim_target)

    def write_run_dim(tmp):
        update_run_dates(prior_dim, written[0]).write.parquet(tmp)

    # K8 run provenance (reference: extract_water_level.py:588-591 —
    # run_meta.json blob next to the output file + template path).
    run_info = {}
    meta_path = os.path.join(os.path.dirname(os.path.abspath(args.hychan)), "run_meta.json")
    try:
        with open(meta_path) as f:
            run_info = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        pass
    record = run_metadata_record(
        spark,
        source_id=args.source_id,
        variable_id=args.variable_id,
        sim_tag=args.sim_tag,
        fgt=fgt,
        metadata=run_info,
        template_path=args.template,
    )
    rm_target = os.path.join(args.store, "run_metadata")
    prior = commit.read_parquet(spark, rm_target)
    rm = record if prior is None else insert_run_metadata(prior, record)
    # one commit: every temp copy exists before the first swap
    commit.replace_all([
        (target, write_forecast),
        (dim_target, write_run_dim),
        (rm_target, rm.write.parquet),
    ])
    print(f"upserted forecasts into {target}")


def cmd_compact_store(spark, args) -> None:
    from curw_flo2d_data_manager_spark.store import TimeseriesStore

    n = TimeseriesStore.compact_data(
        spark,
        args.path,
        target_file_bytes=args.target_mb * 1024 * 1024,
        dates=args.dates,
    )
    print(f"compacted {n} partitions under {args.path}")


def cmd_dedup_corpus(spark, args) -> None:
    """Corpus dedup as a job: pairs (by the chosen method) → connected
    components → keep-one-per-cluster, written back as parquet. With
    ``--keep-only`` the output is the deduplicated corpus itself;
    otherwise it is the input plus (component, cluster_size, keep)
    columns for downstream filtering. ``--method passage`` instead
    REWRITES documents (duplicate passages cut, text rebuilt) rather
    than dropping whole rows."""
    from pyspark.sql import functions as F

    from curw_flo2d_data_manager_spark.operators.components import cluster_assign
    from curw_flo2d_data_manager_spark.operators.dedup import (
        containment_pairs,
        minhash_lsh_pairs,
        passage_dedup_rebuild,
        release_caches,
        simhash_near_pairs,
        winnow_pairs,
    )

    df = _read_input(spark, args.input, "--input", (args.id_col, args.text_col))
    if args.method == "passage":
        rebuilt = passage_dedup_rebuild(
            df, args.id_col, args.text_col, passage_words=args.passage_words
        )
        # left join: rebuild output only covers docs with >=1 normalized
        # word, but the annotated mode's contract is "input plus
        # columns" — zero-word docs come back with empty text and zero
        # counts instead of silently vanishing (round-5 advice)
        out = (
            df.drop(args.text_col)
            .join(rebuilt, args.id_col, "left")
            .withColumn(args.text_col, F.coalesce(F.col(args.text_col), F.lit("")))
            .withColumn(
                "n_passages", F.coalesce(F.col("n_passages"), F.lit(0).cast("long"))
            )
            .withColumn(
                "n_kept", F.coalesce(F.col("n_kept"), F.lit(0).cast("long"))
            )
        )
        if args.keep_only:
            out = out.filter(F.col("n_kept") > 0).select(*df.columns)
    elif args.method == "containment":
        # DIRECTED semantics, unlike the cluster methods: the contained
        # (smaller) doc is the duplicate, its container survives — no
        # components pass, just "was this doc ever the id_small side"
        cpairs = containment_pairs(
            df, args.id_col, args.text_col, threshold=args.threshold
        )
        # Break mutual-containment symmetry (round-8 advice): exact
        # duplicates (identical token sets) emit directed pairs BOTH
        # ways, so flagging every id_small deleted every copy of a
        # duplicate group. When the reverse pair exists, keep only the
        # direction whose id_small is the LARGER id — the min-id copy
        # of any mutual group (incl. chains) is never flagged and
        # survives --keep_only.
        rev = cpairs.select(
            F.col("id_big").alias("id_small"),
            F.col("id_small").alias("id_big"),
            F.lit(True).alias("_mutual"),
        )
        directed = cpairs.join(
            rev, ["id_small", "id_big"], "left"
        ).filter(
            F.col("_mutual").isNull()
            | (F.col("id_small") > F.col("id_big"))
        )
        contained = (
            directed.select(F.col("id_small").alias(args.id_col))
            .distinct()
            .withColumn("contained", F.lit(True))
        )
        out = df.join(contained, args.id_col, "left").withColumn(
            "contained", F.coalesce(F.col("contained"), F.lit(False))
        )
        if args.keep_only:
            out = out.filter(~F.col("contained")).select(*df.columns)
    else:
        if args.method == "exact":
            # identical normalized text → same digest; pairs = (group
            # min, member), so components are exactly the digest groups
            from curw_flo2d_data_manager_spark.operators.textstats import normalize_text

            digest = df.select(
                F.col(args.id_col).alias("_id"),
                F.sha2(normalize_text(args.text_col), 256).alias("_k"),
            )
            winners = digest.groupBy("_k").agg(F.min("_id").alias("id_a"))
            pairs = (
                digest.join(winners, "_k")
                .filter(F.col("_id") != F.col("id_a"))
                .select("id_a", F.col("_id").alias("id_b"))
            )
        elif args.method == "minhash":
            pairs = minhash_lsh_pairs(
                df, args.id_col, args.text_col, jaccard_threshold=args.threshold
            ).select("id_a", "id_b")
        elif args.method == "winnow":
            # passage-level near-copies: shared MOSS winnowing
            # fingerprints catch quotation/plagiarism overlap that
            # whole-document signatures dilute away
            pairs = winnow_pairs(
                df, args.id_col, args.text_col, min_shared=args.min_shared
            ).select("id_a", "id_b")
        else:  # simhash
            pairs = simhash_near_pairs(
                df, args.id_col, args.text_col, max_hamming=args.max_hamming
            ).select("id_a", "id_b")
        decisions = cluster_assign(df, pairs, args.id_col)
        out = df.join(decisions, args.id_col)
        if args.keep_only:
            out = out.filter(F.col("keep")).select(*df.columns)
    committed = _overwrite_parquet(out, args.output)
    release_caches()
    print(
        f"dedup-corpus[{args.method}]: {df.count()} rows in, "
        f"{committed.count()} rows out -> {args.output}"
    )


def cmd_dedup_embeddings(spark, args) -> None:
    """Semantic (embedding-space) corpus dedup as a job: IVF KMeans
    cluster assignment → within-cluster cosine pairs → greedy
    smallest-id keep, written back as parquet (annotated with
    (cluster, keep), or the surviving rows only with --keep_only).
    The SemDeDup recipe end-to-end; cluster count defaults to
    rows/500 so the within-cluster quadratic term stays bounded."""
    from pyspark.sql import functions as F

    from curw_flo2d_data_manager_spark.operators.similarity import (
        build_ivf_index,
        semantic_dedup_assigned,
    )

    df = _read_input(spark, args.input, "--input", (args.id_col, args.vec_col))
    stale = [c for c in ("semdedup_cluster", "semdedup_keep") if c in df.columns]
    if stale:
        # re-running over annotated (non --keep_only) output: drop the
        # previous run's verdict columns so the join-back can't turn
        # ambiguous — this run's annotations replace them
        print(f"dedup-embeddings: dropping stale {'/'.join(stale)} from input")
        df = df.drop(*stale)
    n = df.count()
    n_clusters = args.clusters or max(4, n // 500)
    assigned, _ = build_ivf_index(
        df, n_clusters=n_clusters, id_col=args.id_col, vec_col=args.vec_col
    )
    assigned = assigned.withColumnRenamed("corpus_id", args.id_col).persist()
    dec = semantic_dedup_assigned(
        assigned,
        threshold=args.threshold,
        id_col=args.id_col,
        vec_col="embedding",
    ).select(
        args.id_col,
        # prefixed so an input parquet that already carries a
        # 'cluster'/'keep' column doesn't collide on the join-back
        F.col("cluster").alias("semdedup_cluster"),
        F.col("keep").alias("semdedup_keep"),
    )
    out = df.join(dec, args.id_col)
    if args.keep_only:
        out = out.filter(F.col("semdedup_keep")).select(*df.columns)
    try:
        committed = _overwrite_parquet(out, args.output)
    finally:
        assigned.unpersist()
    print(
        f"dedup-embeddings: {n} rows in, {committed.count()} rows out "
        f"({n_clusters} clusters, cosine >= {args.threshold}) -> {args.output}"
    )


def _cell_sizes(assignments) -> dict:
    """Rows per cluster of an ANN index's assignments: one aggregation
    over the partition column, the vectors are never read."""
    from pyspark.sql import functions as F

    counts = assignments.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))
    return {r["cluster"]: r["n"] for r in counts.collect()}


def _read_ann_meta(index: str) -> dict:
    try:
        with open(os.path.join(index, "index_meta.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        raise SystemExit(f"no index_meta.json under {index}") from None


def _commit_ann_index(index: str, assignments, codes, meta: dict) -> None:
    """Commit ``assignments/``, ``codes/`` (unless None) and
    ``index_meta.json`` of the ANN index at ``index`` with one
    ``commit.replace_all``: a failure anywhere leaves the whole index
    old. Unpersists ``assignments`` afterwards."""
    pairs = [(os.path.join(index, "assignments"), assignments.write.partitionBy("cluster").parquet)]
    if codes is not None:
        pairs.append((os.path.join(index, "codes"), codes.write.partitionBy("cluster").parquet))
    pairs.append((os.path.join(index, "index_meta.json"), _json_writer(meta)))
    os.makedirs(index, exist_ok=True)
    try:
        commit.replace_all(pairs)
    finally:
        assignments.unpersist()


def cmd_build_ann_index(spark, args) -> None:
    """Build (or append to) a persisted ANN index — the 100-TB
    retrieval layout as one command. ``--output`` gets:

    * ``assignments/`` — (corpus_id, embedding, cluster) parquet,
      ``partitionBy(cluster)`` so a query's probe reads ONLY
      nprobe/n_clusters of the index (partition pruning);
    * ``index_meta.json`` — quantizer centers + column/config
      metadata (+ PQ codebooks with ``--pq``);
    * ``codes/`` (``--pq``) — (corpus_id, cluster, pq_code) parquet,
      same partitioning: the 8-byte-code relation ADC ranks against
      without touching vectors.

    A build commits all three together (``_commit_ann_index``).
    ``--append`` assigns a NEW batch against the STORED quantizer
    (no retrain — ``ivf_assign``) and appends to both relations;
    re-train only when drift unbalances the cells.
    """
    from curw_flo2d_data_manager_spark.operators.similarity import (
        build_ivf_index,
        ivf_assign,
        pq_assign,
        train_pq_codebooks,
    )

    df = _read_input(spark, args.input, "--input", (args.id_col, args.vec_col))
    asg_path = os.path.join(args.output, "assignments")
    codes_path = os.path.join(args.output, "codes")

    if args.append:
        meta = _read_ann_meta(args.output)
        for p in (asg_path, codes_path):
            commit.recover(p)
        assigned = ivf_assign(
            df, meta["centers"], id_col=args.id_col, vec_col=args.vec_col
        )
        assigned.write.mode("append").partitionBy("cluster").parquet(asg_path)
        if meta.get("pq"):
            codes = pq_assign(
                assigned, meta["pq"]["codebooks"],
                id_col="corpus_id", vec_col="embedding",
            ).join(assigned.select("corpus_id", "cluster"), "corpus_id")
            codes.write.mode("append").partitionBy("cluster").parquet(codes_path)
        n = df.count()
        print(f"build-ann-index: appended {n} vectors -> {args.output}")
        return

    n = df.count()
    n_clusters = args.clusters or max(4, n // 500)
    assignments, centers = build_ivf_index(
        df, n_clusters=n_clusters, id_col=args.id_col, vec_col=args.vec_col
    )
    assignments = assignments.persist()
    meta = {
        "n_clusters": n_clusters,
        "n_vectors": n,
        "id_col": args.id_col,
        "vec_col": args.vec_col,
        "centers": centers,
        "pq": None,
    }
    codes = None
    if args.pq:
        codebooks = train_pq_codebooks(
            df, m=args.pq_m, ksub=args.pq_ksub,
            id_col=args.id_col, vec_col=args.vec_col,
        )
        meta["pq"] = {"m": args.pq_m, "ksub": args.pq_ksub, "codebooks": codebooks}
        codes = pq_assign(
            assignments, codebooks, id_col="corpus_id", vec_col="embedding"
        ).join(assignments.select("corpus_id", "cluster"), "corpus_id")
    _commit_ann_index(args.output, assignments, codes, meta)
    print(
        f"build-ann-index: {n} vectors, {n_clusters} clusters"
        + (f", PQ {args.pq_m}x{args.pq_ksub}" if args.pq else "")
        + f" -> {args.output}"
    )


def cmd_compact_ann_index(spark, args) -> None:
    """Rebalance a persisted ANN index after ``--append`` drift: every
    appended batch is assigned against the ORIGINAL quantizer, so a
    shifted ingest distribution piles rows into a few cells (probe
    cost grows toward a full scan) and the stored centers go stale.

    This command reads the cell-size histogram (one aggregation over
    the partition column — vectors untouched), and when the balance
    factor (largest cell / ideal even split) reaches
    ``--skew_threshold`` (or ``--force``), RE-TRAINS the quantizer on
    the index's current contents (same bounded-sample recipe as the
    initial build), re-assigns every vector in one scan, re-codes PQ
    against freshly trained codebooks, then commits ``assignments/``,
    ``codes/`` and ``index_meta.json`` together through
    ``commit.replace_all``. Centers, cluster count, and counts in
    index_meta.json are refreshed. Recall is invariant: compaction
    changes WHERE vectors sit, never which vectors exist — gated by
    the planted-copy recall test in tests/test_cli.py.
    """
    from pyspark.sql import functions as F

    from curw_flo2d_data_manager_spark.operators.similarity import (
        build_ivf_index,
        pq_assign,
        train_pq_codebooks,
    )

    meta = _read_ann_meta(args.index)
    asg = _read_input(spark, os.path.join(args.index, "assignments"), "--index")
    sizes = _cell_sizes(asg)
    n_total = sum(sizes.values())
    ideal = n_total / meta["n_clusters"] if meta["n_clusters"] else 0.0
    balance = (max(sizes.values(), default=0) / ideal) if ideal else 0.0
    if balance < args.skew_threshold and not args.force:
        print(
            f"compact-ann-index: balance {balance:.2f}x ideal below "
            f"threshold {args.skew_threshold:.2f} — nothing to do"
        )
        return

    n_clusters = args.clusters or max(4, n_total // 500)
    vecs = asg.select(
        F.col("corpus_id").alias(meta["id_col"]),
        F.col("embedding").alias(meta["vec_col"]),
    )
    assignments, centers = build_ivf_index(
        vecs, n_clusters=n_clusters,
        id_col=meta["id_col"], vec_col=meta["vec_col"],
    )
    # persisted: PQ training and both writes share one re-assignment
    assignments = assignments.persist()
    codes = None
    if meta.get("pq"):
        codebooks = train_pq_codebooks(
            assignments, m=meta["pq"]["m"], ksub=meta["pq"]["ksub"],
            id_col="corpus_id", vec_col="embedding",
        )
        codes = pq_assign(
            assignments, codebooks, id_col="corpus_id", vec_col="embedding"
        ).join(assignments.select("corpus_id", "cluster"), "corpus_id")
        meta["pq"]["codebooks"] = codebooks
    meta.update(centers=centers, n_clusters=n_clusters, n_vectors=n_total)
    _commit_ann_index(args.index, assignments, codes, meta)
    new_sizes = _cell_sizes(commit.table(spark, os.path.join(args.index, "assignments")))
    new_ideal = n_total / n_clusters if n_clusters else 0.0
    new_balance = (max(new_sizes.values(), default=0) / new_ideal) if new_ideal else 0.0
    print(
        f"compact-ann-index: {n_total} vectors re-quantized into "
        f"{n_clusters} cells; balance {balance:.2f}x -> {new_balance:.2f}x ideal"
    )


def _check_ann_meta_consistency(meta, top, index_path) -> None:
    """Fail loudly when ``top``, the largest cluster id in the
    assignments, is outside ``meta['centers']`` — the signature of an
    index whose tables and meta were not committed together."""
    n_centers = len(meta.get("centers") or [])
    if top is not None and n_centers and top >= n_centers:
        raise SystemExit(
            f"assignments under {index_path} reference cluster id {top} but "
            f"index_meta.json has only {n_centers} centers — likely an "
            f"interrupted compaction; re-run compact-ann-index --force"
        )


def cmd_ann_index_stats(spark, args) -> None:
    """Operating report for a persisted ANN index: per-cell row
    counts, balance factor (max cell / ideal even split — the number
    that says when to re-train the quantizer), empty-cell count, and
    codes-relation consistency when PQ codes exist. One aggregation
    over the cluster partition column — the vectors themselves are
    never read (column pruning)."""
    meta = _read_ann_meta(args.index)
    sizes = _cell_sizes(_read_input(spark, os.path.join(args.index, "assignments"), "--index"))
    _check_ann_meta_consistency(meta, max(sizes, default=None), args.index)
    n_total = sum(sizes.values())
    n_cells = meta["n_clusters"]
    ideal = n_total / n_cells if n_cells else 0
    biggest = max(sizes.values(), default=0)
    empty = n_cells - len(sizes)
    print(f"ann-index-stats: {n_total} vectors in {len(sizes)}/{n_cells} cells")
    print(f"  largest cell {biggest} rows "
          f"(balance {biggest / ideal:.2f}x ideal)" if ideal else "  empty index")
    print(f"  empty cells {empty}")
    if meta.get("pq"):
        n_codes = _read_input(spark, os.path.join(args.index, "codes"), "--index").count()
        status = "OK" if n_codes == n_total else "MISMATCH"
        print(f"  pq codes {n_codes} ({status} vs {n_total} vectors)")
        if n_codes != n_total:
            raise SystemExit(
                "codes/assignments row counts differ — rebuild or re-append"
            )


def cmd_query_ann_index(spark, args) -> None:
    """Query a persisted ANN index: IVF partition-pruned probe +
    exact-cosine rerank, or — when the index carries PQ codes and
    ``--exact`` is not given — the full IVF-PQ stack (probe → ADC
    over 8-byte codes → exact rerank of the short candidate list).
    Writes (query_id, corpus_id, cosine, rank) parquet and prints the
    per-query top hit."""
    from pyspark.sql import functions as F

    from curw_flo2d_data_manager_spark.operators.similarity import (
        ivf_query,
        ivfpq_query,
        mmr_rerank,
    )

    meta = _read_ann_meta(args.index)
    assignments = _read_input(spark, os.path.join(args.index, "assignments"), "--index")
    # reads only the cluster partition column: a directory-listing agg
    top = assignments.agg(F.max("cluster")).first()[0]
    _check_ann_meta_consistency(meta, top, args.index)
    qid, qvec = args.query_id_col, args.query_vec_col or meta["vec_col"]
    queries = _read_input(spark, args.queries, "--queries", (qid, qvec))

    if meta.get("pq") and not args.exact:
        codes = _read_input(spark, os.path.join(args.index, "codes"), "--index")
        hits = ivfpq_query(
            assignments, meta["centers"], queries, meta["pq"]["codebooks"],
            k=args.k, nprobe=args.nprobe, candidate_mult=args.candidate_mult,
            query_id_col=qid, vec_col=qvec, codes=codes,
        )
        mode = f"ivfpq(m={meta['pq']['m']})"
    else:
        hits = ivf_query(
            assignments, meta["centers"], queries,
            k=args.k, nprobe=args.nprobe, query_id_col=qid, vec_col=qvec,
        )
        mode = "ivf"
    if args.diversify:
        # MMR pass over the RESULT relation: re-rank the top-k down to
        # --diversify diverse hits (corpus vectors come back from the
        # index's own assignments — the corpus itself never re-enters)
        if args.diversify > args.k:
            raise SystemExit(
                f"--diversify {args.diversify} exceeds --k {args.k}"
            )
        cands = hits.join(
            assignments.select("corpus_id", F.col("embedding").alias("_mv")),
            "corpus_id",
        )
        hits = mmr_rerank(
            cands, k=args.diversify, lam=args.mmr_lam,
            rel_col="cosine", vec_col="_mv",
        ).withColumnsRenamed({"mmr_rank": "rank", "mmr_score": "score"})
        mode += f"+mmr(λ={args.mmr_lam})"
        score_col = "score"
    else:
        score_col = "cosine"
    if args.output:
        hits = _overwrite_parquet(hits, args.output)
    top = hits.filter(F.col("rank") == 1).orderBy("query_id").collect()
    for r in top:
        print(
            f"  {r['query_id']} -> {r['corpus_id']} "
            f"({score_col} {r[score_col]:.6f})"
        )
    print(
        f"query-ann-index[{mode}]: {len(top)} queries, top-{args.k}, "
        f"nprobe={args.nprobe}"
        + (f" -> {args.output}" if args.output else "")
    )


def cmd_chunk_corpus(spark, args) -> None:
    """Chunk long documents into fixed word windows (the pre-packing
    step) and, with --pack, assign each chunk a packing bin against a
    token budget — together the physical sequence-construction stage
    of a training pipeline, written back as parquet."""
    from pyspark.sql import functions as F

    from curw_flo2d_data_manager_spark.operators.packing import pack_sequences
    from curw_flo2d_data_manager_spark.operators.textstats import chunk_documents

    df = _read_input(spark, args.input, "--input", (args.id_col, args.text_col))
    reserved = {"chunk_idx", "n_words", "chunk_text", "chunk_id"}
    if args.id_col in reserved:
        raise SystemExit(
            f"--id-col {args.id_col!r} collides with a chunk output column "
            f"({sorted(reserved)}); rename the input id column first"
        )
    chunks = chunk_documents(
        df, args.id_col, args.text_col,
        chunk_words=args.chunk_words, overlap=args.overlap,
    ).withColumn(
        "chunk_id",
        F.concat_ws("#", F.col(args.id_col).cast("string"), F.col("chunk_idx")),
    )
    if args.pack:
        chunks = pack_sequences(
            chunks, "chunk_id", "n_words", budget=args.budget
        )
    chunks = _overwrite_parquet(chunks, args.output)
    extra = ""
    if args.pack:
        bins = chunks.agg(F.count_distinct("bin_id")).first()[0]
        extra = f" into {bins} bins of {args.budget} tokens"
    print(
        f"chunk-corpus: {df.count()} docs -> {chunks.count()} chunks{extra} "
        f"-> {args.output}"
    )


def cmd_materialize_mix(spark, args) -> None:
    """Materialize the two-sided training mix (epoch plan → physical
    rows): oversized domains downsample once, undersized domains
    repeat with epoch stamps — the exact token mass the temperature-
    scaled weights prescribe, written back as parquet."""
    from curw_flo2d_data_manager_spark.operators.sampling import (
        materialize_mixture,
    )

    group = [c for c in args.group_cols.split(",") if c]
    df = _read_input(spark, args.input, "--input", group + [args.id_col, args.text_col])
    out = materialize_mixture(
        df, group, [args.id_col], args.text_col,
        target_tokens=args.target_tokens, alpha=args.alpha, salt=args.salt,
    )
    n = _overwrite_parquet(out, args.output).count()
    print(
        f"materialize-mix: {df.count()} rows in, {n} mix rows out "
        f"(target {args.target_tokens} tokens, alpha {args.alpha}) -> {args.output}"
    )


def cmd_import_corpus(spark, args) -> None:
    """JSONL → parquet ingestion: the front door of the training-data
    pipeline. Reads line-delimited JSON (Spark's json source handles
    .gz transparently and splits plain files), optionally with an
    explicit DDL schema — ALWAYS pass one at scale: schema inference
    is a full extra pass over the data — an early projection, and an
    optional Z-order layout over numeric/timestamp columns so range
    scans on any of them prune row groups from day one."""
    reader = spark.read
    if args.schema:
        reader = reader.schema(args.schema)
    df = reader.json(args.input)
    if args.select:
        df = df.select(*[c.strip() for c in args.select.split(",")])
    if args.strip_html:
        # crawl ingestion: strip markup BEFORE anything downstream
        # (quality scoring, dedup, token budgeting) sees the text —
        # a pure projection riding the scan (operators/markup.py)
        from curw_flo2d_data_manager_spark.operators.markup import strip_markup

        if args.strip_html not in df.columns:
            raise SystemExit(
                f"--strip-html column {args.strip_html!r} not in input "
                f"({df.columns})"
            )
        df = strip_markup(df, args.strip_html, args.strip_html)
    if args.zorder:
        from curw_flo2d_data_manager_spark.operators.zorder import write_zordered

        cols = [c.strip() for c in args.zorder.split(",")]
        commit.replace(
            args.output, lambda tmp: write_zordered(df, tmp, cols, n_files=args.files)
        )
        n = commit.table(spark, args.output).count()
    else:
        out = df.repartition(args.files) if args.files else df
        n = _overwrite_parquet(out, args.output).count()
    print(f"imported {n} rows -> {args.output}")


def cmd_export_corpus(spark, args) -> None:
    """Parquet → JSONL shard export: the back door of the pipeline —
    ship a cleaned/mixed corpus to a trainer that consumes line-
    delimited JSON. Shard assignment is DETERMINISTIC (md5 bucket of
    the sort key, the split_assign trick), so re-exports produce the
    same document→shard mapping; optional gzip. Each shard is one
    file under <output>/ written by Spark's json sink."""
    from pyspark.sql import functions as F

    df = _read_input(spark, args.input, "--input", (args.key_col,))
    shards = max(1, args.shards)
    # explicit shard DIRECTORIES (shard=K/): repartition(n, expr) hashes
    # the expression, so two md5 buckets can collide into one partition
    # and leave another empty — partitionBy keys the layout by VALUE
    out = df.withColumn(
        "_shard",
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col(args.key_col).cast("string")), 1, 8),
                16, 10,
            ).cast("long"),
            F.lit(shards),
        ),
    ).repartition(shards, F.col("_shard"))
    writer = out.write.partitionBy("_shard")
    if args.gzip:
        writer = writer.option("compression", "gzip")
    commit.replace(args.output, writer.json)
    n = spark.read.json(args.output).drop("_shard").count()
    print(
        f"exported {n} rows -> {args.output} "
        f"({shards} shards{', gzip' if args.gzip else ''})"
    )


def cmd_split_corpus(spark, args) -> None:
    """Materialize a deterministic leak-free train/val/test split:
    one pass per split (pure hash filter, no shuffle), each written
    under <output>/<name>, all committed together. Same key always
    lands in the same split across runs, engines, and corpus growth."""
    from pyspark.sql import functions as F

    from curw_flo2d_data_manager_spark.operators.sampling import split_assign

    fractions: dict[str, float] = {}
    for part in args.fractions.split(","):
        name, _, frac = part.partition("=")
        if not _ or not name.strip():
            raise SystemExit(f"bad --fractions entry {part!r} (want name=frac)")
        fractions[name.strip()] = float(frac)
    keys = [c.strip() for c in args.key_cols.split(",")]
    df = _read_input(spark, args.input, "--input", keys)
    assigned = split_assign(df, keys, fractions, salt=args.salt)
    splits = _overwrite_parquets({
        os.path.join(args.output, name): assigned.filter(F.col("split") == name).drop("split")
        for name in fractions
    })
    counts = ", ".join(
        f"{name}={splits[os.path.join(args.output, name)].count()}" for name in fractions
    )
    print(f"split {df.count()} rows -> {counts} under {args.output}")


def cmd_decontam_corpus(spark, args) -> None:
    """Drop every corpus row whose fingerprint appears in a blocklist
    corpus (benchmark decontamination / already-trained-shard
    exclusion) via the Bloom-prefiltered exact anti-join: the corpus
    never shuffles — the blocklist's bit-blob broadcasts and only the
    candidate sliver is join-verified. Exact by construction at any
    false-positive rate."""
    from pyspark.sql import functions as F

    from curw_flo2d_data_manager_spark.operators.dedup import (
        bloom_blocklist_filter,
    )

    corpus = _read_input(spark, args.input, "--input")
    block = _read_input(spark, args.blocklist, "--blocklist")

    def keyed(df, key_col, text_col, side):
        if key_col and key_col in df.columns:
            return df, key_col
        if text_col not in df.columns:
            raise SystemExit(
                f"{side}: neither key column {key_col!r} nor text column "
                f"{text_col!r} present ({df.columns})"
            )
        fp = "_decontam_fp"
        return df.withColumn(fp, F.md5(F.col(text_col))), fp

    corpus_k, ckey = keyed(corpus, args.key_col, args.text_col, "--input")
    block_k, bkey = keyed(
        block, args.blocklist_key_col or args.key_col, args.text_col,
        "--blocklist",
    )
    if bkey != ckey:
        block_k = block_k.withColumnRenamed(bkey, ckey)
    m_bits = args.m_bits
    if not m_bits:
        n_block = block_k.count()
        m_bits = 1 << max(16, (max(1, n_block) * 10).bit_length())
    kept = bloom_blocklist_filter(
        corpus_k, block_k.select(ckey), ckey, m_bits=m_bits, k=args.k
    ).select(*corpus.columns)
    n_out = _overwrite_parquet(kept, args.output).count()
    n_in = corpus.count()
    print(
        f"decontam-corpus: {n_in} rows in, {n_out} kept "
        f"({n_in - n_out} blocklisted; m_bits={m_bits}, k={args.k}) "
        f"-> {args.output}"
    )


def cmd_score_corpus(spark, args) -> None:
    """Per-document training-data signals written back as parquet:
    token counts / quality ratios / predicted language (one pure-
    Column pass), optional in-corpus unigram-LM logprob, and optional
    DSIR importance weights toward a --target-lang subset. The
    filter-by-score step is a plain parquet predicate afterwards."""
    from pyspark.sql import functions as F

    from curw_flo2d_data_manager_spark.operators.caching import (
        cache_mark,
        release_caches_since,
    )
    from curw_flo2d_data_manager_spark.operators.dedup import repeated_spans
    from curw_flo2d_data_manager_spark.operators.textstats import (
        dsir_log_ratio,
        text_profile,
        unigram_logprob,
    )

    signals = {s.strip() for s in args.signals.split(",") if s.strip()}
    known = {"profile", "unigram", "dsir", "spans"}
    if signals - known:
        raise SystemExit(f"unknown --signals {sorted(signals - known)}; "
                         f"choose from {sorted(known)}")
    df = _read_input(spark, args.input, "--input", (args.id_col, args.text_col))
    if "dsir" in signals and args.lang_col not in df.columns:
        raise SystemExit(
            f"--signals dsir needs --lang-col ({args.lang_col!r} "
            f"not in input {df.columns})"
        )
    out = df
    if "profile" in signals:
        out = text_profile(out, args.text_col)
    mark = cache_mark()
    try:
        if "unigram" in signals:
            lp = unigram_logprob(
                df.select(args.id_col, args.text_col), args.id_col,
                args.text_col,
            ).select(
                args.id_col,
                F.col("n_tokens").alias("unigram_n_tokens"),
                F.col("avg_logprob").alias("unigram_avg_logprob"),
            )
            out = out.join(lp, args.id_col, "left")
        if "dsir" in signals:
            scored = dsir_log_ratio(
                df.select(
                    args.id_col,
                    args.text_col,
                    (F.col(args.lang_col) == args.target_lang).alias("_tgt"),
                ),
                args.id_col,
                "_tgt",
                args.text_col,
            ).select(
                args.id_col,
                F.col("avg_logratio").alias("dsir_logratio"),
            )
            out = out.join(scored, args.id_col, "left")
        if "spans" in signals:
            spans = (
                repeated_spans(
                    df.select(args.id_col, args.text_col), args.id_col,
                    args.text_col,
                )
                .groupBy(args.id_col)
                .agg(
                    F.sum("span_tokens").alias("dup_span_tokens"),
                    F.count(F.lit(1)).alias("n_dup_spans"),
                )
            )
            out = out.join(spans, args.id_col, "left").fillna(
                {"dup_span_tokens": 0, "n_dup_spans": 0}
            )
        committed = _overwrite_parquet(out, args.output)
    finally:
        release_caches_since(mark)
    print(
        f"score-corpus: {committed.count()} rows scored ({', '.join(sorted(signals))}) "
        f"-> {args.output}"
    )


def cmd_search_corpus(spark, args) -> None:
    """BM25 top-k retrieval over a corpus parquet: the query string is
    tokenized with the SAME normalization as the corpus (so phrasing
    matches scoring), scored via ``textstats.bm25_topk``, and the hit
    list printed (and optionally written as parquet). Duplicate query
    terms count once — BM25's query-side tf is binary here, the common
    short-query convention."""
    import re

    from curw_flo2d_data_manager_spark.operators.textstats import bm25_topk

    df = _read_input(spark, args.input, "--input", (args.id_col, args.text_col))
    # normalize the query exactly like words(): lower, strip to
    # [a-z0-9 + non-ASCII + dash], whitespace-split
    terms = sorted(
        set(re.sub("[^a-z0-9\\x80-\\uffff-]+", " ", args.query.lower()).split())
    )
    if not terms:
        raise SystemExit(f"--query {args.query!r} has no searchable terms")
    hits = bm25_topk(
        df.select(args.id_col, args.text_col),
        args.id_col,
        terms,
        args.text_col,
        k1=args.k1,
        b=args.b,
        k=args.k,
    )
    if args.output:
        hits = _overwrite_parquet(hits, args.output)
    rows = sorted(hits.collect(), key=lambda r: r["rank"])
    print(f"search-corpus: {len(rows)} hits for {' '.join(terms)!r}")
    for r in rows:
        print(
            f"  #{r['rank']:<3} {args.id_col}={r[args.id_col]} "
            f"score={r['score']:.6f} terms_hit={r['n_terms_hit']}"
        )


def _bounded_k(value: str) -> int:
    """argparse type for search-corpus --k: the hit list is collected
    to the driver (printing is the point of the command), so the
    bounded-collect contract is enforced at parse time, not assumed."""
    k = int(value)
    if not 1 <= k <= 10000:
        raise argparse.ArgumentTypeError(
            f"--k must be in 1..10000 (hit list is driver-collected), got {k}"
        )
    return k


def _spark_write_complete(out: str) -> bool:
    """True when a Spark output directory finished writing: the
    ``_SUCCESS`` marker is at the top level, or — for stages that fan
    out into per-split subdirectories (split-corpus writes
    ``out/train``, ``out/val``…) — every immediate subdirectory
    carries its own marker. A directory with no marker anywhere is a
    partial/crashed write."""
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return True
    subs = [
        os.path.join(out, d)
        for d in os.listdir(out)
        if os.path.isdir(os.path.join(out, d))
    ]
    return bool(subs) and all(
        os.path.exists(os.path.join(s, "_SUCCESS")) for s in subs
    )


def cmd_prepare_corpus(spark, args) -> None:
    """One-shot training-data pipeline runner: execute a JSON spec of
    corpus stages (import-corpus, dedup-corpus, decontam-corpus,
    score-corpus, split-corpus, chunk-corpus, materialize-mix,
    export-corpus, ...) in order, each through its own CLI entry — so
    every stage keeps its full argument validation — with manifest-
    style idempotence: a stage whose ``output`` directory already
    exists is SKIPPED (same F9 get-or-create contract as the FLO-2D
    generators), so a crashed run resumes where it stopped. ``--force``
    re-runs everything. Starts no Spark session of its own: each
    stage's ``main`` call gets the one session.

    Spec format::

        {"stages": [
          {"run": "import-corpus",
           "args": {"input": "raw/*.jsonl", "output": "work/raw",
                    "schema": "doc_id long, text string"}},
          {"run": "dedup-corpus",
           "args": {"input": "work/raw", "output": "work/dedup",
                    "keep_only": true}}
        ]}

    Boolean true emits a bare flag; stage outputs chain by path.
    """
    spec = json.load(open(args.spec))
    stages = spec.get("stages")
    if not isinstance(stages, list) or not stages:
        raise SystemExit(f"{args.spec}: spec needs a non-empty 'stages' list")
    for i, stage in enumerate(stages):
        name = stage.get("run")
        stage_args = stage.get("args", {})
        if not name or not isinstance(stage_args, dict):
            raise SystemExit(f"stage {i}: needs 'run' and dict 'args'")
        out = stage_args.get("output")
        # Every stage commits its output through ``commit``, so a crash
        # mid-write leaves the previous output (or nothing) at the
        # path. A directory without Spark's _SUCCESS marker was written
        # some other way and is taken as partial: the stage re-runs
        # and its commit replaces the directory whole. (Non-directory
        # outputs — single rendered files — keep the plain existence
        # check.)
        if out and os.path.exists(out) and not args.force:
            done = not os.path.isdir(out) or _spark_write_complete(out)
            if done:
                print(f"[prepare-corpus {i + 1}/{len(stages)}] {name}: "
                      f"output {out} exists, skipping (F9)")
                continue
            print(f"[prepare-corpus {i + 1}/{len(stages)}] {name}: "
                  f"output {out} has no _SUCCESS marker (partial write) "
                  f"— re-running")
        argv = [name]
        for k, v in stage_args.items():
            flag = f"--{k}"
            if isinstance(v, bool):
                if v:
                    argv.append(flag)
            else:
                argv.extend([flag, str(v)])
        print(f"[prepare-corpus {i + 1}/{len(stages)}] {name} "
              f"{' '.join(argv[1:])}")
        main(argv)
    print(f"prepare-corpus: {len(stages)} stages complete")


def cmd_corpus_similarity(spark, args) -> None:
    """All-pairs sparse tf-idf cosine over a parquet corpus (ApSS,
    Bayardo WWW'07): writes (id_a, id_b, n_shared_terms, cosine)
    parquet for every pair at or above ``--min_sim`` — the text-side
    near-dup / plagiarism / cross-source overlap pass when no
    embedding column exists. Candidate pairs arise only through
    shared word-n-gram terms (inverted-index self-join), never a
    corpus cross join; ``--max_df_frac`` prunes the quadratic
    stopword terms (see operators/textstats.sparse_cosine_pairs)."""
    from curw_flo2d_data_manager_spark.operators.textstats import (
        sparse_cosine_pairs,
    )

    df = _read_input(spark, args.input, "--input", (args.id_col, args.text_col))
    pairs = sparse_cosine_pairs(
        df,
        args.id_col,
        args.text_col,
        min_sim=args.min_sim,
        max_df_frac=args.max_df_frac,
        ngram=args.ngram,
    )
    n = _overwrite_parquet(pairs, args.output).count()
    print(
        f"corpus-similarity: {n} pairs with cosine >= {args.min_sim} "
        f"(ngram={args.ngram}) -> {args.output}"
    )


def cmd_graph_triangles(spark, args) -> None:
    """Per-node triangle counts over an undirected edge parquet —
    the clustering-coefficient primitive for duplicate-pair and
    co-occurrence graphs (operators/triangles.py: degree-oriented
    wedge enumeration, O(|E|^1.5) on any degree skew)."""
    from pyspark.sql import functions as F

    from curw_flo2d_data_manager_spark.operators.triangles import (
        triangle_counts,
    )

    edges = _read_input(spark, args.edges, "--edges", (args.src_col, args.dst_col))
    out = triangle_counts(edges, args.src_col, args.dst_col)
    agg = _overwrite_parquet(out, args.output).agg(
        F.count(F.lit(1)).alias("nodes"),
        F.sum("n_triangles").alias("corners"),
    ).collect()[0]
    total = (agg["corners"] or 0) // 3
    print(
        f"graph-triangles: {total} triangles across {agg['nodes']} nodes "
        f"-> {args.output}"
    )


def cmd_link_predict(spark, args) -> None:
    """Top-k predicted missing edges of an undirected edge parquet by
    resource-allocation / Jaccard / common-neighbor scores
    (operators/linkpredict.py: wedge enumeration at the shared
    neighbor, anti-join against existing edges, optional hub degree
    cap)."""
    from pyspark.sql import functions as F

    from curw_flo2d_data_manager_spark.operators.linkpredict import (
        link_prediction_scores,
    )

    edges = _read_input(spark, args.edges, "--edges", (args.src_col, args.dst_col))
    scores = link_prediction_scores(
        edges,
        args.src_col,
        args.dst_col,
        max_wedge_degree=args.max_degree,
    )
    out = scores.orderBy(
        F.desc("ra_fp"), "node_a", "node_b"
    ).limit(args.top_k)
    n = _overwrite_parquet(out, args.output).count()
    print(f"link-predict: top {n} candidate edges -> {args.output}")


def cmd_graph_distances(spark, args) -> None:
    """Multi-source BFS hop distances over an undirected edge parquet
    (operators/components.py::bfs_hops): nearest-seed distance per
    node up to --rounds hops; seeds come from a parquet of ids."""
    from pyspark.sql import functions as F

    from curw_flo2d_data_manager_spark.operators.components import (
        bfs_hops,
    )

    edges = _read_input(spark, args.edges, "--edges", (args.src_col, args.dst_col))
    seeds = _read_input(spark, args.seeds, "--seeds", (args.id_col,))
    out = bfs_hops(
        edges,
        seeds,
        n_rounds=args.rounds,
        src=args.src_col,
        dst=args.dst_col,
        id_col=args.id_col,
    )
    agg = _overwrite_parquet(out, args.output).agg(
        F.count(F.lit(1)).alias("n"), F.max("dist").alias("d")
    ).collect()[0]
    print(
        f"graph-distances: {agg['n']} nodes within {args.rounds} hops "
        f"(max dist {agg['d']}) -> {args.output}"
    )


def cmd_graph_hits(spark, args) -> None:
    """HITS hubs/authorities over a DIRECTED edge parquet in exact
    integer fixed-point (operators/pagerank.py::hits_fixed_point) —
    hub scores for fan-out nodes, authority scores for fan-in nodes,
    bit-identical across re-runs and partitionings."""
    from pyspark.sql import functions as F

    from curw_flo2d_data_manager_spark.operators.pagerank import (
        hits_fixed_point,
    )

    edges = _read_input(spark, args.edges, "--edges", (args.src_col, args.dst_col))
    out = _overwrite_parquet(
        hits_fixed_point(edges, src=args.src_col, dst=args.dst_col, iters=args.iters),
        args.output,
    )
    top = out.orderBy(F.desc("auth_fp"), "node").limit(3).collect()
    heads = ", ".join(f"{r.node}:{r.auth_fp}" for r in top)
    print(
        f"graph-hits: {out.count()} nodes scored over {args.iters} rounds "
        f"(top authorities {heads}) -> {args.output}"
    )


def cmd_train_classifier(spark, args) -> None:
    """Train the hashed linear quality classifier on a labeled parquet
    corpus (exact fixed-point GD — operators/mltrain.py) and write the
    learned weights as parquet (bucket, w_fp, w). Prints the training
    accuracy of the hard-sigmoid probe; the float ``w`` column feeds
    ``textstats.hash_classifier_score`` for corpus-scale scoring."""
    from pyspark.sql import functions as F

    from curw_flo2d_data_manager_spark.operators.mltrain import (
        hash_bucket,
        train_linear_classifier,
    )
    from curw_flo2d_data_manager_spark.operators.textstats import words

    df = _read_input(
        spark, args.input, "--input", (args.id_col, args.text_col, args.label_col)
    )
    scale = 10**8
    w = train_linear_classifier(
        df,
        label=F.col(args.label_col).cast("int"),
        id_col=args.id_col,
        text_col=args.text_col,
        n_buckets=args.buckets,
        iters=args.iters,
        scale=scale,
    )
    weights = _overwrite_parquet(
        w.select("bucket", "w_fp", (F.col("w_fp") / F.lit(float(scale))).alias("w")),
        args.output,
    )

    # training accuracy of the hard-sigmoid probe (same margin +
    # activation as training: predict 1 iff m_fp DIV 4 + S/2 >= S/2,
    # i.e. m_fp >= 0)
    x = (
        df.select(
            F.col(args.id_col).alias("_doc"),
            F.col(args.label_col).cast("int").alias("_y"),
            F.explode(words(args.text_col)).alias("term"),
        )
        .groupBy("_doc", "_y",
                 hash_bucket(F.col("term"), args.buckets).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    acc = (
        x.join(F.broadcast(weights.select("bucket", "w_fp")), "bucket")
        .groupBy("_doc", "_y")
        .agg(F.sum(F.col("x") * F.col("w_fp")).alias("m_fp"))
        .select(
            (
                (F.col("m_fp") >= 0).cast("int") == F.col("_y")
            ).cast("int").alias("hit")
        )
        .agg(F.avg("hit").alias("acc"), F.count(F.lit(1)).alias("n"))
        .collect()[0]
    )
    print(
        f"train-classifier: {args.buckets} buckets, {args.iters} epochs, "
        f"train accuracy {acc['acc']:.4f} over {acc['n']} docs "
        f"-> {args.output}"
    )


def cmd_corpus_stats(spark, args) -> None:
    """One-pass corpus health report: per-(lang, source) doc/token
    counts, mixture weights, and mean quality signals — the look-
    before-you-train summary. Writes parquet and prints the totals."""
    from pyspark.sql import functions as F

    from curw_flo2d_data_manager_spark.operators.textstats import (
        domain_mixture,
        gopher_quality_flags,
        normalize_text,
        whitespace_token_count,
    )

    group = [c for c in args.group_cols.split(",") if c]
    df = _read_input(spark, args.input, "--input", group + [args.text_col])
    if args.bpe:
        # budget in tokenizer tokens: join per-doc greedy-BPE counts
        # (vocabulary-scaled encode, operators/bpe.py) and let the
        # mixture aggregate sum them instead of whitespace words. Docs
        # whose normalized text is empty have no word rows — coalesce
        # to 0 tokens so they stay in the report's doc counts.
        from curw_flo2d_data_manager_spark.operators.bpe import (
            bpe_token_counts,
            load_merges,
        )

        vocab = load_merges(args.merges) if args.merges else None
        if args.byte_level and not args.merges:
            raise SystemExit(
                "--byte-level needs --merges (the built-in lexicon is "
                "trained over plain characters, not the byte alphabet)"
            )
        if args.id_col not in df.columns:
            raise SystemExit(
                f"--bpe needs --id_col present (got {args.id_col!r}, "
                f"input has {df.columns})"
            )
        # the per-doc counts join back on id_col: duplicate ids would
        # silently attach the COMBINED count to every duplicate row,
        # inflating n_tokens (round-12 advice) — fail loudly instead.
        # ONE corpus scan for both numbers (round-13 advice: the
        # separate count()/distinct().count() pair scanned twice).
        guard = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col(args.id_col)).alias("d"),
        ).collect()[0]
        n_rows, n_ids = guard["n"], guard["d"]
        if n_rows != n_ids:
            raise SystemExit(
                f"--bpe requires unique {args.id_col!r}: {n_rows} rows "
                f"but {n_ids} distinct ids — deduplicate or pass a "
                f"unique --id_col"
            )
        counts = bpe_token_counts(
            df, id_col=args.id_col, text_col=args.text_col,
            vocab=vocab, byte_level=args.byte_level,
        ).select(args.id_col, "n_bpe_tokens")
        df = df.join(counts, args.id_col, "left").withColumn(
            "n_bpe_tokens", F.coalesce(F.col("n_bpe_tokens"), F.lit(0))
        )
        mix = domain_mixture(
            df, group, args.text_col, alpha=args.alpha,
            token_count_col="n_bpe_tokens",
        )
    else:
        mix = domain_mixture(df, group, args.text_col, alpha=args.alpha)
    flags = df.select(
        *group,
        gopher_quality_flags(args.text_col).alias("f"),
        F.xxhash64(normalize_text(args.text_col)).alias("_fp"),
    ).groupBy(*group).agg(
        F.round(F.avg(F.col("f.word_count_ok").cast("int")), 4).alias("frac_word_count_ok"),
        F.round(F.avg(F.col("f.dup_lines_ok").cast("int")), 4).alias("frac_dup_lines_ok"),
        F.round(F.avg(F.col("f.symbol_ratio_ok").cast("int")), 4).alias("frac_symbol_ok"),
        # HLL++ distinct fingerprints vs rows: the exact-dup rate
        # estimate per domain, one scan, no extra shuffle of text
        F.round(
            F.greatest(
                F.lit(0.0),
                F.lit(1.0)
                - F.approx_count_distinct("_fp") / F.count(F.lit(1)),
            ),
            4,
        ).alias("approx_dup_rate"),
    )
    report = _overwrite_parquet(mix.join(flags, group).orderBy(*group), args.output)
    total = df.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(whitespace_token_count(args.text_col)).alias("tokens"),
    ).first()
    print(
        f"corpus-stats: {total['docs']} docs / {total['tokens']} tokens across "
        f"{report.count()} domains -> {args.output}"
    )


def cmd_profile_table(spark, args) -> None:
    """One-pass data-quality profile of a parquet table: per-column
    null counts, distinct cardinalities, ranges, means — the
    ingest-health relation drift checks diff between loads. One
    aggregate over one scan regardless of column count; exact
    distincts by default, --approx for the HLL no-Expand path at
    extreme scale."""
    from curw_flo2d_data_manager_spark.operators.profile import (
        profile_columns,
    )

    cols = [c.strip() for c in args.columns.split(",") if c.strip()]
    df = _read_input(spark, args.input, "--input", cols)
    prof = profile_columns(
        df, cols or df.columns, exact_distinct=not args.approx
    ).orderBy("col_name")
    if args.output:
        prof = _overwrite_parquet(prof.coalesce(1), args.output).orderBy("col_name")
    for r in prof.collect():  # bounded: one row per profiled column
        print(
            f"{r.col_name}: n={r.n_rows} null={r.n_null} "
            f"distinct={r.n_distinct} min={r.min_v} max={r.max_v} "
            f"avg={r.avg_v}"
        )


def cmd_detect_extremes(spark, args) -> None:
    """Extreme-event report over a series parquet: POT cluster peaks
    (runs-method declustering) and optional CUSUM drift flags — the
    post-extraction analysis a flood office runs on the gauge series
    the reference's extract scripts produce. Writes the peak table
    (and drift table with --cusum, committed together) and prints a
    summary."""
    from pyspark.sql import functions as F

    from curw_flo2d_data_manager_spark.operators.extremes import (
        cusum_drift,
        peaks_over_threshold,
    )

    keys = [c for c in args.key_cols.split(",") if c]
    df = _read_input(spark, args.input, "--input", keys + [args.ts_col, args.value_col])
    peaks_path = os.path.join(args.output, "peaks")
    drift_path = os.path.join(args.output, "drift_alarms")
    outputs = {
        peaks_path: peaks_over_threshold(
            df,
            value_col=args.value_col,
            ts_col=args.ts_col,
            key_cols=keys,
            threshold=args.threshold,
            min_gap_seconds=args.min_gap_seconds,
        )
    }
    if args.cusum:
        outputs[drift_path] = cusum_drift(
            df,
            value_col=args.value_col,
            ts_col=args.ts_col,
            key_cols=keys,
            target=args.cusum_target,
            slack=args.cusum_slack,
        ).filter(
            (F.col("cusum_pos") > args.cusum_alarm)
            | (F.col("cusum_neg") > args.cusum_alarm)
        )
    tables = _overwrite_parquets(outputs)
    summary = tables[peaks_path].agg(
        F.count(F.lit(1)).alias("clusters"),
        F.max("peak_value").alias("max_peak"),
        F.avg("excess").alias("mean_excess"),
    ).first()
    msg = (
        f"detect-extremes: {summary['clusters']} clusters above "
        f"{args.threshold} (max peak {summary['max_peak']}, mean excess "
        f"{round(summary['mean_excess'], 4) if summary['mean_excess'] is not None else None})"
    )
    if args.cusum:
        msg += f"; {tables[drift_path].count()} drift-alarm rows"
    print(msg + f" -> {args.output}")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="curw_flo2d_data_manager_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def _model_arg(value: str) -> str:
        # gen-rain also serves the open-ended flo2d_10 family
        # (reference: gen_rain.py:271-273 accepts any flo2d_10_*)
        from curw_flo2d_data_manager_spark.plans.models import (
            FLO2D_10_PATTERN,
            MODELS,
        )

        if value in MODELS or FLO2D_10_PATTERN.match(value):
            return value
        raise argparse.ArgumentTypeError(
            f"model should be one of {sorted(MODELS)} or 'flo2d_10_*'"
        )

    def _common(sp, open_models: bool = False):
        if open_models:
            sp.add_argument("-m", "--model", required=True, type=_model_arg)
        else:
            sp.add_argument("-m", "--model", required=True,
                            choices=["flo2d_250", "flo2d_150", "flo2d_150_v2"])
        sp.add_argument("-s", "--start_time", required=True)
        sp.add_argument("-e", "--end_time", required=True)
        sp.add_argument("--store", required=True, help="parquet store root")
        sp.add_argument("--out", required=True)
        sp.add_argument("--sim_tag", default="daily_run")
        sp.add_argument("--method", default="MME")
        sp.add_argument("--grid_id", default=None)

    sp = sub.add_parser("gen-inflow", help="INFLOW.DAT (K1)")
    _common(sp)
    sp.add_argument("--obs_wl", type=float, default=None)

    sp = sub.add_parser("gen-rain", help="RAIN.DAT (K4; flo2d_10_* via nearest gauge)")
    _common(sp, open_models=True)
    sp.add_argument("--lat", type=float, default=None,
                    help="flo2d_10 config point latitude (S4 nearest-gauge)")
    sp.add_argument("--lon", type=float, default=None,
                    help="flo2d_10 config point longitude")
    sp.add_argument("--rain_config", default=None,
                    help="config_flo2d_10.json path: model → {lat, lon}")
    sp.add_argument("--obs_stations", default=None,
                    help="weather-station dim parquet (default <store>/obs_stations)")

    sp = sub.add_parser("gen-raincell", help="RAINCELL.DAT (K3)")
    _common(sp)

    sp = sub.add_parser("gen-outflow", help="OUTFLOW.DAT (K2)")
    _common(sp)
    sp.add_argument("--tide_config", default=None, help="JSON node→grid_id map")
    sp.add_argument("--tail", default=None, help="verbatim tail asset (P3)")

    sp = sub.add_parser("gen-chan", help="CHAN.DAT (K5)")
    _common(sp)
    sp.add_argument("--body", required=True, help="body pairs template asset")
    sp.add_argument("--head", default=None)
    sp.add_argument("--tail", default=None)

    sp = sub.add_parser("init", help="register source + station dims (K9)")
    sp.add_argument("-m", "--model", required=True)
    sp.add_argument("--store", required=True)
    sp.add_argument("--grid_csv", required=True)
    sp.add_argument("--station_map", required=True, help="CHANNEL/FLOOD map JSON")

    sp = sub.add_parser(
        "extract-water-level",
        help="HYCHAN.OUT → forecast upsert (K7); --variable Discharge for extract_discharge parity",
    )
    sp.add_argument("-m", "--model", required=True)
    sp.add_argument("--hychan", required=True)
    sp.add_argument("--base_time", required=True)
    sp.add_argument("--store", required=True)
    sp.add_argument("--sim_tag", default="daily_run")
    sp.add_argument("--fgt", default=None)
    sp.add_argument("--extract_cut", default=None)
    sp.add_argument(
        "--utc_offset",
        default="+00:00",
        help="shift series timestamps and the extract cut by [+/-]HH:MM "
        "(reference getUTCOffset pattern-or-default semantics)",
    )
    sp.add_argument("--variable", default="WaterLevel", choices=["WaterLevel", "Discharge"])
    sp.add_argument("--timdep", default=None,
                    help="TIMDEP.OUT path — also extract flood-plain water levels")
    sp.add_argument("--flood_stations", default=None,
                    help="flood-plain station map parquet (defaults to --store stations)")
    sp.add_argument("--source_id", type=int, default=1)
    sp.add_argument("--variable_id", type=int, default=1)
    sp.add_argument("--template", default=None,
                    help="template archive path recorded in run_metadata (K8)")

    sp = sub.add_parser(
        "compact-store",
        help="compact small files in the date-partitioned fact layout",
    )
    sp.add_argument("--path", required=True, help="data/ directory of the store")
    sp.add_argument("--target_mb", type=int, default=128)
    sp.add_argument("--dates", nargs="*", default=None)

    sp = sub.add_parser(
        "archive-templates",
        help="tar.gz the FLO-2D template input files for event sims (K10)",
    )
    sp.add_argument("--source_dir", required=True)
    sp.add_argument("--name", default="template")

    sp = sub.add_parser(
        "dedup-corpus",
        help="dedup a parquet corpus: pairs -> connected components -> keep-one",
    )
    sp.add_argument("--input", required=True, help="input parquet path")
    sp.add_argument("--output", required=True, help="output parquet path")
    sp.add_argument("--id_col", default="doc_id")
    sp.add_argument("--text_col", default="text")
    sp.add_argument(
        "--method",
        choices=["exact", "minhash", "simhash", "winnow", "passage",
                 "containment"],
        default="minhash",
    )
    sp.add_argument("--passage_words", type=int, default=8,
                    help="passage: words per dedup window")
    sp.add_argument("--threshold", type=float, default=0.8,
                    help="minhash: jaccard verify threshold; "
                         "containment: |A∩B|/|A| threshold")
    sp.add_argument("--max_hamming", type=int, default=3,
                    help="simhash: max signature hamming distance")
    sp.add_argument("--min_shared", type=int, default=2,
                    help="winnow: min shared fingerprints per pair")
    sp.add_argument("--keep_only", action="store_true",
                    help="write only surviving rows (original columns)")

    sp = sub.add_parser(
        "train-classifier",
        help="fixed-point GD on a hashed linear probe -> weight parquet",
    )
    sp.add_argument("--input", required=True, help="labeled parquet path")
    sp.add_argument("--output", required=True, help="weights parquet path")
    sp.add_argument("--id_col", default="doc_id")
    sp.add_argument("--text_col", default="text")
    sp.add_argument("--label_col", required=True,
                    help="0/1 integer label column")
    sp.add_argument("--buckets", type=int, default=64)
    sp.add_argument("--iters", type=int, default=3)

    sp = sub.add_parser(
        "corpus-similarity",
        help="all-pairs sparse tf-idf cosine (ApSS) -> pair parquet",
    )
    sp.add_argument("--input", required=True, help="input parquet path")
    sp.add_argument("--output", required=True, help="pair parquet path")
    sp.add_argument("--id_col", default="doc_id")
    sp.add_argument("--text_col", default="text")
    sp.add_argument("--min_sim", type=float, default=0.8)
    sp.add_argument("--max_df_frac", type=float, default=0.25,
                    help="drop terms in more than this fraction of docs")
    sp.add_argument("--ngram", type=int, default=3,
                    help="word n-gram term size (1 = unigrams)")

    sp = sub.add_parser(
        "graph-triangles",
        help="per-node triangle counts over an undirected edge parquet",
    )
    sp.add_argument("--edges", required=True, help="edge parquet path")
    sp.add_argument("--output", required=True, help="output parquet path")
    sp.add_argument("--src_col", default="src")
    sp.add_argument("--dst_col", default="dst")

    sp = sub.add_parser(
        "link-predict",
        help="top-k predicted missing edges (RA / Jaccard / common "
        "neighbors) over an undirected edge parquet",
    )
    sp.add_argument("--edges", required=True, help="edge parquet path")
    sp.add_argument("--output", required=True, help="output parquet path")
    sp.add_argument("--src_col", default="src")
    sp.add_argument("--dst_col", default="dst")
    sp.add_argument("--top_k", type=int, default=100)
    sp.add_argument(
        "--max_degree", type=int, default=None,
        help="drop shared neighbors above this degree (hub cap)",
    )

    sp = sub.add_parser(
        "graph-distances",
        help="multi-source BFS hop distances over an undirected edge "
        "parquet",
    )
    sp.add_argument("--edges", required=True, help="edge parquet path")
    sp.add_argument("--seeds", required=True, help="seed-id parquet path")
    sp.add_argument("--output", required=True, help="output parquet path")
    sp.add_argument("--src_col", default="src")
    sp.add_argument("--dst_col", default="dst")
    sp.add_argument("--id_col", default="id")
    sp.add_argument("--rounds", type=int, default=6)

    sp = sub.add_parser(
        "graph-hits",
        help="HITS hubs/authorities over a directed edge parquet "
        "(exact integer fixed-point)",
    )
    sp.add_argument("--edges", required=True, help="edge parquet path")
    sp.add_argument("--output", required=True, help="output parquet path")
    sp.add_argument("--src_col", default="src")
    sp.add_argument("--dst_col", default="dst")
    sp.add_argument("--iters", type=int, default=4)

    sp = sub.add_parser(
        "corpus-stats",
        help="per-domain doc/token counts, mixture weights, quality-gate rates",
    )
    sp.add_argument("--input", required=True, help="input parquet path")
    sp.add_argument("--output", required=True, help="report parquet path")
    sp.add_argument("--group_cols", default="lang,source")
    sp.add_argument("--text_col", default="text")
    sp.add_argument("--alpha", type=float, default=0.7)
    sp.add_argument("--id_col", default="doc_id")
    sp.add_argument("--bpe", action="store_true",
                    help="budget n_tokens in greedy-BPE subword tokens "
                         "(operators/bpe.py) instead of whitespace words")
    sp.add_argument("--merges", default=None,
                    help="with --bpe: path to a public-format BPE "
                         "merges file (one 'left right' pair per line, "
                         "#version header ok — e.g. a trained "
                         "tokenizer's merges.txt or the output of "
                         "tools/train_bpe_merges.py); default is the "
                         "built-in 47-token lexicon")
    sp.add_argument("--byte-level", action="store_true", dest="byte_level",
                    help="with --bpe: encode over the public byte-level "
                         "alphabet (GPT-2 byte-to-unicode mapping) for "
                         "merges tables trained that way")

    sp = sub.add_parser(
        "chunk-corpus",
        help="split long docs into fixed word windows; --pack bins the "
             "chunks against a token budget",
    )
    sp.add_argument("--input", required=True, help="input parquet path")
    sp.add_argument("--output", required=True, help="output parquet path")
    sp.add_argument("--id_col", default="doc_id")
    sp.add_argument("--text_col", default="text")
    sp.add_argument("--chunk_words", type=int, default=256)
    sp.add_argument("--overlap", type=int, default=0)
    sp.add_argument("--pack", action="store_true",
                    help="also assign packing bins (adds bin_id/bin_offset)")
    sp.add_argument("--budget", type=int, default=2048,
                    help="pack: tokens per bin")

    sp = sub.add_parser(
        "materialize-mix",
        help="epoch plan -> physical training mix (downsample once / "
             "repeat with epoch stamps)",
    )
    sp.add_argument("--input", required=True, help="input parquet path")
    sp.add_argument("--output", required=True, help="output parquet path")
    sp.add_argument("--id_col", default="doc_id")
    sp.add_argument("--text_col", default="text")
    sp.add_argument("--group_cols", default="lang,source")
    sp.add_argument("--target_tokens", type=int, default=1_000_000)
    sp.add_argument("--alpha", type=float, default=0.7)
    sp.add_argument("--salt", default="")

    sp = sub.add_parser(
        "dedup-embeddings",
        help="semantic dedup of an embedding corpus: IVF assign -> "
             "within-cluster cosine -> keep-one (SemDeDup recipe)",
    )
    sp.add_argument("--input", required=True, help="input parquet path")
    sp.add_argument("--output", required=True, help="output parquet path")
    sp.add_argument("--id_col", default="vec_id")
    sp.add_argument("--vec_col", default="embedding")
    sp.add_argument("--threshold", type=float, default=0.95,
                    help="cosine duplicate threshold")
    sp.add_argument("--clusters", type=int, default=None,
                    help="IVF cluster count (default rows/500)")
    sp.add_argument("--keep_only", action="store_true",
                    help="write only surviving rows (original columns)")

    sp = sub.add_parser(
        "import-corpus",
        help="JSONL (optionally .gz) -> parquet corpus, optional Z-order layout",
    )
    sp.add_argument("--input", required=True, help="jsonl path/glob")
    sp.add_argument("--output", required=True, help="output parquet path")
    sp.add_argument("--schema", default=None,
                    help="DDL schema (e.g. 'doc_id long, text string'); "
                         "inferred when omitted")
    sp.add_argument("--select", default=None,
                    help="comma-separated columns to keep (project early)")
    sp.add_argument("--zorder", default=None,
                    help="comma-separated numeric/timestamp columns to "
                         "Z-order the layout by")
    sp.add_argument("--files", type=int, default=None,
                    help="output file count (default: shuffle partitions)")
    sp.add_argument("--strip-html", default=None, metavar="COL",
                    help="strip HTML markup / decode entities in this "
                         "text column during import (crawl ingestion)")

    sp = sub.add_parser(
        "export-corpus",
        help="parquet corpus -> deterministic JSONL shards (optional gzip)",
    )
    sp.add_argument("--input", required=True, help="input parquet path")
    sp.add_argument("--output", required=True, help="output JSONL directory")
    sp.add_argument("--key-col", default="doc_id",
                    help="column whose md5 decides the shard (stable re-exports)")
    sp.add_argument("--shards", type=int, default=8)
    sp.add_argument("--gzip", action="store_true")

    sp = sub.add_parser(
        "prepare-corpus",
        help="run a JSON pipeline spec of corpus stages with "
             "skip-if-output-exists resumability",
    )
    sp.add_argument("--spec", required=True, help="pipeline spec JSON path")
    sp.add_argument("--force", action="store_true",
                    help="re-run stages whose output already exists")

    sp = sub.add_parser(
        "split-corpus",
        help="deterministic leak-free train/val/test split of a parquet corpus",
    )
    sp.add_argument("--input", required=True, help="input parquet path")
    sp.add_argument("--output", required=True,
                    help="output root; each split lands under <output>/<name>")
    sp.add_argument("--key_cols", default="doc_id",
                    help="comma-separated split-key columns (same key -> same split)")
    sp.add_argument("--fractions", default="train=0.8,val=0.1,test=0.1",
                    help="name=frac[,name=frac...]; sums <= 1, remainder unassigned")
    sp.add_argument("--salt", default="", help="independent resample handle")

    sp = sub.add_parser(
        "decontam-corpus",
        help="drop corpus rows whose fingerprint appears in a blocklist "
             "corpus (Bloom-prefiltered exact anti-join)",
    )
    sp.add_argument("--input", required=True, help="corpus parquet path")
    sp.add_argument("--blocklist", required=True,
                    help="blocklist parquet path (benchmark / trained shard)")
    sp.add_argument("--output", required=True)
    sp.add_argument("--key-col", default=None,
                    help="fingerprint column present in both inputs; "
                         "default: md5 of --text-col")
    sp.add_argument("--blocklist-key-col", default=None,
                    help="blocklist fingerprint column if named differently")
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--m-bits", type=int, default=0,
                    help="Bloom size in bits (0 = auto: ~10 bits/key, "
                         "next power of two)")
    sp.add_argument("--k", type=int, default=5, help="Bloom hash count")

    sp = sub.add_parser(
        "score-corpus",
        help="per-doc training-data signals: profile (tokens/quality/lang), "
             "unigram-LM logprob, DSIR target weights",
    )
    sp.add_argument("--input", required=True, help="corpus parquet path")
    sp.add_argument("--output", required=True)
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--signals", default="profile",
                    help="comma list of profile,unigram,dsir,spans")
    sp.add_argument("--lang-col", default="lang",
                    help="language column for the dsir target subset")
    sp.add_argument("--target-lang", default="en",
                    help="dsir target domain: rows with lang-col == this")

    sp = sub.add_parser(
        "build-ann-index",
        help="build/append a persisted IVF(-PQ) ANN index: "
             "partitionBy(cluster) assignments + centers JSON (+ PQ codes)",
    )
    sp.add_argument("--input", required=True, help="embeddings parquet path")
    sp.add_argument("--output", required=True, help="index directory")
    sp.add_argument("--id-col", default="vec_id")
    sp.add_argument("--vec-col", default="embedding")
    sp.add_argument("--clusters", type=int, default=None,
                    help="IVF cells (default rows/500, min 4)")
    sp.add_argument("--pq", action="store_true",
                    help="also train PQ codebooks and persist packed codes")
    sp.add_argument("--pq-m", type=int, default=8, help="PQ subspaces")
    sp.add_argument("--pq-ksub", type=int, default=16,
                    help="centroids per subspace")
    sp.add_argument("--append", action="store_true",
                    help="assign a new batch against the stored quantizer "
                         "(no retrain) and append")

    sp = sub.add_parser(
        "ann-index-stats",
        help="cell-balance / consistency report for a persisted ANN index",
    )
    sp.add_argument("--index", required=True, help="index directory")

    sp = sub.add_parser(
        "compact-ann-index",
        help="re-train the quantizer and re-assign a skewed index "
             "(after --append drift); no-op below the skew threshold",
    )
    sp.add_argument("--index", required=True, help="index directory")
    sp.add_argument("--skew-threshold", type=float, default=3.0,
                    help="rebalance when largest cell >= this x ideal")
    sp.add_argument("--clusters", type=int, default=None,
                    help="new cell count (default rows/500, min 4)")
    sp.add_argument("--force", action="store_true",
                    help="rebalance regardless of the skew measurement")

    sp = sub.add_parser(
        "query-ann-index",
        help="top-k ANN search against a persisted index "
             "(IVF probe + rerank; IVF-PQ when codes exist)",
    )
    sp.add_argument("--index", required=True, help="index directory")
    sp.add_argument("--queries", required=True, help="query vectors parquet")
    sp.add_argument("--output", default=None, help="hit-list parquet path")
    sp.add_argument("--query-id-col", default="vec_id")
    sp.add_argument("--query-vec-col", default=None,
                    help="defaults to the index's vector column")
    sp.add_argument("--k", type=int, default=10)
    sp.add_argument("--nprobe", type=int, default=4)
    sp.add_argument("--candidate-mult", type=int, default=4,
                    help="ADC candidates per final hit (PQ mode)")
    sp.add_argument("--exact", action="store_true",
                    help="skip the PQ ADC stage even when codes exist")
    sp.add_argument("--diversify", type=int, default=0,
                    help="MMR re-rank the top-k down to this many "
                         "diverse hits (0 = off)")
    sp.add_argument("--mmr-lam", type=float, default=0.7,
                    help="MMR relevance weight λ (1.0 = pure "
                         "relevance, 0.0 = pure diversity)")

    sp = sub.add_parser(
        "search-corpus",
        help="Okapi BM25 retrieval: top-k documents for a query term bag",
    )
    sp.add_argument("--input", required=True, help="corpus parquet path")
    sp.add_argument("--query", required=True,
                    help="query text (tokenized like the corpus)")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--k", type=_bounded_k, default=10,
                    help="top-k hits (1..10000 — the hit list is "
                         "collected to the driver for printing)")
    sp.add_argument("--k1", type=float, default=1.2)
    sp.add_argument("--b", type=float, default=0.75)
    sp.add_argument("--output", default=None,
                    help="optional parquet path for the hit list; "
                         "hits always print to stdout")

    sp = sub.add_parser(
        "detect-extremes",
        help="POT cluster peaks + optional CUSUM drift alarms over a "
             "series parquet (runs-method declustering)",
    )
    sp.add_argument("--input", required=True, help="series parquet")
    sp.add_argument("--output", required=True,
                    help="output root (peaks/, drift_alarms/)")
    sp.add_argument("--key_cols", default="",
                    help="comma-separated series key columns")
    sp.add_argument("--ts_col", default="ts")
    sp.add_argument("--value_col", default="value")
    sp.add_argument("--threshold", type=float, required=True)
    sp.add_argument("--min_gap_seconds", type=float, default=3600.0,
                    help="runs-declustering separation")
    sp.add_argument("--cusum", action="store_true",
                    help="also write CUSUM drift alarms")
    sp.add_argument("--cusum_target", type=float, default=0.0)
    sp.add_argument("--cusum_slack", type=float, default=0.5)
    sp.add_argument("--cusum_alarm", type=float, default=5.0)

    sp = sub.add_parser(
        "profile-table",
        help="one-pass per-column null/distinct/range/mean profile "
             "of a parquet table",
    )
    sp.add_argument("--input", required=True, help="input parquet path")
    sp.add_argument("--output", default=None,
                    help="optional profile parquet path")
    sp.add_argument("--columns", default="",
                    help="comma-separated columns (default: all)")
    sp.add_argument("--approx", action="store_true",
                    help="HLL distinct counts (no Expand; the "
                         "extreme-scale path)")
    return p


# subcommands that run no Spark job of their own
_NO_SESSION = ("archive-templates", "prepare-corpus")


def main(argv=None) -> None:
    """Parse ``argv``, skip a generator whose ``--out`` exists (F9),
    and run subcommand ``x-y`` as ``cmd_x_y(spark, args)`` in the one
    session built here (None for ``_NO_SESSION``)."""
    args = build_parser().parse_args(argv)
    if getattr(args, "out", None) and _skip_existing(args.out):
        return
    spark = None
    if args.cmd not in _NO_SESSION:
        from curw_flo2d_data_manager_spark.session import get_spark

        spark = get_spark(app_name=args.cmd)
    globals()["cmd_" + args.cmd.replace("-", "_")](spark, args)


if __name__ == "__main__":
    main()
