"""The workloads: inputs, one operation, its verification, and the
per-layer metrics of a traced operation.

Each operation goes through the package's public entry points only:
``cli.main`` argv for the CLI workloads and ``queries.queries()`` for
the headline. One client runs operations back to back (a closed loop),
the way a cron-driven batch job does.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil

import expected
import inputs
from tracer import Span, inclusive

MIB = float(1 << 20)

# bench.py's headline, pinned here so the benchmark does not depend on
# that script.
HEADLINE = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q6_revenue_change", "q10_returned_items", "q13_order_distribution",
    "s1_series_range_scan", "s2_grid_scan_correction", "s3_first_value_lookup",
    "j1_calendar_spine", "j2_dim_enrichment", "j5_semi_join", "j8_gap_fill",
    "a2_resample_right_closed", "a4_cumulative_fraction", "w3_fill_down",
    "w_sessionize_events", "x_pivot_event_types", "x11_series_hash_id",
    "k2_outflow_render", "k3_raincell_render", "k4_rain_render", "o2_ordered_topk",
    "dedup_exact", "dedup_fingerprint", "dedup_minhash_lsh", "dedup_simhash",
    "sim_cosine_topk", "text_token_counts", "text_quality", "text_lang_id",
]


def cached(state: str, key: str, build) -> dict:
    """Inputs for ``key`` under ``state/inputs/key``: built once by
    ``build(dir) -> meta`` and reused while the READY marker exists."""
    root = os.path.join(state, "inputs", key)
    ready = os.path.join(root, "READY")
    if not os.path.exists(ready):
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        meta = build(root)
        with open(os.path.join(root, "meta.json"), "w") as fh:
            json.dump(meta, fh, sort_keys=True)
        open(ready, "w").close()
    with open(os.path.join(root, "meta.json")) as fh:
        return json.load(fh)


def _quiet_cli(argv: list[str]) -> None:
    from curw_flo2d_data_manager_spark import cli

    with contextlib.redirect_stdout(io.StringIO()):
        cli.main(argv)


# ------------------------------------------------------------ metric helpers
def _named(spans: list[Span], pred) -> list[int]:
    return [i for i, s in enumerate(spans) if pred(s.name)]


def _dur(spans, idx) -> float:
    return sum(spans[i].end - spans[i].start for i in idx)


def _inc(inc, idx, key) -> float:
    return sum(inc[i][key] for i in idx)


def common_metrics(spans: list[Span]) -> dict:
    """Metrics every traced operation reports; span 0 is the operation."""
    inc = inclusive(spans)
    top = [i for i, s in enumerate(spans) if s.parent == 0]
    wall = spans[0].end - spans[0].start
    return {
        "spark.jobs": inc[0]["jobs"],
        "spark.stages": inc[0]["stages"],
        "spark.task_cpu_s": inc[0]["task_cpu_s"],
        "trace.coverage": _dur(spans, top) / wall,
    }


class Workload:
    name = ""

    def __init__(self, state: str, seed: int):
        self.state, self.seed = state, seed
        self.work = os.path.join(state, "work", f"{self.name}-{os.getpid()}")

    def prepare(self) -> None:
        """Generate (or reuse) inputs and expected outputs. Untimed."""

    def bind(self, spark) -> None:
        self.spark = spark

    def before(self, i: int) -> None:
        """Untimed per-operation set-up."""

    def op(self, i: int, tracer) -> None:
        raise NotImplementedError

    def verify(self, i: int) -> list[str]:
        raise NotImplementedError

    def after(self, i: int) -> None:
        shutil.rmtree(os.path.join(self.work, f"op{i}"), ignore_errors=True)

    def install(self, tracer) -> None:
        """Wrap the entry points this workload's layers go through."""

    def layer_metrics(self, spans: list[Span]) -> dict:
        return {}


# ------------------------------------------------------------ forecast_inputs
GEN_COMMANDS = ("gen_raincell", "gen_inflow", "gen_outflow", "gen_rain", "gen_chan")


class ForecastInputs(Workload):
    """The read/render half of a cycle: the five gen-* commands."""

    def prepare(self):
        def build(root):
            meta = inputs.forecast_inputs(self.seed, root)
            meta["expected"] = expected.forecast_expected(
                meta, inputs.forecast_series(root))
            return meta

        self.meta = cached(self.state, f"forecast_inputs-s{self.seed}", build)

    def op(self, i, tracer):
        m = self.meta
        out = os.path.join(self.work, f"op{i}")
        os.makedirs(out, exist_ok=True)
        a = m["assets"]
        common = ["-m", inputs.MODEL, "-s", m["start"], "-e", m["end"], "--store", m["store"]]
        _quiet_cli(["gen-raincell", *common, "--out", f"{out}/RAINCELL.DAT"])
        _quiet_cli(["gen-inflow", *common, "--out", f"{out}/INFLOW.DAT",
                    "--grid_id", inputs.INFLOW_GRID])
        _quiet_cli(["gen-outflow", *common, "--out", f"{out}/OUTFLOW.DAT",
                    "--tide_config", f"{a}/tide.json", "--tail", f"{a}/outflow_tail.txt"])
        _quiet_cli(["gen-rain", *common, "--out", f"{out}/RAIN.DAT",
                    "--grid_id", inputs.RAIN_GRID])
        _quiet_cli(["gen-chan", *common, "--out", f"{out}/CHAN.DAT",
                    "--body", f"{a}/chan_body.txt", "--head", f"{a}/chan_head.txt",
                    "--tail", f"{a}/chan_tail.txt"])

    def verify(self, i):
        return expected.verify_forecast_outputs(
            os.path.join(self.work, f"op{i}"), self.meta["expected"])

    def install(self, tracer):
        from curw_flo2d_data_manager_spark import cli
        from curw_flo2d_data_manager_spark.plans import chan, inflow, outflow, rain, raincell
        from curw_flo2d_data_manager_spark.sinks import ordered_text
        from curw_flo2d_data_manager_spark.store import TimeseriesStore

        for c in GEN_COMMANDS:
            tracer.wrap(cli, f"cmd_{c}", f"cli.{c}")
        tracer.wrap(cli, "_load_store", "store.open")
        for meth in ("get_timeseries", "get_timeseries_by_meta", "get_timeseries_by_grid_ids"):
            tracer.wrap(TimeseriesStore, meth, f"plans.store.{meth}")
        for mod in (raincell, inflow, outflow, rain, chan):
            fn = f"{mod.__name__.rsplit('.', 1)[1]}_lines"
            tracer.wrap(mod, fn, f"plans.{fn}")
        tracer.wrap(ordered_text, "write_ordered_text", "sinks.ordered_text")

    def layer_metrics(self, spans):
        inc = inclusive(spans)
        out = {f"cli.{c}.s": _dur(spans, _named(spans, lambda n, c=c: n == f"cli.{c}"))
               for c in GEN_COMMANDS}
        opened = _named(spans, lambda n: n == "store.open")
        sink = _named(spans, lambda n: n == "sinks.ordered_text")
        sink_s, spark_s = _dur(spans, sink), _inc(inc, sink, "spark_s")
        out.update({
            "store.open_s": _dur(spans, opened),
            "store.open_jobs": _inc(inc, opened, "jobs"),
            "plans.build_s": _dur(spans, _named(spans, lambda n: n.startswith("plans."))),
            "sinks.ordered_text.s": sink_s,
            "sinks.ordered_text.spark_s": spark_s,
            "sinks.ordered_text.driver_s": sink_s - spark_s,
            "sinks.ordered_text.jobs": _inc(inc, sink, "jobs"),
            "sinks.ordered_text.task_cpu_s": _inc(inc, sink, "task_cpu_s"),
            "sinks.ordered_text.shuffle_write_mib": _inc(inc, sink, "shuffle_write_bytes") / MIB,
            "sinks.ordered_text.output_mib": _inc(inc, sink, "output_bytes") / MIB,
        })
        return out


# ----------------------------------------------------------- forecast_extract
COMMIT_TARGETS = ("fcst_data", "fcst_latest_fgt", "run_metadata")


class ForecastExtract(Workload):
    """The write half of a cycle: one extract-water-level with TIMDEP
    into a store that already holds a long forecast history."""

    def prepare(self):
        self.meta = cached(self.state, f"forecast_extract-s{self.seed}",
                           lambda root: inputs.forecast_extract(self.seed, root))

    def _store(self, i):
        return os.path.join(self.work, f"op{i}", "store")

    def before(self, i):
        # every operation starts from a pristine copy of the store
        shutil.copytree(self.meta["store"], self._store(i))

    def op(self, i, tracer):
        m = self.meta
        _quiet_cli(["extract-water-level", "-m", inputs.MODEL, "--hychan", m["hychan"],
                    "--base_time", m["base_time"], "--store", self._store(i),
                    "--fgt", m["fgt"], "--timdep", m["timdep"],
                    "--flood_stations", m["flood_stations"]])

    def verify(self, i):
        return expected.verify_extract(self._store(i), self.meta)

    def install(self, tracer):
        from curw_flo2d_data_manager_spark import cli
        from curw_flo2d_data_manager_spark.sinks import upsert
        from curw_flo2d_data_manager_spark.sources import hychan, timdep

        tracer.wrap(cli, "cmd_extract_water_level", "cli.extract_water_level")
        tracer.wrap(hychan, "parse_hychan", "sources.parse_hychan")
        tracer.wrap(timdep, "parse_timdep", "sources.parse_timdep")
        tracer.wrap(upsert, "merge_upsert", "commit.merge")
        tracer.wrap(cli, "_overwrite_parquet",
                    lambda df, target: f"commit.{os.path.basename(target)}")

    def layer_metrics(self, spans):
        m = self.meta
        inc = inclusive(spans)
        read = inc[0]["input_bytes"]
        out = {
            "sources.build_s": _dur(spans, _named(spans, lambda n: n.startswith("sources."))),
            "sources.text_read_mib": read / MIB,
            "sources.reread_factor": read / m["text_bytes"],
            "extract.history_rows": m["history_rows"],
        }
        commits = []
        for t in COMMIT_TARGETS:
            idx = _named(spans, lambda n, t=t: n == f"commit.{t}")
            out[f"commit.{t}.s"] = _dur(spans, idx)
            commits += idx
        written = _inc(inc, commits, "output_bytes")
        fcst = _inc(inc, _named(spans, lambda n: n == "commit.fcst_data"), "output_bytes")
        new_share = m["new_rows"] / (m["history_rows"] + m["new_rows"])
        out.update({
            "commit.jobs": _inc(inc, commits, "jobs"),
            "commit.stages": _inc(inc, commits, "stages"),
            "commit.task_cpu_s": _inc(inc, commits, "task_cpu_s"),
            "commit.shuffle_write_mib": _inc(inc, commits, "shuffle_write_bytes") / MIB,
            "commit.written_mib": written / MIB,
            "commit.write_amp": written / (fcst * new_share) if fcst else 0.0,
        })
        return out


class ForecastCycle(Workload):
    """One forecast cycle: render the five FLO-2D inputs, then extract
    the model's outputs back into the store. Both halves share one
    session and one cold start, as in one cron-driven cycle."""

    name = "forecast_cycle"

    def __init__(self, state, seed):
        super().__init__(state, seed)
        self.parts = (ForecastInputs(state, seed), ForecastExtract(state, seed))
        for p in self.parts:
            p.work = self.work

    def prepare(self):
        for p in self.parts:
            p.prepare()

    def before(self, i):
        for p in self.parts:
            p.before(i)

    def op(self, i, tracer):
        for p in self.parts:
            p.op(i, tracer)

    def verify(self, i):
        return [e for p in self.parts for e in p.verify(i)]

    def install(self, tracer):
        for p in self.parts:
            p.install(tracer)

    def layer_metrics(self, spans):
        return {k: v for p in self.parts for k, v in p.layer_metrics(spans).items()}


# ------------------------------------------------------------------ headline31
class Headline31(Workload):
    name = "headline31"

    def prepare(self):
        # Fixed inputs: the seed is ignored, so they are built once per
        # checkout together with their oracle fingerprints.
        def build(root):
            from curw_flo2d_data_manager_spark import queries

            meta = inputs.headline_tables(os.path.join(root, "sf"))
            meta["oracle"] = expected.oracle_fingerprints(
                meta["dir"], HEADLINE, queries.oracle_sql())
            return meta

        self.meta = cached(self.state, f"headline31-s{inputs.HEADLINE_SEED}", build)
        self.results: dict = {}

    def bind(self, spark):
        from curw_flo2d_data_manager_spark import queries
        from curw_flo2d_data_manager_spark.operators.caching import release_caches

        super().bind(spark)
        self.queries = queries.queries()
        self.release = release_caches

    def op(self, i, tracer):
        span = tracer.span if tracer else (lambda name: contextlib.nullcontext())
        results = {}
        for name in HEADLINE:
            with span(f"queries.{name}"):
                with span("queries.build"):
                    df = self.queries[name](self.spark, self.meta["dir"])
                with span("queries.run"):
                    results[name] = (df.columns, df.collect())
                self.release()
        self.results[i] = results

    def verify(self, i):
        results = self.results.pop(i)
        errors = []
        for name, (cols, rows) in results.items():
            got = expected.fingerprint(cols, rows)
            # queries without an oracle must at least be stable across passes
            want = self.meta["oracle"].setdefault(name, got)
            if got != want:
                errors.append(f"{name}: result fingerprint differs from its oracle")
        return errors

    def layer_metrics(self, spans):
        inc = inclusive(spans)
        build = _named(spans, lambda n: n == "queries.build")
        run = _named(spans, lambda n: n == "queries.run")
        out = {
            "queries.build_s": _dur(spans, build),
            "queries.build_jobs": _inc(inc, build, "jobs"),
            "queries.run_s": _dur(spans, run),
            "queries.run_jobs": _inc(inc, run, "jobs"),
            "queries.stages": inc[0]["stages"],
            "queries.task_cpu_s": inc[0]["task_cpu_s"],
            "queries.scan_mib": inc[0]["input_bytes"] / MIB,
            "queries.shuffle_write_mib": inc[0]["shuffle_write_bytes"] / MIB,
        }
        for name in HEADLINE:
            out[f"queries.{name}.s"] = _dur(spans, _named(spans, lambda n: n == f"queries.{name}"))
        return out


WORKLOADS = {w.name: w for w in (ForecastCycle, Headline31)}
