"""``commit`` — the one path by which new content becomes visible.

Each fault-injection case below interrupts one commit site of the CLI,
the store or a stream at its worst moment (mid-concat, mid-``json.dump``, or
between a directory swap's two renames) and checks that the target is
left fully old, and that the next run converges to the uninterrupted
result. The read-half cases check that ``commit.table`` gives what
``spark.read.parquet`` gives, and re-resolves a path after any change.
"""

import ast
import json
import os
import shutil
from collections import Counter
from datetime import datetime, timedelta
from pathlib import Path

import pytest

from curw_flo2d_data_manager_spark import commit
from curw_flo2d_data_manager_spark.cli import main, merge_run_manifest

PACKAGE_DIR = Path(__file__).resolve().parent.parent / "curw_flo2d_data_manager_spark"


def _rename_crashing(monkeypatch, should_crash):
    """Patch ``os.rename`` to raise once, on the first call for which
    ``should_crash(src, dst)`` holds."""
    real_rename = os.rename
    crashed = []

    def rename(src, dst):
        if not crashed and should_crash(src, dst):
            crashed.append(src)
            raise OSError("injected crash between the swap renames")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename)


# ------------------------------------------------------------------ guard
def rename_calls(source: str) -> list[int]:
    """Lines that call ``os.rename``/``os.replace``/``os.link`` or import
    them from ``os``: the calls that lay out a table's files."""
    names = {"rename", "replace", "link"}
    hits = []
    for node in ast.walk(ast.parse(source)):
        if (
            isinstance(node, ast.Attribute)
            and node.attr in names
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        ):
            hits.append(node.lineno)
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            hits += [node.lineno for a in node.names if a.name in names]
    return hits


def test_only_commit_module_renames():
    offenders = {
        str(p.relative_to(PACKAGE_DIR)): lines
        for p in sorted(PACKAGE_DIR.rglob("*.py"))
        if p.name != "commit.py" and (lines := rename_calls(p.read_text()))
    }
    assert not offenders, (
        f"os.rename/os.replace/os.link outside commit.py (file:lines): {offenders}"
    )


def test_guard_sees_attribute_and_from_imports():
    src = (
        "import os\n"
        "from os import replace\n"
        "os.rename('a', 'b')\n"
        "s.replace('x', 'y')\n"
    )
    assert rename_calls(src) == [2, 3]


def test_guard_sees_os_link():
    src = "import os\nfrom os import link as ln\nos.link('a', 'b')\nos.path.join('a')\n"
    assert rename_calls(src) == [2, 3]


def overwrite_mode_calls(source: str) -> list[int]:
    """Lines that ask a Spark writer for its in-place overwrite, which
    deletes the target before the job runs: ``.mode("overwrite")``, or
    ``mode="overwrite"`` passed to any call."""
    hits = []
    for node in ast.walk(ast.parse(source)):
        if not isinstance(node, ast.Call):
            continue
        values = [k.value for k in node.keywords if k.arg == "mode"]
        if isinstance(node.func, ast.Attribute) and node.func.attr == "mode":
            values += node.args
        if any(isinstance(v, ast.Constant) and v.value == "overwrite" for v in values):
            hits.append(node.lineno)
    return sorted(hits)


@pytest.mark.parametrize("module", ["cli.py", "streaming/ingest.py"])
def test_cli_never_overwrites_in_place(module):
    lines = overwrite_mode_calls((PACKAGE_DIR / module).read_text())
    assert not lines, f"Spark in-place overwrite in {module} (lines {lines}): use commit.replace"


def test_guard_sees_overwrite_mode():
    src = (
        "df.write.mode('overwrite').parquet(p)\n"
        "df.write.mode('append').parquet(p)\n"
        "w.save(p, format='json', mode='overwrite')\n"
        "x.mode(m)\n"
        "s.replace('overwrite', 'y')\n"
    )
    assert overwrite_mode_calls(src) == [1, 3]


def _file_bytes(root: str) -> dict:
    """Every file under ``root`` by relative path, with its bytes."""
    return {
        os.path.relpath(os.path.join(d, n), root): open(os.path.join(d, n), "rb").read()
        for d, _, names in os.walk(root)
        for n in names
    }


# -------------------------------------------------------- commit sites
def test_gen_raincell_crash_mid_concat_leaves_no_file(spark, tmp_path, monkeypatch):
    """A crash while the .DAT is being concatenated must leave nothing
    at ``--out``; otherwise the skip-if-exists gate keeps the truncated
    file forever. The re-run must then write the uninterrupted bytes."""
    store = str(tmp_path / "store")
    t0 = datetime(2024, 1, 1)
    spark.createDataFrame(
        [
            (c, t0 + timedelta(minutes=15 * (s + 1)), 0.25 * s + 0.001 * c)
            for s in range(4)
            for c in (11, 12, 13)
        ],
        "cell_id int, time timestamp, value double",
    ).write.parquet(os.path.join(store, "raincell"))

    def gen(out_dir):
        os.makedirs(out_dir, exist_ok=True)
        out = os.path.join(out_dir, "RAINCELL.DAT")
        main([
            "gen-raincell", "-m", "flo2d_150_v2",
            "-s", "2024-01-01 00:00:00", "-e", "2024-01-01 01:00:00",
            "--store", store, "--out", out,
        ])
        return out

    want = open(gen(str(tmp_path / "clean")), "rb").read()

    real_copy = shutil.copyfileobj

    def copy_crashing(src, dst, *a, **k):
        if "RAINCELL" in getattr(dst, "name", ""):
            dst.write(src.read(8))
            raise OSError("injected crash mid-concat")
        return real_copy(src, dst, *a, **k)

    run_dir = str(tmp_path / "run")
    monkeypatch.setattr(shutil, "copyfileobj", copy_crashing)
    with pytest.raises(OSError, match="injected crash"):
        gen(run_dir)
    monkeypatch.undo()
    assert os.listdir(run_dir) == []

    assert open(gen(run_dir), "rb").read() == want


def test_compact_store_recovers_partition_after_interrupted_swap(
    spark, tmp_path, monkeypatch
):
    """A crash between a partition swap's renames leaves ``date=X``
    absent. Opening the store must restore it (with the temp copy a
    hard kill mid-write leaves behind, which partition discovery would
    read as one more ``date`` value), and the next compaction must
    finish, with the same rows and no temp partition directory left."""
    from curw_flo2d_data_manager_spark.store import TimeseriesStore

    store = str(tmp_path / "store")
    spark.createDataFrame(
        [("s1", "m", "flo2d", "g1")], "id string, method string, model string, grid_id string"
    ).write.parquet(os.path.join(store, "run"))
    path = os.path.join(store, "data")
    for k in range(4):
        TimeseriesStore.write_data(
            spark.createDataFrame(
                [("s1", datetime(2024, 1, 1 + k % 2, k), float(k))],
                "id string, time timestamp, value double",
            ),
            path,
        )

    def rows(df=None):
        return sorted(
            (r["id"], str(r["time"]), r["value"])
            for r in (df or spark.read.parquet(path)).collect()
        )

    want_rows, want_dirs = rows(), sorted(os.listdir(path))
    assert "date=2024-01-01" in want_dirs

    day = os.path.join(path, "date=2024-01-01")
    _rename_crashing(monkeypatch, lambda src, dst: dst == day)
    with pytest.raises(OSError, match="injected crash"):
        main(["compact-store", "--path", path, "--target_mb", "128"])
    monkeypatch.undo()
    assert not os.path.exists(day)
    other = os.path.join(path, "date=2024-01-02")
    shutil.copytree(other, other + ".tmp-swap")

    data = TimeseriesStore.open(spark, store).data
    assert dict(data.dtypes)["date"] == "date"
    assert sorted(os.listdir(path)) == want_dirs
    assert rows(data) == want_rows

    main(["compact-store", "--path", path, "--target_mb", "128"])
    assert sorted(os.listdir(path)) == want_dirs
    assert rows() == want_rows


def test_compact_ann_index_crash_keeps_query_results(spark, tmp_path, monkeypatch, capsys):
    """A crash between the renames that swap in the re-quantized
    ``assignments/`` must leave the index queryable with the hits it
    gave before the compaction started."""
    import math
    import random

    rng = random.Random(5)
    rows = [
        (i, [float(math.cos(0.3 * (i % 7) * (d + 1)) + rng.random()) for d in range(8)])
        for i in range(200)
    ]
    src = str(tmp_path / "emb.parquet")
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").write.parquet(src)
    qsrc = str(tmp_path / "queries.parquet")
    spark.createDataFrame(
        [(9004, rows[4][1]), (9042, rows[42][1])], "vec_id long, embedding array<float>"
    ).write.parquet(qsrc)
    idx = str(tmp_path / "ann_index")
    main(["build-ann-index", "--input", src, "--output", idx, "--clusters", "6"])

    def hits(name):
        out = str(tmp_path / name)
        main([
            "query-ann-index", "--index", idx, "--queries", qsrc,
            "--output", out, "--k", "3", "--nprobe", "2",
        ])
        return sorted(
            (r["query_id"], r["corpus_id"], r["rank"])
            for r in spark.read.parquet(out).collect()
        )

    want = hits("before.parquet")
    assert {(q, c) for q, c, rank in want if rank == 1} == {(9004, 4), (9042, 42)}

    asg_path = os.path.join(idx, "assignments")
    _rename_crashing(monkeypatch, lambda src, dst: dst == asg_path)
    with pytest.raises(OSError, match="injected crash"):
        main(["compact-ann-index", "--index", idx, "--force", "--clusters", "4"])
    monkeypatch.undo()
    assert not os.path.exists(asg_path)

    assert hits("after.parquet") == want
    assert sorted(os.listdir(idx)) == ["assignments", "index_meta.json"]
    capsys.readouterr()


def test_compact_ann_index_pq_failure_in_codes_write_keeps_index(
    spark, tmp_path, monkeypatch, capsys
):
    """A failure while the re-coded PQ ``codes/`` are being written must
    leave the whole index old — ``assignments/`` included, so the
    centers, codebooks and codes stay consistent. The cluster count is
    unchanged, so the stale-meta check could not catch a half-committed
    index: the hits themselves must match."""
    import math
    import random

    from pyspark.sql.readwriter import DataFrameWriter

    rng = random.Random(7)
    rows = [
        (i, [float(math.sin(0.4 * (i % 9) * (d + 1)) + rng.random()) for d in range(8)])
        for i in range(200)
    ]
    src = str(tmp_path / "emb.parquet")
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").write.parquet(src)
    qsrc = str(tmp_path / "queries.parquet")
    spark.createDataFrame(
        [(9004, rows[4][1]), (9042, rows[42][1])], "vec_id long, embedding array<float>"
    ).write.parquet(qsrc)
    idx = str(tmp_path / "ann_index")
    main([
        "build-ann-index", "--input", src, "--output", idx,
        "--clusters", "6", "--pq", "--pq-m", "4", "--pq-ksub", "8",
    ])

    def hits(name):
        out = str(tmp_path / name)
        main([
            "query-ann-index", "--index", idx, "--queries", qsrc,
            "--output", out, "--k", "3", "--nprobe", "2",
        ])
        return sorted(
            (r["query_id"], r["corpus_id"], r["rank"])
            for r in spark.read.parquet(out).collect()
        )

    def snapshot():
        return {
            name: sorted(map(tuple, spark.read.parquet(os.path.join(idx, name)).collect()))
            for name in ("assignments", "codes")
        } | {"meta": open(os.path.join(idx, "index_meta.json")).read()}

    want, want_index = hits("before.parquet"), snapshot()
    assert {(q, c) for q, c, rank in want if rank == 1} == {(9004, 4), (9042, 42)}

    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *a, **k):
        if path.endswith(os.path.join("ann_index", "codes.tmp-swap")):
            real_parquet(self, path, *a, **k)
            raise OSError("injected failure inside the codes write")
        return real_parquet(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    with pytest.raises(OSError, match="injected failure"):
        main(["compact-ann-index", "--index", idx, "--force", "--clusters", "6"])
    monkeypatch.undo()

    assert sorted(os.listdir(idx)) == ["assignments", "codes", "index_meta.json"]
    assert snapshot() == want_index
    assert hits("after.parquet") == want
    capsys.readouterr()


def test_extract_crash_in_run_dim_write_keeps_all_three_tables(forecast_store, monkeypatch):
    """The extract commits ``fcst_data``, ``fcst_latest_fgt`` and
    ``run_metadata`` together. A crash inside the run-dim write, when
    ``fcst_data``'s temp copy (new cycle plus hard-linked history) is
    already complete, must leave all three tables old with no temp copy
    behind, and the re-run must give the rows of an uninterrupted run."""
    from pyspark.sql.readwriter import DataFrameWriter

    tables = ("fcst_data", "fcst_latest_fgt", "run_metadata")
    fs = forecast_store()
    fs.history("part-old.parquet", ["2023-12-31 06:00:00"])
    fs.extract("2024-01-01 06:00:00")
    before = {t: (fs.inodes(t), fs.rows(t)) for t in tables}

    clean = forecast_store("clean")
    clean.history("part-old.parquet", ["2023-12-31 06:00:00"])
    for fgt in ("2024-01-01 06:00:00", "2024-01-02 06:00:00"):
        clean.extract(fgt)

    real_parquet = DataFrameWriter.parquet
    swap = commit.SWAP

    def parquet(self, path, *a, **k):
        if path.endswith("fcst_latest_fgt" + swap):
            assert "part-old.parquet" in os.listdir(fs.fcst + swap)
            real_parquet(self, path, *a, **k)
            raise OSError("injected crash inside the run-dim write")
        return real_parquet(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    with pytest.raises(OSError, match="injected crash"):
        fs.extract("2024-01-02 06:00:00")
    monkeypatch.undo()

    assert {t: (fs.inodes(t), fs.rows(t)) for t in tables} == before
    assert sorted(os.listdir(fs.store)) == sorted(tables + ("stations",))

    fs.extract("2024-01-02 06:00:00")
    assert {t: fs.rows(t) for t in tables} == {t: clean.rows(t) for t in tables}


def test_dedup_corpus_crash_mid_write_keeps_previous_output(spark, tmp_path, monkeypatch):
    """A write that dies after some of its files landed (no ``_SUCCESS``
    marker yet) must leave the previous ``--output`` byte-identical,
    with no temp copy behind (Spark's own overwrite deletes the target
    first), and the re-run must give the output of an uninterrupted
    run."""
    from pyspark.sql.readwriter import DataFrameWriter

    def corpus(name, ids, prefix):
        path = str(tmp_path / name)
        spark.createDataFrame(
            [(i, f"{prefix} {i % 30}") for i in ids], "doc_id long, text string"
        ).write.parquet(path)
        return path

    old_in, new_in = corpus("old.parquet", range(40), "old"), corpus("new.parquet", range(70), "new")
    out, clean = str(tmp_path / "dedup"), str(tmp_path / "clean")

    def dedup(src, dst):
        main(["dedup-corpus", "--input", src, "--output", dst, "--method", "exact", "--keep_only"])

    dedup(old_in, out)
    dedup(new_in, clean)
    before = _file_bytes(out)

    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *a, **k):
        real_parquet(self, path, *a, **k)
        if os.path.basename(path).startswith("dedup"):
            os.remove(os.path.join(path, "_SUCCESS"))
            raise OSError("injected crash mid-write")

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    with pytest.raises(OSError, match="injected crash"):
        dedup(new_in, out)
    monkeypatch.undo()

    assert _file_bytes(out) == before
    assert not [n for n in os.listdir(tmp_path) if n.endswith(commit.SWAP)]
    dedup(new_in, out)
    assert _multiset(spark.read.parquet(out)) == _multiset(spark.read.parquet(clean))
    assert spark.read.parquet(out).count() == 30


def _dedup_stream(spark, root, wave=None):
    """Run ``corpus_dedup_stream`` under ``root`` (``in/``, ``out/``,
    ``ckpt/``) until it has drained its input, after landing ``wave``
    (rows of ``doc_id, text``) as one new input file; returns the
    output dir. A failed run raises after its query is stopped."""
    from curw_flo2d_data_manager_spark.streaming.ingest import corpus_dedup_stream

    schema = "doc_id long, text string"
    src, out = os.path.join(root, "in"), os.path.join(root, "out")
    if wave is not None:
        n = len(os.listdir(src)) if os.path.isdir(src) else 0
        spark.createDataFrame(wave, schema).coalesce(1).write.parquet(
            os.path.join(src, f"wave{n}")
        )
    q = corpus_dedup_stream(
        spark, os.path.join(src, "*"), out, schema,
        checkpoint=os.path.join(root, "ckpt"), available_now=True,
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    return out


WAVE1 = [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta words")]
WAVE2 = [(4, "ALPHA  beta gamma!"), (5, "epsilon fresh text"), (6, "epsilon fresh text")]


def test_dedup_stream_crash_mid_write_keeps_committed_batches(spark, tmp_path, monkeypatch):
    """A micro-batch whose ledger write dies after its files landed (no
    ``_SUCCESS`` marker yet) must leave the committed ``docs/`` and
    ``digests/`` byte-identical, with no temp copy behind (so
    ``docs/batch=1`` must not land before its ledger rows are
    written), and replaying the checkpoint must give the output of an
    uninterrupted run."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.readwriter import DataFrameWriter

    clean_root = str(tmp_path / "clean")
    _dedup_stream(spark, clean_root, WAVE1)
    clean = _dedup_stream(spark, clean_root, WAVE2)
    root = str(tmp_path / "crash")
    out = _dedup_stream(spark, root, WAVE1)
    before = _file_bytes(out)

    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *a, **k):
        real_parquet(self, path, *a, **k)
        parent, name = os.path.split(path)
        if os.path.basename(parent) == "digests" and name.startswith("batch=1"):
            os.remove(os.path.join(path, "_SUCCESS"))
            raise OSError("injected crash mid-write")

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        _dedup_stream(spark, root, WAVE2)
    monkeypatch.undo()

    assert _file_bytes(out) == before
    assert not [d for d, _, _ in os.walk(out) if d.endswith(commit.SWAP)]

    _dedup_stream(spark, root)  # replays batch 1 from the checkpoint
    for table in ("docs", "digests"):
        got = spark.read.parquet(os.path.join(out, table))
        assert _multiset(got) == _multiset(spark.read.parquet(os.path.join(clean, table)))
    docs = spark.read.parquet(os.path.join(out, "docs"))
    assert sorted(r.doc_id for r in docs.collect()) == [1, 3, 5]


def test_dedup_stream_recovers_stranded_ledger_swap(spark, tmp_path):
    """A ``digests/batch=1.tmp-swap`` left by a hard kill mid-write is
    recovered by the next micro-batch's ledger read: partition
    discovery never sees it, so ``batch`` stays typed ``int``."""
    from pyspark.sql.types import IntegerType

    root = str(tmp_path / "s")
    out = _dedup_stream(spark, root, WAVE1)
    ledger = os.path.join(out, "digests")
    shutil.copytree(os.path.join(ledger, "batch=0"), os.path.join(ledger, "batch=1" + commit.SWAP))

    _dedup_stream(spark, root, WAVE2)

    assert sorted(os.listdir(ledger)) == ["batch=0", "batch=1"]
    assert spark.read.parquet(ledger).schema["batch"].dataType == IntegerType()
    docs = spark.read.parquet(os.path.join(out, "docs"))
    assert sorted(r.doc_id for r in docs.collect()) == [1, 3, 5]


def test_split_corpus_failure_in_second_split_keeps_earlier_splits(spark, tmp_path, monkeypatch):
    """``split-corpus`` commits its splits together: a failure while the
    second split is written leaves the first (and every other) split as
    the previous run wrote it."""
    from pyspark.sql.readwriter import DataFrameWriter

    def corpus(name, ids):
        path = str(tmp_path / name)
        spark.createDataFrame([(i, f"t{i}") for i in ids], "doc_id long, text string").write.parquet(path)
        return path

    old_in, new_in = corpus("old.parquet", range(50)), corpus("new.parquet", range(50, 130))
    out = str(tmp_path / "splits")

    def split(src):
        main([
            "split-corpus", "--input", src, "--output", out,
            "--fractions", "train=0.5,val=0.3,test=0.2",
        ])

    split(old_in)
    before = _file_bytes(out)
    assert {p.split(os.sep)[0] for p in before} == {"train", "val", "test"}

    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *a, **k):
        real_parquet(self, path, *a, **k)
        if os.path.basename(path).startswith("val"):
            raise OSError("injected failure in the second split's write")

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    with pytest.raises(OSError, match="injected failure"):
        split(new_in)
    monkeypatch.undo()

    assert _file_bytes(out) == before
    assert sorted(os.listdir(out)) == ["test", "train", "val"]
    split(new_in)
    got = sum(spark.read.parquet(os.path.join(out, n)).count() for n in ("train", "val", "test"))
    assert got == 80


def test_merge_run_manifest_crash_keeps_previous(tmp_path, monkeypatch):
    out = str(tmp_path / "INFLOW.DAT")
    manifest = merge_run_manifest(out, {"inflow": {"model": "a"}})
    before = open(manifest).read()

    def dump_crashing(obj, f, *a, **k):
        f.write('{"partial')
        raise OSError("injected crash inside json.dump")

    monkeypatch.setattr(json, "dump", dump_crashing)
    with pytest.raises(OSError, match="injected crash"):
        merge_run_manifest(out, {"raincell": {"model": "b"}})
    monkeypatch.undo()
    assert open(manifest).read() == before
    assert os.listdir(tmp_path) == ["run_meta.json"]


def test_init_keeps_registered_stations_after_interrupted_swap(
    spark, tmp_path, monkeypatch
):
    """A crash between the renames of the ``stations_dim`` swap must not
    make the re-run take the table for a first run: the stations of the
    first registration survive the second one."""
    store = str(tmp_path / "store")
    grid = tmp_path / "grid.csv"
    grid.write_text("Grid_ID,X,Y\n1,79.80,6.90\n2,79.81,6.91\n3,79.82,6.92\n")

    def init(cells):
        station_map = tmp_path / "map.json"
        station_map.write_text(json.dumps({"CHANNEL_CELL_MAP": cells}))
        main([
            "init", "-m", "flo2d_150_v2", "--store", store,
            "--grid_csv", str(grid), "--station_map", str(station_map),
        ])

    init({"1": "Alpha"})
    sta_path = os.path.join(store, "stations_dim")
    _rename_crashing(monkeypatch, lambda src, dst: src == sta_path + ".tmp-swap")
    with pytest.raises(OSError, match="injected crash"):
        init({"2": "Beta"})
    monkeypatch.undo()
    assert not os.path.exists(sta_path)

    init({"2": "Beta"})
    names = sorted(r["name"] for r in spark.read.parquet(sta_path).collect())
    assert names == ["1_Alpha", "2_Beta"]


# ------------------------------------------------------------ read half
SF_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _multiset(df):
    return Counter(repr(tuple(r)) for r in df.collect())


def _small_store(spark, root):
    from curw_flo2d_data_manager_spark.store import TimeseriesStore

    spark.createDataFrame(
        [("s1", "m", "flo2d", "g1"), ("s2", "m", "flo2d", "g2")],
        "id string, method string, model string, grid_id string",
    ).write.parquet(os.path.join(root, "run"))
    TimeseriesStore.write_data(
        spark.createDataFrame(
            [(f"s{1 + k % 2}", datetime(2024, 1, 1 + k % 3, k), float(k)) for k in range(12)],
            "id string, time timestamp, value double",
        ),
        os.path.join(root, "data"),
    )


def test_table_matches_spark_read(spark, sf_dir, tmp_path, jobs_fired):
    """A re-read through the catalog (no inference job) gives the
    schema and rows ``spark.read.parquet`` gives, for every driver
    table and a store; the store's ``date`` stays a pruned date."""
    from curw_flo2d_data_manager_spark.store import TimeseriesStore

    store = str(tmp_path / "store")
    _small_store(spark, store)
    paths = [f"{sf_dir}/{name}.parquet" for name in SF_TABLES]
    paths += [os.path.join(store, "run"), os.path.join(store, "data")]
    for path in paths:
        commit.table(spark, path)
        got, jobs = jobs_fired(lambda: commit.table(spark, path))
        assert jobs == 0, path
        want = spark.read.parquet(path)
        assert got.schema == want.schema, path
        assert _multiset(got) == _multiset(want), path

    data, jobs = jobs_fired(lambda: TimeseriesStore.open(spark, store).data)
    assert jobs == 0
    assert dict(data.dtypes)["date"] == "date"
    q = TimeseriesStore(run=None, data=data).get_timeseries(
        "s1", "2024-01-02 00:00:00", "2024-01-02 23:59:59"
    )
    assert "PartitionFilters: [isnotnull(date" in q._jdf.queryExecution().executedPlan().toString()
    assert [r.value for r in q.collect()] == [4.0, 10.0]


def test_replace_drops_remembered_schema(spark, tmp_path):
    """``commit.replace`` forgets every schema at or under its target,
    so the next read sees the new column."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    spark.range(5).write.parquet(path)
    spark.range(2).write.parquet(os.path.join(path, "nested"))
    df = commit.table(spark, path)
    commit.table(spark, os.path.join(path, "nested"))
    commit.replace(path, df.withColumn("extra", F.lit(1)).write.parquet)
    assert not [k for k in commit._schemas if k[1].startswith(os.path.abspath(path))]
    got = commit.table(spark, path)
    assert got.columns == ["id", "extra"]
    assert sorted(r.id for r in got.collect()) == list(range(5))


def test_table_sees_out_of_band_changes(spark, tmp_path):
    """A partition directory added behind the catalog's back, or a
    file rewritten in place, changes the stat signature."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    store = str(tmp_path / "store")
    _small_store(spark, store)
    data = os.path.join(store, "data")
    commit.table(spark, data)
    new_day = os.path.join(data, "date=2024-01-09")
    os.makedirs(new_day)
    pq.write_table(
        pa.table({"id": ["s9"], "time": pa.array([datetime(2024, 1, 9)], pa.timestamp("us")),
                  "value": [9.0]}),
        os.path.join(new_day, "part-0.parquet"),
    )
    got = commit.table(spark, data)
    assert dict(got.dtypes)["date"] == "date"
    assert got.filter("id = 's9'").select("date").collect()[0][0].isoformat() == "2024-01-09"

    path = str(tmp_path / "t")
    os.makedirs(path)
    pq.write_table(pa.table({"a": [1, 2]}), os.path.join(path, "part-0.parquet"))
    assert commit.table(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), os.path.join(path, "part-0.parquet"))
    got = commit.table(spark, path)
    assert got.columns == ["a", "b"]
    assert sorted(tuple(r) for r in got.collect()) == [(1, "x"), (2, "y")]


def test_table_keys_on_nanos_as_long(spark, tmp_path, jobs_fired):
    """Each ``nanosAsLong`` setting resolves its own schema: INT64
    TIMESTAMP(NANOS) reads as long only while the flag is on."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors import AnalysisException
    from pyspark.sql.types import LongType

    conf = "spark.sql.legacy.parquet.nanosAsLong"
    ns, us = str(tmp_path / "ns.parquet"), str(tmp_path / "us.parquet")
    nanos = 1_700_000_000_123_456_789
    for path, unit, value in ((ns, "ns", nanos), (us, "us", nanos // 1000)):
        pq.write_table(pa.table({"ts": pa.array([value], pa.timestamp(unit))}), path)
    try:
        for flag in ("true", "false"):
            spark.conf.set(conf, flag)
            assert dict(commit.table(spark, us).dtypes)["ts"] == "timestamp_ntz"
        key = (spark.sparkContext.applicationId, os.path.abspath(us))
        assert len(commit._schemas[key]) == 2

        spark.conf.set(conf, "true")
        assert isinstance(commit.table(spark, ns).schema["ts"].dataType, LongType)
        spark.conf.set(conf, "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            commit.table(spark, ns)
        spark.conf.set(conf, "true")
        got, jobs = jobs_fired(lambda: commit.table(spark, ns))
        assert jobs == 0 and got.collect()[0].ts == nanos
    finally:
        spark.conf.set(conf, "true")
