"""The scale-smoke harness (``tools/_scale.py``) and the smokes on it:
argv typing and usage errors, one JSON line, exit 1 on a false check
or an unmet minimum (stated before any Spark job), no smoke keeping
its own copy of that scaffolding, and three cheap smokes whose closed
forms hold in-process."""

import ast
import importlib
import json
import sys
from pathlib import Path

import pytest

TOOLS = Path(__file__).resolve().parent.parent / "tools"
sys.path.insert(0, str(TOOLS))

import _scale  # noqa: E402


def _stub(spark, n=3, ratio=0.5, name="x", flag=False):
    print("progress line")
    return {"n": n, "ratio": ratio, "name": name, "flag": flag, "ok": n > 0}


@pytest.fixture
def run_stub(spark, monkeypatch, capsys):
    """``run_stub(argv, checks)`` runs ``_stub`` through the harness and
    returns (exit code, stdout, stderr)."""
    monkeypatch.setattr(_scale, "get_spark", lambda app_name: spark)

    def go(argv, checks=("ok",)):
        try:
            _scale.run(_stub, checks, argv=argv)
            code = 0
        except SystemExit as e:
            code = e.code
        out, err = capsys.readouterr()
        return code, out, err

    return go


def test_harness_types_argv_from_defaults(run_stub):
    code, out, _ = run_stub([])
    assert code == 0
    assert json.loads(out) == {
        "n": 3, "ratio": 0.5, "name": "x", "flag": False, "ok": True,
    }
    code, out, _ = run_stub(["7", "0.25", "y", "--flag"])
    assert code == 0
    assert json.loads(out) == {
        "n": 7, "ratio": 0.25, "name": "y", "flag": True, "ok": True,
    }


def test_harness_prints_exactly_one_json_line(run_stub):
    _, out, err = run_stub(["5"])
    assert len(out.splitlines()) == 1
    assert json.loads(out.splitlines()[0])["n"] == 5
    assert "progress line" in err  # what the body prints goes to stderr


@pytest.mark.parametrize(
    "argv, named",
    [(["seven"], "argument n: invalid int value: 'seven'"),
     (["1", "half"], "argument ratio: invalid float value: 'half'"),
     (["1", "0.5", "a", "extra"], "unrecognized arguments: extra")],
)
def test_harness_bad_argument_is_a_usage_error(run_stub, argv, named):
    code, out, err = run_stub(argv)
    assert code == 2 and out == ""
    assert err.startswith("usage: ") and named in err


def test_harness_exits_1_on_a_false_check(run_stub):
    code, out, err = run_stub(["0"], checks=("ok", "n == 0", "name == 'x'"))
    assert code == 1
    assert json.loads(out)["ok"] is False  # the record is still printed
    assert "failed check: ok" in err and "n == 0" not in err
    assert run_stub(["0"], checks=("n == 0",))[0] == 0


@pytest.mark.parametrize(
    "smoke, args, named",
    [
        ("bench_triangle_scale", (10, 2, 0), "clique_size must be >= 3"),
        ("bench_kcore_scale", (1, 6, 0), "n_cliques must be >= 2"),
        ("bench_bfs_scale", (10, 2, 3), "clique_size must be >= 3"),
        ("bench_lpa_scale", (10, 10, 1), "iters must be >= 2"),
        ("bench_boilerplate_scale", (100_000,), "docs must be >= 200,000"),
        ("bench_fuzzy_scale", (10_000,), "rows must be >= 2,000,000"),
        ("bench_events_scale", (100_000,), "n_events must be >= 25,000,000"),
        ("bench_extremes_scale", (10, 2_100), "rows_per_series=2100 needs"),
        ("bench_bpe_merges_scale", (15_000, 10_000), "n_docs must be a multiple of vocab"),
    ],
)
def test_require_fails_before_any_spark_job(spark, jobs_fired, capsys, smoke, args, named):
    main = importlib.import_module(smoke).main

    def call():
        with pytest.raises(SystemExit) as e:
            main(spark, *args)
        return e.value.code

    code, jobs = jobs_fired(call)
    assert (code, jobs) == (1, 0)
    assert named in capsys.readouterr().err


SMOKES = sorted(TOOLS.glob("bench_*.py"))


def _scaffolding(tree: ast.AST) -> set[str]:
    found = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            fn = node.func
            name = getattr(fn, "id", getattr(fn, "attr", None))
            if name == "get_spark":
                found.add("get_spark(")
            if name == "dumps" and getattr(fn.value, "id", None) == "json":
                found.add("json.dumps(")
            if name == "insert" and ast.unparse(fn.value) == "sys.path":
                found.add("sys.path.insert")
        elif isinstance(node, ast.Attribute) and ast.unparse(node) == "sys.argv":
            found.add("sys.argv")
        elif isinstance(node, ast.Name) and node.id in ("SystemExit", "subprocess"):
            found.add(node.id)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            mods = [a.name for a in node.names] + [getattr(node, "module", None)]
            if "subprocess" in mods:
                found.add("subprocess")
    return found


def test_smokes_keep_no_scaffolding_of_their_own():
    assert len(SMOKES) == 41
    kept = {p.name: _scaffolding(ast.parse(p.read_text())) for p in SMOKES}
    assert {name: found for name, found in kept.items() if found} == {}


def test_guard_sees_each_kind_of_scaffolding():
    src = (
        "import json, subprocess, sys\n"
        "sys.path.insert(0, '.')\n"
        "n = int(sys.argv[1])\n"
        "spark = get_spark(app_name='x')\n"
        "print(json.dumps({}))\n"
        "raise SystemExit(1)\n"
    )
    assert _scaffolding(ast.parse(src)) == {
        "get_spark(", "json.dumps(", "sys.path.insert", "sys.argv",
        "SystemExit", "subprocess",
    }


@pytest.mark.parametrize(
    "smoke, args",
    [
        ("bench_raincell_scale", (2,)),
        ("bench_kcore_scale", (200, 6, 100)),
        ("bench_cc_scale", (10_000,)),
    ],
)
def test_cheap_smoke_closed_forms_hold(spark, smoke, args):
    mod = importlib.import_module(smoke)
    record = mod.main(spark, *args)
    assert mod.CHECKS
    assert _scale.failed(record, mod.CHECKS) == [], record
