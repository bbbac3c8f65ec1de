"""Synthetic tests for the control-normalized bench regression fence
(VERDICT r2 item 4 done-criterion): a real per-query regression with a
quiet host is flagged; a uniform host slowdown that also inflates the
cpu control is not; and the old always-open escape hatch is gone."""

import bench


BASE = {"qa": 2.0, "qb": 4.0, "qc": 0.3}


def test_real_regression_flagged_with_equal_controls():
    cur = {"qa": 4.0, "qb": 4.1, "qc": 0.31}
    vs, regs, note = bench.regression_fence(cur, 0.85, BASE, 0.85)
    assert regs == ["qa"]
    assert note is None


def test_uniform_host_slowdown_with_matching_control_not_flagged():
    cur = {q: t * 2.0 for q, t in BASE.items()}
    vs, regs, note = bench.regression_fence(cur, 1.70, BASE, 0.85)
    assert regs == []
    assert note is not None  # normalization was applied and disclosed
    assert all(abs(r - 1.0) < 0.05 for r in vs.values())


def test_regression_still_flagged_under_host_noise():
    # host 2x slower AND qa regressed 2x on top: qa flagged, qb not
    cur = {"qa": 8.0, "qb": 8.2, "qc": 0.6}
    vs, regs, note = bench.regression_fence(cur, 1.70, BASE, 0.85)
    assert regs == ["qa"]


def test_small_absolute_deltas_not_flagged():
    # 2x ratio but tiny absolute delta (sub-second query jitter)
    cur = {"qc": 0.65}
    vs, regs, note = bench.regression_fence(cur, 0.85, {"qc": 0.3}, 0.85)
    assert regs == []


def test_missing_controls_fall_back_to_raw_compare():
    cur = {"qa": 4.0}
    vs, regs, note = bench.regression_fence(cur, None, {"qa": 2.0}, None)
    assert regs == ["qa"]
    assert note is None


def test_baseline_loader_prefers_latest_with_control(tmp_path):
    import json

    (tmp_path / "BENCH_r01.json").write_text(
        json.dumps({"parsed": {"queries": {"qa": 1.0}, "sf": 0.1}})
    )
    (tmp_path / "BENCH_r02.json").write_text(
        json.dumps(
            {
                "parsed": {
                    "queries": {"qa": 1.1},
                    "sf": 0.1,
                    "cpu_control_sec": 0.8,
                }
            }
        )
    )
    name, parsed = bench.load_fence_baseline(str(tmp_path), sf=0.1)
    assert name == "r02"
    assert parsed["cpu_control_sec"] == 0.8
    # sf mismatch -> no baseline (never compare sf0.01 runs to sf0.1 records)
    name2, parsed2 = bench.load_fence_baseline(str(tmp_path), sf=0.01)
    assert parsed2 is None


def test_baseline_loader_skips_null_parsed_record(tmp_path):
    # the driver records a failed/unparseable run as {"parsed": null}
    # (BENCH_r05.json): it must be skipped, not crash the loader
    import json

    (tmp_path / "BENCH_r01.json").write_text(
        json.dumps({"parsed": {"queries": {"qa": 1.0}, "sf": 0.1}})
    )
    (tmp_path / "BENCH_r02.json").write_text(json.dumps({"parsed": None, "rc": 1}))
    name, parsed = bench.load_fence_baseline(str(tmp_path), sf=0.1)
    assert name == "r01"
    assert parsed["queries"] == {"qa": 1.0}


def test_package_import_repairs_frozen_bench_fence(tmp_path):
    # The round-start (frozen) bench.py crashes on a null-parsed record.
    # geokitten_spark's import-time shim must replace __main__'s broken
    # load_fence_baseline when (and only when) __main__ looks like the
    # bench harness. Run in a subprocess so __main__ is controllable.
    import json
    import subprocess
    import sys

    (tmp_path / "BENCH_r01.json").write_text(
        json.dumps({"parsed": {"queries": {"qa": 1.0}, "sf": 0.1}})
    )
    (tmp_path / "BENCH_r05.json").write_text(json.dumps({"parsed": None}))
    script = tmp_path / "fake_bench.py"
    script.write_text(
        # the frozen loader body, verbatim in the parts that matter
        "import glob, json, os, re, sys\n"
        "def load_fence_baseline(repo_dir, sf=None, replicate=None):\n"
        "    for path in sorted(glob.glob(os.path.join(repo_dir, 'BENCH_r*.json'))):\n"
        "        parsed = json.load(open(path)).get('parsed', {})\n"
        "        if not parsed.get('queries'):\n"  # AttributeError on None
        "            continue\n"
        "    return (None, None)\n"
        "def regression_fence(*a):\n    pass\n"
        "def run_once(*a):\n    pass\n"
        "import geokitten_spark\n"
        "assert getattr(load_fence_baseline, '_gk_null_safe', False)\n"
        "assert os.environ.get('SPARK_GRAFT_SCALE_STEP') == '0'\n"
        f"name, parsed = load_fence_baseline({str(tmp_path)!r}, sf=0.1)\n"
        "assert name == 'r01', name\n"
        "print('SHIM_OK')\n"
    )
    import os as _os

    env = dict(_os.environ, PYTHONPATH=_os.path.dirname(_os.path.abspath(bench.__file__)))
    env.pop("SPARK_GRAFT_SCALE_STEP", None)
    proc = subprocess.run(
        [sys.executable, str(script)], capture_output=True, text=True, env=env
    )
    assert proc.returncode == 0, proc.stderr
    assert "SHIM_OK" in proc.stdout


def test_baseline_loader_replicate_protocol_change(tmp_path):
    import json

    (tmp_path / "BENCH_r02.json").write_text(
        json.dumps(
            {"parsed": {"queries": {"qa": 1.0}, "sf": 0.1, "replicate": 100}}
        )
    )
    # a replicate bump is a protocol change, not a regression: no baseline
    name, parsed = bench.load_fence_baseline(str(tmp_path), sf=0.1, replicate=400)
    assert parsed is None
    name2, parsed2 = bench.load_fence_baseline(str(tmp_path), sf=0.1, replicate=100)
    assert parsed2 is not None


def test_baseline_loader_cpus_protocol_change(tmp_path):
    import json

    for r in ("r04", "r06"):
        (tmp_path / f"BENCH_{r}.json").write_text(
            json.dumps(
                {
                    "parsed": {
                        "queries": {"qa": 1.0},
                        "sf": 0.1,
                        "replicate": 600,
                        "cpus": 32,
                        "cpu_control_sec": 0.62,
                    }
                }
            )
        )
    # a 4-core run is not compared with local[32] records
    _, parsed = bench.load_fence_baseline(str(tmp_path), sf=0.1, replicate=600, cpus=4)
    assert parsed is None
    name, parsed = bench.load_fence_baseline(str(tmp_path), sf=0.1, replicate=600, cpus=32)
    assert name == "r06"


def test_package_import_keeps_bench_fence_cpus_match(tmp_path):
    # with this bench.py as __main__, the package's import-time repair
    # swaps in its own loader: that one must take and match ``cpus`` too
    import json
    import os
    import subprocess
    import sys

    (tmp_path / "BENCH_r06.json").write_text(
        json.dumps({"parsed": {"queries": {"qa": 1.0}, "sf": 0.1, "cpus": 32}})
    )
    repo = os.path.dirname(os.path.abspath(bench.__file__))
    code = (
        "import sys, bench\n"
        "sys.modules['__main__'] = bench\n"
        "import geokitten_spark\n"
        f"print(bench.load_fence_baseline({str(tmp_path)!r}, sf=0.1, cpus=4))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        env=dict(os.environ, PYTHONPATH=repo), cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.strip() == "(None, None)"


def test_bench_probe_legs_match_bench_legs():
    """scripts/bench_probe.py mirrors bench.py's run_queries by hand: its
    leg keys must equal the ``timed("...")`` leg names plus the
    ``inner_reps`` queries there (read with ``ast``, no Spark)."""
    import ast
    import importlib.util
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    tree = ast.parse((root / "bench.py").read_text())
    run_queries = next(
        n for n in ast.walk(tree)
        if isinstance(n, ast.FunctionDef) and n.name == "run_queries"
    )
    legs = {
        c.args[0].value
        for c in ast.walk(run_queries)
        if isinstance(c, ast.Call) and getattr(c.func, "id", None) == "timed"
        and isinstance(c.args[0], ast.Constant)
    }
    inner_reps = next(
        n.value for n in ast.walk(run_queries)
        if isinstance(n, ast.Assign)
        and any(getattr(t, "id", None) == "inner_reps" for t in n.targets)
    )
    legs |= {k.value for k in inner_reps.keys}

    spec = importlib.util.spec_from_file_location(
        "bench_probe", root / "scripts" / "bench_probe.py"
    )
    probe = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(probe)
    assert set(probe.leg_builders(None, None)) == legs
