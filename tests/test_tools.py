"""The scripts under ``tools/``: the A/B harness's pair statistics and
an end-to-end run, and a no-Spark guard that every script still
resolves the package and ``bench`` names it imports."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(ROOT, "tools")
SCRIPTS = sorted(f for f in os.listdir(TOOLS) if f.endswith(".py"))


def _ab():
    spec = importlib.util.spec_from_file_location("tools_ab", os.path.join(TOOLS, "ab.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class TestAbSummary:
    def test_median_quartiles_wins_ratio(self):
        ab = _ab()
        ta = [1.0, 2.0, 3.0, 4.0, 5.0]
        tb = [0.5, 2.0, 4.0, 1.0, 5.0]  # B wins pairs 0 and 3; 1 and 4 tie
        out = ab.summarize(ta, tb)
        assert out["pairs"] == 5
        assert out["a"] == {"times_s": ta, "median_s": 3.0, "iqr_s": [2.0, 4.0]}
        assert out["b"]["median_s"] == 2.0 and out["b"]["iqr_s"] == [1.0, 4.0]
        assert out["b_wins"] == 2
        assert out["ratio_b_over_a"] == round(2.0 / 3.0, 3)

    def test_pairs_alternate_which_side_runs_first(self):
        ab = _ab()
        calls = []
        ticks = iter(range(1000))
        ta, tb = ab.interleave(
            lambda: calls.append("a"), lambda: calls.append("b"),
            pairs=4, clock=lambda: next(ticks),
        )
        assert calls == ["a", "b"] + ["a", "b", "b", "a"] * 2  # warm, then pairs
        assert len(ta) == len(tb) == 4 and set(ta + tb) == {1}
        assert ab.PAIRS == 10


def _run_ab(a: str, b: str) -> subprocess.CompletedProcess:
    core = "iotdatapipeline_spark.plans.core"
    return subprocess.run(
        [sys.executable, os.path.join(TOOLS, "ab.py"), f"{core}:{a}", f"{core}:{b}",
         "/root/testdata/sf0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )


class TestAbSmoke:
    def test_same_builder_times_ten_pairs(self):
        p = _run_ab("q1_pricing_summary", "q1_pricing_summary")
        assert p.returncode == 0, p.stderr[-2000:]
        lines = p.stdout.strip().splitlines()
        assert len(lines) == 1
        out = json.loads(lines[0])
        assert out["except_all"] == [0, 0] and out["profile"] == "small"
        assert out["pairs"] == 10
        assert len(out["a"]["times_s"]) == len(out["b"]["times_s"]) == 10

    def test_different_results_exit_before_timing(self):
        p = _run_ab("q1_pricing_summary", "production_shift_rollup")
        assert p.returncode != 0
        assert "times_s" not in p.stdout and "median" not in p.stdout
        assert "ab.py: schemas differ" in p.stderr


def _imports(path: str):
    """(module, names) for every import statement in a script."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module:
            yield node.module, [a.name for a in node.names]
        elif isinstance(node, ast.Import):
            for a in node.names:
                yield a.name, []


@pytest.mark.parametrize("script", SCRIPTS)
def test_tool_imports_resolve(script):
    """A renamed package helper must fail here, not silently in a
    script nothing runs; scripts share no code through ``tools``."""
    siblings = {f[:-3] for f in SCRIPTS} | {"tools"}
    sys.path.insert(0, ROOT)
    try:
        for module, names in _imports(os.path.join(TOOLS, script)):
            assert module.split(".")[0] not in siblings, f"{script} imports {module}"
            if module != "bench" and not module.startswith("iotdatapipeline_spark"):
                continue
            mod = importlib.import_module(module)
            for name in names:
                assert hasattr(mod, name) or importlib.util.find_spec(
                    f"{module}.{name}"
                ), f"{script}: {module} has no {name}"
    finally:
        sys.path.remove(ROOT)
