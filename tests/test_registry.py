"""The declared-query harness in ``plans/_registry.py``, without Spark.

Every query module registers through the one ``register``, which refuses
a name that is already taken. A source scan keeps the registry, the
scratch dirs and the memory-sink drain in that one module. The scratch
root lives until the process that made it exits, and a forked child
leaves it alone.
"""

from __future__ import annotations

import os
import pathlib
import re
import subprocess
import sys

import pytest

from iotdatapipeline_spark import plans
from iotdatapipeline_spark.plans import ORACLE, QUERIES
from iotdatapipeline_spark.plans._registry import register

_REPO = pathlib.Path(__file__).resolve().parents[1]
_PLANS = pathlib.Path(plans.__file__).parent
_OWNER = _PLANS / "_registry.py"

#: what only the registry module may contain, and how often it does
_ONE_PLACE = {
    "def register": (re.compile(r"^\s*def register\(", re.M), 1),
    "QUERIES dict": (re.compile(r"^\s*QUERIES\s*(?::[^=\n]*)?=(?!=)", re.M), 1),
    "ORACLE dict": (re.compile(r"^\s*ORACLE\s*(?::[^=\n]*)?=(?!=)", re.M), 1),
    'format("memory")': (re.compile(r"""\.format\(\s*["']memory["']\s*\)"""), 1),
    "tempfile.mkdtemp": (re.compile(r"\bmkdtemp\("), 0),
}


def test_register_refuses_a_taken_name():
    name = next(iter(ORACLE))
    queries, oracle = dict(QUERIES), dict(ORACLE)
    with pytest.raises(ValueError, match=name):
        register(name, "SELECT 1")(lambda spark, sf_dir: None)
    assert len(QUERIES) == 238
    assert QUERIES == queries and ORACLE == oracle


def test_harness_lives_in_the_registry_module():
    found = {}
    for p in sorted(_PLANS.rglob("*.py")):
        text = p.read_text(encoding="utf-8")
        for what, (rx, _) in _ONE_PLACE.items():
            n = len(rx.findall(text))
            if n:
                found[(p.relative_to(_PLANS).as_posix(), what)] = n
    want = {("_registry.py", what): n for what, (_, n) in _ONE_PLACE.items() if n}
    assert found == want


def _run(code: str, tmp: pathlib.Path) -> list[str]:
    env = dict(os.environ, TMPDIR=str(tmp), PYTHONPATH=str(_REPO))
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0, out.stderr
    return out.stdout.split()


def test_scratch_root_removed_at_exit(tmp_path):
    root, a, b = _run(
        "import os\n"
        "from iotdatapipeline_spark.plans._registry import scratch\n"
        "a, b = scratch('iotdp_a_'), scratch('iotdp_b_')\n"
        "open(os.path.join(a, 'f'), 'w').write('x')\n"
        "print(os.path.dirname(a), a, b)\n",
        tmp_path,
    )
    assert pathlib.Path(root).parent == tmp_path
    assert os.path.dirname(b) == root and a != b
    assert not os.path.exists(root) and not os.path.exists(a) and not os.path.exists(b)
    assert list(tmp_path.iterdir()) == []


def test_forked_child_leaves_the_root(tmp_path):
    root, alive = _run(
        "import os, sys\n"
        "from iotdatapipeline_spark.plans._registry import scratch\n"
        "a = scratch('iotdp_a_')\n"
        "pid = os.fork()\n"
        "if pid == 0:\n"
        "    sys.exit(0)\n"
        "os.waitpid(pid, 0)\n"
        "print(os.path.dirname(a), os.path.isdir(a))\n",
        tmp_path,
    )
    assert alive == "True"
    assert not os.path.exists(root)
