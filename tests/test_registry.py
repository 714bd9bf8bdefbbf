"""Registry wiring: ``load_all`` imports ``_MODULES`` in order and returns
the entries as registered, with no subprocess and no file glob."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

from etl_bom_radiation_spark.queries import _MODULES

REPO = Path(__file__).resolve().parents[1]

# run in a fresh interpreter: in this process other test modules may have
# imported query modules in another order already
_PROBE = """
import glob, json, subprocess

def refuse(*args, **kwargs):
    raise AssertionError("registry load must not shell out or glob")

subprocess.run = subprocess.Popen = glob.glob = refuse
from etl_bom_radiation_spark.queries import load_all

print(json.dumps([q.fn.__module__.rsplit(".", 1)[1] for q in load_all().values()]))
"""


def test_load_all_is_declaration_order_without_subprocess_or_glob():
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    owners = json.loads(out.stdout.splitlines()[-1])
    # one contiguous run per module, runs in _MODULES order
    runs = [m for i, m in enumerate(owners) if i == 0 or owners[i - 1] != m]
    assert runs == _MODULES


def test_every_registering_module_is_listed():
    pkg = REPO / "etl_bom_radiation_spark" / "queries"
    registering = {
        p.stem
        for p in pkg.glob("*.py")
        if p.name != "__init__.py" and "@register" in p.read_text()
    }
    assert registering <= set(_MODULES), registering - set(_MODULES)
