"""bench.py's kept paths: the flagship job, the mode dispatch and the
``--scaling`` parent's handling of a failed child run.

bench.py is a script, not a package module, so it is loaded by file path.
"""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent / "bench.py"


@pytest.fixture(scope="module")
def bench():
    spec = importlib.util.spec_from_file_location("bench", BENCH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_flagship_attaches_every_doc(spark, bench):
    r = bench.flagship(spark, n_docs=2000, grid=256, tile=128)
    assert r["docs"] == 2000
    assert 0 < r["n_tiled"] < 2000


def test_unknown_flag_exits_2_without_spark():
    # JAVA_HOME points nowhere, so any attempt to start a Spark session
    # fails with a Python traceback (exit 1), never with the usage exit 2
    env = dict(os.environ, JAVA_HOME=str(BENCH.parent / "no-such-jdk"))
    out = subprocess.run([sys.executable, str(BENCH), "--dedup"],
                         capture_output=True, text=True, env=env, timeout=60)
    assert out.returncode == 2, out.stderr[-2000:]
    assert "--scaling" in out.stderr and "--flagship-only" in out.stderr
    assert out.stdout == ""


def test_scaling_raises_on_failed_child(bench, monkeypatch):
    def failed_run(cmd, **kwargs):
        return subprocess.CompletedProcess(cmd, 1, stdout="", stderr="boom")

    monkeypatch.setattr(subprocess, "run", failed_run)
    with pytest.raises(RuntimeError, match="boom"):
        bench.main_scaling()
