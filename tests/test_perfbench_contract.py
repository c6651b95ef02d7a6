"""The benchmark's tracer wraps engine functions by name
(``perfbench/tracing.install``): renaming or dropping one of them must
fail here, not when the benchmark runs."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_tracer_installs_on_the_engine():
    # a subprocess: install() monkeypatches engine modules process-wide
    code = (
        "import perfbench.tracing as t\n"
        "t.install(t.Tracer())\n"
    )
    r = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True,
        text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr
