"""The benchmark's hooks into the program, checked without a Spark session.

``perfbench/workloads.install_tracing`` wraps program functions by name
(``getattr``), so renaming one of them breaks ``perfbench/run.py --trace 1``
without any other test noticing. These tests install and remove that
tracing, and run the benchmark's own self-test."""

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_perfbench_selftest_passes():
    proc = subprocess.run(
        [sys.executable, str(REPO / "perfbench" / "selftest.py")],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]


def test_install_tracing_resolves_every_hook():
    from perfbench.spans import Tracer
    from perfbench.workloads import install_tracing

    from jira_cdc_git_spark import sinks_git

    orig = sinks_git.materialize_fan_out
    tracer = Tracer()
    try:
        install_tracing(tracer)
        assert sinks_git.materialize_fan_out is not orig
    finally:
        tracer.unwrap_all()
    assert sinks_git.materialize_fan_out is orig
