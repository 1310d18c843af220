"""End-to-end smoke of the runnable examples, as real subprocesses.

Each example is the composition surface a user actually runs; catalog
queries feed operators plain fixture scans, so plan shapes that only
arise from composed upstream stages (window filters, normalized text)
are exercised ONLY here. This caught a real crash in round 8: the
curation funnel died inside label propagation (Catalyst Union
constraint rewrite) while all 314 catalog queries passed.

Subprocess + explicit returncode: piping an example through `tail`
masks its exit status, which is exactly how the crash hid.

r16 suite diet: the six examples are INDEPENDENT subprocesses (every
output path is a fresh mkdtemp, the MQTT broker binds an ephemeral
port), so a module fixture launches them ALL at once and each test
just asserts its own result — wall cost drops from the sum of six
JVM-boot-plus-run legs (~3.3 min measured) to the max of one (~40 s),
with zero loss of coverage: same argv, same assertions, same isolated
processes. Each leg sizes its session from the host's cores, like every
other session.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
from types import SimpleNamespace

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_TIMEOUT = 420


def _spawn(workdir: str, key: str, script: str, *args: str):
    # capture files keyed by CASE, not script name — two cases can run
    # the same script (run_pipeline plain vs --buffered)
    out = open(os.path.join(workdir, f"{key}.out"), "w+")
    err = open(os.path.join(workdir, f"{key}.err"), "w+")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(REPO, "examples", script), *args],
        stdout=out,
        stderr=err,
        text=True,
        cwd=REPO,
    )
    return SimpleNamespace(proc=proc, out=out, err=err)


@pytest.fixture(scope="module")
def example_runs():
    """Launch all six example subprocesses concurrently; yield
    {key: (returncode, stdout, stderr, workdir)} once all finish."""
    work = tempfile.mkdtemp(prefix="rtpmdp_examples_")

    # validate_lake needs its poisoned fixture before launch
    from .poison import poison_tables

    dirty = os.path.join(work, "dirty")
    poison_tables("/root/testdata/sf0.001", dirty)

    # By now the suite's own JVM has grown its heap toward the 8g driver
    # memory, mostly garbage. A full GC hands that back to the OS before
    # six more JVMs start: measured on a 4-core, 15 GB host, 8.4 -> 0.6
    # GB RSS; without it the seven JVMs peaked at 14.5 GB and the kernel
    # OOM-killed the suite's JVM.
    from pyspark.sql import SparkSession

    suite_session = SparkSession.getActiveSession()
    if suite_session is not None:
        suite_session._jvm.System.gc()

    specs = {
        "curate": ("curate_corpus.py", "/root/testdata/sf0.001",
                   os.path.join(work, "curate_out")),
        "pipeline": ("run_pipeline.py", "6"),
        "pipeline_buffered": ("run_pipeline.py", "6", "--buffered"),
        "business": ("business_review.py", "/root/testdata/sf0.001"),
        "validate": ("validate_lake.py", dirty, os.path.join(work, "lake_out")),
        "mqtt": ("mqtt_pipeline.py", "120", "--tls"),
    }
    running = {k: _spawn(work, k, *argv) for k, argv in specs.items()}
    results = {}
    try:
        for k, r in running.items():
            rc = r.proc.wait(timeout=_TIMEOUT)
            r.out.seek(0)
            r.err.seek(0)
            results[k] = SimpleNamespace(
                returncode=rc, stdout=r.out.read(), stderr=r.err.read()
            )
            r.out.close()
            r.err.close()
    finally:
        for r in running.values():
            if r.proc.poll() is None:
                r.proc.kill()
    yield results
    shutil.rmtree(work, ignore_errors=True)


@pytest.mark.slow
def test_curate_corpus_example_end_to_end(example_runs):
    """The full curation funnel at sf0.001 — normalize, blocklist,
    exact dedup (window + self-equal filter), near-dup components,
    quality, decontaminate, pack. The funnel's yield report must reach
    the final 'written' stage."""
    p = example_runs["curate"]
    assert p.returncode == 0, p.stderr[-2000:]
    assert "written" in p.stdout and "output:" in p.stdout


@pytest.mark.slow
def test_run_pipeline_example_end_to_end(example_runs):
    """The reference-parity pipeline (simulate → relay → lake →
    train → score → alert) for a few seconds of stream time."""
    p = example_runs["pipeline"]
    assert p.returncode == 0, p.stderr[-2000:]
    assert "lake:" in p.stdout


@pytest.mark.slow
def test_run_pipeline_example_buffered_mode(example_runs):
    """The same pipeline with phase 3 on the at-least-once
    BufferingHints landing path (r14 --buffered flag): the shutdown
    drain must report deliveries and land records."""
    p = example_runs["pipeline_buffered"]
    assert p.returncode == 0, p.stderr[-2000:]
    assert "buffered sink:" in p.stdout and "deliveries" in p.stdout
    assert "lake:" in p.stdout


@pytest.mark.slow
def test_business_review_example_end_to_end(example_runs):
    """The analytics composition surface (growth, mix, concentration,
    RFM, ABC) at sf0.001 — r9-verified by hand only; CI-covered since
    r11 (r10 VERDICT item 6)."""
    p = example_runs["business"]
    assert p.returncode == 0, p.stderr[-2000:]
    assert "== Growth: YoY revenue ==" in p.stdout


@pytest.mark.slow
def test_validate_lake_example_end_to_end(example_runs):
    """The three-leg lake boundary (non-finite / temporal / dim) as the
    user runs it: poison the fixture, validate, assert the disposition
    report catches it and the clean lake is written."""
    p = example_runs["validate"]
    assert p.returncode == 0, p.stderr[-2000:]
    assert "validated lake written:" in p.stdout
    total = [
        line for line in p.stdout.splitlines()
        if line.startswith("quarantined total:")
    ][0]
    assert int(total.split(":")[1]) > 0, p.stdout


@pytest.mark.slow
def test_mqtt_pipeline_example_end_to_end(example_runs):
    """The full wire pipeline with mutual TLS: mint dev certs, train,
    publish over MQTT 3.1.1 QoS-1, bridge to spool, score, alert."""
    p = example_runs["mqtt"]
    assert p.returncode == 0, p.stderr[-2000:]
    assert "alerts from" in p.stdout
