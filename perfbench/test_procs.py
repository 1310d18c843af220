"""Tests of the run's process hygiene: ``python3 -m pytest perfbench -q``.

Each scenario runs in its own interpreter, so the test process itself
never becomes a subreaper."""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

SCENARIO = """
import json, subprocess, sys, time
import procs
procs.become_reaper()
# The shell exits at once and leaves its background sleep orphaned, as
# the JVM leaves its Python workers.
subprocess.run(["sh", "-c", sys.argv[1] + " &"], check=True)
t0 = time.monotonic()
killed = procs.wait_all(grace=float(sys.argv[2]))
print(json.dumps({"killed": len(killed), "waited": time.monotonic() - t0,
                  "left": procs.descendants()}))
"""


def _scenario(command: str, grace: float) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", SCENARIO, command, str(grace)],
        cwd=HERE,
        env={**os.environ, "PYTHONPATH": HERE},
        capture_output=True,
        text=True,
        check=True,
        timeout=60,
    )
    return json.loads(out.stdout.splitlines()[-1])


def test_orphan_that_ends_is_waited_for():
    got = _scenario("sleep 0.5", grace=20.0)
    assert got["killed"] == 0
    assert got["waited"] >= 0.4
    assert got["left"] == []


def test_orphan_that_outlives_the_grace_is_killed():
    got = _scenario("sleep 60", grace=0.5)
    assert got["killed"] == 1
    assert got["waited"] < 15
    assert got["left"] == []
