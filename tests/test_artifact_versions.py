"""Mechanical enforcement of the pinned-artifact trainer-version
convention (r15 verdict task 2 / ADVICE r15).

The contract: every ``ml.artifact.pinned`` cache key for a TRAINED
structure carries a ``_tN`` trainer-version component, built via
``ml.artifact.trainer_key`` from ``TRAINER_VERSIONS``. When a trainer's
ALGORITHM changes, the version must be bumped or stale pins silently
keep serving the old structure (the r15 OPQ key omitted the component
entirely — the bug class this file exists to kill).

Enforcement is by SOURCE DIGEST, not by trust: editing any trainer (or
a shared helper the trainers call) fails ``test_trainer_source_pinned``
until the digest below is refreshed — and the refresh site sits next to
the version table, so the "did the algorithm change? bump it" decision
is forced in the same diff. A pure comment/docstring edit still trips
the digest (cheap false positive, refresh and move on); a silent
algorithm change cannot slip through (the failure mode that matters).

No SparkSession needed — this file is pure-Python fast.
"""

from __future__ import annotations

import hashlib
import inspect

import pytest

from real_time_predictive_maintenance_data_pipeline_spark.ml import artifact as ART
from real_time_predictive_maintenance_data_pipeline_spark.operators import (
    similarity as S,
)

# (function, pinned source digest). On mismatch: decide whether the edit
# changes trained OUTPUT; if yes bump TRAINER_VERSIONS in ml/artifact.py
# (stale pins must die), then refresh the digest here either way.
_TRAINER_DIGESTS = {
    "ivf_train_centroids": "33baf9f09daaf7ee",
    "pq_train_codebooks": "4e358dc77e1af6ec",
    "opq_rotation": "a5c73da5ac7928af",
    # shared helpers every trainer routes through: an edit here changes
    # trained output for ALL of them — consider bumping every version.
    "_lloyd_deterministic": "579a878135637476",
    "_content_sample": "8824d963f5363fab",
}


def _digest(fn) -> str:
    return hashlib.sha256(inspect.getsource(fn).encode()).hexdigest()[:16]


@pytest.mark.parametrize("name", sorted(_TRAINER_DIGESTS))
def test_trainer_source_pinned(name):
    got = _digest(getattr(S, name))
    assert got == _TRAINER_DIGESTS[name], (
        f"{name} source changed (digest {got} != pinned "
        f"{_TRAINER_DIGESTS[name]}). If the trained OUTPUT changes, bump "
        f"TRAINER_VERSIONS[{name!r}] in ml/artifact.py so existing pins "
        "are invalidated; then refresh the digest in "
        "tests/test_artifact_versions.py."
    )


def test_every_trainer_has_a_version():
    # Every public trainer with a digest must have a version row (the
    # helpers are shared internals — they version through their users).
    public = {n for n in _TRAINER_DIGESTS if not n.startswith("_")}
    assert public == set(ART.TRAINER_VERSIONS), (
        "TRAINER_VERSIONS and the digest table must cover the same "
        "public trainers"
    )


def test_trainer_key_carries_version():
    key = ART.trainer_key("opq_m8", "opq_rotation", "n1h2")
    ver = ART.TRAINER_VERSIONS["opq_rotation"]
    assert key == f"opq_m8_t{ver}_n1h2"


def test_no_handwritten_version_keys_in_plans():
    """No pinned() call site may hand-write its key: every key must be
    built by trainer_key (grep for the f-string '_t<digit>_' pattern
    outside trainer_key — the r15 OPQ bug was a hand-written key that
    silently dropped the version)."""
    import pathlib
    import re

    plans_dir = (
        pathlib.Path(ART.__file__).resolve().parent.parent / "plans"
    )
    offenders = []
    for path in plans_dir.glob("*.py"):
        text = path.read_text()
        for m in re.finditer(r"pinned\(\s*(f?\"[^\"]*\")", text):
            offenders.append(f"{path.name}: {m.group(1)}")
    assert not offenders, (
        "pinned() called with a hand-written string key (use "
        f"ART.trainer_key so the version rides in): {offenders}"
    )


def test_pinned_refuses_degenerate_artifact(tmp_path, monkeypatch):
    """r15 verdict task 3: empty/None train() results raise the crisp
    estimator error BEFORE persisting — no junk pin is created."""
    monkeypatch.setenv("RTPMDP_ARTIFACT_DIR", str(tmp_path))
    for bad in (None, [], {}, ()):
        with pytest.raises(ValueError, match="needs at least"):
            ART.pinned("junk_t1_n0hNone", lambda b=bad: b)
    assert list(tmp_path.iterdir()) == [], "degenerate pin was persisted"
    # healthy artifacts still pin and reload
    assert ART.pinned("ok_t1_n1h1", lambda: [1, 2]) == [1, 2]
    assert (tmp_path / "ok_t1_n1h1.bin").exists()
    assert ART.pinned("ok_t1_n1h1", lambda: [9]) == [1, 2]  # served, not retrained


def test_pinned_memo_keeps_latest_load_per_path(tmp_path, monkeypatch):
    """The load memo holds one entry per pin path: rewriting a pin
    replaces its entry rather than adding one per (mtime, size) ever
    seen, and ``pinned`` serves the rewritten object."""
    import os

    monkeypatch.setenv("RTPMDP_ARTIFACT_DIR", str(tmp_path))
    monkeypatch.setattr(ART, "_PINNED_LOAD_MEMO", {})
    key = "memo_t1_n1h1"
    path = str(tmp_path / f"{key}.bin")
    assert ART.pinned(key, lambda: [0]) == [0]
    for gen, obj in enumerate(([1, 1], [2, 2, 2]), start=1):
        ART.save_artifact(obj, path)
        # a distinct mtime even on coarse filesystem clocks
        os.utime(path, ns=(gen * 10**9, gen * 10**9))
        assert ART.pinned(key, lambda: [9]) == obj
    assert len(ART._PINNED_LOAD_MEMO) == 1


def test_pinned_rows_are_frozen(tmp_path, monkeypatch):
    """The memo hands every caller the same object: a pinned list of
    rows comes back as nested tuples, from a fresh train and from the
    memo alike, so no caller can mutate what the next one reads."""
    monkeypatch.setenv("RTPMDP_ARTIFACT_DIR", str(tmp_path))
    monkeypatch.setattr(ART, "_PINNED_LOAD_MEMO", {})
    rows = [(0, [1.0, 2.0]), (1, [3.0, 4.0])]
    key = "rows_t1_n1h1"
    first = ART.pinned(key, lambda: rows)
    assert first == ((0, (1.0, 2.0)), (1, (3.0, 4.0)))
    assert ART.pinned(key, lambda: [9]) is first
    monkeypatch.setattr(ART, "_PINNED_LOAD_MEMO", {})
    assert ART.pinned(key, lambda: [9]) == first  # reloaded from disk
