"""Model-ARTIFACT scoring — parity with the reference's joblib-RF
inference contract (realtime_inference.py:58-65 loads
``predictive_maintenance_rf_model.joblib``; :117-123 calls
``model.predict(X)[0]`` per message), so that a user holding the
reference's sklearn artifact scores it WITHOUT retraining:

- ``load_artifact``/``save_artifact``: joblib when installed, stdlib
  pickle otherwise (joblib's default persistence is pickle-compatible
  for the plain-object case).
- ``score_with_artifact``: loads the artifact on the driver and
  compiles it into the ``CASE WHEN`` that ``ml.anomaly`` builds for
  the MLlib forest — one scorer, no Python worker, no Arrow transfer
  (the O26 "sklearn parity" mapping, SURVEY §2.1). NaN and null fail
  every ``<=`` split and ALERT, as in MLlib and Catalyst; every
  pipeline quarantines them before scoring.
- ``train_reference_artifact``: when sklearn is importable, fits the
  reference's RandomForestClassifier on the (driver-collected, 10 k
  row — the reference's own training size, README.md:94-96) historical
  table; otherwise returns ``ThresholdAnomalyModel``, a deterministic
  stand-in with the same ``predict(X) -> {0,1}`` surface. The classes
  are linearly separable by construction (SURVEY §5.2 #4), so on the
  separable region the stand-in, a real sklearn RF, and the MLlib RF
  all agree — tests pin that agreement.
"""

from __future__ import annotations

import math
import os
import pickle
from typing import Any

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .anomaly import FEATURE_COLS, LABEL_COL, case_column, compile_trees

try:  # environment-gated: joblib is optional (brief: no pip installs)
    import joblib as _joblib
except ImportError:  # pragma: no cover - depends on container
    _joblib = None

try:
    from sklearn.ensemble import RandomForestClassifier as _SkRF
except ImportError:  # pragma: no cover - depends on container
    _SkRF = None


class ThresholdAnomalyModel:
    """Deterministic stand-in for the reference's trained RF artifact.

    Same inference surface as the sklearn estimator
    (``predict(X: ndarray[n, 2]) -> ndarray[n]``). Decision thresholds
    sit at the midpoints of the generator's separable classes
    (normal temp ≤ 77 = μ68+3σ vs anomaly ≥ 80,
    normal vib ≤ 2.7 = μ1.8+3σ vs anomaly ≥ 3 —
    generate_historical_data.py:54-61), where the reference reports
    precision = recall = 1.00 (README.md:106-108), i.e. any competent
    model realizes this same decision function on that region.
    """

    temp_threshold = 78.5
    vib_threshold = 2.85

    def tree(self) -> tuple:
        """The decision as one tree in ``ml.anomaly``'s tuple form."""
        normal, alert = ((1.0, 0.0),), ((0.0, 1.0),)
        return (0, self.temp_threshold, (1, self.vib_threshold, normal, alert), alert)

    def predict(self, X: np.ndarray) -> np.ndarray:
        """``tree`` walked over numpy rows (NaN alerts, as compiled)."""
        X = np.asarray(X, dtype=np.float64)
        normal = (X[:, 0] <= self.temp_threshold) & (X[:, 1] <= self.vib_threshold)
        return (~normal).astype(np.int64)


def save_artifact(model: Any, path: str) -> None:
    """Persist with joblib when available (the reference's format —
    realtime_inference.py:58-65), else stdlib pickle.

    Write-then-rename: ``pinned`` trainers racing on one key (several
    drivers, or a driver and a later reader) must see the file appear
    atomically — a partial in-place write would corrupt-load
    flakily."""
    tmp = f"{path}.tmp.{os.getpid()}"
    if _joblib is not None:
        _joblib.dump(model, tmp)
    else:
        with open(tmp, "wb") as fh:
            pickle.dump(model, fh)
    os.replace(tmp, path)


def load_artifact(path: str) -> Any:
    if _joblib is not None:
        return _joblib.load(path)
    with open(path, "rb") as fh:
        return pickle.load(fh)


def artifact_dir() -> str:
    """Directory for pinned trained artifacts (``pinned``): env
    ``RTPMDP_ARTIFACT_DIR`` when set, else ``.artifacts/`` at the repo
    root (next to the package — gitignored; at cluster scale this would
    be a shared object-store prefix)."""
    d = os.environ.get("RTPMDP_ARTIFACT_DIR") or os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".artifacts",
    )
    os.makedirs(d, exist_ok=True)
    return d


#: Version of each pinned-artifact TRAINER — bump when the training
#: algorithm changes so old pins stop being served (the key carries the
#: version via ``trainer_key``). The convention is enforced
#: MECHANICALLY: tests/test_artifact_versions.py digests each trainer's
#: source and fails on any edit until the digest there is refreshed —
#: forcing the editor past this dict, where the bump decision is made.
TRAINER_VERSIONS: dict[str, int] = {
    "ivf_train_centroids": 3,
    "pq_train_codebooks": 3,
    "opq_rotation": 1,
}


def trainer_key(prefix: str, trainer: str, fp: str) -> str:
    """Build a ``pinned`` cache key that mechanically carries the
    trainer's version: ``{prefix}_t{version}_{fp}``. Callers never
    hand-write the ``_tN`` component, so a trainer-algorithm change
    invalidates every derived pin once ``TRAINER_VERSIONS`` is bumped."""
    return f"{prefix}_t{TRAINER_VERSIONS[trainer]}_{fp}"


#: Per-process memo of LOADED pinned artifacts: path → ((mtime_ns,
#: size), object), only the latest stat per path — see ``pinned``.
#: Metadata-invalidated, never persisted; row lists are stored frozen
#: (``_freeze``).
_PINNED_LOAD_MEMO: dict[str, tuple[tuple[int, int], Any]] = {}


def _freeze(obj: Any) -> Any:
    """A list of rows (a list whose items are lists or tuples — the
    shape of every pinned centroid, codebook and rotation) as nested
    tuples: the memo hands every caller the same object, so no caller
    may be able to mutate it. Anything else is returned as is."""

    def frozen(x: Any) -> Any:
        return tuple(map(frozen, x)) if isinstance(x, (list, tuple)) else x

    if isinstance(obj, list) and obj and all(isinstance(x, (list, tuple)) for x in obj):
        return frozen(obj)
    return obj


def pinned(key: str, train) -> Any:
    """Train-once → persist → load: the default query-path contract for
    every TRAINED structure (IVF centroids, PQ codebooks, the RF
    artifact). In-query training makes ANN structures depend on the
    input's physical layout, so trained structures are treated like any
    other model artifact: trained once, pinned, and LOADED by the plan.

    ``key`` must be layout-insensitive (use ``dataset_fingerprint`` on
    the training frame plus the hyperparameters), so re-layouts of the
    same logical corpus share one artifact — and it must carry a
    TRAINER VERSION component: build it with ``trainer_key`` so the
    version rides in mechanically from ``TRAINER_VERSIONS`` instead of
    being hand-written (a stale pin silently masks a new trainer
    otherwise). Concurrency-safe: the write is atomic
    (``save_artifact`` write-then-rename), so racing trainers converge
    on one winner and readers never see a partial file.

    Degenerate results are REFUSED, not cached: a ``train()`` that
    returns ``None`` or an empty container raises the crisp estimator
    error here, BEFORE persisting — a corrupt pin
    (e.g. the ``..._n0hNone.bin`` empty-corpus case) would otherwise
    serve junk to every later query of the same fingerprint, long
    after the empty-input bug is fixed.

    Loads are memoized per process by path, holding the (mtime_ns,
    size) they were loaded at: the ANN queries re-enter ``pinned`` on
    every invocation, and on an object store each skipped load is a GET
    + deserialize. A rewritten pin (new mtime/size) re-loads and
    replaces its entry, so the memo holds one entry per pin.
    Pinned artifacts are READ-ONLY: the memo hands every caller the
    same object, so a list of rows comes back as nested tuples
    (``_freeze``) that callers build their numpy/broadcast structures
    from and cannot mutate."""
    path = os.path.join(artifact_dir(), f"{key}.bin")
    if not os.path.exists(path):
        obj = train()
        try:
            empty = len(obj) == 0  # type: ignore[arg-type]
        except TypeError:
            empty = False
        if obj is None or empty:
            raise ValueError(
                f"pinned({key!r}) needs at least a non-empty trained "
                f"artifact, got {obj!r} — refusing to persist a degenerate "
                "pin (an upstream filter or source produced no training rows)"
            )
        save_artifact(obj, path)
    st = os.stat(path)
    stamp = (st.st_mtime_ns, st.st_size)
    hit = _PINNED_LOAD_MEMO.get(path)
    if hit is None or hit[0] != stamp:
        hit = _PINNED_LOAD_MEMO[path] = (stamp, _freeze(load_artifact(path)))
    return hit[1]


def dataset_fingerprint(df: DataFrame, *cols: str) -> str:
    """Layout-insensitive content fingerprint for ``pinned`` cache
    keys: (row count, sum over rows of ``pmod(xxhash64(cols), 1e9+7)``)
    is invariant under row permutation and file re-splits but moves
    with any content change, so an artifact keyed by it is shared
    across physical layouts of one logical dataset and retrained
    exactly when the data changes. One column-pruned aggregate scan
    (map-side partial sums); the bounded per-row term keeps the BIGINT
    sum overflow-free (ANSI mode) to ~9e12 rows — beyond that,
    fingerprint a deterministic sample instead."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(1_000_000_007))).alias("h"),
    ).first()
    return f"n{row['n']}h{row['h']}"


def train_reference_artifact(historical: DataFrame, seed: int = 42) -> Any:
    """sklearn-RF artifact from the historical table when sklearn is
    installed (n_estimators=100 = sklearn's default, the reference
    notebook's described config README.md:102-104); deterministic
    threshold stand-in otherwise."""
    if _SkRF is None:
        return ThresholdAnomalyModel()
    pdf = historical.select(*FEATURE_COLS, LABEL_COL).toPandas()
    rf = _SkRF(n_estimators=100, random_state=seed)
    rf.fit(pdf[list(FEATURE_COLS)].to_numpy(), pdf[LABEL_COL].to_numpy())
    return rf


def _f32_cut(t: float) -> float:
    """The double ``c`` with ``x <= c`` exactly when ``float32(x) <= t``,
    sklearn's test: the last double that rounds onto ``f``, the largest
    float32 not above ``t`` (rounding is monotone, ties go to even)."""
    f = np.float32(t)
    f = f if f <= t else np.nextafter(f, np.float32(-np.inf))
    mid = (float(f) + float(np.nextafter(f, np.float32(np.inf)))) / 2
    return mid if np.float32(mid) == f else math.nextafter(mid, -math.inf)


def _sk_tree(tree, node: int = 0) -> tuple:
    """A fitted sklearn ``tree_`` in ``ml.anomaly``'s tuple form."""
    if tree.children_left[node] == -1:
        return (tuple(tree.value[node][0].tolist()),)
    return (
        int(tree.feature[node]),
        _f32_cut(tree.threshold[node]),
        _sk_tree(tree, tree.children_left[node]),
        _sk_tree(tree, tree.children_right[node]),
    )


def artifact_column(model: Any) -> Column:
    """The artifact's ``predict`` as one integer ``Column``, compiled on
    the driver. A sklearn forest votes as MLlib's does; its argmax maps
    through ``classes_``, and its distinct cuts are not capped."""
    if isinstance(model, ThresholdAnomalyModel):
        trees, classes = [model.tree()], (0, 1)
    elif _SkRF is not None and isinstance(model, _SkRF):
        trees, classes = [_sk_tree(e.tree_) for e in model.estimators_], model.classes_
    else:
        raise TypeError(f"cannot compile a {type(model).__name__} artifact")
    cols, cuts, table = compile_trees(FEATURE_COLS, trees, len(classes))
    return case_column(cols, cuts, {cell: int(classes[i]) for cell, i in table.items()})


def score_with_artifact(df: DataFrame, model_path: str) -> DataFrame:
    """Input columns + integer ``prediction`` ∈ {0,1}, as in the MLlib
    path (``ml.anomaly.score``)."""
    return df.select("*", artifact_column(load_artifact(model_path)).alias("prediction"))
