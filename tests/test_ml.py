"""ML quality gate (SURVEY §5.2 #4): MLlib RF on the seeded historical
table must reach held-out precision = recall = 1.00, matching the
reference's reported sklearn result (README.md:106-108). The classes
are separable by construction (normal temp ≤ ~77 °C at 3σ vs anomaly
≥ 80 °C), so the gate is robust to tree-RNG drift (SURVEY §7.4 #5).
"""

from __future__ import annotations

import itertools
import math
from types import SimpleNamespace

import numpy as np
import pytest
from pyspark.sql import functions as F

from real_time_predictive_maintenance_data_pipeline_spark.ml import anomaly as A
from real_time_predictive_maintenance_data_pipeline_spark.ml.anomaly import (
    score,
    train,
    train_and_eval,
)
from real_time_predictive_maintenance_data_pipeline_spark.sources.generator import (
    historical_telemetry,
    stream_telemetry_batch,
)


@pytest.fixture(scope="module")
def hist(spark):
    return historical_telemetry(spark).cache()


def test_heldout_precision_recall_one(spark, hist):
    _, res = train_and_eval(hist)
    assert res.n_test > 1000
    assert res.precision == 1.0 and res.recall == 1.0  # README.md:107


def test_score_schema_and_alert_parity(spark, hist):
    """O26 output contract: input cols + int prediction ∈ {0,1}; scoring
    the live-stream distribution flags exactly the +15 °C anomalies
    (stream anomalies ≥ 80 °C sit inside the training anomaly range)."""
    model = train(hist)
    batch = stream_telemetry_batch(spark, n=2000)
    scored = score(model, batch)
    assert scored.columns == [*batch.columns, "prediction"]
    assert dict(scored.dtypes)["prediction"] == "int"
    # stream anomalies (temp > 80 °C after +15 delta) must all alert
    confusion = scored.groupBy(
        (F.col("temperature") > 80.0).alias("is_spike"), "prediction"
    ).count()
    rows = {(r.is_spike, r.prediction): r["count"] for r in confusion.collect()}
    assert rows.get((True, 0), 0) == 0  # no missed spikes
    assert rows.get((False, 1), 0) == 0  # no false alerts on U(65,70)


def test_model_save_load_roundtrip(spark, hist, tmp_path):
    """O22 parity: persist + reload (joblib dump/load →
    PipelineModel.save/load, realtime_inference.py:58-65)."""
    from pyspark.ml import PipelineModel

    model = train(hist)
    path = str(tmp_path / "rf_model")
    model.write().overwrite().save(path)
    reloaded = PipelineModel.load(path)
    batch = stream_telemetry_batch(spark, n=500)
    a = score(model, batch).agg(F.sum("prediction").alias("s")).first().s
    b = score(reloaded, batch).agg(F.sum("prediction").alias("s")).first().s
    assert a == b


@pytest.fixture(scope="module")
def model(hist):
    return train(hist)


def _transform(model, df):
    """MLlib's own scoring, in ``score``'s output shape."""
    return model.transform(df).select(
        *df.columns, F.col("prediction").cast("int").alias("prediction")
    )


def test_compiled_score_equals_transform(spark, model):
    """The compiled forest predicts what ``model.transform`` predicts,
    row for row, on 500 k generator rows."""
    batch = stream_telemetry_batch(spark, n=500_000)
    ours, theirs = score(model, batch), _transform(model, batch)
    assert ours.exceptAll(theirs).count() == 0
    assert theirs.exceptAll(ours).count() == 0


def test_compiled_score_at_every_cut(spark, model):
    """Each cell edge: every feature at each of its cuts and one ulp to
    either side, in every combination with the other features' — the
    points where ``<=`` against ``<`` or a wrong cut would show."""
    cols, cuts, _ = A._compile(model)
    assert all(cuts), cuts  # the trained forest splits on both features
    edges = [
        sorted({x for c in cs for x in (math.nextafter(c, -math.inf), c, math.nextafter(c, math.inf))})
        for cs in cuts
    ]
    grid = spark.createDataFrame(list(itertools.product(*edges)), list(cols))
    ours, theirs = score(model, grid), _transform(model, grid)
    assert grid.count() == math.prod(len(e) for e in edges)
    assert ours.exceptAll(theirs).count() == 0
    assert theirs.exceptAll(ours).count() == 0


def test_compile_memo_hit_for_same_model(model, monkeypatch):
    """The forest is walked once per model; later calls reuse the table
    and only rebuild the ``Column``."""
    walks = []
    real = A.forest_trees
    monkeypatch.setattr(A, "_COMPILED", {})
    monkeypatch.setattr(A, "forest_trees", lambda m: walks.append(m) or real(m))
    first = str(A.prediction(model))
    assert str(A.prediction(model)) == first
    assert len(walks) == 1


def test_train_on_checkpoint_grows_the_same_forest(spark):
    """``train`` fits on a ``localCheckpoint`` of its input: the forest
    is node for node the one a fit on the frame itself grows."""
    frame = historical_telemetry(spark)
    direct = A._strip_summary(A.build_pipeline().fit(frame))
    assert A.forest_trees(train(frame)) == A.forest_trees(direct)


def test_artifact_roundtrip_and_compiled_scoring(spark, hist, model, tmp_path):
    """O22/O26 artifact contract: save/load roundtrip (joblib when
    installed, else pickle) + compiled artifact scoring agrees with the
    MLlib RF on the separable region (both must realize the same
    decision function there — the reference reports 1.00/1.00)."""
    from real_time_predictive_maintenance_data_pipeline_spark.ml.artifact import (
        load_artifact,
        save_artifact,
        score_with_artifact,
        train_reference_artifact,
    )

    art = train_reference_artifact(hist)
    path = str(tmp_path / "rf_artifact.bin")
    save_artifact(art, path)
    import numpy as np

    loaded = load_artifact(path)
    X = np.array([[68.0, 1.8], [90.0, 4.0], [70.0, 1.5], [85.0, 3.5]])
    assert loaded.predict(X).tolist() == art.predict(X).tolist() == [0, 1, 0, 1]

    # separable region only: normal ≤ 3σ bounds, anomalies ≥ generator
    # spike floors — inside it EVERY competent model agrees, outside it
    # model-specific boundaries legitimately differ (SURVEY §7.4 #5).
    s = stream_telemetry_batch(spark, n=5_000)
    sep = s.filter(
        ((F.col("temperature") <= 77.0) & (F.col("vibration") <= 2.7))
        | ((F.col("temperature") >= 80.0) | (F.col("vibration") >= 3.0))
    )
    mllib = score(model, sep).select("timestamp", "prediction")
    artifact = score_with_artifact(sep, path).select(
        "timestamp", F.col("prediction").alias("prediction_art")
    )
    joined = mllib.join(artifact, "timestamp")
    n = joined.count()
    n_disagree = joined.filter(F.col("prediction") != F.col("prediction_art")).count()
    assert n > 3000  # the separable region covers most of the batch
    assert n_disagree == 0


def _edges(cut: float, ulp) -> list[float]:
    return [ulp(cut, -math.inf), cut, ulp(cut, math.inf)]


def test_stand_in_column_is_its_predict(spark, tmp_path):
    """The stand-in's compiled column and its numpy ``predict`` are one
    function: on 50 k generator rows, at each cut and one ulp to either
    side in every combination, and on NaN, ±inf and null — where a bad
    reading ALERTs, as MLlib's and Catalyst's ``NaN <= t`` is false."""
    from real_time_predictive_maintenance_data_pipeline_spark.ml.anomaly import FEATURE_COLS
    from real_time_predictive_maintenance_data_pipeline_spark.ml.artifact import (
        ThresholdAnomalyModel,
        save_artifact,
        score_with_artifact,
    )

    art = ThresholdAnomalyModel()
    path = str(tmp_path / "stand_in.bin")
    save_artifact(art, path)
    bad = [math.nan, math.inf, -math.inf, None]
    grid = spark.createDataFrame(
        list(
            itertools.product(
                _edges(art.temp_threshold, math.nextafter) + bad,
                _edges(art.vib_threshold, math.nextafter) + bad,
            )
        ),
        "temperature double, vibration double",
    )
    rows = stream_telemetry_batch(spark, n=50_000).select(*FEATURE_COLS).unionByName(grid)
    pdf = score_with_artifact(rows, path).toPandas()
    assert len(pdf) == 50_000 + 7 * 7
    expect = art.predict(pdf[list(FEATURE_COLS)].to_numpy(dtype="float64"))
    assert (pdf["prediction"].to_numpy() == expect).all()
    assert pdf["prediction"].sum() > 0  # the batch has anomalies
    nan_or_null = np.isnan(pdf[list(FEATURE_COLS)].to_numpy(dtype="float64")).any(axis=1)
    assert nan_or_null.sum() == 7 * 7 - 5 * 5
    assert (pdf["prediction"].to_numpy()[nan_or_null] == 1).all()


@pytest.mark.parametrize(
    "t", [74.5, 2.5, 78.5, 0.1, 2.4675, 74.669, -3.3, 1e-30, 123456.789, 2.0 + 2.0**-24]
)
def test_f32_cut_matches_sklearn_float32_test(t):
    """``x <= _f32_cut(t)`` is sklearn's ``float32(x) <= t``: the cut
    passes, the next double fails, and float32 rounding is monotone."""
    from real_time_predictive_maintenance_data_pipeline_spark.ml.artifact import _f32_cut

    c = _f32_cut(t)
    assert np.float32(c) <= t
    assert np.float32(math.nextafter(c, math.inf)) > t


def _sk_forest_class(monkeypatch):
    """A stand-in for sklearn's forest class, installed as the one
    ``artifact_column`` dispatches on."""
    from real_time_predictive_maintenance_data_pipeline_spark.ml import artifact as AR

    class Forest:
        def __init__(self, classes, *trees):
            self.classes_ = np.array(classes)
            self.estimators_ = [SimpleNamespace(tree_=t) for t in trees]

    monkeypatch.setattr(AR, "_SkRF", Forest)
    return Forest


def _tree(left, right, feature, threshold, value):
    return SimpleNamespace(
        children_left=np.array(left),
        children_right=np.array(right),
        feature=np.array(feature),
        threshold=np.array(threshold, dtype="float64"),
        value=np.array(value, dtype="float64"),
    )


def test_sklearn_shaped_forest_compiles_to_expected_case(monkeypatch):
    """Objects with sklearn's ``tree_`` arrays compile to the expected
    ``CASE``: float32-snapped cuts, MLlib's vote, a cut no cell depends
    on merged away, and the argmax mapped through ``classes_``."""
    from real_time_predictive_maintenance_data_pipeline_spark.ml.artifact import (
        _f32_cut,
        artifact_column,
    )

    Forest = _sk_forest_class(monkeypatch)
    a = _tree(  # temperature <= 74.5 ? (vibration <= 2.5 ? 0 : 1) : 1
        [1, 3, -1, -1, -1], [2, 4, -1, -1, -1], [0, 1, -2, -2, -2],
        [74.5, 2.5, -2, -2, -2], [[[0, 0]], [[0, 0]], [[0, 5]], [[10, 0]], [[0, 3]]],
    )
    b = _tree(  # temperature <= 80.25 ? weights 3:1 (leans 0) : 1
        [1, -1, -1], [2, -1, -1], [0, -2, -2], [80.25, -2, -2], [[[0, 0]], [[3, 1]], [[0, 4]]],
    )
    t, v = F.col("temperature"), F.col("vibration")
    expected = F.when(
        t <= F.lit(_f32_cut(74.5)), F.when(v <= F.lit(_f32_cut(2.5)), F.lit(0)).otherwise(F.lit(1))
    ).otherwise(F.lit(1))
    assert str(artifact_column(Forest([0, 1], a, b))) == str(expected)
    only_alerts = _tree([-1], [-1], [-2], [-2], [[[7]]])
    assert str(artifact_column(Forest([1], only_alerts))) == str(F.lit(1))


def test_sklearn_forest_column_equals_predict(spark, hist):
    """A real sklearn forest: the compiled column equals ``rf.predict``
    at every cut ±1 float32 ulp, and on the generator's rows."""
    pytest.importorskip("sklearn")
    from real_time_predictive_maintenance_data_pipeline_spark.ml.anomaly import FEATURE_COLS
    from real_time_predictive_maintenance_data_pipeline_spark.ml.artifact import (
        _f32_cut,
        artifact_column,
        train_reference_artifact,
    )

    rf = train_reference_artifact(hist)
    f32_ulp = lambda x, d: np.nextafter(np.float32(x), np.float32(d))  # noqa: E731
    edges = []
    for f in range(len(FEATURE_COLS)):
        pts = set()
        for est in rf.estimators_:
            tree = est.tree_
            for thr in tree.threshold[(tree.children_left != -1) & (tree.feature == f)]:
                pts.update(float(x) for x in _edges(np.float32(thr), f32_ulp))
                pts.update((_f32_cut(thr), math.nextafter(_f32_cut(thr), math.inf)))
        edges.append(sorted(pts))

    def against(xs, ys):  # each x against an even sample of ys
        return [(x, y) for x in xs for y in ys[:: max(1, len(ys) // 20)]]

    rows = against(edges[0], edges[1]) + [(x, y) for y, x in against(edges[1], edges[0])]
    df = spark.createDataFrame(rows, "temperature double, vibration double").unionByName(
        stream_telemetry_batch(spark, n=5_000).select(*FEATURE_COLS)
    )
    pdf = df.select("*", artifact_column(rf).alias("prediction")).toPandas()
    expect = rf.predict(pdf[list(FEATURE_COLS)].to_numpy())
    assert (pdf["prediction"].to_numpy() == expect).all()


def test_unsupported_artifact_raises_type_error(spark, tmp_path):
    from real_time_predictive_maintenance_data_pipeline_spark.ml.artifact import (
        save_artifact,
        score_with_artifact,
    )

    path = str(tmp_path / "not_a_model.bin")
    save_artifact({"temperature": 78.5}, path)
    df = spark.createDataFrame([(70.0, 1.0)], "temperature double, vibration double")
    with pytest.raises(TypeError, match="dict"):
        score_with_artifact(df, path)


def test_quality_classifier_accuracy_floor(spark):
    """ml_quality_classifier gate: the distilled student must reproduce
    the teacher heuristic's keep decision on held-out docs (the stat
    features make the teacher signal linearly recoverable)."""
    from real_time_predictive_maintenance_data_pipeline_spark.plans import all_queries

    rows = (
        all_queries()["ml_quality_classifier"]
        .spark(spark, "/root/testdata/sf0.01")
        .collect()
    )
    n_test = sum(r.n for r in rows)
    n_correct = sum(r.n for r in rows if r.label == r.prediction)
    assert n_test > 0
    assert n_correct / n_test >= 0.9, (n_correct, n_test)


def test_als_recommendations_contract(spark):
    """ml_als_recommend gate: exactly 3 recs per selected user, rank
    follows descending score, and every recommended part exists in the
    part table."""
    from real_time_predictive_maintenance_data_pipeline_spark.plans import all_queries

    sf = "/root/testdata/sf0.01"
    rows = all_queries()["ml_als_recommend"].spark(spark, sf).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user, []).append(r)
    assert len(by_user) == 20
    parts = {
        p.p_partkey
        for p in spark.read.parquet(f"{sf}/part.parquet")
        .select("p_partkey")
        .collect()
    }
    for user, rs in by_user.items():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == [1, 2, 3]
        scores = [r.score for r in rs]
        assert scores == sorted(scores, reverse=True)
        for r in rs:
            assert r.part in parts


def test_survival_aft_fit_and_censoring(spark):
    """ml_survival_aft gates: the AFT fit must produce positive
    median time-to-failure predictions; censored machines (no error
    observed) are included in training rather than dropped; observed
    failure times are non-negative."""
    from real_time_predictive_maintenance_data_pipeline_spark.plans import all_queries

    rows = (
        all_queries()["ml_survival_aft"]
        .spark(spark, "/root/testdata/sf0.01")
        .collect()
    )
    assert len(rows) == 15
    for r in rows:
        assert r.median_ttf_h > 0
        assert r.observed_h >= 0
        assert r.failed in (0, 1)
    # censoring must actually flow through: the corpus contains both
    # failed and censored machines and BOTH classes survive into the
    # output (a silent drop of censored rows would pass every per-row
    # assertion above)
    classes = {r.failed for r in rows}
    assert classes == {0, 1}, classes


def test_survival_aft_point_in_time_no_leakage(spark, tmp_path):
    """Features must be invariant to events OUTSIDE each machine's
    observation window (after the failure / past the 24 h horizon).
    Append a burst of far-future extreme-value events to every machine
    and assert the AFT output is bit-identical — if any feature read
    future data (the pre-round-4 leak: rate/avg over full history),
    the trained coefficients and predictions would shift."""
    from pyspark.sql import functions as F

    from real_time_predictive_maintenance_data_pipeline_spark.plans import all_queries

    sf = "/root/testdata/sf0.001"
    q = all_queries()["ml_survival_aft"].spark

    ev = spark.read.parquet(f"{sf}/events.parquet")
    future = (
        ev.groupBy("user_id")
        .agg(F.max("ts").alias("mx"), F.max("event_id").alias("mid"))
        .select(
            (F.col("mid") + 10_000_000).alias("event_id"),
            # 10 days past everything: beyond any 24 h horizon and any
            # observed failure time
            F.timestamp_seconds(
                F.unix_timestamp("mx") + 10 * 86400
            ).alias("ts"),
            "user_id",
            F.lit("click").alias("event_type"),
            F.lit(999999.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
    )
    ev.unionByName(future).coalesce(1).write.parquet(
        str(tmp_path / "events.parquet")
    )

    base = sorted(tuple(r) for r in q(spark, sf).collect())
    poisoned = sorted(tuple(r) for r in q(spark, str(tmp_path)).collect())
    assert base == poisoned
