"""MLlib anomaly model — the engine's Phase-4/5 parity (O22, O25, O26,
O28; README.md:91-112 describes the reference's sklearn notebook flow).

Reference contract: features = (temperature, vibration), target =
is_anomaly, RandomForest, held-out precision = recall = 1.00 (classes
separable by construction: normal temp ≤ ~77 °C at 3σ vs anomaly ≥ 80).

Engine differences (by design, SURVEY §7.4 #5): distributed MLlib
instead of single-process sklearn; quality gate is on held-out metrics,
not per-row prediction equality. Scoring is one Catalyst expression
over micro-batches — not the reference's per-message callback
(realtime_inference.py:92-139) — the single biggest architectural win
at scale.

The scorer compiles the fitted forest into that expression, after
"ML Inference Pipeline Execution Using Pure SQL Based on Operator
Fusion" (ICDE 2025, PAPERS.md): the driver walks the trees once, the
distinct split thresholds of each feature cut the feature plane into
cells on which every tree — hence the vote — is constant, and the
per-cell class becomes a nested ``CASE WHEN`` on the raw columns. No
feature vector, no model broadcast, no UDF: the prediction is an
ordinary expression in the query's own projection. MLlib
caps the distinct thresholds per continuous feature at ``maxBins - 1``,
so the model itself bounds the table. ``ml.artifact`` compiles the
reference-format artifact through the same ``compile_trees``.
"""

from __future__ import annotations

import itertools
import math
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import RandomForestClassifier
from pyspark.ml.feature import VectorAssembler
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FEATURE_COLS = ("temperature", "vibration")  # realtime_inference.py:68-78
LABEL_COL = "is_anomaly"


def build_pipeline(seed: int = 42) -> Pipeline:
    """VectorAssembler → RandomForestClassifier (O25 + O28)."""
    assembler = VectorAssembler(inputCols=list(FEATURE_COLS), outputCol="features")
    rf = RandomForestClassifier(
        featuresCol="features",
        labelCol=LABEL_COL,
        numTrees=50,
        maxDepth=8,
        seed=seed,
    )
    return Pipeline(stages=[assembler, rf])


@dataclass
class EvalResult:
    precision: float
    recall: float
    n_test: int


def _strip_summary(model: PipelineModel) -> PipelineModel:
    """Return a copy without the RF training summary.

    The summary pins the fitting SparkSession (and its non-serializable
    ObservationManager) into the model object; task serialization of
    any later scoring query — batch or streaming — then fails with
    'Task not serializable' whenever observation state is live.
    ``copy()`` rebuilds the JVM model without the summary."""
    return model.copy()


def train(df: DataFrame, seed: int = 42) -> PipelineModel:
    """Fit on the full frame (caller handles splitting).

    The forest makes several passes over its input (bin split
    candidates, then one pass per tree level); fitting on a
    ``localCheckpoint`` computes the input's lineage once instead of
    once per pass. Same partitions, same rows — the forest is
    node-for-node the one ``fit(df)`` grows. Not ``cache()``: callers
    pass frames they cached themselves, and unpersisting theirs is not
    ours to do."""
    return _strip_summary(build_pipeline(seed).fit(df.localCheckpoint()))


def train_and_eval(df: DataFrame, seed: int = 42) -> tuple[PipelineModel, EvalResult]:
    """80/20 split → fit → held-out precision/recall for label 1
    (README.md:106-108 quality gate)."""
    train_df, test_df = df.randomSplit([0.8, 0.2], seed=seed)
    model = _strip_summary(build_pipeline(seed).fit(train_df))
    agg = score(model, test_df).agg(
        F.sum(((F.col("prediction") == 1) & (F.col(LABEL_COL) == 1)).cast("int")).alias("tp"),
        F.sum(((F.col("prediction") == 1) & (F.col(LABEL_COL) == 0)).cast("int")).alias("fp"),
        F.sum(((F.col("prediction") == 0) & (F.col(LABEL_COL) == 1)).cast("int")).alias("fn"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    precision = agg.tp / (agg.tp + agg.fp) if (agg.tp + agg.fp) else 1.0
    recall = agg.tp / (agg.tp + agg.fn) if (agg.tp + agg.fn) else 1.0
    return model, EvalResult(precision=precision, recall=recall, n_test=agg.n)


#: Compiled cell tables: (feature columns, cuts per feature, per-cell
#: class), keyed by the forest's uid and its JVM identity — a model's
#: uid is its estimator's, so two fits of one estimator share it. Pure
#: Python: the ``Column`` is rebuilt on every call, as a cached JVM
#: ``Column`` would not survive a session restart.
_COMPILED: dict[tuple[str, int], tuple[tuple[str, ...], tuple[tuple[float, ...], ...], dict]] = {}


def _walk(node):
    """One fitted tree as nested tuples: ``(feature, threshold, left,
    right)`` for a split (``x[feature] <= threshold`` goes left, as in
    MLlib's ``ContinuousSplit``), ``(class counts,)`` for a leaf."""
    if node.getClass().getSimpleName() == "LeafNode":
        return (tuple(node.impurityStats().stats()),)
    split = node.split()
    if split.getClass().getSimpleName() != "ContinuousSplit":
        raise TypeError(f"cannot compile a {split.getClass().getSimpleName()}")
    return (
        split.featureIndex(),
        split.threshold(),
        _walk(node.leftChild()),
        _walk(node.rightChild()),
    )


def forest_trees(model: PipelineModel) -> list[tuple]:
    """Every tree of the pipeline's fitted forest, walked on the driver."""
    return [_walk(t.rootNode()) for t in model.stages[-1]._java_obj.trees()]


def _cuts(tree, out: dict[int, set[float]]) -> None:
    if len(tree) == 4:
        out.setdefault(tree[0], set()).add(tree[1])
        _cuts(tree[2], out)
        _cuts(tree[3], out)


def _vote(trees: list[tuple], n_classes: int, x: tuple[float, ...]) -> int:
    """MLlib's ``RandomForestClassificationModel`` rule: each tree adds
    its leaf's class counts over their total, then the first argmax
    (ties go to class 0)."""
    votes = [0.0] * n_classes
    for tree in trees:
        while len(tree) == 4:
            tree = tree[2] if x[tree[0]] <= tree[1] else tree[3]
        total = sum(tree[0])
        if total != 0:
            for i, c in enumerate(tree[0]):
                votes[i] += c / total
    return votes.index(max(votes))


def compile_trees(cols: tuple[str, ...], trees: list[tuple], n_classes: int):
    """``_walk``-form trees as a cell table: (cols, cuts per feature,
    class index per cell). A cell's point is its upper cut on every
    feature (``+inf`` for the last cell), which branches as every point
    of the cell does. ``NaN <= t`` is false in MLlib and in Catalyst
    alike, so NaN lands in the last cell in both."""
    found: dict[int, set[float]] = {}
    for tree in trees:
        _cuts(tree, found)
    cuts = tuple(tuple(sorted(found.get(f, ()))) for f in range(len(cols)))
    points = [(*c, math.inf) for c in cuts]
    table = {
        cell: _vote(trees, n_classes, tuple(p[i] for p, i in zip(points, cell)))
        for cell in itertools.product(*(range(len(p)) for p in points))
    }
    return cols, cuts, table


def _compile(model: PipelineModel):
    """The pipeline's fitted forest as a cell table, memoized."""
    forest = model.stages[-1]
    key = (forest.uid, SparkContext._jvm.System.identityHashCode(forest._java_obj))
    hit = _COMPILED.get(key)
    if hit is None:
        cols = tuple(model.stages[0].getInputCols())
        _COMPILED[key] = hit = compile_trees(cols, forest_trees(model), forest.numClasses)
    return hit


def _case(cols, cuts, table, prefix: tuple[int, ...] = ()):
    """Nested ``(column, [(cut, branch), ...], last)`` over the cells
    under ``prefix``; adjacent cells that predict alike are merged, and
    a feature no branch depends on is skipped. Leaves are 0/1 ints."""
    f = len(prefix)
    if f == len(cols):
        return table[prefix]
    subs = [_case(cols, cuts, table, (*prefix, i)) for i in range(len(cuts[f]) + 1)]
    arms = [(cut, sub) for cut, sub, nxt in zip(cuts[f], subs, subs[1:]) if sub != nxt]
    return (cols[f], arms, subs[-1]) if arms else subs[-1]


def _column(case) -> Column:
    if isinstance(case, int):
        return F.lit(case)
    col, arms, last = case
    out = None
    for cut, sub in arms:
        cond = F.col(col) <= F.lit(cut)
        out = F.when(cond, _column(sub)) if out is None else out.when(cond, _column(sub))
    return out.otherwise(_column(last))


def case_column(cols, cuts, table) -> Column:
    """A cell table with 0/1 int cells as one nested ``CASE WHEN``."""
    return _column(_case(cols, cuts, table))


def prediction(model: PipelineModel) -> Column:
    """The fitted VectorAssembler → RandomForest pipeline as one integer
    ``Column`` over the raw feature columns — ``model.transform``'s
    prediction, for every finite input and NaN alike."""
    return case_column(*_compile(model))


def score(model: PipelineModel, df: DataFrame) -> DataFrame:
    """Vectorized batch scoring (O26 parity, minus the per-row loop).

    Emits the input columns + integer ``prediction`` ∈ {0,1}
    (realtime_inference.py:119-126 casts to int). The prediction is the
    compiled forest (``prediction``), equal to ``model.transform``'s;
    unlike ``transform`` it cannot fail on a non-finite reading, and a
    null reading takes the last cell, as NaN does."""
    return df.select("*", prediction(model).alias("prediction"))
