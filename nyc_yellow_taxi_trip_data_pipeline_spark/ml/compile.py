"""Compile a fitted ``build_pipeline`` model into one prediction Column.

``PipelineModel.transform`` re-broadcasts the whole forest on every call
(a 100-tree depth-10 forest is ~63k nodes, ~5 MB Java-serialized, ~150 ms
of driver time per call), so a serving path that transforms per request
pays that on every request. Here the forest is extracted once, put in
flat numpy arrays, broadcast once, and evaluated by one vectorized
``pandas_udf`` over feature Columns built once per model:

- StringIndexer (``keep``) + OneHotEncoder (``dropLast``): one
  ``when(col == label, 1.0).otherwise(0.0)`` slot per label, in
  ``labels`` order; an unseen or null label is all zeros.
- VectorAssembler (``keep``): numeric inputs cast to double, null -> NaN.
- StandardScaler (``withStd`` only): ``x * scale`` with ``scale = 1/std``,
  ``0.0`` where ``std == 0``.
- RandomForestRegressionModel: a feature goes left when
  ``x <= threshold`` (NaN goes right); the tree outputs are summed as a
  left fold in tree order from ``0.0`` and divided by the tree count.

That is MLlib's own arithmetic, so predictions are bit-identical to
``PipelineModel.transform`` (``tests/test_serving_compiled.py``). Any
stage, parameter or split ``build_pipeline`` never produces raises
``ValueError`` naming it; there is no fallback to ``transform``.
"""

from __future__ import annotations

import re
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.ml import PipelineModel
from pyspark.ml.feature import (
    OneHotEncoderModel,
    StandardScalerModel,
    StringIndexerModel,
    VectorAssembler,
)
from pyspark.ml.regression import RandomForestRegressionModel
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from nyc_yellow_taxi_trip_data_pipeline_spark import memo


class CompiledPipeline(NamedTuple):
    """The model's prediction as a Column over the raw input columns it
    reads (``inputs``), valid in the session it was compiled for."""

    prediction: Column
    inputs: tuple[str, ...]


class Forest(NamedTuple):
    """A forest in flat node arrays. Leaves have ``children == (self,
    self)``, so ``depth`` steps of ``node = children[node, not x <= t]``
    from ``roots`` land every walk on its leaf."""

    feature: np.ndarray  # intp, per node (0 for leaves)
    threshold: np.ndarray  # float64, per node (0.0 for leaves)
    children: np.ndarray  # intp, (nodes, 2): left, right
    value: np.ndarray  # float64, per node (0.0 for internal nodes)
    roots: np.ndarray  # intp, per tree, in tree order
    depth: int


_TREE = re.compile(r"Tree (\d+) \(weight (\S+)\):")
_IF = re.compile(r"If \(feature (\d+) <= (\S+)\)")
_ELSE = re.compile(r"Else \(feature (\d+) > (\S+)\)")
_PREDICT = re.compile(r"Predict: (\S+)")


def parse_forest(text: str) -> Forest:
    """Parse ``RandomForestRegressionModel.toDebugString``. Java's
    ``Double.toString`` round-trips, so every threshold and leaf value is
    the model's own double."""
    feature, threshold, children, value, roots = [], [], [], [], []
    depth = 0
    open_ifs: list[int] = []  # internal nodes whose Else is still to come
    attach: tuple[int, int] | None = None  # (parent, side) of the next node

    def new_node(f: int, t: float, v: float) -> int:
        n = len(feature)
        feature.append(f)
        threshold.append(t)
        children.append([n, n])
        value.append(v)
        if attach is None:
            roots.append(n)
        else:
            children[attach[0]][attach[1]] = n
        return n

    for line in text.splitlines()[1:]:
        body = line.strip()
        if not body:
            continue
        if m := _IF.fullmatch(body):
            n = new_node(int(m[1]), float(m[2]), 0.0)
            open_ifs.append(n)
            attach = (n, 0)
        elif m := _ELSE.fullmatch(body):
            n = open_ifs.pop()
            if (feature[n], threshold[n]) != (int(m[1]), float(m[2])):
                raise ValueError(f"forest text: {body!r} does not match its If")
            attach = (n, 1)
        elif m := _PREDICT.fullmatch(body):
            new_node(0, 0.0, float(m[1]))
            # A root is indented 4 spaces, each level below it 1 more.
            depth = max(depth, len(line) - len(line.lstrip()) - 4)
            attach = None
        elif m := _TREE.fullmatch(body):
            if open_ifs or attach is not None or float(m[2]) != 1.0:
                raise ValueError(f"forest text: unsupported tree header {body!r}")
        else:
            raise ValueError(f"unsupported forest split or line: {body!r}")
    if open_ifs or attach is not None or not roots:
        raise ValueError("forest text ended inside a tree")
    return Forest(
        np.array(feature, dtype=np.intp),
        np.array(threshold, dtype=np.float64),
        np.array(children, dtype=np.intp).reshape(-1, 2),
        np.array(value, dtype=np.float64),
        np.array(roots, dtype=np.intp),
        depth,
    )


def _forest_udf(spark: SparkSession, forest: Forest, scale: np.ndarray):
    """One ``pandas_udf`` evaluating the scaled forest over the feature
    slot columns. The arrays ship once, in a broadcast; the function is
    self-contained (cluster workers cannot import this package)."""
    arrays = spark.sparkContext.broadcast((scale, *forest))

    def predict(*slots):
        import numpy as np
        import pandas as pd

        scale, feature, threshold, children, value, roots, depth = arrays.value
        x = np.column_stack(
            [s.to_numpy(dtype=np.float64, na_value=np.nan) for s in slots]
        ) * scale
        n = len(x)
        # Flat gathers with intp indices: 2.7x faster than 2-d fancy
        # indexing with int32 ones (10k rows, 100 trees, 4-vCPU host).
        flat, row_base, children = x.ravel(), np.arange(n) * len(scale), children.ravel()
        node = np.repeat(roots[:, None], n, axis=1)  # (trees, rows)
        for _ in range(depth):
            go_right = ~(flat[row_base + feature[node]] <= threshold[node])
            node = children[2 * node + go_right]
        total = np.zeros(n)
        for leaf in value[node]:  # left fold in tree order, like Scala's sum
            total += leaf
        return pd.Series(total / len(roots))

    # Real annotations: `from __future__ import annotations` would leave
    # strings that pandas_udf's signature inspection cannot read.
    predict.__annotations__ = {"slots": pd.Series, "return": pd.Series}
    return F.pandas_udf("double")(predict)


def _stage_error(stage, why: str) -> ValueError:
    return ValueError(
        f"cannot compile {type(stage).__name__} ({stage.uid}): {why}; only "
        "the stages ml.build_pipeline produces are supported"
    )


def _compile(spark: SparkSession, model: PipelineModel) -> CompiledPipeline:
    """Walk the stages in order, tracking each vector column as its list
    of slot Columns, then parse and broadcast the forest."""
    vectors: dict[str, list[Column]] = {}  # vector column -> its slot Columns
    labels: dict[str, tuple[str, list[str]]] = {}  # index column -> (input, labels)
    scaled: dict[str, tuple[list[Column], np.ndarray]] = {}  # column -> (slots, scale)
    inputs: list[str] = []
    stages = model.stages
    for stage in stages[:-1]:
        if isinstance(stage, StringIndexerModel):
            levels = stage.labelsArray
            if stage.getHandleInvalid() != "keep" or len(levels) != 1:
                raise _stage_error(stage, "not a single-column 'keep' indexer")
            labels[stage.getOutputCol()] = (stage.getInputCol(), levels[0])
        elif isinstance(stage, OneHotEncoderModel):
            if len(stage.categorySizes) != 1 or stage.getInputCol() not in labels:
                raise _stage_error(stage, "its input is not a StringIndexer output")
            source, levels = labels[stage.getInputCol()]
            if (
                not stage.getDropLast()
                or stage.getHandleInvalid() != "error"
                or stage.categorySizes[0] != len(levels) + 1
            ):
                raise _stage_error(stage, "not a dropLast encoding of a 'keep' indexer")
            inputs.append(source)
            raw = F.col(source).cast("string")
            vectors[stage.getOutputCol()] = [
                F.when(raw == F.lit(label), 1.0).otherwise(0.0) for label in levels
            ]
        elif isinstance(stage, VectorAssembler):
            if stage.getHandleInvalid() != "keep":
                raise _stage_error(stage, "handleInvalid is not 'keep'")
            slots = []
            for name in stage.getInputCols():
                if name in vectors:
                    slots.extend(vectors[name])
                else:
                    inputs.append(name)
                    slots.append(F.col(name).cast("double"))
            vectors[stage.getOutputCol()] = slots
        elif isinstance(stage, StandardScalerModel):
            if stage.getWithMean() or not stage.getWithStd():
                raise _stage_error(stage, "only withStd=True, withMean=False is supported")
            if stage.getInputCol() not in vectors:
                raise _stage_error(stage, "its input is not an assembled vector")
            scale = np.array([0.0 if s == 0.0 else 1.0 / s for s in stage.std.toArray()])
            scaled[stage.getOutputCol()] = (vectors[stage.getInputCol()], scale)
        else:
            raise _stage_error(stage, "unsupported stage")
    rf = stages[-1] if stages else None
    if not isinstance(rf, RandomForestRegressionModel):
        raise ValueError(
            f"cannot compile a pipeline whose final stage is "
            f"{type(rf).__name__}; only a RandomForestRegressionModel is supported"
        )
    if rf.getFeaturesCol() not in scaled:
        raise _stage_error(rf, "its features are not a StandardScaler output")
    slots, scale = scaled[rf.getFeaturesCol()]
    if not len(slots) == len(scale) == rf.numFeatures:
        raise _stage_error(rf, f"{rf.numFeatures} features but {len(slots)} slots")
    forest = parse_forest(rf.toDebugString)
    if len(forest.roots) != rf.getNumTrees:
        raise _stage_error(rf, "tree count does not match its debug string")
    return CompiledPipeline(_forest_udf(spark, forest, scale)(*slots), tuple(inputs))


def compile_pipeline(spark: SparkSession, model: PipelineModel) -> CompiledPipeline:
    """The compiled form of ``model``, built once per session and model
    uid (a fitted model never changes) through the session memo, which
    drops it with its session, broadcast included."""
    return memo.get_or_build(
        spark, "model", f"model:{model.uid}", "compiled", lambda: _compile(spark, model)
    )
