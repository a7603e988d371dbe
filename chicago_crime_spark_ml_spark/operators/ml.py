"""Distributed ML pipeline — SURVEY.md §2.7 rebuilt on pyspark.ml.

The reference trains driver-side XGBoost after a 1.4M-row toPandas()
(/root/reference/XGBoost.py:225-298) — the single biggest scale-breaker in
the codebase (maxResultSize=4g exists only to survive that collect). Here
training is distributed end-to-end: indexers + VectorAssembler + a
cluster-native trainer, class weights computed as a DataFrame job and fed
via weightCol, evaluation via MulticlassClassificationEvaluator. Serving
reuses the SAME fitted PipelineModel — no NumPy twin: ``compile_scorer``
runs its fitted stages in-process (dict lookups, vector assembly, one
in-JVM ``predict`` call, no Spark job), and ``predict_single`` — the
pipeline's transform on a 1-row DataFrame — stays as the Spark reference
and as the fallback for stages with no exact in-process form.
"""

from __future__ import annotations

import json
import math
import os
from collections.abc import Callable, Mapping, Sequence
from dataclasses import dataclass

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.evaluation import MulticlassClassificationEvaluator
from pyspark.ml.feature import StringIndexer, StringIndexerModel, VectorAssembler
from pyspark.ml.linalg import DenseVector, SparseVector, Vector
from pyspark.ml.wrapper import JavaPredictionModel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def frequency_index_expr(df: DataFrame, col: str, index_col: str) -> DataFrame:
    """Deterministic label→index mapping table: frequency-descending,
    alphabetical tiebreak — exactly StringIndexer's `frequencyDesc` order
    (/root/reference/XGBoost.py:151-163,207-214). SQL-expressible, so the
    driver's DuckDB oracle can check it; a pytest asserts ml.StringIndexer
    produces the identical mapping."""
    w = Window.orderBy(F.desc("n"), F.asc(col))
    return (
        df.groupBy(col)
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(index_col, (F.row_number().over(w) - 1).cast("double"))
    )


def fit_string_indexers(
    df: DataFrame, cols: Sequence[str], handle_invalid: str = "keep"
) -> tuple[PipelineModel, dict[str, list[str]]]:
    """Fit StringIndexers on train data only (leakage rule the reference
    gets right — XGBoost.py:151-155), handleInvalid='keep' so unseen test
    labels map to an extra bucket. Returns the fitted model and the
    label→index mappings (index = position in list)."""
    stages = [
        StringIndexer(
            inputCol=c,
            outputCol=f"{c}_idx",
            handleInvalid=handle_invalid,
            stringOrderType="frequencyDesc",
        )
        for c in cols
    ]
    model = Pipeline(stages=stages).fit(df)
    mappings = {
        c: list(stage.labels) for c, stage in zip(cols, model.stages)
    }
    return model, mappings


def save_indexer_mappings(mappings: dict[str, list[str]], path: str) -> None:
    """JSON sidecar export of label maps — the reference's
    indexer_mappings.json contract (/root/reference/XGBoost.py:160-163),
    reloaded for serving (Stramlit_app.py:85-99)."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        json.dump(mappings, f, indent=2, sort_keys=True)


def load_indexer_mappings(path: str) -> dict[str, list[str]]:
    with open(path) as f:
        return json.load(f)


def class_weights(
    df: DataFrame,
    label_col: str,
    clip: tuple[float, float] = (0.1, 5.0),
) -> DataFrame:
    """Per-class weight = total/(n_classes·count), clipped — the
    reference's NumPy formula (/root/reference/XGBoost.py:247-257)
    computed distributively: one group-by plus unbounded-window totals
    over the (tiny) per-class table. Returns (label, n, weight)."""
    counts = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy()  # over the per-class table: k rows, trivial
    lo, hi = clip
    return counts.select(
        label_col,
        "n",
        F.least(
            F.lit(hi),
            F.greatest(
                F.lit(lo),
                F.sum("n").over(w) / (F.count(F.lit(1)).over(w) * F.col("n")),
            ),
        ).alias("weight"),
    )


def with_sample_weights(
    df: DataFrame, label_col: str, weight_col: str = "weight"
) -> DataFrame:
    """Broadcast-join the per-class weights onto the training rows
    (replaces the reference's per-row NumPy expansion at XGBoost.py:255-257)."""
    w = class_weights(df, label_col).drop("n")
    return df.join(F.broadcast(w), on=label_col, how="left")


def _make_classifier(features_col: str, label_col: str, weight_col: str | None, seed: int):
    """Pick the best available distributed trainer.

    Preference: xgboost.spark.SparkXGBClassifier (distributed XGBoost,
    public API since XGBoost 1.7 — algorithmic parity with the reference's
    driver-side XGBoost at XGBoost.py:266-298) when the library is
    importable; otherwise MLlib RandomForestClassifier (always present).
    Metric parity with the reference's 51.88% is NOT asserted — different
    algorithm/data — pipeline determinism is (SURVEY §7 hard-part a).
    """
    try:  # pragma: no cover - depends on optional lib in the image
        from xgboost.spark import SparkXGBClassifier  # type: ignore

        kw = dict(
            features_col=features_col,
            label_col=label_col,
            max_depth=7,
            learning_rate=0.07,
            subsample=0.85,
            colsample_bytree=0.85,
            min_child_weight=5,
            reg_alpha=0.05,
            reg_lambda=0.5,
            random_state=seed,
        )
        if weight_col:
            kw["weight_col"] = weight_col
        return SparkXGBClassifier(**kw)
    except ImportError:
        from pyspark.ml.classification import RandomForestClassifier

        kw = dict(
            featuresCol=features_col,
            labelCol=label_col,
            numTrees=50,
            maxDepth=8,
            seed=seed,
        )
        if weight_col:
            kw["weightCol"] = weight_col
        return RandomForestClassifier(**kw)


@dataclass
class TrainResult:
    model: PipelineModel
    accuracy: float
    f1_weighted: float
    label_mapping: list[str]
    feature_importances: list[float] | None = None  # M7 (gain-style scores)


def train_multiclass(
    train: DataFrame,
    test: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
    weighted: bool = True,
    seed: int = 42,
) -> TrainResult:
    """End-to-end distributed training pipeline: label indexer (frequency
    order, XGBoost.py:207-214) → VectorAssembler → weighted classifier →
    accuracy/weighted-F1 on the held-out time split. All stages
    distributed; nothing leaves the executors but metrics."""
    label_indexer = StringIndexer(
        inputCol=label_col,
        outputCol="label",
        handleInvalid="keep",
        stringOrderType="frequencyDesc",
    )
    assembler = VectorAssembler(inputCols=list(feature_cols), outputCol="features")
    weight_col = None
    if weighted:
        train = with_sample_weights(train, label_col)
        weight_col = "weight"
    clf = _make_classifier("features", "label", weight_col, seed)
    pipe = Pipeline(stages=[label_indexer, assembler, clf])
    model = pipe.fit(train)
    preds = model.transform(test)
    acc = MulticlassClassificationEvaluator(
        labelCol="label", predictionCol="prediction", metricName="accuracy"
    ).evaluate(preds)
    f1 = MulticlassClassificationEvaluator(
        labelCol="label", predictionCol="prediction", metricName="f1"
    ).evaluate(preds)
    clf_model = model.stages[-1]
    importances = None
    if hasattr(clf_model, "featureImportances"):
        importances = list(clf_model.featureImportances.toArray())
    return TrainResult(
        model=model,
        accuracy=acc,
        f1_weighted=f1,
        label_mapping=list(model.stages[0].labels),
        feature_importances=importances,
    )


def export_model_card(
    result: "TrainResult",
    feature_cols: Sequence[str],
    path: str,
) -> None:
    """Model sidecar in the reference's artifact shapes: feature
    importances as a {feature: score} map sorted descending (the
    get_score(importance_type='gain') table printed and consumed at
    /root/reference/XGBoost.py:313-320 and Stramlit_app.py's gain
    callouts), the label list (indexer_mappings.json's label_labels key,
    XGBoost.py:216-219), and the held-out metrics. JSON next to the
    MLlib model so reference-style consumers read ONE file for
    everything but the booster weights."""
    importances = result.feature_importances or []
    card = {
        "label_labels": result.label_mapping,
        "feature_importances": dict(
            sorted(
                zip(feature_cols, importances),
                key=lambda kv: -kv[1],
            )
        ),
        "metrics": {
            "accuracy": result.accuracy,
            "f1_weighted": result.f1_weighted,
        },
    }
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        # no sort_keys: the importance map's insertion order IS the
        # descending-gain ranking consumers read top-of-file
        json.dump(card, f, indent=2)


def load_model_card(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def export_booster_json(model: PipelineModel, path: str) -> bool:
    """Write the trained booster in XGBoost's native JSON model format —
    the reference's crime_xgboost_clean1.json artifact (XGBoost.py:325),
    loadable by any xgb.Booster().load_model consumer
    (Stramlit_app.py:103-119). Only meaningful when the pipeline's
    classifier IS distributed XGBoost (xgboost.spark available at train
    time); returns False otherwise — MLlib-native persistence
    (model.write().save) is always the primary artifact."""
    clf = model.stages[-1]
    get_booster = getattr(clf, "get_booster", None)
    if get_booster is None:
        return False
    booster = get_booster()
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    booster.save_model(path)  # .json suffix selects the JSON format
    return True


def load_booster_json(path: str):
    """Load a reference-format booster JSON for driver-side scoring —
    the consumer side of the XGBoost.py:325 contract. Requires the
    xgboost library (guarded import; not present in this container)."""
    import xgboost as xgb  # noqa: PLC0415

    booster = xgb.Booster()
    booster.load_model(path)
    return booster


def predict_single(model: PipelineModel, spark, row: dict) -> DataFrame:
    """Single-row serving through the SAME fitted pipeline — kills the
    reference's hand-rolled NumPy re-implementation of its own feature
    pipeline (/root/reference/Stramlit_app.py:123-136)."""
    return model.transform(spark.createDataFrame([row]))


class _NotInProcess(Exception):
    """A request value whose Spark cast the in-process scorer does not
    mirror; that request is served by ``predict_single`` instead."""


def _index_fn(labels: Sequence[str], keep: bool) -> Callable:
    """One column of a fitted StringIndexerModel: the label's position,
    ``len(labels)`` for a null or unseen label under handleInvalid='keep'."""
    index = {label: float(i) for i, label in enumerate(labels)}

    def fn(v):
        if v is not None and not isinstance(v, str):
            # Spark casts to string first, and its cast is not str()
            # (True -> "true", 1e20 -> "1.0E20")
            raise _NotInProcess
        if v in index:
            return index[v]
        if keep:
            return float(len(labels))
        raise ValueError(
            f"StringIndexer: null or unseen label {v!r} with handleInvalid='error'"
        )

    return fn


def _assemble_fn(keep: bool) -> Callable:
    """VectorAssembler on one row, as Spark's ``assemble`` does it:
    numeric and bool inputs fill one slot, vectors their size, a null
    scalar is NaN under handleInvalid='keep'; zeros are dropped and the
    result is compressed (``Vector.compressed``), so the predictor sees
    the same dense-or-sparse vector as in the batch transform."""

    def fn(*inputs):
        idx, vals, size = [], [], 0
        for v in inputs:
            if isinstance(v, Vector):
                active = (
                    zip(v.indices, v.values)
                    if isinstance(v, SparseVector)
                    else enumerate(v.toArray())
                )
                width = v.size
            elif v is None or isinstance(v, (int, float)):  # bool is an int
                x = math.nan if v is None else float(v)
                if math.isnan(x) and not keep:
                    raise ValueError(
                        "VectorAssembler: null or NaN input with handleInvalid='error'"
                    )
                active, width = [(0, x)], 1
            else:
                raise _NotInProcess
            for i, x in active:
                if x != 0.0:
                    idx.append(size + int(i))
                    vals.append(float(x))
            size += width
        vec = SparseVector(size, idx, vals)
        return vec if 1.5 * (len(vals) + 1.0) < size else DenseVector(vec.toArray())

    return fn


def _in_process_plan(model: PipelineModel):
    """The fitted stages the prediction reads, as (out_col, in_cols, fn,
    skip_if_absent) steps plus the predictor — or None when a stage has
    no exact in-process form (a scaler, a Python-side model such as
    SparkXGBClassifierModel, handleInvalid='skip', which drops the row,
    a multi-column indexer)."""
    *head, predictor = model.stages
    if not isinstance(predictor, JavaPredictionModel):
        return None
    steps = []
    for stage in head:
        if not isinstance(stage, (StringIndexerModel, VectorAssembler)):
            return None
        if stage.getHandleInvalid() == "skip":
            return None
        keep = stage.getHandleInvalid() == "keep"
        if isinstance(stage, VectorAssembler):
            steps.append((stage.getOutputCol(), tuple(stage.getInputCols()),
                          _assemble_fn(keep), False))
        elif stage.isSet("inputCols"):
            return None
        else:  # Spark skips an indexer whose column the request lacks
            steps.append((stage.getOutputCol(), (stage.getInputCol(),),
                          _index_fn(stage.labels, keep), True))
    # Catalyst prunes the columns ``prediction`` does not read (an unused
    # 'error' indexer never sees the row), so skip those steps too
    needed, kept = {predictor.getFeaturesCol()}, []
    for step in reversed(steps):
        if step[0] in needed:
            kept.insert(0, step)
            needed.update(step[1])
    return kept, predictor


def compile_scorer(model: PipelineModel) -> Callable[..., float]:
    """Compile a fitted PipelineModel once into ``score(spark, row) ->
    prediction`` that runs the SAME fitted stage objects in-process:
    StringIndexerModel as a dict built from its labels, VectorAssembler
    as Python vector assembly, and the final PredictionModel's in-JVM
    ``predict(Vector)`` — a Py4J call, not a Spark job. The result equals
    the batch transform's ``prediction`` for the same row, handleInvalid
    included ('keep' → the extra bucket / NaN, 'error' raises), and a
    null field scores as a null in the typed column does (a None that
    ``predict_single``'s ``createDataFrame`` cannot type).

    A pipeline with any other stage is served by ``predict_single`` on
    every row (decided here, once); so is a single request whose value
    needs a Spark cast the scorer does not mirror (a non-string value for
    an indexed column)."""
    def reference(spark, row: Mapping[str, object]) -> float:
        return predict_single(model, spark, dict(row)).select("prediction").first()[0]

    plan = _in_process_plan(model)
    if plan is None:
        return reference
    steps, predictor = plan
    features_col, n_features = predictor.getFeaturesCol(), predictor.numFeatures

    def score(spark, row: Mapping[str, object]) -> float:
        values = dict(row)
        try:
            for out, ins, fn, skip_if_absent in steps:
                if not (skip_if_absent and ins[0] not in values):
                    values[out] = fn(*(values[c] for c in ins))
            vec = values[features_col]
            # a null vector input under 'keep' has a width only Spark's
            # column metadata knows
            if not isinstance(vec, Vector) or vec.size != n_features:
                raise _NotInProcess
        except _NotInProcess:
            return reference(spark, row)
        return predictor.predict(vec)

    return score


def hash_split(
    df: DataFrame,
    id_col: str,
    splits: tuple[tuple[str, int], ...] = (("train", 80), ("val", 10), ("test", 10)),
) -> DataFrame:
    """Deterministic train/val/test assignment by content-stable hash:
    bucket = int(md5(id)[:15 hex]) % 100, split by cumulative weight.
    Unlike randomSplit, membership is a pure function of the id — stable
    across runs, cluster sizes, partitionings, and engine versions, and
    reproducible row-by-row in any other system (the DuckDB oracle runs
    the same expression). Map-only; no sampling pass, no state.
    """
    assert sum(w for _, w in splits) == 100
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 100
    )
    expr = None
    acc = 0
    for name, w in splits[:-1]:
        acc += w
        cond = F.col("bucket") < acc
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = expr.otherwise(splits[-1][0])
    return df.withColumn("bucket", bucket).withColumn("split", expr)

def tune_multiclass(
    train: DataFrame,
    feature_cols: Sequence[str],
    label_col: str,
    num_trees_grid: Sequence[int] = (10, 30),
    max_depth_grid: Sequence[int] = (4, 8),
    n_folds: int = 3,
    parallelism: int = 4,
    seed: int = 42,
):
    """Hyperparameter sweep via MLlib CrossValidator — the distributed
    replacement for the reference's hand-picked XGBoost params
    (/root/reference/XGBoost.py:266-284: fixed depth 7 / lr 0.07 /
    early-stop, tuned offline). Each (params × fold) fit is its own
    Spark job; ``parallelism`` runs them concurrently, so the sweep
    scales out instead of serializing on the driver like the
    reference's single-process training loop would.

    Returns (best_model, best_params, avg_metrics) — avg cross-val
    weighted-F1 per grid point, the evidence for the pick."""
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    label_indexer = StringIndexer(
        inputCol=label_col,
        outputCol="label",
        handleInvalid="keep",
        stringOrderType="frequencyDesc",
    )
    assembler = VectorAssembler(inputCols=list(feature_cols), outputCol="features")
    clf = RandomForestClassifier(
        featuresCol="features", labelCol="label", seed=seed
    )
    pipe = Pipeline(stages=[label_indexer, assembler, clf])
    grid = (
        ParamGridBuilder()
        .addGrid(clf.numTrees, list(num_trees_grid))
        .addGrid(clf.maxDepth, list(max_depth_grid))
        .build()
    )
    evaluator = MulticlassClassificationEvaluator(
        labelCol="label", predictionCol="prediction", metricName="f1"
    )
    cv = CrossValidator(
        estimator=pipe,
        estimatorParamMaps=grid,
        evaluator=evaluator,
        numFolds=n_folds,
        parallelism=parallelism,
        seed=seed,
    )
    cv_model = cv.fit(train)
    best = cv_model.bestModel.stages[-1]
    best_params = {
        "numTrees": best.getNumTrees,
        "maxDepth": best.getOrDefault("maxDepth"),
    }
    metrics = [
        (
            {"numTrees": pm[clf.numTrees], "maxDepth": pm[clf.maxDepth]},
            m,
        )
        for pm, m in zip(grid, cv_model.avgMetrics)
    ]
    return cv_model.bestModel, best_params, metrics


def pca_project(
    df: DataFrame,
    col: str = "embedding",
    k: int = 4,
    out: str = "pca",
):
    """Distributed PCA over an ``array<float>`` column (MLlib PCA:
    covariance via one treeAggregate pass over executors, eigendecomposition
    of the d×d Gramian on the driver — d is the embedding width, tiny;
    N, the corpus size, never leaves the cluster). The projection itself
    is a map-only matrix multiply per row. The dimensionality-reduction
    front-end for ANN at 100 TB: project once, index the k-dim vectors.

    Returns (projected_df, model). ``model.explainedVariance`` is the
    per-component variance ratio (monotone non-increasing — asserted in
    tests/test_features_ml.py and the ``pca_variance_check`` contract
    query). Sign of each component is implementation-defined; consumers
    must not depend on it (distances/inner products are invariant).
    """
    from pyspark.ml.feature import PCA  # noqa: PLC0415
    from pyspark.ml.functions import array_to_vector, vector_to_array  # noqa: PLC0415

    v = df.withColumn("_v", array_to_vector(F.col(col).cast("array<double>")))
    model = PCA(k=k, inputCol="_v", outputCol="_p").fit(v)
    projected = (
        model.transform(v)
        .withColumn(out, vector_to_array(F.col("_p")))
        .drop("_v", "_p")
    )
    return projected, model


def calibration_bins(
    preds: DataFrame,
    prob_col: str = "probability",
    label_col: str = "label",
    pred_col: str = "prediction",
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram data: bucket predictions by top-class
    confidence and compare each bucket's mean confidence to its actual
    accuracy — the standard post-training calibration audit (a model
    that says 0.9 should be right 90% of the time). One map-only pass
    over the scored test set plus a ``n_bins``-group agg; expected
    calibration error is Σ (n_b/N)·|acc_b − conf_b| over the result.
    Returns (bin, n, mean_confidence, accuracy)."""
    from pyspark.ml.functions import vector_to_array  # noqa: PLC0415

    p = preds.withColumn(
        "conf", F.array_max(vector_to_array(F.col(prob_col)))
    )
    b = F.least(
        F.lit(n_bins - 1), F.floor(F.col("conf") * n_bins)
    ).cast("int")
    return (
        p.groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("conf"), 4).alias("mean_confidence"),
            F.round(
                F.avg((F.col(pred_col) == F.col(label_col)).cast("double")),
                4,
            ).alias("accuracy"),
        )
        .orderBy("bin")
    )


def als_recommendations(
    ratings: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str,
    k: int = 5,
    rank: int = 8,
    max_iter: int = 5,
    seed: int = 42,
):
    """Implicit-feedback collaborative filtering via MLlib ALS: factorize
    the user×item interaction matrix (alternating least squares — each
    side solved as embarrassingly-parallel per-entity least squares,
    factors block-partitioned across executors) and emit top-k item
    recommendations per user. The classic 'customers who bought X'
    engine at warehouse scale: interactions shuffle once into blocks,
    factors stay distributed, only the final top-k per user leaves.
    Returns (recs_df, model): recs as (user, item, score) exploded rows.

    Scale note: training cost is linear in interactions, but
    ``recommendForAllUsers`` scores every user against every item
    (blocked factor matmuls — |U|·|I|·rank FLOPs; the r5 scale sweep
    measured its superlinear growth: 10× data ⇒ ~100× score space).
    At real catalog sizes serve top-k from the factor matrices with
    :func:`als_serve_topk` (blocked-BLAS inner-product batch top-k with
    bounded candidate emission; parity-tested against this exact form)
    or, sub-full-catalog, the ANN operators (write_ivf_index /
    probe_ivf_index over ``model.itemFactors``) — MLlib's exact
    full-catalog scoring is a certification-scale tool, not the 100 TB
    serving path."""
    from pyspark.ml.recommendation import ALS  # noqa: PLC0415

    als = ALS(
        userCol=user_col,
        itemCol=item_col,
        ratingCol=rating_col,
        rank=rank,
        maxIter=max_iter,
        implicitPrefs=True,
        seed=seed,
        coldStartStrategy="drop",
    )
    model = als.fit(ratings)
    recs = (
        model.recommendForAllUsers(k)
        .select(user_col, F.explode("recommendations").alias("rec"))
        .select(
            user_col,
            F.col(f"rec.{item_col}").alias(item_col),
            F.round(F.col("rec.rating"), 4).alias("score"),
        )
    )
    return recs, model


def als_serve_topk(
    model,
    user_col: str,
    item_col: str,
    k: int = 5,
    n_blocks: int = 8,
) -> DataFrame:
    """The 100 TB ALS SERVING path the als_recommendations docstring
    promises: top-k items per user by raw inner product over the
    trained factor matrices, via the blocked-BLAS batch top-k
    (similarity.cosine_topk_batch, metric="dot") instead of
    ``recommendForAllUsers``.

    Same |U|·|I|·rank score space, but the shape scales: factor blocks
    shuffle O(|U|·rank + |I|·rank) rows, every (user-block × item-block)
    matmul runs in BLAS inside one task, and only ≤(k+pad) candidate ids
    per (user, item-block) leave the Python boundary before the exact
    float64 Column-algebra rescore. recommendForAllUsers materializes
    the blocked score matrix through MLlib's own topByKey aggregation —
    correct, but its per-pair tuple stream is what the r5 scale sweep
    measured growing superlinearly. For sub-full-catalog serving, cap
    further with the IVF path (write_ivf_index over model.itemFactors).

    Output: (user_col, item_col, score, rank), rank 1..k per user by
    (round(score,4) desc, item id asc) — deterministic given factors.
    Parity with recommendForAllUsers is asserted in tests (same items
    per user up to float32-vs-float64 boundary ties).
    """
    from .similarity import cosine_topk_batch  # noqa: PLC0415

    out = cosine_topk_batch(
        model.userFactors.select("id", "features"),
        model.itemFactors.select("id", "features"),
        k=k,
        query_vec_col="features",
        query_id_col="id",
        corpus_vec_col="features",
        corpus_id_col="id",
        n_blocks=n_blocks,
        metric="dot",
    )
    return out.select(
        F.col("query_id").cast("int").alias(user_col),
        F.col("vec_id").cast("int").alias(item_col),
        F.col("cosine").alias("score"),
        "rank",
    )


def frequent_event_sequences(
    events: DataFrame,
    key_col: str = "user_id",
    order_col: str = "ts",
    item_col: str = "event_type",
    min_support: float = 0.2,
    max_pattern_length: int = 3,
) -> DataFrame:
    """Sequential-pattern mining via MLlib PrefixSpan: frequent ordered
    subsequences of per-user event types (the projection-based algorithm —
    the sequence database shuffles once per prefix growth, never
    all-subsequences materialization). Sequences are built with ONE
    per-key window pass (collect_list over ordered events, each element a
    single-item itemset as PrefixSpan expects). Deterministic: support
    counting is exact, no sampling. Returns (sequence, freq)."""
    from pyspark.ml.fpm import PrefixSpan  # noqa: PLC0415

    # ONE hash agg per key: collect (order, tiebreak, item) structs,
    # array_sort orders them by field precedence, transform projects the
    # item as a single-element itemset (PrefixSpan's expected shape)
    seqs = events.groupBy(key_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(order_col, "event_id", item_col))
            ),
            lambda s: F.array(s[item_col]),
        ).alias("sequence")
    ).select("sequence")
    ps = PrefixSpan(
        minSupport=min_support,
        maxPatternLength=max_pattern_length,
        maxLocalProjDBSize=32_000_000,
    )
    return ps.findFrequentSequentialPatterns(seqs)


def isotonic_recalibration(
    scored: DataFrame,
    confidence_col: str,
    correct_col: str,
):
    """Isotonic (PAV) recalibration of classifier confidences: fit the
    monotone-nondecreasing map confidence → P(correct) that reliability
    curves call for when calibration_bins shows drift. MLlib's isotonic
    regression runs pool-adjacent-violators on partition-sorted chunks
    then merges — deterministic, no seed. Returns (model, calibrated_df)
    where calibrated_df adds ``calibrated`` to the input."""
    from pyspark.ml.feature import VectorAssembler  # noqa: PLC0415
    from pyspark.ml.regression import IsotonicRegression  # noqa: PLC0415

    va = VectorAssembler(inputCols=[confidence_col], outputCol="_f")
    prepared = va.transform(
        scored.withColumn("_lab", F.col(correct_col).cast("double"))
    )
    iso = IsotonicRegression(
        featuresCol="_f", labelCol="_lab", predictionCol="calibrated"
    )
    model = iso.fit(prepared)
    out = model.transform(prepared).drop("_f", "_lab")
    return model, out
