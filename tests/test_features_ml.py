"""Feature + ML operator tests: correctness of the shared feature
expressions, StringIndexer mapping determinism, class-weight closed form,
plan-shape assertions (map-only features, broadcast weight join)."""

from __future__ import annotations

import datetime
import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from chicago_crime_spark_ml_spark.operators.features import (
    add_boolean_flag,
    add_cyclical_features,
    add_distance_feature,
    add_temporal_features,
    add_weekend_flag,
)
from chicago_crime_spark_ml_spark.operators.ml import (
    class_weights,
    fit_string_indexers,
    frequency_index_expr,
    load_indexer_mappings,
    save_indexer_mappings,
    with_sample_weights,
)
from chicago_crime_spark_ml_spark.plans import (
    assert_broadcast_join,
    assert_no_shuffle,
)


@pytest.fixture(scope="module")
def labeled(spark):
    # THEFT 4×, BATTERY 2×, ASSAULT 1× — deterministic frequency order
    rows = [("THEFT",)] * 4 + [("BATTERY",)] * 2 + [("ASSAULT",)]
    return spark.createDataFrame(rows, ["Primary_Type"])


def test_temporal_features_known_timestamp(spark):
    # 2003-07-15 was a Tuesday → Spark dayofweek=3 (1=Sunday)
    df = spark.createDataFrame(
        [Row(ts=datetime.datetime(2003, 7, 15, 23, 30))]
    )
    out = add_temporal_features(df, "ts").collect()[0]
    assert (out.year, out.month, out.hour, out.dayofweek) == (2003, 7, 23, 3)


def test_weekend_flag_spark_convention(spark):
    df = spark.createDataFrame([(1,), (2,), (6,), (7,)], ["dow"])
    out = {r.dow: r.is_weekend for r in add_weekend_flag(df, "dow").collect()}
    assert out == {1: 1.0, 2: 0.0, 6: 0.0, 7: 1.0}


def test_cyclical_matches_reference_formula(spark):
    # reference: sin(radians(Hour*15)) ≡ sin(2π·h/24) (XGBoost.py:119)
    df = spark.createDataFrame([(h,) for h in range(24)], ["hour"])
    out = add_cyclical_features(df, "hour", 24).collect()
    for r in out:
        assert abs(r.hour_sin - math.sin(math.radians(r.hour * 15))) < 1e-12
        assert abs(r.hour_cos - math.cos(math.radians(r.hour * 15))) < 1e-12


def test_distance_reference_formula(spark):
    df = spark.createDataFrame([Row(lat=41.9, lon=-87.7)])
    out = add_distance_feature(
        df, "lat", "lon", (41.8781, -87.6298), out_col="d"
    ).collect()[0]
    expected = math.sqrt((41.9 - 41.8781) ** 2 + (-87.7 + 87.6298) ** 2) * 111.0
    assert abs(out.d - expected) < 1e-9


def test_boolean_flag_casing(spark):
    df = spark.createDataFrame([("true",), ("True",), ("false",), (None,)], ["a"])
    out = [r.f for r in add_boolean_flag(df, "a", ["true"], "f").collect()]
    assert out == [1.0, 0.0, 0.0, 0.0]  # exact reference semantics (XGBoost.py:92)


def test_feature_pipeline_is_map_only(spark, sf_dir):
    from chicago_crime_spark_ml_spark.sources.io import load_table

    ev = load_table(spark, sf_dir, "events")
    feats = add_cyclical_features(
        add_temporal_features(ev, "ts"), "hour", 24
    )
    assert_no_shuffle(feats)  # per-row features must never shuffle


def test_string_indexer_matches_sql_mapping(labeled):
    model, mappings = fit_string_indexers(labeled, ["Primary_Type"])
    assert mappings["Primary_Type"] == ["THEFT", "BATTERY", "ASSAULT"]
    sql_map = {
        r.Primary_Type: r.idx
        for r in frequency_index_expr(labeled, "Primary_Type", "idx").collect()
    }
    assert sql_map == {"THEFT": 0.0, "BATTERY": 1.0, "ASSAULT": 2.0}


def test_indexer_mapping_json_roundtrip(tmp_path, labeled):
    _, mappings = fit_string_indexers(labeled, ["Primary_Type"])
    p = str(tmp_path / "indexer_mappings.json")
    save_indexer_mappings(mappings, p)
    assert load_indexer_mappings(p) == mappings


def test_class_weights_closed_form(labeled):
    w = {r.Primary_Type: r for r in class_weights(labeled, "Primary_Type").collect()}
    # total=7, k=3: THEFT 7/(3·4)=0.583…, BATTERY 7/6=1.1667, ASSAULT 7/3=2.333
    assert abs(w["THEFT"].weight - 7 / 12) < 1e-12
    assert abs(w["BATTERY"].weight - 7 / 6) < 1e-12
    assert abs(w["ASSAULT"].weight - 7 / 3) < 1e-12


def test_class_weights_clipped(spark):
    # 1 dominant class + 10 singletons: weight_A = 1010/(11·1000) ≈ 0.092
    # → clipped to 0.1; singleton weight = 1010/11 ≈ 91.8 → clipped to 5.0
    rows = [("A",)] * 1000 + [(c,) for c in "BCDEFGHIJK"]
    df = spark.createDataFrame(rows, ["y"])
    w = {r.y: r.weight for r in class_weights(df, "y").collect()}
    assert w["A"] == 0.1 and w["B"] == 5.0


def test_sample_weight_join_is_broadcast(labeled):
    weighted = with_sample_weights(labeled, "Primary_Type")
    assert_broadcast_join(weighted)
    assert weighted.filter(F.col("weight").isNull()).count() == 0


def test_train_eval_serving_parity(spark, sf_dir):
    # M5-M8 in one pass: distributed train on the embeddings table, metrics
    # from the evaluator, model-native importances, and single-row serving
    # through the SAME fitted pipeline predicting identically to the batch
    # transform — the property whose absence caused the reference's
    # train/serve drift twin (Stramlit_app.py:123-136 vs XGBoost.py:119-132).
    from pyspark.ml.functions import array_to_vector

    from chicago_crime_spark_ml_spark.operators.ml import (
        compile_scorer,
        predict_single,
        train_multiclass,
    )
    from chicago_crime_spark_ml_spark.operators.relational import time_split
    from chicago_crime_spark_ml_spark.sources.io import load_table

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .withColumn(
            "features_arr", array_to_vector(F.col("embedding").cast("array<double>"))
        )
        .withColumn("label_str", F.col("label").cast("string"))
        .drop("label")
    )
    train, test = time_split(emb, "vec_id", 400)
    res = train_multiclass(
        train, test, ["features_arr"], "label_str", weighted=True, seed=42
    )
    assert 0.0 <= res.accuracy <= 1.0 and 0.0 <= res.f1_weighted <= 1.0
    assert len(res.label_mapping) >= 2
    assert res.feature_importances and len(res.feature_importances) >= 1

    batch = {
        b.vec_id: b.prediction
        for b in res.model.transform(test).select("vec_id", "prediction").collect()
    }
    sample = test.select("vec_id", "features_arr", "label_str").limit(3).collect()
    score = compile_scorer(res.model)
    for r in sample:
        request = {"features_arr": r.features_arr, "label_str": r.label_str}
        served = predict_single(res.model, spark, request).select(
            "prediction"
        ).collect()[0][0]
        assert r.vec_id in batch
        assert served == batch[r.vec_id]
        # the in-process scorer on the Vector-typed input
        assert score(spark, request) == batch[r.vec_id]


def test_model_save_load_roundtrip(spark, sf_dir, tmp_path):
    # S4 model sink/source: persist the fitted pipeline, reload, predict
    # identically — the artifact contract (replaces the reference's raw
    # JSON sidecar at /root/reference/XGBoost.py:325)
    from pyspark.ml import PipelineModel
    from pyspark.ml.functions import array_to_vector

    from chicago_crime_spark_ml_spark.operators.ml import train_multiclass
    from chicago_crime_spark_ml_spark.operators.relational import time_split
    from chicago_crime_spark_ml_spark.sources.io import load_table

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .withColumn(
            "features_arr", array_to_vector(F.col("embedding").cast("array<double>"))
        )
        .withColumn("label_str", F.col("label").cast("string"))
        .drop("label")
    )
    train, test = time_split(emb, "vec_id", 400)
    res = train_multiclass(train, test, ["features_arr"], "label_str", seed=42)

    path = str(tmp_path / "model")
    res.model.save(path)
    reloaded = PipelineModel.load(path)

    orig = {r.vec_id: r.prediction
            for r in res.model.transform(test).select("vec_id", "prediction").collect()}
    back = {r.vec_id: r.prediction
            for r in reloaded.transform(test).select("vec_id", "prediction").collect()}
    assert orig == back and len(orig) > 0


def test_tune_multiclass_cv_sweep(spark, sf_dir):
    # CrossValidator sweep: grid metrics come back per point, the chosen
    # params belong to the grid, and the best model predicts on held-out
    # rows — the distributed replacement for the reference's hand-tuned
    # fixed hyperparameters (XGBoost.py:266-284).
    from pyspark.ml.functions import array_to_vector

    from chicago_crime_spark_ml_spark.operators.ml import tune_multiclass
    from chicago_crime_spark_ml_spark.operators.relational import time_split
    from chicago_crime_spark_ml_spark.sources.io import load_table

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .withColumn(
            "f", array_to_vector(F.col("embedding").cast("array<double>"))
        )
        .withColumn("label_str", F.col("label").cast("string"))
        .drop("label")
    )
    train, test = time_split(emb, "vec_id", 400)
    model, best, metrics = tune_multiclass(
        train, ["f"], "label_str",
        num_trees_grid=(5, 15), max_depth_grid=(3,), n_folds=2,
    )
    assert best["numTrees"] in (5, 15) and best["maxDepth"] == 3
    assert len(metrics) == 2 and all(0.0 <= m <= 1.0 for _, m in metrics)
    # best point's avg metric is the max over the grid
    best_metric = max(m for _, m in metrics)
    chosen = [m for p, m in metrics if p["numTrees"] == best["numTrees"]][0]
    assert chosen == best_metric
    preds = model.transform(test)
    assert preds.select("prediction").distinct().count() >= 1


def test_pca_full_rank_preserves_pairwise_distances(spark, sf_dir):
    """MLlib PCA transform is x @ W with W orthonormal (no centering in
    transform); at full rank W is square, so pairwise distances are
    EXACTLY preserved — the invariant that catches a broken covariance
    pass or eigendecomposition without pinning component signs."""
    import numpy as np

    from chicago_crime_spark_ml_spark.operators.ml import pca_project
    from chicago_crime_spark_ml_spark.sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(40)
    rows = emb.select("vec_id", "embedding").collect()
    X = {r.vec_id: np.asarray(r.embedding, dtype=float) for r in rows}
    d = len(next(iter(X.values())))

    projected, model = pca_project(emb, "embedding", k=d)
    P = {
        r.vec_id: np.asarray(r.pca, dtype=float)
        for r in projected.select("vec_id", "pca").collect()
    }
    ids = sorted(X)
    for i in ids[:10]:
        for j in ids[:10]:
            orig = np.linalg.norm(X[i] - X[j])
            proj = np.linalg.norm(P[i] - P[j])
            assert abs(orig - proj) < 1e-6 * max(1.0, orig)

    ev = list(model.explainedVariance)
    assert all(a >= b - 1e-12 for a, b in zip(ev, ev[1:]))
    assert 0.0 < sum(ev) <= 1.0 + 1e-9


def test_calibration_bins_structure(spark):
    """Bins partition the confidence range, counts sum to the scored
    rows, accuracy/confidence stay in [0,1], and confidences fall inside
    their bin — structural contract of the reliability-diagram operator,
    checked on a hand-built scored frame (no training needed)."""
    from pyspark.ml.linalg import Vectors

    from chicago_crime_spark_ml_spark.operators.ml import calibration_bins

    data = [
        # (probability, label, prediction): confidences 0.5..0.95 + the
        # boundary cases 1.0 (must clamp into bin 9) and ~0.34
        (Vectors.dense([0.5, 0.3, 0.2]), 0.0, 0.0),
        (Vectors.dense([0.55, 0.25, 0.2]), 1.0, 0.0),
        (Vectors.dense([0.05, 0.95, 0.0]), 1.0, 1.0),
        (Vectors.dense([0.1, 0.2, 0.7]), 2.0, 2.0),
        (Vectors.dense([0.34, 0.33, 0.33]), 0.0, 0.0),
        (Vectors.dense([1.0, 0.0, 0.0]), 0.0, 0.0),
        (Vectors.dense([0.0, 1.0, 0.0]), 0.0, 1.0),
    ]
    preds = spark.createDataFrame(data, ["probability", "label", "prediction"])
    rows = calibration_bins(preds).collect()
    assert len(rows) >= 1
    assert all(0 <= r.bin <= 9 for r in rows)
    assert all(0.0 <= r.mean_confidence <= 1.0 for r in rows)
    assert all(0.0 <= r.accuracy <= 1.0 for r in rows)
    n_total = sum(r.n for r in rows)
    assert n_total == len(data)
    ece = sum(r.n / n_total * abs(r.accuracy - r.mean_confidence) for r in rows)
    assert 0.0 <= ece <= 1.0
    # confidences must actually fall inside their bin (1.0 clamps to 9)
    for r in rows:
        assert r.bin / 10 - 1e-9 <= r.mean_confidence <= (r.bin + 1) / 10 + 1e-9
    # exact spot-checks: the 0.95 and two 1.0-conf rows land in bin 9
    # (1.0 clamps); the 0.5/0.55 rows in bin 5
    by_bin = {r.bin: r for r in rows}
    assert by_bin[9].n == 3 and by_bin[5].n == 2


def test_calibration_query_contract(spark, sf_dir):
    """The registered driver query emits the structural booleans — all
    must hold on the real trained pipeline at test SF."""
    from chicago_crime_spark_ml_spark.queries import QUERIES

    row = QUERIES["prediction_calibration_bins"](spark, sf_dir).first()
    assert row.n_test > 0
    assert row.bins_in_domain and row.counts_cover_test_set
    assert row.bin_stats_bounded and row.ece_finite


def test_als_recommendation_shape(spark, sf_dir):
    # library-only builder (deregistered r6 — it could only ever earn a
    # no_oracle driver row; als_coverage_check is the registered surface)
    from chicago_crime_spark_ml_spark.queries import als_part_recommendations

    recs = als_part_recommendations(spark, sf_dir)
    rows = recs.collect()
    per_user = {}
    for r in rows:
        per_user.setdefault(r.user, []).append(r.score)
    # exactly k=5 per user, every score finite
    assert all(len(v) == 5 for v in per_user.values())
    assert all(
        s == s and abs(s) < 1e6 for v in per_user.values() for s in v
    )
    assert len(per_user) > 0


def test_prefixspan_length1_equals_support_counts(spark, sf_dir):
    """PrefixSpan's length-1 patterns must equal plain per-type
    user-support counts — same numbers via a completely different
    algorithm (projection growth vs hash agg)."""
    from pyspark.sql import functions as F

    from chicago_crime_spark_ml_spark.queries import QUERIES
    from chicago_crime_spark_ml_spark.sources.io import load_table

    out = QUERIES["frequent_event_sequences"](spark, sf_dir)
    len1 = {
        r.pattern: r.freq
        for r in out.collect()
        if ">" not in r.pattern and "+" not in r.pattern
    }
    ev = load_table(spark, sf_dir, "events")
    n_users = ev.select("user_id").distinct().count()
    support = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
        if r.n / n_users >= 0.3
    }
    assert len1 == support and len(len1) > 0


def test_als_serve_topk_parity_with_recommend_for_all_users(spark):
    """The blocked-BLAS serving path (als_serve_topk) must reproduce
    recommendForAllUsers: same top-k item set per user, scores equal to
    the float64 u·i dot product within float32-factor tolerance."""
    import numpy as np

    from chicago_crime_spark_ml_spark.operators.ml import (
        als_recommendations,
        als_serve_topk,
    )

    rng = np.random.default_rng(5)
    rows = [
        (int(u), int(i), float(rng.integers(1, 20)))
        for u in range(30)
        for i in rng.choice(60, size=12, replace=False)
    ]
    ratings = spark.createDataFrame(rows, "user INT, item INT, qty FLOAT")
    recs, model = als_recommendations(ratings, "user", "item", "qty", k=5)
    served = als_serve_topk(model, "user", "item", k=5).collect()

    mllib = {}
    for r in recs.collect():
        mllib.setdefault(r.user, {})[r.item] = r.score
    ours = {}
    for r in served:
        ours.setdefault(r.user, {})[r.item] = r.score
    assert set(ours) == set(mllib)

    uf = {r.id: np.asarray(r.features, dtype=np.float64)
          for r in model.userFactors.collect()}
    itf = {r.id: np.asarray(r.features, dtype=np.float64)
           for r in model.itemFactors.collect()}
    for u, items in ours.items():
        assert len(items) == 5
        # scores are the float64 dot product of the trained factors
        for i, s in items.items():
            assert s == pytest.approx(float(uf[u] @ itf[i]), abs=2e-4)
        # same item set as MLlib unless the k-th score ties at 4dp
        if set(items) != set(mllib[u]):
            ours_kth = min(items.values())
            only_mllib = set(mllib[u]) - set(items)
            assert all(
                abs(mllib[u][i] - ours_kth) <= 1e-3 for i in only_mllib
            ), (u, items, mllib[u])
