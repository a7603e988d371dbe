"""End-to-end replay of the reference's training pipeline
(/root/reference/XGBoost.py:45-329) on a synthetic dirty-crimes CSV —
every stage through the engine's operators:

  raw string CSV → clean_strings_pipeline → timestamp quarantine →
  temporal / cyclical / distance / weekend features → Crime_Category
  CASE → time split (≤2003 / 2004) → leakage-safe count features →
  StringIndexer + JSON mapping export → distributed class weights →
  train_multiclass → eval → single-row serving via the same fitted
  stages, run in-process.

Assertions are the structural invariants the reference only eyeballed:
row conservation through each stage, no NULLs in the feature matrix,
count-feature values equal to group sizes, deterministic indexer maps,
a model that beats the majority-class baseline on a learnable synthetic
signal, and serving == batch-transform on the same row.
"""

from __future__ import annotations

import csv
import random

import pytest
from pyspark.sql import functions as F

from chicago_crime_spark_ml_spark.operators.cleaning import (
    clean_strings_pipeline,
    impute_median,
    parse_timestamp_quarantine,
)
from chicago_crime_spark_ml_spark.operators.features import (
    add_cyclical_features,
    add_distance_feature,
    add_temporal_features,
    add_weekend_flag,
)
from chicago_crime_spark_ml_spark.operators.ml import (
    fit_string_indexers,
    train_multiclass,
)
from chicago_crime_spark_ml_spark.operators.relational import (
    add_group_count_feature,
    categorize,
    time_split,
)
from chicago_crime_spark_ml_spark.sources.io import read_csv_raw

TYPES = {
    "PROPERTY_CRIME": ["THEFT", "BURGLARY", "MOTOR VEHICLE THEFT"],
    "VIOLENT_CRIME": ["BATTERY", "ASSAULT", "ROBBERY"],
    "DRUG_CRIME": ["NARCOTICS"],
    "OTHER": ["DECEPTIVE PRACTICE", "CRIMINAL TRESPASS"],
}
LOCATIONS = ["STREET", "RESIDENCE", "APARTMENT", "SIDEWALK", "PARK"]


def _write_crimes_csv(path: str, n: int = 1600) -> None:
    """Seeded dirty crimes CSV. The signal is PLANTED: district drives
    the crime type (distinguishable by a tree model), so accuracy above
    the majority baseline proves the features actually flow."""
    rng = random.Random(42)
    cats = list(TYPES)
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(
            ["_c0", "ID", "Date", "Primary Type", "Location Description",
             "Arrest", "Ward", "Community Area", "District",
             "Latitude", "Longitude"]
        )
        for i in range(n):
            district = rng.randint(1, 8)
            cat = cats[district % 4] if rng.random() < 0.8 else rng.choice(cats)
            ptype = rng.choice(TYPES[cat])
            year = rng.choice([2001, 2002, 2003, 2003, 2004])
            date = (
                f"{rng.randint(1, 12):02d}/{rng.randint(1, 28):02d}/{year} "
                f"{rng.randint(1, 12):02d}:{rng.randint(0, 59):02d}:00 "
                f"{rng.choice(['AM', 'PM'])}"
            )
            ward = "NULL" if rng.random() < 0.3 else str(rng.randint(1, 50))
            comm = "" if rng.random() < 0.3 else str(rng.randint(1, 77))
            row = [
                str(i), str(1000 + i), date, ptype,
                rng.choice(LOCATIONS),
                rng.choice(["True", "true", "False", "false"]),
                ward, comm, str(district),
                f"{41.6 + rng.random() * 0.5:.6f}",
                f"{-87.9 + rng.random() * 0.4:.6f}",
            ]
            w.writerow(row)
        # dirt: an embedded header row and an unparseable date
        w.writerow(["x", "ID", "Date", "Primary Type", "Location Description",
                    "Arrest", "Ward", "Community Area", "District",
                    "Latitude", "Longitude"])
        w.writerow(["y", "9999", "13/45/2003 99:99:99", "THEFT", "STREET",
                    "True", "1", "1", "1", "41.8", "-87.6"])


@pytest.fixture(scope="module")
def pipeline_result(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("e2e") / "crimes_raw.csv")
    _write_crimes_csv(path)

    raw = read_csv_raw(spark, path)
    clean = clean_strings_pipeline(
        raw,
        probe_col="ID",
        cast_schema={
            "Ward": "double", "Community Area": "double",
            "District": "double", "Latitude": "double", "Longitude": "double",
        },
        bool_cols=["Arrest"],
        dropna_subset=["District", "Latitude", "Longitude"],
    )
    good, bad = parse_timestamp_quarantine(
        clean, "Date", "MM/dd/yyyy hh:mm:ss a", out_col="ts"
    )

    feats = add_temporal_features(good, "ts")
    feats = add_cyclical_features(feats, "hour", period=24.0)
    feats = add_distance_feature(
        feats, "Latitude", "Longitude", point=(41.8781, -87.6298)
    )
    feats = add_weekend_flag(feats, "dayofweek")
    feats = categorize(
        feats, "Primary Type", TYPES, default="OTHER", out_col="Crime_Category"
    )
    feats = impute_median(feats, ["Ward", "Community Area"], exact=True)

    train, test = time_split(feats, "year", 2003)
    counts_src = train  # leakage rule: counts from train only
    train = add_group_count_feature(
        train, counts_src, "District", "District_Crime_Count"
    )
    test = add_group_count_feature(
        test, counts_src, "District", "District_Crime_Count"
    )

    idx_model, mappings = fit_string_indexers(train, ["Location Description"])
    train_i = idx_model.transform(train)
    test_i = idx_model.transform(test)

    feature_cols = [
        "District", "Ward", "Community Area", "Latitude", "Longitude",
        "hour", "month", "dayofweek", "hour_sin", "hour_cos",
        "distance_from_center", "is_weekend", "District_Crime_Count",
        "Location Description_idx",
    ]
    result = train_multiclass(
        train_i, test_i, feature_cols, label_col="Crime_Category"
    )
    return dict(
        raw=raw, clean=clean, good=good, bad=bad, train=train, test=test,
        train_i=train_i, test_i=test_i, idx_model=idx_model,
        mappings=mappings, result=result,
        feature_cols=feature_cols,
    )


def test_row_conservation(pipeline_result):
    r = pipeline_result
    assert r["raw"].count() == 1602  # 1600 + header row + bad-date row
    assert r["clean"].count() == 1601  # embedded header filtered
    assert r["good"].count() == 1600 and r["bad"].count() == 1
    assert r["train"].count() + r["test"].count() == 1600
    # time split is leakage-clean
    assert r["train"].agg(F.max("year")).first()[0] <= 2003
    assert r["test"].agg(F.min("year")).first()[0] == 2004


def test_feature_matrix_complete(pipeline_result):
    r = pipeline_result
    df = r["train_i"]
    nulls = df.select(
        [F.sum(F.col(c).isNull().cast("int")).alias(c)
         for c in r["feature_cols"]]
    ).first()
    assert all(v == 0 for v in nulls), nulls.asDict()


def test_count_feature_equals_group_sizes(pipeline_result):
    r = pipeline_result
    sizes = {
        row["District"]: row["n"]
        for row in r["train"].groupBy("District").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    sample = r["train"].select("District", "District_Crime_Count").distinct()
    for row in sample.collect():
        assert row["District_Crime_Count"] == sizes[row["District"]]


def test_indexer_mapping_frequency_order(pipeline_result):
    r = pipeline_result
    labels = r["mappings"]["Location Description"]
    freqs = {
        row["Location Description"]: row["n"]
        for row in r["train"].groupBy("Location Description").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    got = [freqs[loc] for loc in labels]
    assert got == sorted(got, reverse=True)


def test_model_beats_majority_baseline(pipeline_result):
    r = pipeline_result
    majority = (
        r["test"].groupBy("Crime_Category").count().agg(F.max("count")).first()[0]
        / r["test"].count()
    )
    assert r["result"].accuracy > majority + 0.1, (
        r["result"].accuracy, majority
    )


@pytest.fixture(scope="module")
def serving_model(pipeline_result):
    """The served pipeline over RAW rows: the location indexer, then the
    trained label indexer, assembler and classifier."""
    from pyspark.ml import PipelineModel

    r = pipeline_result
    return PipelineModel(
        stages=[*r["idx_model"].stages, *r["result"].model.stages]
    )


@pytest.fixture(scope="module")
def served_bundle(pipeline_result, serving_model, tmp_path_factory):
    from chicago_crime_spark_ml_spark.serving import FeatureStore, ServingBundle

    r = pipeline_result
    path = str(tmp_path_factory.mktemp("bundle"))
    mappings = {**r["mappings"], "label_labels": r["result"].label_mapping}
    ServingBundle.save_parts(path, serving_model, mappings, FeatureStore(tables={}))
    return ServingBundle.load(path)


def test_single_row_serving_matches_batch(pipeline_result, serving_model, spark):
    # every held-out row, one with a Location Description the indexer
    # never saw, and one without the label column: each served row
    # predicts exactly what the batch transform predicts for it
    from chicago_crime_spark_ml_spark.operators.ml import compile_scorer

    test = pipeline_result["test"]
    one = test.orderBy("ID").limit(1)
    score = compile_scorer(serving_model)
    served, batch = [], []
    for df in (
        test,
        one.withColumn("Location Description", F.lit("LAGOON")),
        one.drop("Crime_Category"),
    ):
        for r in serving_model.transform(df).orderBy("ID").collect():
            served.append(score(spark, {c: r[c] for c in df.columns}))
            batch.append(r["prediction"])
    assert len(served) == test.count() + 2
    assert served == batch


def test_predict_row_null_field_matches_batch(pipeline_result, served_bundle, spark):
    # a request with a null field: createDataFrame([row]) cannot type it,
    # while the batch transform over the typed column sends the null to
    # the indexer's keep bucket; the served row predicts the same
    one = (
        pipeline_result["test"].orderBy("ID").limit(1)
        .withColumn("Location Description", F.lit(None).cast("string"))
    )
    scored = served_bundle.model.transform(one).first()
    assert scored["Location Description_idx"] == len(
        pipeline_result["mappings"]["Location Description"]
    )
    request = {c: scored[c] for c in one.columns}
    out = served_bundle.predict_row(spark, request)
    assert out["prediction"] == scored["prediction"]


def test_predict_row_runs_no_spark_job(pipeline_result, served_bundle, spark):
    sc = spark.sparkContext
    rows = pipeline_result["test"].orderBy("ID").limit(3).collect()
    sc.setJobGroup("serve", "single-row predict_row")
    try:
        for r in rows:
            served_bundle.predict_row(spark, r.asDict())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("serve") == []
