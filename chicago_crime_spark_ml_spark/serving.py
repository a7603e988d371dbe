"""Serving surface — the engine-side answer to the reference's Streamlit
dashboard inference contract (SURVEY.md §3.3).

The reference's app re-implements its own feature pipeline in NumPy
(/root/reference/Stramlit_app.py:123-136) and — because it has no access
to the training tables — asks the USER to type the historical density
features (district/beat/community crime counts) into number inputs
(/root/reference/Stramlit_app.py:379-383). This module closes both gaps:

- ``FeatureStore``: per-key group counts computed distributed at TRAIN
  time (the same aggregation ``add_group_count_feature`` joins during
  training), exported to a bounded JSON sidecar, and served by O(1)
  lookup. Served value ≡ train-time join value — asserted in tests.
- ``ServingBundle``: fitted PipelineModel + label maps + feature store;
  ``predict_row`` assembles a user-facing request (raw keys only, no
  typed-in densities) into the model's full feature row and runs the
  SAME fitted pipeline's stages in-process (``ml.compile_scorer``,
  compiled once per bundle) — no NumPy twin to drift, and no Spark job.
  ``ml.predict_single`` (the transform on a 1-row DataFrame) is the
  Spark reference it is tested against and the fallback for a pipeline
  with a stage that has no exact in-process form.

Driver-side lookups are dicts, not Spark jobs: a single-row predict
never launches a cluster job, for features or for the model (only a
pipeline on the fallback path still does). The store is bounded by
construction (density keys are bounded-domain columns — the reference's
District/Beat/Community Area); ``build`` raises if a key column's
cardinality says otherwise, which is the signal to serve that column
from a real KV store instead of a sidecar.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Mapping, Sequence
from dataclasses import dataclass, field

from pyspark.ml import PipelineModel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class FeatureStoreBoundExceeded(ValueError):
    """A key column has too many distinct values for a sidecar store."""


@dataclass
class FeatureStore:
    """Per-key count features: {feature_name: {key_as_str: count}}.

    Keys are serialized as strings (JSON object keys) — ``lookup``
    stringifies the probe the same way, so int/str key types round-trip.
    """

    tables: dict[str, dict[str, int]]
    defaults: dict[str, int] = field(default_factory=dict)

    @classmethod
    def build(
        cls,
        source: DataFrame,
        key_cols: Sequence[str],
        max_keys_per_col: int = 100_000,
        default: int = 0,
    ) -> "FeatureStore":
        """Compute per-key counts for each key column from the TRAINING
        source (never test data — the leakage rule the reference follows
        at XGBoost.py:168-187). One distributed group-by per column; the
        collect is guarded by ``max_keys_per_col``."""
        tables: dict[str, dict[str, int]] = {}
        defaults: dict[str, int] = {}
        for key in key_cols:
            name = f"{key}_count"
            counts = (
                source.groupBy(key)
                .agg(F.count(F.lit(1)).alias("n"))
                .limit(max_keys_per_col + 1)
                .collect()
            )
            if len(counts) > max_keys_per_col:
                raise FeatureStoreBoundExceeded(
                    f"{key} has > {max_keys_per_col} distinct values; a "
                    f"JSON sidecar is the wrong serving store for it"
                )
            tables[name] = {str(r[key]): r["n"] for r in counts}
            defaults[name] = default
        return cls(tables=tables, defaults=defaults)

    def lookup(self, key_col: str, key_value) -> int:
        name = f"{key_col}_count"
        return self.tables[name].get(str(key_value), self.defaults.get(name, 0))

    def features_for(self, keys: Mapping[str, object]) -> dict[str, int]:
        """All served features for a request's raw keys — what the
        dashboard should call instead of asking the user to type counts
        (closing Stramlit_app.py:379-383)."""
        return {
            f"{col}_count": self.lookup(col, val) for col, val in keys.items()
        }

    def save(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {"tables": self.tables, "defaults": self.defaults},
                f,
                indent=2,
                sort_keys=True,
            )

    @classmethod
    def load(cls, path: str) -> "FeatureStore":
        with open(path) as f:
            data = json.load(f)
        return cls(tables=data["tables"], defaults=data.get("defaults", {}))


@dataclass
class ServingBundle:
    """Everything single-row inference needs, loadable from one directory:
    the fitted PipelineModel (MLlib native format), the label/indexer maps
    (reference's indexer_mappings.json shape), and the feature store."""

    model: PipelineModel
    mappings: dict[str, list[str]]
    store: FeatureStore
    _score: Callable = field(init=False, repr=False, compare=False)

    MODEL_DIR = "pipeline_model"
    MAPPINGS_FILE = "indexer_mappings.json"
    STORE_FILE = "feature_store.json"

    def __post_init__(self) -> None:
        from chicago_crime_spark_ml_spark.operators.ml import (  # noqa: PLC0415
            compile_scorer,
        )

        self._score = compile_scorer(self.model)

    @classmethod
    def save_parts(
        cls,
        path: str,
        model: PipelineModel,
        mappings: dict[str, list[str]],
        store: FeatureStore,
    ) -> None:
        os.makedirs(path, exist_ok=True)
        model.write().overwrite().save(os.path.join(path, cls.MODEL_DIR))
        from chicago_crime_spark_ml_spark.operators.ml import (  # noqa: PLC0415
            save_indexer_mappings,
        )

        save_indexer_mappings(mappings, os.path.join(path, cls.MAPPINGS_FILE))
        store.save(os.path.join(path, cls.STORE_FILE))

    @classmethod
    def load(cls, path: str) -> "ServingBundle":
        from chicago_crime_spark_ml_spark.operators.ml import (  # noqa: PLC0415
            load_indexer_mappings,
        )

        return cls(
            model=PipelineModel.load(os.path.join(path, cls.MODEL_DIR)),
            mappings=load_indexer_mappings(os.path.join(path, cls.MAPPINGS_FILE)),
            store=FeatureStore.load(os.path.join(path, cls.STORE_FILE)),
        )

    def predict_row(
        self,
        spark: SparkSession,
        row: Mapping[str, object],
        density_keys: Sequence[str] = (),
    ) -> dict:
        """Single-row inference: serve density features from the store,
        assemble the full feature row, run the SAME fitted pipeline's
        stages in-process (ml.compile_scorer; no Spark job), return
        prediction + label. The prediction equals ml.predict_single's,
        which serves the pipelines the scorer cannot. The caller sends
        only raw request fields — no hand-typed counts, no NumPy
        re-implementation of the pipeline. A null field is served as
        the batch transform serves a null in a typed column."""
        full = dict(row)
        full.update(
            self.store.features_for({k: row[k] for k in density_keys})
        )
        pred = self._score(spark, full)
        labels = self.mappings.get("label_labels")
        return {
            "prediction": float(pred),
            "label": labels[int(pred)] if labels and int(pred) < len(labels) else None,
            "features_served": {
                k: full[f"{k}_count"] for k in density_keys
            },
        }
