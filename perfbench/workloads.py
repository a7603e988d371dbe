"""The benchmark's workloads.

Each workload stages its seeded inputs (``setup``), runs timed passes
(``run_pass``) and then checks the outputs outside the timed region
(``check`` after each pass, ``finish`` after the last). A pass returns
the latencies of its unit operations, net of hypervisor steal
(``hostcpu``): a streaming micro-batch, a served prediction. Every
operation attempted is counted: a catalog query, a micro-batch, a
prediction. Failures are counted, never raised,
so one bad operation cannot hide the rest.
"""

from __future__ import annotations

import os
import random
import re
import statistics
import time

from pyspark.sql import functions as F

import gen
import hostcpu

SF = 0.01


class Ctx:
    """What a workload needs from the harness."""

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.attempted = 0
        self.failures: list[str] = []

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def op(self) -> None:
        self.attempted += 1


# ---------------------------------------------------------------- catalog

CATALOG = [
    # relational / window / sketch operators
    "flagship_regional_revenue",
    "top3_orders_per_customer",
    "heavy_hitter_users",
    # near-dup operators: shingle Jaccard (eager checkpoints during
    # construction) and vector similarity
    "ngram_jaccard_near_dups",
    "ann_cosine_top10",
]
_EXCHANGE = re.compile(r"\bExchange\b|BroadcastExchange|ShuffleExchange")


def same_result(got, want) -> bool:
    """Equal by ``canon_hash``, or equal but for floats at most one unit
    apart in the 4th decimal. The catalog rounds averages to 4 places,
    and a value on a rounding tie can round one way in Spark and the
    other in DuckDB (flagship_regional_revenue at seed 13: 249239.0137
    against 249239.0138)."""
    import numpy as np

    from tools.driver_preflight import canon_hash

    if canon_hash(got) == canon_hash(want):
        return True
    cols = sorted(got.columns)
    if cols != sorted(want.columns) or len(got) != len(want):
        return False
    floats = [c for c in cols if got[c].dtype.kind == want[c].dtype.kind == "f"]
    keys = [c for c in cols if c not in floats]
    if canon_hash(got[keys]) != canon_hash(want[keys]):
        return False
    got, want = (
        f.sort_values(keys + floats).reset_index(drop=True) for f in (got, want)
    )
    return all(
        np.allclose(got[c], want[c], rtol=0.0, atol=1.01e-4, equal_nan=True)
        for c in floats
    )


class Catalog:
    """Builds each catalog query and forces it through the noop sink, in
    a seeded order per pass — the shape of ``bench.py``'s loop."""

    def setup(self, ctx: Ctx) -> None:
        self.sf_dir = gen.write_star(
            ctx.seed, SF, os.path.join(ctx.work, f"sf{SF}")
        )
        self.rng = random.Random(ctx.seed)

    def finish(self, ctx: Ctx) -> None:
        """Every query against its DuckDB oracle, by ``same_result``."""
        import duckdb

        from chicago_crime_spark_ml_spark.queries import ORACLE, QUERIES
        from chicago_crime_spark_ml_spark.sources.io import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        for name in CATALOG:
            ctx.op()
            try:
                got = QUERIES[name](ctx.spark, self.sf_dir).toPandas()
                want = con.execute(ORACLE[name]).df()
            except Exception as e:  # noqa: BLE001
                ctx.fail(f"{name}: {e!r:.200}")
                continue
            if not same_result(got, want):
                ctx.fail(f"{name}: result differs from its oracle")
            ctx.spark.catalog.clearCache()
        con.close()

    def run_pass(self, ctx: Ctx, tr, traced: bool) -> dict:
        from chicago_crime_spark_ml_spark.queries import QUERIES

        order = list(CATALOG)
        self.rng.shuffle(order)
        exchanges = 0
        for name in order:
            ctx.op()
            try:
                with tr.span(name, "query"):
                    with tr.span(f"{name}.build", "queries"):
                        df = QUERIES[name](ctx.spark, self.sf_dir)
                    if traced:
                        with tr.span(f"{name}.plan", "catalyst"):
                            plan = df._jdf.queryExecution().executedPlan()
                            exchanges += sum(
                                1
                                for line in plan.toString().splitlines()
                                if _EXCHANGE.search(line)
                            )
                    with tr.span(f"{name}.exec", "spark"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001
                ctx.fail(f"{name}: {e!r:.200}")
            ctx.spark.catalog.clearCache()
        return {"catalyst.exchanges": exchanges}


# --------------------------------------------------------- stream_ingest

STREAM_BATCHES = 7
# Micro-batches drained at set-up, untimed: the first batches of a JVM
# run 1.5-3x slower than later ones while the driver path compiles, and
# how fast they speed up varies from run to run.
WARM_BATCHES = 3
_BAND = dict(n=3, num_hashes=32, band_width=2, seed=42)
_INDEX_COLS = ["doc_id", "band", "bucket"]
_INDEX_SCHEMA = "doc_id long, band int, bucket bigint"


class StreamIngest:
    """Drains the seeded document micro-batches through
    ``streaming_near_dup_ingest`` (one file per trigger), compacts the
    band store with replace semantics and reads it back latest-wins.
    Set-up drains the first ``WARM_BATCHES`` once, untimed."""

    def setup(self, ctx: Ctx) -> None:
        import pyarrow.parquet as pq

        docs = gen.star_tables(ctx.seed, SF)["documents"].select(
            ["doc_id", "text"]
        )
        self.src = os.path.join(ctx.work, "stream_src")
        warm_src = os.path.join(ctx.work, "stream_warm_src")
        os.makedirs(self.src)
        os.makedirs(warm_src)
        ids = docs.column("doc_id").to_pylist()
        for i, batch in enumerate(gen.split_batches(ids, ctx.seed, STREAM_BATCHES)):
            keep = set(batch)
            part = docs.filter([d in keep for d in ids])
            for d in (self.src, warm_src) if i < WARM_BATCHES else (self.src,):
                pq.write_table(part, os.path.join(d, f"batch-{i:03d}.parquet"))
        self.passes = 0
        self.pair_rows = None
        q = self.drain(ctx, warm_src, "stream_warm")
        if q.exception() is not None:
            ctx.fail(f"stream_ingest warm-up: {q.exception()}")

    def drain(self, ctx: Ctx, src: str, name: str):
        """Run ``streaming_near_dup_ingest`` over ``src`` until every
        file is processed, into ``<work>/<name>/{index,pairs,ckpt}``."""
        from chicago_crime_spark_ml_spark.streaming import streaming_near_dup_ingest

        root = os.path.join(ctx.work, name)
        stream = (
            ctx.spark.readStream.schema("doc_id BIGINT, text STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = streaming_near_dup_ingest(
            stream, os.path.join(root, "index"), os.path.join(root, "pairs"),
            os.path.join(root, "ckpt"), query_name=name, **_BAND,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return q

    def finish(self, ctx: Ctx) -> None:
        """The compacted band store equals ``lsh_band_index`` over the
        same documents, by order-independent fingerprint."""
        from chicago_crime_spark_ml_spark.operators.dedup import lsh_band_index
        from tools.row_hash_check import fingerprint

        want = lsh_band_index(
            ctx.spark.read.parquet(self.src), **_BAND
        ).select(*_INDEX_COLS)
        if fingerprint(self.last_store) != fingerprint(want):
            ctx.fail("stream_ingest: compacted store differs from lsh_band_index")

    def run_pass(self, ctx: Ctx, tr, traced: bool) -> dict:
        from chicago_crime_spark_ml_spark.sources.io import compact_ingest_index
        from chicago_crime_spark_ml_spark.streaming import read_state_latest

        spark = ctx.spark
        self.passes += 1
        name = f"stream_{self.passes}"
        index = os.path.join(ctx.work, name, "index")
        pairs = os.path.join(ctx.work, name, "pairs")
        out: dict = {}
        with hostcpu.Window() as w, tr.span("streaming_near_dup_ingest", "streaming"):
            q = self.drain(ctx, self.src, name)
            progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        ctx.attempted += len(progress)
        if q.exception() is not None or len(progress) != STREAM_BATCHES:
            ctx.fail(f"stream_ingest: {len(progress)} batches, {q.exception()}")
        dur = [p["durationMs"] for p in progress]
        out["ops"] = [d["triggerExecution"] * w.share for d in dur]
        for key, name in (
            ("triggerExecution", "trigger_ms"),
            ("addBatch", "add_batch_ms"),
            ("queryPlanning", "planning_ms"),
            ("walCommit", "wal_commit_ms"),
        ):
            steady = [d.get(key, 0) for d in dur[1:]]
            out[f"streaming.{name}"] = statistics.median(steady) if steady else 0
        out["streaming.first_batch_ms"] = dur[0]["triggerExecution"] if dur else 0
        t0 = time.perf_counter()
        with tr.span("compact_ingest_index", "sources"):
            compact_ingest_index(spark, index, replace_latest_by="doc_id")
        out["sources.compact_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        with tr.span("read_state_latest", "streaming"):
            store = read_state_latest(
                spark, index, "doc_id", _INDEX_COLS, _INDEX_SCHEMA
            )
            out["streaming.index_rows"] = store.count()
        out["streaming.state_read_s"] = time.perf_counter() - t0
        out["streaming.pair_rows"] = spark.read.parquet(pairs).count()
        self.last_store = store
        self.pair_rows = self.pair_rows or out["streaming.pair_rows"]
        if out["streaming.pair_rows"] != self.pair_rows:
            ctx.fail("stream_ingest: candidate pair count changed between passes")
        return out


# --------------------------------------------------------------- crime_ml

CRIME_ROWS = 4000
PREDICTIONS = 10
CAST = {
    "Ward": "double", "Community Area": "double", "District": "double",
    "Latitude": "double", "Longitude": "double",
}
FEATURES = [
    "District", "Ward", "Community Area", "Latitude", "Longitude",
    "hour", "month", "dayofweek", "hour_sin", "hour_cos",
    "distance_from_center", "is_weekend", "District_count",
    "Location Description_idx",
]


class CrimeML:
    """The reference's pipeline on a seeded dirty crimes CSV: ingest,
    clean, features, split, index, train, save/load the serving bundle,
    then serve held-out rows one ``predict_row`` call at a time."""

    name = "crime_ml"
    streams = False

    def setup(self, ctx: Ctx) -> None:
        self.csv = os.path.join(ctx.work, "crimes.csv")
        self.rows = gen.write_crimes_csv(ctx.seed, CRIME_ROWS, self.csv)
        self.passes = 0

    def run_pass(self, ctx: Ctx, tr, traced: bool) -> dict:
        from pyspark.ml import PipelineModel

        from chicago_crime_spark_ml_spark.operators import cleaning, features
        from chicago_crime_spark_ml_spark.operators import ml, relational
        from chicago_crime_spark_ml_spark.serving import FeatureStore, ServingBundle
        from chicago_crime_spark_ml_spark.sources.crimes_source import CRIME_TYPES
        from chicago_crime_spark_ml_spark.sources.io import read_csv_raw

        spark = ctx.spark
        self.passes += 1
        out: dict = {}

        def timed(key, name, layer, fn):
            t0 = time.perf_counter()
            with tr.span(name, layer):
                r = fn()
            out[key] = out.get(key, 0.0) + time.perf_counter() - t0
            return r

        with tr.span("read_csv_raw", "sources"):
            raw = read_csv_raw(spark, self.csv)

        def clean_fn():
            c = cleaning.clean_strings_pipeline(
                raw, probe_col="ID", cast_schema=CAST, bool_cols=["Arrest"],
                dropna_subset=["District", "Latitude", "Longitude"],
            )
            return (c, *cleaning.parse_timestamp_quarantine(
                c, "Date", "MM/dd/yyyy hh:mm:ss a", out_col="ts"))

        clean, good, bad = timed("cleaning.s", "clean_strings_pipeline",
                                 "cleaning", clean_fn)

        def feat_fn():
            f = features.add_temporal_features(good, "ts")
            f = features.add_cyclical_features(f, "hour", period=24.0)
            f = features.add_distance_feature(
                f, "Latitude", "Longitude", point=(41.8781, -87.6298))
            return features.add_weekend_flag(f, "dayofweek")

        feats = timed("features.s", "features", "features", feat_fn)
        feats = timed("relational.s", "categorize", "relational",
                      lambda: relational.categorize(
                          feats, "Primary Type", CRIME_TYPES, default="OTHER",
                          out_col="Crime_Category"))
        feats = timed("cleaning.s", "impute_median", "cleaning",
                      lambda: cleaning.impute_median(
                          feats, ["Ward", "Community Area"], exact=True))

        def split_fn():
            tr_, te_ = relational.time_split(feats, "year", 2003)
            return (
                relational.add_group_count_feature(tr_, tr_, "District", "District_count"),
                relational.add_group_count_feature(te_, tr_, "District", "District_count"),
            )

        train, test = timed("relational.s", "time_split", "relational", split_fn)
        idx_model, mappings = timed(
            "ml.index_fit_s", "fit_string_indexers", "ml",
            lambda: ml.fit_string_indexers(train, ["Location Description"]))
        train_i, test_i = idx_model.transform(train), idx_model.transform(test)
        res = timed("ml.train_s", "train_multiclass", "ml",
                    lambda: ml.train_multiclass(
                        train_i, test_i, FEATURES, label_col="Crime_Category"))
        out["ml.accuracy"] = res.accuracy
        store = timed("serving.store_build_s", "FeatureStore.build", "serving",
                      lambda: FeatureStore.build(train, ["District"]))
        bundle_dir = os.path.join(ctx.work, f"bundle_{self.passes}")
        model = PipelineModel(stages=[*idx_model.stages, *res.model.stages])
        mappings = {**mappings, "label_labels": res.label_mapping}
        timed("serving.save_s", "ServingBundle.save_parts", "serving",
              lambda: ServingBundle.save_parts(bundle_dir, model, mappings, store))
        bundle = timed("serving.load_s", "ServingBundle.load", "serving",
                       lambda: ServingBundle.load(bundle_dir))

        if not hasattr(self, "requests"):
            held = test.drop("District_count").orderBy("ID").limit(200).collect()
            self.requests = [
                r.asDict() for r in random.Random(ctx.seed).sample(held, PREDICTIONS)
            ]
        requests = self.requests
        ops, served = [], []
        for i, row in enumerate(requests):
            ctx.op()
            w = hostcpu.Window()
            try:
                with tr.span(f"predict_row.{i}", "serving"):
                    served.append(bundle.predict_row(spark, row, ["District"]))
            except Exception as e:  # noqa: BLE001
                ctx.fail(f"predict_row: {e!r:.200}")
                served.append(None)
            ops.append(w.stop().net_s * 1e3)
        out["ops"] = ops
        out["_check"] = (bundle, requests, served, res, raw, clean, good,
                         bad, train, test)
        return out

    def check(self, ctx: Ctx, out: dict) -> None:
        """Served == batch transform for every request, accuracy above
        the majority-class share by 0.1, and rows conserved through
        ingest, cleaning and the split."""
        bundle, requests, served, res, raw, clean, good, bad, train, test = (
            out.pop("_check")
        )
        ids = [r["ID"] for r in requests]
        batch = {
            r["ID"]: r["prediction"]
            for r in bundle.model.transform(test.filter(F.col("ID").isin(ids)))
            .select("ID", "prediction").collect()
        }
        for req, s in zip(requests, served):
            if s is None or s["prediction"] != batch.get(req["ID"]):
                ctx.fail(f"crime_ml: served {s} != batch {batch.get(req['ID'])}")
        counts = test.groupBy("Crime_Category").count().collect()
        majority = max(r["count"] for r in counts) / sum(r["count"] for r in counts)
        if not res.accuracy > majority + 0.1:
            ctx.fail(f"crime_ml: accuracy {res.accuracy} vs majority {majority}")
        n_good = good.count()
        if raw.count() != self.rows or n_good + bad.count() != clean.count():
            ctx.fail("crime_ml: rows lost in ingest/cleaning")
        if train.count() + test.count() != n_good:
            ctx.fail("crime_ml: rows lost in the split")


class CatalogIngest:
    """One pass is the catalog queries, then the streaming ingest of the
    same corpus: every query, operator and streaming layer outside the
    ML path, in one Spark process."""

    name = "catalog_ingest"
    streams = True

    def __init__(self):
        self.parts = [Catalog(), StreamIngest()]

    def setup(self, ctx: Ctx) -> None:
        for p in self.parts:
            p.setup(ctx)

    def run_pass(self, ctx: Ctx, tr, traced: bool) -> dict:
        out: dict = {}
        for p in self.parts:  # the unit operation is the micro-batch
            out.update(p.run_pass(ctx, tr, traced))
        return out

    def finish(self, ctx: Ctx) -> None:
        for p in self.parts:
            p.finish(ctx)


WORKLOADS = {w.name: w for w in (CatalogIngest, CrimeML)}
