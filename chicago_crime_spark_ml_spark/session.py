"""SparkSession factory with scale-aware defaults.

The reference hand-tunes a session for a single 12g box
(/root/reference/XGBoost.py:22-37 — shuffle.partitions=8,
maxResultSize=4g for a full-table collect). We instead set defaults that
survive a cluster: AQE on (runtime partition coalescing + skew-join
handling), UTC session timezone (oracle comparability), Arrow transfers,
and shuffle partitions sized from the env rather than hardcoded.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _env_cpus() -> int:
    """$SPARK_GRAFT_CPUS as an int, or 0 when unset/invalid — 0 means
    "let local[*] use every core". (A previous version clamped with
    max(1, ...), which turned the unset sentinel 0 into 1 and silently
    pinned every session to local[1] with 2 shuffle partitions — the
    whole engine ran single-threaded. Regression-locked in
    tests/test_plans.py::test_session_uses_all_cores.)"""
    try:
        v = int(os.environ.get("SPARK_GRAFT_CPUS", "0"))
    except ValueError:
        return 0
    return v if v > 0 else 0


def get_spark(
    app_name: str = "chicago-crime-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]`` (all cores if unset).
    ``shuffle_partitions`` defaults to ~2×cores locally; at cluster scale
    AQE coalesces from a deliberately-high initial number, so the static
    setting matters less than keeping AQE enabled.
    """
    cpus = _env_cpus()
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = (cpus or os.cpu_count() or 8) * 2

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # r13-opt (guide §3.1/§9): allow shuffled-hash joins when the
        # planner's per-partition size conditions hold, and let AQE
        # rewrite a planned sort-merge to shuffled-hash when every
        # post-shuffle partition is under the threshold — skips the
        # sort of both sides. Measured −7% on the join-heavy headline
        # subset at sf0.1; risk profile at scale is bounded because SHJ
        # is only chosen when the build side fits the planner/AQE size
        # conditions (64m per partition — spill-safe since Spark 3's
        # spillable shuffled-hash).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        # r13-opt (guide §2.2/§9): post-shuffle partitions coalesced
        # toward 256 MB instead of the 64 MB default — fewer, larger
        # reduce tasks (the quadratic shuffle-block growth lever). No
        # effect at bench scale (every sf0.1 shuffle is < 64 MB, AQE
        # already coalesces to 1), sizes cluster runs correctly.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # testdata events.parquet stores ts as TIMESTAMP(NANOS), which the
        # vectorized reader rejects; read as long ns and convert in
        # sources.io.load_table (micros truncation — matches DuckDB fetch).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
