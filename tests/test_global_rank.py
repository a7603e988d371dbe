"""global_rank: distributed row_number ≡ the single-partition window."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from chicago_crime_spark_ml_spark.operators.relational import global_rank
from chicago_crime_spark_ml_spark.plans import explain_str
from chicago_crime_spark_ml_spark.sources.io import load_table


def test_global_rank_equals_global_window(spark, sf_dir):
    rev = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("r"))
    )
    got = {
        (row.o_custkey, row.rnk)
        for row in global_rank(
            rev, [F.desc("r"), F.asc("o_custkey")], out_col="rnk"
        ).collect()
    }
    want = {
        (row.o_custkey, row.rnk)
        for row in rev.withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.desc("r"), F.asc("o_custkey"))
            ),
        ).collect()
    }
    assert got == want


def test_global_rank_with_heavy_ties_and_many_partitions(spark):
    # only 3 distinct values over 5000 rows + unique tiebreak: ties pack
    # entire range partitions; offsets must still produce the exact
    # global sequence 1..5000
    df = spark.range(0, 5000, 1, 16).select(
        (F.col("id") % 3).alias("v"), F.col("id").alias("uid")
    )
    out = global_rank(df, ["v", "uid"], out_col="rnk", num_partitions=16)
    rows = out.orderBy("rnk").collect()
    assert [r.rnk for r in rows] == list(range(1, 5001))
    # rank order must equal the (v, uid) lexicographic order
    assert [(r.v, r.uid) for r in rows] == sorted(
        [(i % 3, i) for i in range(5000)]
    )


def test_global_rank_plan_is_range_partitioned(spark, sf_dir):
    from chicago_crime_spark_ml_spark.operators.relational import (
        _range_partitioned_with_pid,
    )

    rev = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("r"))
    )
    cols = [F.desc("r"), F.asc("o_custkey")]
    # stage 1 (checkpointed inside global_rank, so asserted on the lazy
    # helper): the distribution step must be a range-partitioned
    # exchange, never a single-partition global sort
    pre = explain_str(_range_partitioned_with_pid(rev, cols, 8), "simple")
    assert "rangepartitioning" in pre
    assert "SinglePartition" not in pre
    # stage 2 (the returned frame): window partitioned by __pid over the
    # checkpointed scan — still no single-partition shape anywhere
    plan = explain_str(global_rank(rev, cols), "simple")
    assert "SinglePartition" not in plan
    assert "hashpartitioning(__pid" in plan


def test_global_rank_empty_frame(spark):
    df = spark.range(0).select(F.col("id").alias("v"))
    assert global_rank(df, ["v"]).count() == 0


def test_global_ntile_equals_global_window(spark):
    # heavy ties + n not divisible by k (5003 rows, k ∈ {5, 10, 7}):
    # the remainder tiles must match Spark's NTILE exactly, including
    # tie rows split across a tile edge by the uid tiebreak
    from chicago_crime_spark_ml_spark.operators.relational import global_ntile

    df = spark.range(0, 5003, 1, 16).select(
        (F.col("id") % 3).alias("v"), F.col("id").alias("uid")
    )
    for k in (5, 10, 7):
        got = {
            (r.uid, r.t)
            for r in global_ntile(
                df, ["v", "uid"], k, out_col="t", num_partitions=16
            ).collect()
        }
        want = {
            (r.uid, r.t)
            for r in df.withColumn(
                "t", F.ntile(k).over(Window.orderBy("v", "uid"))
            ).collect()
        }
        assert got == want


def test_global_ntile_fewer_rows_than_tiles(spark):
    from chicago_crime_spark_ml_spark.operators.relational import global_ntile

    df = spark.range(0, 4, 1, 2).select(F.col("id").alias("v"))
    got = sorted(
        (r.v, r.t)
        for r in global_ntile(df, ["v"], 10, out_col="t").collect()
    )
    # n < k: each row is its own tile, 1..n — Spark/DuckDB NTILE semantics
    assert got == [(0, 1), (1, 2), (2, 3), (3, 4)]


def test_global_ntile_remainder_edges(spark):
    # n around multiples of k — the remainder rule's boundary cases
    # (n = k−1, k, k+1, 2k+3) for several k, all vs Spark's own NTILE
    from chicago_crime_spark_ml_spark.operators.relational import global_ntile

    for k in (2, 5, 16):
        for n in (max(k - 1, 1), k, k + 1, 2 * k + 3):
            df = spark.range(0, n, 1, 4).select(F.col("id").alias("v"))
            got = {
                (r.v, r.t)
                for r in global_ntile(
                    df, ["v"], k, out_col="t", num_partitions=4
                ).collect()
            }
            want = {
                (r.v, r.t)
                for r in df.withColumn(
                    "t", F.ntile(k).over(Window.orderBy("v"))
                ).collect()
            }
            assert got == want, (n, k)

    empty = spark.range(0).select(F.col("id").alias("v"))
    from chicago_crime_spark_ml_spark.operators.relational import global_ntile

    assert global_ntile(empty, ["v"], 5, out_col="t").count() == 0


# --------------------------------------------------------------------------
# topk_per_group_combiner — map-side pruned top-k ≡ window top-k
# --------------------------------------------------------------------------

from chicago_crime_spark_ml_spark.operators.relational import (  # noqa: E402
    top_k_per_group,
    topk_per_group_combiner,
)


def _window_form(o, k):
    return top_k_per_group(
        o,
        ["o_orderpriority"],
        "o_totalprice",
        k,
        ascending=False,
        tiebreak="o_orderkey",
        keep_rank=True,
    )


def test_combiner_topk_equals_window_topk(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice", "o_orderkey"
    )
    got = {
        tuple(r)
        for r in topk_per_group_combiner(
            o, ["o_orderpriority"], "o_totalprice", 7,
            ascending=False, tiebreak="o_orderkey",
        ).collect()
    }
    want = {tuple(r) for r in _window_form(o, 7).collect()}
    assert got == want
    assert len(want) == 5 * 7


def test_combiner_topk_survives_tiny_arrow_batches(spark):
    # groups span many partitions AND many Arrow batches: the pruner's
    # carry state across batch boundaries must never drop a true top-k
    # row. 3 groups x 400 rows, 8 partitions, batches of 7 rows.
    from pyspark.sql import functions as F

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        df = spark.range(0, 1200, 1, 8).select(
            (F.col("id") % 3).cast("string").alias("o_orderpriority"),
            (F.col("id") * 37 % 1000).cast("double").alias("o_totalprice"),
            F.col("id").alias("o_orderkey"),
        )
        got = {
            tuple(r)
            for r in topk_per_group_combiner(
                df, ["o_orderpriority"], "o_totalprice", 10,
                ascending=False, tiebreak="o_orderkey",
            ).collect()
        }
        want = {tuple(r) for r in _window_form(df, 10).collect()}
        assert got == want
        assert len(got) == 30
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


def test_combiner_topk_ascending_and_empty(spark):
    from pyspark.sql import functions as F

    df = spark.range(0, 50, 1, 4).select(
        (F.col("id") % 2).cast("string").alias("o_orderpriority"),
        F.col("id").cast("double").alias("o_totalprice"),
        F.col("id").alias("o_orderkey"),
    )
    got = topk_per_group_combiner(
        df, ["o_orderpriority"], "o_totalprice", 3,
        ascending=True, tiebreak="o_orderkey",
    ).collect()
    vals = sorted((r.o_orderpriority, r.o_totalprice) for r in got)
    assert vals == [("0", 0.0), ("0", 2.0), ("0", 4.0),
                    ("1", 1.0), ("1", 3.0), ("1", 5.0)]
    empty = df.filter(F.lit(False))
    assert topk_per_group_combiner(
        empty, ["o_orderpriority"], "o_totalprice", 3
    ).count() == 0


def test_global_cumsum_equals_global_window(spark, sf_dir):
    from chicago_crime_spark_ml_spark.operators.relational import (
        global_cumsum,
    )

    # value histogram of order priorities per day — the operator's
    # natural consumer shape (distinct key, integer weight)
    h = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderdate")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    got = {
        (r.o_orderdate, r.cum)
        for r in global_cumsum(
            h, ["o_orderdate"], "cnt", out_col="cum", num_partitions=8
        ).collect()
    }
    want = {
        (r.o_orderdate, r.cum)
        for r in h.withColumn(
            "cum",
            F.sum("cnt").over(
                Window.orderBy("o_orderdate").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        ).collect()
    }
    assert got == want


def test_global_cumsum_weights_spanning_partitions(spark):
    from chicago_crime_spark_ml_spark.operators.relational import (
        global_cumsum,
    )

    # 4001 distinct keys over 16 range partitions with non-uniform
    # weights: every per-partition offset is exercised, and the final
    # cumulative value must equal the exact total
    df = spark.range(0, 4001, 1, 16).select(
        F.col("id").alias("v"), (F.col("id") % 7 + 1).alias("w")
    )
    rows = global_cumsum(df, ["v"], "w", out_col="cum", num_partitions=16)
    got = {(r.v, r.cum) for r in rows.collect()}
    acc, want = 0, set()
    for v in range(4001):
        acc += v % 7 + 1
        want.add((v, acc))
    assert got == want


def test_global_cumsum_plan_has_no_single_partition_window(spark):
    from chicago_crime_spark_ml_spark.operators.relational import (
        global_cumsum,
    )

    df = spark.range(0, 100, 1, 4).select(
        F.col("id").alias("v"), F.lit(1).alias("w")
    )
    plan = explain_str(global_cumsum(df, ["v"], "w"), "simple")
    assert "SinglePartition" not in plan
    assert "hashpartitioning(__pid" in plan


def test_global_cumsum_null_weight_is_zero(spark):
    from chicago_crime_spark_ml_spark.operators.relational import (
        global_cumsum,
    )

    df = spark.createDataFrame(
        [(1, 5), (2, None), (3, 7)], "v int, w int"
    )
    got = {
        (r.v, r.cum)
        for r in global_cumsum(df, ["v"], "w", out_col="cum").collect()
    }
    assert got == {(1, 5), (2, 5), (3, 12)}


def test_global_cummax_equals_window_form(spark):
    from pyspark.sql.window import Window

    from chicago_crime_spark_ml_spark.operators.relational import (
        global_cummax,
    )

    # adversarial: values DECREASE over the order with spikes, so the
    # running max is dominated by early rows and every range partition's
    # prefix matters; nulls interleaved
    rows = [
        (i, None if i % 17 == 5 else (1000 - i * 3 + (707 if i % 29 == 0 else 0)))
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "k int, v long").repartition(8)
    got = {
        (r.k, r.cm)
        for r in global_cummax(
            df, ["k"], "v", out_col="cm", num_partitions=7
        ).collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        (r.k, r.cm)
        for r in df.select("k", F.max("v").over(w).alias("cm")).collect()
    }
    assert got == want


def test_global_cummax_leading_nulls_and_plan(spark):
    from chicago_crime_spark_ml_spark.operators.relational import (
        global_cummax,
    )

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, 9), (4, 2)], "k int, v long"
    )
    got = {
        (r.k, r.cm)
        for r in global_cummax(df, ["k"], "v", out_col="cm").collect()
    }
    assert got == {(1, None), (2, None), (3, 9), (4, 9)}

    big = spark.range(0, 100, 1, 4).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("v")
    )
    plan = explain_str(global_cummax(big, ["k"], "v"), "simple")
    assert "SinglePartition" not in plan
    assert "hashpartitioning(__pid" in plan


def test_global_cumsum_multi_weight_one_pass(spark):
    from pyspark.sql.window import Window

    from chicago_crime_spark_ml_spark.operators.relational import (
        global_cumsum,
    )

    df = spark.createDataFrame(
        [(i, i % 3, (i * 7) % 5) for i in range(200)],
        "v int, a int, b int",
    ).repartition(6)
    got = global_cumsum(
        df, ["v"], ["a", "b"], ["ca", "cb"], num_partitions=5
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    want = df.select(
        "v",
        F.sum("a").over(w).alias("ca"),
        F.sum("b").over(w).alias("cb"),
    )
    assert {(r.v, r.ca, r.cb) for r in got.collect()} == {
        (r.v, r.ca, r.cb) for r in want.collect()
    }


def test_rank_input_lazy_by_default_and_not_persisted(spark):
    # r14 (VERDICT r13 #3/#5): the r13 eager input-localCheckpoint is
    # reverted — constructing a rank over a lazy input must leave the
    # input unpersisted (no session-lifetime storage accumulates per
    # rank/ntile/cumsum call) and produce exactly the same ranks.
    from pyspark import StorageLevel

    df = spark.range(0, 1000, 1, 4).select(
        (F.col("id") % 7).alias("v"), F.col("id").alias("uid")
    )
    out = global_rank(df, ["v", "uid"], out_col="rnk", num_partitions=4)
    assert df.storageLevel == StorageLevel.NONE
    assert out.count() == 1000
