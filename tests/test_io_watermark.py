"""Source/sink breadth (JSONL, ORC) and event-time watermark semantics.

JSONL/ORC: distributed write → read roundtrips preserve rows and types
(JSONL with an explicit schema — the scale-safe single-pass read).
Watermark: append-mode windowed aggregation finalizes a window once the
watermark passes its end, and drops later-arriving rows for that window —
the late-data contract a 100 TB streaming ingest relies on.
"""

from __future__ import annotations


from pyspark.sql import functions as F

from chicago_crime_spark_ml_spark.sources.io import (
    load_table,
    read_jsonl,
    write_jsonl,
    write_orc,
)


def test_jsonl_roundtrip_with_schema(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, path)
    back = read_jsonl(
        spark,
        path,
        schema="doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    ).select(*docs.columns)
    assert back.schema == docs.select(*docs.columns).schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, docs.collect()))


def test_orc_roundtrip_partitioned(spark, sf_dir, tmp_path):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    path = str(tmp_path / "li_orc")
    write_orc(li, path, partition_by=["l_returnflag"])
    back = spark.read.orc(path).select(*li.columns)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, li.collect()))
    # partition pruning: a returnflag filter must not scan other partitions
    pruned = spark.read.orc(path).filter(F.col("l_returnflag") == "R")
    assert pruned.count() == li.filter(F.col("l_returnflag") == "R").count()


def test_watermark_drops_late_rows_append_mode(spark, tmp_path):
    src = tmp_path / "wm_src"
    src.mkdir()

    def emit(name, rows):
        spark.createDataFrame(rows, "ts TIMESTAMP, v DOUBLE").coalesce(
            1
        ).write.mode("append").parquet(str(src))

    import datetime as dt

    t = lambda d, h: dt.datetime(2026, 1, d, h)  # noqa: E731
    # batch 1: Jan 1 + Jan 5 → watermark advances to Jan 4 10:00
    emit("b1", [(t(1, 10), 1.0), (t(5, 10), 1.0)])

    stream = spark.readStream.schema("ts TIMESTAMP, v DOUBLE").parquet(str(src))
    agg = (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("day"), "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_test")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a LATE row for Jan 1 (behind the Jan 4 watermark → must be
        # dropped) plus a fresh Jan 10 row that closes the Jan 5 window too.
        emit("b2", [(t(1, 11), 99.0), (t(10, 10), 1.0)])
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {r.day: r.n for r in spark.sql("SELECT * FROM wm_test").collect()}
    # Jan 1 window finalized with ONE row — the late arrival was dropped.
    assert rows.get(dt.datetime(2026, 1, 1)) == 1


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Stop a streaming query, add more input, restart from the SAME
    checkpoint: the file sink's manifest + source offsets in the
    checkpoint must yield each input row exactly once across the two
    runs — the recovery contract a production ingest depends on."""
    src, sink, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))
    (tmp_path / "src").mkdir()

    def emit(rows):
        spark.createDataFrame(rows, "k BIGINT, v DOUBLE").coalesce(
            1
        ).write.mode("append").parquet(src)

    def run_until_drained():
        q = (
            spark.readStream.schema("k BIGINT, v DOUBLE")
            .parquet(src)
            .withColumn("v2", F.col("v") * 2)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    emit([(1, 1.0), (2, 2.0)])
    run_until_drained()
    emit([(3, 3.0)])
    run_until_drained()  # restart from checkpoint

    out = sorted(
        (r.k, r.v, r.v2) for r in spark.read.parquet(sink).collect()
    )
    assert out == [(1, 1.0, 2.0), (2, 2.0, 4.0), (3, 3.0, 6.0)]


def test_jsonl_corrupt_record_quarantine(spark, tmp_path):
    from chicago_crime_spark_ml_spark.sources.io import read_jsonl_quarantine

    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"id": 1, "txt": "ok"}\n'
        "this is not json\n"
        '{"id": 2, "txt": "fine"}\n'
        '{"id": "NaN-ish", "txt": 3}\n'   # type mismatch → quarantined
    )
    good, bad = read_jsonl_quarantine(spark, str(p), "id BIGINT, txt STRING")
    assert sorted((r.id, r.txt) for r in good.collect()) == [(1, "ok"), (2, "fine")]
    bad_lines = sorted(r.raw_line for r in bad.collect())
    assert len(bad_lines) == 2
    assert any("not json" in b for b in bad_lines)


def test_observe_metrics_no_extra_pass(spark, sf_dir):
    from chicago_crime_spark_ml_spark.plans import observe_metrics
    from chicago_crime_spark_ml_spark.sources.io import load_table

    li = load_table(spark, sf_dir, "lineitem")
    inst, obs = observe_metrics(
        li.filter(F.col("l_quantity") > 10), "scan_metrics",
        rows=F.count(F.lit(1)), max_qty=F.max("l_quantity"),
    )
    out = inst.groupBy("l_returnflag").count()
    out.write.format("noop").mode("overwrite").save()
    got = obs.get
    expected = li.filter(F.col("l_quantity") > 10).count()
    assert got["rows"] == expected and got["max_qty"] <= 50.0


def test_compact_parquet_reduces_files(spark, sf_dir, tmp_path):
    from chicago_crime_spark_ml_spark.sources.io import compact_parquet, load_table

    src = str(tmp_path / "fragmented")
    load_table(spark, sf_dir, "orders").repartition(37).write.parquet(src)
    import glob
    assert len(glob.glob(src + "/part-*")) == 37

    dst = str(tmp_path / "compacted")
    n = compact_parquet(spark, src, dst, target_file_rows=10_000,
                        sort_within_by=["o_orderdate"])
    assert n == len(glob.glob(dst + "/part-*")) and n <= 2
    a = spark.read.parquet(src).count()
    assert spark.read.parquet(dst).count() == a


def test_morton_code_known_values(spark):
    from chicago_crime_spark_ml_spark.functions.scalar import morton_code

    df = spark.createDataFrame(
        [(0, 0), (3, 0), (0, 3), (1, 1), (2, 3)], ["a", "b"]
    ).select("a", "b", morton_code("a", "b", bits=4).alias("z"))
    got = {(r.a, r.b): r.z for r in df.collect()}
    # bit i of a → position 2i; bit i of b → position 2i+1
    assert got == {(0, 0): 0, (3, 0): 0b0101, (0, 3): 0b1010,
                   (1, 1): 0b11, (2, 3): 0b1110}


def test_zordered_write_clusters_both_dims(spark, sf_dir, tmp_path):
    from chicago_crime_spark_ml_spark.sources.io import load_table, write_zordered

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    path = str(tmp_path / "li_z")
    write_zordered(li, path, "l_partkey", "l_suppkey", bits=8, n_files=4)
    back = spark.read.parquet(path)
    assert back.count() == li.count()
    # locality: each output file covers a bounded sub-rectangle of the
    # (partkey, suppkey) space — its per-file spans must be (on average)
    # much tighter than the global span
    import pyspark.sql.functions as sf
    spans = (
        back.withColumn("f", sf.input_file_name())
        .groupBy("f")
        .agg(
            (sf.max("l_partkey") - sf.min("l_partkey")).alias("pa"),
            (sf.max("l_suppkey") - sf.min("l_suppkey")).alias("sa"),
        )
        .agg(sf.avg("pa").alias("pa"), sf.avg("sa").alias("sa"))
        .first()
    )
    g = li.agg(
        (sf.max("l_partkey") - sf.min("l_partkey")).alias("pa"),
        (sf.max("l_suppkey") - sf.min("l_suppkey")).alias("sa"),
    ).first()
    assert spans["pa"] < g["pa"] * 0.8 and spans["sa"] < g["sa"] * 0.8


def test_merge_parquet_upsert(spark, tmp_path):
    from chicago_crime_spark_ml_spark.sources.io import merge_parquet

    path = str(tmp_path / "tgt")
    spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], "k BIGINT, s STRING, v DOUBLE"
    ).write.parquet(path)

    updates = spark.createDataFrame(
        [(2, "B", 20.0), (4, "d", 4.0)], "k BIGINT, s STRING, v DOUBLE"
    )
    merge_parquet(spark, path, updates, keys=["k"])
    got = {r.k: (r.s, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 1.0), 2: ("B", 20.0), 3: ("c", 3.0), 4: ("d", 4.0)}


def test_merge_parquet_recovers_crashed_swap(spark, tmp_path):
    """A merge that crashed mid-swap leaves ``path__old``; the next merge
    must repair it first. Crash between the renames (live path missing):
    the old rows come back and merge with the updates. Crash during the
    final delete (both present): the leftover ``__old`` is removed."""
    import os

    from chicago_crime_spark_ml_spark.sources.io import merge_parquet

    schema = "k BIGINT, s STRING"
    table = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], schema)
    updates = spark.createDataFrame([(2, "B"), (4, "d")], schema)
    want = {1: "a", 2: "B", 3: "c", 4: "d"}

    path = str(tmp_path / "between_renames")
    table.write.parquet(path)
    os.rename(path, path + "__old")
    merge_parquet(spark, path, updates, keys=["k"])
    assert {r.k: r.s for r in spark.read.parquet(path).collect()} == want
    assert not os.path.exists(path + "__old")

    path = str(tmp_path / "final_delete")
    table.write.parquet(path)
    spark.createDataFrame([(9, "stale")], schema).write.parquet(path + "__old")
    merge_parquet(spark, path, updates, keys=["k"])
    assert {r.k: r.s for r in spark.read.parquet(path).collect()} == want
    assert not os.path.exists(path + "__old")


def test_read_text_corpus_line_and_wholefile(spark, tmp_path):
    from chicago_crime_spark_ml_spark.sources.io import read_text_corpus

    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.txt").write_text("doc one line one\ndoc one line two\n")
    (d / "b.txt").write_text("doc two\n")
    lines = read_text_corpus(spark, str(d))
    assert lines.count() == 3
    assert set(lines.columns) == {"source_file", "text"}
    assert {r["text"] for r in lines.collect()} == {
        "doc one line one", "doc one line two", "doc two",
    }
    whole = read_text_corpus(spark, str(d), whole_files=True).collect()
    assert len(whole) == 2
    by_file = {r["source_file"].rsplit("/", 1)[-1]: r["text"] for r in whole}
    assert by_file["b.txt"].strip() == "doc two"
    assert "line two" in by_file["a.txt"]


def test_backfill_missing_partitions_idempotent(spark, tmp_path):
    import os

    from chicago_crime_spark_ml_spark.sources.io import (
        backfill_missing_partitions,
    )

    df = spark.createDataFrame(
        [(y, i) for y in (2021, 2022, 2023) for i in range(5)],
        "yr int, v int",
    )
    path = str(tmp_path / "t")
    # seed with one partition only
    df.filter("yr = 2021").write.partitionBy("yr").parquet(path)
    seeded = {
        f: os.path.getmtime(os.path.join(path, "yr=2021", f))
        for f in os.listdir(os.path.join(path, "yr=2021"))
        if f.endswith(".parquet")
    }
    done = backfill_missing_partitions(df, path, "yr")
    assert sorted(done) == ["2022", "2023"]
    got = spark.read.parquet(path)
    assert got.count() == 15
    # untouched partition files not rewritten
    for f, mtime in seeded.items():
        assert os.path.getmtime(os.path.join(path, "yr=2021", f)) == mtime
    # second pass is a no-op
    assert backfill_missing_partitions(df, path, "yr") == []
    assert spark.read.parquet(path).count() == 15


def test_skipping_ratio_rewards_clustered_layout(spark, sf_dir, tmp_path):
    """The objective function of layout work: a range predicate skips
    far more FILES (footer min/max disjoint) on a range-partitioned
    layout than on a hash-shuffled one of the same data."""
    from chicago_crime_spark_ml_spark.sources.io import load_table
    from chicago_crime_spark_ml_spark.sources.stats import (
        file_spans,
        skipping_ratio,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    shuffled = str(tmp_path / "shuffled")
    clustered = str(tmp_path / "clustered")
    o.repartition(8).write.parquet(shuffled)
    o.repartitionByRange(8, "o_totalprice").sortWithinPartitions(
        "o_totalprice"
    ).write.parquet(clustered)

    spans = file_spans(clustered, "o_totalprice")
    assert sum(s.n_rows for s in spans) == o.count()

    lo, hi = 100_000.0, 120_000.0
    r_shuf = skipping_ratio(shuffled, "o_totalprice", lo, hi)
    r_clus = skipping_ratio(clustered, "o_totalprice", lo, hi)
    # hash layout: every file spans ~the full range -> nothing skips;
    # range layout: only files whose slice intersects [lo,hi] open
    assert r_shuf == 0.0
    assert r_clus >= 0.5
    # ground truth: the skipped files really contain no qualifying rows
    n_in_range = o.filter(
        (F.col("o_totalprice") >= lo) & (F.col("o_totalprice") <= hi)
    ).count()
    back = spark.read.parquet(clustered).filter(
        (F.col("o_totalprice") >= lo) & (F.col("o_totalprice") <= hi)
    )
    assert back.count() == n_in_range


def test_max_files_per_trigger_bounds_batches(spark, tmp_path):
    """Ingest backpressure: maxFilesPerTrigger=1 must split a 3-file
    backlog into 3 micro-batches instead of one giant catch-up batch —
    the knob that keeps recovery from OOMing a 100 TB/day stream."""
    import datetime as dt

    src = tmp_path / "mfpt_src"
    src.mkdir()
    for i in range(3):
        spark.createDataFrame(
            [(i, dt.datetime(2026, 4, 1, 9 + i), float(i))],
            "id BIGINT, ts TIMESTAMP, v DOUBLE",
        ).coalesce(1).write.mode("append").parquet(str(src))

    batch_sizes = []

    def sink(df, _bid):
        batch_sizes.append(df.count())

    q = (
        spark.readStream.schema("id BIGINT, ts TIMESTAMP, v DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "mfpt_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(batch_sizes) >= 3
    assert sum(batch_sizes) == 3
    assert max(batch_sizes) == 1


def test_trigger_available_now_drains_and_stops(spark, tmp_path):
    """Trigger.AvailableNow: process the whole backlog in rate-limited
    batches, then STOP on its own — the scheduled-batch-over-streaming-
    checkpoints pattern (nightly catch-up with streaming exactly-once
    semantics, no always-on cluster)."""
    import datetime as dt

    src = tmp_path / "an_src"
    src.mkdir()
    for i in range(3):
        spark.createDataFrame(
            [(i, dt.datetime(2026, 5, 1, 8 + i), float(i))],
            "id BIGINT, ts TIMESTAMP, v DOUBLE",
        ).coalesce(1).write.mode("append").parquet(str(src))

    seen = []

    def sink(df, _bid):
        seen.append(df.count())

    q = (
        spark.readStream.schema("id BIGINT, ts TIMESTAMP, v DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "an_ckpt"))
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive          # stopped itself after draining
    assert sum(seen) == 3


def test_schema_diff_reports_add_remove_retype(spark, tmp_path):
    from chicago_crime_spark_ml_spark.sources.io import schema_diff

    a, b = str(tmp_path / "snap_a"), str(tmp_path / "snap_b")
    spark.createDataFrame(
        [(1, "x", 1.5)], "id BIGINT, name STRING, score DOUBLE"
    ).write.parquet(a)
    spark.createDataFrame(
        [(1, 2.5, True)], "id BIGINT, score FLOAT, active BOOLEAN"
    ).write.parquet(b)
    diff = {
        r.column: (r.change, r.type_before, r.type_after)
        for r in schema_diff(spark, a, b).collect()
    }
    assert diff == {
        "name": ("removed", "string", None),
        "active": ("added", None, "boolean"),
        "score": ("type_changed", "double", "float"),
    }
    # identical snapshots -> empty report
    assert schema_diff(spark, a, a).count() == 0


def test_attach_provenance_maps_rows_to_files(spark, tmp_path):
    from chicago_crime_spark_ml_spark.sources.io import attach_provenance

    p = str(tmp_path / "prov")
    spark.createDataFrame([(1,), (2,)], "id BIGINT").coalesce(1).write.parquet(p)
    spark.createDataFrame([(3,)], "id BIGINT").coalesce(1).write.mode(
        "append"
    ).parquet(p)
    out = attach_provenance(spark.read.parquet(p)).collect()
    assert all(r.src_file.endswith(".parquet") for r in out)
    assert all(r.src_file_size > 0 for r in out)
    # rows written in different commits carry different source files
    by_id = {r.id: r.src_file for r in out}
    assert by_id[3] != by_id[1] and by_id[1] == by_id[2]


def test_jsonl_staged_sink_two_phase_commit(spark, tmp_path):
    """Custom Python DataSource writer: tasks stage, driver commits —
    published files + _SUCCESS manifest appear only on success, staged
    temp files are gone, and a round-trip read returns the data."""
    import json as _json
    import os

    from chicago_crime_spark_ml_spark.sources.jsonl_sink import (
        JsonlSinkDataSource,
    )

    spark.dataSource.register(JsonlSinkDataSource)
    out = str(tmp_path / "jsonl_out")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id BIGINT, s STRING"
    ).repartition(2)
    df.write.format("jsonl_staged").mode("append").option("path", out).save()

    files = sorted(os.listdir(out))
    assert "_SUCCESS" in files
    parts = [f for f in files if f.startswith("part-")]
    assert len(parts) >= 1
    assert os.listdir(os.path.join(out, "_staging")) == []
    manifest = _json.load(open(os.path.join(out, "_SUCCESS")))
    assert manifest["rows"] == 3

    back = {
        (r["id"], r["s"])
        for p in parts
        for r in map(_json.loads, open(os.path.join(out, p)))
    }
    assert back == {(1, "a"), (2, "b"), (3, "c")}


def test_try_read_parquet_existence_probe(spark, tmp_path):
    """The incremental sinks' dataset-existence probe: attempt the read
    (works on any Hadoop filesystem, unlike driver-local os.path), map
    ONLY the missing-dataset error classes to None, and re-raise every
    other AnalysisException so a corrupt/mistyped dataset can never
    masquerade as empty (VERDICT r8 #1 + ADVICE r8)."""
    from chicago_crime_spark_ml_spark.sources.io import (
        is_missing_dataset_exc,
        try_read_parquet,
    )

    # missing path -> None (PATH_NOT_FOUND)
    assert try_read_parquet(spark, str(tmp_path / "nope")) is None
    # just-created empty directory -> None (UNABLE_TO_INFER_SCHEMA)
    empty = tmp_path / "empty"
    empty.mkdir()
    assert try_read_parquet(spark, str(empty)) is None
    # real dataset -> the frame
    p = str(tmp_path / "t")
    spark.range(3).write.parquet(p)
    assert try_read_parquet(spark, p).count() == 3

    class Fake(Exception):
        def __init__(self, cond, msg=""):
            super().__init__(msg)
            self._c = cond

        def getCondition(self):
            return self._c

    assert is_missing_dataset_exc(Fake("PATH_NOT_FOUND"))
    assert is_missing_dataset_exc(Fake("UNABLE_TO_INFER_SCHEMA"))
    # any other condition is a real error, even when the MESSAGE
    # happens to mention a path problem
    assert not is_missing_dataset_exc(
        Fake("UNRESOLVED_COLUMN.WITH_SUGGESTION", "PATH_NOT_FOUND-ish")
    )
    # no structured class exposed -> message-scan fallback
    assert is_missing_dataset_exc(
        ValueError("[PATH_NOT_FOUND] Path does not exist: /x")
    )
    assert not is_missing_dataset_exc(ValueError("boom"))
