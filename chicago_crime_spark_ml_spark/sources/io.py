"""Parquet-first table IO over the driver's testdata layout.

One parquet file (or directory) per table under a scale-factor dir
(TESTDATA.md). At cluster scale the same helpers point at partitioned
parquet datasets on object storage; nothing here assumes local paths.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor
# (region=5 rows, nation=25 — fixed cardinality like TPC-H dims).
BROADCAST_TABLES = frozenset({"region", "nation"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Plain ``spark.read.parquet`` so Catalyst keeps
    pushdown/pruning; callers add filters lazily.

    events.ts is TIMESTAMP(NANOS) in the testdata parquet — Spark reads it
    as long ns (legacy.parquet.nanosAsLong); we convert to TimestampType
    via integer division (ts DIV 1000 → micros: truncation, bit-exact with
    DuckDB's ns→µs fetch behavior; float division would lose precision on
    ~1.7e18 ns values).
    """
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    ts_type = dict(df.dtypes).get("ts")
    if name == "events" and ts_type == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    elif name == "events" and ts_type == "timestamp_ntz":
        # Micros-precision parquet without timezone reads as TIMESTAMP_NTZ;
        # normalize to TIMESTAMP (LTZ) so every downstream operator sees one
        # timestamp type. Identity on wall-clock values: the engine session
        # pins spark.sql.session.timeZone=UTC, matching DuckDB's naive read.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several tables as a dict (all of TABLES when no names given)."""
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


# AnalysisException conditions that mean "this dataset does not exist
# yet" for a parquet read: the path is absent, or the directory exists
# but holds no parquet footers to infer a schema from (a just-created
# checkpoint/output dir). Anything else — schema-merge failures, corrupt
# footers surfaced at analysis, wrong path type — is a REAL error and
# must propagate: swallowing it would silently treat an existing dataset
# as empty (the failure mode the error-class match exists to prevent).
_MISSING_DATASET_CONDITIONS = frozenset(
    {"PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"}
)


def is_missing_dataset_exc(exc: Exception) -> bool:
    """True iff an AnalysisException means the dataset isn't there yet
    (see _MISSING_DATASET_CONDITIONS). Reads the structured error class
    (getCondition on Spark 4, getErrorClass before it); falls back to a
    message scan only when no class is exposed."""
    cond = None
    for attr in ("getCondition", "getErrorClass"):
        fn = getattr(exc, attr, None)
        if fn is None:
            continue
        try:
            cond = fn()
        except Exception:  # noqa: BLE001 - defensive: never mask the original
            cond = None
        if cond:
            break
    if cond is not None:
        return cond.split(".")[0] in _MISSING_DATASET_CONDITIONS
    msg = str(exc)
    return any(c in msg for c in _MISSING_DATASET_CONDITIONS)


def try_read_parquet(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    **options,
) -> DataFrame | None:
    """``spark.read.parquet(path)``, or ``None`` when the dataset does
    not exist yet. The existence probe every incremental sink needs on a
    real store: a driver-local ``os.path`` check is always False on
    hdfs://s3a:// paths (the ADVICE r7 bug class), while attempting the
    read works on any Hadoop filesystem. Only the two missing-dataset
    error classes map to ``None``; other AnalysisExceptions re-raise so
    a corrupt or mistyped dataset can never masquerade as empty
    (ADVICE r8).

    ``schema`` (r13): an explicit DDL schema for the read. Beyond
    skipping footer inference, this changes how PARTITION values parse:
    with a user schema, Spark takes the raw directory string and casts
    it to the declared type (SPARK-26188) instead of type-inferring it —
    the only way a string-typed partition column keeps opaque values
    like ``'0123'`` distinct from ``'123'`` (inference collapses both to
    the integer 123). Every read of a registry/manifest keyed by opaque
    string partitions must pass the schema. ``options`` forward to the
    reader (e.g. ``mergeSchema="true"``)."""
    from pyspark.errors import AnalysisException  # noqa: PLC0415

    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if options:
        reader = reader.options(**options)
    try:
        return reader.parquet(path)
    except AnalysisException as exc:
        if is_missing_dataset_exc(exc):
            return None
        raise


def read_csv_raw(
    spark: SparkSession,
    path: str,
    drop_index_col: str | None = "_c0",
) -> DataFrame:
    """Raw-ingest CSV mode: header on, NO schema inference — every column
    StringType — and drop the pandas index column.

    Mirrors the reference's ingest (/root/reference/Preprocessing.py:20)
    which deliberately defers typing until after cleaning, because the data
    contains literal "NULL" strings, empty strings, and embedded header
    rows that would corrupt inference. Typing happens in
    operators.cleaning.cast_columns.
    """
    df = spark.read.csv(path, header=True, inferSchema=False)
    if drop_index_col and drop_index_col in df.columns:
        df = df.drop(drop_index_col)
    return df


def write_bucketed_table(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (and optionally sorted) parquet table via saveAsTable —
    the co-located-join layout for the 100 TB fact⋈fact case: two tables
    bucketed on the same key with the same bucket count join with NO
    exchange (and no sort, if sorted) — asserted in tests/test_plans.py.
    The reference has no bucketing (its only sinks are driver-side JSON/
    PNG sidecars); this is the engine's answer to its full-shuffle joins.
    """
    writer = df.write.mode(mode).option("path", path).bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """JSON-lines sink (one JSON object per row, splittable per file).
    The interchange format for corpus pipelines — downstream tokenizer /
    training jobs read JSONL; the engine writes it distributed, never via
    a driver-side dump (the reference's sidecar pattern,
    /root/reference/XGBoost.py:160-163)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.json(path)


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines source. Pass an explicit ``schema`` (StructType or DDL
    string) at scale — schema inference on JSON is a full extra pass over
    the data and types drift per file; with a schema the read is one pass
    and malformed rows land in the PERMISSIVE-mode corrupt-record column
    instead of failing the job."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_jsonl_quarantine(
    spark: SparkSession, path: str, schema: str
) -> tuple[DataFrame, DataFrame]:
    """JSONL read with corrupt-row quarantine: PERMISSIVE mode routes
    malformed lines into a corrupt-record column instead of failing the
    job (FAILFAST) or silently dropping them (DROPMALFORMED). Returns
    (good_rows, quarantined_raw_lines) — same contract as the cleaning
    layer's timestamp quarantine: at 100 TB you keep the bad 0.01% for
    forensics, you don't kill a 6-hour job over it.
    """
    corrupt = "_corrupt_record"
    full = f"{schema}, {corrupt} STRING"
    df = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt)
        .json(path)
    )
    # Spark disallows queries touching ONLY the corrupt column on the raw
    # lazy plan (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — cache the parsed
    # result first (the documented contract); both splits then share one
    # parse pass instead of re-reading the files.
    df = df.cache()
    good = df.filter(F.col(corrupt).isNull()).drop(corrupt)
    bad = df.filter(F.col(corrupt).isNotNull()).select(
        F.col(corrupt).alias("raw_line")
    )
    return good, bad


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """ORC sink — the engine treats columnar formats symmetrically
    (parquet default, ORC for Hive-ecosystem consumers). Same pushdown/
    pruning behavior on read as parquet."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Partitioned parquet sink — the scale-safe default (partition pruning
    on read). The reference writes only driver-side JSON/PNG sidecars
    (/root/reference/XGBoost.py:160-163,325)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def compact_parquet(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_rows: int = 1_000_000,
    sort_within_by: list[str] | None = None,
) -> int:
    """Small-files compaction: rewrite a parquet dataset into
    ceil(rows/target_file_rows) files, optionally sorted within each file
    (keeps row-group min/max stats tight → better data skipping on read).
    The operational answer to streaming sinks and over-parallel writes
    leaving thousands of KB-sized files — at 100 TB, listing and opening
    small files dominates read cost long before bytes do. Returns the
    file count written."""
    df = spark.read.parquet(src_path)
    n_rows = df.count()
    n_files = max(1, -(-n_rows // target_file_rows))
    out = df.repartition(n_files)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    out.write.mode("overwrite").parquet(dst_path)
    import glob as _glob  # noqa: PLC0415
    import os as _os  # noqa: PLC0415

    return len(_glob.glob(_os.path.join(dst_path, "part-*")))


def recover_compaction_swap(path: str) -> None:
    """Crash-recovery preamble shared by every compaction job (ADVICE
    r9): a dangling ``path__old`` with the live path present is
    leftover garbage from a crash during the final delete — remove it;
    ``path__old`` present with the live path MISSING means the crash
    hit between the two renames — rename the old data back. Either
    way the dataset is readable afterwards. LOCAL-FILESYSTEM-ONLY
    (like file_spans); on hdfs/s3a run the equivalent through the
    FileSystem API or a table format."""
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415

    old = path.rstrip("/") + "__old"
    if os.path.exists(old):
        if os.path.exists(path):
            shutil.rmtree(old)  # crash during final delete: garbage
        else:
            os.rename(old, path)  # crash between renames: restore


def commit_compaction_swap(path: str, staging: str) -> None:
    """Rename-aside swap shared by every compaction job: live →
    ``__old`` (atomic), staging → live (atomic), delete ``__old`` —
    no failure point leaves the data deleted-but-unreplaced, and
    :func:`recover_compaction_swap` repairs every intermediate state.
    LOCAL-FILESYSTEM-ONLY (see recover_compaction_swap)."""
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415

    old = path.rstrip("/") + "__old"
    os.rename(path.rstrip("/"), old)
    os.rename(staging, path.rstrip("/"))
    shutil.rmtree(old)


# Reserved partition value for compacted ingest stores (r12, ADVICE
# r11): foreachBatch ids are non-negative, so a replayed micro-batch
# can never collide with the compacted partition — the same
# outside-the-namespace rule as similarity.COMPACTED_INGEST.
RESERVED_COMPACTED_BATCH = -1

# Directory name of the multi-version manifest the streaming sinks
# maintain INSIDE a state store (underscore-prefixed, so the store's
# own parquet reads skip it, and the compaction swap retires it with
# the rows it describes). SINGLE source of truth — streaming/__init__
# imports it; a second literal would let a rename silently disable
# compact_ingest_index's plain-compaction rejection below.
MV_DIRNAME = "_mv"


def mv_manifest_path(path: str) -> str:
    """Path of a state store's multi-version manifest."""
    return path.rstrip("/") + "/" + MV_DIRNAME


def compact_ingest_index(
    spark: SparkSession,
    path: str,
    batch_col: str = "batch_id",
    target_file_rows: int = 1_000_000,
    sort_within_by: list[str] | None = None,
    replace_latest_by: str | None = None,
    verify_single_version_by: str | None = None,
) -> int:
    """Compact a per-batch-partitioned ingest index (the
    ``batch_id=N`` layout every streaming near-dup sink writes) into a
    few right-sized files under ONE partition directory — the
    maintenance job a continuous-ingest deployment must run
    periodically: after a year of micro-batches the index is millions
    of KB-sized files whose listing+open cost dominates every probe
    long before bytes do.

    Procedure (crash-safe, ADVICE r9): rewrite all rows into a staging
    directory as a single ``batch_id=<max_seen>`` partition with
    ceil(rows/target_file_rows) files (optionally sorted within files
    for tight row-group stats), then swap via RENAME-ASIDE: the live
    path is renamed to ``path__old`` (atomic), staging is renamed into
    place (atomic), and only then is ``path__old`` deleted — so no
    failure point leaves the data deleted-but-unreplaced. The earlier
    rmtree-then-move swap had exactly that window, and try_read_parquet
    would have mapped the missing path to an EMPTY index, silently
    rebuilding recall from scratch on restart. If a previous compaction
    crashed mid-swap, the preamble restores: a dangling ``path__old``
    with the live path present is leftover garbage (crash during final
    delete — remove it); ``path__old`` present with the live path
    MISSING means the crash hit between the two renames — the old
    data is renamed back before recompacting.

    The partition VALUE is the RESERVED id ``batch_id=-1`` (r12,
    ADVICE r11 — foreachBatch ids are non-negative, so no streaming
    replay can ever collide with it). The earlier max-seen stamp had a
    real data-loss window: if the stream crashed between writing batch
    ``max_bid``'s state and committing its checkpoint, and compaction
    ran before restart, the REPLAYED batch ``max_bid`` (a) read state
    via the exclusion readers — which exclude ``batch_id=max_bid``,
    i.e. the ENTIRE compacted store, so its delta was computed against
    an empty index — and (b) its per-batch overwrite of
    ``batch_id=max_bid`` then replaced the whole compacted corpus with
    just that batch's recomputed rows. With the sentinel, a replayed
    ``N>=0`` lands in its own partition (worst case: duplicates its
    rows until the next compaction), latest-wins reads still resolve
    newer batches above ``-1``, and the exclusion read never excludes
    compacted history. Per-row ingest provenance below the compaction
    horizon is deliberately collapsed (it was only ever replay
    bookkeeping). A resumed stream keeps appending new ``batch_id=N``
    dirs above the sentinel. Run in the stream's
    maintenance window (stopped or between triggers): the swap is not
    atomic for concurrent readers — same bare-parquet caveat as
    merge_parquet; a table format gives you the transactional version.

    COMPACT-WITH-REPLACE (r11, VERDICT r10 #1): the delta index
    operators re-EMIT a changed-content re-sent id's rows (staleness
    is worse than duplication), but append-only storage then holds
    BOTH versions — the one legal input stream where a maintained
    index ≠ its rebuild (bm25_search_from_index double-counts that
    doc's terms). Passing ``replace_latest_by=<id col>`` makes this
    compaction restore replace semantics exactly: for each id only
    the rows of its HIGHEST batch id survive (each delta batch writes
    a doc's complete posting set, so per-id-latest-batch IS the
    current version; older batches' rows for that id are the stale
    ones). One extra shuffle on the id column — linear, and certified
    by lexical_compact_replace_check: ingest → changed re-send →
    compact(replace) → bm25/tf-idf hash == the from-raw-text rebuild
    on the latest content.
    Manifest retirement (r12): the streaming sinks keep a tiny
    ``_mv`` multi-version manifest INSIDE the store directory
    (underscore-prefixed, invisible to the store's parquet reads);
    the swap replaces the whole directory, so compaction retires the
    manifest atomically with the superseded rows it described — the
    post-compaction store is all-single-version and the latest-wins
    readers take their manifest-free fast path. Plain (non-replace)
    compaction of a store whose manifest holds LIVE multi-version ids
    is rejected: collapsing the batch partitions would erase the
    version order and merge superseded versions into the corpus.
    The manifest check alone cannot see a changed re-send whose sink
    crashed between the store write and the manifest write (ADVICE
    r12); pass ``verify_single_version_by=<id col>`` to additionally
    prove single-versionness from the data itself (one aggregate —
    refuses if any id spans two batch partitions), or observe the
    discipline of not plain-compacting after an unclean shutdown
    until the stream has replayed its uncommitted batch.
    LOCAL-FILESYSTEM-ONLY (like file_spans): the swap uses driver-local
    os.rename/shutil — on hdfs:// or s3a:// run the equivalent rename
    dance through the FileSystem API or a table format's REPLACE.
    Returns the file count written."""
    import math  # noqa: PLC0415

    recover_compaction_swap(path)
    df = spark.read.parquet(path)
    if batch_col not in df.columns:
        raise ValueError(f"{path} has no {batch_col!r} partition column")
    # r12: the _mv manifest (streaming latest-wins bookkeeping) rides
    # inside the store directory, so the swap below retires it with the
    # rows it describes. That makes PLAIN compaction of a store holding
    # LIVE multi-version ids ill-formed — collapsing every batch into
    # one partition erases the version order, and the latest-wins
    # readers would then see v1 ∪ v2 as one current version. Demand the
    # replace form instead (it resolves the versions before the merge).
    mv = try_read_parquet(spark, mv_manifest_path(path))
    if (
        replace_latest_by is None
        and mv is not None
        and mv.limit(1).count() > 0
    ):
        raise ValueError(
            f"{path} holds multi-version ids (changed re-sends in its "
            "_mv manifest); pass replace_latest_by=<id col> — plain "
            "compaction would merge superseded versions into the "
            "current corpus"
        )
    # ADVICE r12 (real data-loss window): the manifest alone is not a
    # sound single-version witness — the sinks write the store
    # partition BEFORE the manifest, so a crash between the two writes
    # of a batch carrying a changed re-send leaves a multi-version
    # store with no manifest row. If plain compaction then ran before
    # the stream replayed, v1 and v2 would merge under the sentinel
    # FOREVER (the replay would classify its re-send as unchanged
    # against the union and never re-emit). verify_single_version_by
    # closes it from the DATA: one aggregate over the store (cheap
    # relative to the rewrite) proves no id spans two batches. Callers
    # who omit it accept the documented discipline instead: never
    # plain-compact after an unclean shutdown until the stream has
    # replayed its uncommitted batch.
    if replace_latest_by is None and verify_single_version_by is not None:
        multi = (
            df.groupBy(verify_single_version_by)
            .agg(F.countDistinct(batch_col).alias("_nv"))
            .filter(F.col("_nv") > 1)
            .limit(1)
            .count()
        )
        if multi:
            raise ValueError(
                f"{path} holds rows for one {verify_single_version_by} "
                "under multiple batch partitions — a changed re-send "
                "(possibly from a crash before its manifest write); "
                "pass replace_latest_by=<id col>, or let the stream "
                "replay its uncommitted batch first"
            )
    if replace_latest_by is not None:
        latest = df.groupBy(replace_latest_by).agg(
            F.max(batch_col).alias(batch_col)
        )
        rows = df.join(
            latest, [replace_latest_by, batch_col], "left_semi"
        ).drop(batch_col)
    else:
        rows = df.drop(batch_col)
    n_rows = rows.count()
    n_files = max(1, math.ceil(n_rows / target_file_rows))
    out = rows.repartition(n_files)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    staging = path.rstrip("/") + "__compacting"
    out.write.mode("overwrite").parquet(
        f"{staging}/{batch_col}={RESERVED_COMPACTED_BATCH}"
    )
    commit_compaction_swap(path, staging)
    import glob as _glob  # noqa: PLC0415
    import os as _os  # noqa: PLC0415

    return len(
        _glob.glob(
            _os.path.join(
                path, f"{batch_col}={RESERVED_COMPACTED_BATCH}", "part-*"
            )
        )
    )


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    bits: int = 16,
    n_files: int | None = None,
) -> None:
    """Z-order-clustered parquet: quantize two columns to 2^bits buckets
    (min/max from a bounded 1-row stats collect), range-partition + sort
    by the Morton code, write. Readers filtering on EITHER OR BOTH
    columns skip row groups via min/max stats — the multi-dimensional
    generalization of sort-by-one-column layouts."""
    from chicago_crime_spark_ml_spark.functions.scalar import morton_code

    stats = df.agg(
        F.min(col_a).alias("a_min"), F.max(col_a).alias("a_max"),
        F.min(col_b).alias("b_min"), F.max(col_b).alias("b_max"),
    ).first()
    span = (1 << bits) - 1

    def q(col, lo, hi):
        rng = (hi - lo) or 1
        return F.least(
            F.lit(span),
            ((F.col(col) - F.lit(lo)) / F.lit(rng) * span).cast("long"),
        )

    z = morton_code(
        q(col_a, stats["a_min"], stats["a_max"]),
        q(col_b, stats["b_min"], stats["b_max"]),
        bits,
    )
    out = df.withColumn("__z", z)
    if n_files:
        out = out.repartitionByRange(n_files, "__z")
    out.sortWithinPartitions("__z").drop("__z").write.mode(
        "overwrite"
    ).parquet(path)


def merge_parquet(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
) -> None:
    """Upsert (MERGE) into a parquet dataset: target rows whose key
    appears in ``updates`` are replaced, new keys appended — implemented
    as anti-join + unionByName + staged rewrite + directory swap.

    This is the table-format-less fallback: plain parquet has no ACID
    merge, so the whole dataset rewrites into a staging dir and swaps
    in through the crash-safe rename-aside (commit_compaction_swap);
    a merge that crashed mid-swap is repaired first
    (recover_compaction_swap). At 100 TB you'd use an Iceberg/Delta
    MERGE for file-level pruning and snapshot isolation — this helper
    exists so pipelines have correct upsert semantics on bare parquet,
    and partition-scoped callers can point ``path`` at one partition
    directory to bound the rewrite."""
    recover_compaction_swap(path)
    tgt = spark.read.parquet(path)
    keep = tgt.join(
        F.broadcast(updates.select(*keys).distinct()), keys, "left_anti"
    )
    merged = keep.unionByName(updates.select(*tgt.columns))
    staging = path.rstrip("/") + "__staging"
    merged.write.mode("overwrite").parquet(staging)
    commit_compaction_swap(path, staging)


def merge_parquet_partitioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    partition_cols: list[str],
    max_touched_partitions: int = 10_000,
) -> int:
    """Partition-scoped MERGE into a partitionBy-written parquet dataset:
    ONLY partitions containing updated keys are rewritten; every other
    partition directory's files are untouched (byte-identical after the
    merge — asserted in tests). Returns the touched-partition count.

    How it bounds the rewrite:
    1. the touched partition tuples come from ``updates`` (bounded
       collect, guarded);
    2. the target read is filtered to those literal tuples — static
       partition pruning, so the scan never opens untouched directories;
    3. the write uses dynamic partition overwrite (the per-write
       DataFrameWriter ``partitionOverwriteMode=dynamic`` option — never
       the session-global conf, which races with concurrent writers),
       which replaces exactly the partitions present in the output and
       leaves the rest alone — one job, no staging swap of the whole
       dataset.

    This is the bare-parquet answer to Iceberg/Delta's file-pruned MERGE:
    same bounded-IO shape, minus snapshot isolation (readers of a touched
    partition can see it mid-rewrite; use a table format when that
    matters)."""
    touched = updates.select(*partition_cols).distinct().limit(
        max_touched_partitions + 1
    ).collect()
    if len(touched) > max_touched_partitions:
        raise ValueError(
            f"updates touch > {max_touched_partitions} partitions; use "
            f"merge_parquet (full rewrite) or a table format"
        )
    if not touched:
        return 0
    pred = None
    for row in touched:
        clause = F.lit(True)
        for c in partition_cols:
            clause = clause & (F.col(c) == F.lit(row[c]))
        pred = clause if pred is None else (pred | clause)
    tgt = spark.read.parquet(path).filter(pred)
    keep = tgt.join(
        F.broadcast(updates.select(*keys).distinct()), keys, "left_anti"
    )
    merged = keep.unionByName(updates.select(*tgt.columns))
    # per-WRITE dynamic overwrite (ADVICE r9 on ivf_index_delta, same
    # class): mutating the session-global conf races with concurrent
    # writers in the same session
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
    return len(touched)


def read_text_corpus(
    spark: SparkSession, path: str, whole_files: bool = False
) -> DataFrame:
    """Raw-text corpus ingest — the other half of LLM-pipeline intake
    next to JSONL (read_jsonl): ``whole_files=False`` yields one row
    per LINE (``value``), the layout of one-document-per-line dumps;
    ``whole_files=True`` yields one row per FILE (wholetext), for
    document-per-file trees. Both attach the source file path — the
    provenance column every curation pipeline carries. Line mode
    splits files across tasks (parallel within a file); wholetext
    cannot, so at 100 TB prefer line/JSONL layouts for big documents."""
    return spark.read.text(path, wholetext=whole_files).select(
        F.input_file_name().alias("source_file"), F.col("value").alias("text")
    )


def backfill_missing_partitions(
    df: DataFrame, path: str, partition_col: str
) -> list[str]:
    """Idempotent partition backfill: diff the partition values present
    in ``df`` against the ``col=value`` directories already on disk and
    write ONLY the missing ones (append + partitionBy). Existing
    partition files are never rewritten — the crash-safe re-runnable
    backfill loop (run it twice: the second pass is a no-op).

    The partition-value domain is bounded (that's what makes it a
    partition column), so the distinct-collect and the directory
    listing are driver-cheap; on object stores swap the listing for the
    catalog's partition metadata. Returns the backfilled values."""
    import os  # noqa: PLC0415

    prefix = f"{partition_col}="
    existing: set[str] = set()
    if os.path.isdir(path):
        existing = {
            d[len(prefix):] for d in os.listdir(path) if d.startswith(prefix)
        }
    wanted = [
        r[0] for r in df.select(partition_col).distinct().collect()
        if r[0] is not None
    ]
    missing = [v for v in wanted if str(v) not in existing]
    if missing:
        (
            df.filter(F.col(partition_col).isin(missing))
            .write.mode("append")
            .partitionBy(partition_col)
            .parquet(path)
        )
    return [str(v) for v in missing]


def schema_diff(spark: SparkSession, path_a: str, path_b: str) -> DataFrame:
    """Schema-drift report between two parquet snapshots: columns added,
    removed, or type-changed (the data-contract check a pipeline runs
    before promoting a new snapshot — silent type widening is how
    downstream casts start failing at 2 a.m.). Footer-only reads; output
    is one row per (column, change) with before/after types."""
    a = dict(spark.read.parquet(path_a).dtypes)
    b = dict(spark.read.parquet(path_b).dtypes)
    rows = []
    for col in sorted(set(a) | set(b)):
        if col not in b:
            rows.append((col, "removed", a[col], None))
        elif col not in a:
            rows.append((col, "added", None, b[col]))
        elif a[col] != b[col]:
            rows.append((col, "type_changed", a[col], b[col]))
    return spark.createDataFrame(
        rows or [(None, None, None, None)],
        "column STRING, change STRING, type_before STRING, type_after STRING",
    ).filter(F.col("column").isNotNull())


def attach_provenance(df: DataFrame) -> DataFrame:
    """Row-level lineage via the hidden ``_metadata`` struct every file
    source carries: source file path + size + modification time attached
    as ordinary columns. The audit-trail primitive — 'which input file
    produced this bad row' — with zero extra IO (the values come from
    the scan task's own file split, not a join)."""
    return df.select(
        "*",
        F.col("_metadata.file_path").alias("src_file"),
        F.col("_metadata.file_size").alias("src_file_size"),
        F.col("_metadata.file_modification_time").alias("src_file_mtime"),
    )
