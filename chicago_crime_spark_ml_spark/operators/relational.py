"""Core relational operators — SURVEY.md §2.2–§2.5 as named, reusable ops.

Everything here is a thin, *tested* composition of DataFrame primitives;
Catalyst keeps pushdown/pruning/partial-agg because the plans stay
declarative. Scale notes per operator where they matter.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def categorize(
    df: DataFrame,
    col: str,
    mapping: Mapping[str, Sequence[str]],
    default: str,
    out_col: str,
) -> DataFrame:
    """CASE-chain categorization: {category: [values...]} → new column.

    Generalizes the reference's 4-way Crime_Category
    (/root/reference/XGBoost.py:101-114) and 7-way crime grouping
    (Preprocessing.py:807-817). Pure when/otherwise — constant-folded by
    Catalyst, stays in codegen.
    """
    expr: Column | None = None
    for category, values in mapping.items():
        cond = F.col(col).isin(list(values))
        expr = F.when(cond, category) if expr is None else expr.when(cond, category)
    assert expr is not None, "mapping must be non-empty"
    return df.withColumn(out_col, expr.otherwise(default))


def dedup_exact(df: DataFrame, keys: Sequence[str] | None = None) -> DataFrame:
    """Exact dedup ≡ dropDuplicates (/root/reference/Preprocessing.py:53,
    XGBoost.py:51). One hash-shuffle on the key columns; at 100 TB prefer
    key-subset dedup (shuffles only keys+firsts, not all columns)."""
    return df.dropDuplicates(list(keys)) if keys else df.dropDuplicates()


def time_split(df: DataFrame, col: str, cutoff) -> tuple[DataFrame, DataFrame]:
    """Leakage-aware train/test time split — filter, not random split
    (/root/reference/XGBoost.py:139-140: Year<=2003 vs Year==2004).
    Both filters push down to the parquet scan (partition pruning when the
    data is partitioned on the split column — the 100 TB layout)."""
    c = F.col(col)
    return df.filter(c <= F.lit(cutoff)), df.filter(c > F.lit(cutoff))


def top_k(
    df: DataFrame,
    order_col: str,
    k: int,
    ascending: bool = False,
    tiebreak: str | None = None,
) -> DataFrame:
    """orderBy+limit top-k (/root/reference/Preprocessing.py:399,546,608).
    Spark plans this as TakeOrderedAndProject — per-partition heap + driver
    merge, no full sort: exactly what you want at scale. ``tiebreak``
    (ascending secondary key) makes the result set deterministic when
    order_col has duplicates — required for cross-engine oracle checks."""
    order = [F.asc(order_col) if ascending else F.desc(order_col)]
    if tiebreak is not None:
        order.append(F.asc(tiebreak))
    return df.orderBy(*order).limit(k)


def top_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    k: int,
    ascending: bool = False,
    rank_col: str = "rn",
    tiebreak: str | None = None,
    keep_rank: bool = False,
) -> DataFrame:
    """Top-k per group via window row_number — the distributed form of the
    reference's collect-then-pandas slicing. One shuffle on group_cols.
    ``tiebreak`` (ascending secondary key) totalizes the order under ties;
    ``keep_rank`` retains the rank column for callers that expose it."""
    order = [F.asc(order_col) if ascending else F.desc(order_col)]
    if tiebreak is not None:
        order.append(F.asc(tiebreak))
    w = Window.partitionBy(*group_cols).orderBy(*order)
    out = df.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )
    return out if keep_rank else out.drop(rank_col)


def pivot_count(
    df: DataFrame,
    index: str,
    columns: str,
    values: Sequence[str] | None = None,
) -> DataFrame:
    """Native Spark pivot replacing the reference's collect-then-pandas
    pivot (/root/reference/Preprocessing.py:618-619,645-646,699-700).
    Pass ``values`` (the distinct pivot keys) when known: skips the extra
    distinct-collect job AND fixes output schema — mandatory at scale."""
    piv = df.groupBy(index).pivot(columns, list(values) if values else None)
    return piv.count()


def stratified_sample(
    df: DataFrame, col: str, fractions: Mapping[str, float], seed: int = 42
) -> DataFrame:
    """True stratified sample in ONE job via sampleBy, replacing the
    reference's per-stratum sample loop + pandas concat
    (/root/reference/Preprocessing.py:424-429)."""
    return df.sampleBy(col, dict(fractions), seed)


def union_all(dfs: Sequence[DataFrame]) -> DataFrame:
    """unionByName fold — the Spark-native form of the reference's
    pd.concat (/root/reference/Preprocessing.py:429). Name-based so column
    order never silently corrupts data."""
    return reduce(lambda a, b: a.unionByName(b), dfs)


def add_group_count_feature(
    df: DataFrame,
    source: DataFrame,
    key: str,
    out_col: str,
    fill: int = 0,
    hint_broadcast: bool = True,
) -> DataFrame:
    """Join per-group counts from ``source`` onto ``df`` as a feature —
    the reference's density features (/root/reference/XGBoost.py:168-187:
    groupBy→agg count→left join→fillna, ×3 for District/Beat/CommunityArea).

    Counts are computed on ``source`` (train only — no test leakage) and
    LEFT-joined; unmatched keys fill 0. ``hint_broadcast`` (default True)
    is for BOUNDED-DOMAIN keys (the reference's District/Beat/Community
    Area: ≤ a few hundred distinct values at ANY data scale) — there the
    explicit hint beats trusting size stats and the join is shuffle-free
    at 100 TB. For keys whose cardinality scales with the data (user id,
    customer key), pass ``hint_broadcast=False``: Catalyst still
    broadcasts while the count table fits the threshold and degrades to
    the co-partitioned shuffle join beyond — forcing broadcast there
    would OOM the executors at scale.
    """
    counts = source.groupBy(key).agg(F.count(F.lit(1)).alias(out_col))
    if hint_broadcast:
        counts = F.broadcast(counts)
    return df.join(counts, on=key, how="left").fillna({out_col: fill})


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
) -> DataFrame:
    """As-of join (backward, inclusive): for each left row, attach the
    right row with the greatest ``right_ts`` ≤ ``left_ts`` for the same
    key. Spark has no native as-of join; this is the scalable formulation:

        union(left, right) → window per key sorted by (ts, side) →
        last(payload, ignoreNulls) → keep left rows

    ONE shuffle on the key, sequential scan per key — no per-group
    Python (pd.merge_asof via applyInPandas is the fallback only when
    per-group state gets complex). Right rows sort before left rows at
    equal ts, giving inclusive (≥) semantics — matching DuckDB
    ``ASOF LEFT JOIN ... ON l.ts >= r.ts``, the oracle.

    The payload travels as ONE struct so ``last(ignorenulls)`` picks the
    matched right row atomically — per-column fill would backfill a NULL
    payload field from an older right row, tearing values across columns.
    Among right rows tied on ``right_ts``, the greatest payload struct
    (lexicographic over ``payload`` columns in order) wins — a
    deterministic rule matching pandas merge_asof's last-row-of-ties when
    rows arrive in payload order.

    ``right`` must consist of ``key``, ``right_ts`` and payload columns
    whose names don't collide with ``left``'s.
    """
    from pyspark.sql.types import StructField, StructType

    payload = [c for c in right.columns if c not in (key, right_ts)]
    lcols = left.columns
    collisions = set(payload) & set(lcols)
    assert not collisions, f"asof_join payload collides with left: {collisions}"
    ptype = StructType(
        [StructField(c, right.schema[c].dataType) for c in payload]
    )
    l_tag = left.select(
        *lcols,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        F.lit(None).cast(ptype).alias("__payload"),
    )
    # NULL right_ts can never satisfy l.ts >= r.ts (SQL three-valued
    # logic): drop those rows — otherwise NULLS FIRST ordering would make
    # them the "earliest" right row and they'd match everything. NULL
    # left_ts rows sort before all right rows (NULLS FIRST) and so
    # correctly get a NULL payload.
    r_tag = right.filter(F.col(right_ts).isNotNull()).select(
        *[
            F.col(key).alias(c)
            if c == key
            else F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lcols
        ],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        F.struct(*payload).alias("__payload"),
    )
    w = (
        Window.partitionBy(key)
        .orderBy("__ts", "__is_left", F.asc_nulls_first("__payload"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = l_tag.unionByName(r_tag).withColumn(
        "__match", F.last("__payload", ignorenulls=True).over(w)
    )
    return (
        filled.filter(F.col("__is_left") == 1)
        .select(*lcols, *[F.col(f"__match.{c}").alias(c) for c in payload])
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lower: float,
    upper: float,
) -> DataFrame:
    """Range/interval join: pairs with equal ``key`` and
    ``right_ts - left_ts`` in ``[lower, upper]`` seconds (inclusive).

    Spark would plan the raw theta predicate as a per-key cross join
    (every left × every right within the key). Instead we band time into
    buckets of width ``w = upper - lower``: a left row's admission window
    spans at most 2 buckets (≤4 after the ±1 s float-edge widening below),
    so exploding left to its covering buckets and equi-joining on
    (key, bucket) gives a shuffle-partitionable join whose output the
    exact predicate then filters. Each qualifying pair appears exactly
    once (right rows own one bucket). Cost is ≤ |left|·4 + |right|
    shuffled rows — linear, vs quadratic-per-key for the naive plan.
    """
    collisions = (set(left.columns) & set(right.columns)) - {key}
    assert not collisions, (
        f"interval_join: rename overlapping columns first: {collisions}"
    )
    w = max(int(upper - lower), 1)
    # TIMESTAMP_NTZ won't cast straight to double; go via TIMESTAMP. Both
    # sides shift identically under the session timezone, and banding only
    # depends on differences, so the interpretation cancels.
    lsec = F.col(left_ts).cast("timestamp").cast("double")
    rsec = F.col(right_ts).cast("timestamp").cast("double")
    # Banding is approximate (double epoch-seconds, widened ±1 s so float
    # rounding can never drop a boundary pair); the exact predicate below
    # compares native timestamps, bit-identical with the SQL oracle.
    l_b = left.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor((lsec + lower - 1) / w).cast("long"),
                F.floor((lsec + upper + 1) / w).cast("long"),
            )
        ),
    )
    r_b = right.withColumn("__bucket", F.floor(rsec / w).cast("long"))
    lo = F.col(left_ts) + F.make_interval(secs=F.lit(float(lower)))
    hi = F.col(left_ts) + F.make_interval(secs=F.lit(float(upper)))
    pair = l_b.join(r_b, on=[key, "__bucket"], how="inner").filter(
        (F.col(right_ts) >= lo) & (F.col(right_ts) <= hi)
    )
    return pair.drop("__bucket")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigated equi-join: salt the (skewed) left side's key into
    ``salt`` sub-keys and explode the right side across all salt values,
    spreading a hot key over ``salt`` reducers.

    AQE's skew-join splitting usually makes this unnecessary (it's on in
    the engine session); manual salting remains for the cases AQE can't
    rescue (skewed AGGREGATION keys, or joins below AQE's size
    thresholds). Result is provably identical to the plain join (tested)
    — for left-preserving joins only: a right/full outer join would emit
    each unmatched right row once per salt value, so those are rejected.
    """
    assert how in {"inner", "left", "left_outer", "left_semi", "left_anti"}, (
        f"salted_join preserves equivalence only for left-preserving joins,"
        f" got how={how!r}"
    )
    sl = left.withColumn("__salt", (F.rand(seed=42) * salt).cast("int"))
    sr = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = sl.join(sr, on=[key, "__salt"], how=how)
    return out.drop("__salt")


def dedup_keep_first(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    rank_col: str = "__rn",
) -> DataFrame:
    """Deterministic key-dedup: keep the first row per key under an
    explicit ordering. ``dropDuplicates(keys)`` keeps an ARBITRARY row —
    fine for exact duplicates, a silent nondeterminism bug otherwise; this
    is the reproducible form (one shuffle on keys, same as dropDuplicates)."""
    w = Window.partitionBy(*keys).orderBy(*[F.asc(c) for c in order_by])
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) == 1)
        .drop(rank_col)
    )


def null_profile(df: DataFrame, dirty_tokens: Sequence[str] = ("NULL", "")) -> DataFrame:
    """Single-pass per-column dirty/null counts — one job over all columns
    (conditional sum per column), replacing the reference's 22-scan
    per-column loop (/root/reference/Preprocessing.py:43-46) with its own
    single-pass pattern (Preprocessing.py:32-36). Returns one row."""
    toks = [t for t in dirty_tokens]
    exprs = []
    for c in df.columns:
        dirty = F.col(c).isNull()
        if toks:
            dirty = dirty | F.col(c).cast("string").isin(toks)
        exprs.append(F.sum(F.when(dirty, 1).otherwise(0)).alias(c))
    return df.select(exprs)


def key_skew_profile(df: DataFrame, key: str, k: int = 10) -> DataFrame:
    """Heavy-hitter / skew diagnostic for a join or aggregation key: the
    top-k keys by frequency with their share of all rows and their ratio
    to the mean key frequency (``x_mean`` — the skew factor that decides
    whether a shuffle on this key needs salting or AQE skew-join at
    100 TB; a key at x_mean ≫ 10 concentrates a partition).

    One keyed agg shuffle + a single-row global aggregate joined back by
    broadcast (BroadcastNestedLoopJoin over 1 row) + TakeOrderedAndProject
    for the top-k — no full sort, no collect. Ties broken by key value so
    the output is deterministic (oracle-checkable).
    """
    counts = df.groupBy(F.col(key).alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    stats = counts.agg(
        F.sum("n").alias("__total"), F.count(F.lit(1)).alias("__n_keys")
    )
    return (
        counts.crossJoin(F.broadcast(stats))
        .select(
            "key",
            "n",
            F.round(F.col("n") / F.col("__total"), 6).alias("share"),
            F.round(
                F.col("n") * F.col("__n_keys") / F.col("__total").cast("double"), 4
            ).alias("x_mean"),
        )
        .orderBy(F.desc("n"), F.asc("key"))
        .limit(k)
    )


def describe_stats(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Tidy summary statistics (one ROW per column: count/mean/stddev/min/
    max) — the reference's describe() (/root/reference/Preprocessing.py:209)
    reshaped so the output has a stable typed schema (describe() returns
    all-string columns, hostile to downstream use)."""
    pieces = []
    for c in cols:
        pieces.append(
            df.select(
                F.lit(c).alias("column"),
                F.count(c).cast("long").alias("n"),
                F.avg(c).alias("mean"),
                F.stddev(c).alias("stddev"),
                F.min(c).cast("double").alias("min"),
                F.max(c).cast("double").alias("max"),
            )
        )
    return union_all(pieces)


def asof_join_cogroup(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
) -> DataFrame:
    """As-of join via cogrouped applyInPandas — the Arrow-batched escape
    hatch for when per-group join logic outgrows Column algebra (custom
    tolerance rules, interpolation, per-key state). Both inputs cogroup
    on the key (one shuffle each side); each group pair becomes a pandas
    merge_asof on the driver-of-the-group — never the actual driver.

    Semantics match :func:`asof_join` (backward, inclusive, NULL right
    timestamps never match) and the cross-implementation equality is
    asserted in tests — two independent constructions, one contract.
    Prefer ``asof_join`` (pure JVM) in the hot path; this exists for the
    cases SQL can't express, and as independent validation.
    """
    import pandas as pd  # noqa: PLC0415

    payload = [c for c in right.columns if c not in (key, right_ts)]
    out_fields = (
        [f"{f.name} {f.dataType.simpleString()}" for f in left.schema.fields]
        + [f"{f.name} {f.dataType.simpleString()}"
           for f in right.schema.fields if f.name in payload]
    )
    out_schema = ", ".join(out_fields)
    lcols = list(left.columns)

    def merge(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty:
            return pd.DataFrame(columns=lcols + payload)
        lpdf = lpdf.sort_values(left_ts, kind="mergesort")
        rpdf = rpdf[rpdf[right_ts].notna()].sort_values(
            [right_ts] + payload, kind="mergesort"
        )
        lnull = lpdf[lpdf[left_ts].isna()]
        lval = lpdf[lpdf[left_ts].notna()]
        if rpdf.empty or lval.empty:
            merged = lpdf.copy()
            for c in payload:
                merged[c] = None
            return merged[lcols + payload]
        m = pd.merge_asof(
            lval,
            rpdf[[right_ts] + payload],
            left_on=left_ts,
            right_on=right_ts,
            direction="backward",
            allow_exact_matches=True,
        ).drop(columns=[c for c in [right_ts] if c not in payload])
        if not lnull.empty:
            ln = lnull.copy()
            for c in payload:
                ln[c] = None
            m = pd.concat([m, ln], ignore_index=True)
        return m[lcols + payload]

    return left.groupBy(key).cogroup(right.groupBy(key)).applyInPandas(
        merge, out_schema
    )


def band_join(
    left: DataFrame,
    right: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    bin_width: float,
) -> DataFrame:
    """Keyless range-lookup join: pairs where
    ``left.value ∈ [right.lo, right.hi)`` — the "classify a measure into
    irregular bands" shape (price tiers, SLA buckets, risk bands).

    Spark plans the raw theta predicate as BroadcastNestedLoopJoin —
    fine while the band table is tiny, quadratic disaster if it isn't.
    This form discretizes instead: each interval explodes to the fixed
    bins it covers, each left row computes its single bin, and the join
    becomes a shuffle-partitionable equi-join on bin followed by the
    exact residual predicate. Cost is linear: |left| + Σ(interval
    width/bin_width) shuffled rows, and a hot band no longer means a
    hot reducer. Each qualifying pair appears exactly once (a left row
    owns exactly one bin; an interval covers that bin exactly once).

    Pick ``bin_width`` near the median interval width; clamp open-ended
    tails to the domain max first (an unbounded hi explodes to
    hi/bin_width rows).
    """
    collisions = set(left.columns) & set(right.columns)
    assert not collisions, f"band_join: rename overlapping columns: {collisions}"
    w = float(bin_width)
    l_b = left.withColumn(
        "__bin", F.floor(F.col(value_col).cast("double") / w).cast("long")
    )
    r_b = right.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col).cast("double") / w).cast("long"),
                # hi is exclusive, but a value exactly on the boundary of
                # the last partial bin still lands there — ceil via
                # floor((hi - epsilon-free integer math)/w) is unsafe on
                # doubles, so cover hi's bin too and let the residual cut
                F.floor(F.col(hi_col).cast("double") / w).cast("long"),
            )
        ),
    )
    pair = l_b.join(r_b, on="__bin", how="inner").filter(
        (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col))
    )
    return pair.drop("__bin")


def pareto_frontier(df: DataFrame, minimize: str, maximize: str) -> DataFrame:
    """2-D Pareto frontier: rows not strictly dominated under
    (``minimize`` ↓, ``maximize`` ↑). Row q dominates p iff q.min ≤ p.min
    ∧ q.max ≥ p.max with at least one strict — ties/duplicates are NOT
    dominated by their twins (no strict edge) and stay on the frontier.

    The naive form is a quadratic NOT-EXISTS self-join. This plans
    linearithmic: collapse to one row per distinct ``minimize`` value
    (its group max), prefix-max over the sorted distinct values, join
    back, filter. Dominance ⇔ a strictly-cheaper group reaches your
    ``maximize`` (prefix max ≥) or your own group strictly exceeds it.
    The unpartitioned window runs on |distinct minimize| rows only —
    already aggregated far below input size; for a truly huge distinct
    domain, range-partition the prefix scan first."""
    gmax = "__grp_max"
    pmax = "__prev_max"
    per_v = df.groupBy(minimize).agg(F.max(maximize).alias(gmax))
    w = Window.orderBy(F.col(minimize).asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    per_v = per_v.withColumn(pmax, F.max(gmax).over(w))
    dominated = (
        F.col(pmax).isNotNull() & (F.col(pmax) >= F.col(maximize))
    ) | (F.col(gmax) > F.col(maximize))
    return df.join(per_v, on=minimize).filter(~dominated).drop(gmax, pmax)


def sample_per_group_deterministic(
    df: DataFrame,
    group_cols: Sequence[str],
    key_col: str,
    k: int,
    rank_col: str = "sample_rank",
) -> DataFrame:
    """Exactly-k-per-group deterministic sample: rank rows inside each
    group by md5(key) — a uniform-ish, content-stable shuffle — and keep
    the first k. Unlike fraction-based sampleBy (approximate counts,
    seed-dependent) or LIMIT-after-shuffle (nondeterministic), the same
    rows come back on every run, every partitioning, and every engine —
    which is what a reproducible eval/holdout slice needs. One shuffle
    on the group key; the md5 ordering prevents the "first k by id"
    bias toward old records."""
    w = Window.partitionBy(*group_cols).orderBy(
        F.md5(F.col(key_col).cast("string")), F.col(key_col)
    )
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def fill_time_gaps(
    df: DataFrame,
    key_col: str,
    day_col: str,
    value_col: str,
    locf_col: str = "locf_value",
    gap_col: str = "is_gap",
) -> DataFrame:
    """Sparse→dense time series: build each key's full daily spine
    (min..max observed day via sequence+explode — no driver loop, no
    cross join with a global calendar), left-join the observations back,
    and forward-fill with last(ignorenulls) over an unbounded-preceding
    frame (LOCF). Two shuffles total (agg for bounds, window), both on
    the key — co-partitioned, skew governed by days-per-key which is
    bounded by the calendar, not the data. The standard prep for
    as-of features and charting on irregular event data."""
    bounds = df.groupBy(key_col).agg(
        F.min(day_col).alias("__d0"), F.max(day_col).alias("__d1")
    )
    spine = bounds.select(
        key_col,
        F.explode(
            F.sequence(F.col("__d0"), F.col("__d1"), F.expr("interval 1 day"))
        ).alias(day_col),
    )
    joined = spine.join(df, on=[key_col, day_col], how="left")
    w = (
        Window.partitionBy(key_col)
        .orderBy(day_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.withColumns(
        {
            locf_col: F.last(value_col, ignorenulls=True).over(w),
            gap_col: F.col(value_col).isNull(),
        }
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    lower: float = 0.05,
    upper: float = 0.95,
) -> DataFrame:
    """Per-group winsorization: clip ``value_col`` to its group's
    [lower, upper] exact interpolated percentiles (outlier-robust
    feature scaling). Two-pass plan: one small per-group percentile agg
    (broadcast back) + a map-only clip — never a window over the full
    table, so the fact side is scanned once and shuffles only for the
    tiny agg. Adds ``<value_col>_w``."""
    pcts = df.groupBy(*group_cols).agg(
        F.percentile(value_col, F.lit(lower)).alias("__lo"),
        F.percentile(value_col, F.lit(upper)).alias("__hi"),
    )
    clipped = F.least(F.greatest(F.col(value_col), F.col("__lo")), F.col("__hi"))
    return (
        df.join(F.broadcast(pcts), list(group_cols))
        .withColumn(f"{value_col}_w", clipped)
        .drop("__lo", "__hi")
    )


def scd2_from_changelog(
    df: DataFrame,
    key: str,
    value: str,
    ts: str,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Build a type-2 slowly-changing dimension from a change log: one
    row per (key, value RUN), with [effective_from, effective_to) validity
    and an is_current flag — the warehouse-history pattern (Kimball SCD2)
    the reference's single-snapshot tables can't express.

    Two window passes over the SAME (key × time) partitioning — Catalyst
    plans ONE shuffle, both windows reuse it:
    1. change-point detection: keep rows where value != lag(value)
       (first row of each run);
    2. validity: effective_to = lead(effective_from) over the surviving
       change points; NULL effective_to = current row.
    Deterministic under duplicate timestamps via ``tiebreak`` columns.
    """
    order = [F.col(ts), *[F.col(c) for c in tiebreak]]
    w = Window.partitionBy(key).orderBy(*order)
    changed = (
        df.withColumn("__prev", F.lag(value).over(w))
        .filter(
            F.col("__prev").isNull() | (F.col(value) != F.col("__prev"))
        )
        .drop("__prev")
    )
    w2 = Window.partitionBy(key).orderBy(*order)
    return (
        changed.withColumn("effective_from", F.col(ts))
        .withColumn("effective_to", F.lead(ts).over(w2))
        .withColumn("is_current", F.col("effective_to").isNull())
    )


def snapshot_diff(
    a: DataFrame,
    b: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """Key-level diff of two table snapshots — the CDC shape (what
    changed between yesterday's and today's load): full-outer join on
    the keys, rows classified added / removed / changed / same.

    Output: keys + ``<col>_a``/``<col>_b`` per compared column +
    change_type. NULL-safe comparison (eqNullSafe) so a NULL→value
    transition counts as changed, not same. One shuffle per side on the
    keys; at 100 TB both snapshots bucket on the keys and the join is
    exchange-free."""
    ka = a.select(
        *keys, *[F.col(c).alias(f"{c}_a") for c in compare_cols]
    ).withColumn("__in_a", F.lit(True))
    kb = b.select(
        *keys, *[F.col(c).alias(f"{c}_b") for c in compare_cols]
    ).withColumn("__in_b", F.lit(True))
    j = ka.join(kb, list(keys), "full_outer")
    same = reduce(
        lambda x, y: x & y,
        [
            F.col(f"{c}_a").eqNullSafe(F.col(f"{c}_b"))
            for c in compare_cols
        ],
    )
    change = (
        F.when(F.col("__in_a").isNull(), F.lit("added"))
        .when(F.col("__in_b").isNull(), F.lit("removed"))
        .when(same, F.lit("same"))
        .otherwise(F.lit("changed"))
    )
    return j.withColumn("change_type", change).drop("__in_a", "__in_b")


def cooccurrence_pairs(
    df: DataFrame,
    basket: str,
    item: str,
    min_count: int = 2,
) -> DataFrame:
    """Market-basket pair co-occurrence: distinct (basket, item) rows →
    self-join within basket with ``item_a < item_b`` → pair support
    counts ≥ min_count. Output (item_a, item_b, n_baskets).

    The self-join is keyed on the basket id, so cost is Σ_b |items_b|²
    — bounded by the per-basket item count (small and structural: a
    purchase order has a handful of distinct brands), never by table
    size. The classic FP-growth candidate-pair step expressed as plain
    relational algebra; at 100 TB the distinct() pre-shrink is what
    keeps the shuffle proportional to unique pairs, not line items."""
    items = df.select(
        F.col(basket).alias("b"), F.col(item).alias("i")
    ).distinct()
    a = items.alias("a")
    c = items.alias("c")
    return (
        a.join(c, (F.col("a.b") == F.col("c.b")) & (F.col("a.i") < F.col("c.i")))
        .groupBy(F.col("a.i").alias("item_a"), F.col("c.i").alias("item_b"))
        .agg(F.count(F.lit(1)).alias("n_baskets"))
        .filter(F.col("n_baskets") >= min_count)
    )


def rolling_zscore_anomalies(
    df: DataFrame,
    key: str,
    order: Sequence[str],
    value,
    lookback: int = 8,
    min_points: int = 5,
    z_threshold: float = 2.5,
) -> DataFrame:
    """Per-key rolling z-score outliers: each point scored against the
    trailing ``lookback`` points (excluding itself), flagged when
    |z| > threshold. One window shuffle keyed on ``key``.

    Cross-engine determinism: ``value`` must be an INTEGER column
    (scaled cents/basis points) — the window then accumulates exact
    integer Σv and Σv², and mean/variance/z are derived in IEEE double
    from identical operands, so the float result is bit-identical in
    any engine and the threshold cannot flip on summation order."""
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(-lookback, -1)
    )
    v = F.col(value) if isinstance(value, str) else value
    s = F.sum(v).over(w)
    ss = F.sum(v * v).over(w)
    n = F.count(F.lit(1)).over(w)
    mean = s.cast("double") / n
    var = (ss - s.cast("double") * s / n) / (n - 1)
    # Guard BEFORE dividing: the first row of every partition has an
    # empty frame (n=0) and ANSI mode (engine default) turns s/n into a
    # DIVIDE_BY_ZERO error, not a NULL. The conditional keeps the
    # division unevaluated for short frames.
    z = F.when((n >= min_points) & (var > 0), (v - mean) / F.sqrt(var))
    return df.withColumn("z", z).filter(F.abs(F.col("z")) > z_threshold)


def column_profile(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """One-pass per-column data profile: nulls, exact distinct count,
    min/max (rendered as DECIMAL(18,2) strings for numerics so the
    display form is engine-portable). Output one row per column:
    (col_name, n_nulls, n_distinct, min_val, max_val).

    Single aggregation job over all columns at once — the engine's
    answer to the reference's per-column profiling loop
    (Preprocessing.py:43-46, one full scan per column). The exact
    multi-DISTINCT expands to a grouping-set plan; the HLL sketch path
    (sketch_distinct_customers) is the 100 TB dashboard variant."""

    def _fmt(c: str):
        t = dict(df.dtypes)[c]
        col = F.col(c)
        if t in ("double", "float") or t.startswith("decimal"):
            return lambda agg: agg(col).cast("decimal(18,2)").cast("string")
        return lambda agg: agg(col).cast("string")

    aggs = []
    for c in cols:
        fmt = _fmt(c)
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            fmt(F.min).alias(f"{c}__min"),
            fmt(F.max).alias(f"{c}__max"),
        ]
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max" for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(col_name, n_nulls, n_distinct, min_val, max_val)"
    )


def interpolate_time_gaps(
    df: DataFrame,
    key_col: str,
    day_col: str,
    value_col: str,
    out_col: str = "interp_value",
    gap_col: str = "is_gap",
) -> DataFrame:
    """Sparse→dense time series with LINEAR interpolation (the
    fill_time_gaps twin for signals where holding the last value flat
    is wrong — sensor readings, balances, rates): per-key daily spine,
    then each gap day gets prev + (next−prev)·pos/span from the
    bracketing observations. Edge gaps (no prev / no next) fall back to
    the single available side; the spine is bounded by each key's
    observed min/max day, so interior gaps always have both ends.

    Same two key-partitioned shuffles as fill_time_gaps (bounds agg +
    window); both direction-scans share one sort. Division is exact-int
    day counts over rounded inputs — deterministic cross-engine."""
    bounds = df.groupBy(key_col).agg(
        F.min(day_col).alias("__d0"), F.max(day_col).alias("__d1")
    )
    spine = bounds.select(
        key_col,
        F.explode(
            F.sequence(F.col("__d0"), F.col("__d1"), F.expr("interval 1 day"))
        ).alias(day_col),
    )
    joined = spine.join(df, on=[key_col, day_col], how="left")
    wb = (
        Window.partitionBy(key_col)
        .orderBy(day_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy(key_col)
        .orderBy(day_col)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    known_day = F.when(F.col(value_col).isNotNull(), F.col(day_col))
    prev_v = F.last(value_col, ignorenulls=True).over(wb)
    prev_d = F.last(known_day, ignorenulls=True).over(wb)
    next_v = F.first(value_col, ignorenulls=True).over(wf)
    next_d = F.first(known_day, ignorenulls=True).over(wf)
    pos = F.datediff(F.col(day_col), prev_d)
    span = F.datediff(next_d, prev_d)
    interp = (
        F.when(F.col(value_col).isNotNull(), F.col(value_col))
        .when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        # UNROUNDED on purpose: prev/next are already-rounded doubles and
        # pos/span exact ints, so the IEEE result is bit-identical in any
        # engine — while rounding would CREATE cross-engine ties (a 1/2
        # interpolation of 4-dp inputs lands exactly on the .xxxx5
        # midpoint, where HALF_UP vs float-representation luck diverges).
        .otherwise(prev_v + (next_v - prev_v) * pos / span)
    )
    return joined.withColumns(
        {out_col: interp, gap_col: F.col(value_col).isNull()}
    )


def _range_partitioned_with_pid(
    df: DataFrame, cols: Sequence[Column], n: int
) -> DataFrame:
    """LAZY range-partitioned frame with its partition id stamped as
    __pid — split out of global_rank so plan tests can assert the
    rangepartitioning exchange directly (global_rank eagerly
    checkpoints this frame, which truncates lineage and hides the
    exchange from the final plan).

    The input-double-execution concern (RangePartitioner samples its
    bounds in a separate job over the child plan, so a lazy input's
    lineage runs twice — once for the sample, once for the shuffle) is
    handled in ``_materialized_range_partitioned``, which keeps the
    input lazy — see its docstring. r13-opt instead
    unconditionally ``localCheckpoint``-ed the input here, which added
    a whole extra materialization job per call, ran Spark jobs at
    plan-construction time (breaking the analysis-only contract of
    plan capture), and leaked session-lifetime checkpoint blocks — the
    driver bench measured customer_revenue_global_rank 0.835→1.325 s
    for it (PERF_r13); reverted r14."""
    return df.repartitionByRange(n, *cols).withColumn(
        "__pid", F.spark_partition_id()
    )


def _materialized_range_partitioned(
    df: DataFrame, cols: Sequence[Column], n: int
) -> DataFrame:
    """Eagerly materialized range-partitioned frame with __pid — the
    shared entry of global_rank / global_cumsum / global_cummax.

    The output ``localCheckpoint`` freezes the sampled range boundaries
    in stored data so the counts pass and the value pass provably see
    the same partitioning (two separate executions could legally
    re-sample different bounds — see global_rank's docstring for the
    cluster caveats).

    The INPUT stays lazy, so RangePartitioner's bounds-sampling job
    re-runs the input lineage: one extra pass over the rollup's fact
    scan. Checkpointing the input first (r13) would sample a stored
    frame instead, but costs a whole materialization job per call,
    leaks session-lifetime checkpoint blocks, runs Spark jobs at
    plan-construction time, and lost on the driver bench
    (customer_revenue_global_rank 0.835→1.325 s, PERF_r13). An
    input-``persist`` measured even worse here (+1.0 s): cached
    subplans execute without AQE partition coalescing, so the rollup
    materializes at full shuffle-partition width."""
    return _range_partitioned_with_pid(df, cols, n).localCheckpoint(
        eager=True
    )


def global_rank(
    df: DataFrame,
    order_cols: Sequence[Column | str],
    out_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed global row_number over a TOTAL order — the scale path
    for partition-less ranking windows.

    ``row_number() OVER (ORDER BY ...)`` plans as a single-partition
    WindowExec: every row moves to one task (Spark even warns). This
    produces IDENTICAL ranks with full parallelism:

    1. ``repartitionByRange(order_cols)`` — one shuffle; partition i
       holds a contiguous key range, ranges ordered by partition id.
    2. per-partition local row_number (Window PARTITIONED BY the range
       partition id — parallel, no single-task sort; the window's
       ``partitionBy(__pid)`` does add one hash exchange on __pid, so
       the full plan is range-exchange + pid-hash-exchange — what it
       avoids is the single-partition global sort, not all shuffling).
    3. exact prefix offsets from per-partition counts — a bounded
       driver collect (≤ num_partitions rows), mapped back as a
       literal map lookup on __pid.

    Requires ``order_cols`` to be a TOTAL order (append a unique
    tiebreak): with ties straddling a range boundary the local+offset
    rank would depend on placement. The partitioned frame is
    materialized ONCE via an eager ``localCheckpoint`` so the counts
    pass and the rank pass provably see the same range boundaries
    (RangePartitioner samples its bounds; two separate evaluations could
    legally re-sample) — checkpointing rather than ``persist()`` both
    freezes the boundaries in stored data (lineage is truncated, a
    recompute is impossible) and avoids leaking a session-lifetime
    cache entry per call (checkpoint blocks are GC-reclaimed with the
    DataFrame; a persist() here would need the CALLER to unpersist).
    Cluster caveat: because lineage is truncated, losing an executor
    that holds checkpoint blocks makes the job unrecoverable, and
    localCheckpoint is unsafe under dynamic allocation (executors may
    be decommissioned with the only copy). On a real 100 TB cluster,
    point ``spark.sparkContext.setCheckpointDir`` at reliable storage
    and use ``checkpoint()``, or materialize the partitioned frame to a
    table; the algorithm is unchanged.

    The global-window form stays correct for SMALL ranked sets (a few
    thousand group rollups); this operator is for ranking entity-level
    frames (customers, documents) that at 100 TB are 1e8+ rows.
    """
    return _global_rank_with_total(df, order_cols, out_col, num_partitions)[0]


def _global_rank_with_total(
    df: DataFrame,
    order_cols: Sequence[Column | str],
    out_col: str,
    num_partitions: int | None,
) -> tuple[DataFrame, int]:
    """global_rank plus the frame's total row count — the count falls out
    of the per-partition sizes pass for free, and global_ntile needs it
    (a separate df.count() would re-run the input's whole lineage)."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    n = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"
    )
    part = _materialized_range_partitioned(df, cols, int(n))
    sizes = {
        r["__pid"]: r["cnt"]
        for r in part.groupBy("__pid").agg(
            F.count(F.lit(1)).alias("cnt")
        ).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    off_expr = F.element_at(
        F.create_map(
            *[F.lit(x) for pid in sorted(offsets) for x in (pid, offsets[pid])]
        ),
        F.col("__pid"),
    ) if offsets else F.lit(0)
    w = Window.partitionBy("__pid").orderBy(*cols)
    ranked = (
        part.withColumn(
            out_col, (F.row_number().over(w) + off_expr).cast("long")
        )
        .drop("__pid")
    )
    return ranked, acc


def global_ntile(
    df: DataFrame,
    order_cols: Sequence[Column | str],
    k: int,
    out_col: str = "ntile",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed ntile(k) over a TOTAL order — ``ntile(k) OVER
    (ORDER BY ...)`` without the single-partition WindowExec, for
    entity-level frames (customers, documents) that are 1e8+ rows at
    100 TB (VERDICT r4: the RFM/Lorenz global quintile windows were the
    repo's last unbounded-frame sorts).

    Tile from rank by the exact SQL NTILE rule — with n rows the first
    n mod k tiles hold ceil(n/k) rows, the rest floor(n/k); identical to
    Spark's and DuckDB's NTILE for every n, k (the folklore
    ceil(rank·k/n) shortcut disagrees whenever k ∤ n). Rank and the
    total-count scalar both come from one global_rank pass (the count
    is the sum of the per-partition sizes it already collects); ranks
    stay < 2^53 so the double-division ceil is exact. Same total-order
    requirement as global_rank: append a unique tiebreak."""
    ranked, total = _global_rank_with_total(
        df, order_cols, "__gnt_rank", num_partitions
    )
    q, rem = divmod(total, k)
    cut = rem * (q + 1)
    r = F.col("__gnt_rank")

    def ceil_div(x: Column, b: int) -> Column:
        return (F.floor((x - 1) / F.lit(b)) + 1).cast("int")

    if q == 0:
        # n < k: every row is its own tile (rank itself)
        tile = r.cast("int")
    else:
        tile = F.when(r <= cut, ceil_div(r, q + 1)).otherwise(
            F.lit(rem) + ceil_div(r - cut, q)
        )
    return ranked.withColumn(out_col, tile).drop("__gnt_rank")


def global_cumsum(
    df: DataFrame,
    order_cols: Sequence[Column | str],
    weight_col: str | Sequence[str],
    out_col: str | Sequence[str] = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed INCLUSIVE prefix sum of an integer weight over a
    TOTAL order — ``sum(w) OVER (ORDER BY ... ROWS UNBOUNDED
    PRECEDING)`` without the single-partition WindowExec. The weighted
    generalization of global_rank (global_rank ≡ global_cumsum with
    w=1): range partition (one shuffle), per-partition running sum
    (parallel window keyed on the range pid), exact per-partition
    weight totals collected (≤ num_partitions rows, long arithmetic)
    and added back as prefix offsets.

    The natural consumer is a VALUE HISTOGRAM (value, count): rank
    statistics of an n-row column reduce to prefix sums over its d ≤ n
    distinct values — average tie rank = cum − cnt + (cnt+1)/2 — so an
    exact Spearman/CDF pass shuffles d histogram rows instead of
    sorting n raw rows on one reducer. Same total-order and
    localCheckpoint caveats as global_rank (see its docstring);
    ``weight_col`` must be integral (counts) — totals accumulate in
    exact long arithmetic, and a null weight is treated as 0.

    Multiple weights prefix-sum in ONE pass when ``weight_col`` (and
    correspondingly ``out_col``) is a sequence — one range shuffle, one
    checkpoint, one sizes collect and one ranked projection shared by
    all of them (the two-sided CDF shape: a KS statistic needs cum
    counts of BOTH samples over the same value order).
    """
    weights = (
        [weight_col] if isinstance(weight_col, str) else list(weight_col)
    )
    outs = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(weights) != len(outs):
        raise ValueError(
            f"{len(weights)} weight cols but {len(outs)} out cols"
        )
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    n = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"
    )
    part = _materialized_range_partitioned(df, cols, int(n))
    totals_rows = (
        part.groupBy("__pid")
        .agg(
            *[
                F.sum(F.col(wc).cast("long")).alias(f"__w{i}")
                for i, wc in enumerate(weights)
            ]
        )
        .collect()
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = part
    for i, (wc, oc) in enumerate(zip(weights, outs)):
        totals = {r["__pid"]: r[f"__w{i}"] or 0 for r in totals_rows}
        offsets, acc = {}, 0
        for pid in sorted(totals):
            offsets[pid] = acc
            acc += totals[pid]
        off_expr = (
            F.element_at(
                F.create_map(
                    *[
                        F.lit(x)
                        for pid in sorted(offsets)
                        for x in (pid, offsets[pid])
                    ]
                ),
                F.col("__pid"),
            )
            if offsets
            else F.lit(0)
        )
        running = F.sum(F.coalesce(F.col(wc), F.lit(0)).cast("long"))
        out = out.withColumn(
            oc, (running.over(w) + off_expr).cast("long")
        )
    return out.drop("__pid")


def global_cummax(
    df: DataFrame,
    order_cols: Sequence[Column | str],
    value_col: str,
    out_col: str = "cummax",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed INCLUSIVE running max of a long column over a TOTAL
    order — ``max(v) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)``
    without the single-partition WindowExec. Max is associative exactly
    like sum, so the global_cumsum mechanism carries over unchanged
    (VERDICT r5 #7 — the event-lateness high-water mark was the last
    global running window): range partition (one shuffle), parallel
    per-partition running max, per-partition MAXES collected (≤
    num_partitions rows) and folded into prefix maxes merged back by
    ``greatest``. Bit-identical to the window form — max has no
    accumulation-order sensitivity at all, so unlike the float-sum
    cases there isn't even a rounding caveat.

    Same total-order and localCheckpoint caveats as global_rank;
    ``value_col`` must cast to long (timestamps via unix_micros). NULL
    values are ignored by max on both levels; rows before the first
    non-null value get a NULL running max, exactly as the window form
    does."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    n = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"
    )
    part = _materialized_range_partitioned(df, cols, int(n))
    maxes = {
        r["__pid"]: r["m"]
        for r in part.groupBy("__pid")
        .agg(F.max(F.col(value_col).cast("long")).alias("m"))
        .collect()
    }
    prefix: dict[int, int | None] = {}
    acc: int | None = None
    for pid in sorted(maxes):
        prefix[pid] = acc
        m = maxes[pid]
        if m is not None and (acc is None or m > acc):
            acc = m
    entries = [
        x
        for pid in sorted(prefix)
        if prefix[pid] is not None
        for x in (pid, prefix[pid])
    ]
    off_expr = (
        F.element_at(
            F.create_map(*[F.lit(x) for x in entries]), F.col("__pid")
        )
        if entries
        else F.lit(None).cast("long")
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.max(F.col(value_col).cast("long")).over(w)
    return part.withColumn(
        out_col, F.greatest(running, off_expr)
    ).drop("__pid")


def topk_per_group_combiner(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    k: int,
    ascending: bool = False,
    tiebreak: str | None = None,
) -> DataFrame:
    """Top-k per group with MAP-SIDE candidate pruning — the scale form
    of ``top_k_per_group`` when groups are FEW and rows are many.

    The window form shuffles EVERY row onto #groups reducer keys: with 5
    priorities over 6e9 lineitems that's 5 hot partitions sorting 1.2e9
    rows each. Here the exchange carries at most k·#map_partitions rows
    per group instead:

    1. ``sortWithinPartitions(group, order)`` — NO shuffle; a spillable
       in-partition sort making each group's rows contiguous and ordered.
    2. an Arrow-batched per-partition pruner (mapInPandas) walks the
       sorted stream and keeps the first k rows of each group — O(1)
       state (current group + its count), batch boundaries handled by
       carrying that state across batches of the same partition.
    3. the standard window top-k over the surviving ≤ k·P·G candidates —
       its exchange is now vanishingly small.

    A partition's non-top-k rows can never be in the global top-k, so
    the result is EXACTLY the window form's (asserted in tests and by a
    SQL window oracle). A naive groupBy(partition_id, group) +
    collect_list stage would NOT work: the partial aggregate's exchange
    ships the full lists — the pruning must happen before any exchange,
    which is what the sorted mapInPandas walk does.
    """
    assert order_col not in group_cols
    order = [F.asc(order_col) if ascending else F.desc(order_col)]
    if tiebreak is not None:
        order.append(F.asc(tiebreak))
    local = df.sortWithinPartitions(*[F.col(c) for c in group_cols], *order)
    gcols = list(group_cols)
    schema = local.schema

    def prune(batches):
        # Correctness contract: emit a SUPERSET of each group's first k
        # rows in the sorted stream (the window stage is exact, so
        # over-emitting is harmless; dropping a true top-k row is the
        # only bug). Vectorized per batch, O(1) carry state across
        # batches. NaN group keys compare unequal and so over-emit —
        # the safe direction.
        carry_key, carry_n = None, 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.reset_index(drop=True)
            keys = pdf[gcols]
            change = keys.ne(keys.shift()).any(axis=1)
            change.iloc[0] = True
            gid = change.cumsum()
            cnt = gid.groupby(gid).cumcount()
            if carry_key is not None and tuple(keys.iloc[0]) == carry_key:
                cnt = cnt + (gid == 1) * carry_n
            out = pdf[(cnt < k).values]
            last_gid = gid.iloc[-1]
            n_last = int((gid == last_gid).sum())
            if (
                carry_key is not None
                and last_gid == 1
                and tuple(keys.iloc[0]) == carry_key
            ):
                carry_n += n_last
            else:
                carry_n = n_last
            carry_key = tuple(keys.iloc[-1])
            if len(out):
                yield out

    candidates = local.mapInPandas(prune, schema)
    return top_k_per_group(
        candidates,
        gcols,
        order_col,
        k,
        ascending=ascending,
        tiebreak=tiebreak,
        keep_rank=True,
    )
