"""Incremental aggregate maintenance — merge a delta into a rollup
without rescanning the base table.

At 100 TB the difference between "recompute the daily-revenue rollup"
and "aggregate yesterday's partition and merge" is the whole batch
window: the delta path scans |delta| rows plus the rollup (which is
group-cardinality-sized, not fact-sized). This module provides the
merge for the mergeable-aggregate families:

- count / sum: add
- min / max: min / max
- avg: carried as (sum, count), finalized on read
- distinct-ish: use HLL sketches (queries.py sketch_distinct_customers
  shows the hll_sketch_agg/hll_union path) — NOT mergeable as plain
  counts, deliberately excluded here.

Sums that feed cross-engine comparison stay EXACT (decimal) until the
final read: merging *rounded* partials would not equal the rounded
full recompute. Same discipline as queries._dsum, which rounds only at
the output boundary.

The streaming twin is streaming/__init__.py's incremental rollup
(foreachBatch merge); this is the batch/backfill form of the same
contract: merged(MV, delta) == recompute(base ∪ delta).

The delta-INDEX family (lsh/dhash/frame/lexical_index_delta and the
streaming sinks over them) shares two decisions, kept here once:
which delta rows are re-sends (:func:`classify_resends`) and which
pairs a delta touches through shared band cells
(:func:`delta_cell_pairs`).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_MERGE_FN = {
    "sum": F.sum,
    "count": F.sum,  # partial counts merge by addition
    "min": F.min,
    "max": F.max,
}


def rollup_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    measures: dict[str, tuple[str, str]],
) -> DataFrame:
    """Build a mergeable rollup: ``measures`` maps output column →
    (input column, how) with how ∈ {sum, count, min, max}. Sum inputs
    are cast to DECIMAL(18,4) so partial sums are exact (associative)
    and therefore mergeable without drift."""
    aggs = []
    for out, (col, how) in measures.items():
        if how == "sum":
            aggs.append(F.sum(F.col(col).cast("decimal(18,4)")).alias(out))
        elif how == "count":
            aggs.append(F.count(col).alias(out))
        elif how in ("min", "max"):
            aggs.append(getattr(F, how)(col).alias(out))
        else:
            raise ValueError(f"unmergeable aggregate: {how}")
    return df.groupBy(*keys).agg(*aggs)


def merge_rollup(
    existing: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    measures: dict[str, tuple[str, str]],
) -> DataFrame:
    """Merge two rollups produced by ``rollup_aggregate`` with the same
    keys/measures. Full-outer on keys (new groups appear, old groups
    persist), per-measure merge by the aggregate's own monoid. The join
    is rollup-sized — group cardinality, not fact rows."""
    e = existing.alias("e")
    d = delta.alias("d")
    merged = e.join(d, on=list(keys), how="full_outer")
    cols = [F.col(k) for k in keys]
    for out, (_, how) in measures.items():
        a, b = F.col(f"e.{out}"), F.col(f"d.{out}")
        if how in ("sum", "count"):
            # Cast back to the partial's type (Spark's sum over
            # DECIMAL(18,4) yields DECIMAL(28,4)): decimal addition widens
            # precision per merge, which would change the schema on every
            # maintenance cycle.
            typ = "decimal(28,4)" if how == "sum" else "bigint"
            zero = F.lit(0)
            cols.append(
                (F.coalesce(a, zero) + F.coalesce(b, zero)).cast(typ).alias(out)
            )
        elif how == "min":
            cols.append(F.least(F.coalesce(a, b), F.coalesce(b, a)).alias(out))
        else:  # max
            cols.append(F.greatest(F.coalesce(a, b), F.coalesce(b, a)).alias(out))
    return merged.select(*cols)


def cascade_rollup(
    fine: DataFrame,
    regroup: dict[str, Column],
    measures: dict[str, tuple[str, str]],
) -> DataFrame:
    """Derive a COARSER rollup from a finer one (day → month → year —
    the continuous-aggregate cascade timeseries stores maintain): each
    mergeable partial re-aggregates by its own monoid (sum/count partials
    re-SUM, min/max re-min/max), so the monthly table reads ~30 day rows
    per group instead of re-scanning the fact table. ``regroup`` maps
    coarse key name → expression over the fine rollup's columns. Sum
    partials are cast back to DECIMAL(28,4) so the schema is identical
    at every level of the cascade (decimal addition would otherwise
    widen per level)."""
    aggs = []
    for out, (_, how) in measures.items():
        if how == "sum":
            aggs.append(F.sum(out).cast("decimal(28,4)").alias(out))
        elif how == "count":
            aggs.append(F.sum(out).cast("long").alias(out))
        else:
            aggs.append(getattr(F, how)(out).alias(out))
    base = fine.select(
        *[expr.alias(name) for name, expr in regroup.items()],
        *[F.col(out) for out in measures],
    )
    return base.groupBy(*regroup.keys()).agg(*aggs)


def classify_resends(
    stored: Sequence[DataFrame],
    delta: Sequence[DataFrame],
    id_col: str,
    count_check: bool = False,
) -> tuple[list[DataFrame], DataFrame]:
    """The replay/re-send decision of the delta-index family: which
    delta rows to append, and which re-sent ids changed content.

    ``stored[i]`` and ``delta[i]`` are the stored and the delta rows of
    one frame of an index (lexical: doclen then postings; everyone else
    one frame); rows compare on the delta frame's columns. An id of
    ``delta[0]`` that ``stored[0]`` already holds is a re-send, found by
    a broadcast semi-join against the bounded delta ids (one
    column-pruned index scan, no corpus shuffle). A re-send is CHANGED
    when any of its delta rows is missing from the same frame's stored
    rows (one anti-join per frame on the bounded re-sent slice) or,
    with ``count_check``, when its frame-0 row count differs from the
    stored one — for distinct rows, containment plus equal cardinality
    forces set equality, closing the strict-subset blind spot.

    Identical re-sends are dropped from every frame, so appending the
    result never accumulates duplicates under replays; new and changed
    ids are kept whole, so the append holds the new version complete
    for the latest-wins readers. Returns (rows to append per frame,
    changed ids) — the changed ids are exactly the ids that become
    multi-version on append (the sinks' ``_mv`` manifest). They are
    consumed twice (returned, and inside the append anti-join), so they
    are materialized here, once; the set is bounded by the re-sent
    ids."""
    delta_ids = delta[0].select(id_col).distinct()
    dup_ids = (
        stored[0]
        .select(id_col)
        .join(F.broadcast(delta_ids), id_col, "left_semi")
        .distinct()
    )
    resent = [d.join(F.broadcast(dup_ids), id_col, "left_semi") for d in delta]
    held = [s.join(F.broadcast(dup_ids), id_col, "left_semi") for s in stored]
    if count_check:
        for rows in (resent, held):
            rows.append(
                rows[0].groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
            )
    changed_ids = (
        reduce(
            DataFrame.unionByName,
            [
                r.join(h, r.columns, "left_anti").select(id_col)
                for r, h in zip(resent, held)
            ],
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    unchanged_dups = dup_ids.join(changed_ids, id_col, "left_anti")
    fresh = [
        d.join(F.broadcast(unchanged_dups), id_col, "left_anti") for d in delta
    ]
    return fresh, changed_ids


def delta_cell_pairs(
    index: DataFrame,
    fresh: DataFrame,
    delta: DataFrame,
    id_col: str,
    cell_cols: Sequence[str],
    max_bucket: int | None,
) -> DataFrame:
    """(id_a, id_b) candidates touching a delta: every (old,new) and
    (new,new) pair sharing ≥1 band cell — exactly the pairs a full
    rebuild would emit that involve a delta id. ALL delta rows probe
    index ∪ fresh, so re-sent ids pair exactly as on first arrival.
    ``max_bucket`` drops cells holding more than that many rows of
    index ∪ fresh from both sides (recall-only occupancy guard; counted
    over the same total corpus as a rebuild, so delta == rebuild even
    when it binds); hot cells are found by one map-side partial
    aggregate and broadcast. ``None`` disables the guard."""
    cells = list(cell_cols)
    probe = delta.select(*cells, F.col(id_col).alias("__new_id"))
    both = index.unionByName(fresh).select(
        *cells, F.col(id_col).alias("__any_id")
    )
    if max_bucket is not None:
        hot = (
            both.groupBy(*cells)
            .agg(F.count(F.lit(1)).alias("_occ"))
            .filter(F.col("_occ") > max_bucket)
            .select(*cells)
        )
        both = both.join(F.broadcast(hot), cells, "left_anti")
        probe = probe.join(F.broadcast(hot), cells, "left_anti")
    return (
        probe.join(both, cells)
        .filter(F.col("__new_id") != F.col("__any_id"))
        .select(
            F.least("__new_id", "__any_id").alias("id_a"),
            F.greatest("__new_id", "__any_id").alias("id_b"),
        )
        .distinct()
    )
