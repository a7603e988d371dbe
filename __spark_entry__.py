"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over chicago_crime_spark_ml_spark.queries — the engine's query
catalog, where every SURVEY.md §2 operator is registered with a matching
DuckDB oracle (or marked rows-only for non-SQL-expressible ops).
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from chicago_crime_spark_ml_spark.queries import ORACLE, QUERIES

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["flagship_regional_revenue"](spark, SMOKE_SF_DIR)


def _row_is_green(name: str, row: dict) -> bool:
    """A driver row counts as green at the strongest evidence class the
    query supports: hash_match for oracle-backed queries; rows-only
    queries (no ORACLE entry) can never hash-match, so their green signal
    is rows_match with no error."""
    if row.get("hash_match"):
        return True
    return (
        name not in ORACLE
        and bool(row.get("rows_match"))
        and row.get("err") is None
    )


def _previously_green() -> set[str]:
    """Query names with a green row in any prior CORRECTNESS_r*.json.

    The driver checks a bounded prefix of queries() per round; rotating
    already-verified names to the back means every round spends its budget
    on queries that have never had a driver correctness row."""
    green: set[str] = set()
    here = os.path.dirname(os.path.abspath(__file__))
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if isinstance(row, dict) and _row_is_green(name, row):
                green.add(name)
    return green


def _latest_reds() -> set[str]:
    """Names checked in the MOST RECENT round that did not hash-match —
    they were just fixed (or still need eyes) and should be re-checked
    first. Derived from the status files, never hardcoded (ADVICE r3:
    a hardcoded priority snapshot silently goes stale)."""
    here = os.path.dirname(os.path.abspath(__file__))
    files = sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json")))
    if not files:
        return set()
    try:
        with open(files[-1]) as f:
            rows = json.load(f)
    except (OSError, ValueError):
        return set()
    return {
        n
        for n, r in rows.items()
        if isinstance(r, dict) and not _row_is_green(n, r)
    }


def _new_since_snapshot(catalog: dict) -> set[str]:
    """Names registered since the last round's catalog snapshot
    (tools/catalog_snapshot.json, regenerated per round by
    tools/update_catalog_snapshot.py) — brand-new queries with no
    driver row anywhere jump the queue."""
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "tools", "catalog_snapshot.json")) as f:
            snap = set(json.load(f)["names"])
    except (OSError, ValueError, KeyError):
        return set()
    return {n for n in catalog if n not in snap}


# Round-4 risk nudge: the float-heavy statistics tier sits past position
# ~50 in catalog order, so without a nudge it would only be
# driver-checked in the FINAL coverage round, leaving no round to fix a
# red. Names here are only boosted while never-green (greens self-demote
# to the back), so a stale entry costs nothing.
_STATS_TIER_NUDGE = [
    "benford_first_digit_audit",
    "daily_revenue_autocorr",
    "ab_value_ztest",
    "order_value_psi_drift",
    "order_value_ks_two_sample",
    "revenue_cusum_changepoint",
    "daily_revenue_dow_anomalies",
    "repeat_purchase_survival_km",
    "token_zipf_slope",
    "doc_bigram_logprob",
    "monthly_revenue_theil_sen",
    "user_activity_burstiness",
    "source_unigram_jsd",
    "segment_survival_logrank",
    "ab_cuped_adjusted_ztest",
    "simpsons_paradox_check",
]

# Green queries whose ENGINE side was rewritten AFTER their last driver
# row: their existing rows certified the OLD implementation, so they
# outrank the other greens for re-certification when the driver's
# bounded budget reaches past the never-checked tier. Self-demoting:
# once re-checked green they sort with other greens in later rounds'
# evidence. REFRESHED per round (all 16 r8 names — the 2 guard/banding
# rewrites + 14 _doc_ids fan-outs — earned green r8 rows on the new
# impls and dropped off).
_REWRITTEN_GREENS = [
    # (the seven r13 build-prefix names — ivf_* and streaming_* certs —
    # earned green r13 rows on the new impls and dropped; the r13-opt /
    # r14 optimization-rewritten paths below have no driver row on the
    # code that now ships: VERDICT r13 #5 requires fronting them)
    # the embedding family moved onto one blocked-BLAS candidate core
    # and one probe/top-k path in operators/similarity.py (block build,
    # unit-row kernel, exact rescore, query literal, top-k tail, cell
    # ranking, k-means fit); the ivf_* certs run it too
    "ann_cosine_top10",
    "embedding_near_dup_pairs",
    "embedding_near_dup_delta",
    "embedding_dedup_incremental",
    "ann_quantized_top10",
    "ann_lsh_recall_check",
    "ann_ivf_recall_check",
    "ann_quantized_agreement_check",
    "embedding_blocked_exact_parity",
    "embedding_batch_topk",
    "als_topk_serving_agreement",
    "ivf_delta_assignment_check",
    "ivf_compaction_check",
    "ivf_compact_replace_check",
    "streaming_ivf_span_check",
    # the near-dup family moved onto one candidate core in
    # operators/dedup.py (occupancy guard, cell self-join, set-Jaccard
    # rescore); the minhash/ngram/video/delta names below run it too
    "minhash_lsh_recall_check",
    "near_dup_clusters",
    "near_dup_canonical_docs",
    "split_leakage_audit",
    "cluster_aware_split_assignment",
    "simhash_near_dups",
    "simhash_dedup_star_edges",
    "multimodal_image_near_dup_pairs",
    "multimodal_image_near_dup_clusters",
    "multimodal_audio_near_dup_pairs",
    "multimodal_audio_near_dup_clusters",
    "multimodal_video_near_dup_pairs",
    "multimodal_video_near_dup_clusters",
    "media_curation_funnel",
    "media_curation_funnel_multimodal",
    "dedup_documents_exact",
    # the certs moved onto the shared scratch-store / stream-replay /
    # frame-equality helpers in queries.py (the streaming_* and *_check
    # names below are certs too)
    "cc_labels_upsert_check",
    "cc_incremental_check",
    # the delta-index family moved onto one shared re-send classifier
    # and cell probe (operators/incremental.py) and one sink scaffold
    # (streaming/__init__.py); bm25_incremental_search and
    # tfidf_incremental_top_terms below run it too
    "streaming_cluster_maintenance_check",
    "text_dedup_incremental",
    "lsh_compact_replace_check",
    "video_dedup_incremental",
    "lexical_compact_replace_check",
    "streaming_lexical_ingest_check",
    "streaming_compaction_span_check",
    "streaming_lsh_span_check",
    "lsh_incremental_index_check",
    "frame_compact_replace_check",
    "streaming_frame_span_check",
    "dhash_incremental_index_check",
    "video_frame_incremental_index_check",
    "media_curation_funnel_incremental",
    # r13-opt kept in r14: shingle/minhash-band expression trees
    # generated as single SQL strings (dedup.py)
    "minhash_lsh_near_dups",
    "ngram_jaccard_near_dups",
    # r13-opt kept in r14: bm25 tokenizes once into a materialized
    # (id, term, tf) table (text.py)
    "bm25_search_top10",
    "bm25_incremental_search",
    # r14: count-over-window reverted to aggregate+join-back; the span
    # family also keeps the r13 SQL-string window-hash generation
    "doc_tfidf_top_terms",
    "tfidf_incremental_top_terms",
    "doc_duplicated_span_fraction",
    "doc_span_excision",
    "doc_span_excision_keep_first",
    "doc_span_excision_fixpoint",
    # r14: range-partitioned rank/cumsum family moved to
    # persist-around-materialization (relational.py) — every consumer
    # of _materialized_range_partitioned is rewritten code
    "customer_revenue_global_rank",
    "corpus_shard_assignment",
    "customer_rfm_segments",
    "customer_revenue_gini",
    "revenue_lorenz_points",
    "spearman_qty_price",
    "order_value_ks_two_sample",
    "event_lateness_profile",
    # r14: left-deep filters-first join chain
    "nations_trade_volume",
]


def _rotated(catalog: dict) -> dict:
    """Never-green first. Within never-green: last round's reds (just
    fixed — re-verify), then queries new since the last catalog
    snapshot, then the stats-tier risk nudge, then oracle-backed before
    rows-only (a driver slot spent on an oracle-backed query yields a
    hash row, the strongest evidence class). Greens rotate to the back."""
    from chicago_crime_spark_ml_spark.queries import ORACLE

    green = _previously_green()
    reds = _latest_reds()
    new = _new_since_snapshot(catalog)
    nudge = {n: i for i, n in enumerate(_STATS_TIER_NUDGE)}

    rewritten = {n: i for i, n in enumerate(_REWRITTEN_GREENS)}

    def tier(k: str) -> tuple[int, int]:
        if k in green:
            return (5, rewritten.get(k, len(_REWRITTEN_GREENS)))
        if k in reds:
            return (0, 0)
        if k in new:
            return (1, 0)
        if k in nudge:
            return (2, nudge[k])
        return (3, 0) if k in ORACLE else (4, 0)

    return {
        k: catalog[k]
        for k in sorted(catalog, key=tier)
    }


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2,
    never-driver-verified entries first."""
    return _rotated(dict(QUERIES))


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each oracle-checkable query."""
    return _rotated(dict(ORACLE))


if __name__ == "__main__":
    from chicago_crime_spark_ml_spark import get_spark

    spark = get_spark("entry-smoke")
    df = entry(spark)
    df.show(10, truncate=False)
    print(f"{len(QUERIES)} queries, {len(ORACLE)} with oracles")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", SMOKE_SF_DIR)
    for name, fn in QUERIES.items():
        n = fn(spark, sf).count()
        print(f"  {name}: {n} rows")
