"""Oracle-differential tests — replicates the driver's correctness gate.

For every query in the catalog with an oracle, run the Spark DataFrame AND
the DuckDB SQL over the same parquet tables and compare row count, sorted
column names, and the driver's pandas value-hash.

Bit-faithful to the grading driver (round-2 lesson): both sides are
materialized exactly as the driver materializes them — Spark ``toPandas()``
(Arrow) and DuckDB ``.df()`` — and hashed with the same canonicalizer as
tools/driver_preflight.py. ``collect()``/``fetchall()`` would yield Python
ints on both sides and hide driver-visible dtype drift (DuckDB sum(CASE…)
returns HUGEINT → pandas float64 vs Spark int64: identical values, red
driver hash).

Default SF is sf0.01 — the driver's correctness scale. Set
ORACLE_SF_DIR=/root/testdata/sf0.001 for a quick pass while iterating.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from chicago_crime_spark_ml_spark.queries import ORACLE, QUERIES
from tools.driver_preflight import canon_hash

SF = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_oracle_match(spark, name):
    sdf = QUERIES[name](spark, SF)
    spdf = sdf.toPandas()

    con = duck_con()
    dpdf = con.execute(ORACLE[name]).df()
    con.close()

    assert sorted(spdf.columns) == sorted(dpdf.columns), (
        f"{name}: column mismatch {list(spdf.columns)} vs {list(dpdf.columns)}"
    )
    assert len(spdf) == len(dpdf), (
        f"{name}: row count {len(spdf)} vs {len(dpdf)}"
    )
    hs, hd = canon_hash(spdf), canon_hash(dpdf)
    if hs != hd:
        # hash differs — rebuild a readable first-difference for the report
        s = spdf.reindex(sorted(spdf.columns), axis=1)
        d = dpdf.reindex(sorted(dpdf.columns), axis=1)
        if len(s):
            s = s.sort_values(list(s.columns)).reset_index(drop=True)
            d = d.sort_values(list(d.columns)).reset_index(drop=True)
        detail = ""
        for i in range(len(s)):
            if canon_hash(s.iloc[[i]]) != canon_hash(d.iloc[[i]]):
                detail = (
                    f"first diff at sorted row {i}: "
                    f"spark={s.iloc[i].to_dict()} duck={d.iloc[i].to_dict()} "
                    f"(dtypes spark={dict(s.dtypes.astype(str))} "
                    f"duck={dict(d.dtypes.astype(str))})"
                )
                break
        raise AssertionError(f"{name}: driver value-hash mismatch. {detail}")


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLE)))
def test_rows_only_queries_execute(spark, name):
    # rows-only catalog entries (engine-specific: LSH, sampling, training,
    # stubbed codecs) must still run and return a sane frame — the same
    # weak check the driver applies
    df = QUERIES[name](spark, SF)
    assert len(df.columns) > 0
    assert df.count() >= 0


def test_query_bodies_raise_instead_of_assert():
    # an in-query ``assert`` vanishes under ``python -O``, so a cert
    # would pass the very store it exists to reject: every check must
    # raise explicitly — in the @query bodies and equally in the helpers
    # and closures they delegate their checks to
    import ast
    import inspect

    import chicago_crime_spark_ml_spark.queries as queries

    tree = ast.parse(inspect.getsource(queries))
    asserting = [
        fn.name
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef)
        and any(isinstance(node, ast.Assert) for node in ast.walk(fn))
    ]
    assert asserting == []


def test_span_run_stages_compacts_and_resumes_in_order(monkeypatch, tmp_path):
    # the span certs' maintenance window, pinned without Spark: b0 and b1
    # are drained before the first check, compaction sits between the
    # pre/post checks, and b2 resumes on the SAME checkpoint
    import chicago_crime_spark_ml_spark.queries as queries

    calls, ckpts = [], []
    monkeypatch.setattr(
        queries,
        "_stage_span_batch",
        lambda root, src, i, frame: calls.append(("stage", i, frame)),
    )
    monkeypatch.setattr(
        queries, "_replay_stream", lambda spark, src, schema: (src, schema)
    )
    monkeypatch.setattr(
        queries, "_drain_stream", lambda q: calls.append(("drain", q))
    )

    def start(stream, ckpt):
        ckpts.append(ckpt)
        return ("query", ckpt)

    queries._span_run(
        None,
        str(tmp_path),
        ("b0", "b1", "b2"),
        "doc_id BIGINT",
        start,
        lambda: calls.append(("compact",)),
        lambda label: calls.append(("check", label)),
    )
    assert len(ckpts) == 2 and ckpts[0] == ckpts[1]
    drain = ("drain", ("query", ckpts[0]))
    assert calls == [
        ("stage", 0, "b0"),
        ("stage", 1, "b1"),
        drain,
        ("check", "pre-compaction"),
        ("compact",),
        ("check", "post-compaction"),
        ("stage", 2, "b2"),
        drain,
        ("check", "post-resume"),
    ]


@pytest.mark.parametrize(
    "a, b, same",
    [
        ([1, 2, 3], [3, 1, 2], True),  # order does not matter
        ([1, 1, 2], [1, 2, 2], False),  # multiset, not set
        ([1, 2], [], False),
        ([], [], True),
    ],
)
def test_same_rows_is_multiset_equality(spark, a, b, same):
    from chicago_crime_spark_ml_spark.queries import _same_rows

    def frame(vals):
        return spark.createDataFrame([(v,) for v in vals], "v int")

    assert _same_rows(frame(a), frame(b)) is same
    assert _same_rows(frame(b), frame(a)) is same
