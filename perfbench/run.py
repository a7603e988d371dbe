"""Benchmark entry point: one Spark process per workload run.

    python3 perfbench/run.py --workload crime_ml --seed 1 --seconds 10 --trace 0

Runs from any working directory; the repository is the parent of this
file's directory. The run starts ``local[<cpus>]`` (the cores this
process may use), stages the workload's seeded inputs under
``.perfbench_work/`` in the repository (removed at exit), and runs
timed passes from one client thread in a closed loop: at least one,
and more while they fit in ``--seconds``. The first pass is cold, as
one batch submission of the job is, but for what the workload's set-up
warms (catalog_ingest drains its first micro-batches there); passes
are long enough that a run is usually that one pass. ``setup_s`` is
everything before it. Outputs are checked after the timed region.
The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.

Every time reported is wall time net of hypervisor steal
(``hostcpu.Window.net_s``): on a shared host the stolen share of a run
swings from a tenth to nearly a half, and the raw wall time with it.
The raw wall time and the stolen share of each pass go to stderr.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a
separate, instrumented run: it enables Spark's event log, traces the
cold pass and every other pass after it under spans and job groups,
and reports the per-layer metrics of the cold pass; the spans are
written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import time

import hostcpu

START = hostcpu.mark()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "chicago_crime_spark_ml_spark"
PASS_LIMIT_S = 90.0  # a pass slower than this counts as a failed operation

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("op_p50_ms", "ms")]
# Per-layer metrics; a layer a workload never calls reads 0.
PER_LAYER = [
    ("session.start_s", "s"),
    ("queries.build_s", "s"),
    ("queries.build_jobs", "count"),
    ("queries.schema_jobs", "count"),
    ("queries.checkpoint_jobs", "count"),
    ("catalyst.plan_s", "s"),
    ("catalyst.exchanges", "count"),
    ("spark.exec_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.sched_gap_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.executor_run_s", "s"),
    ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"),
    ("spark.task_skew", "ratio"),
    ("spark.spill_mb", "MB"),
    ("spark.gc_s", "s"),
    ("spark.failed_tasks", "count"),
    ("sources.scan_mb", "MB"),
    ("sources.scan_rows", "count"),
    ("sources.compact_s", "s"),
    ("streaming.trigger_ms", "ms"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.planning_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"),
    ("streaming.batch_jobs", "count"),
    ("streaming.first_batch_ms", "ms"),
    ("streaming.state_read_s", "s"),
    ("streaming.index_rows", "count"),
    ("streaming.pair_rows", "count"),
    ("streaming.retained_rdds", "count"),
    ("streaming.retained_block_mb", "MB"),
    ("cleaning.s", "s"),
    ("features.s", "s"),
    ("relational.s", "s"),
    ("ml.index_fit_s", "s"),
    ("ml.train_s", "s"),
    ("ml.train_jobs", "count"),
    ("ml.accuracy", "ratio"),
    ("serving.store_build_s", "s"),
    ("serving.save_s", "s"),
    ("serving.load_s", "s"),
    ("serving.predict_jobs", "count"),
    ("op_p90_ms", "ms"),
    ("op_samples", "count"),
    ("jvm.peak_rss_mb", "MB"),
    ("trace.overhead_s", "s"),
    ("host.steal_frac", "ratio"),
]


def median(xs) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    m = len(xs) // 2
    return float(xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2)


def quantile(xs, q: float) -> float:
    xs = sorted(xs)
    return float(xs[min(len(xs) - 1, int(q * len(xs)))]) if xs else 0.0


def prepare_env(work: str) -> None:
    """Point every scratch location of Spark and its Python workers into
    ``work`` and let the workers import the package from the repo."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")  # inputs are a few MB


def start_spark(work: str, traced: bool):
    from chicago_crime_spark_ml_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if traced:
        log_dir = os.path.join(work, "events")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        })
    return get_spark(f"perfbench-{os.getpid()}", extra_conf=conf)


def run_passes(wl, ctx, seconds: float, tracer=None) -> list[dict]:
    """Timed passes, at least one, until the next would overrun
    ``seconds``. The first pass of a run is its cold pass. With a tracer,
    passes alternate traced / untraced, at least three, so the trace
    overhead is read off two warm passes."""
    from spans import NullTracer

    outs: list[dict] = []
    t_run = time.perf_counter()
    while True:
        traced = tracer is not None and len(outs) % 2 == 0
        tr = tracer if traced else NullTracer()
        with hostcpu.Window() as w, tr.span("pass", "pass"):
            out = wl.run_pass(ctx, tr, traced)
        out["pass_s"] = w.net_s
        out["wall_s"] = w.wall_s
        out["host.steal_frac"] = 1.0 - w.share
        out["traced"] = traced
        if w.wall_s > PASS_LIMIT_S:
            ctx.fail(f"pass took {w.wall_s:.1f} s")
        if hasattr(wl, "check"):
            wl.check(ctx, out)
        outs.append(out)
        print(f"perfbench: pass {len(outs)} wall {w.wall_s:.3f} s, stolen "
              f"{1.0 - w.share:.3f}, net {w.net_s:.3f} s, ops ms "
              + " ".join(f"{x:.0f}" for x in out.get("ops", [])),
              file=sys.stderr, flush=True)
        typical = median(o["wall_s"] for o in outs)
        if time.perf_counter() - t_run + typical > seconds and (
            tracer is None or len(outs) >= 3
        ):
            return outs


def end_to_end(setup_s: float, outs: list[dict]) -> dict:
    ops = [x for o in outs for x in o["ops"]]
    return {
        "setup_s": setup_s,
        "pass_s": median(o["pass_s"] for o in outs),
        "op_p50_ms": median(ops),
    }


def per_layer(tracer, outs: list[dict], work: str, session_s: float,
              rss_mb: float, retained: tuple[int, float]) -> dict:
    """Per-layer metrics of the traced cold pass: what the pass measured
    itself plus what the event log attributes to its spans."""
    import spans

    log = spans.read_event_log(os.path.join(work, "events"))
    by_group = {tracer.group(s): s for s in tracer.spans}
    root = tracer.spans[0]  # the first traced pass is the run's cold pass
    out = outs[0]
    ids = spans.descendants(tracer.spans, root.sid)
    inside = [s for s in tracer.spans if s.sid in ids]
    lo, hi = root.start * 1e3, root.end * 1e3
    jobs = [j for j in log.jobs if lo <= j.submit_ms <= hi]

    def jobs_in(span_ok):
        return [
            j for j in jobs
            if (s := by_group.get(j.group)) is not None and s.sid in ids
            and span_ok(s)
        ]

    st = spans.job_stats(log, jobs)
    self_s = spans.self_times(inside)
    busy = spans.busy_ms(spans.task_intervals(log, jobs), int(lo), int(hi))
    build = jobs_in(lambda s: s.layer == "queries")
    per_batch: dict[int, int] = {}
    for j in jobs:
        if j.batch_id is not None:
            per_batch[j.batch_id] = per_batch.get(j.batch_id, 0) + 1
    predicts = [s for s in inside if s.name.startswith("predict_row.")]
    m = {k: 0.0 for k, _ in PER_LAYER}
    m.update({k: 0.0 for k in query_metrics()})
    m.update({k: v for k, v in out.items() if k in m})
    m.update({
        "session.start_s": session_s,
        "queries.build_s": self_s.get("queries", 0.0),
        "queries.build_jobs": len(build),
        "queries.schema_jobs": sum(j.kind == "parquet" for j in build),
        "queries.checkpoint_jobs": sum(j.kind == "localCheckpoint" for j in build),
        "catalyst.plan_s": self_s.get("catalyst", 0.0),
        "spark.exec_s": self_s.get("spark", 0.0),
        "spark.sched_gap_s": (hi - lo - busy) / 1e3,
        "sources.scan_mb": st["scan_mb"],
        "sources.scan_rows": st["scan_rows"],
        "streaming.batch_jobs": median(per_batch.values()),
        "streaming.retained_rdds": retained[0],
        "streaming.retained_block_mb": retained[1],
        "ml.train_jobs": len(jobs_in(lambda s: s.name == "train_multiclass")),
        "serving.predict_jobs": median(
            len(jobs_in(lambda s, p=p: s.sid == p.sid)) for p in predicts
        ),
        "op_p90_ms": quantile(out["ops"], 0.9),
        "op_samples": len(out["ops"]),
        "jvm.peak_rss_mb": rss_mb,
        "trace.overhead_s": median(o["pass_s"] for o in outs[2::2])
        - median(o["pass_s"] for o in outs[1::2]),
    })
    for k in ("jobs", "stages", "tasks", "failed_tasks", "executor_cpu_s",
              "executor_run_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
              "spill_mb", "task_skew"):
        m[f"spark.{k}"] = st[k]
    for s in inside:
        if s.layer in ("queries", "spark"):
            q, _, part = s.name.rpartition(".")
            m[f"q.{q}.{'build_s' if part == 'build' else 'exec_s'}"] += s.dur
    return m


def query_metrics() -> list[str]:
    from workloads import CATALOG

    return [f"q.{n}.{k}" for n in CATALOG for k in ("build_s", "exec_s")]


def retained_blocks(spark) -> tuple[int, float]:
    """RDDs still holding cached blocks, and their size, after a forced
    Python and JVM garbage collection."""
    gc.collect()
    spark._jvm.System.gc()
    time.sleep(0.5)
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    held = [i for i in infos if i.numCachedPartitions() > 0]
    size = sum(i.memSize() + i.diskSize() for i in held)
    return len(held), size / (1024.0 * 1024.0)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        if gateway.proc is not None:
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def log_phase(name: str) -> None:
    print(f"perfbench: {name} done at {time.perf_counter() - START[0]:.1f} s",
          file=sys.stderr, flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    prepare_env(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        log_phase("session")
        ctx = workloads.Ctx(spark, work, args.seed)
        wl = workloads.WORKLOADS[args.workload]()
        wl.setup(ctx)
        setup_s = hostcpu.Window(start=START).stop().net_s
        log_phase("set-up")
        tracer = (
            spans.Tracer(f"{args.workload}-{args.seed}", spark.sparkContext)
            if args.trace else None
        )
        outs = run_passes(wl, ctx, args.seconds, tracer)
        if hasattr(wl, "finish"):
            wl.finish(ctx)
        log_phase("checks")
        if args.trace:
            retained = retained_blocks(spark) if wl.streams else (0, 0.0)
            rss = jvm_peak_rss_mb(spark)
            stop_spark(spark)  # flushes the event log
            spark = None
            metrics = per_layer(tracer, outs, work, session_s, rss, retained)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(
                out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
            units = dict(PER_LAYER)
        else:
            metrics = end_to_end(setup_s, outs)
            units = dict(END_TO_END)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    log_phase("stop")
    for f in ctx.failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(json.dumps({
        "correct": not ctx.failures,
        "attempted": ctx.attempted,
        "failed": len(ctx.failures),
        "metrics": {
            k: {"value": v, "unit": units.get(k, "s")} for k, v in metrics.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
