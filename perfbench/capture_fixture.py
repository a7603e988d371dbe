"""Regenerate ``fixtures/eventlog_sf0.001.jsonl``, the Spark event log the
span/event-log tests parse.

    python3 perfbench/capture_fixture.py

Runs three catalog queries at a generated sf0.001 under a ``Tracer``
(one span per build and per noop write), keeps only the event types the
parser reads, and writes the spans next to the log.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

QUERIES = ["top10_orders", "ngram_jaccard_near_dups", "pricing_summary"]
KEEP = {
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageSubmitted",
    "SparkListenerTaskEnd",
}  # the event types spans.parse_event_log reads


def main() -> None:
    from chicago_crime_spark_ml_spark.queries import QUERIES as CATALOG

    work = tempfile.mkdtemp(prefix="perfbench_fixture_", dir=os.path.dirname(HERE))
    try:
        run.prepare_env(work)
        spark = run.start_spark(work, traced=True)
        sf_dir = gen.write_star(7, 0.001, os.path.join(work, "sf0.001"))
        tracer = spans.Tracer("fixture", spark.sparkContext)
        with tracer.span("pass", "pass"):
            for name in QUERIES:
                with tracer.span(f"{name}.build", "queries"):
                    df = CATALOG[name](spark, sf_dir)
                with tracer.span(f"{name}.exec", "spark"):
                    df.write.format("noop").mode("overwrite").save()
        spark.stop()
        out = os.path.join(HERE, "fixtures")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, "eventlog_sf0.001.jsonl"), "w") as f:
            for path in spans.event_log_files(os.path.join(work, "events")):
                for line in open(path):
                    ev = json.loads(line)
                    if ev.get("Event") not in KEEP:
                        continue
                    if "Properties" in ev:  # keep only what attribution reads
                        ev["Properties"] = {
                            k: v for k, v in ev["Properties"].items()
                            if k in ("spark.jobGroup.id", "spark.job.description")
                        }
                    ev.pop("Task Executor Metrics", None)
                    ev.get("Task Info", {}).pop("Accumulables", None)
                    for info in ev.get("Stage Infos", []) + [ev.get("Stage Info", {})]:
                        for k in list(info):
                            if k not in ("Stage ID", "Stage Name"):
                                del info[k]
                    f.write(json.dumps(ev) + "\n")
        tracer.dump(os.path.join(out, "spans_sf0.001.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
