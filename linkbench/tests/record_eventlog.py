"""Record the small event log that ``test_linkbench.py`` replays.

    python3 linkbench/tests/record_eventlog.py

Runs a few tiny jobs under benchmark spans (one in a persist-style thread
pool, one with no span inside the window, one outside the window), then
keeps only the events and fields the parser reads. Each job's expected layer
is taken from a Spark job group set next to the span, so the fixture says
which layer every job must land in.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from linkbench.tracing import DESC_KEY, Tracer, instrumented  # noqa: E402

GROUP_KEY = "spark.jobGroup.id"
KEEP = {
    "SparkListenerJobStart": ("Job ID", "Submission Time", "Stage IDs", "Properties"),
    "SparkListenerJobEnd": ("Job ID", "Completion Time", "Job Result"),
    "SparkListenerStageSubmitted": ("Stage Info", "Properties"),
    "SparkListenerTaskEnd": ("Stage ID", "Stage Attempt ID", "Task End Reason", "Task Metrics"),
}
METRICS = ("Executor Run Time", "Executor CPU Time", "Shuffle Write Metrics", "Shuffle Read Metrics")


def _trim(e: dict) -> dict:
    out = {"Event": e["Event"], **{k: e[k] for k in KEEP[e["Event"]] if k in e}}
    if "Properties" in out:
        out["Properties"] = {k: v for k, v in out["Properties"].items() if k in (DESC_KEY, GROUP_KEY)}
    if "Stage Info" in out:
        out["Stage Info"] = {"Stage ID": out["Stage Info"]["Stage ID"]}
    if "Task Metrics" in out:
        out["Task Metrics"] = {k: out["Task Metrics"][k] for k in METRICS}
    return out


def main() -> None:
    from pyspark.sql import SparkSession

    events = tempfile.mkdtemp(prefix="lb_events_")
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{events}")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    tracer = Tracer(sc)

    def grouped(layer, fn):
        sc.setLocalProperty(GROUP_KEY, layer)
        try:
            return fn()
        finally:
            sc.setLocalProperty(GROUP_KEY, None)

    spark.range(10).count()  # before the window: ignored
    w0 = time.time()
    with instrumented(tracer), tracer.span("ingest", "process_batch"):
        grouped("ingest", lambda: spark.range(100).count())
        with tracer.span("assembly", "assemble_docs"):
            grouped("assembly", lambda: spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect())
        with ThreadPoolExecutor(max_workers=2) as pool:
            # a state call in a pool thread, and plain work the pool inherits
            f1 = pool.submit(lambda: grouped("state", lambda: tracer.wrap(lambda: spark.range(50).count(), "state", "upsert")()))
            f2 = pool.submit(lambda: grouped("ingest", lambda: spark.range(60).count()))
            f1.result()
            f2.result()
        prev = sc.getLocalProperty(DESC_KEY)
        sc.setLocalProperty(DESC_KEY, None)
        grouped("unattributed", lambda: spark.range(70).count())
        sc.setLocalProperty(DESC_KEY, prev)
    w1 = time.time()
    spark.range(10).count()  # after the window: ignored
    tracker = sc.statusTracker()
    expected = {str(j): g for g in ("ingest", "assembly", "state", "unattributed") for j in tracker.getJobIdsForGroup(g)}
    spark.stop()
    (path,) = glob.glob(os.path.join(events, "*"))
    with open(path) as f:
        kept = [_trim(e) for e in map(json.loads, f) if e["Event"] in KEEP]
    shutil.rmtree(events)
    spans = [{k: v for k, v in vars(s).items() if k != "counts"} for s in tracer.spans]
    with open(os.path.join(HERE, "data", "small_eventlog.json"), "w") as f:
        json.dump({"window": [w0, w1], "expected_layer": expected, "spans": spans, "events": kept}, f, indent=0)


if __name__ == "__main__":
    main()
