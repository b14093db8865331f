"""Per-layer metrics of a traced run, from the spans, the event log and the
counts recorded after each traced op.

Times and job counts are per traced op (a ``run_batch``, a tick or a purge),
so they compare with ``op_p50_s``. A layer's ``wall_s`` is the wall during
which its jobs ran (shared with concurrent jobs, see ``eventlog.timeline``);
``driver.gap_s`` is the wall during which no job ran. They add up to
``trace.wall_s``. Metrics of a layer that a workload never calls read 0.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

from linkbench import eventlog
from linkbench.tracing import exclusive_times

LAYERS = ("assembly", "blocking", "scoring", "clustering", "ingest", "state")
STATE_CALLS = ("read_pruned", "upsert", "append", "replace", "delete")

#: (name, unit, better) of every per-layer metric, in report order
PER_LAYER = [
    ("assembly.wall_s", "s", "lower"),
    ("assembly.task_cpu_s", "s", "lower"),
    ("assembly.shuffle_write_mb", "MB", "lower"),
    ("assembly.docs_out", "count", "higher"),
    ("blocking.wall_s", "s", "lower"),
    ("blocking.task_cpu_s", "s", "lower"),
    ("blocking.shuffle_write_mb", "MB", "lower"),
    ("blocking.candidate_pairs", "count", "lower"),
    ("blocking.capped_buckets", "count", "lower"),
    ("scoring.wall_s", "s", "lower"),
    ("scoring.pairs_scored", "count", "lower"),
    ("scoring.accept_ratio", "ratio", "higher"),
    ("scoring.jvm_cpu_share", "ratio", "higher"),
    ("scoring.task_skew", "ratio", "lower"),
    ("clustering.wall_s", "s", "lower"),
    ("clustering.edges_in", "count", "lower"),
    ("clustering.jobs", "count", "lower"),
    ("clustering.rounds", "count", "lower"),
    ("ingest.self_s", "s", "lower"),
    ("ingest.jobs_per_tick", "count", "lower"),
    ("ingest.new_edges", "count", "higher"),
    ("ingest.bucket_read_ratio", "ratio", "lower"),
    ("ingest.purge_s", "s", "lower"),
    *[(f"state.{c}_s", "s", "lower") for c in STATE_CALLS],
    *[(f"state.{c}.calls", "count", "lower") for c in STATE_CALLS],
    ("state.bytes_written_mb", "MB", "lower"),
    ("state.write_amp", "ratio", "lower"),
    ("state.bytes_stored_mb", "MB", "lower"),
    ("state.files", "count", "lower"),
    ("driver.gap_s", "s", "lower"),
    ("driver.jobs", "count", "lower"),
    ("trace.wall_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.unattributed_jobs", "count", "lower"),
]


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _cc_calls(spans) -> list[dict]:
    """Rounds and input edges of each connected_components call, from the
    metrics list the call filled."""
    calls = []
    for s in spans:
        rows = s.counts.get("cc")
        if rows is None:
            continue
        rounds = [r for r in rows if "iteration" in r]
        uf = [r for r in rows if r.get("mode") == "driver_union_find"]
        edges = rounds[0]["edges"] if rounds else (uf[0]["edges"] if uf else 0)
        calls.append({"rounds": len(rounds), "edges_in": edges})
    return calls


def _ingest_metrics(rows, windows) -> dict:
    """new_edges per tick and buckets read ÷ buckets total, from the
    ``_metrics`` rows that traced ticks recorded."""
    if rows is None or not len(rows):
        return {"new_edges": 0.0, "bucket_read_ratio": 0.0}
    inside = rows[[any(w0 <= t <= w1 for w0, w1 in windows) for t in rows["recorded_at"]]]
    new_edges = inside.loc[inside["stage"] == "ingest.new_edges", "rows_out"]
    read = total = 0
    for extra in inside["extra"]:
        e = json.loads(extra or "{}")
        if e.get("buckets_read") is not None and e.get("buckets_total"):
            read += e["buckets_read"]
            total += e["buckets_total"]
    return {"new_edges": _mean(new_edges), "bucket_read_ratio": read / total if total else 0.0}


def compute(log: eventlog.EventLog, run, stored: tuple[int, int] | None) -> tuple[dict, dict]:
    """(per-layer metrics, details for the trace file)."""
    spans = run.tracer.spans
    windows = [(w0, w1) for _, w0, w1 in run.op_windows]
    tick_windows = [(w0, w1) for k, w0, w1 in run.op_windows if k == "ingest:process_batch"]
    n_ops = max(1, len(windows))
    jobs = eventlog.jobs_in(log, windows)
    tl = eventlog.timeline(jobs, spans, windows)
    stats = eventlog.layer_stats(log, jobs)
    busy: dict[str, float] = defaultdict(float)
    for (layer, _), t in tl["busy"].items():
        busy[layer] += t
    st = lambda layer, key: stats.get(layer, {}).get(key, 0.0)  # noqa: E731
    counts = [c for c in run.counts if "docs_out" in c]
    ticks = [c for c in run.counts if "bytes_written" in c]
    cc = _cc_calls(s for s in spans if s.layer == "clustering")
    in_windows = [s for s in spans if any(w0 <= s.start < w1 for w0, w1 in windows)]
    pairs = _mean(c["pairs_scored"] for c in counts)
    m = {}
    for layer in ("assembly", "blocking", "scoring", "clustering"):
        m[f"{layer}.wall_s"] = busy[layer] / n_ops
    for layer in ("assembly", "blocking"):
        m[f"{layer}.task_cpu_s"] = st(layer, "cpu_s") / n_ops
        m[f"{layer}.shuffle_write_mb"] = st(layer, "shuffle_write_mb") / n_ops
    m["assembly.docs_out"] = _mean(c["docs_out"] for c in counts)
    m["blocking.candidate_pairs"] = _mean(c["candidate_pairs"] for c in counts)
    m["blocking.capped_buckets"] = _mean(c["capped_buckets"] for c in counts)
    m["scoring.pairs_scored"] = pairs
    m["scoring.accept_ratio"] = _mean(c["fuzzy_edges"] for c in counts) / pairs if pairs else 0.0
    m["scoring.jvm_cpu_share"] = st("scoring", "cpu_s") / st("scoring", "run_s") if st("scoring", "run_s") else 0.0
    m["scoring.task_skew"] = st("scoring", "task_skew")
    m["clustering.edges_in"] = _mean(c["edges_in"] for c in cc)
    m["clustering.jobs"] = st("clustering", "jobs") / n_ops
    m["clustering.rounds"] = _mean(c["rounds"] for c in cc)
    m["ingest.self_s"] = busy["ingest"] / n_ops
    m["ingest.jobs_per_tick"] = len(eventlog.jobs_in(log, tick_windows)) / len(tick_windows) if tick_windows else 0.0
    im = _ingest_metrics(run.metrics_rows, tick_windows)
    m["ingest.new_edges"] = im["new_edges"]
    m["ingest.bucket_read_ratio"] = im["bucket_read_ratio"]
    m["ingest.purge_s"] = statistics.median(run.walls["purge:traced"]) if run.walls.get("purge:traced") else 0.0
    for c in STATE_CALLS:
        m[f"state.{c}_s"] = tl["busy"].get(("state", c), 0.0) / n_ops
        m[f"state.{c}.calls"] = sum(s.layer == "state" and s.name == c for s in in_windows) / n_ops
    written = sum(t["bytes_written"] for t in ticks)
    m["state.bytes_written_mb"] = written / 1e6 / len(ticks) if ticks else 0.0
    m["state.write_amp"] = written / sum(t["input_bytes"] for t in ticks) if ticks else 0.0
    m["state.bytes_stored_mb"] = stored[0] / 1e6 if stored else 0.0
    m["state.files"] = stored[1] if stored else 0
    m["driver.gap_s"] = tl["gap_s"] / n_ops
    m["driver.jobs"] = len(jobs) / n_ops
    m["trace.wall_s"] = tl["wall_s"] / n_ops
    plain, traced = run.walls.get("tick:plain") or run.walls.get("plain"), run.walls.get("tick:traced") or run.walls.get("traced")
    m["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain) if plain and traced else 0.0
    m["trace.unattributed_jobs"] = sum(v["jobs"] for k, v in stats.items() if k not in LAYERS)
    span_self: dict[str, float] = defaultdict(float)
    by_id = {s.id: s for s in spans}
    for w0, w1 in windows:
        for sid, t in exclusive_times(spans, w0, w1).items():
            span_self[f"{by_id[sid].layer}.{by_id[sid].name}"] += t
    details = {
        "layers": stats,
        "span_self_s": dict(span_self),
        "busy_s": {f"{a}.{b}": t for (a, b), t in sorted(tl["busy"].items())},
        "driver_by_span_s": {f"{a}.{b}": t for (a, b), t in sorted(tl["idle"].items())},
        "windows": run.op_windows,
        "jobs": [vars(j) for j in sorted(jobs, key=lambda j: j.id)],
        "spans": [{k: v for k, v in vars(s).items() if k != "counts"} for s in spans],
        "counts": run.counts,
        "cc_calls": cc,
    }
    return m, details
