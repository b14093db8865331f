"""Repost-linkage benchmark: one workload, one seed, one run.

    python3 linkbench/run.py --workload batch_reposts --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Generated inputs are cached per (workload,
seed) under ``.linkbench/cache``; everything a run writes stays under
``.linkbench``. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones, and
the full trace (spans, jobs, per-layer event-log figures) is written to
``.linkbench/trace-<workload>-<seed>.json``. The exit code is 0 only when
every op succeeded and every correctness check held.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=("batch_reposts", "incremental_churn"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of peak RSS (VmHWM) of this process and all its descendants: the
    driver Python, the JVM and the Python workers."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    todo, total = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        total += _vm_hwm_kb(pid)
        todo.extend(children.get(pid, []))
    return total / 1024


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs, since
    boot: its growth during a run says how much of the run's slowness came
    from outside it."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.isfile(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(ROOT, ".git", ref[5:])
    if os.path.isfile(path):
        with open(path) as f:
            return f.read().strip()
    return None


def _source_sha256() -> str:
    """Digest of the program's source, for checkouts without git."""
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(ROOT, "repostcheckerbot_spark", "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def start_session(run_dir: str, trace: bool):
    from repostcheckerbot_spark.session import get_spark

    n = _nproc()
    tmp = os.path.join(run_dir, "tmp")
    # Spark prefers this variable to spark.local.dir; keep scratch in the run
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    conf = {
        # a fixed heap: its growth would otherwise make peak RSS vary run to run
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        # no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{events}",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(app_name="linkbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def host_info(spark) -> dict:
    return {
        "nproc": _nproc(),
        "spark": spark.version,
        "python": platform.python_version(),
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "commit": _commit(),
        "source_sha256": _source_sha256(),
    }


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    # fail before any output when the program is not in this checkout
    import repostcheckerbot_spark  # noqa: F401

    from linkbench import eventlog, inputs, layers, workloads

    state = os.path.join(ROOT, ".linkbench")
    run_dir = os.path.join(state, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # Python workers import the program's UDFs from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    cache = os.path.join(state, "cache")
    os.makedirs(cache, exist_ok=True)
    try:
        steal0 = steal_s()
        t0 = time.perf_counter()
        inp = inputs.load_or_build(args.workload, args.seed, cache)
        gen_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        spark = start_session(run_dir, bool(args.trace))
        session_s = time.perf_counter() - t0
        try:
            d = inputs.cache_dir(args.workload, args.seed, cache)
            run = workloads.Run(spark, inp, os.path.join(d, "transcripts.parquet"), os.path.join(d, "parts.parquet"), workloads.Expected(os.path.join(d, "expected.json")))
            if args.workload == "incremental_churn":
                spec = inputs.SIZES["incremental_churn"]
                setup = workloads.setup_churn(run, run_dir, spec["warm_up_ticks"])
                res = workloads.run_churn_workload(run, args.seconds, bool(args.trace), spec["warm_up_ticks"], spec["ticks_per_cycle"])
            else:
                setup = workloads.setup_batch(run)
                res = workloads.run_batch_workload(run, args.seconds, bool(args.trace))
            setup.update(session_s=session_s, generate_s=gen_s)
            rss = peak_rss_mb()
            stored = workloads.warehouse_size(run.pipe.wh.root) if run.pipe is not None else None
            info = {**host_info(spark), "steal_s": steal_s() - steal0}
        finally:
            stop_session(spark)

        failed = min(run.attempted, run.failed + sum(not ok for ok in run.checks.values()))
        correct = failed == 0 and run.attempted > 0
        out = {"workload": args.workload, "seed": args.seed, "host": info, "sizes": inp.sizes, "setup": setup, "result": res, "checks": run.checks, "pair_f1": run.f1}
        if args.trace:
            (log_path,) = glob.glob(os.path.join(run_dir, "events", "*"))
            metrics, details = layers.compute(eventlog.read(log_path), run, stored)
            with open(os.path.join(state, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({**out, "per_layer": metrics, **details}, f, indent=1, default=str)
            units = {n: u for n, u, _ in layers.PER_LAYER}
        else:
            metrics = {
                "setup_s": session_s + statistics.median(setup["load_s"]) + setup["warm_up_s"] + setup["seed_warehouse_s"],
                "op_p50_s": res["op_p50_s"],
                "turns_per_s": res["turns_per_s"],
                "pair_f1": run.f1.get("f1", 0.0),
                "peak_rss_mb": rss,
            }
            units = {"setup_s": "s", "op_p50_s": "s", "turns_per_s": "turns/s", "pair_f1": "ratio", "peak_rss_mb": "MB"}
        print(json.dumps(out, default=str))
        print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": failed, "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
