#!/usr/bin/env python3
"""Benchmark of gmail_etl_spark, one workload per invocation.

    python3 perfbench/run.py --workload gmail_daily --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout: the package is imported from
the directory above this file, and everything the run writes goes under
``.perfbench/`` there and is removed at exit (except the run record,
``.perfbench/runs/*.json``).  Spark runs on ``local[<usable cpus>]`` in
this one process.

A run generates the seeded inputs, sets up three times (session start
plus the workload's program-side set-up) and reports the median as
``setup_s``, warms up until the JIT has settled, then runs checked
ops back to back for ``--seconds`` (and at least the workload's
``min_ops``) and reports, with ``--trace 0``, every end-to-end metric.
With ``--trace 1`` it measures untraced ops for half the time, restarts
the session with an uncompressed event log, runs traced ops for the
other half plus the workload's staged form (one span per layer call on
materialized input), folds the event log and reports every per-layer
metric; a layer the workload does not reach reports 0.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it holds the host facts, input sizes and realized input shares.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
WORKLOAD_NAMES = ["gmail_daily", "near_dedup_batch"]

#: name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "items_per_s": ("1/s", "higher"),
    "op_p50_s": ("s", "lower"),
}

SPANS = [
    "session.get_spark",
    "pipeline.read_raw",
    "pipeline.dedup_against_ledger",
    "pipeline.transform_stage1",
    "pipeline.write_stage1_parquet",
    "pipeline.new_ledger_entries",
    "functions.html_to_text",
    "functions.fuzzy_parse_ts",
    "functions.extract_indeed",
    "dedup.minhash_lsh_pairs.build",
    "dedup.minhash_lsh_pairs.exec",
    "dedup.connected_components",
    "streaming.maintain_near_dup_index",
    "plans.relational",
    "plans.text",
    "plans.similarity",
]
_SPAN_FIELDS = {
    "wall_s": ("s", "lower"),
    "task_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "shuffle_bytes": ("bytes", "lower"),
    "jobs": ("count", "lower"),
}
_COUNTS = {
    "plans.relational.build_s": ("s", "lower"),
    "plans.relational.planning_s": ("s", "lower"),
    "plans.text.build_s": ("s", "lower"),
    "plans.text.planning_s": ("s", "lower"),
    "plans.similarity.build_s": ("s", "lower"),
    "plans.similarity.planning_s": ("s", "lower"),
    "pipeline.raw_rows": ("count", "higher"),
    "pipeline.ledger_drop_ratio": ("ratio", "higher"),
    "pipeline.stored_bytes_per_input_byte": ("ratio", "lower"),
    "functions.html_rows_ratio": ("ratio", "lower"),
    "functions.indeed_rows_ratio": ("ratio", "lower"),
    "functions.fuzzy_rows_ratio": ("ratio", "lower"),
    "dedup.pairs": ("count", "higher"),
    "dedup.clusters": ("count", "lower"),
    "dedup.pairs_per_doc": ("ratio", "higher"),
    "streaming.add_batch_ms": ("ms", "lower"),
    "streaming.query_planning_ms": ("ms", "lower"),
    "streaming.wal_commit_ms": ("ms", "lower"),
    "streaming.trigger_ms": ("ms", "lower"),
    "streaming.query_overhead_s": ("s", "lower"),
    "streaming.tick_p50_s": ("s", "lower"),
    "streaming.fold_tick_s": ("s", "lower"),
    "streaming.probe_candidates": ("count", "lower"),
    "streaming.probe_pruned_ratio": ("ratio", "higher"),
    "streaming.fold_bytes_rewritten": ("bytes", "lower"),
    "streaming.index_bytes": ("bytes", "lower"),
    "streaming.index_bytes_per_input_byte": ("ratio", "lower"),
    "trace.op.wall_s": ("s", "lower"),
    "trace.op.self_s": ("s", "lower"),
    "trace.op.jobs": ("count", "lower"),
    "trace.staged_over_op_p50": ("ratio", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
    "spark.failed_tasks": ("count", "lower"),
    "spark.peak_rss_mb": ("MB", "lower"),
}


def per_layer() -> dict[str, tuple[str, str]]:
    """Every per-layer metric: name -> (unit, better)."""
    out = {f"{s}.{f}": uf for s in SPANS for f, uf in _SPAN_FIELDS.items()}
    out.update(_COUNTS)
    return out


def usable_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``, and let the workers import the package from ROOT."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    tempfile.tempdir = None


def _forget_udf_bindings() -> None:
    """Drop the JVM function each of the package's Python UDFs caches on
    first use.  It holds the accumulator of the session it was created
    in, so after a session restart the UDF would report to a closed
    accumulator server (logged errors, no wrong results)."""
    from pyspark.sql.udf import UserDefinedFunction

    for name, mod in list(sys.modules.items()):
        if not name.startswith("gmail_etl_spark") or mod is None:
            continue
        for obj in vars(mod).values():
            udf = getattr(obj, "_unwrapped", obj)
            if isinstance(udf, UserDefinedFunction):
                udf._judf_placeholder = None


def start_spark(work: str, event_log_dir: str | None = None):
    from gmail_etl_spark.session import get_spark

    _forget_udf_bindings()
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", master=f"local[{usable_cpus()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop the SparkContext, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=60)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak RSS of the Spark JVM plus its live descendants (the Python
    worker daemon and workers), from /proc VmHWM."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, stack = 0, [proc.pid]
    while stack:
        pid = stack.pop()
        total += _vm_hwm_kb(pid)
        stack.extend(children.get(pid, []))
    return total / 1024.0


def _cpu_seconds() -> dict[str, float]:
    """Host CPU seconds so far, from /proc/stat: busy, idle and steal
    (time the hypervisor ran something else on this host's vCPUs)."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    return {
        "busy": (f[0] + f[1] + f[2] + f[5] + f[6]) / hz,
        "idle": (f[3] + f[4]) / hz,
        "steal": f[7] / hz,
    }


def measure(wl, spark, seconds: float, min_ops: int, tracer=None) -> list[dict]:
    """Checked ops back to back until ``seconds`` have passed and at
    least ``min_ops`` ops ran.  An op that raises or fails its check
    counts as failed; measuring goes on."""
    samples: list[dict] = []
    t_start = time.perf_counter()
    i = 0
    while True:
        dt, steal, ok = 0.0, 0.0, False
        try:
            wl.before_op(spark, i)
            with tracer.span("trace.plain_op") if tracer else nullcontext():
                steal = _cpu_seconds()["steal"]
                t0 = time.perf_counter()
                out = wl.op(spark, i)
                dt = time.perf_counter() - t0
                steal = _cpu_seconds()["steal"] - steal
            wl.check(spark, i, out)
            ok = True
        except Exception:  # a failed op is a result, not a crash
            traceback.print_exc(file=sys.stderr)
        samples.append({"i": i, "dt": dt, "steal": steal, "items": wl.items(i) if ok else 0, "ok": ok})
        i += 1
        if time.perf_counter() - t_start >= seconds and len(samples) >= min_ops:
            break
    return samples


def _p50(samples: list[dict]) -> float:
    return statistics.median(s["dt"] for s in samples)


def run(args, work: str, record: dict) -> dict:
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, warm_page_cache

    wl = WORKLOADS[args.workload](os.path.join(work, "data"), args.seed, args.scale)
    attempted = failed = 0
    setup_times: list[float] = []
    t_run = time.perf_counter()
    wl.generate()
    record["inputs"] = wl.info
    record["phase_s"] = {"generate": time.perf_counter() - t_run}
    spark = None
    get_spark_s = 0.0
    for rep in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_spark(work)
        if rep == 0:
            get_spark_s = time.perf_counter() - t0
        wl.setup(spark)
        setup_times.append(time.perf_counter() - t0)
    record["setup_reps_s"] = setup_times
    record["host"]["page_cache_warmed_bytes"] = warm_page_cache(wl.input_paths())

    attempted += 1
    try:
        wl.warmup(spark, first=True)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        failed += 1
    record["phase_s"]["warmup"] = time.perf_counter() - t_run
    wl.prepare_checks(spark)
    record["phase_s"]["checks"] = time.perf_counter() - t_run

    budget = args.seconds / 2 if args.trace else args.seconds
    cpu0 = _cpu_seconds()
    samples = measure(wl, spark, budget, 1 if args.trace else wl.min_ops)
    record["host"]["measure_cpu_s"] = {
        k: round(v - cpu0[k], 2) for k, v in _cpu_seconds().items()
    }
    record["phase_s"]["measure"] = time.perf_counter() - t_run
    attempted += len(samples)
    failed += sum(not s["ok"] for s in samples)
    record["op_s"] = [round(s["dt"], 4) for s in samples]
    record["op_steal_s"] = [round(s["steal"], 2) for s in samples]

    if not args.trace:
        metrics = {
            "setup_s": statistics.median(setup_times),
            # median per-op rate, like op_p50_s robust to an op that a
            # burst of host steal slowed (a failed op counts as rate 0)
            "items_per_s": statistics.median(
                s["items"] / s["dt"] if s["ok"] else 0.0 for s in samples
            ),
            "op_p50_s": _p50(samples),
        }
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": END_TO_END[k][0]} for k, v in metrics.items()},
        }

    # ---- traced phase: fresh context with an uncompressed event log ----
    event_dir = os.path.join(work, "eventlog")
    spark.stop()
    spark = start_spark(work, event_dir)
    wl.setup(spark)
    tr = Tracer(spark)
    values = {name: 0.0 for name in per_layer()}
    attempted += 1
    try:
        wl.warmup(spark, first=False)  # fresh Python workers; the JIT stays warm
        traced = measure(wl, spark, args.seconds / 2, 1, tracer=tr)
        attempted += len(traced)
        failed += sum(not s["ok"] for s in traced)
        record["phase_s"]["traced_ops"] = time.perf_counter() - t_run
        attempted += 1
        failed += wl.traced(spark, tr, values)
        record["phase_s"]["staged"] = time.perf_counter() - t_run
    except Exception:
        traceback.print_exc(file=sys.stderr)
        failed += 1
        traced = []
    values["spark.peak_rss_mb"] = peak_rss_mb()
    spark.stop()
    values["spark.failed_tasks"] = tr.fold(event_dir)
    record["phase_s"]["fold"] = time.perf_counter() - t_run

    totals = tr.totals()
    for name in SPANS:
        sp = totals.get(name)
        if sp is not None:
            for f in _SPAN_FIELDS:
                values[f"{name}.{f}"] = getattr(sp, f)
    values["session.get_spark.wall_s"] = get_spark_s
    if "trace.op" in totals:
        values["trace.op.wall_s"] = totals["trace.op"].wall_s
        values["trace.op.self_s"] = tr.self_time("trace.op")
        values["trace.op.jobs"] = totals["trace.op"].jobs
        staged = sum(s.wall_s for s in tr.spans if s.parent == "trace.op")
        values["trace.staged_over_op_p50"] = staged / _p50(samples)
    if traced:
        values["trace.overhead_ratio"] = _p50(traced) / _p50(samples)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": per_layer()[k][0]} for k, v in values.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the smoke test uses a small one)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import gmail_etl_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "host": {
            "nproc": usable_cpus(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "SPARK_GRAFT_SHUFFLE": os.environ.get("SPARK_GRAFT_SHUFFLE"),
            "loadavg_start": os.getloadavg(),
            "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        },
    }
    try:
        result = run(args, work, record)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    record["loadavg_end"] = os.getloadavg()
    runs = os.path.join(base, "runs")
    os.makedirs(runs, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}.json"), "w") as fh:
        json.dump({**record, "result": result}, fh, indent=1)
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
