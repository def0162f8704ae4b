"""Seeded import and curation benchmark for wcdimportbot_spark.

Run from the repository root:

    python3 perfbench/run.py --workload cold_import --seed 1 --seconds 20 --trace 0

It generates the workload's inputs from ``--seed``, sets up, runs the
measured closed loop, checks every output against the generator's
expected results, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the same workload with the
outside-in tracer and a Spark event log, reports the per-layer metrics
and writes every span record to ``.perfbench/trace-<workload>-<seed>.json``.
The command exits non-zero when a check fails or the engine is missing.

A run measures exactly one iteration (one import, or one night) whatever
``--seconds`` says: one iteration takes 20-65 s on four cores, and a fixed
amount of work keeps the figures of two commits comparable.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")

#: the engine's 24g default does not fit a 15 GB host
DRIVER_MEMORY = "2g"

#: spans the traced run records: (module, attribute, span name, is a
#: context manager). Names are the defining module and function; the
#: attribute patched is the binding the caller resolves.
TRACED = (
    ("wcdimportbot_spark.plans.store_import", "import_pages_to_store",
     "plans.store_import.import_pages_to_store", False),
    ("wcdimportbot_spark.plans.pipeline", "run_import",
     "plans.pipeline.run_import", False),
    ("wcdimportbot_spark.plans.pipeline", "extract_raw_templates",
     "operators.extract.extract_raw_templates", False),
    ("wcdimportbot_spark.plans.pipeline", "build_references",
     "operators.normalize.build_references", False),
    ("wcdimportbot_spark.plans.pipeline", "build_items",
     "operators.graph.build_items", False),
    ("wcdimportbot_spark.plans.pipeline", "build_claims",
     "operators.graph.build_claims", False),
    ("wcdimportbot_spark.operators.sinks", "merge_write_items",
     "operators.sinks.merge_write_items", False),
    ("wcdimportbot_spark.operators.sinks", "merge_write_claims",
     "operators.sinks.merge_write_claims", False),
    ("wcdimportbot_spark.operators.sinks", "write_rejects",
     "operators.sinks.write_rejects", False),
    ("wcdimportbot_spark.operators.sinks", "_merge_write",
     "operators.sinks._merge_write", False),
    ("wcdimportbot_spark.operators.sinks", "delete_from_store",
     "operators.sinks.delete_from_store", False),
    ("wcdimportbot_spark.operators.cache", "read_cache",
     "operators.cache.read_cache", False),
    ("wcdimportbot_spark.operators.cache", "merge_write_cache",
     "operators.cache.merge_write_cache", False),
    ("wcdimportbot_spark.operators.versioned", "stage_new",
     "operators.versioned.stage_new", False),
    ("wcdimportbot_spark.operators.versioned", "publish",
     "operators.versioned.publish", False),
    ("wcdimportbot_spark.operators.versioned", "writer_lock",
     "operators.versioned.writer_lock", True),
    ("wcdimportbot_spark.plans.curation_nightly", "curate_increment",
     "plans.curation_nightly.curate_increment", False),
    ("wcdimportbot_spark.plans.curation_nightly", "merge_curated_corpus",
     "plans.curation_nightly.merge_curated_corpus", False),
    ("wcdimportbot_spark.plans.curation_nightly", "purge_documents",
     "plans.curation_nightly.purge_documents", False),
    ("wcdimportbot_spark.operators.text_dedup", "dedup_index_probe",
     "operators.text_dedup.dedup_index_probe", False),
    ("wcdimportbot_spark.operators.text_dedup", "dedup_index_merge",
     "operators.text_dedup.dedup_index_merge", False),
    ("wcdimportbot_spark.operators.text_dedup", "dedup_index_delete",
     "operators.text_dedup.dedup_index_delete", False),
    ("wcdimportbot_spark.operators.ann_store", "ann_index_add_batch",
     "operators.ann_store.ann_index_add_batch", False),
    ("wcdimportbot_spark.operators.ann_store", "ann_index_delete",
     "operators.ann_store.ann_index_delete", False),
)

#: every span, traced or opened by the benchmark around a call plus the
#: action that materializes its lazy result, and the stats the traced run
#: reports for it beside ``calls`` and ``jobs``: those that show the cost
#: an optimization of that layer would move (see perfbench/README.md)
_SINK = ("wall_s", "self_s", "tasks", "shuffle_bytes")
LAYER_STATS = {
    "plans.store_import.import_pages_to_store": ("self_s",),
    "plans.pipeline.run_import": ("wall_s", "executor_cpu_s", "python_bytes"),
    "operators.extract.extract_raw_templates": ("wall_s",),
    "operators.normalize.build_references": ("wall_s",),
    "operators.graph.build_items": ("wall_s",),
    "operators.graph.build_claims": ("wall_s",),
    "operators.sinks.merge_write_items": _SINK,
    "operators.sinks.merge_write_claims": _SINK,
    "operators.sinks.write_rejects": _SINK,
    "operators.sinks._merge_write": _SINK,
    "operators.sinks.delete_from_store": _SINK,
    "operators.cache.read_cache": ("wall_s",),
    "operators.cache.merge_write_cache": ("wall_s",),
    "operators.cache.lookup": ("wall_s",),
    "operators.versioned.stage_new": ("wall_s", "self_s"),
    "operators.versioned.publish": ("wall_s", "self_s"),
    "operators.versioned.writer_lock": ("wall_s", "lock_wait_s"),
    "operators.analytics.count_items_by_type": ("wall_s",),
    "operators.analytics.count_property_usage": ("wall_s",),
    "operators.analytics.lookup_qids_for_hash": ("wall_s",),
    "plans.curation_nightly.curate_increment": ("self_s",),
    "plans.curation_nightly.merge_curated_corpus": ("self_s",),
    "plans.curation_nightly.purge_documents": ("self_s",),
    "plans.curation_nightly.read_curated_corpus": ("wall_s",),
    "operators.text_dedup.dedup_index_probe": ("wall_s", "shuffle_bytes"),
    "operators.text_dedup.dedup_index_merge": ("wall_s", "shuffle_bytes"),
    "operators.text_dedup.dedup_index_delete": ("wall_s", "shuffle_bytes"),
    "operators.ann_store.ann_index_add_batch": ("wall_s",),
    "operators.ann_store.ann_index_probe": ("wall_s",),
    "operators.ann_store.ann_index_delete": ("wall_s",),
}
STAT_UNITS = {"wall_s": "s", "self_s": "s", "lock_wait_s": "s",
              "executor_cpu_s": "s", "tasks": "count",
              "shuffle_bytes": "bytes", "python_bytes": "bytes"}

SPARK_STATS = {
    "jobs": "count", "jobs_per_batch": "count", "s_per_job": "s",
    "stages": "count", "tasks": "count", "executor_cpu_s": "s",
    "executor_run_s": "s", "gc_s": "s", "shuffle_bytes": "bytes",
    "output_bytes": "bytes", "python_bytes": "bytes",
}


# --- processes ----------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def descendants() -> list[int]:
    kids, out, todo = _children(), [], [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Sum of each process's peak resident set (VmHWM) over this process
    and every descendant: the JVM, its Python workers and the caller."""
    total_kb = 0
    for pid in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until every process this
    run started has ended."""
    from pyspark import SparkContext

    procs = descendants()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


# --- run ----------------------------------------------------------------------

def configure(work: str, trace: bool) -> None:
    """Session configuration the benchmark supplies: through the variables
    ``session.py`` reads, and a ``spark-defaults.conf`` of its own via
    ``SPARK_CONF_DIR``. Every file Spark and the JVM write stays under
    ``work``."""
    conf_dir = os.path.join(work, "conf")
    tmp = os.path.join(work, "tmp")
    for d in (conf_dir, tmp, os.path.join(work, "local")):
        os.makedirs(d, exist_ok=True)
    lines = ["spark.ui.showConsoleProgress false"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{log_dir}",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
        ]
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    os.environ.update({
        # every JVM (the launcher's too): temp files in the work directory,
        # no perf-counter file in the system temp directory
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_CONF_DIR": conf_dir,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 4),
    })


def install_tracer(spark, workload):
    import importlib

    from spans import Tracer

    tracer = Tracer(spark.sparkContext)
    for module, attr, name, cm in TRACED:
        tracer.patch(importlib.import_module(module), attr, name, cm)
    workload.span = tracer.span
    return tracer


def per_layer(report: dict, traced_run_s: float, rss_mb: float) -> dict:
    """Every per-layer metric of a traced run: name -> (value, unit). A
    span the workload never calls reports 0, so both workloads print the
    same names."""
    spans = report["spans"]
    out = {f"spark.{k}": (float(report["spark"][k]), unit)
           for k, unit in SPARK_STATS.items()}
    out["trace.run_s"] = (traced_run_s, "s")
    out["process.peak_rss_mb"] = (rss_mb, "MB")
    for name, stats in LAYER_STATS.items():
        agg = spans.get(name, {})
        out[f"{name}.calls"] = (agg.get("calls", 0.0), "count")
        out[f"{name}.jobs"] = (agg.get("jobs", 0.0), "count")
        for stat in stats:
            out[f"{name}.{stat}"] = (agg.get(stat, 0.0), STAT_UNITS[stat])
    return out


def print_layers(report: dict) -> None:
    print(f"{'span':58} {'calls':>5} {'wall_s':>8} {'self_s':>8} "
          f"{'jobs':>5} {'tasks':>6} {'cpu_s':>7}")
    for name, a in sorted(report["spans"].items()):
        print(f"{name:58} {a['calls']:5.0f} {a['wall_s']:8.3f} "
              f"{a['self_s']:8.3f} {a['jobs']:5.0f} {a['tasks']:6.0f} "
              f"{a['executor_cpu_s']:7.2f}")
    print("spark " + json.dumps(report["spark"]))


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_setup = time.perf_counter()
    sys.path.insert(0, ROOT)
    try:
        import wcdimportbot_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    work = os.path.join(OUT, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        return measure(args, WORKLOADS[args.workload], work, t_setup)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, workload_cls, work: str, t_setup: float) -> int:
    from wcdimportbot_spark import get_spark

    configure(work, bool(args.trace))

    spark = get_spark(app_name="perfbench")
    try:
        workload = workload_cls(spark, work, args.seed)
        workload.setup()
        setup_s = time.perf_counter() - t_setup
        tracer = install_tracer(spark, workload) if args.trace else None

        window_start = time.time()
        ticks = cpu_ticks()
        t0 = time.perf_counter()
        workload.iterate()
        run_s = time.perf_counter() - t0
        steal = [b - a for a, b in zip(ticks, cpu_ticks())]
        window = (window_start, time.time())
        rss = peak_rss_mb()
        if tracer is not None:
            tracer.unpatch()
    finally:
        stop_spark(spark)

    checks = workload.checks
    for msg in checks.messages:
        print(f"check failed: {msg}")
    if args.trace:
        from spans import layer_report, read_event_log

        report = layer_report(
            tracer.spans, read_event_log(os.path.join(work, "eventlog")),
            window, workload.batch_window,
        )
        side = os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json")
        with open(side, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "run_s": run_s, **report}, f, indent=1)
        print_layers(report)
        metrics = per_layer(report, run_s, rss)
    else:
        metrics = {"setup_s": (setup_s, "s"), "run_s": (run_s, "s"),
                   **workload.metrics()}
    # CPU time the hypervisor gave to other guests during the measured
    # phase: a share of several percent slows every timing of the run
    print(f"host: steal {100.0 * steal[0] / max(steal[1], 1):.2f}% "
          "of CPU time during the measured phase")
    correct = checks.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
