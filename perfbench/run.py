#!/usr/bin/env python3
"""Benchmark of record for webarchive_indexing_spark.

    python3 perfbench/run.py --workload archive|curation --seed N \
        --seconds S --trace 0|1

Run from the repository root.  Inputs are generated from ``--seed``
and written before the JVM starts; the program receives only those
files.  Every answer is checked against ground truth the generator
derived on its own.  The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is a report with the run's stamp (nproc, cores,
Spark version, seed, commit) and the per-family detail.

``--trace 1`` first repeats the untraced run, then restarts the
SparkContext with Spark's event log on and runs one traced pass of
every workload (its builds and one request cycle, every call into the
package wrapped in a span), so each layer is measured on the workload
that exercises it and every traced run reports the same per-layer
set.  It reduces the log per span.  Tracing overhead is the traced
pass's end-to-end value over the untraced one's, as a slowdown.

See DESIGN.md for why the workloads and metrics are what they are.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT]

from perfbench import archive, curation, trace  # noqa: E402

#: timed session set-ups per run; ``setup_s`` is their median
SETUP_REPS = 5

#: end-to-end metrics, identical names on every workload (DESIGN.md
#: maps each to what it measures on each workload)
E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ingest_records_per_s": "1/s",
    "index_records_per_s": "1/s",
    "bytes_per_record": "B",
    "lookup_p50_ms": "ms",
    "batch_lookups_per_s": "1/s",
    "recall": "ratio",
}

#: per-layer metrics: span -> stats kept (an optimisation of that
#: layer is most likely to move these); extra counts are appended
LAYERS = {
    "warc.parse": ("jobs", "executor_run_s", "driver_only_s", "self_s"),
    "surt.canon": ("jobs", "executor_run_s", "self_s"),
    "zipnum.write": ("jobs", "stages", "tasks", "executor_run_s", "shuffle_write_bytes",
                     "shuffle_read_bytes", "driver_only_s", "self_s"),
    "parquet_index.write": ("jobs", "stages", "tasks", "executor_run_s",
                            "shuffle_write_bytes", "driver_only_s", "self_s"),
    "zipnum.epoch_write": ("jobs", "tasks", "executor_run_s", "shuffle_write_bytes",
                           "driver_only_s", "self_s"),
    "zipnum.compact": ("jobs", "tasks", "executor_run_s", "shuffle_write_bytes",
                       "driver_only_s", "self_s"),
    "zipnum.prune": ("self_s",),
    "zipnum.read": ("jobs", "tasks", "executor_run_s", "driver_only_s", "self_s"),
    "cdx_query.single": ("jobs", "stages", "tasks", "executor_run_s", "rows_scanned",
                         "driver_only_s", "self_s"),
    "cdx_query.batch": ("jobs", "stages", "tasks", "executor_run_s", "driver_only_s", "self_s"),
    "cdx_query.epochs": ("jobs", "tasks", "executor_run_s", "rows_scanned",
                         "driver_only_s", "self_s"),
    "html_extract.extract": ("jobs", "tasks", "executor_run_s", "driver_only_s", "self_s"),
    "dedup.lsh": ("jobs", "stages", "tasks", "executor_run_s", "shuffle_write_bytes",
                  "driver_only_s", "self_s"),
    "cc.components": ("jobs", "stages", "tasks", "executor_run_s", "driver_only_s", "self_s"),
    "ann_index.write.flat": ("jobs", "driver_only_s", "self_s"),
    "ann_index.write.sq8": ("jobs", "driver_only_s", "self_s"),
    "ann_index.write.pq": ("jobs", "driver_only_s", "self_s"),
    "ann_index.probe.flat": ("jobs", "tasks", "driver_only_s", "self_s"),
    "ann_index.probe.sq8": ("jobs", "tasks", "driver_only_s", "self_s"),
    "ann_index.probe.pq": ("jobs", "tasks", "driver_only_s", "self_s"),
    "ann_index.batch": ("jobs", "tasks", "executor_run_s", "shuffle_write_bytes",
                        "driver_only_s", "self_s"),
    "graph_ann.write": ("jobs", "shuffle_write_bytes", "driver_only_s", "self_s"),
    "graph_ann.walk": ("jobs", "tasks", "executor_run_s", "driver_only_s", "self_s"),
}

#: counts measured at layer boundaries (per-layer, traced run)
COUNTS = {
    "cdx_query.single.call_ms": "ms",
    "cdx_query.single.action_ms": "ms",
    "zipnum.prune.blocks_read_per_lookup": "count",
    "zipnum.read.rows_examined_per_row_returned": "ratio",
    "cdx_query.epochs.epochs_read_per_lookup": "count",
    "cdx_query.batch.blocks_per_batch_request": "ratio",
    "zipnum.compact.bytes_rewritten": "B",
    "cc.components.docs_kept_ratio": "ratio",
    "dedup.lsh.lsh_pairs_out": "count",
    "trace.selfcheck.jobs": "count",
    "trace.overhead.lookup_p50_ms": "ratio",
    "trace.overhead.batch_lookups_per_s": "ratio",
    "trace.overhead.ingest_records_per_s": "ratio",
}

#: tracing overhead: traced cost over untraced cost, for a time (ms)
#: the ratio of values, for a rate (1/s) its inverse
OVERHEAD = {"lookup_p50_ms": False, "batch_lookups_per_s": True,
            "ingest_records_per_s": True}

STAT_UNITS = {"jobs": "count", "stages": "count", "tasks": "count",
              "shuffle_write_bytes": "B", "shuffle_read_bytes": "B",
              "spill_bytes": "B", "rows_scanned": "count"}


def per_layer_names() -> dict[str, str]:
    names = {f"{span}.{stat}": STAT_UNITS.get(stat, "s")
             for span, stats in LAYERS.items() for stat in stats}
    names.update(COUNTS)
    return names


# ---------------------------------------------------------------------------
# process environment
# ---------------------------------------------------------------------------


def cores() -> int:
    """Spark cores: half the CPUs this process may use, at least one,
    and no more than ``SPARK_GRAFT_CPUS``.  The other half is left to
    the driver JVM's compiler and collector threads, the driver Python
    process and the Python workers, so a run does not oversubscribe
    the host and its times do not swing with its scheduler."""
    n = os.cpu_count() or 1
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    n = max(1, n // 2)
    want = os.environ.get("SPARK_GRAFT_CPUS")
    return max(1, min(n, int(want))) if want else n


def commit() -> str:
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def start_session(work: str, n_cores: int, event_log: str | None):
    """A local session with the package's own conf, every scratch path
    inside ``work`` and console progress off."""
    from pyspark.sql import SparkSession

    from webarchive_indexing_spark.session import BUILD_CONF, RUNTIME_CONF, tune

    conf = {**BUILD_CONF, **RUNTIME_CONF}
    conf.update({
        "spark.sql.shuffle.partitions": str(n_cores),
        "spark.driver.memory": "2g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*.
        # The heap is committed and touched at start, so peak_rss_mb does
        # not swing with when the collector chose to grow the heap
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'derby')} -XX:-UsePerfData "
            "-Xms2g -XX:+AlwaysPreTouch",
        "spark.eventLog.enabled": "true" if event_log else "false",
    })
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf["spark.eventLog.dir"] = "file://" + event_log
        # one plain JSON-lines file, read after the context stops
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    b = SparkSession.builder.appName("perfbench").master(f"local[{n_cores}]")
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return tune(spark)


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait
    for it (its Python workers are its children and go with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the gateway may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def set_up(work: str, n_cores: int):
    """The program's session set-up: a SparkSession with the package's
    conf, ``session.tune()`` (which also ships the package to the
    Python workers), and a trivial SQL job, which pays the first-use
    costs (scheduler, code generation) every later job reuses."""
    spark = start_session(work, n_cores, None)
    spark.range(0, 1000, 1, n_cores).selectExpr("sum(id)").collect()
    return spark


def peak_rss_mb(spark) -> float:
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    return (vm_hwm_kb(jvm_pid) + vm_hwm_kb("self")) / 1024.0


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Phase:
    """Logs a phase's wall time to stderr (tuning aid; never a metric)."""

    def __init__(self, name: str):
        self.name = name

    def __enter__(self):
        self.t0 = time.perf_counter()

    def __exit__(self, *exc):
        log(f"{self.name} {time.perf_counter() - self.t0:.2f}s")


def pct(xs: list[float], q: float) -> float:
    s = sorted(xs)
    if not s:
        return 0.0
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


WORKLOADS = {"archive": archive, "curation": curation}


def end_to_end(out: dict) -> dict:
    """The workload's result as the end-to-end metric set, less
    ``setup_s`` and ``peak_rss_mb``."""
    e = dict(out["e2e"])
    lat = e.pop("lookup_samples")
    if not lat:
        out["bad"].append("no single request succeeded")
    if not e["batch_lookups_per_s"]:
        out["bad"].append("no batch request succeeded")
    e["lookup_p50_ms"] = pct(lat, 0.5)
    # below the 100 samples a p90 needs to leave ten beyond it: report only
    out["report"].update(lookup_samples=len(lat), lookup_p90_ms=pct(lat, 0.9))
    return e


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if importlib.util.find_spec("webarchive_indexing_spark") is None:
        print("perfbench: package webarchive_indexing_spark not found under "
              f"{ROOT}; run from a checkout of the repository", file=sys.stderr)
        return 2

    graft_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    n_cores = cores()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "inputs"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # every scratch file of this process, the JVM and its Python
    # workers stays inside the work directory
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(n_cores)
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]

    mod = WORKLOADS[args.workload]
    # a traced run makes a traced pass of every workload
    passes = sorted(WORKLOADS) if args.trace else [args.workload]
    spark = None
    try:
        # the seeded inputs are written before the JVM starts: forking
        # writers with a live py4j gateway deadlocks
        inputs = {}
        for name in passes:
            with Phase(f"inputs {name}"):
                inputs[name] = WORKLOADS[name].Inputs(
                    os.path.join(work, "inputs", name), args.seed)
        inp = inputs[args.workload]

        import pyspark

        # set-up: the first session start also launches the JVM (report
        # only); then the session is set up again SETUP_REPS times in
        # that JVM and setup_s is the median
        t0 = time.perf_counter()
        spark = set_up(work, n_cores)
        jvm_start_s = time.perf_counter() - t0
        setup = []
        for _ in range(0 if args.trace else SETUP_REPS):
            spark.stop()
            t0 = time.perf_counter()
            spark = set_up(work, n_cores)
            setup.append(time.perf_counter() - t0)
        log(f"set-up {jvm_start_s:.2f} then {' '.join(f'{t:.2f}' for t in setup)}")
        # untimed: start the Python workers every workload's jobs use
        spark.sparkContext.parallelize(range(n_cores), n_cores).map(abs).count()
        off = trace.Tracer(spark.sparkContext, enabled=False)
        with Phase("untraced run"):
            # a traced run compares light cycles, traced and untraced
            out = mod.run(spark, off, inp, os.path.join(work, "run"), args.seconds, False,
                          light=bool(args.trace))
        e2e = end_to_end(out)
        e2e["peak_rss_mb"] = peak_rss_mb(spark)
        attempted, failed, bad, report = out["attempted"], out["failed"], out["bad"], out["report"]
        report["jvm_start_s"] = jvm_start_s
        spark.catalog.clearCache()
        shutil.rmtree(os.path.join(work, "run"), ignore_errors=True)

        layer_metrics = spans_report = None
        if args.trace:
            spark.stop()
            log_dir = os.path.join(work, "eventlog")
            spark = start_session(work, n_cores, log_dir)
            tr = trace.Tracer(spark.sparkContext, enabled=True)
            trace.self_check(spark, tr)
            report = {"untraced": report}
            counts = {}
            for name in passes:
                # builds and one light request cycle: span stats are per call
                with Phase(f"traced {name}"):
                    tout = WORKLOADS[name].run(spark, tr, inputs[name],
                                               os.path.join(work, "traced", name), 0, True,
                                               light=True)
                spark.catalog.clearCache()
                if name == args.workload:
                    te2e = end_to_end(tout)
                report[f"traced {name}"] = tout["report"]
                attempted += tout["attempted"]
                failed += tout["failed"]
                bad += tout["bad"]
                counts.update(tout["counts"])
            spark.stop()
            stats = trace.reduce_spans(tr.spans, trace.read_event_log(log_dir))
            counts["trace.selfcheck.jobs"] = stats.get("trace.selfcheck", {}).get("jobs", 0)
            if counts["trace.selfcheck.jobs"] != 1:
                bad.append(f"tracer self-check: one count() attributed "
                           f"{counts['trace.selfcheck.jobs']} jobs")
            for k, rate in OVERHEAD.items():
                ratio = te2e[k] / e2e[k] if e2e[k] else 0.0
                counts[f"trace.overhead.{k}"] = 1 / ratio if rate and ratio else ratio
            layer_metrics = {}
            for name, unit in per_layer_names().items():
                if name in counts:
                    val = counts[name]
                    if isinstance(val, trace.Ratio):
                        val = val.value(stats)
                else:
                    span, stat = name.rsplit(".", 1)
                    st = stats.get(span)
                    # per call: what one request or one build costs
                    val = st[stat] / st["calls"] if st and st["calls"] else 0.0
                layer_metrics[name] = {"value": float(val), "unit": unit}
            spans_report = {k: {s: round(v, 6) for s, v in d.items()} for k, d in stats.items()}
        else:
            e2e["setup_s"] = statistics.median(setup)

        stamp = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": os.cpu_count(), "cores": n_cores,
            "SPARK_GRAFT_CPUS": graft_cpus,
            "spark": pyspark.__version__, "commit": commit(),
            "python": sys.version.split()[0],
        }
        print(json.dumps({"report": {"stamp": stamp, "detail": report,
                                     "end_to_end": e2e, "spans": spans_report,
                                     "mismatches": bad[:20],
                                     "n_mismatches": len(bad)}}))
        if layer_metrics is not None:
            metrics = layer_metrics
        else:
            metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}
        print(json.dumps({"correct": not bad, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0 if not bad else 1
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
