"""Benchmark of the pedsnetdcc_spark engine: one workload, one seed.

    python3 perfbench/run.py --workload cdm_etl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Inputs are generated from the seed
(cached under ``.perfbench/``), the engine runs in-process on
``local[<cores>]`` from one driver thread, and the last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics (from spans and a
Spark event log) with ``--trace 1``.  The line before it is a run
record with input row counts, per-pass times and machine state.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOAD_NAMES = ("cdm_etl", "incremental_ingest")
# The driver heap is fixed (-Xms = -Xmx): with a growable heap, G1 sizes
# it from GC timings, and the JVM's peak RSS then follows machine load.
DRIVER_MEM = "2g"
# Cached inputs are keyed by the source that generates them, and cached
# results (for the across-runs check) also by the workload code, so a
# resized or rewritten generator or pass never meets stale files.
INPUT_SOURCES = ("perfbench/inputs.py", "scripts/scale_probe.py")
RESULT_SOURCES = INPUT_SOURCES + ("perfbench/workloads.py",)
# hard stop for starting another warm pass, so a run ends well inside
# its time limit even when the machine is slow
MAX_RUN_S = 120

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "pass_cpu_s": "s",
    "jvm_peak_rss_mb": "MB",
    "driver_peak_rss_mb": "MB",
}

# Spans reported per layer, each with every metric of SPAN_METRICS, and
# the end-to-end metric each should move:
# - plans.*, cdm.*, operators.* (wall_s, jobs, driver_gap_s): pass_s and
#   first_pass_s on cdm_etl, nothing on incremental_ingest;
# - streaming.streaming_interval_eras.* and the streaming.* progress
#   splits, state rows and state memory: pass_s on incremental_ingest;
# - datapipe.* (the span index): pass_s on incremental_ingest;
# - *.shuffle_write_mb, *.spill_mb: pass_s and pass_cpu_s;
# - *.cached_left and jvm.heap_live_mb: jvm_peak_rss_mb;
# - python.worker_cpu_s: pass_cpu_s on incremental_ingest;
# - session.start_s: setup_s on both workloads;
# - sources.input_mb, sources.output_mb, jvm.gc_s: pass_s and
#   jvm_peak_rss_mb.
# trace.pass_s minus the untraced pass_s of the same seed is the
# tracing overhead (the run record's trace_overhead_s).
LAYER_SPANS = [
    "sources.read_tables",
    "plans.run_transformation",
    "cdm.derive_condition_era",
    "cdm.derive_drug_era",
    "cdm.derive_observation_period",
    "operators.referential_integrity_counts",
    "operators.subset_by_cohort",
    "streaming.streaming_interval_eras",
    "datapipe.build_span_index",
    "datapipe.stream_span_index_append",
    "datapipe.compact_span_index",
    "datapipe.duplicate_spans_against_index",
]
SPAN_METRICS = {
    "wall_s": "s",
    "jobs": "count",
    "driver_gap_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "cached_left": "count",
}
LAYER_OTHER = {
    "streaming.batch_p50_s": "s",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.planning_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.state_commit_ms_p50": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mem_mb": "MB",
    "python.worker_cpu_s": "s",
    "session.start_s": "s",
    "sources.input_mb": "MB",
    "sources.output_mb": "MB",
    "jvm.gc_s": "s",
    "jvm.heap_live_mb": "MB",
    "trace.pass_s": "s",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{span}.{m}": u for span in LAYER_SPANS for m, u in SPAN_METRICS.items()}
    units.update(LAYER_OTHER)
    return dict(sorted(units.items()))


def _fingerprint(paths) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(os.path.join(ROOT, p), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _passes(spans) -> dict[int, list]:
    out: dict[int, list] = {}
    for sp in spans:
        out.setdefault(sp.pass_no, []).append(sp)
    return out


def _p50(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _per_pass(spans, value) -> float:
    """Median over the warm passes (all but pass 0) of the per-pass sum
    of ``value``."""
    return _p50(sum(value(sp) for sp in p) for n, p in _passes(spans).items() if n > 0)


def end_to_end_metrics(spans, setup_s: float, jvm_hwm_mb: float,
                       driver_rss_mb: float) -> dict[str, float]:
    """The user-visible metrics from one run's call spans.  Pass 0 is
    the cold pass; the rest are warm."""
    return {
        "setup_s": setup_s,
        "first_pass_s": sum(sp.wall_s for sp in _passes(spans)[0]),
        "pass_s": _per_pass(spans, lambda sp: sp.wall_s),
        "pass_cpu_s": _per_pass(spans, lambda sp: sp.cpu_s),
        "jvm_peak_rss_mb": jvm_hwm_mb,
        "driver_peak_rss_mb": driver_rss_mb,
    }


def per_layer_metrics(spans, progress: dict[int, list[dict]], extra: dict[str, float]
                      ) -> dict[str, float]:
    """Medians over the warm passes of each span's metrics (spans must
    carry event-log ``attrs``), of the micro-batch progress splits and of
    per-pass totals, plus the run-level ``extra`` values.  A layer the
    workload does not call reads 0."""
    out: dict[str, float] = {}
    for name in LAYER_SPANS:
        mine = [sp for sp in spans if sp.name == name and sp.pass_no > 0]
        out[f"{name}.wall_s"] = _p50(sp.wall_s for sp in mine)
        out[f"{name}.cached_left"] = _p50(sp.cached_left for sp in mine)
        for m in ("jobs", "driver_gap_s", "shuffle_write_mb", "spill_mb"):
            out[f"{name}.{m}"] = _p50(sp.attrs[m] for sp in mine)
    batches = [p for n, ps in progress.items() if n > 0 for p in ps if p["numInputRows"] > 0]
    dur = [p["durationMs"] for p in batches]
    states = [op for p in batches for op in p["stateOperators"]]
    out.update({
        "streaming.batch_p50_s": _p50(d["triggerExecution"] for d in dur) / 1000,
        "streaming.add_batch_ms_p50": _p50(d.get("addBatch", 0) for d in dur),
        "streaming.planning_ms_p50": _p50(d.get("queryPlanning", 0) for d in dur),
        "streaming.wal_commit_ms_p50": _p50(d.get("walCommit", 0) for d in dur),
        "streaming.state_commit_ms_p50": _p50(op["commitTimeMs"] for op in states),
        "streaming.state_rows": max((op["numRowsTotal"] for op in states), default=0),
        "streaming.state_mem_mb": max((op["memoryUsedBytes"] for op in states), default=0)
        / 2**20,
        "sources.input_mb": _per_pass(spans, lambda sp: sp.attrs["input_mb"]),
        "sources.output_mb": _per_pass(spans, lambda sp: sp.attrs["output_mb"]),
        "jvm.gc_s": _per_pass(spans, lambda sp: sp.gc_s),
        "trace.pass_s": _per_pass(spans, lambda sp: sp.wall_s),
    })
    out.update(extra)
    return dict(sorted(out.items()))


def _conf(trace: bool) -> dict[str, str]:
    tmp = os.path.join(STATE, "tmp")
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(STATE, "warehouse"),
        # no hsperfdata files in the system temp directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log = os.path.join(STATE, "eventlog")
        shutil.rmtree(log, ignore_errors=True)
        os.makedirs(log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{log}",
            "spark.eventLog.compress": "false",
        })
    return conf


def _stop_gateway(workers: list[int]) -> None:
    """End the driver JVM and wait for it and for its Python ``workers``
    (which exit when it does), so no process of the run outlives it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.time() + 30
    while any(os.path.exists(f"/proc/{p}") for p in workers) and time.time() < deadline:
        time.sleep(0.05)


def _heap_live_mb(spark) -> float:
    """JVM heap in use after a full GC."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def main() -> None:
    ap = argparse.ArgumentParser(description="pedsnetdcc_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    for need in ("pedsnetdcc_spark/__init__.py", "scripts/scale_probe.py", "bench.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            _fail(f"{need} not found under {ROOT}: run from a full checkout")
    sys.path[:0] = [ROOT, HERE]
    # Spark's Python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(STATE, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    from bench import _cpu_ticks, _loadavg, _steal_pct

    tag = f"{args.workload}-{args.seed}"
    data = os.path.join(STATE, "data", f"{tag}-{_fingerprint(INPUT_SOURCES)}")
    subprocess.run(
        [sys.executable, os.path.join(HERE, "inputs.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--out", data],
        check=True, cwd=ROOT,
    )
    with open(os.path.join(data, "manifest.json")) as f:
        manifest = json.load(f)
    results_path = os.path.join(STATE, "results", f"{tag}-{_fingerprint(RESULT_SOURCES)}.json")
    untraced = results_path.removesuffix(".json") + ".pass_s"  # for the tracing overhead
    known = {}
    if os.path.exists(results_path):
        with open(results_path) as f:
            known = json.load(f)
    work = os.path.join(STATE, "work")
    shutil.rmtree(work, ignore_errors=True)

    cores = len(os.sched_getaffinity(0))
    load0, ticks0 = _loadavg(), _cpu_ticks()

    # setup_s: engine import until the session exists and has run a job
    t0 = time.time()
    from pedsnetdcc_spark.session import build_session

    spark = build_session(app_name="perfbench", master=f"local[{cores}]",
                          shuffle_partitions=cores, extra_conf=_conf(bool(args.trace)))
    session_start_s = time.time() - t0
    spark.range(1).count()
    setup_s = time.time() - t0

    import measure
    from workloads import WORKLOADS, Runner

    jvm = measure.jvm_pid(os.getpid())
    run = Runner(spark, known)
    pass_fn = WORKLOADS[args.workload]
    worker_cpu, pass_steal = {}, {}
    while True:
        if run.pass_no == 1:
            warm_start = time.time()
        w0, ticks = measure.python_worker_cpu_s(jvm), _cpu_ticks()
        pass_fn(run, data, work, manifest)
        worker_cpu[run.pass_no] = measure.python_worker_cpu_s(jvm) - w0
        pass_steal[run.pass_no] = _steal_pct(ticks, _cpu_ticks()) or 0.0
        shutil.rmtree(work, ignore_errors=True)
        run.pass_no += 1
        if run.pass_no > 1 and (
            time.time() - warm_start >= args.seconds or time.time() - started > MAX_RUN_S
        ):
            break

    heap_live_mb = _heap_live_mb(spark)
    jvm_hwm = measure.vm_hwm_mb(jvm)
    workers = [p for p in measure.descendants(jvm) if p != jvm]
    spark.stop()
    _stop_gateway(workers)
    driver_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    steal = _steal_pct(ticks0, _cpu_ticks())

    passes = _passes(run.spans)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "input_rows": manifest["rows"], "input_digests": manifest["digests"],
        "input_shape": manifest["shape"],
        "cores": cores,
        "pass_wall_s": [round(sum(sp.wall_s for sp in p), 3) for p in passes.values()],
        "pass_steal_pct": list(pass_steal.values()),
        "last_pass_call_s": {sp.name: round(sp.wall_s, 3) for sp in passes[max(passes)]},
        "steal_pct": steal, "loadavg_start": load0, "loadavg_end": _loadavg(),
        "run_s": round(time.time() - started, 1),
    }
    if args.trace:
        measure.attribute(run.spans, measure.read_event_log(os.path.join(STATE, "eventlog")))
        values = per_layer_metrics(run.spans, run.progress, {
            "python.worker_cpu_s": _p50(v for n, v in worker_cpu.items() if n > 0),
            "session.start_s": session_start_s,
            "jvm.heap_live_mb": heap_live_mb,
        })
        units = per_layer_units()
        record["last_pass_calls"] = {
            sp.name: {k: round(v, 3) for k, v in sp.attrs.items()}
            for sp in passes[max(passes)]
        }
        if os.path.exists(untraced):
            with open(untraced) as f:
                record["trace_overhead_s"] = values["trace.pass_s"] - float(f.read())
    else:
        values = end_to_end_metrics(run.spans, setup_s, jvm_hwm, driver_rss)
        units = END_TO_END
    if run.failed == 0:
        os.makedirs(os.path.dirname(results_path), exist_ok=True)
        with open(results_path, "w") as f:
            json.dump(run.results, f, sort_keys=True)
        if not args.trace:
            with open(untraced, "w") as f:
                f.write(repr(values["pass_s"]))
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    main()
