#!/usr/bin/env python3
"""Lakehouse benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. ``--trace 0`` measures the end-to-end
metrics; ``--trace 1`` makes the separate traced run that measures the
per-layer metrics (see ``perfbench/README.md``). A run measures exactly one
unit of the workload; ``--seconds`` is accepted for the common benchmark
command line but does not change what is measured. The last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the line
before it is the run's full record (host, samples, checks, figures).

Inputs are read from ``$PERFBENCH_SF_DIR``; the default is the sf0.1 set
next to the repo's smoke testdata (``__spark_entry__.SMOKE_SF_DIR``).
Every file the run writes lives under ``.perfbench_tmp/`` in the checkout
and is removed at exit; no bytecode cache is written, by this process or by
the Spark Python workers.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import tempfile
import time
import traceback
import uuid
from pathlib import Path

sys.dont_write_bytecode = True  # before the first perfbench or engine import

ROOT = Path(__file__).resolve().parent.parent
TMP_PARENT = ".perfbench_tmp"

# name -> (unit, better); BENCHMARK.json lists exactly these
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_cpu_s": ("s", "lower"),
    "unit_cpu_s": ("s", "lower"),
    "jvm_write_mb": ("MB", "lower"),
}
PER_LAYER = {
    "session.get_spark_s": ("s", "lower"),
    "queries.build_s": ("s", "lower"),
    "catalyst.analysis_s": ("s", "lower"),
    "catalyst.optimization_s": ("s", "lower"),
    "catalyst.planning_s": ("s", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.task_run_s": ("s", "lower"),
    "exec.task_cpu_s": ("s", "lower"),
    "exec.gc_s": ("s", "lower"),
    "exec.task_wait_s": ("s", "lower"),
    "exec.shuffle_write_bytes": ("bytes", "lower"),
    "exec.shuffle_read_bytes": ("bytes", "lower"),
    "exec.spill_bytes": ("bytes", "lower"),
    "exec.core_util": ("ratio", "higher"),
    "elt.runner.run_ingest_s": ("s", "lower"),
    "elt.runner.chunks": ("count", "lower"),
    "elt.runner.rows": ("count", "higher"),
    "tables.io.append_s": ("s", "lower"),
    "tables.io.merge_s": ("s", "lower"),
    "tables.io.replace_s": ("s", "lower"),
    "plans.dag.run_s": ("s", "lower"),
    "plans.dag.models": ("count", "lower"),
    "pipelines.incremental.refresh_s": ("s", "lower"),
    "pipelines.incremental.takedown_s": ("s", "lower"),
    "pipelines.incremental.changelog_s": ("s", "lower"),
    "operators.search_index.build_s": ("s", "lower"),
    "operators.search_index.append_s": ("s", "lower"),
    "operators.search_index.delete_docs_s": ("s", "lower"),
    "operators.search_index.apply_deletes_s": ("s", "lower"),
    "operators.search_index.bm25_s": ("s", "lower"),
    "tables.snapshots.versions": ("count", "lower"),
    "tables.snapshots.data_files": ("count", "lower"),
    "tables.snapshots.bytes": ("bytes", "lower"),
    "trace.overhead_s": ("s", "lower"),
}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(tmp: Path, cores: int) -> None:
    """Point every temporary location of this process, its Python workers
    and the JVM at the run's temp root; let the workers import the engine."""
    for sub in ("py", "local", "jvm", "derby", "warehouse", "eventlog"):
        (tmp / sub).mkdir()
    tempfile.tempdir = str(tmp / "py")
    os.environ["TMPDIR"] = str(tmp / "py")
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )


def _start_session(tmp: Path, event_log: bool):
    from analytics_data_platform_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        "spark.local.dir": str(tmp / "local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp / 'jvm'} -Dderby.system.home={tmp / 'derby'} "
            "-XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (tmp / "eventlog").as_uri(),
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _jvm_proc(spark) -> dict[str, int]:
    """The JVM's cumulative write bytes and peak resident set."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    out = {}
    with open(f"/proc/{pid}/io") as f:
        for line in f:
            k, v = line.split(":")
            if k == "wchar":
                out["wchar"] = int(v)
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                out["hwm_kb"] = int(line.split()[1])
    return out


def _host_record(spark, sf_dir: str, seed: int, cores: int) -> dict:
    from bench import host_calibration

    return {
        "calib": host_calibration(spark),
        "nproc": cores,
        "defaultParallelism": spark.sparkContext.defaultParallelism,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "sf": float(Path(sf_dir).name.removeprefix("sf")),
        "seed": seed,
    }


def _steal_s() -> float:
    """Seconds of CPU time the hypervisor took from this host's CPUs, summed
    over CPUs (``/proc/stat``; 0 on bare metal)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _run_unit(wl):
    """The timed unit: its epoch window and its failure, if any."""
    w0 = time.time()
    try:
        wl.unit()
    except Exception:  # the run reports the failure instead of dying
        return (w0, time.time()), traceback.format_exc()
    return (w0, time.time()), None


def _end_to_end(cpu, wl, jvm0, jvm1) -> dict[str, float]:
    """The gated figures. Times are CPU seconds of the run's process tree:
    on a shared virtual machine the hypervisor steals CPU in bursts, which
    moves wall time by tens of percent and CPU time hardly at all."""
    from statistics import geometric_mean

    return {
        "setup_s": cpu["warm_up"],
        "op_cpu_s": geometric_mean(wl.samples["op_cpu"]),
        "unit_cpu_s": cpu["unit"],
        "jvm_write_mb": (jvm1["wchar"] - jvm0["wchar"]) / 1e6,
    }


def _per_layer(tracer, wl, window, event_log: Path, cores: int, get_spark_s):
    """Per-layer figures of the traced unit: span totals (a metric ``x_s``
    is the total time of span ``x``), the workload's own counts, and the
    executor totals folded from the event log. A layer that runs only in
    set-up (the corpus index build) is reported from the set-up spans.
    ``trace.overhead_s`` is the time of the ``trace.*`` spans: work only a
    traced run does."""
    from perfbench.metrics import fold_event_log, span_totals

    totals = {
        "setup": span_totals([s for s in tracer.spans if s.start < window[0]]),
        "unit": span_totals([s for s in tracer.spans if s.start >= window[0]]),
    }
    with open(event_log) as f:
        exec_totals, by_span = fold_event_log(f, window, cores, tracer.spans)
    overhead = sum(
        (t["total_s"] for n, t in totals["unit"].items() if n.startswith("trace.")), 0.0
    )
    special = {"session.get_spark_s": get_spark_s, "trace.overhead_s": overhead}
    out = {}
    for name in PER_LAYER:
        if name in special:
            out[name] = special[name]
        elif name in exec_totals:
            out[name] = exec_totals[name]
        elif name in wl.counts:
            out[name] = float(wl.counts[name])
        else:
            span = name.removesuffix("_s")
            t = totals["unit"].get(span) or totals["setup"].get(span) or {}
            out[name] = t.get("total_s", 0.0)
    return out, totals, by_span


def _measure(args, sf_dir: str, tmp: Path) -> int:
    cores = _cores()
    _prepare_env(tmp, cores)
    from perfbench.metrics import Tracer, spans_record, summarize, tree_cpu_s
    from perfbench.workloads import WORKLOADS, Context

    tracer = Tracer(uuid.uuid4().hex[:12], enabled=bool(args.trace))
    phases: dict[str, float] = {}
    steal0 = _steal_s()
    t0 = time.perf_counter()
    spark = _start_session(tmp, event_log=bool(args.trace))
    try:
        # set-up is what the run does between a ready session and the first
        # timed call; JVM start is reported on its own (session.get_spark_s).
        # The CPU counter at session start includes the JVM's start-up.
        t1, c1 = time.perf_counter(), tree_cpu_s()
        phases["get_spark"] = t1 - t0
        cpu = {"get_spark": c1}
        wl = WORKLOADS[args.workload](Context(spark, sf_dir, tmp, ROOT, args.seed, tracer))
        wl.warm_up()
        phases["warm_up"] = time.perf_counter() - t1
        cpu["warm_up"] = tree_cpu_s() - c1
        wl.reset()

        c1 = tree_cpu_s()
        jvm0 = _jvm_proc(spark)
        window, failure = _run_unit(wl)
        jvm1 = _jvm_proc(spark)
        cpu["unit"] = tree_cpu_s() - c1
        tracer.enabled = False
        phases["timed"] = window[1] - window[0]

        t1 = time.perf_counter()
        checks, mismatches = wl.check() if failure is None else (0, [])
        phases["check"] = time.perf_counter() - t1
        failed = len(mismatches) + (failure is not None)
        attempted = wl.attempted + checks
        record: dict = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "host": {
                **_host_record(spark, sf_dir, args.seed, cores),
                "steal_s": _steal_s() - steal0,
            },
            "error_rate": failed / max(attempted, 1),
            "mismatches": mismatches,
            "phases_s": phases,
            "phases_cpu_s": cpu,
        }
        metrics: dict[str, float] = {}
        if failure is not None:
            print(failure, file=sys.stderr)
        elif args.trace:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            (event_log,) = (tmp / "eventlog").iterdir()
            metrics, record["span_totals"], by_span = _per_layer(
                tracer, wl, window, event_log, cores, phases["get_spark"]
            )
            record["spans"] = [
                {**s, **by_span.get(s["id"], {"jobs": 0, "task_run_s": 0.0})}
                for s in spans_record(tracer.spans)
            ]
        else:
            metrics = _end_to_end(cpu, wl, jvm0, jvm1)
            record["op_summary"] = {
                "wall": {**summarize(wl.samples["op"]), "samples": wl.samples["op"]},
                "cpu": {**summarize(wl.samples["op_cpu"]), "samples": wl.samples["op_cpu"]},
            }
            record["figures"] = {**wl.detail(), "jvm_peak_rss_mb": jvm1["hwm_kb"] / 1024.0}
            if wl.input_bytes_per_unit:
                record["figures"]["write_bytes_per_input_byte"] = (
                    jvm1["wchar"] - jvm0["wchar"]
                ) / wl.input_bytes_per_unit
        print(json.dumps({"perfbench": record}, default=str))
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": max(attempted, 1),
                    "failed": failed,
                    "metrics": {
                        k: {"value": v, "unit": {**END_TO_END, **PER_LAYER}[k][0]}
                        for k, v in metrics.items()
                    },
                }
            )
        )
        return 0 if failed == 0 else 1
    finally:
        _stop(spark)


def _stop(spark) -> None:
    """Stop Spark, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["query_mix", "elt_ingest", "corpus_sync"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "analytics_data_platform_spark").is_dir() or not (ROOT / "bench.py").is_file():
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from __spark_entry__ import SMOKE_SF_DIR

    sf_dir = os.environ.get("PERFBENCH_SF_DIR", str(Path(SMOKE_SF_DIR).with_name("sf0.1")))
    if not Path(sf_dir, "documents.parquet").is_file():
        print(f"perfbench: no testdata at {sf_dir}", file=sys.stderr)
        return 2

    parent = ROOT / TMP_PARENT
    parent.mkdir(exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=parent))
    try:
        return _measure(args, sf_dir, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            parent.rmdir()
        except OSError:
            pass  # another run is using it


if __name__ == "__main__":
    sys.exit(main())
