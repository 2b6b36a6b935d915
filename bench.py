#!/usr/bin/env python
"""Benchmark harness: runs the headline query set and prints ONE JSON line.

Env:
  SPARK_GRAFT_SF_DIR  parquet dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[] parallelism (default all cores)

Each query is materialized with the noop DataSourceV2 sink — full plan
execution (scan → shuffle → compute) without driver-side collect, which is
how the query would behave feeding a real table write.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from analytics_data_platform_spark.queries import all_queries
from analytics_data_platform_spark.session import get_spark


def heavy_envelope_alerts(
    heavy: dict[str, float], hb: dict
) -> tuple[dict[str, float], dict[str, float]]:
    """Heavy-envelope check: each heavy query vs its best recorded time.
    Returns ``(alerts, excused)``.

    Three alert classes (importable so tests can inject regressions):
    - per-query SKEW: ratio > alert_ratio x the fleet MEDIAN ratio (host
      slowness inflates every query by a common factor; a real regression
      skews one) — never below the absolute alert_ratio;
    - hard cap: ratio > hard_cap, no host story excuses it;
    - FLEET-level: geometric mean of all ratios > alert_ratio (reported
      as ``__fleet__``) — a correlated real regression (session conf,
      snapshot layer) slows every query uniformly and would otherwise be
      absorbed by the median normalization above. Host load trips this
      too; that is what SPARK_GRAFT_HEAVY_JUSTIFY exists to record.

    ``excused`` records every query whose ratio exceeded alert_ratio but
    was absorbed by the median/fleet normalization — written into the
    bench JSON (``heavy_excused``) with the calib probes so a committed
    artifact is self-explaining (the r9 13.23 s streaming outlier rode a
    silent artifact until the next round's judge re-ran it)."""
    import math
    import statistics

    alerts: dict[str, float] = {}
    excused: dict[str, float] = {}
    ratio_limit = float(hb.get("alert_ratio", 1.5))
    hard_cap = float(hb.get("hard_cap", 3.0))
    ratios = {
        n: heavy[n] / float(b) for n, b in hb.get("best", {}).items() if n in heavy
    }
    if not ratios:
        return alerts, excused
    med = statistics.median(ratios.values())
    for name, ratio in ratios.items():
        if ratio > ratio_limit * max(1.0, med) or ratio > hard_cap:
            alerts[name] = round(ratio, 2)
        elif ratio > ratio_limit:
            excused[name] = round(ratio, 2)
    gmean = math.exp(sum(math.log(r) for r in ratios.values()) / len(ratios))
    if gmean > ratio_limit:
        alerts["__fleet__"] = round(gmean, 2)
    return alerts, excused


def host_calibration(spark) -> dict[str, float]:
    """Fixed, data-independent reference jobs so a recorded artifact can
    be read against the host it ran on (observed: identical code, 1.8-2.8×
    heavy-query spread between boots — co-tenant noise + JIT lottery).
    Two probes, min of 2 each:
    - cpu_sec: one-partition codegen'd arithmetic fold (single-core speed
      + scheduler latency, no shuffle, no disk);
    - shuffle_sec: small fixed hash aggregation (exchange + task-launch
      overhead path).
    Calibration values SCALE the interpretation of the other numbers;
    they are deliberately not used to rescale them (raw seconds stay
    honest)."""
    calib: dict[str, float] = {}
    for key, job in (
        (
            "cpu_sec",
            lambda: spark.range(0, 20_000_000, 1, 1)
            .selectExpr("sum(id * 2654435761 % 1000003) AS s")
            .write.format("noop")
            .mode("overwrite")
            .save(),
        ),
        (
            "shuffle_sec",
            lambda: spark.range(0, 2_000_000, 1, 8)
            .selectExpr("id % 97 AS k", "id AS v")
            .groupBy("k")
            .sum("v")
            .write.format("noop")
            .mode("overwrite")
            .save(),
        ),
    ):
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            job()
            best = min(best, time.perf_counter() - t0)
        calib[key] = round(best, 3)
    return calib


def compile_counters(spark) -> dict[str, int]:
    """The driver JVM's cumulative compile work: classes Janino compiled for
    whole-stage codegen (a codegen-cache miss each) and milliseconds its JIT
    compiler threads spent. A repeat of an already-run query set should add
    no Janino compiles (see ``session.CODEGEN_CACHE``)."""
    jvm = spark._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return {
        "codegen_compiles": int(metrics.METRIC_COMPILATION_TIME().getCount()),
        "jit_compile_ms": int(jit.getTotalCompilationTime()),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(Path(sf_dir).name.replace("sf", "") or 0.1)
    spark = get_spark(app_name="adps-bench")
    specs = {n: s for n, s in all_queries().items() if s.bench}

    timings: dict[str, float] = {}
    # one warmup pass on the smallest query to absorb JVM/codegen startup
    warm = specs.get("q6_forecast_revenue") or next(iter(specs.values()))
    warm.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # per-query time = min of 2 runs (steady state: the first run carries
    # one-off plan-compile/codegen cost, and local[32] wall-clock jitters
    # ±15% run-to-run); total = sum of the reported per-query times
    for name, spec in sorted(specs.items()):
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
    total = round(sum(timings.values()), 3)

    # non-gating breadth section: the engine's real heavyweights (pipeline,
    # streaming, ANN, incremental refresh) under-represented by the r1
    # headline set — recorded per round so regressions in the heavy
    # families are visible without moving the 2x-envelope goalposts
    # (`value` stays the original 12-query total). min of 2 runs, same
    # protocol as the headline set: a single cold run measures
    # plan-compile/codegen jitter as much as execution (observed 2x+
    # run-to-run spread on the same host), which would flap the
    # HEAVY_BASELINE envelope gate. Each run rebuilds the query from fn()
    # and re-executes its internal state ticks/writes in fresh temp dirs,
    # so AQE stage reuse cannot fake the second run.
    heavy: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_HEAVY", "1") != "0":
        registry = all_queries()
        for name in (
            "training_pipeline_manifest",
            "incremental_pipeline_refresh",
            "streaming_interval_join_stats",
            "ivf_pq_adc_topk",
            # round-10: the serving loop on the manifest-changelog path —
            # three state ticks + index maintenance + ranked serving
            "serving_index_corpus_sync",
        ):
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                registry[name].fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
            heavy[name] = round(best, 3)

    # heavy-envelope check: each heavy query vs its best recorded time
    # (HEAVY_BASELINE.json). Alerts ride the JSON every run; with
    # SPARK_GRAFT_HEAVY_GATE=1 (preflight --full) they fail the run unless
    # SPARK_GRAFT_HEAVY_JUSTIFY records why the regression is acceptable.
    heavy_alerts: dict[str, float] = {}
    heavy_excused: dict[str, float] = {}
    baseline_path = Path(__file__).resolve().parent / "HEAVY_BASELINE.json"
    if heavy and baseline_path.exists() and sf == 0.1:
        heavy_alerts, heavy_excused = heavy_envelope_alerts(
            heavy, json.loads(baseline_path.read_text())
        )

    # read before the calib probes, which compile code of their own
    env = {
        "cpus": len(os.sched_getaffinity(0)),
        "defaultParallelism": spark.sparkContext.defaultParallelism,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        **compile_counters(spark),
    }
    calib = host_calibration(spark)
    print(
        json.dumps(
            {
                "metric": "headline_queries_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "heavy": heavy,
                "heavy_alerts": heavy_alerts,
                # > alert_ratio but absorbed by the median/fleet rule: the
                # calib probes ride along so the artifact reads standalone
                "heavy_excused": (
                    {"ratios": heavy_excused, "calib": calib} if heavy_excused else {}
                ),
                "calib": calib,
                "sf": sf,
                # additive: the host and the JVM's compile work behind the figures
                "env": env,
            }
        )
    )
    spark.stop()
    if heavy_alerts and os.environ.get("SPARK_GRAFT_HEAVY_GATE") == "1":
        justify = os.environ.get("SPARK_GRAFT_HEAVY_JUSTIFY")
        if justify:
            print(f"heavy envelope exceeded, justified: {justify}", file=sys.stderr)
        else:
            print(
                "heavy envelope exceeded (>1.5x best recorded) for "
                f"{sorted(heavy_alerts)} — fix the regression or set "
                "SPARK_GRAFT_HEAVY_JUSTIFY with the reason",
                file=sys.stderr,
            )
            raise SystemExit(3)


if __name__ == "__main__":
    main()
