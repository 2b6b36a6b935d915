"""BENCHMARK.json matches what run.py prints, and the run's exit contract."""

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import run
from perfbench.metrics import valid_metric_name

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_benchmark_json_lists_exactly_the_printed_metrics():
    e2e = {m["name"]: (m["unit"], m["better"]) for m in SPEC["end_to_end"]}
    layers = {m["name"]: (m["unit"], m["better"]) for m in SPEC["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_metric_and_workload_names_are_valid():
    names = [*run.END_TO_END, *run.PER_LAYER]
    names += [w["name"] for w in SPEC["workloads"]]
    assert all(valid_metric_name(n) for n in names)
    assert len(set(names)) == len(names)
    assert {w["name"] for w in SPEC["workloads"]} <= {"query_mix", "elt_ingest", "corpus_sync"}


def test_run_without_engine_fails_without_a_result(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench")
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""


def test_per_layer_takes_unit_spans_setup_only_layers_counts_and_executor_totals():
    from types import SimpleNamespace

    from perfbench.metrics import Span, Tracer

    fixture = Path(__file__).parent / "fixtures" / "eventlog.jsonl"
    window = (1792215922.86, 1792215927.99)  # holds the fixture's job 0
    tracer = Tracer("r")
    tracer.spans = [
        Span(0, "operators.search_index.build", 1792215920.0, 1792215921.5, None, "r"),
        Span(1, "pipelines.incremental.refresh", 1792215920.0, 1792215921.0, None, "r"),
        Span(2, "pipelines.incremental.refresh", 1792215923.0, 1792215927.0, None, "r"),
        Span(3, "trace.catalyst", 1792215927.0, 1792215927.25, None, "r"),
    ]
    wl = SimpleNamespace(counts={"tables.snapshots.versions": 13})
    out, totals, by_span = run._per_layer(tracer, wl, window, fixture, 2, get_spark_s=7.5)
    assert set(out) == set(run.PER_LAYER)
    assert out["pipelines.incremental.refresh_s"] == 4.0  # the unit's span, not set-up's
    assert out["operators.search_index.build_s"] == 1.5  # runs only in set-up
    assert out["trace.overhead_s"] == 0.25
    assert out["session.get_spark_s"] == 7.5
    assert out["tables.snapshots.versions"] == 13.0
    assert out["exec.jobs"] == 1 and out["exec.tasks"] == 4
    assert out["queries.build_s"] == 0.0
    assert totals["setup"]["pipelines.incremental.refresh"]["total_s"] == 1.0
    assert by_span == {2: {"jobs": 1, "task_run_s": pytest.approx(1.095)}}
