"""Spark-free tests of the benchmark's statistics, spans, event-log folding
and CPU accounting."""

import subprocess
import sys
import time
from pathlib import Path

import pytest

from perfbench.metrics import (
    EXEC_KEYS,
    Span,
    Tracer,
    fold_event_log,
    innermost_span,
    percentile,
    self_times,
    span_totals,
    summarize,
    tail_percentile,
    tree_cpu_s,
    valid_metric_name,
)

FIXTURE = Path(__file__).parent / "fixtures" / "eventlog.jsonl"
# the recorded log holds two jobs: job 0 (stages 0-1, four tasks, one
# shuffle) submitted at ...926.707 and job 1 (stage 2, one task) at ...928.523
JOB0_WINDOW = (1792215922.86, 1792215927.99)
JOB1_WINDOW = (1792215928.29, 1792215928.63)


def test_percentile_interpolates_linearly():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize(
    ("n", "pct"),
    [(1, 50.0), (13, 50.0), (20, 50.0), (40, 75.0), (100, 90.0), (1000, 90.0)],
)
def test_tail_keeps_ten_samples_beyond_it(n, pct):
    assert tail_percentile(n) == pct
    if pct > 50.0:
        assert n * (1 - pct / 100) >= 10 - 1e-9


def test_summarize_reports_median_tail_and_count():
    xs = [float(i) for i in range(1, 41)]
    s = summarize(xs)
    assert s["n"] == 40
    assert s["p50"] == 20.5
    assert s["tail_pct"] == 75.0
    assert s["tail"] == percentile(xs, 75.0)
    small = summarize([3.0, 1.0, 2.0])
    assert small["tail"] == small["p50"] == 2.0


@pytest.mark.parametrize(
    "name",
    ["setup_s", "op_p50_s", "exec.task_run_s", "tables.snapshots.bytes", "a-b.c_1", "9lives"],
)
def test_valid_metric_names(name):
    assert valid_metric_name(name)


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "p90%", "x" * 65])
def test_invalid_metric_names(name):
    assert not valid_metric_name(name)


def test_self_time_subtracts_covered_child_intervals():
    spans = [
        Span(0, "tick", 0.0, 10.0, None, "r"),
        Span(1, "refresh", 1.0, 4.0, 0, "r"),
        Span(2, "changelog", 3.0, 5.0, 0, "r"),  # overlaps refresh by 1 s
        Span(3, "inner", 1.5, 2.0, 1, "r"),  # grandchild: not the tick's direct child
        Span(4, "serve", 9.0, 12.0, 0, "r"),  # runs past its parent: clipped
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 1.0))  # [1,5] and [9,10] covered
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(0.5)
    totals = span_totals(spans)
    assert totals["refresh"] == {"calls": 1, "total_s": 3.0, "self_s": pytest.approx(2.5)}


def test_tracer_nests_spans_and_disabled_tracer_records_nothing():
    ticks = iter(float(t) for t in range(10))
    tr = Tracer("run1", clock=lambda: next(ticks))
    with tr.span("unit"):
        with tr.span("op"):
            pass
    unit, op = tr.spans
    assert (unit.start, unit.end, unit.parent) == (0.0, 3.0, None)
    assert (op.start, op.end, op.parent, op.run_id) == (1.0, 2.0, unit.id, "run1")
    off = Tracer("run2", enabled=False)
    with off.span("unit") as s:
        assert s is None
    assert off.spans == []


def test_innermost_span_picks_deepest_open_span():
    spans = [Span(0, "a", 0.0, 10.0, None, "r"), Span(1, "b", 2.0, 4.0, 0, "r")]
    assert innermost_span(spans, 3.0).id == 1
    assert innermost_span(spans, 5.0).id == 0
    assert innermost_span(spans, 11.0) is None


def test_fold_event_log_window_totals():
    with open(FIXTURE) as f:
        totals, _ = fold_event_log(f, JOB0_WINDOW, cores=2)
    assert set(totals) == set(EXEC_KEYS)
    assert totals["exec.jobs"] == 1
    assert totals["exec.stages"] == 2
    assert totals["exec.tasks"] == 4
    assert totals["exec.task_run_s"] == pytest.approx((396 + 393 + 147 + 159) / 1000)
    assert totals["exec.task_cpu_s"] == pytest.approx(
        (204080937 + 140063215 + 79081259 + 70025369) / 1e9
    )
    assert totals["exec.gc_s"] == pytest.approx(0.080)
    # launch minus stage submission: 218 + 247 + 28 + 23 ms
    assert totals["exec.task_wait_s"] == pytest.approx(0.516)
    assert totals["exec.shuffle_write_bytes"] == 397
    assert totals["exec.shuffle_read_bytes"] == 397
    assert totals["exec.spill_bytes"] == 0
    wall = JOB0_WINDOW[1] - JOB0_WINDOW[0]
    assert totals["exec.core_util"] == pytest.approx(1.095 / (wall * 2))


def test_fold_event_log_excludes_jobs_outside_the_window():
    with open(FIXTURE) as f:
        totals, _ = fold_event_log(f, JOB1_WINDOW, cores=2)
    assert (totals["exec.jobs"], totals["exec.stages"], totals["exec.tasks"]) == (1, 1, 1)
    assert totals["exec.task_run_s"] == pytest.approx(0.044)
    assert totals["exec.shuffle_write_bytes"] == 0


def test_fold_event_log_attributes_jobs_to_innermost_span():
    spans = [
        Span(0, "unit", 1792215922.0, 1792215929.0, None, "r"),
        Span(1, "queries.build", 1792215926.5, 1792215927.9, 0, "r"),
    ]
    with open(FIXTURE) as f:
        _, by_span = fold_event_log(f, (1792215922.0, 1792215929.0), cores=2, spans=spans)
    assert by_span[1] == {"jobs": 1, "task_run_s": pytest.approx(1.095)}
    assert by_span[0] == {"jobs": 1, "task_run_s": pytest.approx(0.044)}


BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\n"


def test_tree_cpu_counts_live_and_reaped_descendants():
    c0 = tree_cpu_s()
    subprocess.run([sys.executable, "-c", BURN], check=True)  # reaped: our cutime
    c1 = tree_cpu_s()
    assert c1 - c0 >= 0.25
    child = subprocess.Popen([sys.executable, "-c", BURN + "time.sleep(30)"])
    try:
        deadline = time.time() + 10  # the child burns its 0.3 s, then sleeps
        while tree_cpu_s(root=child.pid) < 0.25 and time.time() < deadline:
            time.sleep(0.05)
        assert child.poll() is None
        assert tree_cpu_s() - c1 >= 0.25
    finally:
        child.kill()
        child.wait()
