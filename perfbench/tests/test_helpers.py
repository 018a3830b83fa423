"""Tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import run, workloads
from perfbench.stats import tail
from perfbench.trace import (
    Span,
    event_log_files,
    job_group,
    parse_event_log,
    parse_group,
    read_events,
    self_time,
    self_times,
)

DATA = os.path.join(os.path.dirname(__file__), "data")
ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- tail percentile ---------------------------------------------------------

def test_tail_leaves_ten_samples_beyond():
    value, pct, n = tail([float(i) for i in range(1, 101)])
    assert (value, pct, n) == (90.0, 90.0, 100)


def test_tail_with_eleven_samples_is_the_minimum():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0]
    value, pct, n = tail(xs)
    assert value == 1.0 and n == 11
    assert sum(x > value for x in xs) == 10


def test_tail_is_order_insensitive_and_counts_ties():
    xs = [1.0] * 15 + [2.0] * 10
    assert tail(xs)[0] == 1.0
    assert tail(list(reversed(xs)))[0] == 1.0
    assert tail(xs + [3.0])[0] == 2.0


def test_tail_with_too_few_samples_reports_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert tail([]) == (0.0, 0.0, 0)


# -- span self time ------------------------------------------------------------

def test_self_time_counts_overlapping_children_once():
    parent = Span(0, "exec", "op1", 0.0, 10.0)
    kids = [
        Span(1, "job", "op1", 1.0, 4.0, 0),
        Span(2, "job", "op1", 3.0, 6.0, 0),  # overlaps the first
        Span(3, "job", "op1", 8.0, 12.0, 0),  # runs past the parent's end
        Span(4, "job", "op1", 2.0, 3.0, 0),  # nested in the first
    ]
    # covered: [1, 6] and [8, 10] -> 7 of 10 seconds
    assert self_time(parent, kids) == pytest.approx(3.0)


def test_self_times_over_a_tree():
    spans = [
        Span(0, "op", "a", 0.0, 10.0),
        Span(1, "build", "a", 0.0, 4.0, 0),
        Span(2, "exec", "a", 4.0, 10.0, 0),
        Span(3, "job", "a", 1.0, 2.0, 1),
        Span(4, "job", "a", 5.0, 9.0, 2),
        Span(5, "job", "a", 6.0, 7.0, 2),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(0.0)  # the phases account for the wall
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)


# -- event log ----------------------------------------------------------------

def test_job_group_round_trip():
    assert parse_group(job_group("query7", "build")) == ("query7", "build")
    assert parse_group("op1|exec") is None
    assert parse_group(None) is None


def test_event_log_parser_on_recorded_log():
    """A Spark 4.1 local-mode log (rolled, zstd), trimmed to the events the
    parser reads: a mapInArrow + aggregation written to the noop sink under
    job group ``op1|exec``, then a parquet schema inference under
    ``op2|build``."""
    files = event_log_files(DATA, "local-1792209205920")
    assert files and files[0].endswith(".zstd")
    jobs, stages = parse_event_log(read_events(files))
    assert sorted(jobs) == [0, 1, 2]
    assert [jobs[i].group for i in (0, 1, 2)] == ["op1|exec", "op1|exec", "op2|build"]
    assert [jobs[i].sql for i in (0, 1, 2)] == [True, True, False]
    assert all(j.ok and j.end >= j.start > 0 for j in jobs.values())
    assert jobs[1].stage_ids == [1, 2]
    assert sorted(stages) == [0, 2, 3]  # stage 1 was skipped
    s0 = stages[0].metrics
    assert s0["data sent to Python workers"] == 327984
    assert s0["data returned from Python workers"] == 320448
    assert s0["time to run Python workers"] == 4071
    assert s0["number of output rows"] == 20000 + 20000 + 14  # three operators, summed by name
    assert s0["internal.metrics.input.recordsRead"] == 20000
    assert stages[0].tasks == 2
    assert stages[2].peak_task_memory == 67370992
    assert stages[2].metrics["internal.metrics.shuffle.read.localBytesRead"] == 343


def test_stage_metrics_and_job_attribution():
    files = event_log_files(DATA, "local-1792209205920")
    jobs, stages = parse_event_log(read_events(files))
    for j in jobs.values():  # give the recorded jobs benchmark groups
        op, phase = j.group.split("|")
        j.group = job_group(op, phase)
    groups = run._jobs_by_op(jobs, stages, {"op1", "op2"})
    assert sorted(groups) == ["op1", "op2"]
    exec_jobs, exec_stages = groups["op1"]["exec"]
    assert [j.job_id for j in exec_jobs] == [0, 1]
    assert [s.stage_id for s in exec_stages] == [0, 2]
    common = run._layer_common(groups, 1)
    assert common["pyboundary.bytes_sent"] == 327984
    assert common["pyboundary.run_s"] == pytest.approx(4.071)
    assert common["exec.shuffle_write_bytes"] == 343
    assert common["exec.shuffle_read_bytes"] == 343


# -- failures are counted, not dropped -----------------------------------------

class _FakeSc:
    def __init__(self):
        self.props = {}
        self.tags = set()

    def setLocalProperty(self, k, v):
        self.props[k] = v

    def addJobTag(self, t):
        self.tags.add(t)

    def removeJobTag(self, t):
        self.tags.discard(t)

    def cancelJobsWithTag(self, t):
        pass


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeSc()


class _Query:
    def __init__(self, fn):
        self.fn = fn
        self.oracle = "SELECT 1"


class _Frame:
    def toPandas(self):
        return "rows"


def _ctx(qs):
    ctx = workloads.Ctx(ROOT, "/nonexistent", "sf", seed=3, tracer=None)
    ctx.spark = _FakeSpark()
    ctx.qs = qs
    return ctx


def test_raising_query_is_counted_as_failed():
    def boom(spark, sf):
        raise RuntimeError("planner exploded")

    qs = {n: _Query(lambda spark, sf: _Frame()) for n in workloads.TPCH_QUERIES}
    qs["q9_product_type_profit"] = _Query(boom)
    class TpchOnly(workloads.TpchPipeline):
        queries = workloads.TPCH_QUERIES
        io_formats = ()

    wl = TpchOnly(_ctx(qs))
    wl.prepare()
    ops = wl.measure(seconds=0.0, deadline=0.0)
    assert len(ops) == len(workloads.TPCH_QUERIES)  # one pass, nothing dropped
    bad = [o for o in ops if not o["ok"]]
    assert [o["name"] for o in bad] == ["q9_product_type_profit"]
    assert "planner exploded" in bad[0]["error"]
    assert wl.ctx.sc.props["spark.jobGroup.id"] is None and not wl.ctx.sc.tags

    checks = [{"check": "oracle:q1", "ok": True, "detail": ""}]
    attempted, failures = run.outcome(ops, checks)
    assert attempted == len(ops) + 1 and len(failures) == 1

    figures, notes = run.end_to_end(ops, 1.0, engine_cpu_s=11.0,
                                    ops_per_pass=len(workloads.TPCH_QUERIES), limit_s=60.0)
    # the failed query misses every latency limit: it counts as the limit
    assert notes["wall.op_samples"] == len(ops)
    assert max(o["end"] - o["start"] for o in ops) < 60.0
    lat = sorted([60_000.0] + [1000 * (o["end"] - o["start"]) for o in ops if o["ok"]])
    assert figures["wall.op_tail_ms"] == tail(lat)[0]
    assert figures["wall.throughput_ops_per_s"] > 0
    assert figures["suite_cpu_s"] == pytest.approx(11.0)  # one full pass


def test_failed_check_is_counted():
    ops = [{"op": "q1", "name": "q", "kind": "query", "pass": 0, "start": 0.0,
            "end": 1.0, "ok": True}]
    checks = [{"check": "oracle:q", "ok": False, "detail": "row counts differ"}]
    attempted, failures = run.outcome(ops, checks)
    assert attempted == 2 and failures == [{"check": "oracle:q", "detail": "row counts differ"}]


# -- output comparison -------------------------------------------------------------

def test_frames_match_is_order_insensitive_and_tolerates_last_bits():
    pa = pytest.importorskip("pyarrow")
    want = pa.table({"k": ["a", "b", "c"], "v": [0.1 + 0.2, 2.0, 3.0]})
    got = pa.table({"v": [3.0, 0.3, 2.0], "k": ["c", "a", "b"]})  # 0.3 != 0.1 + 0.2
    assert workloads.frames_match(want, want) == (True, "")
    assert workloads.frames_match(got, want)[0]
    assert not workloads.frames_match(got.slice(0, 2), want)[0]
    wrong = pa.table({"v": [3.0, 0.3, 2.5], "k": ["c", "a", "b"]})
    ok, detail = workloads.frames_match(wrong, want)
    assert not ok and "2.5" in detail


# -- Flight SQL layer split --------------------------------------------------------

def test_flight_layers_count_only_requests_inside_the_window():
    from perfbench.trace import Tracer

    tracer = Tracer()
    for i, (t0, plan_s, info_s) in enumerate([(1.0, 0.1, 0.3), (2.0, 0.3, 0.5), (9.0, 5.0, 5.0)]):
        op = f"req{i}"
        root = tracer.add("request", op, t0, t0 + plan_s + info_s)
        tracer.add("plan", op, t0, t0 + plan_s, parent=root)
        tracer.add("get_info", op, t0 + plan_s, t0 + plan_s + info_s, parent=root)
    ops = [{"op": "r0", "start": 1.0, "end": 1.5, "ok": True},
           {"op": "r1", "start": 2.0, "end": 3.0, "ok": True}]
    # the third request (the output check's) starts after the last timed one ended
    out = run.flight_layers(tracer, ops, {}, {})
    assert out["plan.s"] == pytest.approx(0.2)
    assert out["exec.s"] == pytest.approx(0.4)
    assert out["plan.share"] == pytest.approx(0.4 / 1.2)


# -- the contract file matches what the runner prints ----------------------------

def test_benchmark_json_matches_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(workloads.WORKLOADS)


# -- compare tool ------------------------------------------------------------------

def _record(source: str, seed: int, jobs: float, wall: float) -> dict:
    return {
        "workload": "tpch_pipeline", "seed": seed, "trace": 1,
        "provenance": {"source_sha256": source},
        "metrics": {"exec.jobs": {"value": jobs, "unit": "count"},
                    "exec.s": {"value": wall, "unit": "s"}},
    }


def test_compare_flags_count_that_differs_on_a_repeat():
    from perfbench.compare import compare

    counts, timings, flagged = compare(_record("abc", 1, 113, 18.0), _record("abc", 1, 114, 19.0))
    assert flagged and counts == [("exec.jobs", "count", 113, 114, "NON-DETERMINISTIC")]
    assert timings == [("exec.s", "s", 18.0, 19.0, pytest.approx(19.0 / 18.0))]


def test_compare_reports_changed_count_across_commits():
    from perfbench.compare import compare

    counts, _, flagged = compare(_record("abc", 1, 113, 18.0), _record("def", 1, 90, 15.0))
    assert not flagged and counts[0][-1] == "CHANGED"
    counts, _, flagged = compare(_record("abc", 1, 113, 18.0), _record("abc", 2, 113, 15.0))
    assert not flagged and counts[0][-1] == "same"


# -- process lifetime ------------------------------------------------------------

def test_stop_process_tree_waits_for_orphaned_grandchildren():
    """A child that leaves grandchildren running and exits: the run adopts
    them, stops them and reaps every one before it returns."""
    script = (
        "import subprocess\n"
        "from perfbench import run\n"
        "run._become_subreaper()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 & sleep 60 & exit 0'], check=True)\n"
        "before = len(run._descendants())\n"
        "run.stop_process_tree(grace_s=0.2)\n"
        "print(before, len(run._descendants()))\n"
    )
    out = subprocess.run([sys.executable, "-c", script], cwd=ROOT, capture_output=True,
                         text=True, timeout=30, check=True).stdout.split()
    assert out == ["2", "0"]
