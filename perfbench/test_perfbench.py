"""Tests of the benchmark's own arithmetic and tracing.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402

# ---------------- the tail rule ----------------


def test_tail_is_the_value_with_ten_samples_beyond_it():
    samples = list(range(1, 101))  # 1..100
    value, pct, n = stats.tail(samples)
    assert (value, n) == (90, 100)
    assert sum(s > value for s in samples) == 10
    assert pct == pytest.approx(90.0)


def test_tail_ignores_sample_order():
    assert stats.tail([5, 1, 4, 2, 3, 9, 8, 7, 6, 10, 11, 12]) == (2, 100 * 2 / 12, 12)


def test_tail_with_ten_or_fewer_samples_is_the_maximum():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert stats.tail(list(range(10)))[0] == 9
    assert stats.tail(list(range(11)))[0] == 0


def test_tail_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.tail([])


# ---------------- unions, self time, driver gap ----------------


def test_union_merges_overlaps_and_clips():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert stats.union_length([(-5, 1), (9, 20)], 0, 10) == 2
    assert stats.union_length([(0, 10), (2, 3)], 0, 10) == 10
    assert stats.union_length([], 0, 10) == 0
    assert stats.union_length([(4, 4), (6, 5)], 0, 10) == 0


def test_self_time_subtracts_union_of_concurrent_children():
    # two threads' children overlap on [3, 5]: their union covers 6, not 8
    assert stats.self_time((0, 10), [(1, 5), (3, 7)]) == pytest.approx(4)
    # a child that outlives its parent counts only inside the parent
    assert stats.self_time((0, 10), [(8, 12)]) == pytest.approx(8)
    assert stats.self_time((0, 10), []) == 10


def test_driver_gap_is_wall_minus_union_of_jobs():
    # jobs [1,3] and [2,4] overlap; [6,7] apart: union 4 of wall 10
    assert stats.driver_gap((0, 10), [(1, 3), (2, 4), (6, 7)]) == pytest.approx(6)
    assert stats.driver_gap((0, 10), [(0, 10), (1, 2)]) == 0


# ---------------- error rate ----------------


def test_error_rate_counts_failed_over_attempted():
    assert stats.error_rate(10, 0) == 0
    assert stats.error_rate(8, 2) == 0.25


def test_error_rate_rejects_impossible_counts():
    for attempted, failed in ((0, 0), (3, 4), (3, -1)):
        with pytest.raises(ValueError):
            stats.error_rate(attempted, failed)


def test_run_pass_counts_raises_and_failed_checks_as_failures():
    class Workload:
        def ops(self, rng):
            def boom():
                raise RuntimeError("op failed")

            return [
                ("good", lambda: 1, lambda out: (True, 5)),
                ("raises", boom, lambda out: (True, 5)),
                ("wrong", lambda: 2, lambda out: (False, 5)),
                ("check_raises", lambda: 3, lambda out: 1 / 0),
            ]

        def reference_s(self):
            return None

    settled = []
    result = run.run_pass(Workload(), None, spans.NullTracer(), lambda: settled.append(1))
    assert len(settled) == 4  # before every operation
    assert [o.ok for o in result.ops] == [True, False, False, False]
    assert [o.rows for o in result.ops] == [5, 0, 0, 0]


# ---------------- spans ----------------


class _FakeContext:
    def __init__(self):
        self.props: dict[int, str | None] = {}

    def setLocalProperty(self, key, value):
        self.props[threading.get_ident()] = value


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeContext()


def _tracer() -> spans.Tracer:
    tracer = spans.Tracer(_FakeSpark())
    tracer.active = True
    return tracer


def test_pool_workers_attach_to_the_submitting_span_and_its_job_description():
    tracer = _tracer()
    seen = []

    def work():
        with tracer.span("child") as sp:
            seen.append((sp.id, tracer._sc.props[threading.get_ident()]))
            time.sleep(0.01)
            return sp.parent

    with tracer.span("parent") as parent:
        with ThreadPoolExecutor(2) as pool:
            parents = list(pool.map(lambda _: tracer.carry(work)(), range(4)))
    assert parents == [parent.id] * 4
    assert all(desc == f"{spans.DESC_PREFIX}{sid}" for sid, desc in seen)
    # every thread's description is restored once its work ends
    assert set(tracer._sc.props.values()) == {None}


def test_orphan_callback_thread_attaches_to_the_main_threads_span():
    tracer = _tracer()
    box = {}

    def callback():
        with tracer.span("callback") as sp:
            box["parent"] = sp.parent

    with tracer.span("outer") as outer:
        t = threading.Thread(target=callback)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    assert box["parent"] == outer.id


def test_layer_totals_self_time_and_job_attribution():
    parent = spans.Span(1, "a", None, 0.0, 10.0)
    kids = [spans.Span(2, "b", 1, 1.0, 5.0), spans.Span(3, "b", 1, 3.0, 7.0)]
    jobs = [
        spans.Job(0, 1.5, 2.0, f"{spans.DESC_PREFIX}2"),
        spans.Job(1, 3.5, 4.0, f"{spans.DESC_PREFIX}3"),
        spans.Job(2, 8.0, 9.0, f"{spans.DESC_PREFIX}1"),
        spans.Job(3, 8.0, 9.0, None),
    ]
    totals = spans.layer_totals([parent, *kids], jobs)
    assert totals["a"] == {"calls": 1, "self_s": pytest.approx(4.0), "jobs": 1}
    assert totals["b"] == {"calls": 2, "self_s": pytest.approx(8.0), "jobs": 2}


def test_statement_kinds():
    kind = spans.statement_kind
    assert kind("\\copy (SELECT * FROM src.t WHERE TRUE) to '/x' with (format csv)") == "export"
    assert kind("\\copy src.\"temp_1\" from '/x' with (format csv)") == "load"
    assert kind("CREATE UNIQUE INDEX a ON s.t (x)") == "index_replay"
    assert kind("ALTER TABLE s.t ADD PRIMARY KEY (id)") == "index_replay"
    assert kind("CREATE TABLE s.t (\n  id BIGINT\n)") == "ddl"
    assert kind("DROP TABLE IF EXISTS s.t") == "ddl"
    assert kind("CREATE SCHEMA IF NOT EXISTS s") == "ddl"
    assert kind("TRUNCATE s.t") == "other"


def test_read_jobs_pairs_starts_with_ends(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Properties": {"spark.job.description": "perfbench:7"}},
        {"Event": "SparkListenerStageCompleted"},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1500, "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1600},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs = {j.id: j for j in spans.read_jobs(str(tmp_path))}
    assert (jobs[0].start, jobs[0].end, spans.span_id(jobs[0].desc)) == (1.0, 3.0, 7)
    assert spans.span_id(jobs[1].desc) is None


_INSTALL_SCRIPT = """
import sys
sys.path[:0] = [{here!r}, {root!r}]
import spans
import pgcp_spark.registry, pgcp_spark.transport
from pgcp_spark.pg import catalog
from pgcp_spark.registry import all_queries

class Ctx:
    def setLocalProperty(self, k, v): pass
class Spark:
    sparkContext = Ctx()

original = catalog.table_exists
tracer = spans.Tracer(Spark())
tracer.install(pgcp_spark.transport.Transport)
assert catalog.table_exists is not original
assert catalog.table_exists.__wrapped__ is original
import pgcp_spark.transport as tr
assert tr.cat.table_exists is catalog.table_exists
# a registered query bound its helpers in closure cells at registration
fn = all_queries()["lake_atomic_group_commit_orders"].fn
cells = {{c.cell_contents.__name__: c.cell_contents for c in fn.__closure__
         if callable(getattr(c.cell_contents, "__wrapped__", None))}}
assert "merge_cdc_delta" in cells and "fold_join_view" in cells, sorted(cells)

class Client:
    def fetch(self, sql): return [(1,)]
assert catalog.table_exists(Client(), "s", "t") is True  # no self-recursion
assert [s.layer for s in tracer.spans] == ["pg.catalog"]
print("ok")
"""


def test_install_rebinds_module_globals_and_closure_cells():
    script = _INSTALL_SCRIPT.format(here=HERE, root=os.path.dirname(HERE))
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.strip().endswith("ok")


# ---------------- the benchmark definition ----------------


def test_benchmark_json_names_the_metrics_the_run_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()


def test_counts_must_repeat_across_passes_and_runs(tmp_path):
    record = str(tmp_path / "counts" / "rec.json")
    same = [{"op": {"spark.jobs": 3, "psql": {}}}] * 2
    assert run.check_repeatable(same, record) == []
    assert run.check_repeatable(same, record) == []  # matches the recorded run
    other = [{"op": {"spark.jobs": 4, "psql": {}}}]
    assert len(run.check_repeatable(other, record)) == 1
    assert len(run.check_repeatable([same[0], other[0]], str(tmp_path / "r2.json"))) == 1
