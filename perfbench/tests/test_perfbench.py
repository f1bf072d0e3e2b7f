"""Self-tests for the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import inputs, trace  # noqa: E402
from perfbench.trace import Span  # noqa: E402


def _bytes(d) -> dict[str, bytes]:
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


@pytest.mark.parametrize("write", [
    lambda d, seed: inputs.write_corpus(str(d), seed, 0.001),
    lambda d, seed: inputs.write_albedo(str(d), seed, 30, 60),
])
def test_inputs_are_a_function_of_the_seed(tmp_path, write):
    write(tmp_path / "a", 7)
    write(tmp_path / "b", 7)
    write(tmp_path / "c", 8)
    a, b, c = (_bytes(tmp_path / x) for x in "abc")
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[f] != c[f] for f in a)


def test_albedo_inputs_keep_the_pinned_users(tmp_path):
    import pyarrow.parquet as pq

    inputs.write_albedo(str(tmp_path), 5, 40, 80)
    star = pq.read_table(tmp_path / "starring.parquet").to_pandas()
    counts = star.groupby("user_id").size()
    assert all(counts.get(u, 0) >= 30 for u in inputs.CURATOR_IDS)
    assert not star.duplicated(["user_id", "repo_id"]).any()


def test_tail_picks_highest_percentile_with_ten_beyond():
    assert trace.tail([float(x) for x in range(1, 101)]) == (90.0, 90.0, 10)
    assert trace.tail([float(x) for x in range(1, 1001)]) == (99.0, 990.0, 10)
    assert trace.tail([float(x) for x in range(1, 21)]) == (50.0, 10.0, 10)


def test_tail_with_too_few_samples_falls_back_to_the_median():
    p, v, beyond = trace.tail([5.0, 1.0, 3.0, 2.0, 4.0])
    assert (p, v, beyond) == (50.0, 3.0, 2)


def test_tail_counts_only_samples_strictly_beyond():
    # ties at the percentile value are not "beyond" it
    values = [1.0] * 50 + [2.0] * 50
    assert trace.tail(values) == (50.0, 1.0, 50)


def test_self_time_subtracts_nested_children():
    spans = {
        0: Span(0, None, "outer", "outer", 0.0, 10.0, children=[1, 2, 3]),
        1: Span(1, 0, "a", "a", 1.0, 3.0, children=[4]),
        2: Span(2, 0, "b", "b", 2.0, 5.0),      # overlaps child 1
        3: Span(3, 0, "c", "c", 8.0, 12.0),     # runs past the parent
        4: Span(4, 1, "d", "d", 1.5, 2.5),      # grandchild
    }
    assert trace.length(trace.self_intervals(spans, 0)) == pytest.approx(4.0)
    assert trace.length(trace.self_intervals(spans, 1)) == pytest.approx(1.0)
    assert trace.self_intervals(spans, 4) == [(1.5, 2.5)]


def test_driver_time_is_busy_time_with_no_job_running():
    own = [(0.0, 4.0), (6.0, 10.0)]             # a child covered 4..6
    jobs = [(1.0, 2.0), (1.5, 3.0), (5.0, 7.0), (9.5, 11.0)]
    # uncovered: 0-1, 3-4, 7-9.5
    assert trace.driver_time(own, jobs) == pytest.approx(4.5)
    assert trace.driver_time(own, []) == pytest.approx(8.0)
    assert trace.driver_time(own, [(-1.0, 20.0)]) == 0.0


def test_disabled_tracer_records_nothing():
    t = trace.Tracer(None)
    with t.span("queries", "q1"):
        t.count("queries.plan_s", 1.0)
    assert t.spans == {} and t.counts == {}


class _FakeContext:
    """The two job-group calls a traced span makes."""

    def __init__(self):
        self.groups: list[str | None] = []
        self._jsc = self

    def setJobGroup(self, group, description):
        self.groups.append(group)

    def clearJobGroup(self):
        self.groups.append(None)


def test_job_groups_stay_unique_across_resets():
    # the status store keeps the jobs of earlier passes under their group
    # names, so a pass must never reuse a group of an earlier one
    sc = _FakeContext()
    t = trace.Tracer(sc)
    with t.span("io", "load"):
        pass
    before = {s.group for s in t.spans.values()}
    t.reset()
    with t.span("queries", "q1"):
        with t.span("operators.dedup", "inner"):
            pass
    after = {s.group for s in t.spans.values()}
    assert len(after) == 2 and not before & after
    assert sc.groups[-1] is None                  # cleared once no span is open
    assert sc.groups[-2] in after                 # the outer span's group again


def test_benchmark_json_lists_the_metrics_the_run_prints():
    import json

    from perfbench import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    per_layer = [f"{l}.{c}" for l in run.LAYERS for c in run.COUNTERS] + list(run.EXTRA)
    assert [m["name"] for m in spec["per_layer"]] == per_layer
    assert all(m["unit"] == run.unit(m["name"]) for m in spec["per_layer"])
    assert {m["name"] for m in spec["end_to_end"]} == set(run.RESULT_METRICS)
    assert all(m["unit"] == run.END_TO_END[m["name"]][0] for m in spec["end_to_end"])
    from perfbench.workloads import WORKLOADS

    assert set(run.WORKLOAD_NAMES) == set(WORKLOADS)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
