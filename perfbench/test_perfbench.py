"""Unit tests of the benchmark's own helpers (no Spark session).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import compare  # noqa: E402
from report import (  # noqa: E402
    TooFewSamples,
    min_samples,
    output_line,
    percentile,
)
from spans import (  # noqa: E402
    Span,
    Tracer,
    job_groups,
    parse_event_log,
    self_times,
    sum_groups,
)

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures",
                       "eventlog_small.jsonl")


# -- the percentile rule ------------------------------------------------
def test_min_samples_leaves_ten_beyond():
    assert min_samples(50) == 20
    assert min_samples(90) == 100
    assert min_samples(99) == 1000


def test_percentile_refuses_too_few_samples():
    with pytest.raises(TooFewSamples):
        percentile(list(range(19)), 50)
    with pytest.raises(TooFewSamples):
        percentile(list(range(99)), 90)


def test_percentile_values():
    xs = [float(x) for x in range(1, 21)]  # 1..20
    assert percentile(xs, 50) == 10.5
    assert percentile(list(reversed(xs)) + [21.0], 50) == 11.0
    ys = list(range(1, 101))
    assert percentile(ys, 90) == 90  # ten samples (91..100) beyond it


# -- span self time ----------------------------------------------------
def _s(i, parent, t0, t1, layer="x"):
    return Span(i, parent, f"s{i}", layer, t0, t1)


def test_self_time_nested_and_overlapping_children():
    spans = [
        _s(1, None, 0.0, 10.0),
        _s(2, 1, 1.0, 4.0),
        _s(3, 1, 3.0, 6.0),  # overlaps 2: the union 1..6 counts once
        _s(4, 2, 1.5, 2.0),
        _s(5, 1, 9.0, 12.0),  # runs past its parent: clipped at 10
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)
    assert st[5] == pytest.approx(3.0)


def test_self_times_of_a_tree_sum_to_its_wall():
    spans = [_s(1, None, 0.0, 8.0), _s(2, 1, 1.0, 3.0), _s(3, 2, 1.5, 2.5),
             _s(4, 1, 5.0, 7.0)]
    assert sum(self_times(spans).values()) == pytest.approx(8.0)


def test_tracer_shim_records_and_restores():
    class Store:
        def read(self, x):
            return x + 1

    orig = Store.read
    tr = Tracer()
    with tr.span("root", "bench") as root:
        tr.shim(Store, "read", "tablestore")
        assert Store().read(1) == 2
        assert Store().read(2) == 3
        tr.uninstall()
        assert Store().read(3) == 4
    assert Store.read is orig
    names = [s.name for s in tr.subtree(root)]
    assert sorted(names) == ["root", "tablestore.read", "tablestore.read"]
    assert all(s.parent == root.id for s in tr.spans if s is not root)


# -- event-log parsing -------------------------------------------------
def test_parse_event_log_fixture():
    with open(FIXTURE) as fh:
        g = parse_event_log(fh)
    a = g["pb-7"]
    assert (a["jobs"], a["stages"], a["tasks"]) == (1, 2, 3)
    assert a["executor_run_s"] == pytest.approx(0.5)
    assert a["executor_cpu_s"] == pytest.approx(0.4)
    assert a["gc_s"] == pytest.approx(0.015)
    assert a["shuffle_read_bytes"] == 3172
    assert a["shuffle_write_bytes"] == 3072
    assert a["spill_bytes"] == 768
    # stage 1 was submitted by job 0 first; job 1 owns only stage 2
    b = g["pb-9"]
    assert (b["jobs"], b["stages"], b["tasks"]) == (1, 1, 1)
    assert g[None]["jobs"] == 1
    tot = sum_groups(g, ["pb-7", "pb-9", "pb-11", "pb-9"])  # a repeat counts once
    assert tot["tasks"] == 4
    assert tot["executor_run_s"] == pytest.approx(0.55)


def test_job_groups_include_groups_spark_chose():
    drain = Span(3, None, "ingest.drain.ta", "pipeline", 0.0, 1.0,
                 {"job_groups": ["0f1e-run-id"]})
    assert job_groups([drain, _s(4, 3, 0.2, 0.4)]) == ["pb-3", "0f1e-run-id", "pb-4"]


class _FakeContext:
    """The two SparkContext calls the tracer makes, on one thread."""

    def __init__(self):
        self.props = {}

    def getLocalProperty(self, k):
        return self.props.get(k)

    def setLocalProperty(self, k, v):
        if v is None:
            self.props.pop(k, None)
        else:
            self.props[k] = v


def test_span_restores_the_job_group_it_found():
    sc = _FakeContext()
    sc.props["spark.jobGroup.id"] = "stream-run-id"  # set by Spark itself
    tr = Tracer(sc)
    with tr.span("outer", "bench") as outer:
        assert sc.props["spark.jobGroup.id"] == f"pb-{outer.id}"
        with tr.span("inner", "tablestore") as inner:
            assert sc.props["spark.jobGroup.id"] == f"pb-{inner.id}"
        assert sc.props["spark.jobGroup.id"] == f"pb-{outer.id}"
    assert sc.props["spark.jobGroup.id"] == "stream-run-id"
    assert tr.bookkeeping_s > 0


# -- the output line ---------------------------------------------------
def test_output_line_shape():
    line = output_line(True, 30, 1, {"setup_s": (1.25, "s"), "op_p50_ms": (7, "ms")})
    o = json.loads(line)
    assert list(o) == ["correct", "attempted", "failed", "metrics"]
    assert o["correct"] is True and o["attempted"] == 30 and o["failed"] == 1
    assert o["metrics"]["setup_s"] == {"value": 1.25, "unit": "s"}
    assert isinstance(o["metrics"]["op_p50_ms"]["value"], float)
    assert "\n" not in line


@pytest.mark.parametrize(
    "attempted, failed, metrics",
    [(0, 0, {}), (3, 4, {}), (1, 0, {"x": (float("nan"), "s")})],
)
def test_output_line_refuses_bad_counts_and_values(attempted, failed, metrics):
    with pytest.raises(ValueError):
        output_line(True, attempted, failed, metrics)


# -- comparison refuses mixed core counts ------------------------------
def _record(workload, cores, value):
    return {"context": {"workload": workload, "nproc": cores, "cores": cores},
            "end_to_end": {"throughput_per_s": value}}


def test_compare_refuses_different_core_counts():
    with pytest.raises(compare.Incomparable):
        compare.compare([_record("ingest", 4, 1.0)], [_record("ingest", 8, 1.0)],
                        {"throughput_per_s": ("higher", 0.1)})


def test_compare_flags_a_regression_beyond_its_bound():
    base = [_record("ingest", 4, v) for v in (100.0, 101.0, 99.0)]
    new = [_record("ingest", 4, v) for v in (80.0, 81.0, 79.0)]
    rows = compare.compare(base, new, {"throughput_per_s": ("higher", 0.1)})
    assert rows == [("ingest", "throughput_per_s", 100.0, 80.0, pytest.approx(0.2), False)]


# -- BENCHMARK.json names exactly what run.py prints -------------------
def test_benchmark_json_matches_the_metrics_run_prints():
    import run

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["ingest", "analytics"]


def test_each_per_layer_metric_is_measured_on_some_workload():
    import run

    off = {w: set(run.not_measured(w)) for w in ("ingest", "analytics")}
    assert off["ingest"] and off["analytics"]
    assert not off["ingest"] & off["analytics"]
    assert "spark.jobs" not in off["ingest"] | off["analytics"]
    assert "scaling.ingest_frames_per_s_1c" in off["analytics"]
    assert "queries.build_s" in off["ingest"]


def test_reference_tables_fail_on_a_changed_digest(tmp_path):
    import inputs
    import workloads

    man = inputs.reference_tables(workloads.ANALYTICS_TABLES,
                                  workloads.ANALYTICS_TABLES_SHA256)
    assert man["rows"]["region"] == 5 and len(man["rows"]) == 10
    with pytest.raises(inputs.DigestMismatch):
        inputs.reference_tables(workloads.ANALYTICS_TABLES, "0" * 64)


def test_tree_cpu_counts_this_process_and_reaped_children():
    import subprocess
    import time

    from report import tree_cpu_s

    before = tree_cpu_s()
    t_end = time.process_time() + 0.2
    while time.process_time() < t_end:
        pass
    subprocess.run([sys.executable, "-c",
                    "import time\nt=time.process_time()+0.2\n"
                    "while time.process_time()<t: pass"], check=True)
    assert tree_cpu_s() - before >= 0.35


def test_inputs_generate_once_and_fail_on_a_changed_file(tmp_path):
    import inputs

    calls = []

    def gen(p):
        calls.append(p)
        os.makedirs(p)
        with open(os.path.join(p, "a.parquet"), "w") as fh:
            fh.write("rows")
        return {"rows": 1}

    path = str(tmp_path / "in")
    first = inputs.ensure(path, {"seed": 1}, gen)
    again = inputs.ensure(path, {"seed": 1}, gen)
    assert len(calls) == 1 and again["gen_now_s"] == 0.0
    assert again["digest"] == first["digest"] and again["rows"] == 1
    with open(os.path.join(path, "a.parquet"), "a") as fh:
        fh.write("!")
    with pytest.raises(inputs.DigestMismatch):
        inputs.ensure(path, {"seed": 1}, gen)
    inputs.ensure(path, {"seed": 2}, gen)  # another spec regenerates
    assert len(calls) == 2
