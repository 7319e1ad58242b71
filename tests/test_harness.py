"""The shared measurement harness (tools/harness.py) and its entry points.

No Spark session required: the entry points are imported, never run,
and the timed run is driven with a stand-in session and DataFrame.
"""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

from iceberg_daq_spark.queries import llm
from tools import harness

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ENTRY_POINTS = [
    "bench.py",
    "stress_bench.py",
    "tools/ab_bench.py",
    "tools/dump_plans.py",
    "tools/plan_audit.py",
]


@pytest.mark.parametrize("path", ENTRY_POINTS)
def test_entry_point_imports(path):
    name = "entry_" + os.path.basename(path)[:-3]
    spec = importlib.util.spec_from_file_location(name, os.path.join(REPO, path))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(mod.main)


def _record(n_queries: int, n_regressions: int) -> dict:
    queries = {
        f"q{i:02d}_{'query_name'[: 4 + i % 7]}": round(0.3 + (i * 0.7371) % 9, 3)
        for i in range(1, n_queries + 1)
    }
    regressions = {
        k: [round(v / 3, 3), v] for k, v in list(queries.items())[:n_regressions]
    }
    out = {
        "metric": "query_suite_wall_clock",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "cpus": 32,
        "subset_q01_q61": 123.456,
        "floor_sec": 31.123,
        "probe_sec": 4.321,
        "streaming": {
            "frames": 3840000,
            "streams": 24,
            "wall_sec": 1.234,
            "frames_per_sec": 3111831,
            "samples_per_sec": 199157212,
            "e2e_wall_sec": 1.987,
            "e2e_frames_per_sec": 1932562,
        },
    }
    if regressions:
        out["regressions"] = regressions
    return out


def test_emit_line_fits_window_and_keeps_queries():
    # a small record goes out verbatim
    small = _record(5, 2)
    assert harness.emit_line(small) == json.dumps(small, separators=(",", ":"))
    # the full suite plus a cross-core flood of regressions: the
    # regression map shrinks, the per-query record survives
    line = harness.emit_line(_record(262, 60))
    assert len(line) <= harness.TAIL_WINDOW
    got = json.loads(line)
    assert got["queries"]
    assert got["regressions_dropped"] > 0


def test_emit_line_keeps_probe_sec():
    """The host probe survives every shrink step of the overflow replay."""
    for n_queries, n_regressions in ((5, 2), (262, 60), (262, 0)):
        got = json.loads(harness.emit_line(_record(n_queries, n_regressions)))
        assert got["probe_sec"] == 4.321


class _FakeDF:
    @property
    def write(self):
        return self

    def mode(self, _):
        return self

    def format(self, fmt):
        assert fmt == "noop"
        return self

    def save(self):
        pass


class _FakeSpark:
    class catalog:
        @staticmethod
        def clearCache():
            pass


def test_timed_run_rebuilds_dedup_stage_for_q57_only(monkeypatch):
    monkeypatch.setattr(llm, "_DEDUP_GROUPS_CACHE", {})
    seen = []

    def q57(spark, sf_dir):
        seen.append(("q57", dict(llm._DEDUP_GROUPS_CACHE)))
        llm._DEDUP_GROUPS_CACHE[("app", sf_dir)] = "stage"
        return _FakeDF()

    def q73(spark, sf_dir):
        seen.append(("q73", dict(llm._DEDUP_GROUPS_CACHE)))
        return _FakeDF()

    spark = _FakeSpark()
    harness.best_of(spark, q57, "sf", 2)
    harness.best_of(spark, q73, "sf", 2)
    stage = {("app", "sf"): "stage"}
    assert seen == [("q57", {}), ("q57", {}), ("q73", stage), ("q73", stage)]


def test_probe_times_q01_q43_q44(monkeypatch):
    from types import SimpleNamespace

    runs = []

    def make(name):
        def fn(spark, sf_dir):
            runs.append(name)
            return _FakeDF()

        return SimpleNamespace(fn=fn)

    specs = {n: make(n) for n in ("q01_a", "q02_b", "q43_c", "q44_d", "q440_e")}
    monkeypatch.setattr(harness, "all_queries", lambda: specs)
    assert harness.probe(_FakeSpark(), "sf", 2) >= 0
    assert runs == ["q01_a"] * 2 + ["q43_c"] * 2 + ["q44_d"] * 2


def test_loc_counts_code_lines_only():
    from tools.loc import code_lines

    src = (
        '"""Module docstring,\n'
        'two lines."""\n'
        "\n"
        "# a comment\n"
        "def f(x):\n"
        '    """Docstring."""\n'
        "    y = (x +  # trailing comment\n"
        "         # comment inside an expression\n"
        "         1)\n"
        "\n"
        '    return """not a\n'
        'docstring"""\n'
    )
    # def, the two lines of the y expression, both lines of the string
    assert code_lines(src) == 5
