"""Shared measurement steps for every harness entry point.

``bench.py``, ``stress_bench.py``, ``tools/ab_bench.py``,
``tools/dump_plans.py`` and ``tools/plan_audit.py`` all time, plan and
report through this one module, so the measurement protocol is written
once:

  start         session start + one untimed lineitem read (warms the
                JVM and the parquet footers outside every timed region)
  match_queries registered query names for a list of name prefixes
  run_once      ONE timed execution: fn(spark, sf_dir) -> noop sink ->
                clearCache, with the q57 dedup-stage reset
  best_of       best-of-N over run_once
  probe         the host probe: best-of-N q01 + q43 + q44, run before
                the suite
  plan_of       the formatted physical plan text of a DataFrame
  emit_line     the bench's one-line JSON, shrunk to fit the tail window
  write_json    an artifact file in the repo's indent-1 JSON layout

This module owns no artifact.  The entry points own theirs:
``bench.py`` writes ``bench_last.json``, ``stress_bench.py`` writes
``BENCH_STRESS.json``, ``tools/plan_audit.py`` writes ``PLANS.md``,
``tools/dump_plans.py`` writes the plan files under the directory it is
given (``plans/r<round>/`` by convention), and ``tools/ab_bench.py``
prints to stdout only.
"""

from __future__ import annotations

import gc
import json
import os
import re
import sys
import time
from typing import Callable, Iterable

from iceberg_daq_spark.queries import llm
from iceberg_daq_spark.registry import all_queries
from iceberg_daq_spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def start(app_name: str, sf_dir: str):
    """The tuned session, with the JVM and parquet footers warmed by
    one untimed read so no timed region pays for them."""
    spark = get_spark(app_name=app_name)
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    return spark


def match_queries(prefixes: Iterable[str]) -> list[str]:
    """Registered names starting with each prefix, in prefix order
    (names within one prefix sorted, each name once).  A prefix that
    matches nothing is reported on stderr."""
    names = sorted(all_queries())
    out: list[str] = []
    for p in (p.strip() for p in prefixes):
        hits = [n for n in names if n.startswith(p)]
        if not hits:
            print(f"NO MATCH: {p}", file=sys.stderr)
        out += [n for n in hits if n not in out]
    return out


def run_once(spark, fn: Callable, sf_dir: str | None, gc_between: bool = False) -> float:
    """Seconds for one full execution of ``fn(spark, sf_dir)`` through
    the noop sink (the whole plan runs, nothing is collected).

    Before a q57 run the memoized dedup-groups stage is dropped, so
    every q57 execution times the full pair discovery + closure; q73
    and every other consumer keep reading the stage the last q57 run
    left (the stored-dedup-groups-table shape of a real pipeline).
    The DataFrame cache is cleared after every execution, so a repeat
    can reuse no intermediate the previous run cached - only JVM code
    compilation carries over.

    ``gc_between`` also reclaims the run's shuffle/broadcast debris
    before the next timed region.  The stress bench needs it: the
    ContextCleaner frees blocks only after a GC, and at 10x rows the
    heavy pair joins otherwise time their next repeat under the
    previous run's dead 30M-row shuffle (q41 at 10x: 8-13 s after a GC
    vs 33-50 s under debris).  bench.py does not: at sf0.1 the debris
    effect is immeasurable, while an explicit System.gc() leaks
    concurrent G1 phases into the next timed region (+0.1-0.2 s on
    every query, measured)."""
    if getattr(fn, "__name__", "").startswith("q57"):
        llm._DEDUP_GROUPS_CACHE.clear()
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    dt = time.perf_counter() - t0
    spark.catalog.clearCache()
    if gc_between:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
    return dt


def best_of(
    spark, fn: Callable, sf_dir: str | None, repeat: int, gc_between: bool = False
) -> float:
    """Minimum of ``repeat`` :func:`run_once` executions.  The first
    execution of a plan pays one-time whole-stage-codegen JIT (5-10x
    the steady-state cost), so best-of-N reports what a warmed cluster
    would see."""
    return min(run_once(spark, fn, sf_dir, gc_between) for _ in range(repeat))


# a scan-filter (q01), a banded SimHash pair join (q43) and a
# broadcast-matrix cosine top-k in Python (q44): scan, shuffle and
# Python-worker cost in one number
PROBE_QUERIES = ("q01_", "q43_", "q44_")


def probe(spark, sf_dir: str, repeat: int) -> float:
    """Host probe: the summed best-of-``repeat`` seconds of
    PROBE_QUERIES.  Timed before the suite, it reads how fast the host
    runs fixed work right now, so a suite total can be told apart from
    host noise."""
    specs = all_queries()
    return round(
        sum(best_of(spark, specs[n].fn, sf_dir, repeat) for n in match_queries(PROBE_QUERIES)),
        3,
    )


def plan_of(df) -> str:
    """``df.explain("formatted")`` as a string."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def write_json(path: str, obj: dict) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh, indent=1)
        fh.write("\n")


# The bench's consumer keeps only the last N chars of stdout and
# parses the final JSON line out of it; a line longer than the window
# can never parse (rounds 2/3/5 lost the suite total this way, round 14
# its per-query record).  The full-precision record is in
# bench_last.json either way.
TAIL_WINDOW = 1990

# how many of the largest regressions survive once the full map no
# longer fits
_REGRESSIONS_KEPT = 10


def _qnum(name: str) -> int:
    m = re.match(r"q(\d+)", name)
    return int(m.group(1)) if m else 10**9


def _query_views(queries: dict[str, float]):
    """Ever shorter ``queries`` maps, never an empty one (unless there
    are no queries at all).  First degrade precision, then shorten
    names to their qNN prefix (still unique and joinable to BASELINE),
    and only then elide: keep the BASELINE-comparable subset (q01-q61,
    the families BASELINE.md prices) plus the slowest of the rest - the
    two things a reader joins on - and say how many were elided."""
    for short in (False, True):
        for ndigits in (3, 2, 1):
            view = {
                (k.split("_")[0] if short else k): round(v, ndigits)
                for k, v in queries.items()
            }
            if len(view) == len(queries):  # else a prefix collision
                yield view, {}
    base = {k: v for k, v in queries.items() if _qnum(k) <= 61}
    rest = sorted(
        ((k, v) for k, v in queries.items() if _qnum(k) > 61),
        key=lambda kv: -kv[1],
    )
    for keep_rest in (20, 10, 1):
        kept = dict(base)
        kept.update(rest[:keep_rest])
        view = {k.split("_")[0]: round(v, 1) for k, v in kept.items()}
        yield view, {"queries_elided": len(queries) - len(kept)}


def _regression_views(regressions: dict[str, list[float]]):
    """The full regression map, then the largest by ratio, then none -
    with a count of what was dropped."""
    yield regressions, {}
    if not regressions:
        return
    top = sorted(regressions.items(), key=lambda kv: -kv[1][1] / kv[1][0])
    if len(top) > _REGRESSIONS_KEPT:
        yield dict(top[:_REGRESSIONS_KEPT]), {
            "regressions_dropped": len(top) - _REGRESSIONS_KEPT
        }
    yield None, {"regressions_dropped": len(top)}


def emit_line(out: dict) -> str:
    """``out`` as one compact JSON line of at most TAIL_WINDOW chars.

    Per-query data outranks the regression map: at every step of the
    ``queries`` ladder the regressions shrink first (largest ratios
    kept, then dropped with a count), and only when even no regression
    map fits does ``queries`` itself shrink.  The last rung is returned
    even if it overflows, so ``queries`` is never emptied."""
    line = ""
    for qview, qextra in _query_views(out["queries"]):
        for rview, rextra in _regression_views(out.get("regressions") or {}):
            o = {**out, "queries": qview, **qextra, **rextra}
            o.pop("regressions", None)
            if rview:
                o["regressions"] = rview
            line = json.dumps(o, separators=(",", ":"))
            if len(line) <= TAIL_WINDOW:
                return line
    return line
