#!/usr/bin/env python3
"""Compare two sets of benchmark records (``perfbench/_results/*.json``).

    python3 perfbench/compare.py BASE NEW

BASE and NEW are each a record file or a directory of them.  For every
workload and end-to-end metric of ``BENCHMARK.json`` it prints both
medians and how much worse NEW is, as a share of BASE's median, against
the metric's bound.  It refuses (exit 2) to compare records made at
different core counts, and exits 1 when a metric is worse than its
bound.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


class Incomparable(ValueError):
    pass


def load(path: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out = []
    for f in files:
        if f.endswith(".spans.json"):
            continue
        with open(f) as fh:
            r = json.load(fh)
        if r.get("context", {}).get("trace") in (0, None):
            out.append(r)
    return out


def compare(base: list[dict], new: list[dict], bounds: dict[str, tuple[str, float]]):
    """Rows of (workload, metric, base median, new median, worse-by share,
    within bound).  ``bounds`` maps metric -> ("lower"|"higher", bound)."""
    cores = {(r["context"]["nproc"], r["context"]["cores"]) for r in base + new}
    if len(cores) != 1:
        raise Incomparable(f"records were made at different core counts: {sorted(cores)}")
    med: dict[tuple[str, str], dict[str, float]] = defaultdict(dict)
    for side, recs in (("base", base), ("new", new)):
        vals: dict[tuple[str, str], list[float]] = defaultdict(list)
        for r in recs:
            for m, v in r["end_to_end"].items():
                vals[(r["context"]["workload"], m)].append(v)
        for k, vs in vals.items():
            med[k][side] = statistics.median(vs)
    rows = []
    for (wl, m), s in sorted(med.items()):
        if m not in bounds or "base" not in s or "new" not in s:
            continue
        better, bound = bounds[m]
        b, n = s["base"], s["new"]
        worse = (n - b) / b if better == "lower" else (b - n) / b
        rows.append((wl, m, b, n, worse, worse <= bound))
    return rows


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: (m["better"], m["bound"]) for m in spec["end_to_end"]}
    try:
        rows = compare(load(argv[0]), load(argv[1]), bounds)
    except Incomparable as exc:
        print(f"refused: {exc}", file=sys.stderr)
        return 2
    ok = True
    for wl, m, b, n, worse, within in rows:
        ok &= within
        print(f"{wl:10s} {m:18s} base {b:12.4f} new {n:12.4f} "
              f"worse by {worse:+.3f} (bound {bounds[m][1]}) "
              f"{'ok' if within else 'REGRESSION'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
