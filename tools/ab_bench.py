#!/usr/bin/env python
"""Interleaved paired A/B benchmark (the round-13 protocol): variants
alternate inside ONE session, one execution each per round, so host
drift cancels in the pairing; report per-round pairs and the min per
variant.  Each execution is tools/harness.py's timed run, the same one
bench.py uses (noop sink, cache cleared between executions, q57's
dedup stage rebuilt every run).  Artifacts: none - results go to
stdout only.

Usage:
    python tools/ab_bench.py ROUNDS label_a=mod.path:fn label_b=mod.path:fn ...

Each callable takes (spark, sf_dir) -> DataFrame.  Data dir comes from
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), master from
$SPARK_GRAFT_CPUS - the bench contract.
"""

from __future__ import annotations

import importlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import harness  # noqa: E402


def resolve(spec: str):
    label, ref = spec.split("=", 1)
    mod, fn = ref.split(":")
    return label, getattr(importlib.import_module(mod), fn)


def main() -> None:
    rounds = int(sys.argv[1])
    variants = [resolve(s) for s in sys.argv[2:]]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = harness.start("ab_bench", sf_dir)
    spark.sparkContext.setLogLevel("ERROR")
    best: dict[str, float] = {}
    times: dict[str, list[float]] = {lab: [] for lab, _ in variants}
    for r in range(rounds):
        for label, fn in variants:
            spark.sparkContext.setJobDescription(f"ab:{label}:r{r}")
            dt = harness.run_once(spark, fn, sf_dir)
            times[label].append(dt)
            best[label] = min(best.get(label, dt), dt)
        print(
            f"round {r}: "
            + "  ".join(f"{lab}={times[lab][-1]:.3f}s" for lab, _ in variants),
            flush=True,
        )
    print("---")
    for lab, _ in variants:
        print(f"{lab}: min={best[lab]:.3f}s  all={[round(t, 3) for t in times[lab]]}")


if __name__ == "__main__":
    main()
