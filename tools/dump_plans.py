#!/usr/bin/env python
"""Dump .explain("formatted") for selected queries to text files.

Usage:
    python tools/dump_plans.py OUTDIR SUFFIX q109 q81 ...

Writes OUTDIR/<query>_<SUFFIX>.txt for each query prefix given
(prefix-matched against the registry, e.g. "q109" matches
"q109_pagerank").  Plans are built at $PLAN_AUDIT_SF (default
sf0.001) - structure, not timing, so the smallest SF suffices.
Artifacts: the OUTDIR plan files (committed under plans/r<round>/ as
before/after evidence for a plan change).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iceberg_daq_spark.registry import all_queries  # noqa: E402
from iceberg_daq_spark.session import get_spark  # noqa: E402
from tools import harness  # noqa: E402


def main() -> None:
    outdir, suffix, *prefixes = sys.argv[1:]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("PLAN_AUDIT_SF", "/root/testdata/sf0.001")
    spark = get_spark(app_name="dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()
    for name in harness.match_queries(prefixes):
        try:
            plan = harness.plan_of(specs[name].fn(spark, sf_dir))
        except Exception as exc:  # pragma: no cover - diagnostic tool
            plan = f"PLAN BUILD FAILED: {exc!r}"
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path}")
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
