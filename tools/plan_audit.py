#!/usr/bin/env python
"""Generate PLANS.md: the physical-plan audit of every registered query.

For each query, build its DataFrame at $PLAN_AUDIT_SF (default
sf0.001) and extract the structural properties the scale contract
(SURVEY section 4) cares about:

  scans       parquet scans in the final plan (0 = the query pinned a
              reduction with localCheckpoint and consumers read that)
  xchg        shuffle exchanges
  bcast       broadcast exchanges
  win         window operators
  TO          TakeOrderedAndProject (top-k without a global sort)
  cart        CartesianProduct present (the anti-pattern tripwire;
              broadcast nested-loop joins of scalar/tiny sides are NOT
              counted - those are the documented single-row pattern)

The table is regenerated with  python tools/plan_audit.py  and
committed as PLANS.md so the audit diffs alongside plan changes.
Artifact: this entry point owns PLANS.md.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iceberg_daq_spark.registry import all_queries  # noqa: E402
from iceberg_daq_spark.session import get_spark  # noqa: E402
from tools import harness  # noqa: E402


def audit_one(plan: str) -> dict:
    return {
        "scans": len(re.findall(r"\(\d+\) Scan parquet", plan)),
        "xchg": len(re.findall(r"\(\d+\) Exchange", plan)),
        "bcast": len(re.findall(r"\(\d+\) BroadcastExchange", plan)),
        "win": len(re.findall(r"\(\d+\) Window", plan)),
        "takeordered": "TakeOrderedAndProject" in plan,
        "cartesian": "CartesianProduct" in plan,
    }


def main() -> None:
    sf_dir = os.environ.get("PLAN_AUDIT_SF", "/root/testdata/sf0.001")
    spark = get_spark(app_name="plan_audit")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()
    rows: list[tuple] = []
    failures: list[str] = []
    for name in sorted(specs):
        try:
            a = audit_one(harness.plan_of(specs[name].fn(spark, sf_dir)))
        except Exception as ex:  # pragma: no cover - audit must not abort
            failures.append(f"{name}: {ex!r}")
            continue
        rows.append((name, a))
        print(f"# {name}: {a}", file=sys.stderr)

    n = len(rows)
    carts = [name for name, a in rows if a["cartesian"]]
    pinned = [name for name, a in rows if a["scans"] == 0]
    topk = [name for name, a in rows if a["takeordered"]]
    out = []
    out.append("# PLANS.md - physical-plan audit of the query inventory\n")
    out.append(
        f"Auto-generated by `tools/plan_audit.py` at `{sf_dir}` "
        f"({n} queries).  Column meanings in the tool's docstring; "
        "the structural assertions themselves live in "
        "`tests/test_plans.py` - this table is the at-a-glance view.\n"
    )
    out.append(
        f"- **CartesianProduct present:** {len(carts)} "
        f"({', '.join(carts) if carts else 'none'})\n"
        f"- **Pinned-reduction plans (0 parquet scans - consumers read "
        f"a localCheckpoint):** {len(pinned)}\n"
        f"- **Top-k via TakeOrderedAndProject (no global sort):** "
        f"{len(topk)}\n"
    )
    out.append("| query | scans | xchg | bcast | win | top-k | cart |")
    out.append("|---|---|---|---|---|---|---|")
    for name, a in rows:
        out.append(
            f"| {name} | {a['scans']} | {a['xchg']} | {a['bcast']} "
            f"| {a['win']} "
            f"| {'y' if a['takeordered'] else ''} "
            f"| {'CART' if a['cartesian'] else ''} |"
        )
    if failures:
        out.append("\n## Plan-build failures\n")
        out.extend(f"- {f}" for f in failures)
    with open(os.path.join(harness.REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out) + "\n")
    print(f"PLANS.md written: {n} queries, {len(failures)} failures")


if __name__ == "__main__":
    main()
