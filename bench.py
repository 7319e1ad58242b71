#!/usr/bin/env python
"""Benchmark harness: run the query inventory at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print
ONE JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query executes to completion through the noop sink (full plan
runs, nothing collected to the driver).  Use BENCH_QUERIES=q01,q12 to
restrict; BENCH_REPEAT=n for best-of-n (default 3 - the first
execution of a plan pays one-time whole-stage-codegen JIT that is 5-10x
the steady-state cost; best-of-3 reports the per-query time a warmed
cluster would see).  The SAME repeat count applies to every query and
to the streaming measurement - per-query extras would bias exactly the
recently-modified code paths downward and break cross-round
comparability.  Timing, cache clearing, best-of-N and the one-line
output come from tools/harness.py, shared with the stress, A/B and
plan tools.

Artifacts: this entry point owns ``bench_last.json`` (the full-precision
record of the last full-suite run; focused BENCH_QUERIES runs never
rewrite it) and the one JSON line on stdout.
"""

from __future__ import annotations

import json
import os
import re
import sys

from iceberg_daq_spark.registry import all_queries
from tools import harness

LAST_PATH = os.path.join(harness.REPO, "bench_last.json")


def sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def find_regressions(
    last: dict, timings: dict[str, float], cpus: int
) -> dict[str, list[float]]:
    """Queries more than 2x slower than the previous committed record
    ``last`` (sub-50 ms priors are skipped: those flip on scheduler
    noise).  Returns {name: [prev_sec, now_sec]}.  A record taken on a
    different core count, or one that predates the ``cpus`` field, is
    not comparable: the tripwire is skipped with a note on stderr."""
    if last.get("cpus") != cpus:
        print(
            f"# regression tripwire skipped: previous record ran on "
            f"{last.get('cpus', 'unrecorded')} cpus, this run on {cpus}",
            file=sys.stderr,
        )
        return {}
    prev = last.get("queries", {})
    out: dict[str, list[float]] = {}
    for name, t in timings.items():
        p = prev.get(name)
        if p is not None and p > 0.05 and t > 2.0 * p:
            out[name] = [round(p, 3), round(t, 3)]
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeat = int(os.environ.get("BENCH_REPEAT", "3"))
    only = os.environ.get("BENCH_QUERIES")
    specs = all_queries()
    if only:
        names = sorted(harness.match_queries(only.split(",")))
    else:
        # q29 runs two full availableNow streaming replays (watermark
        # golden, ~30 s of micro-batch scheduling, independent of sf) -
        # the streaming data plane's throughput is benchmarked by
        # measure_streaming below, so the batch suite skips it unless
        # explicitly requested.
        names = [n for n in sorted(specs) if not n.startswith("q29")]

    spark = harness.start("iceberg_daq_bench", sf_dir)
    cpus = spark.sparkContext.defaultParallelism
    probe_sec = harness.probe(spark, sf_dir, repeat)
    print(f"# host probe: {probe_sec:.3f}s", file=sys.stderr)

    timings: dict[str, float] = {}
    for name in names:
        timings[name] = round(harness.best_of(spark, specs[name].fn, sf_dir, repeat), 3)
        print(f"# {name}: {timings[name]:.3f}s", file=sys.stderr)

    # regression tripwire: a per-query slowdown > 2x vs the previous
    # committed record is almost never noise on a best-of-n run - it is
    # a plan change (q117's 62 s co-presence blow-up ran two full
    # rounds of local benches without this being called out).  Loud on
    # stderr, and recorded in the JSON so the round artifact shows it.
    last = {}
    if os.path.exists(LAST_PATH):
        try:
            with open(LAST_PATH) as fh:
                last = json.load(fh)
        except (ValueError, OSError):
            last = {}
    regressions = find_regressions(last, timings, cpus)
    for name, (p, t) in regressions.items():
        print(
            f"# !!! REGRESSION {name}: {p:.3f}s -> {t:.3f}s "
            f"({t / p:.1f}x) - plan change? check .explain()",
            file=sys.stderr,
        )

    streaming = None
    if os.environ.get("BENCH_STREAMING", "1") != "0" and not only:
        streaming = measure_streaming(spark)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "query_suite_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_from_dir(sf_dir),
        "cpus": cpus,
    }
    # Floor separation (round-13 verdict #7, ADDITIONS ONLY - nothing
    # above is renamed or re-timed): at 260+ queries x local-mode
    # scheduler/JIT fixed cost, roughly half the suite total is the
    # harness floor, not engine time, and it moves with core count and
    # host state.  Record (a) the BASELINE-comparable q01-q61 subset
    # total and (b) an empty-plan floor estimate - n_queries times the
    # best-of-5 noop cost of a plan that scans nothing - so a consumer
    # can separate engine time from floor without a second bench leg.
    out["subset_q01_q61"] = round(
        sum(
            v
            for k, v in timings.items()
            if (m := re.match(r"q(\d+)", k)) and int(m.group(1)) <= 61
        ),
        3,
    )
    floor_one = harness.best_of(spark, lambda s, _: s.range(1), sf_dir, 5)
    out["floor_sec"] = round(len(timings) * floor_one, 3)
    # also an addition: the host probe taken before the suite
    out["probe_sec"] = probe_sec
    if streaming:
        out["streaming"] = streaming
    if regressions:
        out["regressions"] = regressions
    # Full-precision record on disk: the driver captures only the last
    # 2000 chars of stdout, so round-over-round comparison must not
    # depend on that window.  Focused runs (BENCH_QUERIES) must not
    # clobber the full-suite record.
    if not only:
        harness.write_json(LAST_PATH, out)
    print(harness.emit_line(out))


def measure_streaming(spark) -> dict:
    """Data-plane throughput (the BASELINE 'sustained >= source rate'
    gate), two legs:

    - ``frames_per_sec``: decode + TPG + TA windows (the hot plane).
    - ``e2e_frames_per_sec``: the WHOLE reference pipeline - decode +
      TPG + TA + TD interval merge with the mlt_max_td_length cap
      (A27) + the asymmetric -1000/+1001-tick readout interval join
      (A19) back against the frame stream, i.e. trigger-record
      assembly end to end.

    24 source partitions mirror the reference's 24 UDP streams; the
    emulated nominal rate is 500k frames/s/stream (125-tick period at
    62.5 MHz)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from iceberg_daq_spark.streaming import plan
    from iceberg_daq_spark.streaming.emulator import frame_plan, with_packed_payload
    from iceberg_daq_spark.streaming.pipeline import (
        MLT_BUFFER_TIMEOUT_MS,
        MLT_MAX_TD_TICKS,
        READOUT_AFTER_TICKS,
        READOUT_BEFORE_TICKS,
    )

    # 160k frames x 24 streams (3.84M frames/pass): the round-9 e2e
    # number (1.02M f/s vs the plane's 1.87M) was NOT join fan-out or
    # state churn - profiling showed the two tail stages (the 24-group
    # TD fold's Python round-trip + the broadcast barrier before the
    # readout join) cost a FIXED ~0.3 s, which dominates a 0.6 s
    # window.  At this window both legs report their amortized
    # steady-state rate (the regime a real run is always in); the TD
    # count stays 24 (one merged decision interval per stream), so the
    # readout join's output - not its probe fan-out - is the only
    # thing that grows.
    n_frames, src_ids = 160_000, list(range(24))
    repeat = int(
        os.environ.get("BENCH_STREAM_REPEAT", os.environ.get("BENCH_REPEAT", "3"))
    )

    d = tempfile.mkdtemp(prefix="bench_frames_")
    try:
        with_packed_payload(frame_plan(spark, n_frames, src_ids)).repartition(
            24
        ).write.mode("overwrite").parquet(d)
        frames = spark.read.parquet(d)

        def plane(_spark, _sf_dir):
            return plan.ta_windows(plan.decode_hits(frames))

        def e2e(_spark, _sf_dir):
            tds = plan.merge_decisions(
                plan.ta_windows(plan.decode_hits(frames)),
                max_gap_ticks=MLT_BUFFER_TIMEOUT_MS * 62_500,
                max_td_ticks=MLT_MAX_TD_TICKS,
            ).select(
                F.col("src_id").alias("td_src"), "td_start_tick", "td_end_tick"
            )
            # TD rate is Hz/stream at any scale -> broadcast the
            # decisions; the readout join is then a map-only pass over
            # the frame stream (no shuffle of frame data)
            return frames.select("src_id", "seq", "ts_ticks").join(
                F.broadcast(tds),
                (F.col("src_id") == F.col("td_src"))
                & (F.col("ts_ticks") >= F.col("td_start_tick") - READOUT_BEFORE_TICKS)
                & (F.col("ts_ticks") <= F.col("td_end_tick") + READOUT_AFTER_TICKS),
            )

        # best-of-N with the SAME default repeat as the batch loop:
        # pass 1 pays Python-worker spin-up + whole-stage-codegen JIT
        # for the decode UDF, and a single noisy pass on a loaded host
        # must not read the plane below its nominal source rate
        dt = harness.best_of(spark, plane, None, repeat)
        # guard the e2e number's honesty: an upstream threshold change
        # that empties the TD stream would otherwise time an empty
        # readout join and report inflated throughput
        n_tds = e2e(spark, None).limit(1).count()
        assert n_tds > 0, "e2e pipeline produced no readout rows"
        dt_e2e = harness.best_of(spark, e2e, None, repeat)
        total_frames = n_frames * len(src_ids)
        return {
            "frames": total_frames,
            "streams": len(src_ids),
            "wall_sec": round(dt, 3),
            "frames_per_sec": round(total_frames / dt),
            "samples_per_sec": round(total_frames * 64 / dt),
            "e2e_wall_sec": round(dt_e2e, 3),
            "e2e_frames_per_sec": round(total_frames / dt_e2e),
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
