"""The two workloads: ``ingest`` (the streaming data plane into its two
sinks) and ``analytics`` (a fixed mix of oracle-backed queries, the
metadata catalog ETL among them).

Each is a closed loop with one client.  ``inputs`` makes or checks the
seeded inputs, ``warm_up`` is the untimed first pass, ``loop`` runs whole
units of timed work (a drain pass, a query round) until ``seconds`` have
passed, and ``check`` runs the correctness gates.  With a
:class:`spans.Tracer` set on the run, the same loop runs under spans.

The sizes below are chosen so one run, Spark start-up included, takes
well under a minute on a 4-core host.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import nullcontext

import inputs
from report import log

# -- sizes -------------------------------------------------------------
INGEST_STREAMS = 24  # the reference's 24 links
INGEST_FRAMES = 1_000  # frames per stream
INGEST_CHUNKS = 3  # one chunk per micro-batch
INGEST_WARM_CHUNKS = 1
# 200 us per frame instead of the detector's 2 us, and a pulse in about
# one sample per frame: the 200 ms corpus then closes 10 ms TA windows
# well past the 50 ms watermark (the streaming tests use the same stretch)
INGEST_TICKS_PER_FRAME = 12_500
INGEST_HIT_GATE = 60
# the sink compacts every 2nd micro-batch (8 in the soak harness), so
# every drain of the short corpus compacts
COMPACT_EVERY = 2
# the reference sf0.01 tables the oracle tests read, copied byte for byte
ANALYTICS_TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "fixtures", "tables-sf0.01")
ANALYTICS_TABLES_SHA256 = "5e9c8548805a0dbf1dede7b12bcab9bf470c365b11a2eabab7ca5ce36a6e06dd"
# relational, DAQ, metadata-ETL, LLM-operator and graph queries; q37,
# q57 and q109 start Spark jobs while building their DataFrame, the rest
# are lazy
MIX = "q01 q31 q37 q57 q73 q109".split()


class Outcome:
    """Attempted and failed operations, and the defects behind failures."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.defects: list[str] = []

    def gate(self, name: str, ok: bool, msg: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.defects.append(f"{name}: {msg}")
            log(f"!!! CORRECTNESS GATE FAILED {name}: {msg}")

    def ops(self, n: int, failed: int = 0) -> None:
        self.attempted += n
        self.failed += failed


class Run:
    """State shared by one workload run."""

    def __init__(self, spark, data_dir: str, seed: int):
        self.spark = spark
        self.data_dir = data_dir
        self.seed = seed
        self.tracer = None  # a spans.Tracer while the traced loop runs
        self.out = Outcome()
        self.detail: dict = {}
        self.work = os.path.join(data_dir, "work")

    def span(self, name: str, layer: str = "bench", **attrs):
        return self.tracer.span(name, layer, **attrs) if self.tracer else nullcontext()

    def fresh(self, name: str) -> str:
        p = os.path.join(self.work, name)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p)
        return p


def _progress(q) -> list[dict]:
    """The query's micro-batch progress events as plain dicts."""
    return [json.loads(p.json) for p in q.recentProgress or []]


# ======================================================================
# ingest
# ======================================================================
class Ingest:
    name = "ingest"

    def __init__(self, run: Run):
        self.r = run

    def inputs(self) -> dict:
        self.frames_dir, man = inputs.frame_corpus(
            self.r.spark, self.r.data_dir, self.r.seed, INGEST_STREAMS,
            INGEST_FRAMES, INGEST_CHUNKS, INGEST_TICKS_PER_FRAME, INGEST_HIT_GATE,
        )
        self.frames_total = man["frames_total"]
        return man

    def warm_up(self) -> None:
        # the first chunks of the corpus, replayed in the same order
        warm = self.r.fresh("ingest-warm-frames")
        parts = sorted(f for f in os.listdir(self.frames_dir) if f.startswith("part-"))
        t0 = os.path.getmtime(os.path.join(self.frames_dir, parts[0]))
        for i, f in enumerate(parts[:INGEST_WARM_CHUNKS]):
            dst = os.path.join(warm, f)
            shutil.copyfile(os.path.join(self.frames_dir, f), dst)
            os.utime(dst, (t0 + i, t0 + i))
        self.drain_pass(warm, "ingest-warm")

    def drain_pass(self, frames_dir: str, tag: str) -> dict:
        from iceberg_daq_spark.streaming.pipeline import (
            readout_assembly_stream,
            run_to_parquet,
            ta_stream,
        )
        from iceberg_daq_spark.tablestore import MergeTable, run_stream_to_table

        spark = self.r.spark
        w = self.r.fresh(tag)
        table = MergeTable(os.path.join(w, "ta"), key_cols=("src_id", "window_start"))
        raw_dir = os.path.join(w, "raw")
        t0 = time.perf_counter()
        with self.r.span("ingest.drain.ta", "pipeline") as ta_span:
            q = run_stream_to_table(
                ta_stream(spark, frames_dir, max_files_per_trigger=1), table,
                os.path.join(w, "ck-ta"), compact_every=COMPACT_EVERY,
            )
        t1 = time.perf_counter()
        with self.r.span("ingest.drain.raw", "pipeline") as raw_span:
            q2 = run_to_parquet(
                readout_assembly_stream(spark, frames_dir, max_files_per_trigger=1),
                raw_dir, os.path.join(w, "ck-raw"),
            )
        t2 = time.perf_counter()
        # the micro-batch jobs run on the query's own thread, in a job
        # group named after its run id; attribute that group to the drain
        for sp, query in ((ta_span, q), (raw_span, q2)):
            if sp is not None:
                sp.attrs["job_groups"] = [str(query.runId)]
        return {
            "table": table, "raw_dir": raw_dir, "ta_s": t1 - t0, "raw_s": t2 - t1,
            "ta": _progress(q), "raw": _progress(q2),
            "spans": {"ta": ta_span, "raw": raw_span},
        }

    def loop(self, seconds: float) -> dict:
        started = time.perf_counter()
        passes, batch_ms = [], []
        while not passes or time.perf_counter() - started < seconds:
            p = self.drain_pass(self.frames_dir, "ingest-pass")
            passes.append(p)
            for leg in ("ta", "raw"):
                batch_ms += [b["batchDuration"] for b in p[leg]]
        self.r.out.ops(len(batch_ms))
        wall = sum(p["ta_s"] + p["raw_s"] for p in passes)
        self.last = passes[-1]
        self.r.detail["ingest_frames_per_s"] = self.frames_total * len(passes) / wall
        return {
            "passes": passes,
            "items": self.frames_total * len(passes),
            "wall_s": wall,
            "op_ms": batch_ms,
            "samples": {
                f"ingest_{leg}_batch_s": [b["batchDuration"] / 1e3
                                          for p in passes for b in p[leg]]
                for leg in ("ta", "raw")
            },
        }

    def check(self) -> None:
        from collections import Counter
        from datetime import timedelta

        from pyspark.sql import functions as F

        from iceberg_daq_spark.streaming import plan
        from iceberg_daq_spark.streaming.pipeline import (
            READOUT_AFTER_TICKS,
            READOUT_BEFORE_TICKS,
            WATERMARK,
        )

        spark = self.r.spark
        frames = spark.read.parquet(self.frames_dir)

        def rows(df, cols):  # both sides are a few thousand rows at most
            return Counter(tuple(r) for r in df.select(*cols).collect())

        def gate(name, got, want, note=""):
            extra, missing = sum((got - want).values()), sum((want - got).values())
            self.r.detail[name] = {"rows": sum(got.values()), "extra": extra,
                                   "missing": missing}
            self.r.out.gate(f"ingest.{name}", extra == missing == 0,
                            f"{extra} extra, {missing} missing rows{note}")

        # TA sink == batch twin minus the windows the watermark never
        # closed (the counted tail), as the soak harness checks it
        twin = plan.ta_windows(plan.decode_hits(frames))
        cols = twin.columns
        horizon = frames.agg(F.max("ts")).first()[0] - timedelta(
            milliseconds=int(WATERMARK.split()[0]))
        end = cols.index("window_end")
        want = rows(twin, cols)
        tail = Counter({k: n for k, n in want.items() if k[end] > horizon})
        self.r.detail["ta_tail_rows"] = sum(tail.values())
        gate("ta_sink", rows(self.last["table"].read(spark), cols), want - tail,
             f" vs the batch twin (tail {sum(tail.values())} counted apart)")
        # raw sink == the batch readout join of the same frames
        trig = plan.prescale_hash(
            plan.decode_hits(frames), n=plan.PRESCALE,
            key_cols=("src_id", "seq", "channel"),
        ).select(
            F.col("src_id").alias("t_src_id"), F.col("ts").alias("t_ts"),
            F.col("ts_ticks").alias("t_ticks"), F.col("channel").alias("t_channel"),
        )
        join = frames.select("src_id", "seq", "ts_ticks", "ts").join(
            trig,
            (F.col("src_id") == F.col("t_src_id"))
            & (F.col("ts_ticks") >= F.col("t_ticks") - READOUT_BEFORE_TICKS)
            & (F.col("ts_ticks") <= F.col("t_ticks") + READOUT_AFTER_TICKS),
        )
        gate("raw_sink", rows(spark.read.parquet(self.last["raw_dir"]), join.columns),
             rows(join, join.columns), " vs the batch readout join")

    def layer_facts(self) -> dict:
        """Snapshot facts of the last pass's TA sink table."""
        return table_facts(self.last["table"], self.r.spark)

    def plan_legs(self) -> dict:
        """Batch legs over the same corpus through the noop sink: each leg
        runs the plan up to and including the named stage."""
        from pyspark.sql import functions as F

        from iceberg_daq_spark.streaming import plan
        from iceberg_daq_spark.streaming.pipeline import (
            MLT_BUFFER_TIMEOUT_MS,
            MLT_MAX_TD_TICKS,
            READOUT_AFTER_TICKS,
            READOUT_BEFORE_TICKS,
        )

        frames = self.r.spark.read.parquet(self.frames_dir)

        def hits():
            return plan.decode_hits(frames)

        def tas():
            return plan.ta_windows(hits())

        def tds():
            return plan.merge_decisions(
                tas(), max_gap_ticks=MLT_BUFFER_TIMEOUT_MS * 62_500,
                max_td_ticks=MLT_MAX_TD_TICKS,
            )

        def readout():
            d = tds().select(F.col("src_id").alias("td_src"), "td_start_tick",
                             "td_end_tick")
            return frames.select("src_id", "seq", "ts_ticks").join(
                F.broadcast(d),
                (F.col("src_id") == F.col("td_src"))
                & (F.col("ts_ticks") >= F.col("td_start_tick") - READOUT_BEFORE_TICKS)
                & (F.col("ts_ticks") <= F.col("td_end_tick") + READOUT_AFTER_TICKS),
            )

        out = {}
        for leg, rows, build in (
            ("decode_hits", "hits", hits), ("ta_windows", "ta", tas),
            ("merge_decisions", "td", tds), ("readout_join", "readout", readout),
        ):
            with self.r.span(f"plan.{leg}", "plan"):
                t0 = time.perf_counter()
                build().write.mode("overwrite").format("noop").save()
                out[f"plan.{leg}_s"] = time.perf_counter() - t0
            out[f"plan.{rows}_rows"] = build().count()
        return out


def table_facts(table, spark) -> dict:
    """Snapshot facts of a MergeTable: data dirs a read unions, live files,
    bytes on disk and committed versions."""
    from iceberg_daq_spark.tablestore import _data_dirs

    m = table._load_manifest(table.current_version())
    files = table.files(spark).collect()
    return {
        "tablestore.data_dirs": len(_data_dirs(m)),
        "tablestore.live_files": len(files),
        "tablestore.bytes_on_disk": sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(table.path) for f in fs
        ),
        "tablestore.versions": table.current_version() or 0,
    }


# ======================================================================
# analytics
# ======================================================================
class Analytics:
    name = "analytics"

    def __init__(self, run: Run):
        self.r = run

    def inputs(self) -> dict:
        from iceberg_daq_spark.registry import all_queries

        self.sf_dir = ANALYTICS_TABLES
        man = inputs.reference_tables(self.sf_dir, ANALYTICS_TABLES_SHA256)
        specs = all_queries()
        by_prefix = {n.split("_")[0]: s for n, s in specs.items()}
        self.specs = [by_prefix[q] for q in MIX]
        return man

    def _reset(self) -> None:
        # q57 and q73 share one memoized dedup-groups stage; every round
        # starts without it so each round pays for it once
        from iceberg_daq_spark.queries import llm

        llm._DEDUP_GROUPS_CACHE.clear()

    def warm_up(self) -> None:
        """The untimed pass: one round, as the timed loop runs it."""
        self._reset()
        for s in self.specs:
            self.run_query(s)

    def run_query(self, s) -> float:
        spark = self.r.spark
        t0 = time.perf_counter()
        with self.r.span(s.name, "bench"):
            with self.r.span("queries.build", "queries"):
                df = s.fn(spark, self.sf_dir)
            if self.r.tracer:
                with self.r.span("queries.plan", "queries"):
                    df._jdf.queryExecution().executedPlan()
            with self.r.span("queries.exec", "queries"):
                df.write.mode("overwrite").format("noop").save()
        dt = time.perf_counter() - t0
        spark.catalog.clearCache()
        return dt

    def loop(self, seconds: float) -> dict:
        started = time.perf_counter()
        op_ms, rounds, failed = [], [], 0
        while not rounds or time.perf_counter() - started < seconds:
            self._reset()
            t0 = time.perf_counter()
            with self.r.span("analytics.round", "bench"):
                for s in self.specs:
                    try:
                        op_ms.append(self.run_query(s) * 1e3)
                    except Exception as exc:  # noqa: BLE001 - counted, reported
                        failed += 1
                        log(f"!!! {s.name} failed: {type(exc).__name__}: {exc}")
            rounds.append(time.perf_counter() - t0)
        self.r.out.ops(len(op_ms) + failed, failed)
        self.r.detail["analytics_round_s"] = rounds
        return {"items": len(op_ms), "wall_s": sum(rounds), "op_ms": op_ms,
                "samples": {"analytics_query_s": [x / 1e3 for x in op_ms]}}

    def check(self) -> None:
        """Every query once more, its result checked against its DuckDB
        oracle."""
        from tests.oracle_harness import compare, duckdb_connect

        con = duckdb_connect(self.sf_dir)
        spark = self.r.spark
        self._reset()
        for s in self.specs:
            try:
                ok, msg = compare(s.fn(spark, self.sf_dir), con, s.oracle)
            except Exception as exc:  # noqa: BLE001 - a failing query is a defect
                ok, msg = False, f"{type(exc).__name__}: {exc}"
            self.r.out.gate(f"analytics.{s.name}", ok, msg)
            spark.catalog.clearCache()
        con.close()

    def layer_facts(self) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (Ingest, Analytics)}
