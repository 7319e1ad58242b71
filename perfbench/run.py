#!/usr/bin/env python3
"""Benchmark of the DAQ data plane, the file catalog and the analytics
surface.

    python3 perfbench/run.py --workload {ingest,analytics} \\
        --seed N --seconds S --trace {0,1}

Runs one workload on ``local[nproc]`` from this process, checks every
output, and prints as its last stdout line one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones of a traced run.  The line before it (``# context``)
and a record under ``perfbench/_results/`` hold the run context, the
workload-specific detail and every defect found.  See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from report import log, output_line, run_context, summarize, tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "_data")
RESULTS = os.path.join(HERE, "_results")
# the session default (48g) does not fit a small host; sf0.01 needs little
DRIVER_MEM = "3g"

# Both are CPU time of the run's process tree; the wall-clock ones
# (setup_wall_s, throughput_per_s, op_mean_ms) go to the record only: on
# a virtual host whose CPUs the hypervisor steals from, their run-to-run
# spread is several times that of the CPU time.
END_TO_END = {
    "setup_s": "s",
    "op_cpu_ms": "ms",
}

PER_LAYER = {
    **{
        f"pipeline.{leg}.{m}": u
        for leg in ("ta", "raw")
        for m, u in (
            ("add_batch_mean_s", "s"),
            ("trigger_overhead_mean_s", "s"),
            ("state_rows_max", "count"),
            ("state_mem_bytes_max", "bytes"),
            ("late_rows_dropped", "count"),
            ("batches", "count"),
        )
    },
    "pipeline.self_s": "s",
    "plan.decode_hits_s": "s",
    "plan.ta_windows_s": "s",
    "plan.merge_decisions_s": "s",
    "plan.readout_join_s": "s",
    "plan.hits_rows": "count",
    "plan.ta_rows": "count",
    "plan.td_rows": "count",
    "plan.readout_rows": "count",
    "tablestore.merge_s": "s",
    "tablestore.merge_calls": "count",
    "tablestore.compact_s": "s",
    "tablestore.compact_calls": "count",
    "tablestore.append_s": "s",
    "tablestore.append_calls": "count",
    "tablestore.read_s": "s",
    "tablestore.read_calls": "count",
    "tablestore.data_dirs": "count",
    "tablestore.live_files": "count",
    "tablestore.bytes_on_disk": "bytes",
    "tablestore.versions": "count",
    "etl.self_s": "s",
    "etl.pass_mean_s": "s",
    "etl.passes": "count",
    "etl.scan_dropbox_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.plan_s": "s",
    "queries.exec_s": "s",
    "queries.exec_jobs": "count",
    "tables.load_s": "s",
    "tables.load_calls": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.driver_gap_s": "s",
    "session.get_spark_s": "s",
    "host.probe_s": "s",
    "bench.self_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_frac": "ratio",
    "scaling.ingest_frames_per_s_1c": "1/s",
}

# Per-layer metrics of a layer only one workload uses.  A traced run
# prints every per-layer metric; on the other workload these read 0 and
# are listed as ``not_measured`` in the context line and the record.
ONLY_ON = {
    "ingest": ("pipeline.", "plan.", "tablestore.merge_", "tablestore.compact_",
               "tablestore.data_dirs", "tablestore.live_files",
               "tablestore.bytes_on_disk", "tablestore.versions", "scaling."),
    "analytics": ("etl.", "queries.", "tables.", "tablestore.append_"),
}


def not_measured(workload: str) -> list[str]:
    """The per-layer metrics ``workload`` does not measure."""
    return [k for k in PER_LAYER
            if any(k.startswith(p) for w, ps in ONLY_ON.items() if w != workload
                   for p in ps)]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "analytics"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(cores: int) -> None:
    """Pin what the engine reads from the environment, and keep every
    file the run writes inside the checkout."""
    tmp = os.path.join(DATA, "tmp")
    local = os.path.join(DATA, "spark-local")
    for d in (tmp, local, RESULTS):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher's too: no perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Spark's Python workers import the engine by this path
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_spark(cores: int, event_log_dir: str | None):
    from iceberg_daq_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(DATA, "warehouse"),
    }
    if not event_log_dir:
        # a later SparkContext of the same JVM would inherit it otherwise
        conf["spark.eventLog.enabled"] = "false"
    else:
        os.makedirs(event_log_dir, exist_ok=True)
        # Spark 4 writes a compressed rolling directory by default
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", master=f"local[{cores}]",
                     shuffle_partitions=cores, extra_conf=conf)


def stop_spark() -> None:
    """Stop the active session, if any, and wait for the JVM that the
    first session launched to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def probe(spark, cores: int) -> float:
    """A fixed calibration action; the median of three."""
    ts = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 4_000_000, 1, cores).selectExpr("sum(id % 7)").collect()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def progress_metrics(progress: dict[str, list[dict]]) -> dict:
    out = {}
    for leg, ps in progress.items():
        add = [p["durationMs"].get("addBatch", 0) / 1e3 for p in ps]
        over = [(p["batchDuration"] - p["durationMs"].get("addBatch", 0)) / 1e3
                for p in ps]
        ops = [o for p in ps for o in (p.get("stateOperators") or [])]
        out[f"pipeline.{leg}.add_batch_mean_s"] = statistics.fmean(add)
        out[f"pipeline.{leg}.trigger_overhead_mean_s"] = statistics.fmean(over)
        out[f"pipeline.{leg}.state_rows_max"] = max(
            (o.get("numRowsTotal", 0) for o in ops), default=0)
        out[f"pipeline.{leg}.state_mem_bytes_max"] = max(
            (o.get("memoryUsedBytes", 0) for o in ops), default=0)
        out[f"pipeline.{leg}.late_rows_dropped"] = sum(
            o.get("numRowsDroppedByWatermark", 0) for o in ops)
        out[f"pipeline.{leg}.batches"] = len(ps)
    return out


def add_batch_spans(tracer, drain_span, progress: list[dict], leg: str) -> None:
    """Micro-batch spans from the progress events, under their drain; the
    drain's child spans (the sink's table-store calls) move under the
    micro-batch that ran them."""
    from datetime import datetime

    offset = time.time() - time.perf_counter()
    calls = [s for s in tracer.spans if s.parent == drain_span.id]
    for p in progress:
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
        t0 = start.timestamp() - offset
        batch = tracer.add(f"ingest.batch.{leg}", "pipeline", t0,
                           t0 + p["batchDuration"] / 1e3, parent=drain_span.id,
                           batch_id=p["batchId"])
        for c in calls:
            if batch.t0 <= (c.t0 + c.t1) / 2 <= batch.t1:
                c.parent = batch.id


def span_metrics(tracer, root) -> dict:
    from spans import self_times

    spans = tracer.subtree(root)
    st = self_times(spans)
    out: dict = {}

    def by_name(name):
        return [s for s in spans if s.name == name]

    for fn in ("merge", "compact", "append", "read"):
        ss = by_name(f"tablestore.{fn}")
        out[f"tablestore.{fn}_s"] = sum(st[s.id] for s in ss)
        out[f"tablestore.{fn}_calls"] = len(ss)
    for name, key in (("etl.scan_dropbox", "etl.scan_dropbox_s"),
                      ("tables.load", "tables.load_s"),
                      ("queries.build", "queries.build_s"),
                      ("queries.plan", "queries.plan_s"),
                      ("queries.exec", "queries.exec_s")):
        out[key] = sum(st[s.id] for s in by_name(name))
    out["tables.load_calls"] = len(by_name("tables.load"))
    for layer in ("pipeline", "etl", "bench"):
        out[f"{layer}.self_s"] = sum(st[s.id] for s in spans if s.layer == layer)
    appends = by_name("tablestore.append")
    out["etl.passes"] = len(appends)
    out["etl.pass_mean_s"] = (
        statistics.fmean(s.dur for s in appends) if appends else 0.0)
    out["trace.wall_s"] = root.dur
    log(f"span self times add up to {sum(st.values()):.3f}s of {root.dur:.3f}s traced wall")
    return out


def event_log_metrics(tracer, root, event_log_dir: str, cores: int) -> dict:
    from spans import job_groups, parse_event_log, sum_groups

    files = [os.path.join(event_log_dir, f) for f in os.listdir(event_log_dir)
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log, found {files}")
    with open(files[0]) as fh:
        by_group = parse_event_log(fh)
    spans = tracer.subtree(root)
    tot = sum_groups(by_group, job_groups(spans))
    ungrouped = sum(b["jobs"] for g, b in by_group.items()
                    if g not in set(job_groups(tracer.spans)))
    log(f"event log: {tot['jobs']} jobs attributed to the traced loop's spans, "
        f"{ungrouped} outside any span (set-up, plain loop, checks)")
    out = {f"spark.{k}": v for k, v in tot.items()}
    out["spark.driver_gap_s"] = root.dur - tot["executor_run_s"] / cores
    for kind in ("build", "exec"):
        sub = [x for s in spans if s.name == f"queries.{kind}"
               for x in tracer.subtree(s)]
        out[f"queries.{kind}_jobs"] = sum_groups(by_group, job_groups(sub))["jobs"]
    return out


def install_shims(tracer) -> None:
    import iceberg_daq_spark.etl as etl
    import iceberg_daq_spark.queries as queries_pkg
    import iceberg_daq_spark.tables as tables
    from iceberg_daq_spark.tablestore import MergeTable

    for fn in ("merge", "compact", "append", "read"):
        tracer.shim(MergeTable, fn, "tablestore")
    tracer.shim(etl, "scan_dropbox", "etl")
    tracer.shim(etl, "metadata_etl", "etl")
    # each query module binds tables.load under its own name
    for name, mod in list(sys.modules.items()):
        if (name.startswith(queries_pkg.__name__ + ".")
                and getattr(mod, "load", None) is tables.load):
            tracer.shim(mod, "load", "tables", name="tables.load")


def measured_loop(w, seconds: float) -> dict:
    """The workload's timed loop, with the CPU time it cost."""
    cpu0 = tree_cpu_s()
    res = w.loop(seconds)
    res["cpu_s"] = tree_cpu_s() - cpu0
    return res


def loop_metrics(res: dict) -> dict:
    return {
        "throughput_per_s": res["items"] / res["wall_s"],
        "op_mean_ms": statistics.fmean(res["op_ms"]),
        "op_cpu_ms": res["cpu_s"] * 1e3 / len(res["op_ms"]),
    }


def setup(args, cores: int, event_log_dir: str | None = None):
    """Session start, inputs and the warm-up pass.  Returns the workload,
    the session start time, the set-up CPU and wall time, the generation
    wall time spent in this call (which both set-up times exclude) and
    the inputs' manifest."""
    import workloads

    t0, c0 = time.perf_counter(), tree_cpu_s()
    spark = start_spark(cores, event_log_dir)
    get_spark_s = time.perf_counter() - t0
    log(f"session up in {get_spark_s:.1f}s on local[{cores}]")
    r = workloads.Run(spark, DATA, args.seed)
    w = workloads.WORKLOADS[args.workload](r)
    man = w.inputs()
    gen_s, gen_cpu_s = man.pop("gen_now_s"), man.pop("gen_now_cpu_s")
    w.warm_up()
    setup = {"setup_s": tree_cpu_s() - c0 - gen_cpu_s,
             "setup_wall_s": time.perf_counter() - t0 - gen_s}
    log(f"setup done: {setup['setup_s']:.1f} CPU-s, {setup['setup_wall_s']:.1f}s wall "
        f"(generation, {gen_s:.1f}s, excluded)")
    return w, get_spark_s, setup, gen_s, man


def one_core_ingest(args) -> float:
    """The ingest drain again on ``local[1]``, in a fresh SparkContext of
    the same JVM, after its own warm-up: the single-threaded baseline."""
    w, *_ = setup(args, 1)
    try:
        return loop_metrics(measured_loop(w, args.seconds))["throughput_per_s"]
    finally:
        w.r.spark.stop()


def traced_loop(args, w, event_log_dir: str, layer: dict) -> dict:
    """The loop once plain and once under spans; fills the per-layer
    metrics that need the live session and returns the traced result."""
    from spans import Tracer

    # traced first, plain second: further warming makes the later loop
    # cheaper, so the overhead read off the pair errs high, never low
    tracer = Tracer(w.r.spark.sparkContext)
    install_shims(tracer)
    w.r.tracer = tracer
    try:
        with tracer.span(args.workload, "bench") as root:
            res = measured_loop(w, args.seconds / 2)
    finally:
        tracer.uninstall()
        w.r.tracer = None
    plain = measured_loop(w, args.seconds / 2)
    # the CPU difference is noisy and can read below the cost the tracer
    # is known to add, its own span bookkeeping; it is floored there
    diff = (res["cpu_s"] / res["items"]) / (plain["cpu_s"] / plain["items"]) - 1
    booked = tracer.bookkeeping_s / root.dur
    w.r.detail["trace_overhead"] = {"cpu_diff_frac": diff, "bookkeeping_frac": booked}
    layer["trace.overhead_frac"] = max(diff, booked)
    if args.workload == "ingest":
        for p in res["passes"]:
            for leg, sp in p["spans"].items():
                add_batch_spans(tracer, sp, p[leg], leg)
        layer.update(progress_metrics({
            leg: [b for r in (res, plain) for p in r["passes"] for b in p[leg]]
            for leg in ("ta", "raw")}))
        layer.update(w.plan_legs())
    layer.update(span_metrics(tracer, root))
    res["tracer"], res["root"] = tracer, root
    return res


def run(args) -> tuple[dict, dict, object]:
    cores = len(os.sched_getaffinity(0))
    prepare_env(cores)
    ctx = run_context(ROOT, cores)
    ctx.update(seed=args.seed, workload=args.workload, trace=args.trace,
               seconds=args.seconds)
    event_log_dir = None
    if args.trace:
        event_log_dir = os.path.join(DATA, "eventlog", f"{os.getpid()}-{time.time_ns()}")
    w, get_spark_s, metrics, gen_s, man = setup(args, cores, event_log_dir)
    spark, r = w.r.spark, w.r
    ctx.update(spark=spark.version, inputs=man)
    probe_before = probe(spark, cores)
    layer: dict = {"session.get_spark_s": get_spark_s}
    if args.trace:
        res = traced_loop(args, w, event_log_dir, layer)
    else:
        res = measured_loop(w, args.seconds)
    log(f"loop done: {len(res['op_ms'])} ops")
    metrics.update(loop_metrics(res))
    w.check()
    layer.update(w.layer_facts())
    probe_after = probe(spark, cores)
    layer["host.probe_s"] = statistics.fmean([probe_before, probe_after])
    log("checks done")
    tracer = res.get("tracer")
    if tracer is not None:
        spark.stop()  # finishes the event log; the JVM stays up
        layer.update(event_log_metrics(tracer, res["root"], event_log_dir, cores))
        shutil.rmtree(event_log_dir)  # tens of MB a run, and parsed now
        if args.workload == "ingest":
            layer["scaling.ingest_frames_per_s_1c"] = one_core_ingest(args)
    stop_spark()
    log("session stopped")
    r.detail["samples"] = {k: summarize(v) for k, v in res["samples"].items()}
    ctx.update(host_probe_before_s=probe_before, host_probe_after_s=probe_after,
               gen_now_s=gen_s, detail=r.detail, defects=r.out.defects)
    return metrics, layer, (r.out, ctx, tracer)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "iceberg_daq_spark"))
            and os.path.isfile(os.path.join(ROOT, "tests", "oracle_harness.py"))):
        log(f"engine sources not found under {ROOT}: run from a full checkout")
        return 2
    try:
        metrics, layer, (out, ctx, tracer) = run(args)
    except Exception:  # noqa: BLE001 - report and fail without a result line
        traceback.print_exc()
        stop_spark()
        return 1
    if args.trace:
        ctx["not_measured"] = not_measured(args.workload)
        missing = set(PER_LAYER) - set(layer) - set(ctx["not_measured"])
        if missing:
            log(f"per-layer metrics not measured: {sorted(missing)}")
            return 1
        shown = {k: (float(layer.get(k, 0.0)), u) for k, u in PER_LAYER.items()}
    else:
        shown = {k: (metrics[k], u) for k, u in END_TO_END.items()}
    record = {"context": ctx, "end_to_end": metrics, "per_layer": layer,
              "attempted": out.attempted, "failed": out.failed}
    stamp = f"{args.workload}-s{args.seed}-t{args.trace}-c{ctx['cores']}-{time.time_ns()}"
    with open(os.path.join(RESULTS, stamp + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if tracer is not None:
        with open(os.path.join(RESULTS, stamp + ".spans.json"), "w") as fh:
            json.dump([vars(s) for s in tracer.spans], fh, default=str)
    if out.defects:
        log(f"!!! {len(out.defects)} defect(s): " + "; ".join(out.defects))
    print("# context " + json.dumps(
        {k: v for k, v in ctx.items() if k not in ("detail", "defects")},
        default=str, separators=(",", ":")))
    print(output_line(out.failed == 0, out.attempted, out.failed, shown))
    return 0


if __name__ == "__main__":
    sys.exit(main())
