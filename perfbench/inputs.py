"""The benchmark's inputs, checked against recorded digests on every run.

The frame corpus is generated from the seed, once per (seed, size), into
the benchmark's data directory.  Generation is logged but not timed: the
frame emulator stands in for detector hardware.  The analytics tables are
a byte-for-byte copy of the reference sf0.01 tables under ``fixtures/``,
so the benchmark reads only files of its own checkout.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from report import log, tree_cpu_s

MANIFEST = "_inputs.json"


class DigestMismatch(RuntimeError):
    pass


def tree_digest(path: str) -> str:
    """sha256 over every file's relative path and bytes, in name order
    (the manifest and hidden checksum files aside)."""
    h = hashlib.sha256()
    for d, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            if f == MANIFEST or f.startswith("."):
                continue
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, path).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure(path: str, spec: dict, generate) -> dict:
    """Generate ``path`` with ``generate(path)`` unless a manifest for the
    same ``spec`` exists there; then verify the recorded digest.

    Returns the manifest (spec, digest, generation seconds, extra facts
    ``generate`` returned) plus ``gen_now_s`` and ``gen_now_cpu_s``, the
    wall and CPU time spent generating in this call.  Raises
    :class:`DigestMismatch` when the files no longer match the digest
    recorded at generation."""
    mpath = os.path.join(path, MANIFEST)
    man = None
    gen_now_s = gen_now_cpu_s = 0.0
    if os.path.exists(mpath):
        with open(mpath) as fh:
            man = json.load(fh)
        if man.get("spec") != spec:
            man = None
    if man is None:
        shutil.rmtree(path, ignore_errors=True)
        t0, c0 = time.perf_counter(), tree_cpu_s()
        facts = generate(path) or {}
        gen_now_s = gen_s = time.perf_counter() - t0
        gen_now_cpu_s = tree_cpu_s() - c0
        man = {"spec": spec, "digest": tree_digest(path), "gen_s": gen_s, **facts}
        with open(mpath, "w") as fh:
            json.dump(man, fh, indent=1)
        log(f"generated {os.path.basename(path)} in {gen_s:.1f}s (not timed)")
    digest = tree_digest(path)
    if digest != man["digest"]:
        raise DigestMismatch(
            f"{path}: digest {digest[:16]} != recorded {man['digest'][:16]}"
        )
    return {**man, "gen_now_s": gen_now_s, "gen_now_cpu_s": gen_now_cpu_s}


def frame_corpus(spark, data_dir: str, seed: int, streams: int, frames: int,
                 chunks: int, ticks_per_frame: int, hit_gate: int) -> tuple[str, dict]:
    """The emulated detector stream: ``streams`` links x ``frames`` frames,
    written as ``chunks`` time-ordered parquet chunks (one per
    micro-batch)."""
    from iceberg_daq_spark.streaming.emulator import write_frame_chunks

    spec = {"kind": "frames", "seed": seed, "streams": streams, "frames": frames,
            "chunks": chunks, "ticks_per_frame": ticks_per_frame, "hit_gate": hit_gate}
    path = os.path.join(data_dir, f"frames-s{seed}-{streams}x{frames}-c{chunks}")

    def gen(p):
        write_frame_chunks(spark, p, n_frames=frames, src_ids=list(range(streams)),
                           n_chunks=chunks, seed=seed, ticks_per_frame=ticks_per_frame,
                           hit_gate=hit_gate)
        return {"frames_total": streams * frames}

    return path, ensure(path, spec, gen)


def reference_tables(path: str, digest: str) -> dict:
    """Check the copied reference tables under ``path`` against ``digest``;
    returns their manifest (row counts per table and the digest)."""
    import pyarrow.parquet as pq

    got = tree_digest(path)
    if got != digest:
        raise DigestMismatch(f"{path}: digest {got[:16]} != recorded {digest[:16]}")
    rows = {f.removesuffix(".parquet"): pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in sorted(os.listdir(path)) if f.endswith(".parquet")}
    return {"spec": {"kind": "tables", "source": "reference sf0.01"}, "digest": got,
            "rows": rows, "gen_now_s": 0.0, "gen_now_cpu_s": 0.0}
