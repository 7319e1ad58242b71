"""Small pure helpers of the benchmark: the percentile rule, the output
line and the run context.  No Spark import, so the unit tests load this
module alone."""

from __future__ import annotations

import hashlib
import json
import math
import os
import platform
import subprocess
import sys
import time

_T0 = time.monotonic()


def log(msg: str) -> None:
    """A progress line on stderr, stamped with seconds since start."""
    print(f"# [{time.monotonic() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


#: a percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10


class TooFewSamples(ValueError):
    """The percentile rule refused: too few samples beyond the percentile."""


def min_samples(pct: float) -> int:
    """Smallest sample count with ``MIN_BEYOND`` samples above ``pct``."""
    return math.ceil(MIN_BEYOND / (1.0 - pct / 100.0) - 1e-9)


def percentile(samples: list[float], pct: float) -> float:
    """The ``pct``-th percentile (nearest rank) of ``samples``.

    Refuses with :class:`TooFewSamples` unless at least ``MIN_BEYOND``
    samples lie beyond it: a p50 needs 20 samples, a p90 needs 100."""
    n = len(samples)
    need = min_samples(pct)
    if n < need:
        raise TooFewSamples(f"p{pct:g} needs >= {need} samples, got {n}")
    if pct == 50:
        # the median proper, so an even count averages the middle pair
        s = sorted(samples)
        mid = n // 2
        return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0
    rank = math.ceil(pct / 100.0 * n)
    return sorted(samples)[max(rank, 1) - 1]


def percentile_or_none(samples: list[float], pct: float) -> float | None:
    try:
        return percentile(samples, pct)
    except TooFewSamples:
        return None


def summarize(samples: list[float]) -> dict:
    """Sample count, mean, and each of p50 and p90 that the percentile
    rule allows (``None`` where it refuses)."""
    return {
        "n": len(samples),
        "mean": sum(samples) / len(samples) if samples else None,
        "p50": percentile_or_none(samples, 50),
        "p90": percentile_or_none(samples, 90),
    }


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by process ``root`` (this
    process by default) and all its descendants, reaped ones included.

    The kernel does not charge a task for time its virtual CPU was
    stolen by the hypervisor, so this stays steady on a host where
    wall-clock time does not."""
    root = os.getpid() if root is None else root
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while listing
            continue
        f = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        parent[pid] = int(f[1])
        # utime, stime, and cutime, cstime of children it has reaped
        ticks[pid] = sum(int(x) for x in f[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p not in (root, 0, 1) and p in parent:
            p = parent[p]
        if p == root:
            total += t
    return total / os.sysconf("SC_CLK_TCK")


def output_line(
    correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]
) -> str:
    """The benchmark's last stdout line: exactly the keys ``correct``,
    ``attempted``, ``failed`` and ``metrics`` (name -> value and unit)."""
    if attempted < 1:
        raise ValueError("attempted must be >= 1")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    out = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {},
    }
    for name, (value, unit) in metrics.items():
        v = float(value)
        if not math.isfinite(v):
            raise ValueError(f"metric {name} is not finite: {value!r}")
        out["metrics"][name] = {"value": v, "unit": unit}
    return json.dumps(out, separators=(",", ":"))


def source_digest(root: str) -> str:
    """sha256 over the engine's Python sources, so a run made outside a
    git checkout still names the code it measured."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "iceberg_daq_spark")
    for d, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    """HEAD of the git checkout rooted at ``root``; None when ``root`` is
    not the top of a git checkout."""
    try:
        r = subprocess.run(
            ["git", "-C", root, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    lines = r.stdout.split()
    if r.returncode != 0 or len(lines) != 2:
        return None
    if os.path.realpath(lines[0]) != os.path.realpath(root):
        return None
    return lines[1]


def run_context(root: str, cores: int) -> dict:
    """What the run ran on; ``compare.py`` refuses to compare runs whose
    ``nproc`` or ``cores`` differ."""
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cores": cores,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "git_commit": git_commit(root),
        "source_digest": source_digest(root),
    }
