"""Shared plumbing: the work directory, the Spark session, run context,
summary statistics and the result record."""

from __future__ import annotations

import os
import resource
import statistics
import sys
import time
from pathlib import Path

WORK = Path(".perfbench_work")  # relative to the checkout root (cwd)
TAIL_MIN_BEYOND = 10  # a tail percentile needs this many samples above it


def prepare_env(workdir: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``workdir``
    and size the local master to the machine.  Must run before pyspark
    starts a JVM."""
    tmp = (workdir / "tmp").resolve()
    tmp.mkdir(parents=True, exist_ok=True)
    cpus = os.cpu_count() or 1
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    confs = {
        # the status store keeps every job and stage of a run (the
        # per-layer Spark counters read it after the run)
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str((workdir / "warehouse").resolve()),
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"
    # every JVM (the launcher too): temp files in ``workdir``, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def spark_session():
    from janus_spark import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM: the gateway JVM exits when its
    stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot; (0, 0) off Linux."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def run_context(seed: int, ticks_at_start: tuple[int, int], **extra) -> dict:
    steal, total = (b - a for a, b in zip(ticks_at_start, cpu_ticks()))
    return {
        "cpus": os.cpu_count(),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "cpu_steal_frac": round(steal / total, 4) if total else None,
        "seed": seed,
        "python": sys.version.split()[0],
        "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        **extra,
    }


def dir_size(path: Path) -> tuple[int, int]:
    """(files, bytes) of the parquet data files under ``path``."""
    files = [p for p in Path(path).rglob("*.parquet") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python driver plus its JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def tail_percentile(n_min: int) -> float | None:
    """The highest of p99.9/p99/p95/p90/p75/p50 with at least
    TAIL_MIN_BEYOND samples above it when there are ``n_min`` samples,
    the fewest a run takes; fixing it by ``n_min`` keeps the percentile
    the same across runs of different lengths.  None if none qualifies."""
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n_min * (1 - p / 100.0) >= TAIL_MIN_BEYOND:
            return p
    return None


def quantile(xs, p: float) -> float:
    """The ``p``-th percentile of ``xs``, linearly interpolated."""
    xs = sorted(xs)
    if not xs:
        return float("nan")
    rank = p / 100.0 * (len(xs) - 1)
    lo = int(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def tail(xs, n_min: int) -> tuple[float, str]:
    """The tail of ``xs`` at ``tail_percentile(n_min)`` and its name; the
    maximum when no percentile qualifies or ``xs`` has fewer than
    ``n_min`` samples."""
    if not xs:
        return float("nan"), "none"
    p = tail_percentile(n_min)
    if p is None or len(xs) < n_min:
        return max(xs), f"max(n={len(xs)})"
    return quantile(xs, p), f"p{p:g}"


def overhead_frac(results: list[dict], kind: str, value: str = "s") -> float:
    """Tracing overhead: the mean over operation kinds of
    median(traced) / median(untraced) - 1."""
    fracs = []
    for k in sorted({r[kind] for r in results}):
        t = [r[value] for r in results if r[kind] == k and r["traced"] and r.get("ok", True)]
        u = [r[value] for r in results if r[kind] == k and not r["traced"] and r.get("ok", True)]
        if t and u:
            fracs.append(median(t) / median(u) - 1)
    return sum(fracs) / len(fracs) if fracs else float("nan")


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def report(title: str, rows: list[tuple[str, float, str]]) -> None:
    """Human-readable lines: every metric by name with its unit."""
    print(f"== {title}")
    for name, value, unit in rows:
        if isinstance(value, float):
            print(f"  {name:<40} {value:>16.4f} {unit}")
        else:
            print(f"  {name:<40} {value!s:>16} {unit}")
