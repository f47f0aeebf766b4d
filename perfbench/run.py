"""Janus benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload hist --seed 1 --seconds 15 --trace 0

Workloads: ``hist`` (HTTP historical queries), ``datapipe`` (curation and
entity-resolution pipelines) and ``live`` (open-loop hybrid live stream).
Every output is checked; the last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``).  The lines
before it print every metric by name with its unit, the run context and,
when traced, each layer's self time.  A full record (including spans) is
written to ``.perfbench_work/<workload>-<seed>-trace<0|1>.json``.

``--selfcheck`` instead repeats each workload in fresh processes and
prints each metric's spread against its bound in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from common import (  # noqa: E402
    WORK, cpu_ticks, median, metric, peak_rss_mb, prepare_env, report, run_context, stop_spark,
)

WORKLOADS = ("hist", "datapipe", "live")


def layer_metrics(spark, tracer, build_layer: str) -> tuple[dict, dict]:
    """Per-layer metrics shared by every workload, from the traced
    operations, plus the layer self-time table."""
    from spans import UNATTRIBUTED, per_op_counters, spark_jobs

    per_op = tracer.self_times()
    ops = sorted(per_op)
    wall = sum(w for w, _ in per_op.values())
    layers: dict[str, float] = {}
    for _, t in per_op.values():
        for k, v in t.items():
            layers[k] = layers.get(k, 0.0) + v
    jobs = spark_jobs(spark, "pb-")
    build = [(s[0], s[2], s[3]) for s in tracer.spans if s[1] in (build_layer, "compiler")]
    counters = per_op_counters(jobs, ops, build)
    exec_run_ms = sum(j["executor_run_ms"] for j in jobs if j["group"] in set(ops))
    build_ms = tracer.span_ms(build_layer)
    out = {
        "spark.exec_ms": median([t.get("spark", 0.0) * 1000 for _, t in per_op.values()]),
        **counters,
        "spark.busy_frac": exec_run_ms / max(wall * 1000 * (os.cpu_count() or 1), 1e-9),
        "plan.build_ms": median([build_ms.get(op, 0.0) for op in ops]),
        "process.peak_rss_mb": peak_rss_mb(spark),
        "trace.unattributed_frac": layers.get(UNATTRIBUTED, 0.0) / max(wall, 1e-9),
    }
    table = {
        "traced_ops": len(ops),
        "traced_wall_s": wall,
        "self_s": dict(sorted(layers.items(), key=lambda kv: -kv[1])),
    }
    return out, table


UNITS = {
    "spark.exec_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.input_bytes": "bytes",
    "spark.input_rows": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.executor_run_ms": "ms",
    "spark.busy_frac": "ratio",
    "plan.build_ms": "ms",
    "plan.eager_jobs": "count",
    "process.peak_rss_mb": "MB",
    "trace.unattributed_frac": "ratio",
    "trace.overhead_frac": "ratio",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="measured seconds (default 15; --selfcheck: run_seconds of BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true", help="repeat workloads and print spreads vs bounds")
    ap.add_argument("--repeats", type=int, default=5, help="runs per workload for --selfcheck")
    args = ap.parse_args(argv)

    if args.selfcheck:
        from selfcheck import selfcheck

        return selfcheck(args)
    if args.workload is None:
        ap.error("--workload is required")

    # the system under test is this checkout's janus_spark package
    root = Path.cwd()
    if not (root / "janus_spark" / "__init__.py").is_file():
        print("perfbench: run from the repository root (janus_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))
    WORK.mkdir(exist_ok=True)
    prepare_env(WORK)

    from common import spark_session
    from spans import Tracer

    ticks = cpu_ticks()
    t0 = time.perf_counter()
    spark = spark_session()
    session_s = time.perf_counter() - t0
    tracer = Tracer()
    if args.workload == "hist":
        import hist as wl
    elif args.workload == "datapipe":
        import datapipe as wl
    else:
        import live as wl
    try:
        result = wl.run(spark, args.seed, args.seconds or 15, bool(args.trace), tracer)
        extras = {}
        metrics = result["e2e"]
        if args.trace:
            lm, table = layer_metrics(spark, tracer, wl.BUILD_LAYER)
            lm["trace.overhead_frac"] = result["overhead_frac"]
            extras = wl.layer_extras(spark, tracer, result)
            metrics = {k: metric(v, UNITS[k]) for k, v in lm.items()}
    finally:
        stop_spark(spark)

    attempted, failed = result["attempted"], result["failed"]
    context = run_context(args.seed, ticks, workload=args.workload, spark_session_s=round(session_s, 3),
                          failed_frac=failed / max(attempted, 1), **result["context"])
    report(f"{args.workload} seed={args.seed} trace={args.trace}: context",
           [(k, v, "") for k, v in context.items()])
    if result.get("errors"):
        report("failures (first 5)", [(f"#{i}", e, "") for i, e in enumerate(result["errors"])])
    report("end-to-end" if not args.trace else "end-to-end (untraced operations of this traced run)",
           [(k, v["value"], v["unit"]) for k, v in result["e2e"].items()])
    if "e2e_live" in result:
        report("end-to-end (live)", [(k, v["value"], v["unit"]) for k, v in result["e2e_live"].items()])
    if "layers_untraced" in result:
        report("per-layer (workload, untraced feeder timings)",
               [(k, v, u) for k, (v, u) in result["layers_untraced"].items()])
    if args.trace:
        report("per-layer", [(k, v["value"], v["unit"]) for k, v in metrics.items()])
        report("per-layer (workload)", [(k, v, u) for k, (v, u) in extras.items()])
        wall = table["traced_wall_s"]
        report(f"layer self time over {table['traced_ops']} traced operations ({wall:.3f} s)",
               [(k, v * 1000, f"ms  {100 * v / max(wall, 1e-9):5.1f}%") for k, v in table["self_s"].items()])
    record = {
        "context": context,
        "metrics": metrics,
        "e2e": result["e2e"],
        "e2e_live": result.get("e2e_live"),
        "layers_untraced": result.get("layers_untraced"),
        "batches": result.get("batches"),
        "layer_extras": extras,
        "self_s": table["self_s"] if args.trace else None,
        "spans": tracer.spans if args.trace else None,
    }
    out = WORK / f"{args.workload}-{args.seed}-trace{args.trace}.json"
    out.write_text(json.dumps(record, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
