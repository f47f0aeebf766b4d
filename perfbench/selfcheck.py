"""Stability self-check: repeat each workload in fresh processes and
print every metric's spread against its bound in BENCHMARK.json.

For each workload: ``--repeats`` untraced runs with seeds 1..N give the
spread of each end-to-end metric, (Q3 - Q1) / median with the quartiles
of ``statistics.quantiles(values, n=4)``; then two traced runs with the
same seed must repeat every count-type per-layer metric exactly (a
count that moves between identical runs is flagged)."""

from __future__ import annotations

import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
COUNT_UNITS = ("count", "bytes")
# counts that legitimately depend on timing (how many batches a live
# run coalesces) are reported but not required to repeat
TIMING_DEPENDENT = ("spark.jobs", "spark.stages", "spark.tasks", "plan.eager_jobs")


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict | None:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"  {workload} seed={seed} trace={trace}: exit {proc.returncode}", flush=True)
        return None
    out = json.loads(lines[-1])
    if not trace:
        values = "  ".join(f"{k} {v['value']:.4f}" for k, v in out["metrics"].items())
        print(f"  {workload} seed={seed}: failed {out['failed']}/{out['attempted']}  {values}", flush=True)
    return out


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def selfcheck(args) -> int:
    bench = json.loads(Path("BENCHMARK.json").read_text())
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = [w["name"] for w in bench["workloads"]]
    if args.workload:
        names = [args.workload]
    bad = 0
    for wl in names:
        print(f"== {wl}: {args.repeats} untraced runs, seeds 1..{args.repeats}, {seconds} s each", flush=True)
        runs = [run_once(wl, s, seconds, 0) for s in range(1, args.repeats + 1)]
        ok = [r for r in runs if r is not None]
        failed = sum(r["failed"] for r in ok) + (len(runs) - len(ok))
        print(f"  runs ok {len(ok)}/{len(runs)}, failed operations {failed}")
        bad += failed > 0
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in ok if name in r["metrics"]]
            if len(vals) < 2:
                continue
            sp = spread(vals)
            flag = "ok" if sp <= bound / 3 else ("within bound" if sp <= bound else "OVER BOUND")
            bad += sp > bound
            print(f"  {name:<24} median {statistics.median(vals):>12.4f}  spread {sp:6.3f}  "
                  f"bound {bound:5.3f}  {flag}", flush=True)
        print(f"== {wl}: two traced runs, seed 1", flush=True)
        traced = [run_once(wl, 1, seconds, 1) for _ in range(2)]
        if None in traced:
            bad += 1
            continue
        a, b = (t["metrics"] for t in traced)
        for name in a:
            if a[name]["unit"] not in COUNT_UNITS:
                continue
            same = a[name]["value"] == b[name]["value"]
            note = "repeats" if same else "DIFFERS"
            if not same and name in TIMING_DEPENDENT and wl == "live":
                note += " (timing dependent on live)"
            elif not same:
                bad += 1
            print(f"  {name:<28} {a[name]['value']:>16.1f} {b[name]['value']:>16.1f}  {note}", flush=True)
    print(f"== selfcheck: {'PASS' if bad == 0 else f'{bad} problem(s)'}")
    return 0 if bad == 0 else 1
