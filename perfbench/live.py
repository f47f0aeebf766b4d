"""``live``: an open loop at a fixed offered event rate into one hybrid
live query.

A generator thread commits N-Quads spool files on a wall-clock schedule
(``part-<seq>.txt`` after an atomic rename, the ``MqttSpoolBridge``
format); every event carries its creation time in epoch ms.  The feeder
reads the files that are due (``read_nquads``), dual-writes them to the
same ``QuadStore`` the engine reads, and passes them to the runner from
``engine.start_live`` (``LiveQueryRunner.on_batch``).  When the runner
falls behind, the feeder coalesces the whole backlog into one call.

The query joins a ``[RANGE .. STEP ..]`` live window with a baseline
aggregated over a historical window of the log (``USING BASELINE ..
AGGREGATE``) and keeps anomalies with a ``janus:`` FILTER.  Every
emission is checked against a reference computed over the events that
were actually fed.

The first micro-batch backfills up to 100 empty windows (it shows in
``first_result_s``); the backlog that builds up meanwhile drains next.
Emission latency is measured from the first micro-batch that finds the
feeder caught up (its oldest due file less than ``STEADY_LAG_S`` old),
for ``--seconds``.
"""

from __future__ import annotations

import bisect
import math
import os
import shutil
import threading
import time
from pathlib import Path

from common import WORK, dir_size, median, metric, overhead_frac, tail
from hist import write_observations
from sensors import EX, SensorField

HIST_SPAN_MS = 30 * 60 * 1000
HIST_RATE = 10.0
RATE = 20.0  # offered observations per second (3 quads each)
RANGE_MS, STEP_MS = 6000, 3000
THRESHOLD = 20
SPOOL_PERIOD_S = 0.25  # MqttSpoolBridge's default flush interval
SETUP_REPEATS = 3
MAX_RUN_S = 400  # the run stops here even if it never reached a steady state
MIN_EMISSIONS = 20  # fixes the tail percentile (p50) for runs of any length
STEADY_LAG_S = 5.0  # a batch whose oldest file was due less than this ago is caught up


def query_text(anchor: int) -> str:
    return f"""PREFIX sosa: <http://www.w3.org/ns/sosa/>
PREFIX janus: <https://janus.rs/fn#>
PREFIX ex: <{EX}>
REGISTER RStream <{EX}anomalies> AS
SELECT ?sensor ?obs ?v ?mean
FROM NAMED WINDOW ex:live ON STREAM ex:sensors [RANGE {RANGE_MS} STEP {STEP_MS}]
FROM NAMED WINDOW ex:hist ON LOG ex:sensors [START {anchor - HIST_SPAN_MS} END {anchor}]
USING BASELINE ex:hist AGGREGATE
WHERE {{
  WINDOW ex:live {{ ?obs sosa:madeBySensor ?sensor . ?obs sosa:hasSimpleResult ?v . }}
  WINDOW ex:hist {{ ?hobs sosa:madeBySensor ?sensor . ?hobs sosa:hasSimpleResult ?mean . }}
  ?sensor <https://janus.rs/baseline#mean> ?mean .
  FILTER(janus:absolute_threshold_exceeded(?v, ?mean, {THRESHOLD}))
}}"""


class Generator(threading.Thread):
    """Commits one spool file per period with the events created in it,
    on a schedule that does not wait for the system."""

    def __init__(self, events, t0: float, spool: Path, stop_at: threading.Event) -> None:
        super().__init__(daemon=True)
        self.events, self.t0, self.spool, self.stop_at = events, t0, spool, stop_at
        self.files: list[tuple[float, Path, int]] = []  # (due time, path, events)
        self.lock = threading.Lock()
        self.max_lag_s = 0.0

    def run(self) -> None:
        i, seq = 0, 0
        while not self.stop_at.is_set():
            due = self.t0 + (seq + 1) * SPOOL_PERIOD_S
            delay = due - time.time()
            if delay > 0 and self.stop_at.wait(delay):
                return
            self.max_lag_s = max(self.max_lag_s, time.time() - due)
            cut = int(due * 1000)
            j = i
            while j < len(self.events) and self.events[j].ts < cut:
                j += 1
            tmp = self.spool / f".part-{seq:06d}.tmp"
            tmp.write_text("".join(o.nquads() for o in self.events[i:j]))
            final = self.spool / f"part-{seq:06d}.txt"
            os.rename(tmp, final)
            with self.lock:
                self.files.append((due, final, j - i))
            i, seq = j, seq + 1

    def take(self, after: int) -> list[tuple[float, Path, int]]:
        with self.lock:
            return self.files[after:]


def baseline_means(observations, lo: int, hi: int) -> dict[str, float]:
    sums: dict[str, list[float]] = {}
    for o in observations:
        if lo <= o.ts <= hi:
            sums.setdefault(o.sensor, []).append(float(o.value))
    return {s: sum(v) / len(v) for s, v in sums.items()}


def expected(fed, means, s: int, e: int) -> set[tuple[str, str, str]]:
    return {
        (o.sensor, o.obs, o.value)
        for o in fed
        if s <= o.ts < e and o.sensor in means and abs(float(o.value) - means[o.sensor]) > THRESHOLD
    }


def setup_once(spark, field: SensorField, root: Path):
    from janus_spark.engine import JanusEngine
    from janus_spark.sources.quadstore import QuadStore

    shutil.rmtree(root, ignore_errors=True)
    root.mkdir(parents=True)
    anchor = int(time.time() * 1000)
    history = field.history(anchor, HIST_SPAN_MS, HIST_RATE)
    write_observations(history, str(root / "log.parquet"))
    store = QuadStore(spark, str(root / "store"))
    store.write(spark.read.parquet(str(root / "log.parquet")))
    engine = JanusEngine(spark, store.read())
    qid = engine.register_query(query_text(anchor))
    return anchor, history, store, engine, qid


BUILD_LAYER = "compiler"


def run(spark, seed: int, seconds: float, trace: bool, tracer) -> dict:
    from janus_spark.sources.nquads import read_nquads

    field = SensorField(seed)
    root = WORK / "live"
    shutil.rmtree(root, ignore_errors=True)
    setups = []
    for i in range(SETUP_REPEATS):
        t = time.perf_counter()
        parts = setup_once(spark, field, root / f"setup{i}")
        setups.append(time.perf_counter() - t)
    anchor, history, store, engine, qid = parts
    means = baseline_means(history, anchor - HIST_SPAN_MS, anchor)
    files_before, _ = dir_size(store.path)
    spool = root / "spool"
    spool.mkdir()

    if trace:
        from spans import install_janus_spans

        install_janus_spans(tracer, spark, lambda: None)
    emissions = []

    def sink(window, s, e, rows):
        emissions.append({"t": time.time(), "s": s, "e": e, "rows": rows, "batch": batch_no})

    stop = threading.Event()
    batch_no = 0
    batches = []
    t0 = time.time()
    events = field.live(int(t0 * 1000), int(MAX_RUN_S * 1000), RATE)
    gen = Generator(events, t0, spool, stop)
    gen.start()
    fed = []
    consumed = 0
    first_result = steady_from = None
    try:
        with tracer.operation("pb-live-start", trace):
            runner = engine.start_live(qid, str(root / "buffer"), sink=sink)
        start_live_s = time.time() - t0
        while steady_from is None or time.time() - steady_from < seconds:
            if time.time() - t0 > MAX_RUN_S:
                break
            traced = trace and batch_no % 2 == 0
            op_id = f"pb-live-{batch_no}"
            if traced:
                spark.sparkContext.setJobGroup(op_id, "perfbench")
            # one operation: wait for due spool files, read them, dual-write
            # them to the log, run the micro-batch
            with tracer.operation(op_id, traced):
                with tracer.span("idle", "wait for due spool files"):
                    files = gen.take(consumed)
                    while not files:
                        time.sleep(0.02)
                        files = gen.take(consumed)
                if first_result is not None and steady_from is None and time.time() - files[0][0] < STEADY_LAG_S:
                    steady_from = time.time()
                consumed += len(files)
                n_events = sum(f[2] for f in files)
                b = {"no": batch_no, "start": time.time(), "due": files[0][0], "events": n_events,
                     "files": len(files), "traced": traced, "op": op_id}
                with tracer.span("sources.nquads", "read_nquads"):
                    df = read_nquads(spark, [str(f[1]) for f in files])
                t = time.time()
                store.write(df)  # the stream-bus dual write
                b["append_s"] = time.time() - t
                t = time.time()
                runner.on_batch(df, batch_no)
                b["on_batch_s"] = time.time() - t
            spark.sparkContext.setJobGroup("perfbench-idle", "perfbench")
            b["end"] = time.time()
            b["chunks"] = engine.query_metrics(qid)["buffered_chunks"]
            fed.extend(events[len(fed): len(fed) + n_events])
            batches.append(b)
            batch_no += 1
            if first_result is None:
                ts = [o.ts for o in fed]
                for em in emissions:
                    if any(em["s"] <= x < em["e"] for x in ts):
                        first_result = em["t"]
                        break
    finally:
        stop.set()
        gen.join(timeout=30)
        tracer.unpatch()
    t_end = time.time()

    # ---- correctness: every emission against the events actually fed
    by_ts = sorted(fed, key=lambda o: o.ts)
    fed_ts = [o.ts for o in by_ts]
    failed = 0
    latencies, fires_with_events, lat_rows = [], 0, []
    for em in emissions:
        lo, hi = bisect.bisect_left(fed_ts, em["s"]), bisect.bisect_left(fed_ts, em["e"])
        want = expected(by_ts[lo:hi], means, em["s"], em["e"])
        got = {(r["sensor"], r["obs"], r["v"]) for r in em["rows"]}
        ok = got == want and all(math.isclose(float(r["mean"]), means[r["sensor"]], rel_tol=1e-9)
                                 for r in em["rows"])
        failed += not ok
        if hi > lo:
            fires_with_events += 1
            if steady_from is not None and em["t"] > steady_from:
                lat = (em["t"] * 1000 - fed_ts[hi - 1])
                latencies.append(lat)
                lat_rows.append({"kind": "emit", "traced": batches[em["batch"]]["traced"], "ms": lat})
    lat_tail, tail_name = tail(latencies, MIN_EMISSIONS)
    wall = t_end - t0
    steady = [b for b in batches if steady_from is not None and b["start"] >= steady_from]
    n_fed = sum(b["events"] for b in batches)
    end_files, end_bytes = dir_size(store.path)
    context = {
        "offered_rate_obs_per_s": RATE,
        "quads_per_obs": 3,
        "window": f"RANGE {RANGE_MS} STEP {STEP_MS}",
        "log_quads_at_start": 3 * len(history),
        "log_bytes_at_end": end_bytes,
        "tail_percentile": tail_name,
        "samples": len(latencies),
        "setup_runs_s": [round(s, 4) for s in setups],
        "start_live_s": round(start_live_s, 3),
        "first_result_s": round(first_result - t0, 3) if first_result else None,
        "first_batch_fires": sum(1 for em in emissions if em["batch"] == 0),
        "first_batch_s": round(batches[0]["end"] - batches[0]["start"], 3) if batches else None,
        "steady_from_s": round(steady_from - t0, 3) if steady_from else None,
        "backlog_events_after_first_result": max(
            (b["events"] for b in batches if first_result and b["start"] >= first_result), default=0),
        "processed_events_per_s": n_fed / wall,
        "batches": len(batches),
        "emissions": len(emissions),
        "generator_max_lag_ms": round(gen.max_lag_s * 1000, 2),
        "run_wall_s": round(wall, 3),
    }
    layer = {
        "streaming.on_batch_ms": (median([b["on_batch_s"] * 1000 for b in steady]), "ms"),
        "streaming.windows_fired": (engine.query_metrics(qid)["windows_fired"], "count"),
        "streaming.useful_fire_ratio": (fires_with_events / max(len(emissions), 1), "ratio"),
        "streaming.buffer_chunks": (max((b["chunks"] for b in batches), default=0), "count"),
        "streaming.busy_frac": (sum(b["on_batch_s"] for b in batches) / wall, "ratio"),
        "streaming.feed_lag_ms": (median([(b["start"] - b["due"]) * 1000 for b in steady]), "ms"),
        "streaming.backlog_events_max": (max((b["events"] for b in steady), default=0), "count"),
        "quadstore.append_ms": (median([b["append_s"] * 1000 for b in steady]), "ms"),
        "quadstore.files_added": (end_files - files_before, "count"),
    }
    return {
        # the run itself is one more operation: it fails without a steady state
        "attempted": len(emissions) + 1,
        "failed": failed + (steady_from is None),
        "errors": [] if steady_from else [f"no steady state within {MAX_RUN_S} s"],
        "overhead_frac": overhead_frac(lat_rows, "kind", "ms") if trace else None,
        "e2e": {
            "setup_s": metric(median(setups), "s"),
            "latency_p50_ms": metric(median(latencies), "ms"),
            "latency_tail_ms": metric(lat_tail, "ms"),
        },
        "e2e_live": {
            "first_result_s": metric(first_result - t0 if first_result else float("nan"), "s"),
            "processed_events_per_s": metric(n_fed / wall, "events/s"),
        },
        "context": context,
        "layers_untraced": layer,
        "batches": batches,
        "emissions": len(emissions),
    }


def layer_extras(spark, tracer, result) -> dict[str, tuple[float, str]]:
    from spans import spark_jobs

    out = {}
    traced = [b for b in result["batches"] if b["traced"]]
    jobs = spark_jobs(spark, "pb-live-")
    ops = {b["op"] for b in traced}
    out["streaming.jobs_per_batch"] = (sum(1 for j in jobs if j["group"] in ops) / max(len(ops), 1), "count")
    out["baseline.warm_ms"] = (
        sum(s[3] - s[2] for s in tracer.spans if s[1] == "engine" and s[4] == "warm_baseline") * 1000,
        "ms",
    )
    return out
