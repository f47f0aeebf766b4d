"""``hist``: a closed loop with one HTTP client over historical Janus-QL.

Setup writes the seeded sensor log (history ending at setup time) into a
``QuadStore`` and serves ``create_app(JanusEngine(spark, store.read()))``
in-process.  The client then loops register → start → NDJSON results →
delete over four query templates, in rounds of one query of each template
in a seeded order:

  fixed    one pattern + FILTER over a fixed window
  star     observation star join + GROUP BY sensor over a fixed window
  panes    now-anchored sliding single-pattern aggregate (pane path)
  wids     now-anchored sliding multi-pattern GROUP BY (window-id path)

Every result is checked against DuckDB over the generator's rows, for
the window bounds the NDJSON reports.

The end-to-end latencies are those of a round: ``latency_p50_ms`` is the
sum of the four templates' median query latencies and ``latency_tail_ms``
the sum of their tail percentiles, so every template reaches both.
"""

from __future__ import annotations

import bisect
import http.client
import json
import logging
import math
import random
import shutil
import threading
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from common import WORK, dir_size, median, metric, overhead_frac, quantile, tail_percentile
from sensors import EX, PROPERTIES, SensorField

SPAN_MS = 2 * 3600 * 1000  # history length
RATE = 10.0  # observations per second across all sensors
FIXED_LEN_MS = 15 * 60 * 1000
SLIDE_RANGE_MS = 10 * 60 * 1000
SLIDE_STEP_MS = 5 * 60 * 1000
# fixed, so every sliding query covers the same nine hops (and every star
# query the same property): seeded choices of these would make a run's
# latency depend on its draws
SLIDE_OFFSET_MS = 40 * 60 * 1000
THRESHOLD = 45  # only injected anomalies read above this
SETUP_REPEATS = 3
TEMPLATES = ("fixed", "star", "panes", "wids")  # one round: each once, shuffled
MIN_ROUNDS = 10  # 40 queries: a p75 tail with 10 queries beyond the four p75s
WARMUP_ROUNDS = 1  # JIT-compiles every template's plans before measuring
TRACE_ROUNDS = 6  # a traced run runs a fixed query set, so its counts repeat

PREFIX = f"""PREFIX sosa: <http://www.w3.org/ns/sosa/>
PREFIX ex: <{EX}>
REGISTER RStream <{EX}out> AS
"""


def query_text(template: str, rng: random.Random, anchor: int) -> tuple[str, dict]:
    """Janus-QL text plus the parameters the oracle needs."""
    if template in ("fixed", "star"):
        start = anchor - SPAN_MS + rng.randrange(0, SPAN_MS - FIXED_LEN_MS)
        p = {"start": start, "end": start + FIXED_LEN_MS, "prop": PROPERTIES[0]}
        win = f"FROM NAMED WINDOW ex:w ON LOG ex:log [START {p['start']} END {p['end']}]"
    else:
        p = {"offset": SLIDE_OFFSET_MS}
        win = (
            f"FROM NAMED WINDOW ex:w ON LOG ex:log "
            f"[OFFSET {p['offset']} RANGE {SLIDE_RANGE_MS} STEP {SLIDE_STEP_MS}]"
        )
    if template == "fixed":
        body = f"SELECT ?obs ?v {win} WHERE {{ WINDOW ex:w {{ ?obs sosa:hasSimpleResult ?v . FILTER(?v > {THRESHOLD}) }} }}"
    elif template == "star":
        body = (
            f"SELECT ?sensor (COUNT(?obs) AS ?n) (AVG(?v) AS ?avg) {win} WHERE {{ WINDOW ex:w {{ "
            f"?obs sosa:madeBySensor ?sensor . ?obs sosa:observedProperty <{p['prop']}> . "
            f"?obs sosa:hasSimpleResult ?v . }} }} GROUP BY ?sensor"
        )
    elif template == "panes":
        body = (
            f"SELECT ?sensor (COUNT(?obs) AS ?n) {win} WHERE {{ WINDOW ex:w {{ "
            f"?obs sosa:madeBySensor ?sensor . }} }} GROUP BY ?sensor"
        )
    else:
        body = (
            f"SELECT ?sensor (COUNT(?obs) AS ?n) (AVG(?v) AS ?avg) {win} WHERE {{ WINDOW ex:w {{ "
            f"?obs sosa:madeBySensor ?sensor . ?obs sosa:hasSimpleResult ?v . }} }} GROUP BY ?sensor"
        )
    return PREFIX + body, p


# ------------------------------------------------------------------ oracle
class Oracle:
    """DuckDB over the generator's observations (not over the quad log)."""

    def __init__(self, observations) -> None:
        self.db = duckdb.connect()
        table = pa.table(
            {
                "ts": [o.ts for o in observations],
                "obs": [o.obs for o in observations],
                "sensor": [o.sensor for o in observations],
                "prop": [o.prop for o in observations],
                "v": [float(o.value) for o in observations],
            }
        )
        self.db.register("obs_arrow", table)
        self.db.execute("CREATE TABLE obs AS SELECT * FROM obs_arrow")

    def fixed(self, p) -> list[tuple]:
        return self.db.execute(
            "SELECT obs, v FROM obs WHERE ts BETWEEN ? AND ? AND v > ?",
            [p["start"], p["end"], THRESHOLD],
        ).fetchall()

    def star(self, p) -> list[tuple]:
        return self.db.execute(
            "SELECT sensor, COUNT(*), AVG(v) FROM obs WHERE ts BETWEEN ? AND ? AND prop = ? GROUP BY sensor",
            [p["start"], p["end"], p["prop"]],
        ).fetchall()

    def sliding(self, bounds, with_avg: bool) -> list[tuple]:
        out = []
        for ws, we in bounds:
            rows = self.db.execute(
                "SELECT sensor, COUNT(*), AVG(v) FROM obs WHERE ts BETWEEN ? AND ? GROUP BY sensor",
                [ws, we],
            ).fetchall()
            out += [(ws, we, s, n, a) if with_avg else (ws, we, s, n) for s, n, a in rows]
        return out


def sliding_bounds(now: int, offset: int) -> list[tuple[int, int]]:
    """Hops [cur, min(cur + range, now)] from now - offset while cur <= now."""
    out, cur = [], now - offset
    while cur <= now:
        out.append((cur, min(cur + SLIDE_RANGE_MS, now)))
        cur += SLIDE_STEP_MS
    return out


def infer_now(bindings, offset: int, lo_ms: int, hi_ms: int) -> int | None:
    """The anchor ``now`` the engine used: every window start is
    now - offset + k*step, and now lies between the start request and
    the first result line (a bracket narrower than one step)."""
    if not bindings:
        return None
    ws = int(bindings[0]["window_start"])
    mid = (lo_ms + hi_ms) / 2
    k = round((ws + offset - mid) / SLIDE_STEP_MS)
    return ws + offset - k * SLIDE_STEP_MS


def _close(a, b) -> bool:
    return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)


def _same(got: list[tuple], want: list[tuple]) -> bool:
    if len(got) != len(want):
        return False
    key = lambda r: tuple(str(x) for x in r[:-1]) if isinstance(r[-1], float) else tuple(map(str, r))  # noqa: E731
    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        if len(g) != len(w):
            return False
        for x, y in zip(g, w):
            if isinstance(y, float) or isinstance(x, float):
                if not _close(x, y):
                    return False
            elif str(x) != str(y):
                return False
    return True


def check(template, p, bindings, oracle: Oracle, lo_ms, hi_ms) -> bool:
    if template == "fixed":
        got = [(b["obs"], float(b["v"])) for b in bindings]
        return _same(got, oracle.fixed(p))
    if template == "star":
        got = [(b["sensor"], int(b["n"]), float(b["avg"])) for b in bindings]
        return _same(got, oracle.star(p))
    now = infer_now(bindings, p["offset"], lo_ms, hi_ms)
    if now is None:
        return not oracle.sliding(sliding_bounds(lo_ms, p["offset"]), False)
    bounds = sliding_bounds(now, p["offset"])
    if template == "panes":
        got = [(int(b["window_start"]), int(b["window_end"]), b["sensor"], int(b["n"])) for b in bindings]
        return _same(got, oracle.sliding(bounds, False))
    got = [
        (int(b["window_start"]), int(b["window_end"]), b["sensor"], int(b["n"]), float(b["avg"]))
        for b in bindings
    ]
    return _same(got, oracle.sliding(bounds, True))


def useful_quads(template, p, bindings, ts: list[int], r) -> int:
    """Quads of the log inside the windows the query asked for
    (``ts``: the sorted observation times)."""
    if template in ("fixed", "star"):
        lo, hi = p["start"], p["end"]
    else:
        now = infer_now(bindings, p["offset"], r["lo_ms"], r["hi_ms"]) or r["lo_ms"]
        lo, hi = now - p["offset"], now
    return 3 * (bisect.bisect_right(ts, hi) - bisect.bisect_left(ts, lo))


BUILD_LAYER = "engine"


def layer_extras(spark, tracer, result) -> dict[str, tuple[float, str]]:
    """hist-only per-layer metrics (printed by name, kept in the record)."""
    from spans import UNATTRIBUTED, spark_jobs

    traced = [r for r in result["results"] if r["traced"] and r["ok"]]
    ops = [r["op"] for r in traced]
    per_op = tracer.self_times()
    parse, build, comp = (tracer.span_ms(x) for x in ("parsing", "engine", "compiler"))
    rows_read = {}
    for j in spark_jobs(spark, "pb-hist-"):
        rows_read[j["group"]] = rows_read.get(j["group"], 0) + j["input_rows"]
    useful = sum(r["useful_quads"] for r in traced)
    read = sum(rows_read.get(op, 0) for op in ops)
    http = [
        (t.get("http_api", 0.0) + t.get(UNATTRIBUTED, 0.0)) * 1000
        for op, (_, t) in per_op.items() if op in set(ops)
    ]
    return {
        "parsing.parse_ms": (median([parse.get(op, 0.0) for op in ops]), "ms"),
        "engine.build_ms": (median([build.get(op, 0.0) for op in ops]), "ms"),
        "compiler.compile_ms": (median([comp.get(op, 0.0) for op in ops]), "ms"),
        "quadstore.scan_useful_ratio": (useful / read if read else float("nan"), "ratio"),
        "http_api.overhead_ms": (median(http), "ms"),
    }


# ------------------------------------------------------------------ setup
class Server:
    def __init__(self, app) -> None:
        from werkzeug.serving import make_server

        logging.getLogger("werkzeug").setLevel(logging.ERROR)  # no per-request log lines
        self.httpd = make_server("127.0.0.1", 0, app, threaded=True)
        self.port = self.httpd.server_port
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.thread.start()

    def stop(self) -> None:
        self.httpd.shutdown()
        self.thread.join(timeout=30)
        self.httpd.server_close()


def write_observations(observations, path) -> None:
    quads = [q for o in observations for q in o.quads()]
    table = pa.table(
        {
            "ts": pa.array([q[0] for q in quads], pa.int64()),
            "subject": [q[1] for q in quads],
            "predicate": [q[2] for q in quads],
            "object": [q[3] for q in quads],
            "graph": [""] * len(quads),
        }
    )
    pq.write_table(table, path)


def setup_once(spark, field: SensorField, root):
    """Seeded log → QuadStore → engine → HTTP app; returns its parts."""
    from janus_spark.engine import JanusEngine
    from janus_spark.http_api import create_app
    from janus_spark.sources.quadstore import QuadStore

    shutil.rmtree(root, ignore_errors=True)
    root.mkdir(parents=True)
    anchor = int(time.time() * 1000)
    observations = field.history(anchor, SPAN_MS, RATE)
    write_observations(observations, str(root / "log.parquet"))
    store = QuadStore(spark, str(root / "store"))
    store.write(spark.read.parquet(str(root / "log.parquet")))
    engine = JanusEngine(spark, store.read())
    server = Server(create_app(engine, buffer_root=str(root / "live")))
    return anchor, observations, store, server


class Client:
    """One keep-alive HTTP connection."""

    def __init__(self, port: int) -> None:
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)

    def call(self, method: str, path: str, body: dict | None = None) -> tuple[int, bytes]:
        data = json.dumps(body).encode() if body is not None else None
        headers = {"Content-Type": "application/json"} if data else {}
        self.conn.request(method, path, body=data, headers=headers)
        resp = self.conn.getresponse()
        return resp.status, resp.read()

    def close(self) -> None:
        self.conn.close()


def one_query(client: Client, tracer, text: str) -> dict:
    """register → start → results → delete; latency ends at the last
    NDJSON line."""
    out = {"ok": False}
    t0 = time.time()
    with tracer.span("http_api", "register"):
        status, body = client.call("POST", "/api/queries", {"query": text})
    if status != 201:
        out["error"] = f"register {status}"
        return out
    qid = json.loads(body)["query_id"]
    out["qid"] = qid
    t_start = time.time()
    with tracer.span("http_api", "start"):
        status, _ = client.call("POST", f"/api/queries/{qid}/start")
    with tracer.span("http_api", "results"):
        status2, body = client.call("GET", f"/api/queries/{qid}/results?timeout=120&max=1")
    t1 = time.time()
    with tracer.span("http_api", "delete"):
        client.call("DELETE", f"/api/queries/{qid}")
    lines = [json.loads(x) for x in body.decode().splitlines() if x.strip()]
    if status != 200 or status2 != 200 or len(lines) != 1 or lines[0].get("type") != "result":
        out["error"] = f"bad response: {lines[:1]!r}"[:300]
        return out
    out.update(ok=True, latency_ms=(t1 - t0) * 1000, bindings=lines[0]["bindings"],
               lo_ms=int(t_start * 1000), hi_ms=int(t1 * 1000) + 1)
    return out


def run(spark, seed: int, seconds: float, trace: bool, tracer) -> dict:
    field = SensorField(seed)
    root = WORK / "hist"
    setups, parts = [], None
    for i in range(SETUP_REPEATS):
        if parts is not None:
            parts[3].stop()
        t = time.perf_counter()
        parts = setup_once(spark, field, root / f"setup{i}")
        setups.append(time.perf_counter() - t)
    anchor, observations, store, server = parts
    oracle = Oracle(observations)
    obs_ts = [o.ts for o in observations]  # history() returns them in ts order
    n_files, n_bytes = dir_size(store.path)

    client = Client(server.port)
    rng = random.Random(f"hist-mix:{seed}")
    plan = []  # the rest of the current round
    warm = 0
    try:
        t_warm = time.perf_counter()
        for template in WARMUP_ROUNDS * TEMPLATES:  # warm-up, not measured
            text, _ = query_text(template, rng, anchor)
            one_query(client, tracer, text)
            warm += 1
        warmup_s = time.perf_counter() - t_warm
        if trace:
            from spans import install_janus_spans

            install_janus_spans(tracer, spark, lambda: spark.sparkContext.setJobGroup(tracer.op, "perfbench"))
        results = []
        t_begin = time.perf_counter()
        i = 0
        more = (lambda: i < TRACE_ROUNDS * len(TEMPLATES)) if trace else (
            lambda: time.perf_counter() - t_begin < seconds or i < MIN_ROUNDS * len(TEMPLATES))
        while plan or more():
            if not plan:
                plan = list(TEMPLATES)
                rng.shuffle(plan)
            template = plan.pop()
            text, p = query_text(template, rng, anchor)
            traced = trace and (i // len(TEMPLATES)) % 2 == 0  # whole rounds
            op_id = f"pb-hist-{i}"
            with tracer.operation(op_id, traced):
                r = one_query(client, tracer, text)
            r.update(template=template, traced=traced, op=op_id)
            if r["ok"]:
                bindings = r.pop("bindings")
                r["correct"] = check(template, p, bindings, oracle, r["lo_ms"], r["hi_ms"])
                r["useful_quads"] = useful_quads(template, p, bindings, obs_ts, r)
            results.append(r)
            i += 1
        measured_s = time.perf_counter() - t_begin
    finally:
        client.close()
        tracer.unpatch()
        server.stop()

    failed = [r for r in results if not (r["ok"] and r["correct"])]
    lat = {t: [r["latency_ms"] for r in results if r["ok"] and r["template"] == t and not r["traced"]]
           for t in TEMPLATES}
    # a round at each template's median and at each template's tail
    p_tail = tail_percentile(MIN_ROUNDS * len(TEMPLATES))
    by_template = {t: median(v) for t, v in lat.items()}
    tail_by_template = {t: quantile(v, p_tail) for t, v in lat.items()}
    return {
        "attempted": len(results),
        "failed": len(failed),
        "overhead_frac": overhead_frac(results, "template", "latency_ms") if trace else None,
        "errors": [r.get("error", "wrong result") for r in failed][:5],
        "e2e": {
            "setup_s": metric(median(setups), "s"),
            "latency_p50_ms": metric(sum(by_template.values()), "ms"),
            "latency_tail_ms": metric(sum(tail_by_template.values()), "ms"),
        },
        "context": {
            "tail_percentile": f"p{p_tail:g} of each template, summed",
            "samples": sum(len(v) for v in lat.values()),
            "log_quads": 3 * len(observations),
            "log_bytes": n_bytes,
            "log_files": n_files,
            "setup_runs_s": [round(s, 4) for s in setups],
            "warmup_s": round(warmup_s, 3),
            "warmup_queries": warm,
            "measured_s": round(measured_s, 3),
            "latency_p50_ms_by_template": {k: round(v, 2) for k, v in by_template.items()},
            f"latency_p{p_tail:g}_ms_by_template": {k: round(v, 2) for k, v in tail_by_template.items()},
        },
        "results": results,
        "observations": observations,
        "store": store,
    }
