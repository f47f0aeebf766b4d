"""Benchmark-side tracing: spans around the public entry points of each
layer, layer self times, and Spark work counters from the status store.

Spans are recorded only while ``Tracer.active`` is set, so a traced run
can interleave traced and untraced operations and report the tracing
overhead as the difference.  Spans stay in memory until the run ends.

Self time is computed per operation with a sweep over its spans: at
every instant the time goes to the active span that started last (the
innermost one, also across the client and server threads of one HTTP
request); time when only the operation's root span is active is
unattributed.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager

ROOT = "op"
UNATTRIBUTED = "unattributed"


class Tracer:
    def __init__(self) -> None:
        self.active = False
        self.op: str | None = None  # one operation is in flight at a time
        self.spans: list[tuple[str, str, float, float, str, int]] = []
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, layer: str, detail: str = ""):
        if not self.active or self.op is None:
            yield
            return
        op = self.op
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            with self._lock:
                self.spans.append((op, layer, t0, t1, detail, threading.get_ident()))

    @contextmanager
    def operation(self, op_id: str, traced: bool):
        """One unit of work (a query, a micro-batch, a pipeline job)."""
        self.op, self.active = op_id, traced
        try:
            with self.span(ROOT, op_id):
                yield
        finally:
            self.active = False

    # ------------------------------------------------------------ patches
    def wrap(self, owner, attr: str, layer: str, before=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper; ``before``
        (if given) is called with the arguments first, while active."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if self.active and before is not None:
                before(*args, **kwargs)
            with self.span(layer, attr):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ------------------------------------------------------------ analysis
    def ops(self) -> dict[str, list]:
        out: dict[str, list] = {}
        for s in self.spans:
            out.setdefault(s[0], []).append(s)
        return out

    def self_times(self) -> dict[str, tuple[float, dict[str, float]]]:
        """op -> (wall seconds, layer -> self seconds)."""
        out = {}
        for op, spans in self.ops().items():
            root = [s for s in spans if s[1] == ROOT]
            if not root:
                continue
            r0, r1 = root[0][2], root[0][3]
            inner = [s for s in spans if s[1] != ROOT]
            events = sorted({r0, r1} | {t for s in inner for t in (s[2], s[3]) if r0 <= t <= r1})
            totals: dict[str, float] = {}
            for a, b in zip(events, events[1:]):
                mid = (a + b) / 2
                live = [s for s in inner if s[2] <= mid < s[3]]
                layer = max(live, key=lambda s: s[2])[1] if live else UNATTRIBUTED
                totals[layer] = totals.get(layer, 0.0) + (b - a)
            out[op] = (r1 - r0, totals)
        return out

    def span_ms(self, layer: str) -> dict[str, float]:
        """op -> summed duration (ms) of the op's spans of ``layer``."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s[1] == layer:
                out[s[0]] = out.get(s[0], 0.0) + (s[3] - s[2]) * 1000
        return out


def install_janus_spans(tracer: Tracer, spark, set_group) -> None:
    """Wrap the layer entry points of janus_spark and the Spark actions.

    ``set_group`` is called at the start of every engine call so the
    Spark jobs it starts carry the operation's job group, whichever
    thread runs them."""
    import janus_spark.engine as engine
    import janus_spark.operators.historical as historical
    import janus_spark.streaming.live as live
    from janus_spark.sources.quadstore import QuadStore

    group = lambda *a, **k: set_group()  # noqa: E731
    tracer.wrap(engine, "parse_janusql", "parsing")
    for name in ("start_historical", "start_live", "warm_baseline"):
        tracer.wrap(engine.JanusEngine, name, "engine", before=group)
    tracer.wrap(engine, "run_historical_fixed", "operators.historical")
    tracer.wrap(engine, "run_historical_sliding", "operators.historical")
    tracer.wrap(engine, "build_baseline", "operators.baseline")
    tracer.wrap(engine, "baseline_to_quads", "operators.baseline")
    tracer.wrap(historical, "compile_sparql", "compiler")
    tracer.wrap(live, "compile_sparql", "compiler")
    tracer.wrap(live.LiveQueryRunner, "on_batch", "streaming")
    tracer.wrap(QuadStore, "write", "sources.quadstore")
    tracer.wrap(QuadStore, "read", "sources.quadstore")
    df_cls = type(spark.range(1))
    for name in ("collect", "count", "toPandas", "localCheckpoint", "checkpoint", "toLocalIterator"):
        tracer.wrap(df_cls, name, "spark")
    writer_cls = type(spark.range(1).write)
    for name in ("parquet", "save", "saveAsTable", "insertInto"):
        if hasattr(writer_cls, name):
            tracer.wrap(writer_cls, name, "spark")


# ------------------------------------------------------------ Spark counters
STAGE_FIELDS = (
    "input_bytes",
    "input_rows",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "executor_run_ms",
)


def spark_jobs(spark, prefix: str) -> list[dict]:
    """Every finished job whose group starts with ``prefix``, with the
    summed metrics of its completed stages (status store; works with the
    UI off)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    empty = sc._gateway.new_array(sc._jvm.double, 0)
    stages = {}
    sl = store.stageList(None, False, False, empty, None)
    for i in range(sl.size()):
        s = sl.apply(i)
        if s.status().toString() != "COMPLETE":
            continue
        stages[(s.stageId())] = {
            "tasks": s.numTasks(),
            "input_bytes": s.inputBytes(),
            "input_rows": s.inputRecords(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "executor_run_ms": s.executorRunTime(),
        }
    jobs = []
    jl = store.jobsList(None)
    listed = sorted((jl.apply(i) for i in range(jl.size())), key=lambda j: j.jobId())
    seen = set()  # a reused shuffle stage is counted with the job that ran it
    for j in listed:
        g = j.jobGroup()
        if not g.isDefined() or not str(g.get()).startswith(prefix):
            continue
        ids = j.stageIds()
        ids = [ids.apply(k) for k in range(ids.size())]
        run = [stages[s] for s in ids if s in stages and s not in seen]
        seen.update(ids)
        sub = j.submissionTime()
        job = {
            "group": str(g.get()),
            "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
            "stages": len(run),
            "tasks": sum(s["tasks"] for s in run),
        }
        for f in STAGE_FIELDS:
            job[f] = sum(s[f] for s in run)
        jobs.append(job)
    return jobs


def per_op_counters(jobs: list[dict], ops: list[str], build_spans: list[tuple[str, float, float]]) -> dict:
    """Mean Spark work per operation, plus the jobs submitted while a
    plan was being built (eager jobs)."""
    n = max(len(ops), 1)
    opset = set(ops)
    mine = [j for j in jobs if j["group"] in opset]
    built = {}
    for op, t0, t1 in build_spans:
        built.setdefault(op, []).append((t0, t1))

    def eager(j):
        t = j["submitted"]
        return t is not None and any(a - 0.001 <= t <= b for a, b in built.get(j["group"], []))

    out = {
        "spark.jobs": len(mine) / n,
        "spark.stages": sum(j["stages"] for j in mine) / n,
        "spark.tasks": sum(j["tasks"] for j in mine) / n,
        "plan.eager_jobs": sum(1 for j in mine if eager(j)) / n,
    }
    for f in STAGE_FIELDS:
        out[f"spark.{f}"] = sum(j[f] for j in mine) / n
    return out
