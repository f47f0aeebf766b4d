"""Live sliding-window runtime — operators W3 (S2R window), W4
(cross-window merge), W5 (close via event time / sentinel), W6 (RStream).

Reference behavior (rsp-rs usage in src/stream/live_stream_processing.rs):

- a live window ``[RANGE r STEP st]`` produces hops ``[k*st, k*st + r)``;
  a window closes when an event with ts >= its end arrives (:431-507);
- at fire time the contents of every OTHER live window are merged into
  the firing window's container before evaluation (:466-482);
- RStream: each close emits the FULL current result set (not deltas);
- ``close_stream(uri, final_ts)`` force-flushes remaining windows (:229-264);
- static/baseline quads are visible to every evaluation (:509-530).

Spark-first design: the runtime rides Structured Streaming's
``foreachBatch``.  Each micro-batch appends to a time-retention event
buffer (bounded by the max window range — the same state rsp-rs keeps in
memory, but spillable and distributed).  All hops it closes (from the
max event time) run as ONE window-id plan, like historical sliding
windows: one compile, one collect, rows split per window on the driver,
so its Spark jobs do not grow with the windows fired.  Late events older
than the watermark slack are dropped (the reference has NO late-data
story at all — its MQTT path overwrites event time with arrival time; we
document the divergence and keep a configurable allowed lateness instead).
"""

from __future__ import annotations

import dataclasses
import shutil
import time
from collections import Counter, defaultdict
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from janus_spark.compiler.compile import compile_sparql
from janus_spark.model import QUAD_COLUMNS
from janus_spark.operators.historical import WINDOW_ID, assign_sliding_windows, window_table
from janus_spark.parsing.janusql import JanusQuery, WindowDef

# hops of one window spec fired per on_batch/close call: the most recent
# ones; older closed hops are skipped (bounds a late-starting backfill)
MAX_WINDOWS_PER_BATCH = 100
# rows of one fired window emitted to a driver-side sink (ParquetSink: no
# bound); a per-window LIMIT in the plan: a collect holds this many rows at
# most per distinct window end
COLLECT_LIMIT = 100_000


class ListSink:
    """Collects emitted result batches driver-side (test/QueryHandle use)."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def __call__(self, window_name: str, window_start: int, window_end: int, rows: list) -> None:
        self.batches.append(
            {
                "window": window_name,
                "window_start": window_start,
                "window_end": window_end,
                "rows": rows,
            }
        )


class ParquetSink:
    """Distributed RStream result delivery — the at-scale escape hatch
    for ``COLLECT_LIMIT``: the executors write the FULL result of a
    micro-batch's fired windows once, partitioned by window id, and only
    a manifest row per fired window (window bounds, path, row count)
    crosses to the driver channel.  Every manifest path is a readable
    parquet directory; an empty window's holds one empty file.
    The reference's results-to-channel contract
    (src/http/server.rs:473-545) stays intact — consumers follow the
    manifest to the data instead of receiving the rows inline.

    RStream only: the delta operators (IStream/DStream) maintain
    driver-side multiset state over the previous emission, which is
    exactly what a distributed sink exists to avoid; LiveQueryRunner
    rejects the combination up front.
    """

    wants_dataframe = True

    def __init__(self, root: str):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self.manifests: list[dict] = []

    def write(self, fires: list[tuple[str, int, int, int]], result: DataFrame) -> None:
        """``fires``: (window name, start, end, window id) in emission
        order; ``result`` carries the window id column."""
        # a call's hop ends all lie past every earlier call's: a unique key
        path = self.root / f"upto_{max(e for _, _, e, _ in fires)}"
        result.write.mode("overwrite").partitionBy(WINDOW_ID).parquet(str(path))
        for name, s, e, wid in fires:
            part = path / f"{WINDOW_ID}={wid}"
            if not part.exists():
                # the write leaves no directory for a window without rows:
                # give it one empty file with the result's schema
                part.mkdir(parents=True)
                schema = to_arrow_schema(result.drop(WINDOW_ID).schema)
                pq.write_table(schema.empty_table(), part / "part-00000.parquet")
            # row count from the written footers, not a second run of the plan
            n = sum(pq.read_metadata(f).num_rows for f in part.glob("*.parquet"))
            self.manifests.append(dict(window=name, window_start=s, window_end=e, path=str(part), n_rows=n))


class LiveQueryRunner:
    """Evaluates a parsed Janus-QL live query over a quad stream.

    Drive it either from Structured Streaming (``attach(stream_df)``) or
    directly per batch (``on_batch``) — replay (S8) uses the latter.
    """

    def __init__(
        self,
        spark: SparkSession,
        parsed: JanusQuery,
        buffer_path: str,
        static_quads: DataFrame | None = None,
        sink=None,
        registry: dict | None = None,
    ):
        self.spark = spark
        self.parsed = parsed
        self.buffer_path = Path(buffer_path)
        self.buffer_path.mkdir(parents=True, exist_ok=True)
        self.static_quads = static_quads
        self.sink = sink if sink is not None else ListSink()
        self.registry = registry
        self.windows: list[WindowDef] = parsed.live_windows
        if not self.windows:
            raise ValueError("query has no live windows")
        self.max_range = max(w.range_ms for w in self.windows)
        self._last_fired_end = {w.name: -1 for w in self.windows}
        self.max_ts: int = -1
        self._distributed = getattr(self.sink, "wants_dataframe", False)
        q = parsed.live_query()
        # COLLECT_LIMIT as a LIMIT: the compiler ranks each window's rows
        cap = COLLECT_LIMIT if q.limit is None else min(q.limit, COLLECT_LIMIT)
        self._live_query = q if self._distributed else dataclasses.replace(q, limit=cap)
        self._chunks: dict[str, int] = {}  # subdir name -> max ts (for pruning)
        self._chunk_no = 0
        # R2S operator: RStream re-emits the full result each close (the
        # only mode the reference implements); IStream emits only rows new
        # since the previous close, DStream only rows that disappeared
        self.operator = (parsed.operator or "RStream").upper()
        if self._distributed and self.operator != "RSTREAM":
            raise ValueError(
                "distributed (DataFrame) sinks support RStream only: "
                f"{self.operator} maintains driver-side multiset state over "
                "the previous emission"
            )
        self._prev_rows: dict[str, list] = {}
        # runtime observability (served by /api/queries/<id>/metrics):
        # counters ride the aggregates each batch already runs — no
        # extra jobs
        self.metrics: dict = {
            "n_batches": 0,
            "rows_in": 0,
            "windows_fired": 0,
            "last_fire_window_end": None,
            "last_batch_wall_ms": None,
        }

    # ------------------------------------------------------------ buffer
    def _append_buffer(self, batch_df: DataFrame) -> int | None:
        """Append micro-batch to the retention buffer; returns batch max ts."""
        agg = batch_df.agg(F.max("ts").alias("m"), F.count(F.lit(1)).alias("n")).collect()[0]
        self.metrics["rows_in"] += int(agg["n"])
        if agg["m"] is None:
            return None
        sub = f"c{self._chunk_no:08d}"
        self._chunk_no += 1
        batch_df.write.mode("overwrite").parquet(str(self.buffer_path / sub))
        self._chunks[sub] = int(agg["m"])
        return int(agg["m"])

    def _prune_buffer(self) -> None:
        """Drop chunks entirely older than any window can still need."""
        cutoff = self.max_ts - self.max_range - 1
        for sub, mx in list(self._chunks.items()):
            if mx < cutoff:
                shutil.rmtree(self.buffer_path / sub, ignore_errors=True)
                del self._chunks[sub]

    def _buffer_df(self) -> DataFrame:
        paths = [str(self.buffer_path / s) for s in self._chunks]
        return self.spark.read.parquet(*paths)

    # ------------------------------------------------------------- fire
    def on_batch(self, batch_df: DataFrame, batch_id: int | None = None) -> None:
        t0 = time.perf_counter()
        self.metrics["n_batches"] += 1
        m = self._append_buffer(batch_df.select(*QUAD_COLUMNS))
        if m is not None:
            self.max_ts = max(self.max_ts, m)
            self._fire_closed_windows(self.max_ts)
            self._prune_buffer()
        self.metrics["last_batch_wall_ms"] = round((time.perf_counter() - t0) * 1000, 1)

    def close(self, final_ts: int | None = None) -> None:
        """W5 sentinel: force-close every window up to final_ts
        (reference close_stream, live_stream_processing.rs:229-264)."""
        t = final_ts if final_ts is not None else self.max_ts + self.max_range + 1
        self.max_ts = max(self.max_ts, t)
        self._fire_closed_windows(t)

    def _fire_closed_windows(self, upto_ts: int) -> None:
        # closed (end <= upto_ts), not yet fired hops [k*st, k*st + rng) in
        # emission order: window specs in query order, k ascending
        fires: list[tuple[str, int, int]] = []
        for w in self.windows:
            st, rng = w.step_ms, w.range_ms
            k_hi = (upto_ts - rng) // st
            k_lo = max(0, (self._last_fired_end[w.name] - rng) // st + 1, k_hi - MAX_WINDOWS_PER_BATCH + 1)
            fires += [(w.name, k * st, k * st + rng) for k in range(k_lo, k_hi + 1)]
            if k_lo <= k_hi:
                self._last_fired_end[w.name] = k_hi * st + rng
        if fires:
            self._evaluate(fires)

    def _evaluate(self, fires: list[tuple[str, int, int]]) -> None:
        """Evaluate every fired hop with one plan and one result action."""
        self.metrics["windows_fired"] += len(fires)
        self.metrics["last_fire_window_end"] = fires[-1][2]
        # W4 cross-window merge: a fire ending at e sees every live
        # window's slice [e - range, e); their union is [e - max_range, e),
        # so hops ending together share content and one window id.  Bounds
        # are inclusive and event time is integer ms: the last ts is e - 1.
        ends = sorted({e for _, _, e in fires})
        wid = {e: i for i, e in enumerate(ends)}
        bounds = [(i, e - self.max_range, e - 1) for i, e in enumerate(ends)]
        ids = window_table(self.spark, bounds).select(WINDOW_ID)
        content = (
            assign_sliding_windows(self._buffer_df(), bounds)
            .select(*QUAD_COLUMNS, WINDOW_ID)
            # window containers have SET semantics (rsp-rs QuadContainer is
            # a HashSet<Quad>): identical quads collapse, incl. feed duplicates
            .dropDuplicates([*QUAD_COLUMNS, WINDOW_ID])
        )
        result = compile_sparql(
            self._live_query,
            content,
            partition_cols=ids,
            registry=self.registry,
            static_quads=self.static_quads,
        )
        if self._distributed:
            # executors write the full results; only manifests reach the driver
            self.sink.write([(name, s, e, wid[e]) for name, s, e in fires], result)
            return
        cols = [c for c in result.columns if c != WINDOW_ID]
        rows: dict[int, list] = defaultdict(list)
        for i, row in result.select(WINDOW_ID, F.struct(*cols)).collect():
            rows[i].append(row)
        for name, s, e in fires:
            self._emit(name, s, e, rows[wid[e]])

    def _emit(self, name: str, s: int, e: int, rows: list) -> None:
        if self.operator in ("ISTREAM", "DSTREAM"):
            # bag (multiset) semantics: a solution's multiplicity delta
            # determines how many copies are inserted/deleted
            prev = self._prev_rows.get(name, [])
            self._prev_rows[name] = rows
            new, old = (rows, prev) if self.operator == "ISTREAM" else (prev, rows)
            budget = Counter(map(tuple, new)) - Counter(map(tuple, old))
            rows = []
            for r in new:
                if budget[tuple(r)] > 0:
                    budget[tuple(r)] -= 1
                    rows.append(r)
        self.sink(name, s, e, rows)

    # -------------------------------------------------- structured stream
    def attach(self, stream_df: DataFrame, trigger_seconds: float | None = None, once: bool = False):
        """Attach to a streaming quads DataFrame via foreachBatch (S7)."""
        writer = stream_df.writeStream.foreachBatch(lambda df, bid: self.on_batch(df, bid))
        writer = writer.option("checkpointLocation", str(self.buffer_path / "_checkpoint"))
        if once:
            writer = writer.trigger(availableNow=True)
        elif trigger_seconds:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        return writer.start()
