"""Driver-contract query set: every implemented operator from SURVEY §2
gets a ``queries()`` entry (Spark, through the engine) and an
``oracle_sql()`` entry (equivalent ANSI SQL for DuckDB over the original
parquet tables).

Design note: engine queries run over MELTED quads (FIXTURES.md §3-4) so
they exercise the real SPARQL→DataFrame path; the oracle runs relational
SQL over the same source tables.  Final numeric outputs are cast to
DOUBLE on both sides so the string round-trip through the quad lexical
form cancels out (string formatting never reaches the compare).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from janus_spark.compiler import compile_sparql, parse_sparql
from janus_spark.engine import JanusEngine
from janus_spark.operators.comparator import window_stats
from janus_spark.operators.historical import sliding_window_bounds
from janus_spark.sources.melt import melt_events, melt_table, read_events


# DataFrames are lazy and immutable — the melted view of a table can be
# built once per (session, sf_dir) and reused by every query.  Without
# this each call re-issues hundreds of Py4J column-expression calls for
# the union-of-projections melt (~1s of pure driver time per query).
_FRAME_CACHE: dict[tuple, object] = {}


def _cached(key: tuple, build):
    if key not in _FRAME_CACHE:
        _FRAME_CACHE[key] = build()
    return _FRAME_CACHE[key]


def _read_wide(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet input (plain scan — the widening repartition this
    helper briefly carried is REVERTED, re-measured per guide §1.2).

    History: mid-r10 this repartitioned small single-row-group scans to
    the core budget so CPU-dense per-document stages would not run
    single-task.  That measurement predated the operator rewrites that
    made those stages cheap (gopher/quality/tf became narrow run-length
    projections; the minhash family already widens internally at
    ``_minhash_banded``).  Re-measured against the bench methodology on
    a quiet box, interleaved process A/B, min of later reps: the probe
    (``df.rdd.getNumPartitions`` ≈ 0.03 s) plus the round-robin shuffle
    (≈ 0.1 s + payload) now LOSES or washes on every consumer —
    q_embedding_near_dup 2.32→1.50 s, q_line_dedup 1.49→0.92 s,
    q_novelty 1.86→1.47 s, q_entity_resolution 7.66→4.85 s,
    q_tfidf_pairs 2.23→1.63 s, q_curation_full 12.9→11.8 s; no gate
    favored widening.  At 100 TB a corpus scan exceeds the core count
    by construction, so the helper was a no-op there anyway — operators
    that need width mid-plan (self-join fan-out) still repartition
    themselves.  The helper name stays so the decision has one home if
    data shapes change again."""
    return spark.read.parquet(path)


def _await_stream(q, timeout_s: int) -> None:
    """awaitTermination returning False means the availableNow query is
    STILL RUNNING — reading the sink then would return a plausible but
    partial result.  Fail loudly instead (ADVICE r8)."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise RuntimeError(
            f"streaming query did not terminate within {timeout_s}s; "
            "sink contents would be partial"
        )


def _events_quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cached(
        (spark, sf_dir, "events_quads"),
        lambda: melt_events(read_events(spark, sf_dir)),
    )


def _table_quads(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    from janus_spark.sources.melt import ensure_utc

    ensure_utc(spark)  # timestamp melts must not depend on the caller's TZ
    return _cached(
        (spark, sf_dir, "table_quads", table),
        lambda: melt_table(spark.read.parquet(f"{sf_dir}/{table}.parquet"), table),
    )


def _events_ptr(spark: SparkSession, sf_dir: str) -> dict:
    """Star-join elimination registry for the melted events table."""
    from janus_spark.sources.melt import events_property_table, property_registry

    return _cached(
        (spark, sf_dir, "events_ptr"),
        lambda: property_registry(events_property_table(read_events(spark, sf_dir))),
    )


def _table_ptr(spark: SparkSession, sf_dir: str, *tables: str) -> dict:
    """Star-join elimination registry for melted relational tables
    (valid because each TABLE_KEYS key is row-unique in the testdata)."""
    from janus_spark.sources.melt import ensure_utc, property_registry, property_table

    ensure_utc(spark)
    return _cached(
        (spark, sf_dir, "table_ptr", tables),
        lambda: property_registry(
            *[
                property_table(spark.read.parquet(f"{sf_dir}/{t}.parquet"), t)
                for t in tables
            ]
        ),
    )


def _run(quads: DataFrame, text: str, property_tables: dict | None = None, **kw) -> DataFrame:
    return compile_sparql(parse_sparql(text), quads, property_tables=property_tables, **kw)


# --------------------------------------------------------------- queries
def q_bgp_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1: single triple-pattern scan with constant predicate."""
    q = """SELECT ?event (?v + 0 AS ?value) WHERE {
             ?event <urn:col:value> ?v . }"""
    return _run(_events_quads(spark, sf_dir), q).select(
        "event", F.col("value").cast("double").alias("value")
    )


def q_bgp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2: BGP join on shared subject + numeric FILTER (Q4)."""
    q = """SELECT ?event ?type (?v + 0 AS ?value) WHERE {
             ?event <urn:col:event_type> ?type .
             ?event <urn:col:value> ?v .
             FILTER(?v > 90) }"""
    return _run(_events_quads(spark, sf_dir), q, _events_ptr(spark, sf_dir)).select(
        "event", "type", F.col("value").cast("double").alias("value")
    )


def q_agg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7: GROUP BY + COUNT/AVG/MIN/MAX aggregates."""
    q = """SELECT ?type (COUNT(?e) AS ?n) (AVG(?v) AS ?avg_value)
                  (MIN(?v + 0) AS ?min_value) (MAX(?v + 0) AS ?max_value)
           WHERE { ?e <urn:col:event_type> ?type .
                   ?e <urn:col:value> ?v . }
           GROUP BY ?type"""
    df = _run(_events_quads(spark, sf_dir), q, _events_ptr(spark, sf_dir))
    return df.select(
        "type",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("avg_value").cast("double"), 6).alias("avg_value"),
        F.col("min_value").cast("double").alias("min_value"),
        F.col("max_value").cast("double").alias("max_value"),
    )


def q_join_bind_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2+Q11: cross-table join via BIND(CONCAT(...)) — orders→customer."""
    quads = _table_quads(spark, sf_dir, "orders").unionByName(
        _table_quads(spark, sf_dir, "customer")
    )
    q = """SELECT ?name (COUNT(?o) AS ?order_count) (SUM(?p) AS ?total)
           WHERE {
             ?o <urn:orders:o_custkey> ?ck .
             ?o <urn:orders:o_totalprice> ?p .
             BIND(CONCAT("urn:customer:", ?ck) AS ?c)
             ?c <urn:customer:c_name> ?name .
           } GROUP BY ?name"""
    df = _run(quads, q, _table_ptr(spark, sf_dir, "orders", "customer"))
    # round-4: per-customer sums stay ~1e7 even at large sf (grouping key
    # cardinality grows with the data), 3 orders above double ulp there
    return df.select(
        "name",
        F.col("order_count").cast("long").alias("order_count"),
        F.round(F.col("total").cast("double"), 4).alias("total"),
    )


def q_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 OPTIONAL: customers with their (optional) nation name melted in."""
    quads = _table_quads(spark, sf_dir, "customer").unionByName(
        _table_quads(spark, sf_dir, "nation")
    )
    q = """SELECT ?c ?name ?nname WHERE {
             ?c <urn:customer:c_name> ?name .
             ?c <urn:customer:c_nationkey> ?nk .
             BIND(CONCAT("urn:nation:", ?nk) AS ?n)
             OPTIONAL { ?n <urn:nation:n_name> ?nname . }
           }"""
    return _run(quads, q, _table_ptr(spark, sf_dir, "customer", "nation"))


def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9/Q12 UNION of two pattern branches."""
    q = """SELECT ?e ?what WHERE {
             { ?e <urn:col:event_type> ?what . FILTER(?what = "click") }
             UNION
             { ?e <urn:col:event_type> ?what . FILTER(?what = "purchase") }
           }"""
    return _run(_events_quads(spark, sf_dir), q)


def q_minus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 MINUS: events that never have type 'click'."""
    q = """SELECT DISTINCT ?e WHERE {
             ?e <urn:col:user_id> ?u .
             MINUS { ?e <urn:col:event_type> "click" . }
           }"""
    return _run(_events_quads(spark, sf_dir), q)


def q_distinct_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10: DISTINCT + ORDER BY + LIMIT (top-k)."""
    q = """SELECT DISTINCT ?type WHERE { ?e <urn:col:event_type> ?type . }
           ORDER BY ?type LIMIT 3"""
    return _run(_events_quads(spark, sf_dir), q)


def q_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 VALUES: inline data constrains a pattern variable."""
    q = """SELECT ?e ?type WHERE {
             ?e <urn:col:event_type> ?type .
             VALUES ?type { "signup" "view" }
           }"""
    return _run(_events_quads(spark, sf_dir), q)


def q_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 GRAPH pattern selects one table's quads from a union."""
    quads = _table_quads(spark, sf_dir, "region").unionByName(
        _table_quads(spark, sf_dir, "nation")
    )
    q = """SELECT ?s ?o WHERE {
             GRAPH <urn:table:region> { ?s <urn:region:r_name> ?o . }
           }"""
    return _run(quads, q)


def q_expr_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 expression projection + builtins (STRLEN/UCASE/IF)."""
    q = """SELECT ?e (STRLEN(?t) AS ?type_len) (UCASE(?t) AS ?type_uc)
                  (IF(?v > 50, "hi", "lo") AS ?bucket)
           WHERE { ?e <urn:col:event_type> ?t .
                   ?e <urn:col:value> ?v . }"""
    df = _run(_events_quads(spark, sf_dir), q, _events_ptr(spark, sf_dir))
    return df.select("e", F.col("type_len").cast("long").alias("type_len"), "type_uc", "bucket")


def q_ext_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 is_outlier + F3 zscore extension functions in FILTER/projection."""
    q = """PREFIX janus: <https://janus.rs/fn#>
           SELECT ?e (janus:zscore(?v, 50, 25) AS ?z) WHERE {
             ?e <urn:col:value> ?v .
             FILTER(janus:is_outlier(?v, 50, 25, 1.5))
           }"""
    return _run(_events_quads(spark, sf_dir), q)


def q_ext_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/F4-F7/F9 rule functions as projected expressions (with F3/F8
    in q_ext_outlier this gives every extension function an oracle)."""
    q = """PREFIX janus: <https://janus.rs/fn#>
           SELECT ?e (janus:abs_diff(?v, 50) AS ?ad)
                  (janus:relative_change(?v, 50) AS ?rc)
                  (janus:absolute_threshold_exceeded(?v, 50, 30) AS ?abs_exc)
                  (janus:relative_threshold_exceeded(?v, 50, 0.5) AS ?rel_exc)
                  (janus:catch_up(50, ?v, 10) AS ?cu)
                  (janus:volatility_increase(?v, 50, 5) AS ?vol)
                  (janus:trend_divergent(?v, 50, 25) AS ?trd)
           WHERE { ?e <urn:col:value> ?v . }"""
    return _run(_events_quads(spark, sf_dir), q)


def q_hist_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 historical fixed window through the full Janus-QL path."""
    quads = _events_quads(spark, sf_dir)
    lo, hi = _events_ts_bounds(spark, sf_dir)
    mid = lo + (hi - lo) // 2
    text = f"""
    REGISTER RStream <out> AS
    SELECT ?e ?v
    FROM NAMED WINDOW <urn:w:hist> ON LOG <urn:stream:events> [START {lo} END {mid}]
    WHERE {{ WINDOW <urn:w:hist> {{ ?e <urn:col:value> ?v . }} }}
    """
    eng = JanusEngine(spark, quads)
    qid = eng.register_query(text, query_id="q_hist_fixed")
    res = eng.start_historical(qid)["urn:w:hist"]
    return res.select("e", F.col("v").cast("double").alias("v"))


def q_hist_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 historical sliding window (fixed injected 'now'), one plan."""
    quads = _events_quads(spark, sf_dir)
    lo, hi = _events_ts_bounds(spark, sf_dir)
    offset = hi - lo
    rng = max((hi - lo) // 4, 1)
    step = max((hi - lo) // 8, 1)
    text = f"""
    REGISTER RStream <out> AS
    SELECT (COUNT(?e) AS ?n) (AVG(?v) AS ?avg_v)
    FROM NAMED WINDOW <urn:w:h> ON LOG <urn:stream:events> [OFFSET {offset} RANGE {rng} STEP {step}]
    WHERE {{ WINDOW <urn:w:h> {{ ?e <urn:col:value> ?v . }} }}
    """
    eng = JanusEngine(spark, quads)
    qid = eng.register_query(text, query_id="q_hist_sliding")
    res = eng.start_historical(qid, now=hi)["urn:w:h"]
    return res.select(
        "window_start",
        "window_end",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("avg_v").cast("double"), 6).alias("avg_v"),
    )


def q_hist_sliding_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 sliding window + star-join elimination: a multi-pattern BGP
    grouped per hop runs as ONE window-tagged wide scan (zero
    self-joins, one shuffle for all hops)."""
    quads = _events_quads(spark, sf_dir)
    lo, hi = _events_ts_bounds(spark, sf_dir)
    offset = hi - lo
    rng = max((hi - lo) // 4, 1)
    step = max((hi - lo) // 8, 1)
    text = f"""
    REGISTER RStream <out> AS
    SELECT ?t (COUNT(?e) AS ?n) (AVG(?v) AS ?avg_v)
    FROM NAMED WINDOW <urn:w:s> ON LOG <urn:stream:events> [OFFSET {offset} RANGE {rng} STEP {step}]
    WHERE {{ WINDOW <urn:w:s> {{ ?e <urn:col:event_type> ?t . ?e <urn:col:value> ?v . }} }}
    GROUP BY ?t
    """
    eng = JanusEngine(spark, quads, property_tables=_events_ptr(spark, sf_dir))
    qid = eng.register_query(text, query_id="q_hist_sliding_star")
    res = eng.start_historical(qid, now=hi)["urn:w:s"]
    return res.select(
        "window_start",
        "window_end",
        "t",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("avg_v").cast("double"), 6).alias("avg_v"),
    )


def q_live_tumbling_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming multi-pattern join path under the EXACT gate: the
    deterministic sensor fixture flows through a real Structured
    Streaming run (file source -> per-pattern window tagging ->
    stream-stream window-equality join -> chained windowed agg -> memory
    sink, append mode) and the emitted windows hash-match a pure-SQL
    reconstruction in DuckDB.  The fixture values are small integers, so
    double sums are exact and engine-order-independent.  sf_dir is
    unused: the fixture IS the stream (reference bench shape:
    benches/live_injection.rs)."""
    import shutil
    import tempfile
    import uuid

    from janus_spark.model import QUAD_SCHEMA
    from janus_spark.parsing import parse_janusql
    from janus_spark.sources.melt import melt_sensor_fixture
    from janus_spark.streaming.native_agg import native_window_agg_stream

    text = """
    PREFIX ex: <http://example.org/>
    REGISTER RStream <out> AS
    SELECT ?s (COUNT(?t) AS ?n) (AVG(?h) AS ?avg_h)
    FROM NAMED WINDOW ex:w ON STREAM ex:sensors [RANGE 2000 STEP 2000]
    WHERE { WINDOW ex:w { ?s ex:temperature ?t . ?s ex:humidity ?h . } }
    GROUP BY ?s
    """
    temps = melt_sensor_fixture(spark, 40)
    hums = temps.select(
        "ts", "subject", F.lit("http://example.org/humidity").alias("predicate"),
        (F.col("object").cast("int") + 50).cast("string").alias("object"), "graph",
    )

    def closer(ts: int) -> DataFrame:  # advances event time on both legs
        return temps.unionByName(hums).where("ts = 100").selectExpr(
            f"CAST({ts} AS LONG) as ts", "subject", "predicate", "object", "graph"
        )

    root = tempfile.mkdtemp(prefix="live_tj_")
    try:
        temps.unionByName(hums).coalesce(1).write.parquet(f"{root}/f1.parquet")
        closer(60_000).coalesce(1).write.parquet(f"{root}/f2.parquet")
        closer(120_000).coalesce(1).write.parquet(f"{root}/f3.parquet")
        stream = (
            spark.readStream.schema(QUAD_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/*.parquet")
        )
        out = native_window_agg_stream(parse_janusql(text), stream, watermark="1 second")
        name = f"live_tj_{uuid.uuid4().hex[:8]}"
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", f"{root}/ck")
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q, 300)
        # keep only the data windows (the closer events open far-future
        # windows that exist solely to advance the watermark)
        return (
            spark.table(name)
            .where(F.col("window_start") <= 4000)
            .select(
                "window_start",
                "window_end",
                "s",
                F.col("n").cast("long").alias("n"),
                F.round(F.col("avg_h"), 6).alias("avg_h"),
            )
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_comparator_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9 rolling WindowStats per user over the events stream."""
    ev = read_events(spark, sf_dir).select(
        "user_id",
        "event_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("tsm"),
        "value",
    )
    # rebase the regression x to seconds since the global min timestamp:
    # raw epoch-ms x-values (~1.7e12) make the slope numerically tiny and
    # its low bits engine-dependent; the rebase keeps it well-conditioned
    min_ts = ev.agg(F.min("tsm")).collect()[0][0]
    ev = ev.withColumn("x", (F.col("tsm") - F.lit(min_ts)) / F.lit(1000.0))
    out = window_stats(ev, "value", "x", key_cols=["user_id"], window_size=10, order_cols=["tsm", "event_id"])
    return out.select(
        "user_id",
        "event_id",
        F.round(F.col("mean"), 6).alias("mean"),
        F.round(F.col("std_dev"), 6).alias("std_dev"),
        F.round(F.col("slope"), 9).alias("slope"),
        F.col("count").cast("long").alias("count"),
    )


def q_baseline_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8 baseline bootstrap (AGGREGATE) through the hybrid engine path."""
    quads = _events_quads(spark, sf_dir)
    lo, hi = _events_ts_bounds(spark, sf_dir)
    text = f"""
    REGISTER RStream <out> AS
    SELECT ?sensor ?v
    FROM NAMED WINDOW <urn:w:live> ON STREAM <urn:stream:events> [RANGE 1000 STEP 1000]
    FROM NAMED WINDOW <urn:w:hist> ON LOG <urn:stream:events> [START {lo} END {hi}]
    USING BASELINE <urn:w:hist> AGGREGATE
    WHERE {{
      WINDOW <urn:w:live> {{ ?sensor <urn:col:value> ?vl . }}
      WINDOW <urn:w:hist> {{ ?sensor <urn:col:value> ?v . }}
    }}
    """
    eng = JanusEngine(spark, quads)
    qid = eng.register_query(text, query_id="q_baseline_aggregate")
    static = eng.warm_baseline(qid)
    # baseline quads: subject anchor, predicate baseline#v, object mean value
    return static.select(
        F.col("subject").alias("anchor"),
        F.col("predicate").alias("var_iri"),
        F.col("object").try_cast("double").alias("value"),
    )


def _events_ts_bounds(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    """Min/max event time in ms — read from parquet footer statistics
    (no scan job; the same trick the reference's segment index plays)."""
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(f"{sf_dir}/events.parquet").metadata
        idx = md.schema.names.index("ts")
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                raise ValueError("no ts stats")
            mn, mx = st.min, st.max
            if hasattr(mn, "timestamp"):
                import calendar

                mn = calendar.timegm(mn.timetuple()) * 1000 + mn.microsecond // 1000
                mx = calendar.timegm(mx.timetuple()) * 1000 + mx.microsecond // 1000
            else:  # raw int64 nanos
                mn, mx = int(mn) // 1_000_000, int(mx) // 1_000_000
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
        return int(lo), int(hi)
    except Exception:
        r = (
            read_events(spark, sf_dir)
            .agg(
                F.unix_millis(F.min("ts").cast("timestamp")).alias("lo"),
                F.unix_millis(F.max("ts").cast("timestamp")).alias("hi"),
            )
            .collect()[0]
        )
        return r["lo"], r["hi"]


# ---------------------------------------------------------------- oracle
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q_bgp_scan": q_bgp_scan,
    "q_bgp_join": q_bgp_join,
    "q_agg_group": q_agg_group,
    "q_join_bind_concat": q_join_bind_concat,
    "q_optional": q_optional,
    "q_union": q_union,
    "q_minus": q_minus,
    "q_distinct_order_limit": q_distinct_order_limit,
    "q_values": q_values,
    "q_graph": q_graph,
    "q_expr_functions": q_expr_functions,
    "q_ext_outlier": q_ext_outlier,
    "q_ext_rules": q_ext_rules,
    "q_hist_fixed": q_hist_fixed,
    "q_hist_sliding": q_hist_sliding,
    "q_hist_sliding_star": q_hist_sliding_star,
    "q_comparator_stats": q_comparator_stats,
    "q_baseline_aggregate": q_baseline_aggregate,
    "q_live_tumbling_join": q_live_tumbling_join,
}

# SQL reconstruction of the streaming fixture: ts=i*100, sensor=i%5,
# temp=20+(i%10), humidity=temp+50; tumbling 2s windows = ts//2000.
# The BGP { ?s temp ?t . ?s hum ?h } is the within-window cross product
# per sensor, exactly a self-join on (sensor, window).
_LIVE_TJ_ORACLE = """
WITH ev AS (
  SELECT CAST(r.range * 100 AS BIGINT) AS ts,
         'http://example.org/sensor' || CAST(r.range % 5 AS VARCHAR) AS s,
         CAST(20 + (r.range % 10) AS DOUBLE) AS t
  FROM range(1, 41) r
), w AS (
  SELECT s, t, ts // 2000 AS win FROM ev
)
SELECT CAST(a.win * 2000 AS BIGINT) AS window_start,
       CAST(a.win * 2000 + 2000 AS BIGINT) AS window_end,
       a.s AS s,
       COUNT(*) AS n,
       ROUND(AVG(b.t + 50), 6) AS avg_h
FROM w a JOIN w b ON a.s = b.s AND a.win = b.win
GROUP BY 1, 2, 3
"""

_EV = "'urn:event:' || CAST(event_id AS VARCHAR)"
_TSM = "(epoch_ns(ts) // 1000000)"

ORACLES: dict[str, str] = {
    "q_bgp_scan": f"SELECT {_EV} AS event, value FROM events",
    "q_bgp_join": f"""SELECT {_EV} AS event, event_type AS type, value
                      FROM events WHERE value > 90""",
    "q_agg_group": """SELECT event_type AS type, COUNT(*) AS n,
                             ROUND(AVG(value), 6) AS avg_value,
                             MIN(value) AS min_value, MAX(value) AS max_value
                      FROM events GROUP BY event_type""",
    "q_join_bind_concat": """SELECT c.c_name AS name, COUNT(*) AS order_count,
                                    ROUND(SUM(o.o_totalprice), 4) AS total
                             FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                             GROUP BY c.c_name""",
    "q_optional": """SELECT 'urn:customer:' || CAST(c.c_custkey AS VARCHAR) AS c,
                            c.c_name AS name, n.n_name AS nname
                     FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey""",
    "q_union": f"""SELECT {_EV} AS e, event_type AS what FROM events WHERE event_type = 'click'
                   UNION ALL
                   SELECT {_EV} AS e, event_type AS what FROM events WHERE event_type = 'purchase'""",
    "q_minus": f"""SELECT DISTINCT {_EV} AS e FROM events
                   WHERE event_id NOT IN (SELECT event_id FROM events WHERE event_type = 'click')""",
    "q_distinct_order_limit": "SELECT DISTINCT event_type AS type FROM events ORDER BY type LIMIT 3",
    "q_values": f"""SELECT {_EV} AS e, event_type AS type FROM events
                    WHERE event_type IN ('signup', 'view')""",
    "q_graph": """SELECT 'urn:region:' || CAST(r_regionkey AS VARCHAR) AS s, r_name AS o
                  FROM region""",
    "q_expr_functions": f"""SELECT {_EV} AS e, LENGTH(event_type) AS type_len,
                                   UPPER(event_type) AS type_uc,
                                   CASE WHEN value > 50 THEN 'hi' ELSE 'lo' END AS bucket
                            FROM events""",
    "q_ext_outlier": f"""SELECT {_EV} AS e, (value - 50) / 25 AS z FROM events
                         WHERE ABS((value - 50) / 25) > 1.5""",
    "q_ext_rules": f"""SELECT {_EV} AS e, ABS(value - 50) AS ad, (value - 50) / 50 AS rc,
                              ABS(value - 50) > 30 AS abs_exc,
                              (value - 50) / 50 > 0.5 AS rel_exc,
                              (50 - value) > 10 AS cu,
                              value > 50 + 5 AS vol,
                              ABS(value - 50) > 25 AS trd
                       FROM events""",
    "q_comparator_stats": f"""
        WITH e AS (
          SELECT user_id, event_id, {_TSM} AS tsm, value FROM events
        ), m AS (SELECT MIN(tsm) AS mn FROM e)
        SELECT user_id, event_id,
               ROUND(AVG(value) OVER w, 6) AS mean,
               ROUND(COALESCE(STDDEV_POP(value) OVER w, 0.0), 6) AS std_dev,
               ROUND(COALESCE(REGR_SLOPE(value, (tsm - mn) / 1000.0) OVER w, 0.0), 9) AS slope,
               COUNT(value) OVER w AS count
        FROM e, m
        WINDOW w AS (PARTITION BY user_id ORDER BY tsm, event_id
                     ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)""",
    "q_baseline_aggregate": """
        SELECT 'urn:event:' || CAST(event_id AS VARCHAR) AS anchor,
               'https://janus.rs/baseline#v' AS var_iri,
               value AS value
        FROM events""",
    "q_live_tumbling_join": _LIVE_TJ_ORACLE,
}


def oracle_for_hist_fixed(sf_dir: str) -> str:
    import duckdb

    lo, hi = duckdb.sql(
        f"SELECT epoch_ns(MIN(ts)) // 1000000, epoch_ns(MAX(ts)) // 1000000 "
        f"FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchone()
    mid = lo + (hi - lo) // 2
    return f"""SELECT {_EV} AS e, value AS v FROM events
               WHERE {_TSM} BETWEEN {lo} AND {mid}"""


def oracle_for_hist_sliding(sf_dir: str) -> str:
    import duckdb

    lo, hi = duckdb.sql(
        f"SELECT epoch_ns(MIN(ts)) // 1000000, epoch_ns(MAX(ts)) // 1000000 "
        f"FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchone()
    offset = hi - lo
    rng = max((hi - lo) // 4, 1)
    step = max((hi - lo) // 8, 1)
    bounds = sliding_window_bounds(hi, offset, rng, step)
    values = ", ".join(f"({s}, {e})" for _, s, e in bounds)
    return f"""
        WITH w(window_start, window_end) AS (VALUES {values})
        SELECT w.window_start, w.window_end, COUNT(*) AS n,
               ROUND(AVG(e.value), 6) AS avg_v
        FROM w JOIN events e ON {_TSM.replace('ts', 'e.ts')} BETWEEN w.window_start AND w.window_end
        GROUP BY w.window_start, w.window_end"""


def oracle_for_hist_sliding_star(sf_dir: str) -> str:
    import duckdb

    lo, hi = duckdb.sql(
        f"SELECT epoch_ns(MIN(ts)) // 1000000, epoch_ns(MAX(ts)) // 1000000 "
        f"FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchone()
    offset = hi - lo
    rng = max((hi - lo) // 4, 1)
    step = max((hi - lo) // 8, 1)
    bounds = sliding_window_bounds(hi, offset, rng, step)
    values = ", ".join(f"({s}, {e})" for _, s, e in bounds)
    return f"""
        WITH w(window_start, window_end) AS (VALUES {values})
        SELECT w.window_start, w.window_end, e.event_type AS t,
               COUNT(*) AS n, ROUND(AVG(e.value), 6) AS avg_v
        FROM w JOIN events e ON {_TSM.replace('ts', 'e.ts')} BETWEEN w.window_start AND w.window_end
        WHERE e.event_type IS NOT NULL AND e.value IS NOT NULL
        GROUP BY w.window_start, w.window_end, e.event_type"""


# ----------------------------------------------------- datapipe queries
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: whitespace token counting over documents."""
    from janus_spark.datapipe.text import token_count

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", token_count(F.col("text")).cast("long").alias("n_tokens"))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: quality features + composite score."""
    from janus_spark.datapipe.text import quality_features

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    out = quality_features(docs)
    return out.select(
        "doc_id",
        F.col("q_n_tokens").cast("long").alias("n_tokens"),
        F.col("q_punct_ratio").alias("punct_ratio"),
        F.col("q_stopword_ratio").alias("stopword_ratio"),
        F.col("q_score").alias("score"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: marker-based language identification."""
    from janus_spark.datapipe.text import lang_id

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    out = lang_id(docs)
    return out.select(
        "doc_id",
        F.col("lid_en").cast("long").alias("s_en"),
        F.col("lid_de").cast("long").alias("s_de"),
        "lang_pred",
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: md5-of-normalized-text document fingerprint."""
    from janus_spark.datapipe.text import fingerprint

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    return fingerprint(docs).select("doc_id", "fp_md5")


def _dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ shifted copy — deterministic corpus with known dups."""
    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    copy = docs.select((F.col("doc_id") + 100000000).alias("doc_id"), "text", "lang", "source", "n_chars")
    return docs.unionByName(copy)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one row per distinct normalized text with keeper id."""
    from janus_spark.datapipe.dedup import exact_dedup

    return exact_dedup(_dup_corpus(spark, sf_dir)).select("key", "keep_id", "dup_count")


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, oracle-EXACT: the md5-derived
    ``shared_hash64`` family makes signatures/buckets reproducible in
    DuckDB SQL (the xxhash64 default is plan-identical)."""
    from janus_spark.datapipe.dedup import minhash_lsh_pairs

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet").where("doc_id < 200")
    mutated = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tailmarker")).alias("text"),
        "lang", "source", "n_chars",
    )
    return minhash_lsh_pairs(
        docs.unionByName(mutated), jaccard_threshold=0.5, hash_fn="md5"
    ).select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, oracle-EXACT via ``shared_hash64``."""
    from janus_spark.datapipe.dedup import simhash_pairs

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet").where("doc_id < 200")
    mutated = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
        "lang", "source", "n_chars",
    )
    return simhash_pairs(docs.unionByName(mutated), max_hamming=4, hash_fn="md5").select(
        "a", "b", F.col("hamming").cast("long").alias("hamming")
    )


def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k similarity search (exact baseline)."""
    from janus_spark.datapipe.similarity import cosine_topk

    embs = _read_wide(spark, f"{sf_dir}/embeddings.parquet")
    queries = embs.where("vec_id < 5")
    out = cosine_topk(embs, queries, k=10)
    return out.select(
        "query_id", "vec_id", F.col("rank").cast("long").alias("rank"), F.round("sim", 6).alias("sim")
    )


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k, oracle-EXACT: the hyperplanes are
    deterministic literals (seed 42), so the DuckDB oracle reproduces the
    exact candidate buckets and ranking."""
    from janus_spark.datapipe.similarity import lsh_topk

    embs = _read_wide(spark, f"{sf_dir}/embeddings.parquet")
    queries = embs.where("vec_id < 5")
    out = lsh_topk(embs, queries, k=10, bands=8, bits_per_band=4, dim=64)
    return out.select("query_id", "vec_id", F.col("rank").cast("long").alias("rank"), F.round("sim", 6).alias("sim"))


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k — nprobe=4 of 16 inverted lists, seeded
    coreset centroids (``iters=0``: the md5-hash-ordered sample IS the
    codebook, making the cell assignment SQL-reproducible and the gate
    oracle-EXACT; Lloyd refinement is covered by the probe-all ≡ exact
    anchor in tests)."""
    from janus_spark.datapipe.similarity import ivf_topk

    embs = _read_wide(spark, f"{sf_dir}/embeddings.parquet")
    queries = embs.where("vec_id < 5")
    out = ivf_topk(embs, queries, k=10, n_cells=16, nprobe=4, iters=0)
    return out.select(
        "query_id", "vec_id", F.col("rank").cast("long").alias("rank"), F.round("sim", 6).alias("sim")
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via self-LSH, oracle-EXACT
    (deterministic hyperplane literals as in q_ann_lsh)."""
    from janus_spark.datapipe.similarity import embedding_near_dup_pairs

    embs = _read_wide(spark, f"{sf_dir}/embeddings.parquet")
    dup = embs.where("vec_id < 10").select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding", "label")
    return embedding_near_dup_pairs(embs.unionByName(dup), sim_threshold=0.99).select(
        "a", "b", F.round("sim", 6).alias("sim")
    )


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payloads through mapInPandas decode.
    Oracle-EXACT: the deterministic fake codec derives dimensions from an
    md5 digest DuckDB reproduces (payloads are utf-8 text bytes, so
    ``md5(text)`` matches byte-for-byte)."""
    from janus_spark.datapipe.multimodal import decode_media, documents_as_media

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    return decode_media(documents_as_media(docs), fake=True)


def q_nquads_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: melt events → format N-Quads lines → parse back → project."""
    from janus_spark.sources.nquads import format_nquads, parse_nquads_lines

    quads = _events_quads(spark, sf_dir)
    lines = format_nquads(quads)
    back = parse_nquads_lines(lines)
    return back.select("ts", "subject", "predicate", "object", "graph")


QUERIES.update(
    {
        "q_token_count": q_token_count,
        "q_text_quality": q_text_quality,
        "q_lang_id": q_lang_id,
        "q_fingerprint": q_fingerprint,
        "q_dedup_exact": q_dedup_exact,
        "q_dedup_minhash": q_dedup_minhash,
        "q_dedup_simhash": q_dedup_simhash,
        "q_ann_bruteforce": q_ann_bruteforce,
        "q_ann_lsh": q_ann_lsh,
        "q_ann_ivf": q_ann_ivf,
        "q_embedding_near_dup": q_embedding_near_dup,
        "q_multimodal_decode": q_multimodal_decode,
        "q_nquads_roundtrip": q_nquads_roundtrip,
    }
)

# DuckDB equivalents of the text pipeline (same normalization regexes,
# same marker lists — the heuristics ARE the spec, shared verbatim)
_PUNCT_SQL = r"""[.,;:!?'"()\[\]{}<>/\\|@#$%^&*_+=~`-]"""
_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '"
    + _PUNCT_SQL.replace("'", "''")
    + "', '', 'g'), '\\s+', ' ', 'g'))"
)
_TOKS_SQL = "string_split_regex(trim(text), '\\s+')"
_EN_STOP_SQL = "('the','a','and','of','to','in','is','it','that','for')"
_MARKER_SQL_STR = _MARKER_SQL = {
    "en": "('the','and','of','to','in')",
    "de": "('der','die','und','das','ist')",
    "fr": "('le','la','les','et','est')",
    "es": "('el','los','las','es','y')",
    "zh": "('de','shi','le','bu','wo')",
}

ORACLES.update(
    {
        "q_token_count": f"""SELECT doc_id, CAST(CASE WHEN trim(text) = '' THEN 0
                             ELSE len({_TOKS_SQL}) END AS BIGINT) AS n_tokens FROM documents""",
        "q_text_quality": f"""
            WITH f AS (
              SELECT doc_id,
                     length(text) AS n_chars,
                     CASE WHEN trim(text)='' THEN 0 ELSE len({_TOKS_SQL}) END AS n_tokens,
                     length(text) - length(regexp_replace(text, '{_PUNCT_SQL.replace("'", "''")}', '', 'g')) AS punct,
                     len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t IN {_EN_STOP_SQL})) AS stop_hits,
                     length(regexp_replace(text, '\\s+', '', 'g')) AS chars_nospace
              FROM documents)
            SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                   CASE WHEN n_chars > 0 THEN punct / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS punct_ratio,
                   CASE WHEN n_tokens > 0 THEN stop_hits / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS stopword_ratio,
                   (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN CAST(0.4 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
                    + CASE WHEN n_tokens > 0 AND chars_nospace / CAST(n_tokens AS DOUBLE) >= 3
                           AND chars_nospace / CAST(n_tokens AS DOUBLE) <= 12 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
                    + CASE WHEN (CASE WHEN n_chars > 0 THEN punct / CAST(n_chars AS DOUBLE) ELSE 0.0 END) < 0.2 THEN CAST(0.2 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
                    + CASE WHEN (CASE WHEN n_tokens > 0 THEN stop_hits / CAST(n_tokens AS DOUBLE) ELSE 0.0 END) > 0.05 THEN CAST(0.1 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
                   ) AS score
            FROM f""",
        "q_lang_id": """
            WITH s AS (
              SELECT doc_id,
                     """ + ", ".join(
                         "len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t IN " + _MARKER_SQL_STR[lg] + ")) AS s_" + lg
                         for lg in ("en", "de", "fr", "es", "zh")
                     ) + """
              FROM documents)
            SELECT doc_id, CAST(s_en AS BIGINT) AS s_en, CAST(s_de AS BIGINT) AS s_de,
                   CASE WHEN GREATEST(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
                        WHEN s_en = GREATEST(s_en, s_de, s_fr, s_es, s_zh) THEN 'en'
                        WHEN s_de = GREATEST(s_de, s_fr, s_es, s_zh) THEN 'de'
                        WHEN s_fr = GREATEST(s_fr, s_es, s_zh) THEN 'fr'
                        WHEN s_es = GREATEST(s_es, s_zh) THEN 'es'
                        ELSE 'zh' END AS lang_pred
            FROM s""",
        "q_fingerprint": f"SELECT doc_id, md5({_NORM_SQL}) AS fp_md5 FROM documents",
        "q_dedup_exact": f"""
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000000, text FROM documents)
            SELECT md5({_NORM_SQL}) AS key, MIN(doc_id) AS keep_id,
                   COUNT(*) AS dup_count
            FROM corpus GROUP BY 1""",
        "q_ann_bruteforce": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
                 sims AS (
                   SELECT q.query_id, e.vec_id,
                          list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS sim
                   FROM embeddings e CROSS JOIN q
                   WHERE e.vec_id <> q.query_id),
                 ranked AS (
                   SELECT query_id, vec_id, sim,
                          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
                   FROM sims)
            SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank, ROUND(sim, 6) AS sim
            FROM ranked WHERE rank <= 10""",
        "q_nquads_roundtrip": f"""
            WITH cols(predicate, object) AS (
              SELECT 'urn:col:user_id', CAST(user_id AS VARCHAR) FROM events
              UNION ALL SELECT 'urn:col:event_type', event_type FROM events
              UNION ALL SELECT 'urn:col:value', CAST(value AS VARCHAR) FROM events
              UNION ALL SELECT 'urn:col:props', props FROM events
            ) SELECT 1 AS never_used""",
    }
)

# the q_nquads_roundtrip oracle needs per-row alignment; build it properly:
ORACLES["q_nquads_roundtrip"] = f"""
    SELECT {_TSM} AS ts, {_EV} AS subject, p.predicate,
           p.object, 'urn:stream:events' AS graph
    FROM events,
    LATERAL (VALUES ('urn:col:user_id', CAST(user_id AS VARCHAR)),
                    ('urn:col:event_type', event_type),
                    ('urn:col:value', CAST(value AS VARCHAR)),
                    ('urn:col:props', props)) AS p(predicate, object)
    WHERE p.object IS NOT NULL"""


# ---- generated oracles for the signature/LSH gates ------------------------
# These reproduce the Spark operators exactly in DuckDB SQL: the hash
# family is shared_hash64 (md5-derived, see datapipe/dedup.py), hyperplane
# weights are embedded as literals from the same seed, and float sums
# agree because both engines fold element-wise in doubles (6-dp rounding
# absorbs the residual ulp, same contract as q_ann_bruteforce).

def _h60_sql(expr: str, seed: int | None = None) -> str:
    e = expr if seed is None else f"'{seed}:' || {expr}"
    return f"('0x' || substr(md5({e}), 1, 15))::BIGINT"


def _minhash_pair_ctes(
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    corpus_sql: str | None = None,
    p: str = "",
) -> str:
    """The banded-minhash pipeline as a CTE chain ending in
    ``{p}pairs(a, b, jaccard)`` — shared by q_dedup_minhash's oracle and
    every oracle that builds on the near-dup pair graph
    (q_split_leakage_safe, q_curation_pipeline), so the SQL can never
    drift between them.  ``corpus_sql`` overrides the corpus CTE body
    (default: the mutated-copy fixture); ``p`` prefixes every CTE name
    for collision-free composition."""
    rows = num_perm // bands
    mins = ",\n                 ".join(
        f"MIN({_h60_sql('gram', i)}) AS m{i}" for i in range(num_perm)
    )
    band_rows = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {key} AS bh FROM {p}sig".format(
            b=b,
            p=p,
            key=" || ',' || ".join(
                f"CAST(m{b * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    if corpus_sql is None:
        corpus_sql = """
           SELECT doc_id, text FROM documents WHERE doc_id < 200
           UNION ALL
           SELECT doc_id + 1000000, text || ' tailmarker'
           FROM documents WHERE doc_id < 200"""
    return rf"""{p}corpus AS ({corpus_sql}),
         {p}t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l
               FROM {p}corpus),
         {p}s AS (SELECT doc_id,
                      CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
                           ELSE list_distinct(list_transform(range(1, len(l) - 1),
                                              i -> array_to_string(l[i:i+2], ' ')))
                      END AS sh FROM {p}t),
         {p}g AS (SELECT doc_id, unnest(sh) AS gram FROM {p}s),
         {p}sig AS (SELECT doc_id,
                 {mins}
                 FROM {p}g GROUP BY doc_id),
         {p}bands AS ({band_rows}),
         {p}cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                  FROM {p}bands l JOIN {p}bands r USING (band, bh)
                  WHERE l.doc_id < r.doc_id),
         {p}j AS (SELECT c.a, c.b,
                      len(list_intersect(sa.sh, sb.sh)) AS inter,
                      len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS un
               FROM {p}cand c
               JOIN {p}s sa ON sa.doc_id = c.a
               JOIN {p}s sb ON sb.doc_id = c.b),
         {p}pairs AS (SELECT a, b,
                          ROUND(CASE WHEN un > 0 THEN inter / CAST(un AS DOUBLE)
                                     ELSE 0.0 END, 6) AS jaccard
                   FROM {p}j
                   WHERE (CASE WHEN un > 0 THEN inter / CAST(un AS DOUBLE)
                               ELSE 0.0 END) >= {threshold})"""


def _minhash_oracle(num_perm: int = 16, bands: int = 4, threshold: float = 0.5) -> str:
    return (
        "\n    WITH "
        + _minhash_pair_ctes(num_perm, bands, threshold)
        + "\n    SELECT a, b, jaccard FROM pairs"
    )


def _simhash_oracle(max_hamming: int = 4) -> str:
    votes = ",\n                 ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(32)
    )
    sig = " + ".join(f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(32))
    band_rows = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, (sh >> {8 * b}) & 255 AS bh FROM sig"
        for b in range(4)
    )
    return rf"""
    WITH corpus AS (
           SELECT doc_id, text FROM documents WHERE doc_id < 200
           UNION ALL
           SELECT doc_id + 1000000, text || ' zz' FROM documents WHERE doc_id < 200),
         t AS (SELECT doc_id,
                      unnest(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS tok
               FROM corpus),
         h AS (SELECT doc_id, {_h60_sql('tok')} AS h FROM t),
         votes AS (SELECT doc_id,
                 {votes}
                 FROM h GROUP BY doc_id),
         sig AS (SELECT doc_id, {sig} AS sh FROM votes),
         bands AS ({band_rows}),
         cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
                  FROM bands l JOIN bands r USING (band, bh)
                  WHERE l.doc_id < r.doc_id)
    SELECT c.a, c.b, CAST(bit_count(xor(sa.sh, sb.sh)) AS BIGINT) AS hamming
    FROM cand c JOIN sig sa ON sa.doc_id = c.a JOIN sig sb ON sb.doc_id = c.b
    WHERE bit_count(xor(sa.sh, sb.sh)) <= {max_hamming}"""


def _plane_lit(plane: list[float]) -> str:
    return "[" + ",".join(repr(x) for x in plane) + "]"


def _lsh_sig_sql(planes, bands: int, bits_per_band: int, vec: str) -> str:
    """Per-band bucket expressions ``bh0..bh{bands-1}`` over column ``vec``
    (DOUBLE[]), mirroring similarity.lsh_signature exactly."""
    outs = []
    for b in range(bands):
        bits = " + ".join(
            f"(CASE WHEN list_dot_product({vec}, {_plane_lit(planes[b * bits_per_band + i])}) >= 0"
            f" THEN {1 << i} ELSE 0 END)"
            for i in range(bits_per_band)
        )
        outs.append(f"({bits}) AS bh{b}")
    return ",\n                 ".join(outs)


def _ann_lsh_oracle(k: int = 10, bands: int = 8, bits_per_band: int = 4, dim: int = 64, seed: int = 42) -> str:
    from janus_spark.datapipe.similarity import hyperplanes

    planes = hyperplanes(dim, bits_per_band * bands, seed)
    band_rows = "\n      UNION ALL ".join(
        f"SELECT vec_id, v, {b} AS band, bh{b} AS bh FROM sig" for b in range(bands)
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         sig AS (SELECT vec_id, v,
                 {_lsh_sig_sql(planes, bands, bits_per_band, 'v')}
                 FROM e),
         bands AS ({band_rows}),
         q AS (SELECT vec_id AS query_id, v AS qv, band, bh FROM bands WHERE vec_id < 5),
         cand AS (SELECT DISTINCT q.query_id, c.vec_id
                  FROM bands c JOIN q ON c.band = q.band AND c.bh = q.bh
                  WHERE c.vec_id <> q.query_id),
         sims AS (SELECT cand.query_id, cand.vec_id,
                         list_cosine_similarity(eq.v, ec.v) AS sim
                  FROM cand
                  JOIN e eq ON eq.vec_id = cand.query_id
                  JOIN e ec ON ec.vec_id = cand.vec_id),
         ranked AS (SELECT query_id, vec_id, sim,
                           ROW_NUMBER() OVER (PARTITION BY query_id
                                              ORDER BY sim DESC, vec_id) AS rank
                    FROM sims)
    SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank, ROUND(sim, 6) AS sim
    FROM ranked WHERE rank <= {k}"""


def _ann_ivf_oracle(k: int = 10, n_cells: int = 16, nprobe: int = 4) -> str:
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         ce AS (SELECT v AS cv, cell FROM (
                  SELECT v, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell
                  FROM e) WHERE cell < {n_cells}),
         asg AS (SELECT e.vec_id, e.v, c.cell,
                        ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                           ORDER BY COALESCE(list_cosine_similarity(e.v, c.cv), -2.0) DESC,
                                                    c.cell DESC) AS rnk
                 FROM e CROSS JOIN ce c),
         corpus AS (SELECT vec_id, v, cell FROM asg WHERE rnk = 1),
         probe AS (SELECT vec_id AS query_id, v AS qv, cell
                   FROM asg WHERE vec_id < 5 AND rnk <= {nprobe}),
         sims AS (SELECT p.query_id, c.vec_id,
                         list_cosine_similarity(p.qv, c.v) AS sim
                  FROM probe p JOIN corpus c USING (cell)
                  WHERE c.vec_id <> p.query_id),
         ranked AS (SELECT query_id, vec_id, sim,
                           ROW_NUMBER() OVER (PARTITION BY query_id
                                              ORDER BY sim DESC, vec_id) AS rank
                    FROM sims)
    SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank, ROUND(sim, 6) AS sim
    FROM ranked WHERE rank <= {k}"""


def _near_dup_oracle(sim_threshold: float = 0.99, bands: int = 8, bits_per_band: int = 16, dim: int = 64, seed: int = 42) -> str:
    from janus_spark.datapipe.similarity import hyperplanes

    planes = hyperplanes(dim, bits_per_band * bands, seed)
    band_rows = "\n      UNION ALL ".join(
        f"SELECT id, v, {b} AS band, bh{b} AS bh FROM sig" for b in range(bands)
    )
    return f"""
    WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
               UNION ALL
               SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[]) FROM embeddings
               WHERE vec_id < 10),
         sig AS (SELECT id, v,
                 {_lsh_sig_sql(planes, bands, bits_per_band, 'v')}
                 FROM e),
         bands AS ({band_rows}),
         cand AS (SELECT DISTINCT l.id AS a, r.id AS b
                  FROM bands l JOIN bands r USING (band, bh)
                  WHERE l.id < r.id),
         sims AS (SELECT c.a, c.b, list_cosine_similarity(ea.v, eb.v) AS sim
                  FROM cand c JOIN e ea ON ea.id = c.a JOIN e eb ON eb.id = c.b)
    SELECT a, b, ROUND(sim, 6) AS sim FROM sims WHERE sim >= {sim_threshold}"""


_MM_H = "('0x' || substr(md5(coalesce(text, '')), 1, 15))::BIGINT"
_MM_DECODE_ORACLE = f"""
    WITH m AS (SELECT doc_id AS media_id,
                      ['image','audio','video'][(doc_id % 3) + 1] AS media_type,
                      CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes,
                      {_MM_H} AS hv
               FROM documents)
    SELECT media_id, media_type, n_bytes, hv AS checksum,
           CAST(CASE media_type WHEN 'image' THEN 64 + hv % 512
                                WHEN 'audio' THEN 1
                                ELSE 32 + hv % 256 END AS INTEGER) AS width,
           CAST(CASE media_type WHEN 'image' THEN 64 + (hv >> 9) % 512
                                WHEN 'audio' THEN 1
                                ELSE 32 + (hv >> 8) % 256 END AS INTEGER) AS height,
           CAST(CASE media_type WHEN 'image' THEN 1
                                WHEN 'audio' THEN 1000 + hv % 100000
                                ELSE 1 + hv % 300 END AS INTEGER) AS n_frames
    FROM m"""

ORACLES.update(
    {
        "q_dedup_minhash": _minhash_oracle(),
        "q_dedup_simhash": _simhash_oracle(),
        "q_ann_lsh": _ann_lsh_oracle(),
        "q_ann_ivf": _ann_ivf_oracle(),
        "q_embedding_near_dup": _near_dup_oracle(),
        "q_multimodal_decode": _MM_DECODE_ORACLE,
    }
)


def q_ask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 ASK: existence check (1 row when true, 0 rows when false)."""
    q = 'ASK { ?e <urn:col:value> ?v . FILTER(?v > 99) }'
    return _run(_events_quads(spark, sf_dir), q)


def q_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 CONSTRUCT: template instantiation with set semantics."""
    q = """CONSTRUCT { ?e <urn:derived:high_value> ?v . ?e a <urn:class:Event> . }
           WHERE { ?e <urn:col:value> ?v . FILTER(?v > 95) }"""
    return _run(_events_quads(spark, sf_dir), q)


QUERIES.update({"q_ask": q_ask, "q_construct": q_construct})

ORACLES.update(
    {
        "q_ask": "SELECT TRUE AS __exists WHERE EXISTS (SELECT 1 FROM events WHERE value > 99)",
        "q_construct": f"""
            SELECT {_EV} AS subject, 'urn:derived:high_value' AS predicate,
                   CAST(value AS VARCHAR) AS object
            FROM events WHERE value > 95
            UNION
            SELECT DISTINCT {_EV}, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
                   'urn:class:Event'
            FROM events WHERE value > 95""",
    }
)


def q_property_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property path (seq): nation --ref_region--> region --r_name--> name."""
    nation = melt_table(
        spark.read.parquet(f"{sf_dir}/nation.parquet"), "nation", fk={"n_regionkey": "region"}
    )
    region = _table_quads(spark, sf_dir, "region")
    q = """SELECT ?n ?rname WHERE {
             ?n <urn:nation:ref_region>/<urn:region:r_name> ?rname .
           }"""
    return _run(nation.unionByName(region), q)


def q_path_inverse_alt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property path (inverse + alternative): regions reachable backwards."""
    nation = melt_table(
        spark.read.parquet(f"{sf_dir}/nation.parquet"), "nation", fk={"n_regionkey": "region"}
    )
    region = _table_quads(spark, sf_dir, "region")
    q = """SELECT ?r ?n WHERE {
             ?r ^<urn:nation:ref_region> ?n .
           }"""
    return _run(nation.unionByName(region), q)


def q_path_zero_or_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property path (zero-or-one): nation --ref_region?--> self or region
    (identity domain = nodes of the child relation, as for ``*``)."""
    nation = melt_table(
        spark.read.parquet(f"{sf_dir}/nation.parquet"), "nation", fk={"n_regionkey": "region"}
    )
    q = """SELECT ?a ?b WHERE {
             ?a <urn:nation:ref_region>? ?b .
           }"""
    return _run(nation, q)


def q_path_negated_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property path (negated set): every region edge EXCEPT r_comment."""
    region = _table_quads(spark, sf_dir, "region")
    q = """SELECT ?s ?o WHERE {
             ?s !(<urn:region:r_comment>|<urn:region:r_regionkey>) ?o .
           }"""
    return _run(region, q)


QUERIES.update(
    {
        "q_property_path": q_property_path,
        "q_path_inverse_alt": q_path_inverse_alt,
        "q_path_zero_or_one": q_path_zero_or_one,
        "q_path_negated_set": q_path_negated_set,
    }
)

ORACLES.update(
    {
        "q_property_path": """
            SELECT 'urn:nation:' || CAST(n.n_nationkey AS VARCHAR) AS n, r.r_name AS rname
            FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey""",
        "q_path_inverse_alt": """
            SELECT 'urn:region:' || CAST(n_regionkey AS VARCHAR) AS r,
                   'urn:nation:' || CAST(n_nationkey AS VARCHAR) AS n
            FROM nation""",
        "q_path_zero_or_one": """
            SELECT 'urn:nation:' || CAST(n_nationkey AS VARCHAR) AS a,
                   'urn:region:' || CAST(n_regionkey AS VARCHAR) AS b
            FROM nation
            UNION
            SELECT 'urn:nation:' || CAST(n_nationkey AS VARCHAR),
                   'urn:nation:' || CAST(n_nationkey AS VARCHAR) FROM nation
            UNION
            SELECT 'urn:region:' || CAST(n_regionkey AS VARCHAR),
                   'urn:region:' || CAST(n_regionkey AS VARCHAR) FROM nation""",
        "q_path_negated_set": """
            SELECT 'urn:region:' || CAST(r_regionkey AS VARCHAR) AS s, r_name AS o
            FROM region""",
    }
)


def q_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested SELECT: per-type averages joined back to the detail rows."""
    q = """SELECT ?e ?type (?v - ?avg_v + 0.0 AS ?delta)
           WHERE {
             ?e <urn:col:event_type> ?type .
             ?e <urn:col:value> ?v .
             { SELECT ?type (AVG(?v2) AS ?avg_v)
               WHERE { ?e2 <urn:col:event_type> ?type .
                       ?e2 <urn:col:value> ?v2 . }
               GROUP BY ?type }
           }"""
    df = _run(_events_quads(spark, sf_dir), q, _events_ptr(spark, sf_dir))
    return df.select("e", "type", F.round(F.col("delta").cast("double"), 6).alias("delta"))


def q_agg_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 full aggregate surface: SAMPLE-free deterministic set —
    GROUP_CONCAT (sorted), COUNT DISTINCT, HAVING."""
    q = """SELECT ?region (COUNT(?n) AS ?n_nations)
                  (GROUP_CONCAT(?nname ; SEPARATOR=",") AS ?nations)
           WHERE {
             ?n <urn:nation:ref_region> ?region .
             BIND(CONCAT("x", "") AS ?dummy)
             ?n <urn:nation:n_name> ?nname .
           }
           GROUP BY ?region
           HAVING (COUNT(?n) > 3)"""
    nation = melt_table(
        spark.read.parquet(f"{sf_dir}/nation.parquet"), "nation", fk={"n_regionkey": "region"}
    )
    df = _run(nation, q)
    return df.select("region", F.col("n_nations").cast("long").alias("n_nations"), "nations")


def q_tpch_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary through the SPARQL path over
    melted lineitem (classic analytics on the same engine substrate)."""
    # prices are exact 2-dp decimals stored as doubles: summing them in
    # CENTS (integers < 2^53 — exact in ANY accumulation order) instead
    # of summing raw doubles keeps the 2-dp rounding of the total off the
    # .005 knife edge at stress scale, where Spark's reduce order vs
    # DuckDB's flipped the last cent (exactness playbook: sum-order class)
    q = """SELECT ?flag ?status (COUNT(?l) AS ?count_order)
                  (SUM(?qty) AS ?sum_qty)
                  (SUM(?pc) AS ?sum_price_cents)
                  (AVG(?disc) AS ?avg_disc)
           WHERE {
             ?l <urn:lineitem:l_returnflag> ?flag .
             ?l <urn:lineitem:l_linestatus> ?status .
             ?l <urn:lineitem:l_quantity> ?qty .
             ?l <urn:lineitem:l_extendedprice> ?price .
             ?l <urn:lineitem:l_discount> ?disc .
             BIND(ROUND(?price * 100) AS ?pc)
           }
           GROUP BY ?flag ?status"""
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic data; give
    # every row a surrogate id.  The star rewrite collapses all five
    # patterns into ONE lineitem scan, so the surrogate never crosses scan
    # boundaries; the checkpoint (needed for stable ids across the melt's
    # five self-join scans) stays lazy and only the fallback path pays it.
    from janus_spark.sources.melt import ensure_utc, property_registry, property_table

    ensure_utc(spark)

    def build():
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumn(
            "__row", F.monotonically_increasing_id()
        )
        quads = melt_table(li.localCheckpoint(eager=False), "lineitem", key_col="__row")
        ptr = property_registry(property_table(li, "lineitem", key_col="__row"))
        return quads, ptr

    quads, ptr = _cached((spark, sf_dir, "lineitem_star"), build)
    df = _run(quads, q, ptr)
    return df.select(
        "flag",
        "status",
        F.col("count_order").cast("long").alias("count_order"),
        F.round(F.col("sum_qty").cast("double"), 2).alias("sum_qty"),
        # exact integer-cents total; ONE final division, identical in any engine
        (F.col("sum_price_cents").cast("decimal(38,0)") / 100)
        .cast("double")
        .alias("sum_base_price"),
        F.round(F.col("avg_disc").cast("double"), 6).alias("avg_disc"),
    )


QUERIES.update(
    {"q_subquery": q_subquery, "q_agg_full": q_agg_full, "q_tpch_pricing": q_tpch_pricing}
)

ORACLES.update(
    {
        "q_subquery": f"""
            WITH a AS (SELECT event_type, AVG(value) AS avg_v FROM events GROUP BY event_type)
            SELECT {_EV} AS e, e.event_type AS type,
                   ROUND(e.value - a.avg_v + 0.0, 6) AS delta
            FROM events e JOIN a ON e.event_type = a.event_type""",
        "q_agg_full": """
            SELECT 'urn:region:' || CAST(n_regionkey AS VARCHAR) AS region,
                   COUNT(*) AS n_nations,
                   string_agg(n_name, ',' ORDER BY n_name) AS nations
            FROM nation GROUP BY n_regionkey HAVING COUNT(*) > 3""",
        "q_tpch_pricing": """
            SELECT l_returnflag AS flag, l_linestatus AS status,
                   COUNT(*) AS count_order,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                        AS DOUBLE) / 100 AS sum_base_price,
                   ROUND(AVG(l_discount), 6) AS avg_disc
            FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    }
)


def q_dedup_keeplist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup decision over a corpus with known duplicates:
    cluster resolution + keep/drop tagging (oracle-checkable because the
    planted pairs are exact duplicates)."""
    from janus_spark.datapipe.dedup import dedup_keep_list

    from janus_spark.datapipe.text import normalize

    corpus = _dup_corpus(spark, sf_dir)
    # derive (a, b) pairs from identical normalized text
    keyed = corpus.select(F.col("doc_id").alias("id"), F.md5(normalize(F.col("text"))).alias("key"))
    pairs = (
        keyed.alias("l")
        .join(keyed.alias("r"), on="key")
        .where(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
    )
    out = dedup_keep_list(corpus, pairs)
    return out.select("doc_id", "keep_id", "keep")


QUERIES["q_dedup_keeplist"] = q_dedup_keeplist
# keep_id is the min doc_id among ALL docs sharing the same normalized
# text (the corpus can contain natural duplicates besides the planted
# copies — observed at sf0.1)
ORACLES["q_dedup_keeplist"] = (
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000000, text FROM documents)
    SELECT doc_id,
           MIN(doc_id) OVER (PARTITION BY """
    + _NORM_SQL
    + """) AS keep_id,
           doc_id = MIN(doc_id) OVER (PARTITION BY """
    + _NORM_SQL
    + """) AS keep
    FROM corpus"""
)


# ------------------------------------- deterministic sampling / curation
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling: keep ~25% of documents by md5(key)
    threshold — stable across runs, partitionings and engines."""
    from janus_spark.datapipe.sampling import hash_sample

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    return hash_sample(docs, 0.25).select("doc_id", "lang", "source")


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language rebalancing: downsample English to 25%, keep 75% of
    German, 50% of everything else."""
    from janus_spark.datapipe.sampling import stratified_sample

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    return stratified_sample(
        docs, {"en": 0.25, "de": 0.75}, strata_col="lang", default_rate=0.5
    ).select("doc_id", "lang")


def q_sample_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain quota: at most 5 documents per source, lowest key-hashes
    win (deterministic)."""
    from janus_spark.datapipe.sampling import quota_sample

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    return quota_sample(docs, 5, strata_col="source").select("doc_id", "source")


def q_split_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable train/eval split tags (~20% eval) — new data never moves old
    rows across the split."""
    from janus_spark.datapipe.sampling import split_train_eval

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    return split_train_eval(docs, eval_rate=0.2).select("doc_id", "split")


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition: unique-token and unique-bigram ratios
    (boilerplate / degenerate-text filter)."""
    from janus_spark.datapipe.text import repetition_features

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    out = repetition_features(docs)
    return out.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("uniq_token_ratio").cast("double"), 9).alias("uniq_token_ratio"),
        F.round(F.col("uniq_bigram_ratio").cast("double"), 9).alias("uniq_bigram_ratio"),
    )


def q_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-50 words by frequency (ties break on
    the word — deterministic)."""
    from janus_spark.datapipe.text import word_freq

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    return word_freq(docs, k=50).select("word", F.col("n").cast("long").alias("n"))


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs whose normalized text matches
    a 'benchmark' set (every 97th doc plays the benchmark role)."""
    from janus_spark.datapipe.dedup import contamination_flags

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    return contamination_flags(docs, bench)


def q_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-overlap decontamination: corpus docs sharing any normalized
    5-gram with the benchmark subset (every 97th doc)."""
    from janus_spark.datapipe.dedup import ngram_contamination

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    out = ngram_contamination(docs, bench, n=5)
    return out.select("id", F.col("n_hits").cast("long").alias("n_hits"))


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-chunk preparation: 32-token chunks with 4-token overlap."""
    from janus_spark.datapipe.text import chunk_documents

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    out = chunk_documents(docs, chunk_tokens=32, overlap=4)
    return out.select("id", F.col("chunk_id").cast("long").alias("chunk_id"),
                      "chunk_text", "n_tokens")


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over documents with deterministically planted email /
    IP / phone (both engines build the same input, then scrub)."""
    from janus_spark.datapipe.scrub import scrub_documents

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(" tel 555-867-5309"),
        ).alias("text"),
    )
    return scrub_documents(planted)


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of event value per type (the exact
    baseline for the approximate-sketch path; see functions/sketches.py)."""
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.percentile("value", 0.5), 6).alias("p50"),
        F.round(F.percentile("value", 0.95), 6).alias("p95"),
    )


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog approximate distinct users per event type — the
    deterministic md5-family HLL (functions/sketches.hll_det_*), so the
    ESTIMATE itself is oracle-EXACT in DuckDB, not just error-banded.
    The Datasketches production wrapper (hll_distinct) keeps its own
    error-contract test in tests/test_sketches.py."""
    from janus_spark.functions.sketches import hll_det_distinct
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir)
    return hll_det_distinct(ev, "user_id", ["event_type"]).select(
        "event_type", "approx_distinct"
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click event picks up the most recent prior-or-equal
    purchase value of the same user (DuckDB native ASOF LEFT JOIN oracle)."""
    from janus_spark.operators.asof import asof_join
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir).withColumn(
        "ts_ms", F.unix_millis(F.col("ts").cast("timestamp"))
    )
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts_ms", "value")
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts_ms", "value")
    out = asof_join(clicks, purchases, ts_col="ts_ms", by=("user_id",), value_cols=("value",))
    return out.select(
        "event_id", "user_id", "ts_ms",
        F.round("value", 6).alias("click_value"),
        F.round("value_asof", 6).alias("purchase_value"),
    )


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON column analytics: extract props.k per event, aggregate by type."""
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(k).alias("n_with_k"),
        F.sum(k).alias("sum_k"),
        F.round(F.avg(k), 6).alias("avg_k"),
    )


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation: event counts by (type, user bucket) with
    subtotal and grand-total rows (multi-level OLAP in one pass)."""
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir).withColumn("bucket", (F.col("user_id") % 4).cast("long"))
    # value is 2-decimal: sum exact integer cents, ONE final division —
    # a corpus-wide double SUM is accumulation-order-dependent at 100x
    # (q_rollup was APPROX at the sf10 sweep; the q_tpch_pricing lesson)
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    return (
        ev.withColumn("__cents", cents)
        .rollup("event_type", "bucket")
        .agg(
            F.count("*").alias("n"),
            (F.sum("__cents").cast("double") / 100).alias("sum_v"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("bucket"), F.lit(-1)).alias("bucket"),
            "n", "sum_v",
        )
    )


def q_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL window-function surface: per-user event ordering — row_number,
    lag delta, running sum (unique (user, ts) makes them deterministic)."""
    from pyspark.sql.window import Window

    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir).withColumn(
        "ts_ms", F.unix_millis(F.col("ts").cast("timestamp"))
    )
    w = Window.partitionBy("user_id").orderBy("ts_ms")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id", "user_id", "ts_ms",
        F.row_number().over(w).cast("long").alias("rn"),
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("delta_v"),
        F.round(F.sum("value").over(run), 6).alias("running_v"),
    )


def q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap-fill: daily event counts per type with missing days
    materialized as zero rows (dense calendar × type grid via sequence +
    explode, left join back — the timeseries densify Spark lacks natively)."""
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir)
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day"), "event_type"
    ).agg(F.count("*").alias("n"))
    bounds = daily.select(F.min("day").alias("lo"), F.max("day").alias("hi"))
    grid = (
        bounds.select(
            F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("day")
        )
        .crossJoin(daily.select("event_type").distinct())
    )
    out = grid.join(daily, ["day", "event_type"], "left").select(
        F.unix_millis("day").alias("day_ms"),
        "event_type",
        F.coalesce(F.col("n"), F.lit(0)).alias("n"),
    )
    return out


def q_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus shape profile: document-length histogram (100-char buckets)
    per language — the curation dashboard's first plot."""
    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    return docs.groupBy(
        "lang", F.floor(F.col("n_chars") / 100).cast("long").alias("bucket")
    ).agg(
        F.count("*").alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


def _scrub_oracle() -> str:
    from janus_spark.datapipe.scrub import PII_PATTERNS

    em, ip, ph = PII_PATTERNS["email"], PII_PATTERNS["ipv4"], PII_PATTERNS["phone"]
    return f"""
        WITH p AS (SELECT doc_id,
                          text || ' contact user' || CAST(doc_id AS VARCHAR)
                               || '@example.com or 10.0.0.' || CAST(doc_id % 256 AS VARCHAR)
                               || ' tel 555-867-5309' AS text
                   FROM documents)
        SELECT doc_id AS id,
               regexp_replace(regexp_replace(regexp_replace(text,
                   '{em}', '<EMAIL>', 'g'),
                   '{ip}', '<IPV4>', 'g'),
                   '{ph}', '<PHONE>', 'g') AS clean_text,
               CAST(len(regexp_extract_all(text, '{em}')) AS BIGINT) AS n_email,
               CAST(len(regexp_extract_all(text, '{ip}')) AS BIGINT) AS n_ipv4,
               CAST(len(regexp_extract_all(text, '{ph}')) AS BIGINT) AS n_phone
        FROM p"""


def _sampling_oracles() -> dict[str, str]:
    from janus_spark.datapipe.sampling import rate_to_hex_threshold as thr

    def bucket(salt: str) -> str:
        return f"substr(md5(CAST(doc_id AS VARCHAR) || '{salt}'), 1, 8)"

    toks_sql = "list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')"
    return {
        "q_sample_hash": f"""
            SELECT doc_id, lang, source FROM documents
            WHERE {bucket(':sample')} < '{thr(0.25)}'""",
        "q_sample_stratified": f"""
            SELECT doc_id, lang FROM documents
            WHERE {bucket(':strat')} < CASE lang WHEN 'en' THEN '{thr(0.25)}'
                                       WHEN 'de' THEN '{thr(0.75)}'
                                       ELSE '{thr(0.5)}' END""",
        "q_sample_quota": f"""
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                     ROW_NUMBER() OVER (PARTITION BY source ORDER BY {bucket(':quota')}, doc_id) AS rk
              FROM documents)
            WHERE rk <= 5""",
        "q_split_train_eval": f"""
            SELECT doc_id,
                   CASE WHEN {bucket(':split')} < '{thr(0.2)}' THEN 'eval' ELSE 'train' END AS split
            FROM documents""",
        "q_repetition": f"""
            WITH t AS (SELECT doc_id, {toks_sql} AS l FROM documents),
                 b AS (SELECT doc_id, l,
                              list_filter(list_transform(list_zip(l, l[2:]),
                                          x -> x[1] || ' ' || x[2]),
                                          x -> x IS NOT NULL) AS bg
                       FROM t)
            SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tokens,
                   CASE WHEN len(l) > 0
                        THEN ROUND(len(list_distinct(l)) / CAST(len(l) AS DOUBLE), 9)
                        ELSE 1.0 END AS uniq_token_ratio,
                   CASE WHEN len(bg) > 0
                        THEN ROUND(len(list_distinct(bg)) / CAST(len(bg) AS DOUBLE), 9)
                        ELSE 1.0 END AS uniq_bigram_ratio
            FROM b""",
        "q_word_freq": f"""
            WITH w AS (SELECT unnest({toks_sql}) AS word FROM documents)
            SELECT word, COUNT(*) AS n FROM w
            GROUP BY word ORDER BY n DESC, word LIMIT 50""",
        "q_contamination": f"""
            SELECT doc_id AS id, md5({_NORM_SQL}) AS fp_md5 FROM documents
            WHERE md5({_NORM_SQL}) IN (
              SELECT DISTINCT md5({_NORM_SQL}) FROM documents WHERE doc_id % 97 = 0)""",
        "q_contamination_ngram": f"""
            WITH t AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS l FROM documents),
                 g AS (SELECT doc_id,
                              unnest(list_distinct(list_transform(range(1, len(l)-5+2),
                                     i -> array_to_string(l[i:i+4], ' ')))) AS gram
                       FROM t),
                 bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
            SELECT g.doc_id AS id, COUNT(*) AS n_hits
            FROM g JOIN bg USING (gram) GROUP BY g.doc_id""",
        "q_chunk_documents": f"""
            WITH t AS (SELECT doc_id, {toks_sql} AS l FROM documents),
                 s AS (SELECT doc_id, l,
                              unnest(range(1, greatest(len(l) - 4, 1) + 1, 28)) AS st
                       FROM t)
            SELECT doc_id AS id, CAST((st - 1) // 28 AS BIGINT) AS chunk_id,
                   array_to_string(l[st:st+31], ' ') AS chunk_text,
                   CAST(len(l[st:st+31]) AS BIGINT) AS n_tokens
            FROM s WHERE array_to_string(l[st:st+31], ' ') <> ''""",
    }


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: per-user activity sessions with an 8-hour
    inactivity gap (Spark session_window; inclusive merge at the exact
    gap boundary — the oracle reproduces it as a gaps-and-islands SQL)."""
    from janus_spark.operators.sessionize import sessionize
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir)
    out = sessionize(
        ev, gap="8 hours", key_cols=("user_id",),
        aggs={"sum_value": F.round(F.sum("value"), 6)},
    )
    return out.select("user_id", "session_start", "session_end",
                      F.col("n_events").cast("long").alias("n_events"), "sum_value")


_GAP_MS = 8 * 3600 * 1000
ORACLES_SESSIONIZE = {
    "q_sessionize": f"""
        WITH e AS (SELECT user_id, {_TSM} AS ts_ms, value FROM events),
             m AS (SELECT *, CASE WHEN ts_ms - LAG(ts_ms) OVER w > {_GAP_MS}
                                  OR LAG(ts_ms) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
                   FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)),
             s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_ms
                                              ROWS UNBOUNDED PRECEDING) AS sid
                   FROM m)
        SELECT user_id, MIN(ts_ms) AS session_start,
               MAX(ts_ms) + {_GAP_MS} AS session_end,
               COUNT(*) AS n_events, ROUND(SUM(value), 6) AS sum_value
        FROM s GROUP BY user_id, sid"""
}


QUERIES.update(
    {
        "q_sessionize": q_sessionize,
        "q_sample_hash": q_sample_hash,
        "q_sample_stratified": q_sample_stratified,
        "q_sample_quota": q_sample_quota,
        "q_split_train_eval": q_split_train_eval,
        "q_repetition": q_repetition,
        "q_word_freq": q_word_freq,
        "q_contamination": q_contamination,
        "q_contamination_ngram": q_contamination_ngram,
        "q_chunk_documents": q_chunk_documents,
        "q_pii_scrub": q_pii_scrub,
        "q_percentiles": q_percentiles,
        "q_hll_distinct": q_hll_distinct,
        "q_length_hist": q_length_hist,
        "q_asof_join": q_asof_join,
        "q_json_props": q_json_props,
        "q_rollup": q_rollup,
        "q_window_funcs": q_window_funcs,
        "q_gapfill": q_gapfill,
    }
)
def _hll_oracle(value_expr: str, group_expr: str, group_alias: str, from_sql: str) -> str:
    from janus_spark.functions.sketches import hll_det_oracle_sql

    inner = hll_det_oracle_sql(value_expr, group_expr, from_sql)
    return f"SELECT grp AS {group_alias}, approx_distinct FROM ({inner})"


ORACLES["q_hll_distinct"] = _hll_oracle("user_id", "event_type", "event_type", "events")
ORACLES["q_rollup"] = """
    SELECT COALESCE(event_type, 'ALL') AS event_type,
           COALESCE(user_id % 4, -1) AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100 AS sum_v
    FROM events GROUP BY ROLLUP(event_type, user_id % 4)"""
ORACLES["q_window_funcs"] = f"""
    SELECT event_id, user_id, {_TSM} AS ts_ms,
           ROW_NUMBER() OVER w AS rn,
           ROUND(value - LAG(value) OVER w, 6) AS delta_v,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY {_TSM}
                                  ROWS UNBOUNDED PRECEDING), 6) AS running_v
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY {_TSM})"""
ORACLES["q_gapfill"] = """
    WITH e AS (SELECT date_trunc('day', ts) AS day, event_type FROM events),
         d AS (SELECT day, event_type, COUNT(*) AS n FROM e GROUP BY 1, 2),
         b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM d),
         g AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 day)) AS day FROM b),
         t AS (SELECT DISTINCT event_type FROM d)
    SELECT (epoch_ns(g.day) // 1000000) AS day_ms, t.event_type,
           COALESCE(d.n, 0) AS n
    FROM g CROSS JOIN t
    LEFT JOIN d ON d.day = g.day AND d.event_type = t.event_type"""
ORACLES["q_asof_join"] = f"""
    WITH e AS (SELECT event_id, user_id, {_TSM} AS ts_ms, event_type, value FROM events),
         c AS (SELECT event_id, user_id, ts_ms, value FROM e WHERE event_type = 'click'),
         p AS (SELECT user_id, ts_ms, value FROM e WHERE event_type = 'purchase')
    SELECT c.event_id, c.user_id, c.ts_ms,
           ROUND(c.value, 6) AS click_value,
           ROUND(p.value, 6) AS purchase_value
    FROM c ASOF LEFT JOIN p
      ON c.user_id = p.user_id AND c.ts_ms >= p.ts_ms"""
ORACLES["q_json_props"] = """
    SELECT event_type,
           COUNT(CAST(props->>'k' AS BIGINT)) AS n_with_k,
           CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
           ROUND(AVG(CAST(props->>'k' AS BIGINT)), 6) AS avg_k
    FROM events GROUP BY event_type"""
ORACLES["q_length_hist"] = """
    SELECT lang, CAST(n_chars // 100 AS BIGINT) AS bucket, COUNT(*) AS n_docs,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM documents GROUP BY lang, n_chars // 100"""
ORACLES.update(_sampling_oracles())
ORACLES.update(ORACLES_SESSIONIZE)
ORACLES["q_pii_scrub"] = _scrub_oracle()
ORACLES["q_percentiles"] = """
    SELECT event_type, COUNT(*) AS n,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.95), 6) AS p95
    FROM events GROUP BY event_type"""


# ------------------------------------------------- fifth-session gates
_INCIDENT_MS = 3_600_000  # error-event incident window: 1 hour


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join via bucketed equi-join (operators/rangejoin.py):
    each 'error' event opens a 1-hour incident window per user; count the
    same user's 'click' events inside each window.  The oracle is the
    naive inequality join — correct at sf0.01, unrunnable at 100 TB,
    which is exactly why the bucketed form exists."""
    from janus_spark.operators.rangejoin import interval_join
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir).withColumn(
        "ts_ms", F.unix_millis(F.col("ts").cast("timestamp"))
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts_ms", F.col("event_id").alias("click_id")
    )
    incidents = ev.where(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("incident_id"),
        F.col("ts_ms").alias("start_ms"),
        (F.col("ts_ms") + F.lit(_INCIDENT_MS)).alias("end_ms"),
    )
    hits = interval_join(
        clicks, incidents,
        ts_col="ts_ms", start_col="start_ms", end_col="end_ms",
        by=("user_id",), bucket_ms=_INCIDENT_MS,
    )
    counts = hits.groupBy("incident_id").agg(F.count("*").alias("n_clicks"))
    return (
        incidents.join(counts, "incident_id", "left")
        .select(
            "incident_id", "user_id", "start_ms",
            F.coalesce(F.col("n_clicks"), F.lit(0)).alias("n_clicks"),
        )
    )


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation with grouping_id over lineitem — all four
    grouping-set levels in one shuffle (Expand + single hash aggregate;
    the reference has no grouping sets at all, SURVEY §2.6)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("l_returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("l_linestatus"),
            "gid", "n", "sum_qty",
        )
    )


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group: the 3 longest documents per language
    (row_number window, deterministic tie-break on doc_id).  At scale
    this is one shuffle on the group key; Spark pushes the k-limit into
    the sort within each partition (WindowGroupLimit)."""
    from pyspark.sql.window import Window

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    w = Window.partitionBy("lang").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        docs.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
        .select("lang", "rank", "doc_id", "n_chars")
    )


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user-bucket event counts, event_type values spread to
    columns.  Values are listed explicitly so no extra distinct job runs
    (at 100 TB the values-discovery scan would read the whole table)."""
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir).withColumn(
        "bucket", (F.col("user_id") % 10).cast("long")
    )
    return (
        ev.groupBy("bucket")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
        .select(
            "bucket",
            *[F.coalesce(F.col(c), F.lit(0)).alias(c)
              for c in ("click", "view", "purchase", "signup", "error")],
        )
    )


def q_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-snapshot compaction: the single most recent event per user
    (CDC/SCD 'current state' shape).  max_by avoids a full window sort —
    one partial-aggregating shuffle instead of partition-wide ordering."""
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir).withColumn(
        "ts_ms", F.unix_millis(F.col("ts").cast("timestamp"))
    )
    # (ts_ms, event_id) pairs are unique per user in the fixture; the
    # struct max gives the arg-max with event_id as tie-break
    pick = F.max(F.struct("ts_ms", "event_id", "event_type", "value")).alias("m")
    return (
        ev.groupBy("user_id").agg(pick)
        .select(
            "user_id",
            F.col("m.ts_ms").alias("ts_ms"),
            F.col("m.event_id").alias("event_id"),
            F.col("m.event_type").alias("event_type"),
            F.round(F.col("m.value"), 6).alias("value"),
        )
    )


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 iterations, d=0.85) over the symmetric supplier–part
    graph from lineitem — link-graph quality weighting for curation.
    Symmetrized so the oracle needs no dangling-mass term; ranks scaled
    by node count so the 6-decimal rounding keeps full precision."""
    from janus_spark.operators.graph import pagerank

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sp = li.select(
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
    ).distinct()
    edges = sp.unionByName(sp.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    ranks = pagerank(edges, iterations=3, damping=0.85)
    n = ranks.count()
    return ranks.select("id", F.round(F.col("rank") * n, 6).alias("rank_x_n"))


def q_tpch_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped star join: top revenue orders for one market
    segment.  customer is broadcast (small dim), lineitem⋈orders is the
    one real shuffle; the date filters reach the parquet scans."""
    cu = _read_wide(spark, f"{sf_dir}/customer.parquet")
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cut = "1998-01-01"
    return (
        li.where(F.col("l_shipdate") > F.lit(cut).cast("timestamp"))
        .join(od.where(F.col("o_orderdate") <= F.lit(cut).cast("timestamp")), li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(cu.where(F.col("c_mktsegment") == "BUILDING")), od.o_custkey == cu.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .select(
            "l_orderkey",
            F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("o_orderdate_ms"),
            "o_orderpriority", "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(20)
    )


def q_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join (operators/skew.py): orders⋈customer spread over 8
    salt sub-partitions, then revenue per market segment.  The oracle is
    the plain unsalted join — the whole point is bit-identical results
    with skew-proof partitioning."""
    from janus_spark.operators.skew import salted_join

    cu = _read_wide(spark, f"{sf_dir}/customer.parquet").select("c_custkey", "c_mktsegment")
    od = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_custkey").alias("c_custkey"), "o_totalprice"
    )
    joined = salted_join(od, cu, ["c_custkey"], salt=8)
    # decimal(18,2) sum: exact integer-cent arithmetic — a double sum at
    # 10x data (~1e11) has ulp ~1e-5, i.e. AT the round-4 boundary
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").alias("revenue"),
    )


def q_skew_auto_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-dispatched skew mitigation (operators/skew.py::auto_join):
    customer keys remapped so one key carries ~3/4 of orders — the
    planner must DIAGNOSE that (skew_stats) and salt the join on its
    own; the oracle is the plain unsalted join, pinning bit-identical
    results under the mitigated partitioning."""
    from janus_spark.operators.skew import auto_join

    cu = _read_wide(spark, f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    od = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.when(F.col("o_orderkey") % 4 != 0, F.lit(1))
        .otherwise(F.col("o_custkey"))
        .alias("c_custkey"),
        "o_totalprice",
    )
    decision: dict = {}
    joined = auto_join(od, cu, ["c_custkey"], decision=decision)
    assert decision["strategy"] == "salted", decision  # planted skew must salt
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").alias("revenue"),
    )


QUERIES["q_skew_auto_join"] = q_skew_auto_join
ORACLES["q_skew_auto_join"] = """
    WITH od AS (SELECT CASE WHEN o_orderkey % 4 <> 0 THEN 1 ELSE o_custkey END AS c_custkey,
                       o_totalprice
                FROM orders)
    SELECT c_mktsegment, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM od JOIN customer USING (c_custkey)
    GROUP BY c_mktsegment"""


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis,
    deterministic md5-derived uniforms): 500 documents drawn with
    probability ∝ n_chars.  TakeOrderedAndProject — no global sort."""
    from janus_spark.datapipe.sampling import weighted_sample

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    return weighted_sample(docs, 500, "n_chars").select("doc_id", "lang", "n_chars")


def q_live_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization under the EXACT gate: a deterministic
    burst fixture flows through a real Structured Streaming run (file
    source → watermark → session_window aggregation → memory sink,
    append mode; far-future closer events advance the watermark so all
    data sessions close) and the emitted sessions hash-match a DuckDB
    gaps-and-islands reconstruction.  sf_dir is unused: the fixture IS
    the stream.  Fixture: 4 bursts × 10 events, user = r%5 — each user
    gets 2 events per burst 2.5 s apart (merged by the 4 s gap), bursts
    ~1 min apart (split)."""
    import shutil
    import tempfile
    import uuid

    from janus_spark.operators.sessionize import sessionize

    def fixture(n: int = 40) -> DataFrame:
        return spark.range(0, n).select(
            F.timestamp_millis(
                (F.col("id") / 10).cast("long") * 60000 + (F.col("id") % 10) * 500
            ).alias("ts"),
            (F.col("id") % 5).alias("user_id"),
            F.col("id").cast("double").alias("v"),
        )

    def closer(ts_ms: int) -> DataFrame:
        return spark.range(0, 1).select(
            F.timestamp_millis(F.lit(ts_ms)).alias("ts"),
            F.lit(99).alias("user_id"),
            F.lit(0.0).alias("v"),
        )

    root = tempfile.mkdtemp(prefix="live_sess_")
    try:
        fixture().coalesce(1).write.parquet(f"{root}/f1.parquet")
        closer(10_000_000).coalesce(1).write.parquet(f"{root}/f2.parquet")
        closer(20_000_000).coalesce(1).write.parquet(f"{root}/f3.parquet")
        stream = (
            spark.readStream.schema("ts timestamp, user_id long, v double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/*.parquet")
        )
        out = sessionize(
            stream.withWatermark("ts", "1 second"),
            gap="4 seconds", key_cols=("user_id",),
            aggs={"sum_v": F.round(F.sum("v"), 6)},
        )
        name = f"live_sess_{uuid.uuid4().hex[:8]}"
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", f"{root}/ck")
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q, 300)
        return (
            spark.table(name)
            .where(F.col("user_id") != 99)
            .select("user_id", "session_start", "session_end",
                    F.col("n_events").cast("long").alias("n_events"), "sum_v")
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


_BAR_MS = 6 * 3600 * 1000  # OHLC bar width: 6 hours


def q_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timeseries downsampling: 6-hour OHLC bars per event type.  Open
    and close are arg-min/arg-max via struct ordering ((ts, event_id) is
    unique, so the comparison never reaches the value) — one partial-
    aggregating shuffle, no window sort."""
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir).select(
        "event_type", "event_id", "value",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )
    key = F.struct("ts_ms", "event_id", "value")
    return (
        ev.withColumn("bar", F.floor(F.col("ts_ms") / F.lit(_BAR_MS)).cast("long"))
        .groupBy("event_type", "bar")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min(key)["value"], 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max(key)["value"], 6).alias("close"),
        )
    )


def q_doc_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM quality score per document (datapipe/text.py
    doc_logprob): mean log p(token) under the corpus distribution."""
    from janus_spark.datapipe.text import doc_logprob

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    out = doc_logprob(docs)
    return out.select("doc_id", "n_tokens", F.round("avg_logprob", 6).alias("avg_logprob"))


def q_tfidf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 most similar document pairs by TF-IDF cosine over an
    inverted-index term join (datapipe/similarity.py tfidf_topk_pairs).
    Scores rounded before ranking so the k-cut is engine-reproducible."""
    from janus_spark.datapipe.similarity import tfidf_topk_pairs

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    # max_df scales with the corpus so the hot-term guard stays a guard
    # instead of filtering out the whole (replicated) vocabulary at 10x
    max_df = max(1000, docs.count() // 5)
    return tfidf_topk_pairs(docs, k=50, max_df=max_df, round_sim=6)


QUERIES.update(
    {
        "q_range_join": q_range_join,
        "q_cube": q_cube,
        "q_topk_per_group": q_topk_per_group,
        "q_pivot": q_pivot,
        "q_latest_event": q_latest_event,
        "q_pagerank": q_pagerank,
        "q_tpch_revenue": q_tpch_revenue,
        "q_skew_join": q_skew_join,
        "q_sample_weighted": q_sample_weighted,
        "q_ohlc_resample": q_ohlc_resample,
        "q_doc_logprob": q_doc_logprob,
        "q_tfidf_pairs": q_tfidf_pairs,
        "q_live_session": q_live_session,
    }
)
ORACLES["q_live_session"] = """
    WITH ev AS (
      SELECT CAST((r.range // 10) * 60000 + (r.range % 10) * 500 AS BIGINT) AS ts_ms,
             CAST(r.range % 5 AS BIGINT) AS user_id,
             CAST(r.range AS DOUBLE) AS v
      FROM range(0, 40) r),
    m AS (SELECT *, CASE WHEN ts_ms - LAG(ts_ms) OVER w > 4000
                         OR LAG(ts_ms) OVER w IS NULL THEN 1 ELSE 0 END AS ns
          FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)),
    s AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts_ms
                                  ROWS UNBOUNDED PRECEDING) AS sid FROM m)
    SELECT user_id, MIN(ts_ms) AS session_start,
           MAX(ts_ms) + 4000 AS session_end,
           COUNT(*) AS n_events, ROUND(SUM(v), 6) AS sum_v
    FROM s GROUP BY user_id, sid"""
_TOKS = "list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')"
ORACLES["q_ohlc_resample"] = f"""
    WITH e AS (SELECT event_type, event_id, value, {_TSM} AS ts_ms FROM events),
         b AS (SELECT *, ts_ms // {_BAR_MS} AS bar,
                      ROW_NUMBER() OVER (PARTITION BY event_type, ts_ms // {_BAR_MS}
                                         ORDER BY ts_ms, event_id) AS ra,
                      ROW_NUMBER() OVER (PARTITION BY event_type, ts_ms // {_BAR_MS}
                                         ORDER BY ts_ms DESC, event_id DESC) AS rd
               FROM e)
    SELECT event_type, bar, COUNT(*) AS n,
           ROUND(MIN(CASE WHEN ra = 1 THEN value END), 6) AS open,
           ROUND(MAX(value), 6) AS high,
           ROUND(MIN(value), 6) AS low,
           ROUND(MIN(CASE WHEN rd = 1 THEN value END), 6) AS close
    FROM b GROUP BY event_type, bar"""
ORACLES["q_doc_logprob"] = f"""
    WITH words AS (SELECT doc_id, unnest({_TOKS}) AS word FROM documents),
         vocab AS (SELECT word, COUNT(*) AS wn FROM words GROUP BY word),
         tot AS (SELECT SUM(wn) AS tn FROM vocab)
    SELECT doc_id, COUNT(*) AS n_tokens,
           ROUND(AVG(ln(wn / (SELECT tn FROM tot))), 6) AS avg_logprob
    FROM words JOIN vocab USING (word) GROUP BY doc_id"""
ORACLES["q_tfidf_pairs"] = f"""
    WITH words AS (SELECT doc_id AS id, unnest({_TOKS}) AS t FROM documents),
         tf AS (SELECT id, t, COUNT(*) AS tf FROM words GROUP BY id, t),
         nd AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM documents),
         dft AS (SELECT t, COUNT(*) AS dft FROM tf GROUP BY t
                 HAVING COUNT(*) <=
                        GREATEST(1000, (SELECT COUNT(*) FROM documents) // 5)),
         w AS (SELECT id, t, tf * ln((SELECT nd FROM nd) / dft) AS w
               FROM tf JOIN dft USING (t)),
         norms AS (SELECT id, sqrt(SUM(w * w)) AS nrm FROM w GROUP BY id),
         u AS (SELECT id, t, w / nrm AS u FROM w JOIN norms USING (id)),
         p AS (SELECT l.id AS a, r.id AS b, ROUND(SUM(l.u * r.u), 6) AS sim
               FROM u l JOIN u r USING (t) WHERE l.id < r.id
               GROUP BY l.id, r.id)
    SELECT a, b, sim FROM p ORDER BY sim DESC, a, b LIMIT 50"""
ORACLES["q_skew_join"] = """
    SELECT c_mktsegment, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment"""
ORACLES["q_sample_weighted"] = """
    SELECT doc_id, lang, n_chars FROM (
        SELECT doc_id, lang, n_chars,
               -ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':weight'), 1, 8))::BIGINT + 1)
                   / 4294967297.0) / n_chars AS s
        FROM documents WHERE n_chars > 0
        ORDER BY s LIMIT 500)"""
_PR_EDGES = """
        edges AS (
            SELECT DISTINCT 's' || l_suppkey AS src, 'p' || l_partkey AS dst
            FROM lineitem
            UNION
            SELECT DISTINCT 'p' || l_partkey, 's' || l_suppkey FROM lineitem),
        nodes AS (SELECT DISTINCT src AS id FROM edges),
        deg AS (SELECT src AS id, COUNT(*) AS deg FROM edges GROUP BY src),
        c AS (SELECT COUNT(*) AS n FROM nodes)"""
_PR_STEP = """
        r{next} AS (
            SELECT e.dst AS id,
                   0.15 / (SELECT n FROM c)
                   + 0.85 * SUM(r.rank / d.deg) AS rank
            FROM edges e
            JOIN r{cur} r ON r.id = e.src
            JOIN deg d ON d.id = e.src
            GROUP BY e.dst)"""
ORACLES["q_pagerank"] = (
    "WITH " + _PR_EDGES + ","
    + "r0 AS (SELECT id, 1.0 / (SELECT n FROM c) AS rank FROM nodes),"
    + ",".join(_PR_STEP.format(cur=i, next=i + 1) for i in range(3))
    + " SELECT id, ROUND(rank * (SELECT n FROM c), 6) AS rank_x_n FROM r3"
)
ORACLES["q_tpch_revenue"] = """
    SELECT l_orderkey,
           (epoch_ns(o_orderdate) // 1000000) AS o_orderdate_ms,
           o_orderpriority,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate <= TIMESTAMP '1998-01-01'
      AND l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC LIMIT 20"""
ORACLES["q_range_join"] = f"""
    WITH e AS (SELECT event_id, user_id, {_TSM} AS ts_ms, event_type FROM events),
         c AS (SELECT user_id, ts_ms FROM e WHERE event_type = 'click'),
         i AS (SELECT event_id AS incident_id, user_id, ts_ms AS start_ms
               FROM e WHERE event_type = 'error')
    SELECT i.incident_id, i.user_id, i.start_ms,
           COUNT(c.ts_ms) AS n_clicks
    FROM i LEFT JOIN c
      ON c.user_id = i.user_id
     AND c.ts_ms BETWEEN i.start_ms AND i.start_ms + {_INCIDENT_MS}
    GROUP BY i.incident_id, i.user_id, i.start_ms"""
ORACLES["q_cube"] = """
    SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
           COALESCE(l_linestatus, 'ALL') AS l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           COUNT(*) AS n, ROUND(SUM(l_quantity), 6) AS sum_qty
    FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)"""
ORACLES["q_topk_per_group"] = """
    SELECT lang, rank, doc_id, n_chars FROM (
        SELECT lang, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY n_chars DESC, doc_id ASC) AS rank
        FROM documents) WHERE rank <= 3"""
ORACLES["q_pivot"] = """
    SELECT user_id % 10 AS bucket,
           COUNT(*) FILTER (event_type = 'click') AS click,
           COUNT(*) FILTER (event_type = 'view') AS view,
           COUNT(*) FILTER (event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (event_type = 'signup') AS signup,
           COUNT(*) FILTER (event_type = 'error') AS error
    FROM events GROUP BY user_id % 10"""
ORACLES["q_latest_event"] = f"""
    SELECT user_id, {_TSM} AS ts_ms, event_id, event_type,
           ROUND(value, 6) AS value
    FROM events
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY {_TSM} DESC, event_id DESC) = 1"""


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs n-gram Jaccard similarity join — the UNPRUNED
    postings-count formulation (the exact counterpart the MinHash/
    SimHash gates approximate).  q_jaccard_prefix runs the PPJoin
    prefix-filtered plan (the production default) against the SAME
    oracle — together they pin the prefix lemma's output equivalence."""
    from janus_spark.datapipe.dedup import jaccard_similarity_join

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    return jaccard_similarity_join(docs, shingle_k=3, threshold=0.5, prefix_filter=False)


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of `value` (LOCF interval
    weighting) — the irregular-sampling mean plain AVG gets wrong."""
    from janus_spark.operators.timeseries import time_weighted_avg
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir).select(
        "user_id", "event_id", "value",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )
    return time_weighted_avg(
        ev, ["user_id"], ts_col="ts_ms", value_col="value", order_tiebreak="event_id"
    )


_PANE_RANGE_MS = 6 * 3_600_000
_PANE_STEP_MS = 3_600_000


def q_sliding_panes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 6h/1h per-user aggregates via pane partials (one
    map-combinable pre-agg, window replication on partials not events)."""
    from janus_spark.operators.timeseries import pane_sliding_agg
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir).select(
        "user_id", "value", F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms")
    )
    return pane_sliding_agg(
        ev, ["user_id"], ts_col="ts_ms", value_col="value",
        range_ms=_PANE_RANGE_MS, step_ms=_PANE_STEP_MS,
    )


QUERIES.update(
    {
        "q_jaccard_pairs": q_jaccard_pairs,
        "q_time_weighted_avg": q_time_weighted_avg,
        "q_sliding_panes": q_sliding_panes,
    }
)
# Set-based Jaccard depends only on each doc's shingle SET, so docs with
# identical sets are interchangeable: join over one representative per
# distinct set, expand pairs through membership, and add within-group
# pairs (identical nonempty sets have J = 1 and always share a posting).
# Equivalent to the naive postings join over all docs — which at the sf10
# stress corpus (4,992 distinct texts in 500k docs, groups up to 200)
# generates billions of candidate occurrences in any engine.
ORACLES["q_jaccard_pairs"] = r"""
    WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l
               FROM documents),
         s AS (SELECT doc_id,
                      CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
                           ELSE list_distinct(list_transform(range(1, len(l) - 1),
                                              i -> array_to_string(l[i:i+2], ' ')))
                      END AS sh FROM t),
         k AS MATERIALIZED (SELECT doc_id, sh,
                      md5(array_to_string(list_sort(sh), chr(1))) AS gk FROM s),
         reps AS (SELECT gk, MIN(doc_id) AS rid FROM k GROUP BY gk),
         rs AS MATERIALIZED (SELECT r.gk, k.sh FROM reps r
                             JOIN k ON k.doc_id = r.rid),
         g AS (SELECT gk, len(sh) AS n, unnest(sh) AS gram FROM rs),
         p AS (SELECT l.gk AS gka, r.gk AS gkb, l.n AS na, r.n AS nb,
                      COUNT(*) AS inter
               FROM g l JOIN g r USING (gram) WHERE l.gk < r.gk
               GROUP BY 1, 2, 3, 4),
         rp AS (SELECT gka, gkb, inter / (na + nb - inter) AS j
                FROM p WHERE inter / (na + nb - inter) >= 0.5),
         crossg AS (SELECT LEAST(ka.doc_id, kb.doc_id) AS a,
                           GREATEST(ka.doc_id, kb.doc_id) AS b, j
                    FROM rp JOIN k ka ON ka.gk = rp.gka
                            JOIN k kb ON kb.gk = rp.gkb),
         within AS (SELECT l.doc_id AS a, r.doc_id AS b, 1.0 AS j
                    FROM k l JOIN k r USING (gk)
                    WHERE l.doc_id < r.doc_id AND len(l.sh) > 0)
    SELECT a, b, ROUND(j, 9) AS jaccard
    FROM (SELECT * FROM crossg UNION ALL SELECT * FROM within)"""
ORACLES["q_time_weighted_avg"] = f"""
    WITH e AS (SELECT user_id, event_id, value, {_TSM} AS ts_ms FROM events),
         d AS (SELECT user_id, value,
                      LEAD(ts_ms) OVER (PARTITION BY user_id
                                        ORDER BY ts_ms, event_id) - ts_ms AS dt
               FROM e)
    SELECT user_id, COUNT(*) AS n_intervals,
           CAST(ROUND(SUM(dt) + 0.0, 6) AS DOUBLE) AS span_ms,
           ROUND(SUM(value * dt) / SUM(dt), 6) AS twa
    FROM d WHERE dt IS NOT NULL GROUP BY user_id"""
ORACLES["q_sliding_panes"] = f"""
    WITH e AS (SELECT user_id, value, {_TSM} AS t FROM events),
         x AS (SELECT user_id, value,
                      unnest(generate_series(t // {_PANE_STEP_MS} - {_PANE_RANGE_MS // _PANE_STEP_MS - 1},
                                             t // {_PANE_STEP_MS})) AS w
               FROM e)
    SELECT user_id, COUNT(*) AS n_events,
           ROUND(SUM(value), 6) AS sum_v,
           ROUND(MIN(value), 6) AS min_v,
           ROUND(MAX(value), 6) AS max_v,
           ROUND(AVG(value), 6) AS avg_v,
           w * {_PANE_STEP_MS} AS window_start
    FROM x GROUP BY user_id, w"""


_PCT_BINS, _PCT_VMAX = 600, 600.0  # width 1.0 over the events value range


def q_sliding_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 6h/1h p50/p95/p99 per event type via mergeable histogram
    sketches (pane partials are (bin, count) rows; quantiles read off the
    window CDF).  Deterministic integer counting → oracle-EXACT, closing
    the non-mergeable-aggregate gap behind the pane dispatch."""
    from janus_spark.operators.timeseries import pane_sliding_percentile
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir).select(
        "event_type", "value", F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms")
    )
    return pane_sliding_percentile(
        ev, ["event_type"], ts_col="ts_ms", value_col="value",
        range_ms=_PANE_RANGE_MS, step_ms=_PANE_STEP_MS,
        probs=(0.5, 0.95, 0.99), vmin=0.0, vmax=_PCT_VMAX, n_bins=_PCT_BINS,
    )


def _pct_expr(p: float) -> str:
    # CAST ... AS DOUBLE: DuckDB decimal literals (0.0, 0.5) keep the whole
    # expression DECIMAL, which fetchall renders as Decimal objects where
    # Spark returns float (repr-strict divergence; r6 sweep).
    return (
        f"CAST(ROUND(0.0 + (MIN(CASE WHEN cum >= CEIL({p} * total) THEN bin END) + 0.5)"
        f" * {_PCT_VMAX / _PCT_BINS}, 6) AS DOUBLE) AS p{round(p * 100)}"
    )


QUERIES["q_sliding_percentile"] = q_sliding_percentile
ORACLES["q_sliding_percentile"] = f"""
    WITH e AS (SELECT event_type, value, {_TSM} AS t FROM events
               WHERE value IS NOT NULL),
         b AS (SELECT event_type, t,
                      LEAST(GREATEST(CAST(FLOOR(value / {_PCT_VMAX / _PCT_BINS}) AS BIGINT), 0),
                            {_PCT_BINS - 1}) AS bin
               FROM e),
         x AS (SELECT event_type, bin,
                      unnest(generate_series(t // {_PANE_STEP_MS} - {_PANE_RANGE_MS // _PANE_STEP_MS - 1},
                                             t // {_PANE_STEP_MS})) AS w
               FROM b),
         h AS (SELECT event_type, w, bin, COUNT(*) AS cnt FROM x GROUP BY 1, 2, 3),
         c AS (SELECT event_type, w, bin, cnt,
                      SUM(cnt) OVER (PARTITION BY event_type, w ORDER BY bin
                                     ROWS UNBOUNDED PRECEDING) AS cum,
                      SUM(cnt) OVER (PARTITION BY event_type, w) AS total
               FROM h)
    SELECT event_type, CAST(MAX(total) AS BIGINT) AS n_events,
           {_pct_expr(0.5)}, {_pct_expr(0.95)}, {_pct_expr(0.99)},
           w * {_PANE_STEP_MS} AS window_start
    FROM c GROUP BY event_type, w"""


def q_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE (Q8 family): subject-outgoing triples of every event
    matching the WHERE pattern — one semi-join membership probe."""
    q = """DESCRIBE ?e WHERE { ?e <urn:col:event_type> "error" . }"""
    return _run(_events_quads(spark, sf_dir), q)


QUERIES["q_describe"] = q_describe
ORACLES["q_describe"] = f"""
    WITH err AS (SELECT * FROM events WHERE event_type = 'error'),
         t AS (
           SELECT {_EV} AS subject, 'urn:col:user_id' AS predicate,
                  CAST(user_id AS VARCHAR) AS object FROM err
           UNION ALL
           SELECT {_EV}, 'urn:col:event_type', event_type FROM err
           UNION ALL
           SELECT {_EV}, 'urn:col:value', CAST(value AS VARCHAR) FROM err
           UNION ALL
           SELECT {_EV}, 'urn:col:props', props FROM err)
    SELECT DISTINCT subject, predicate, object FROM t
    WHERE object IS NOT NULL"""


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon entropy of the token distribution (curation
    signal: low entropy at high length = degenerate text)."""
    from janus_spark.datapipe.text import token_entropy

    return token_entropy(_read_wide(spark, f"{sf_dir}/documents.parquet"))


_LOCF_SLOT_MS = 6 * 3_600_000


def q_locf_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularize an irregular series: 6-hour grid per user, value =
    last observation carried forward (as-of-backward join of the grid
    against the events — single-shuffle union+window, no range join)."""
    from janus_spark.operators.asof import asof_join
    from janus_spark.sources.melt import read_events

    h = _LOCF_SLOT_MS
    ev = read_events(spark, sf_dir).select(
        "user_id", "event_id", "value",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )
    # ties on (user, ts) resolved deterministically: keep the max event_id
    latest = (
        ev.groupBy("user_id", "ts_ms")
        .agg(F.max(F.struct("event_id", "value"))["value"].alias("value"))
    )
    # a user whose [mn, mx] span contains no h-multiple gets lo > hi;
    # unguarded F.sequence would yield a DESCENDING 2-element sequence
    # (spurious grid rows) while the oracle's generate_series is empty
    lo = F.expr(f"(mn + {h - 1}) DIV {h}")
    hi = F.expr(f"mx DIV {h}")
    slots = F.when(lo <= hi, F.sequence(lo, hi)).otherwise(F.array().cast("array<bigint>"))
    grid = (
        ev.groupBy("user_id")
        .agg(F.min("ts_ms").alias("mn"), F.max("ts_ms").alias("mx"))
        .select("user_id", F.explode(slots).alias("slot"))
        .select("user_id", (F.col("slot") * h).cast("long").alias("ts_ms"))
    )
    out = asof_join(grid, latest, ts_col="ts_ms", by=("user_id",), value_cols=("value",))
    return out.select("user_id", "ts_ms", F.round("value_asof", 6).alias("value_locf"))


QUERIES.update({"q_token_entropy": q_token_entropy, "q_locf_resample": q_locf_resample})
ORACLES["q_token_entropy"] = f"""
    WITH w AS (SELECT doc_id, unnest({_TOKS}) AS word FROM documents),
         c AS (SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY doc_id, word)
    SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
           ROUND(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c), 6) AS entropy
    FROM c GROUP BY doc_id"""
ORACLES["q_locf_resample"] = f"""
    WITH e AS (SELECT user_id, event_id, value, {_TSM} AS ts_ms FROM events),
         latest AS (SELECT user_id, ts_ms, arg_max(value, event_id) AS value
                    FROM e GROUP BY user_id, ts_ms),
         b AS (SELECT user_id, MIN(ts_ms) AS mn, MAX(ts_ms) AS mx
               FROM e GROUP BY user_id),
         grid AS (SELECT user_id,
                         unnest(generate_series((mn + {_LOCF_SLOT_MS - 1}) // {_LOCF_SLOT_MS},
                                                mx // {_LOCF_SLOT_MS})) * {_LOCF_SLOT_MS} AS ts_ms
                  FROM b)
    SELECT g.user_id, g.ts_ms, ROUND(l.value, 6) AS value_locf
    FROM grid g ASOF LEFT JOIN latest l
      ON g.user_id = l.user_id AND g.ts_ms >= l.ts_ms"""


def q_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup verification by Levenshtein distance on normalized text,
    over the EXACT Jaccard candidates (threshold 0.5) — the second-stage
    verifier of a dedup pipeline.  JVM levenshtein on the joined pair
    rows only, never all-pairs; the candidate set bounds the O(len²) DP."""
    from janus_spark.datapipe.dedup import jaccard_similarity_join
    from janus_spark.datapipe.text import normalize

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    norm = docs.select("doc_id", normalize(F.col("text")).alias("nt"))
    cand = jaccard_similarity_join(docs, shingle_k=3, threshold=0.5).select("a", "b")
    return (
        cand.join(norm.select(F.col("doc_id").alias("a"), F.col("nt").alias("ta")), "a")
        .join(norm.select(F.col("doc_id").alias("b"), F.col("nt").alias("tb")), "b")
        .select(
            "a", "b",
            F.levenshtein("ta", "tb").cast("long").alias("edit_dist"),
            F.round(
                F.lit(1.0)
                - F.levenshtein("ta", "tb") / F.greatest(F.length("ta"), F.length("tb")),
                9,
            ).alias("edit_sim"),
        )
    )


def q_quality_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile binning of documents by composite quality score (NTILE
    window) with per-bin stats — the 'keep top quality quartiles'
    curation step."""
    from janus_spark.datapipe.text import quality_features

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    scored = quality_features(docs).select("doc_id", "q_score", "n_chars")
    from pyspark.sql import Window as W

    w = W.orderBy(F.col("q_score").desc(), F.col("doc_id").asc())
    binned = scored.withColumn("quartile", F.ntile(4).over(w))
    return binned.groupBy("quartile").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("q_score"), 6).alias("avg_score"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
    )


QUERIES.update({"q_edit_distance": q_edit_distance, "q_quality_ntile": q_quality_ntile})
_JACC_SQL = ORACLES["q_jaccard_pairs"]
ORACLES["q_edit_distance"] = f"""
    WITH cand AS (SELECT a, b FROM ({_JACC_SQL})),
         n AS (SELECT doc_id, {_NORM_SQL} AS nt FROM documents)
    SELECT a, b, levenshtein(l.nt, r.nt) AS edit_dist,
           ROUND(1.0 - levenshtein(l.nt, r.nt)
                       / GREATEST(LENGTH(l.nt), LENGTH(r.nt)), 9) AS edit_sim
    FROM cand JOIN n l ON l.doc_id = a JOIN n r ON r.doc_id = b"""
_TQ_SQL = ORACLES["q_text_quality"]
ORACLES["q_quality_ntile"] = f"""
    WITH s AS (SELECT q.doc_id, q.score, d.n_chars
               FROM ({_TQ_SQL}) q JOIN documents d USING (doc_id)),
         b AS (SELECT *, NTILE(4) OVER (ORDER BY score DESC, doc_id ASC) AS quartile
               FROM s)
    SELECT quartile, COUNT(*) AS n_docs,
           ROUND(AVG(score), 6) AS avg_score,
           ROUND(AVG(n_chars), 6) AS avg_chars
    FROM b GROUP BY quartile"""


def _live_delta_gate(spark: SparkSession, operator: str) -> DataFrame:
    """Shared harness for the IStream/DStream exact gates: a unique-value
    sensor fixture flows through a real Structured Streaming run (file
    source → foreachBatch live runtime → sliding 4s/2s windows) and the
    per-window delta emissions are returned as one frame."""
    import shutil
    import tempfile

    from janus_spark.model import QUAD_SCHEMA
    from janus_spark.parsing import parse_janusql
    from janus_spark.streaming import ListSink, LiveQueryRunner

    text = f"""
    PREFIX ex: <http://example.org/>
    REGISTER {operator} <out> AS
    SELECT ?s ?t
    FROM NAMED WINDOW ex:w ON STREAM ex:sensors [RANGE 4000 STEP 2000]
    WHERE {{ WINDOW ex:w {{ ?s ex:temperature ?t . }} }}
    """
    fixture = spark.range(1, 61).select(
        (F.col("id") * 500).alias("ts"),
        F.concat(F.lit("http://example.org/sensor"), (F.col("id") % 3).cast("string")).alias("subject"),
        F.lit("http://example.org/temperature").alias("predicate"),
        F.col("id").cast("string").alias("object"),
        F.lit("g").alias("graph"),
    )
    closer = fixture.where("ts = 500").selectExpr(
        "CAST(35000 AS LONG) AS ts", "subject", "predicate", "object", "graph"
    )
    root = tempfile.mkdtemp(prefix=f"live_{operator.lower()}_")
    try:
        fixture.where("ts <= 15000").coalesce(1).write.parquet(f"{root}/f1.parquet")
        fixture.where("ts > 15000").coalesce(1).write.parquet(f"{root}/f2.parquet")
        closer.coalesce(1).write.parquet(f"{root}/f3.parquet")
        stream = (
            spark.readStream.schema(QUAD_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/f*.parquet")
        )
        sink = ListSink()
        runner = LiveQueryRunner(spark, parse_janusql(text), f"{root}/buf", sink=sink)
        q = runner.attach(stream, once=True)
        _await_stream(q, 300)
        rows = [
            (b["window_start"], b["window_end"], r["s"], r["t"])
            for b in sink.batches
            for r in b["rows"]
        ]
        return spark.createDataFrame(
            rows, "window_start long, window_end long, s string, t string"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_live_sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed RStream delivery under the EXACT gate: the sliding-
    window fixture flows through a real Structured Streaming run with a
    ParquetSink — each micro-batch's FULL result is written parquet by
    the executors and only per-window manifests reach the driver; the read-back of
    every manifest must hash-match the all-windows SQL reconstruction
    (streaming/live.py::ParquetSink — the at-scale alternative to the
    reference's rows-over-channel contract, src/http/server.rs:473).
    sf_dir is unused: the fixture IS the stream."""
    import shutil
    import tempfile

    from janus_spark.model import QUAD_SCHEMA
    from janus_spark.parsing import parse_janusql
    from janus_spark.streaming import LiveQueryRunner, ParquetSink

    text = """
    PREFIX ex: <http://example.org/>
    REGISTER RStream <out> AS
    SELECT ?s ?t
    FROM NAMED WINDOW ex:w ON STREAM ex:sensors [RANGE 4000 STEP 2000]
    WHERE { WINDOW ex:w { ?s ex:temperature ?t . } }
    """
    fixture = spark.range(1, 61).select(
        (F.col("id") * 500).alias("ts"),
        F.concat(F.lit("http://example.org/sensor"), (F.col("id") % 3).cast("string")).alias("subject"),
        F.lit("http://example.org/temperature").alias("predicate"),
        F.col("id").cast("string").alias("object"),
        F.lit("g").alias("graph"),
    )
    closer = fixture.where("ts = 500").selectExpr(
        "CAST(35000 AS LONG) AS ts", "subject", "predicate", "object", "graph"
    )
    root = tempfile.mkdtemp(prefix="live_psink_")
    try:
        fixture.where("ts <= 15000").coalesce(1).write.parquet(f"{root}/f1.parquet")
        fixture.where("ts > 15000").coalesce(1).write.parquet(f"{root}/f2.parquet")
        closer.coalesce(1).write.parquet(f"{root}/f3.parquet")
        stream = (
            spark.readStream.schema(QUAD_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/f*.parquet")
        )
        sink = ParquetSink(f"{root}/out")
        runner = LiveQueryRunner(spark, parse_janusql(text), f"{root}/buf", sink=sink)
        q = runner.attach(stream, once=True)
        _await_stream(q, 300)
        rows = []
        for m in sink.manifests:
            assert m["n_rows"] > 0
            for r in spark.read.parquet(m["path"]).collect():
                rows.append((m["window_start"], m["window_end"], r["s"], r["t"]))
        return spark.createDataFrame(
            rows, "window_start long, window_end long, s string, t string"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


QUERIES["q_live_sink_parquet"] = q_live_sink_parquet
ORACLES["q_live_sink_parquet"] = """
    WITH f AS (SELECT CAST(r.range * 500 AS BIGINT) AS ts,
                      'http://example.org/sensor' || CAST(r.range % 3 AS VARCHAR) AS s,
                      CAST(r.range AS VARCHAR) AS t
               FROM range(1, 61) r),
         k AS (SELECT unnest(generate_series(0, 15)) AS k),
         sol AS (SELECT k.k, f.s, f.t
                 FROM k JOIN f ON f.ts >= k.k * 2000 AND f.ts < k.k * 2000 + 4000)
    SELECT CAST(k * 2000 AS BIGINT) AS window_start,
           CAST(k * 2000 + 4000 AS BIGINT) AS window_end, s, t
    FROM sol"""


def q_live_istream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IStream R2S operator under the EXACT gate: per-window INSERTED
    rows (bag delta; values unique so bag ≡ set and the DuckDB
    consecutive-window anti-join is exact).  The reference parses
    IStream but implements only RStream (janusql_parser.rs:43-51); this
    pins our extension.  sf_dir is unused: the fixture IS the stream."""
    return _live_delta_gate(spark, "IStream")


QUERIES["q_live_istream"] = q_live_istream
ORACLES["q_live_istream"] = """
    WITH f AS (SELECT CAST(r.range * 500 AS BIGINT) AS ts,
                      'http://example.org/sensor' || CAST(r.range % 3 AS VARCHAR) AS s,
                      CAST(r.range AS VARCHAR) AS t
               FROM range(1, 61) r),
         k AS (SELECT unnest(generate_series(0, 15)) AS k),
         sol AS (SELECT k.k, f.s, f.t
                 FROM k JOIN f ON f.ts >= k.k * 2000 AND f.ts < k.k * 2000 + 4000),
         delta AS (SELECT cur.k, cur.s, cur.t
                   FROM sol cur LEFT JOIN sol prev
                     ON prev.k = cur.k - 1 AND prev.s = cur.s AND prev.t = cur.t
                   WHERE prev.k IS NULL)
    SELECT CAST(k * 2000 AS BIGINT) AS window_start,
           CAST(k * 2000 + 4000 AS BIGINT) AS window_end, s, t
    FROM delta"""


def q_baseline_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8 baseline bootstrap, LAST mode: the accumulator clears at each
    sliding hop, so only the final historical window survives into the
    baseline (docs/BASELINES.md:40-65 semantics; geometry chosen so
    window ends are unique and unclamped)."""
    quads = _events_quads(spark, sf_dir)
    lo, hi = _events_ts_bounds(spark, sf_dir)
    span = hi - lo
    step, rng, offset = max(span // 6, 1), max(span // 8, 1), span - 500
    text = f"""
    REGISTER RStream <out> AS
    SELECT ?sensor ?v
    FROM NAMED WINDOW <urn:w:live> ON STREAM <urn:stream:events> [RANGE 1000 STEP 1000]
    FROM NAMED WINDOW <urn:w:hist> ON LOG <urn:stream:events> [OFFSET {offset} RANGE {rng} STEP {step}]
    USING BASELINE <urn:w:hist> LAST
    WHERE {{
      WINDOW <urn:w:live> {{ ?sensor <urn:col:value> ?vl . }}
      WINDOW <urn:w:hist> {{ ?sensor <urn:col:value> ?v . }}
    }}
    """
    eng = JanusEngine(spark, quads)
    qid = eng.register_query(text, query_id="q_baseline_last")
    static = eng.warm_baseline(qid, now=hi)
    return static.select(
        F.col("subject").alias("anchor"),
        F.col("predicate").alias("var_iri"),
        F.col("object").try_cast("double").alias("value"),
    )


QUERIES["q_baseline_last"] = q_baseline_last
ORACLES["q_baseline_last"] = f"""
    WITH b AS (SELECT MIN({_TSM}) AS lo, MAX({_TSM}) AS hi FROM events),
         g AS (SELECT lo, hi, hi - lo AS span,
                      GREATEST((hi - lo) // 6, 1) AS step,
                      GREATEST((hi - lo) // 8, 1) AS rng,
                      (hi - lo) - 500 AS off
               FROM b),
         w AS (SELECT hi, (hi - off) + (off // step) * step AS ws,
                      LEAST((hi - off) + (off // step) * step + rng, hi) AS we
               FROM g)
    SELECT 'urn:event:' || CAST(event_id AS VARCHAR) AS anchor,
           'https://janus.rs/baseline#v' AS var_iri,
           value
    FROM events, w
    WHERE {_TSM} >= w.ws AND {_TSM} <= w.we"""


def q_live_baseline_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full hybrid flow under the EXACT gate (the reference's flagship
    path, QUERY_EXECUTION.md:25-56): the historical window warms an
    AGGREGATE baseline → compact static triples → the live side
    broadcast-joins them into every sliding evaluation (Q13 + W8).  A
    deterministic sensor fixture is both the log and the stream; the
    emissions hash-match a pure-SQL reconstruction (per-sensor historical
    mean joined to per-window live readings).  sf_dir is unused: the
    fixture IS the stream."""
    import shutil
    import tempfile

    from janus_spark.sources.melt import melt_sensor_fixture
    from janus_spark.streaming import ListSink

    text = """
    PREFIX ex: <http://example.org/>
    REGISTER RStream <out> AS
    SELECT ?sensor ?temp ?hv ?v
    FROM NAMED WINDOW ex:w ON STREAM ex:sensors [RANGE 2000 STEP 2000]
    FROM NAMED WINDOW ex:h ON LOG ex:sensors [START 100 END 4000]
    USING BASELINE ex:h AGGREGATE
    WHERE {
      WINDOW ex:w { ?sensor ex:temperature ?temp . }
      WINDOW ex:h { ?sensor ex:temperature ?hv . }
      ?sensor <https://janus.rs/baseline#hv> ?v .
    }
    """
    quads = melt_sensor_fixture(spark, 40)  # ts 100..4000
    root = tempfile.mkdtemp(prefix="live_bl_")
    try:
        eng = JanusEngine(spark, quads)
        qid = eng.register_query(text, query_id="q_live_baseline_join")
        sink = ListSink()
        runner = eng.start_live(qid, f"{root}/buf", sink=sink)  # warms baseline
        runner.on_batch(quads)
        runner.close(10_000)  # flush [4000,6000) too
        rows = [
            (b["window_start"], b["window_end"], r["sensor"], r["temp"], r["v"])
            for b in sink.batches
            for r in b["rows"]
        ]
        out = spark.createDataFrame(
            rows, "window_start long, window_end long, sensor string, temp string, v string"
        )
        return out.select(
            "window_start", "window_end", "sensor",
            F.col("temp").try_cast("double").alias("temp"),
            F.col("v").try_cast("double").alias("baseline_mean"),
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


QUERIES["q_live_baseline_join"] = q_live_baseline_join
ORACLES["q_live_baseline_join"] = """
    WITH ev AS (SELECT CAST(r.range * 100 AS BIGINT) AS ts,
                       'http://example.org/sensor' || CAST(r.range % 5 AS VARCHAR) AS s,
                       CAST(20 + (r.range % 10) AS DOUBLE) AS t
                FROM range(1, 41) r),
         bl AS (SELECT s, AVG(t) AS mean FROM ev
                WHERE ts BETWEEN 100 AND 4000 GROUP BY s),
         w AS (SELECT s, t, ts // 2000 AS win FROM ev)
    SELECT CAST(w.win * 2000 AS BIGINT) AS window_start,
           CAST(w.win * 2000 + 2000 AS BIGINT) AS window_end,
           w.s AS sensor, w.t AS temp, bl.mean AS baseline_mean
    FROM w JOIN bl USING (s)"""


def q_live_dstream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DStream R2S operator under the EXACT gate (mirror of
    q_live_istream): per-window DROPPED rows; oracle is the reversed
    consecutive-window anti-join.  sf_dir is unused: the fixture IS the
    stream."""
    return _live_delta_gate(spark, "DStream")


QUERIES["q_live_dstream"] = q_live_dstream
ORACLES["q_live_dstream"] = """
    WITH f AS (SELECT CAST(r.range * 500 AS BIGINT) AS ts,
                      'http://example.org/sensor' || CAST(r.range % 3 AS VARCHAR) AS s,
                      CAST(r.range AS VARCHAR) AS t
               FROM range(1, 61) r),
         sol AS (SELECT g.k, f.s, f.t
                 FROM (SELECT unnest(generate_series(0, 15)) AS k) g
                 JOIN f ON f.ts >= g.k * 2000 AND f.ts < g.k * 2000 + 4000),
         delta AS (SELECT prev.k + 1 AS k, prev.s, prev.t
                   FROM sol prev LEFT JOIN sol cur
                     ON cur.k = prev.k + 1 AND cur.s = prev.s AND cur.t = prev.t
                   WHERE cur.k IS NULL AND prev.k + 1 <= 15)
    SELECT CAST(k * 2000 AS BIGINT) AS window_start,
           CAST(k * 2000 + 4000 AS BIGINT) AS window_end, s, t
    FROM delta"""


def q_path_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property-path transitive closure (`p+`) under the EXACT gate:
    ancestor edges doc → doc//2 form a binary tree over the documents
    table (depth grows with the table — hop bound set explicitly with headroom); every (descendant,
    ancestor) pair from the bounded semi-naive iteration must match a
    DuckDB recursive CTE."""
    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    edges = docs.where("doc_id >= 1").select(
        F.lit(0).alias("ts"),
        F.concat(F.lit("urn:doc:"), F.col("doc_id").cast("string")).alias("subject"),
        F.lit("urn:tree:parent").alias("predicate"),
        F.concat(F.lit("urn:doc:"), (F.col("doc_id") / 2).cast("long").cast("string")).alias("object"),
        F.lit("g").alias("graph"),
    )
    q = """SELECT ?d ?a WHERE { ?d <urn:tree:parent>+ ?a . }"""
    # tree depth is ⌈log₂ max_doc_id⌉ (12 at sf0.1); bound with headroom
    return _run(edges, q, path_max_hops=24)


QUERIES["q_path_closure"] = q_path_closure
ORACLES["q_path_closure"] = """
    WITH RECURSIVE e AS (
        SELECT 'urn:doc:' || CAST(doc_id AS VARCHAR) AS c,
               'urn:doc:' || CAST(doc_id // 2 AS VARCHAR) AS p
        FROM documents WHERE doc_id >= 1),
    r AS (
        SELECT c, p FROM e
        UNION
        SELECT r.c, e.p FROM r JOIN e ON r.p = e.c)
    SELECT c AS d, p AS a FROM r"""


def q_path_deep_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property-path closure over a diameter-39 CHAIN with the DEFAULT
    config — pins the fixpoint-until-converged contract: no explicit
    hop bound, and the longest path (39 hops) far exceeds the old
    implicit cap of 10, so a silently-truncated closure fails the EXACT
    gate (compiler/compile.py::_path_relation, path_max_hops=None)."""
    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    edges = docs.where("doc_id >= 1 AND doc_id < 40").select(
        F.lit(0).alias("ts"),
        F.concat(F.lit("urn:n:"), F.col("doc_id").cast("string")).alias("subject"),
        F.lit("urn:chain:prev").alias("predicate"),
        F.concat(F.lit("urn:n:"), (F.col("doc_id") - 1).cast("string")).alias("object"),
        F.lit("g").alias("graph"),
    )
    q = """SELECT ?d ?a WHERE { ?d <urn:chain:prev>+ ?a . }"""
    return _run(edges, q)


QUERIES["q_path_deep_closure"] = q_path_deep_closure
ORACLES["q_path_deep_closure"] = """
    WITH RECURSIVE e AS (
        SELECT 'urn:n:' || CAST(doc_id AS VARCHAR) AS c,
               'urn:n:' || CAST(doc_id - 1 AS VARCHAR) AS p
        FROM documents WHERE doc_id >= 1 AND doc_id < 40),
    r AS (
        SELECT c, p FROM e
        UNION
        SELECT r.c, e.p FROM r JOIN e ON r.p = e.c)
    SELECT c AS d, p AS a FROM r"""


def q_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 sliding window with a DISTINCT aggregate (unique users per
    hop).  Not pane-decomposable (distinct does not merge), so this pins
    the general window-id path behind the pane auto-dispatch guard."""
    quads = _events_quads(spark, sf_dir)
    lo, hi = _events_ts_bounds(spark, sf_dir)
    offset = hi - lo
    rng, step = max((hi - lo) // 4, 1), max((hi - lo) // 8, 1)
    text = f"""
    REGISTER RStream <out> AS
    SELECT (COUNT(DISTINCT ?u) AS ?n_users)
    FROM NAMED WINDOW <urn:w:h> ON LOG <urn:stream:events> [OFFSET {offset} RANGE {rng} STEP {step}]
    WHERE {{ WINDOW <urn:w:h> {{ ?e <urn:col:user_id> ?u . }} }}
    """
    eng = JanusEngine(spark, quads)
    qid = eng.register_query(text, query_id="q_sliding_distinct")
    res = eng.start_historical(qid, now=hi)["urn:w:h"]
    return res.select(
        "window_start", "window_end", F.col("n_users").cast("long").alias("n_users")
    )


QUERIES["q_sliding_distinct"] = q_sliding_distinct
ORACLES["q_sliding_distinct"] = f"""
    WITH b AS (SELECT MIN({_TSM}) AS lo, MAX({_TSM}) AS hi FROM events),
         g AS (SELECT lo, hi,
                      GREATEST((hi - lo) // 4, 1) AS rng,
                      GREATEST((hi - lo) // 8, 1) AS step,
                      hi - lo AS off FROM b),
         w AS (SELECT k, lo + k * step AS ws, LEAST(lo + k * step + rng, hi) AS we
               FROM g, (SELECT unnest(generate_series(0, 8)) AS k)
               WHERE k <= off // step),
         e AS (SELECT user_id, {_TSM} AS t FROM events)
    SELECT w.ws AS window_start, w.we AS window_end,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM w JOIN e ON e.t >= w.ws AND e.t <= w.we
    GROUP BY w.ws, w.we"""


def q_sliding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 + Q10 per-window modifiers: ORDER BY/LIMIT apply to EACH
    sliding hop (reference semantics — every hop is its own query), so
    LIMIT 3 compiles to a rank within the window partition
    (WindowGroupLimit), not a global TakeOrdered."""
    quads = _events_quads(spark, sf_dir)
    lo, hi = _events_ts_bounds(spark, sf_dir)
    offset = hi - lo
    rng, step = max((hi - lo) // 4, 1), max((hi - lo) // 8, 1)
    text = f"""
    REGISTER RStream <out> AS
    SELECT ?u (COUNT(?e) AS ?n)
    FROM NAMED WINDOW <urn:w:h> ON LOG <urn:stream:events> [OFFSET {offset} RANGE {rng} STEP {step}]
    WHERE {{ WINDOW <urn:w:h> {{ ?e <urn:col:user_id> ?u . }} }}
    GROUP BY ?u
    ORDER BY DESC(?n) ?u
    LIMIT 3
    """
    eng = JanusEngine(spark, quads)
    qid = eng.register_query(text, query_id="q_sliding_topk")
    res = eng.start_historical(qid, now=hi)["urn:w:h"]
    return res.select(
        "window_start", "window_end", F.col("u").alias("u"),
        F.col("n").cast("long").alias("n"),
    )


QUERIES["q_sliding_topk"] = q_sliding_topk
ORACLES["q_sliding_topk"] = f"""
    WITH b AS (SELECT MIN({_TSM}) AS lo, MAX({_TSM}) AS hi FROM events),
         g AS (SELECT lo, hi,
                      GREATEST((hi - lo) // 4, 1) AS rng,
                      GREATEST((hi - lo) // 8, 1) AS step,
                      hi - lo AS off FROM b),
         w AS (SELECT k, lo + k * step AS ws, LEAST(lo + k * step + rng, hi) AS we
               FROM g, (SELECT unnest(generate_series(0, 8)) AS k)
               WHERE k <= off // step),
         e AS (SELECT user_id, {_TSM} AS t FROM events),
         c AS (SELECT w.ws, w.we, CAST(e.user_id AS VARCHAR) AS u,
                      COUNT(*) AS n
               FROM w JOIN e ON e.t >= w.ws AND e.t <= w.we
               GROUP BY w.ws, w.we, e.user_id),
         r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY ws, we
                                            ORDER BY n DESC, u ASC) AS rk
               FROM c)
    SELECT ws AS window_start, we AS window_end, u, n
    FROM r WHERE rk <= 3"""


def q_comparator_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9 STREAMING stateful comparator under the EXACT gate: a
    deterministic two-key fixture flows through a real
    applyInPandasWithState run in three micro-batches (state crosses
    every boundary) and each per-update row — last-10 means, slopes and
    the triggered anomaly kinds — hash-matches a DuckDB window-function
    reconstruction of comparator.rs:157-236.  Integer-valued fixture
    keeps every threshold comparison away from float boundaries.
    sf_dir is unused: the fixture IS the stream."""
    import shutil
    import tempfile
    import uuid

    from janus_spark.streaming.stateful import streaming_comparator

    fixture = spark.range(0, 20).selectExpr(
        "CAST(id AS DOUBLE) AS ts",
        "CAST(id AS DOUBLE) AS live_a",
        "CAST(19 - id AS DOUBLE) AS hist_a",
        "CAST((id * 3) % 7 AS DOUBLE) AS live_b",
        "CAST(3 + id % 5 AS DOUBLE) AS hist_b",
    )
    rows = fixture.selectExpr("'a' AS key", "ts", "live_a AS live", "hist_a AS hist").unionByName(
        fixture.selectExpr("'b' AS key", "ts", "live_b AS live", "hist_b AS hist")
    )
    root = tempfile.mkdtemp(prefix="cmp_stream_")
    try:
        for i, (lo, hi) in enumerate(((0, 7), (7, 14), (14, 20))):
            rows.where(f"ts >= {lo} AND ts < {hi}").coalesce(1).write.parquet(f"{root}/b{i}.parquet")
        stream = (
            spark.readStream.schema("key string, ts double, live double, hist double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/b*.parquet")
        )
        out = streaming_comparator(stream)
        name = f"cmp_stream_{uuid.uuid4().hex[:8]}"
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{root}/ck")
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q, 300)
        res = spark.table(name)
        # +0.0 canonicalizes IEEE negative zero (round(-1e-16, 6) -> -0.0,
        # which reprs differently from 0.0 in the value hash)
        return res.select(
            "key", "ts",
            (F.round("live_mean", 6) + F.lit(0.0)).alias("live_mean"),
            (F.round("hist_mean", 6) + F.lit(0.0)).alias("hist_mean"),
            (F.round("live_slope", 6) + F.lit(0.0)).alias("live_slope"),
            (F.round("hist_slope", 6) + F.lit(0.0)).alias("hist_slope"),
            F.concat_ws(",", F.sort_array("anomalies")).alias("anomalies"),
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


QUERIES["q_comparator_stream"] = q_comparator_stream
ORACLES["q_comparator_stream"] = """
    WITH t AS (SELECT unnest(generate_series(0, 19)) AS t),
         f AS (
           SELECT 'a' AS key, CAST(t AS DOUBLE) AS ts,
                  CAST(t AS DOUBLE) AS live, CAST(19 - t AS DOUBLE) AS hist FROM t
           UNION ALL
           SELECT 'b', CAST(t AS DOUBLE),
                  CAST((t * 3) % 7 AS DOUBLE), CAST(3 + t % 5 AS DOUBLE) FROM t),
         s AS (SELECT key, ts, live,
                      AVG(live) OVER w AS lm, AVG(hist) OVER w AS hm,
                      COALESCE(REGR_SLOPE(live, ts) OVER w, 0.0) AS ls,
                      COALESCE(REGR_SLOPE(hist, ts) OVER w, 0.0) AS hs,
                      COALESCE(STDDEV_POP(live) OVER w, 0.0) AS lsd,
                      COALESCE(STDDEV_POP(hist) OVER w, 0.0) AS hsd
               FROM f
               WINDOW w AS (PARTITION BY key ORDER BY ts
                            ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
    SELECT key, ts,
           ROUND(lm, 6) + 0.0 AS live_mean, ROUND(hm, 6) + 0.0 AS hist_mean,
           ROUND(ls, 6) + 0.0 AS live_slope, ROUND(hs, 6) + 0.0 AS hist_slope,
           array_to_string(list_sort(list_filter([
             CASE WHEN ABS(lm - hm) > 1.0 THEN 'AbsoluteThresholdExceeded' END,
             CASE WHEN ABS(hm) > 2.220446049250313e-16 AND (lm - hm) / hm > 0.1
                  THEN 'RelativeDropDetected' END,
             CASE WHEN hm - lm > 2.0 THEN 'CatchUpTriggered' END,
             CASE WHEN ls * hs < 0 AND ABS(ls) > 0.01 AND ABS(hs) > 0.01
                  THEN 'TrendDivergence' END,
             CASE WHEN lsd > hsd + 0.5 THEN 'VolatilityIncrease' END,
             CASE WHEN hsd > 2.220446049250313e-16 AND ABS((live - hm) / hsd) > 3.0
                  THEN 'LiveOutlierDetected' END
           ], x -> x IS NOT NULL)), ',') AS anomalies
    FROM s"""


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling: every-30th-frame indices per media
    item after (stubbed) decode — the video counterpart of image
    resize.  Oracle-EXACT: the fake decoder's frame counts are
    md5-derived, so DuckDB reproduces the explode."""
    from janus_spark.datapipe.multimodal import (
        decode_media,
        documents_as_media,
        frame_sample,
    )

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    decoded = decode_media(documents_as_media(docs), fake=True)
    out = frame_sample(decoded, every_n=30)
    return out.select("media_id", F.col("frame_index").cast("long").alias("frame_index"))


QUERIES["q_frame_sample"] = q_frame_sample
ORACLES["q_frame_sample"] = f"""
    WITH m AS (SELECT doc_id AS media_id, doc_id % 3 AS mt, {_MM_H} AS hv
               FROM documents)
    SELECT media_id,
           CAST(unnest(generate_series(0, CAST(1 + hv % 300 AS BIGINT) - 1, 30)) AS BIGINT) AS frame_index
    FROM m WHERE mt = 2"""


def q_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact Jaccard join (PPJoin lemma): same answer as
    q_jaccard_pairs — the oracle is literally the same SQL — from a
    candidate join over only each doc's rarest ~(1−t)·|A| shingles."""
    from janus_spark.datapipe.dedup import jaccard_prefix_join

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    return jaccard_prefix_join(docs, shingle_k=3, threshold=0.5)


QUERIES["q_jaccard_prefix"] = q_jaccard_prefix
ORACLES["q_jaccard_prefix"] = ORACLES["q_jaccard_pairs"]


def q_sliding_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate sliding distinct users via pane HLL sketches — the
    scale form of q_sliding_distinct (same 6h/1h geometry), over the
    deterministic md5-family HLL so the pane→window sketch merge AND the
    estimate are oracle-EXACT in DuckDB (the Datasketches pane variant
    pane_sliding_distinct keeps its error-contract test in
    test_timeseries.py)."""
    from janus_spark.operators.timeseries import pane_sliding_distinct_det
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("user_id"),
        F.lit(1).alias("corpus"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )
    out = pane_sliding_distinct_det(
        ev, ["corpus"], ts_col="ts_ms", value_col="user_id",
        range_ms=_PANE_RANGE_MS, step_ms=_PANE_STEP_MS,
    )
    return out.select("window_start", "approx_distinct")


QUERIES["q_sliding_hll_distinct"] = q_sliding_hll_distinct
from janus_spark.functions.sketches import hll_det_oracle_sql as _hll_det_oracle_sql

_SLH_PANES = _PANE_RANGE_MS // _PANE_STEP_MS
ORACLES["q_sliding_hll_distinct"] = (
    f"SELECT grp * {_PANE_STEP_MS} AS window_start, approx_distinct FROM ("
    + _hll_det_oracle_sql(
        "user_id",
        "w",
        f"""(
      SELECT user_id, unnest(generate_series(pane - {_SLH_PANES - 1}, pane)) AS w
      FROM (SELECT CAST(user_id AS VARCHAR) AS user_id,
                   CAST(FLOOR({_TSM} / {_PANE_STEP_MS}) AS BIGINT) AS pane
            FROM events)
    )""",
    )
    + ")"
)


def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level dedup: maximal cross-document duplicated passages as
    merged 5-token shingle spans (the distributed form of Lee et al.'s
    exact substring dedup; see duplicate_passages)."""
    from janus_spark.datapipe.dedup import duplicate_passages

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    out = duplicate_passages(docs, k=5)
    return out.select(
        "id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("n_shingles").cast("long").alias("n_shingles"),
    )


QUERIES["q_passage_dedup"] = q_passage_dedup
ORACLES["q_passage_dedup"] = r"""
    WITH t AS (SELECT doc_id,
                      list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                  x -> x <> '') AS l
               FROM documents),
         g AS (SELECT doc_id, unnest(range(1, len(l) - 5 + 2)) AS pos, l
               FROM t WHERE len(l) >= 5),
         h AS (SELECT doc_id, pos,
                      md5(array_to_string(l[pos:pos+4], ' ')) AS gh
               FROM g),
         d AS (SELECT gh FROM h GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2),
         m AS (SELECT h.doc_id, h.pos FROM h JOIN d USING (gh)),
         i AS (SELECT doc_id, pos,
                      CASE WHEN LAG(pos) OVER w IS NULL
                                OR pos - LAG(pos) OVER w > 5 THEN 1 ELSE 0 END AS ns
               FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         s AS (SELECT *, SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos
                                       ROWS UNBOUNDED PRECEDING) AS island
               FROM i)
    SELECT doc_id AS id, MIN(pos) AS span_start, MAX(pos) + 4 AS span_end,
           COUNT(*) AS n_shingles
    FROM s GROUP BY doc_id, island"""


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the part co-purchase graph (parts linked
    when they appear in the same order) — degree-ordered wedge
    enumeration, each triangle counted once at its minimum-order vertex
    (see operators/graph.py::triangle_count)."""
    from janus_spark.operators.graph import triangle_count

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    lp = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")).distinct()
    edges = (
        lp.alias("x")
        .join(lp.alias("y"), "o")
        .where(F.col("x.p") < F.col("y.p"))
        .select(F.col("x.p").alias("src"), F.col("y.p").alias("dst"))
    )
    out = triangle_count(edges)
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("n_triangles").cast("long").alias("n_triangles"),
    )


QUERIES["q_triangle_count"] = q_triangle_count
ORACLES["q_triangle_count"] = """
    WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         e AS (SELECT DISTINCT x.p AS a, y.p AS b
               FROM lp x JOIN lp y ON x.o = y.o AND x.p < y.p),
         t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
               FROM e e1
               JOIN e e2 ON e1.b = e2.a
               JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         r AS (SELECT x AS id FROM t
               UNION ALL SELECT y FROM t
               UNION ALL SELECT z FROM t)
    SELECT id, COUNT(*) AS n_triangles FROM r GROUP BY id"""


def q_tpch_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue per nation from orders where the customer
    and the line's supplier are in the SAME nation, one region, one year.
    Plan: region→nation→customer/supplier are all broadcast dims; the one
    real shuffle is lineitem⋈orders on orderkey; the colocation condition
    (c_nationkey = s_nationkey) is applied as a post-broadcast filter, so
    no extra shuffle appears."""
    rg = spark.read.parquet(f"{sf_dir}/region.parquet").where(F.col("r_name") == "ASIA")
    na = spark.read.parquet(f"{sf_dir}/nation.parquet")
    cu = _read_wide(spark, f"{sf_dir}/customer.parquet")
    su = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    od = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    asia_nations = na.join(F.broadcast(rg), na.n_regionkey == rg.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    cust = cu.join(
        F.broadcast(asia_nations), cu.c_nationkey == F.col("n_nationkey")
    ).select("c_custkey", F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("nation"))
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(cust), od.o_custkey == cust.c_custkey)
        .join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .where(F.col("s_nationkey") == F.col("c_nk"))
        .groupBy("nation")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.count("*").cast("long").alias("n_lines"),
        )
    )


QUERIES["q_tpch_local_supplier"] = q_tpch_local_supplier
ORACLES["q_tpch_local_supplier"] = """
    SELECT n.n_name AS nation,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND s.s_nationkey = c.c_nationkey
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name"""


def q_tpch_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from lines of one brand whose quantity is
    below 20%% of that part's average quantity (the correlated scalar
    subquery rewritten as an aggregate + broadcast join — the only
    distributed form; Catalyst cannot decorrelate a per-row rescan).
    The per-part averages are computed once over the brand-filtered part
    set, so the agg input is pre-pruned by the broadcast semi join."""
    pa = _read_wide(spark, f"{sf_dir}/part.parquet").where(F.col("p_brand") == "Brand#23")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    brand_lines = li.join(F.broadcast(pa.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
    avgq = brand_lines.groupBy("p_partkey").agg((F.avg("l_quantity") * 0.2).alias("qcut"))
    return (
        brand_lines.join(F.broadcast(avgq), "p_partkey")
        .where(F.col("l_quantity") < F.col("qcut"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"),
            F.count("*").cast("long").alias("n_lines"),
        )
    )


QUERIES["q_tpch_small_quantity"] = q_tpch_small_quantity
ORACLES["q_tpch_small_quantity"] = """
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 4) AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand = 'Brand#23'
      AND l.l_quantity < (
            SELECT 0.2 * AVG(l2.l_quantity)
            FROM lineitem l2
            WHERE l2.l_partkey = l.l_partkey)"""


def q_live_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream event-time interval join under the EXACT gate: a
    deterministic arithmetic fixture (clicks every 700 ms, purchases
    every 1100 ms, users mod 5) flows through a REAL Structured
    Streaming run — two file-source streams, watermarks on both sides,
    equi-join on user with a [0, +3 s] event-time range bound — and the
    emitted matches hash-match DuckDB's inequality join over the same
    arithmetic ranges.  State is evicted by the range bound, so the
    buffered footprint is O(rate x 3 s) regardless of stream length.
    The fixture starts at t=10 s, not epoch 0: a row whose event time
    equals the initial watermark (0) is discarded as late by the
    late-row filter — boundary pinned here so nobody "simplifies" the
    base away.  sf_dir is unused: the fixture IS the stream."""
    import shutil
    import tempfile
    import uuid

    from janus_spark.streaming.joins import interval_join_stream

    root = tempfile.mkdtemp(prefix="live_ij_")
    try:
        clicks = spark.range(0, 40).select(
            F.col("id").alias("click_id"),
            (F.col("id") % 5).alias("user_id"),
            F.timestamp_millis(F.col("id") * 700 + 10_000).alias("cts"),
        )
        buys = spark.range(0, 30).select(
            F.col("id").alias("buy_id"),
            (F.col("id") % 5).alias("user_id"),
            F.timestamp_millis(F.col("id") * 1100 + 10_000).alias("bts"),
            (F.col("id") * 10).cast("double").alias("amount"),
        )
        # split each side into two files so the join spans micro-batches
        clicks.where("click_id < 20").coalesce(1).write.parquet(f"{root}/c/f1.parquet")
        clicks.where("click_id >= 20").coalesce(1).write.parquet(f"{root}/c/f2.parquet")
        buys.where("buy_id < 15").coalesce(1).write.parquet(f"{root}/b/f1.parquet")
        buys.where("buy_id >= 15").coalesce(1).write.parquet(f"{root}/b/f2.parquet")
        cs = (
            spark.readStream.schema(clicks.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/c/*.parquet")
        )
        bs = (
            spark.readStream.schema(buys.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/b/*.parquet")
        )
        out = interval_join_stream(
            cs, bs, ["user_id"], "cts", "bts", lower_ms=0, upper_ms=3000
        )
        name = f"live_ij_{uuid.uuid4().hex[:8]}"
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", f"{root}/ck")
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q, 300)
        return spark.table(name).select(
            "click_id",
            "buy_id",
            "user_id",
            F.unix_millis("cts").alias("cts_ms"),
            F.unix_millis("bts").alias("bts_ms"),
            "amount",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


QUERIES["q_live_interval_join"] = q_live_interval_join
ORACLES["q_live_interval_join"] = """
    WITH c AS (SELECT i AS click_id, i % 5 AS user_id, i * 700 + 10000 AS cts_ms
               FROM range(0, 40) t(i)),
         b AS (SELECT i AS buy_id, i % 5 AS user_id, i * 1100 + 10000 AS bts_ms,
                      CAST(i * 10 AS DOUBLE) AS amount
               FROM range(0, 30) t(i))
    SELECT c.click_id, b.buy_id, c.user_id, c.cts_ms, b.bts_ms, b.amount
    FROM c JOIN b ON c.user_id = b.user_id
               AND b.bts_ms >= c.cts_ms AND b.bts_ms <= c.cts_ms + 3000"""


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity intervals: each user's event_type history collapsed
    to state-change rows with [valid_from, valid_to) bounds
    (operators/timeseries.py::scd2_intervals).  event_id breaks
    same-timestamp ties so the history is deterministic."""
    from janus_spark.operators.timeseries import scd2_intervals
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir).select(
        "user_id", "event_id", "event_type",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )
    out = scd2_intervals(ev, ["user_id"], "event_type", "ts_ms", tie_cols=["event_id"])
    return out.select("user_id", "state", "valid_from", "valid_to")


QUERIES["q_scd2_history"] = q_scd2_history
ORACLES["q_scd2_history"] = f"""
    WITH e AS (SELECT user_id, event_id, event_type, {_TSM} AS ts_ms FROM events),
         m AS (SELECT *, LAG(event_type) OVER w AS prev
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)),
         c AS (SELECT * FROM m WHERE prev IS NULL OR event_type <> prev)
    SELECT user_id, event_type AS state, ts_ms AS valid_from,
           LEAD(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) AS valid_to
    FROM c"""


def q_dedup_cross_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus near-dup join (new crawl vs training set),
    oracle-EXACT via the shared md5 hash family: even-id docs with a
    crawl marker appended must LSH-match their originals in the
    reference set without any crawl x crawl or ref x ref candidates."""
    from janus_spark.datapipe.dedup import minhash_lsh_join

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    reference = docs.where("doc_id < 150")
    crawl = docs.where("doc_id < 200 AND doc_id % 2 = 0").select(
        (F.col("doc_id") + 5000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" crawl tail")).alias("text"),
    )
    out = minhash_lsh_join(crawl, reference, jaccard_threshold=0.5, hash_fn="md5")
    return out.select("corpus_id", "ref_id", F.round("jaccard", 6).alias("jaccard"))


def _minhash_join_oracle(num_perm: int = 16, bands: int = 4, threshold: float = 0.5) -> str:
    rows = num_perm // bands
    mins = ",\n                 ".join(
        f"MIN({_h60_sql('gram', i)}) AS m{i}" for i in range(num_perm)
    )
    band_rows = "\n      UNION ALL ".join(
        "SELECT doc_id, side, {b} AS band, {key} AS bh FROM sig".format(
            b=b,
            key=" || ',' || ".join(
                f"CAST(m{b * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    return rf"""
    WITH corpus AS (
           SELECT doc_id, text, 'ref' AS side FROM documents WHERE doc_id < 150
           UNION ALL
           SELECT doc_id + 5000000, text || ' crawl tail', 'crawl'
           FROM documents WHERE doc_id < 200 AND doc_id % 2 = 0),
         t AS (SELECT doc_id, side,
                      string_split_regex(trim(lower(text)), '\s+') AS l
               FROM corpus),
         s AS (SELECT doc_id, side,
                      CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
                           ELSE list_distinct(list_transform(range(1, len(l) - 1),
                                              i -> array_to_string(l[i:i+2], ' ')))
                      END AS sh FROM t),
         g AS (SELECT doc_id, side, unnest(sh) AS gram FROM s),
         sig AS (SELECT doc_id, side,
                 {mins}
                 FROM g GROUP BY doc_id, side),
         bands AS ({band_rows}),
         cand AS (SELECT DISTINCT l.doc_id AS corpus_id, r.doc_id AS ref_id
                  FROM bands l JOIN bands r USING (band, bh)
                  WHERE l.side = 'crawl' AND r.side = 'ref'),
         j AS (SELECT c.corpus_id, c.ref_id,
                      len(list_intersect(sa.sh, sb.sh)) AS inter,
                      len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS un
               FROM cand c
               JOIN s sa ON sa.doc_id = c.corpus_id AND sa.side = 'crawl'
               JOIN s sb ON sb.doc_id = c.ref_id AND sb.side = 'ref')
    SELECT corpus_id, ref_id,
           ROUND(CASE WHEN un > 0 THEN inter / CAST(un AS DOUBLE) ELSE 0.0 END, 6) AS jaccard
    FROM j
    WHERE (CASE WHEN un > 0 THEN inter / CAST(un AS DOUBLE) ELSE 0.0 END) >= {threshold}"""


QUERIES["q_dedup_cross_corpus"] = q_dedup_cross_corpus
ORACLES["q_dedup_cross_corpus"] = _minhash_join_oracle()


def q_window_path_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition gate: property-path transitive closure INSIDE a
    historical fixed window — the window's ts slice bounds which tree
    edges exist (edge ts = doc id), then `parent+` closes over only
    those.  Exercises the engine path window-slice → compiler → bounded
    semi-naive iteration end-to-end."""
    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    edges = docs.where("doc_id >= 1").select(
        F.col("doc_id").alias("ts"),
        F.concat(F.lit("urn:doc:"), F.col("doc_id").cast("string")).alias("subject"),
        F.lit("urn:tree:parent").alias("predicate"),
        F.concat(F.lit("urn:doc:"), (F.col("doc_id") / 2).cast("long").cast("string")).alias("object"),
        F.lit("g").alias("graph"),
    )
    text = """
    REGISTER RStream <out> AS
    SELECT ?d ?a
    FROM NAMED WINDOW <urn:w:h> ON LOG <urn:stream:e> [START 1 END 400]
    WHERE { WINDOW <urn:w:h> { ?d <urn:tree:parent>+ ?a . } }
    """
    eng = JanusEngine(spark, edges, path_max_hops=16)
    qid = eng.register_query(text, query_id="q_window_path_closure")
    res = eng.start_historical(qid)["urn:w:h"]
    return res.select("d", "a")


QUERIES["q_window_path_closure"] = q_window_path_closure
ORACLES["q_window_path_closure"] = """
    WITH RECURSIVE e AS (
        SELECT 'urn:doc:' || CAST(doc_id AS VARCHAR) AS c,
               'urn:doc:' || CAST(doc_id // 2 AS VARCHAR) AS p
        FROM documents WHERE doc_id BETWEEN 1 AND 400),
    r AS (
        SELECT c, p FROM e
        UNION
        SELECT r.c, e.p FROM r JOIN e ON r.p = e.c)
    SELECT c AS d, p AS a FROM r"""


def q_pack_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-stream packing offsets for training shards (deterministic
    hash shuffle, 512-token sequences, 4 shards) — see
    datapipe/text.py::pack_token_stream."""
    from janus_spark.datapipe.text import pack_token_stream

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    out = pack_token_stream(docs, budget_tokens=512, n_shards=4)
    return out.select(
        "id",
        F.col("shard").cast("long").alias("shard"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("start_offset").cast("long").alias("start_offset"),
        F.col("end_offset").cast("long").alias("end_offset"),
        F.col("seq_id").cast("long").alias("seq_id"),
        "straddles",
    )


QUERIES["q_pack_tokens"] = q_pack_tokens
def _pack_ctes(
    base: str = "documents", p: str = "", budget: int = 512, n_shards: int = 4
) -> str:
    """Token-packing layout as a CTE chain ending in ``{p}packed`` —
    shared by q_pack_tokens' oracle and composed oracles."""
    return f"""
    {p}b AS (SELECT doc_id AS id,
                      len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                      x -> x <> '')) AS n_tokens,
                      md5(CAST(doc_id AS VARCHAR)) AS hk,
                      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % {n_shards} AS shard
               FROM {base}),
    {p}o AS (SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY hk
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                          AS start_offset
               FROM {p}b),
    {p}packed AS (SELECT id, shard, n_tokens, start_offset,
           start_offset + n_tokens AS end_offset,
           start_offset // {budget} AS seq_id,
           (start_offset + n_tokens > (start_offset // {budget} + 1) * {budget}
            AND n_tokens > 0) AS straddles
    FROM {p}o)"""


ORACLES["q_pack_tokens"] = f"""
    WITH {_pack_ctes()}
    SELECT id, shard, n_tokens, start_offset, end_offset, seq_id, straddles
    FROM packed"""


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment self-join — subset-duplicate detection
    (short doc quoted inside a long one) that symmetric Jaccard misses;
    see datapipe/dedup.py::containment_join."""
    from janus_spark.datapipe.dedup import containment_join

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    return containment_join(docs, shingle_k=3, threshold=0.8)


QUERIES["q_containment_pairs"] = q_containment_pairs
# Same exact-duplicate collapse as the jaccard oracle; containment is
# directional, so the expanded values swap sides when the member ids
# invert the representatives' (a < b) orientation.
ORACLES["q_containment_pairs"] = r"""
    WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l
               FROM documents),
         s AS (SELECT doc_id,
                      CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
                           ELSE list_distinct(list_transform(range(1, len(l) - 1),
                                              i -> array_to_string(l[i:i+2], ' ')))
                      END AS sh FROM t),
         k AS MATERIALIZED (SELECT doc_id, sh,
                      md5(array_to_string(list_sort(sh), chr(1))) AS gk FROM s),
         reps AS (SELECT gk, MIN(doc_id) AS rid FROM k GROUP BY gk),
         rs AS MATERIALIZED (SELECT r.gk, k.sh FROM reps r
                             JOIN k ON k.doc_id = r.rid),
         g AS (SELECT gk, len(sh) AS n, unnest(sh) AS gram FROM rs),
         p AS (SELECT l.gk AS gka, r.gk AS gkb, l.n AS na, r.n AS nb,
                      COUNT(*) AS inter
               FROM g l JOIN g r USING (gram) WHERE l.gk < r.gk
               GROUP BY 1, 2, 3, 4),
         rp AS (SELECT gka, gkb, inter / na AS cab, inter / nb AS cba
                FROM p WHERE GREATEST(inter / na, inter / nb) >= 0.8),
         crossg AS (SELECT LEAST(ka.doc_id, kb.doc_id) AS a,
                           GREATEST(ka.doc_id, kb.doc_id) AS b,
                           CASE WHEN ka.doc_id < kb.doc_id THEN cab ELSE cba END AS cab,
                           CASE WHEN ka.doc_id < kb.doc_id THEN cba ELSE cab END AS cba
                    FROM rp JOIN k ka ON ka.gk = rp.gka
                            JOIN k kb ON kb.gk = rp.gkb),
         within AS (SELECT l.doc_id AS a, r.doc_id AS b, 1.0 AS cab, 1.0 AS cba
                    FROM k l JOIN k r USING (gk)
                    WHERE l.doc_id < r.doc_id AND len(l.sh) > 0)
    SELECT a, b, ROUND(cab, 9) AS containment_a_in_b,
           ROUND(cba, 9) AS containment_b_in_a
    FROM (SELECT * FROM crossg UNION ALL SELECT * FROM within)"""


_MIX_BUDGET = 200


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (alpha=0.5) domain re-balancing of the corpus to a
    ~200-doc budget — deterministic md5 draw, per-source share ∝
    sqrt(n_s); see datapipe/sampling.py::temperature_mix."""
    from janus_spark.datapipe.sampling import temperature_mix

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    out = temperature_mix(docs, budget=_MIX_BUDGET, alpha=0.5)
    return out.select("doc_id", "source", F.col("n_chars").cast("long").alias("n_chars"))


QUERIES["q_temperature_mix"] = q_temperature_mix
ORACLES["q_temperature_mix"] = f"""
    WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
         z AS (SELECT SUM(sqrt(n)) AS z FROM c),
         r AS (SELECT source,
                      LEAST(1.0, ROUND({_MIX_BUDGET}.0 * sqrt(n) / (SELECT z FROM z) / n, 9))
                          AS rate FROM c)
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d JOIN r USING (source)
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8))::BIGINT
          < CAST(FLOOR(rate * 4294967296.0) AS BIGINT)"""


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM score per document (perplexity-style
    quality filtering); see datapipe/text.py::bigram_logprob."""
    from janus_spark.datapipe.text import bigram_logprob

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    return bigram_logprob(docs, lam=0.75)


QUERIES["q_bigram_logprob"] = q_bigram_logprob
ORACLES["q_bigram_logprob"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS l FROM documents),
         occ AS (SELECT doc_id, l[i] AS prev, l[i + 1] AS cur
                 FROM t, unnest(range(1, len(l))) AS u(i)),
         uni AS (SELECT w, COUNT(*) AS uc
                 FROM (SELECT unnest(l) AS w FROM t) GROUP BY w),
         tot AS (SELECT SUM(uc) AS tn FROM uni),
         bg AS (SELECT prev, cur, COUNT(*) AS bc FROM occ GROUP BY prev, cur)
    SELECT o.doc_id, COUNT(*) AS n_bigrams,
           ROUND(AVG(ln(0.75 * bc / pu.uc
                        + 0.25 * cu.uc / (SELECT tn FROM tot))), 6) AS avg_logprob
    FROM occ o
    JOIN bg USING (prev, cur)
    JOIN uni pu ON pu.w = o.prev
    JOIN uni cu ON cu.w = o.cur
    GROUP BY o.doc_id"""


def q_interp_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularize an irregular series by linear interpolation onto a
    6-hour grid per user (both brackets found in ONE union+window pass);
    see operators/timeseries.py::interp_resample."""
    from janus_spark.operators.timeseries import interp_resample
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir).select(
        "user_id", "event_id", "value",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )
    latest = (
        ev.groupBy("user_id", "ts_ms")
        .agg(F.max(F.struct("event_id", "value"))["value"].alias("value"))
    )
    return interp_resample(
        latest, ["user_id"], ts_col="ts_ms", value_col="value", step_ms=_LOCF_SLOT_MS
    )


QUERIES["q_interp_resample"] = q_interp_resample
ORACLES["q_interp_resample"] = f"""
    WITH e AS (SELECT user_id, event_id, value, {_TSM} AS ts_ms FROM events),
         latest AS (SELECT user_id, ts_ms, arg_max(value, event_id) AS value
                    FROM e GROUP BY user_id, ts_ms),
         b AS (SELECT user_id, MIN(ts_ms) AS mn, MAX(ts_ms) AS mx
               FROM e GROUP BY user_id),
         grid AS (SELECT user_id,
                         unnest(generate_series((mn + {_LOCF_SLOT_MS - 1}) // {_LOCF_SLOT_MS},
                                                mx // {_LOCF_SLOT_MS})) * {_LOCF_SLOT_MS} AS ts_ms
                  FROM b),
         p AS (SELECT g.user_id, g.ts_ms, l.ts_ms AS pt, l.value AS pv
               FROM grid g ASOF JOIN latest l
                 ON g.user_id = l.user_id AND g.ts_ms >= l.ts_ms),
         n AS (SELECT g.user_id, g.ts_ms, l.ts_ms AS nt, l.value AS nv
               FROM grid g ASOF JOIN latest l
                 ON g.user_id = l.user_id AND g.ts_ms <= l.ts_ms)
    SELECT p.user_id, p.ts_ms,
           ROUND(CASE WHEN n.nt > p.pt
                      THEN p.pv + (n.nv - p.pv) * (p.ts_ms - p.pt) / (n.nt - p.pt)
                      ELSE p.pv END, 6) AS value_interp
    FROM p JOIN n ON p.user_id = n.user_id AND p.ts_ms = n.ts_ms"""


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-k by ADC (m=4 subspaces x 16 codes,
    md5-coreset codebooks — RNG-free, so the encode and the ADC ranking
    are SQL-reproducible and the gate is oracle-EXACT; exact-cosine
    re-ranking is covered by recall tests).  See
    datapipe/similarity.py::pq_topk."""
    from janus_spark.datapipe.similarity import pq_topk

    embs = _read_wide(spark, f"{sf_dir}/embeddings.parquet")
    queries = embs.where("vec_id < 5")
    out = pq_topk(embs, queries, k=10, m=4, k_codes=16)
    return out.select(
        "query_id", "vec_id", F.col("rank").cast("long").alias("rank"),
        F.round("sim", 6).alias("sim"),
    )


QUERIES["q_ann_pq"] = q_ann_pq
ORACLES["q_ann_pq"] = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         cb AS (SELECT v AS cv, code FROM (
                  SELECT v, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code
                  FROM e) WHERE code < 16),
         enc AS (SELECT vec_id, j, code FROM (
                  SELECT e.vec_id, s.j, c.code,
                         ROW_NUMBER() OVER (PARTITION BY e.vec_id, s.j
                             ORDER BY list_sum(list_transform(range(1, 17),
                                         i -> (e.v[s.j * 16 + i] - c.cv[s.j * 16 + i])
                                            * (e.v[s.j * 16 + i] - c.cv[s.j * 16 + i]))) ASC,
                                      c.code ASC) AS rnk
                  FROM e, range(0, 4) s(j) CROSS JOIN cb c) WHERE rnk = 1),
         codes AS (SELECT vec_id,
                          MAX(CASE WHEN j = 0 THEN code END) AS c0,
                          MAX(CASE WHEN j = 1 THEN code END) AS c1,
                          MAX(CASE WHEN j = 2 THEN code END) AS c2,
                          MAX(CASE WHEN j = 3 THEN code END) AS c3
                   FROM enc GROUP BY vec_id),
         adc AS (SELECT q.vec_id AS query_id, t.vec_id,
                        list_sum(list_transform(range(1, 17), i -> q.v[i] * b0.cv[i]))
                      + list_sum(list_transform(range(1, 17), i -> q.v[16 + i] * b1.cv[16 + i]))
                      + list_sum(list_transform(range(1, 17), i -> q.v[32 + i] * b2.cv[32 + i]))
                      + list_sum(list_transform(range(1, 17), i -> q.v[48 + i] * b3.cv[48 + i]))
                            AS sim
                 FROM (SELECT vec_id, v FROM e WHERE vec_id < 5) q
                 CROSS JOIN codes t
                 JOIN cb b0 ON b0.code = t.c0
                 JOIN cb b1 ON b1.code = t.c1
                 JOIN cb b2 ON b2.code = t.c2
                 JOIN cb b3 ON b3.code = t.c3
                 WHERE t.vec_id <> q.vec_id),
         ranked AS (SELECT query_id, vec_id, sim,
                           ROW_NUMBER() OVER (PARTITION BY query_id
                                              ORDER BY sim DESC, vec_id) AS rank
                    FROM adc)
    SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank, ROUND(sim, 6) AS sim
    FROM ranked WHERE rank <= 10"""


_EWMA_ALPHA = 0.2
_EWMA_LAGS = 8


def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-lag EWMA of event value per user (one window pass, no
    self-join); see operators/timeseries.py::ewma."""
    from janus_spark.operators.timeseries import ewma
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir).select(
        "user_id", "event_id", "value",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )
    out = ewma(
        ev, ["user_id"], ts_col="ts_ms", value_col="value",
        alpha=_EWMA_ALPHA, max_lag=_EWMA_LAGS, order_tiebreak="event_id",
    )
    return out.select("user_id", "event_id", "ts_ms", "ewma")


def _ewma_oracle() -> str:
    # the SAME Python-float weight literals the Spark plan bakes in, so
    # the two engines do identical double arithmetic
    ws = [(1.0 - _EWMA_ALPHA) ** l for l in range(_EWMA_LAGS)]
    case = "CASE a.rn - b.rn " + " ".join(
        f"WHEN {l} THEN {w!r}" for l, w in enumerate(ws)
    ) + " END"
    return f"""
    WITH e AS (SELECT user_id, event_id, value, {_TSM} AS ts_ms,
                      ROW_NUMBER() OVER (PARTITION BY user_id
                                         ORDER BY {_TSM}, event_id) AS rn
               FROM events),
         s AS (SELECT a.user_id, a.event_id, a.ts_ms,
                      SUM({case} * b.value) AS num,
                      SUM({case}) AS den
               FROM e a LEFT JOIN e b
                 ON b.user_id = a.user_id
                AND a.rn - b.rn BETWEEN 0 AND {_EWMA_LAGS - 1}
                AND b.value IS NOT NULL
               GROUP BY 1, 2, 3)
    SELECT user_id, event_id, ts_ms, ROUND(num / den, 6) AS ewma FROM s"""


QUERIES["q_ewma"] = q_ewma
ORACLES["q_ewma"] = _ewma_oracle()


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorization at exact [p05, p95] quantiles; see
    operators/timeseries.py::winsorize."""
    from janus_spark.operators.timeseries import winsorize
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir).select("event_id", "event_type", "value")
    out = winsorize(ev, ["event_type"], value_col="value", lower=0.05, upper=0.95)
    return out.select("event_id", "event_type", "value_winsorized", "clipped")


QUERIES["q_winsorize"] = q_winsorize
ORACLES["q_winsorize"] = """
    WITH b AS (SELECT event_type,
                      ROUND(quantile_cont(value, 0.05), 6) AS lo,
                      ROUND(quantile_cont(value, 0.95), 6) AS hi
               FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type,
           ROUND(CASE WHEN e.value IS NOT NULL
                      THEN LEAST(GREATEST(e.value, b.lo), b.hi) END, 6)
               AS value_winsorized,
           COALESCE(e.value < b.lo OR e.value > b.hi, FALSE) AS clipped
    FROM events e JOIN b USING (event_type)"""


_FUNNEL_WITHIN_MS = 7 * 24 * 3_600_000
_COHORT_PERIOD_MS = 7 * 24 * 3_600_000


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel (strictly increasing
    timestamps, 7-day completion window); see
    operators/analytics.py::funnel."""
    from janus_spark.operators.analytics import funnel
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir).select(
        "user_id", "event_type",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )
    return funnel(
        ev, ["view", "click", "purchase"], within_ms=_FUNNEL_WITHIN_MS
    )


QUERIES["q_funnel"] = q_funnel
ORACLES["q_funnel"] = f"""
    WITH e AS (SELECT user_id, {_TSM} AS t, event_type FROM events),
         s1 AS (SELECT user_id, MIN(t) AS t1 FROM e
                WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, MAX(s1.t1) AS t1, MIN(e.t) AS tk
                FROM e JOIN s1 USING (user_id)
                WHERE event_type = 'click' AND e.t > s1.t1
                  AND e.t <= s1.t1 + {_FUNNEL_WITHIN_MS}
                GROUP BY e.user_id),
         s3 AS (SELECT e.user_id
                FROM e JOIN s2 USING (user_id)
                WHERE event_type = 'purchase' AND e.t > s2.tk
                  AND e.t <= s2.t1 + {_FUNNEL_WITHIN_MS}
                GROUP BY e.user_id)
    SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
           CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_users
    UNION ALL
    SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
    UNION ALL
    SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (first-activity week × active-week
    offset); see operators/analytics.py::retention_cohorts."""
    from janus_spark.operators.analytics import retention_cohorts
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir).select(
        "user_id", F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms")
    )
    return retention_cohorts(ev, period_ms=_COHORT_PERIOD_MS)


QUERIES["q_retention_cohorts"] = q_retention_cohorts
ORACLES["q_retention_cohorts"] = f"""
    WITH e AS (SELECT user_id, {_TSM} AS t FROM events),
         f AS (SELECT user_id, MIN(t) // {_COHORT_PERIOD_MS} AS cohort
               FROM e GROUP BY user_id),
         a AS (SELECT DISTINCT user_id, t // {_COHORT_PERIOD_MS} AS p FROM e)
    SELECT f.cohort AS cohort_period,
           a.p - f.cohort AS period_offset,
           COUNT(*) AS n_active
    FROM a JOIN f USING (user_id)
    GROUP BY 1, 2"""


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier flags by median/MAD modified z-score
    (immune to the outliers inflating the threshold); see
    operators/analytics.py::mad_outliers."""
    from janus_spark.operators.analytics import mad_outliers
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir).select("event_id", "event_type", "value")
    out = mad_outliers(ev, ["event_type"], value_col="value", k=3.0)
    return out.select("event_id", "event_type", "robust_z", "is_outlier")


QUERIES["q_mad_outliers"] = q_mad_outliers
ORACLES["q_mad_outliers"] = """
    WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
                 FROM events GROUP BY event_type),
         mad AS (SELECT e.event_type,
                        quantile_cont(abs(e.value - m.med), 0.5) AS mad
                 FROM events e JOIN med m USING (event_type)
                 WHERE e.value IS NOT NULL GROUP BY e.event_type)
    SELECT e.event_id, e.event_type,
           ROUND(0.6745 * (e.value - m.med) / d.mad, 6) AS robust_z,
           COALESCE(ABS(ROUND(0.6745 * (e.value - m.med) / d.mad, 6)) > 3.0,
                    FALSE) AS is_outlier
    FROM events e JOIN med m USING (event_type) JOIN mad d USING (event_type)"""


def q_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc novelty: fraction of its shingles no lower-id doc has —
    marginal-contribution curation signal, O(postings) not O(docs²);
    see datapipe/text.py::novelty_scores."""
    from janus_spark.datapipe.text import novelty_scores

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    return novelty_scores(docs, shingle_k=3)


QUERIES["q_novelty"] = q_novelty
ORACLES["q_novelty"] = r"""
    WITH t AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS l
               FROM documents),
         s AS (SELECT doc_id,
                      CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
                           ELSE list_distinct(list_transform(range(1, len(l) - 1),
                                              i -> array_to_string(l[i:i+2], ' ')))
                      END AS sh FROM t),
         g AS (SELECT doc_id, unnest(sh) AS gram FROM s),
         o AS (SELECT gram, MIN(doc_id) AS first_id FROM g GROUP BY gram)
    SELECT g.doc_id, COUNT(*) AS n_shingles,
           ROUND(AVG(CASE WHEN o.first_id = g.doc_id THEN 1.0 ELSE 0.0 END), 6)
               AS novelty
    FROM g JOIN o USING (gram) GROUP BY g.doc_id"""


def q_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus clustering over the embedding column: every vector assigned
    to its nearest coreset centroid (map-only against literals, the IVF
    cell assignment reused as a clustering operator), with per-cluster
    size and mean within-cluster cosine — the corpus-structure summary a
    curation pipeline reads before balancing by cluster."""
    from janus_spark.datapipe.similarity import _cell_sims, ivf_train

    embs = _read_wide(spark, f"{sf_dir}/embeddings.parquet")
    centroids = ivf_train(embs, n_cells=16, iters=0)
    best = F.array_max(_cell_sims(F.col("embedding"), centroids))
    return (
        embs.select(best["cell"].alias("cluster"), best["sim"].alias("sim"))
        .groupBy("cluster")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.avg("sim"), 6).alias("avg_cosine"),
        )
        .select(F.col("cluster").cast("long").alias("cluster"), "n", "avg_cosine")
    )


QUERIES["q_embedding_clusters"] = q_embedding_clusters
ORACLES["q_embedding_clusters"] = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         ce AS (SELECT v AS cv, cell FROM (
                  SELECT v, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell
                  FROM e) WHERE cell < 16),
         asg AS (SELECT e.vec_id, c.cell,
                        COALESCE(list_cosine_similarity(e.v, c.cv), -2.0) AS sim,
                        ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                           ORDER BY COALESCE(list_cosine_similarity(e.v, c.cv), -2.0) DESC,
                                                    c.cell DESC) AS rnk
                 FROM e CROSS JOIN ce c)
    SELECT CAST(cell AS BIGINT) AS cluster, COUNT(*) AS n,
           ROUND(AVG(sim), 6) AS avg_cosine
    FROM asg WHERE rnk = 1 GROUP BY cell"""


def q_rank_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-family window functions per event type — percent_rank /
    cume_dist (tie-stable) and ntile over a total order (tie-broken by
    event_id so the quartile split is engine-deterministic)."""
    from pyspark.sql import Window
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir).select("event_id", "event_type", "value")
    # explicit null placement: Spark ASC defaults nulls-first, DuckDB
    # nulls-last — pin to nulls-first on both engines
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc_nulls_first(), "event_id"
    )
    return ev.select(
        "event_id",
        "event_type",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume_dist"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


QUERIES["q_rank_funcs"] = q_rank_funcs
ORACLES["q_rank_funcs"] = """
    SELECT event_id, event_type,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume_dist,
           NTILE(4) OVER w AS quartile
    FROM events
    WINDOW w AS (PARTITION BY event_type
                 ORDER BY value ASC NULLS FIRST, event_id)"""


def q_optional_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 corner pinned: FILTER INSIDE an OPTIONAL group scopes to that
    group — rows whose optional match fails the filter keep the solution
    with the optional vars UNBOUND (left-join ON-condition semantics,
    not post-filter; the classic SPARQL OPTIONAL/FILTER trap)."""
    q = """SELECT ?e ?t ?v ?u WHERE {
             ?e <urn:col:event_type> ?t .
             OPTIONAL { ?e <urn:col:value> ?v .
                        ?e <urn:col:user_id> ?u .
                        FILTER(?v > 100) }
           }"""
    df = _run(_events_quads(spark, sf_dir), q, _events_ptr(spark, sf_dir))
    return df.select(
        "e", "t",
        F.col("v").cast("double").alias("v"),
        F.col("u").cast("string").alias("u"),
    )


QUERIES["q_optional_filter"] = q_optional_filter
ORACLES["q_optional_filter"] = f"""
    SELECT {_EV} AS e, event_type AS t,
           CASE WHEN value > 100 THEN value END AS v,
           CASE WHEN value > 100 THEN CAST(user_id AS VARCHAR) END AS u
    FROM events WHERE event_type IS NOT NULL"""


def q_not_exists_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 negation via correlated NOT EXISTS: click events of users who
    never produced a high-severity (value > 195) error — compiles to a
    distinct-build anti join on the shared variable, no per-row
    subquery."""
    q = """SELECT ?e ?u WHERE {
             ?e <urn:col:event_type> "click" .
             ?e <urn:col:user_id> ?u .
             FILTER NOT EXISTS { ?e2 <urn:col:event_type> "error" .
                                 ?e2 <urn:col:user_id> ?u .
                                 ?e2 <urn:col:value> ?v2 .
                                 FILTER(?v2 > 195) }
           }"""
    df = _run(_events_quads(spark, sf_dir), q, _events_ptr(spark, sf_dir))
    return df.select("e", F.col("u").cast("string").alias("u"))


QUERIES["q_not_exists_anti"] = q_not_exists_anti
ORACLES["q_not_exists_anti"] = f"""
    SELECT {_EV} AS e, CAST(user_id AS VARCHAR) AS u
    FROM events c
    WHERE event_type = 'click'
      AND NOT EXISTS (SELECT 1 FROM events x
                      WHERE x.event_type = 'error'
                        AND x.user_id = c.user_id
                        AND x.value > 195)"""


_CUR_BUDGET = 150


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation composition under ONE oracle: exact dedup
    (normalized-fingerprint keepers) → repetition filter
    (uniq-token ratio ≥ 0.3) → temperature mix to a 150-doc budget →
    stable train/eval split.  Everything composes as one lazy plan — the
    gate pins that the operator outputs feed each other correctly, not
    just that each is right in isolation."""
    from janus_spark.datapipe.dedup import exact_dedup
    from janus_spark.datapipe.sampling import split_train_eval, temperature_mix
    from janus_spark.datapipe.text import repetition_features

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    keepers = exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    # stage boundaries are materialized, exactly as a production curation
    # run stages to parquet between steps — without this the dedup
    # fingerprint subtree re-evaluates under every downstream reference
    # (12 corpus scans in the fully-lazy composition)
    kept = docs.join(keepers, "doc_id").localCheckpoint(eager=True)
    rep = repetition_features(kept).where(F.col("uniq_token_ratio") >= 0.3)
    filtered = kept.join(rep.select("doc_id"), "doc_id").localCheckpoint(eager=True)
    mixed = temperature_mix(filtered, budget=_CUR_BUDGET, alpha=0.5)
    out = split_train_eval(mixed, eval_rate=0.1)
    return out.select("doc_id", "source", "split")


QUERIES["q_curation_pipeline"] = q_curation_pipeline
ORACLES["q_curation_pipeline"] = f"""
    WITH keep AS (SELECT MIN(doc_id) AS doc_id
                  FROM (SELECT doc_id, md5({_NORM_SQL}) AS key FROM documents)
                  GROUP BY key),
         kept AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
         toks AS (SELECT doc_id, source,
                         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                     x -> x <> '') AS l
                  FROM kept),
         rep AS (SELECT doc_id, source FROM toks
                 WHERE len(l) = 0
                    OR len(list_distinct(l)) / len(l) >= 0.3),
         c AS (SELECT source, COUNT(*) AS n FROM rep GROUP BY source),
         z AS (SELECT SUM(sqrt(n)) AS z FROM c),
         r AS (SELECT source,
                      LEAST(1.0, ROUND({_CUR_BUDGET}.0 * sqrt(n) / (SELECT z FROM z) / n, 9))
                          AS rate FROM c)
    SELECT p.doc_id, p.source,
           CASE WHEN substr(md5(CAST(p.doc_id AS VARCHAR) || ':split'), 1, 8)
                     < '{'{:08x}'.format(int(0.1 * 16**8))}'
                THEN 'eval' ELSE 'train' END AS split
    FROM rep p JOIN r USING (source)
    WHERE ('0x' || substr(md5(CAST(p.doc_id AS VARCHAR) || ':mix'), 1, 8))::BIGINT
          < CAST(FLOOR(rate * 4294967296.0) AS BIGINT)"""


_PPR_SEEDS = ("s1", "s2", "s3", "s4", "s5")


def q_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (teleport restricted to 5 seed suppliers)
    over the symmetric supplier–part graph — topic-focused proximity
    weighting; see operators/graph.py::pagerank(seeds=...)."""
    from janus_spark.operators.graph import pagerank

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sp = li.select(
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
    ).distinct()
    edges = sp.unionByName(sp.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    ranks = pagerank(edges, iterations=3, damping=0.85, seeds=list(_PPR_SEEDS))
    # scaled by 1000 so 6-decimal rounding keeps precision on small masses
    return ranks.select("id", F.round(F.col("rank") * 1000, 6).alias("rank_x_1000"))


def _ppr_oracle() -> str:
    seeds = "(" + ", ".join(f"'{s}'" for s in _PPR_SEEDS) + ")"
    ns = len(_PPR_SEEDS)
    step = """
        r{next} AS (
            SELECT n.id,
                   CASE WHEN n.id IN {seeds} THEN (1 - 0.85) / {ns} ELSE 0 END
                   + 0.85 * COALESCE(i.inflow, 0) AS rank
            FROM nodes n LEFT JOIN (
                SELECT e.dst AS id, SUM(r.rank / d.deg) AS inflow
                FROM edges e JOIN r{cur} r ON r.id = e.src
                JOIN deg d ON d.id = e.src
                GROUP BY e.dst) i USING (id))"""
    return (
        "WITH " + _PR_EDGES + ","
        + f"r0 AS (SELECT id, CASE WHEN id IN {seeds} THEN 1.0 / {ns} ELSE 0 END AS rank FROM nodes),"
        + ",".join(step.format(cur=i, next=i + 1, seeds=seeds, ns=ns) for i in range(3))
        + " SELECT id, ROUND(rank * 1000, 6) AS rank_x_1000 FROM r3"
    )


QUERIES["q_pagerank_personalized"] = q_pagerank_personalized
ORACLES["q_pagerank_personalized"] = _ppr_oracle()


def q_skew_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution diagnosis (hottest customer keys in orders) —
    the pre-flight check for join/groupBy shuffle planning; see
    operators/skew.py::skew_stats."""
    from janus_spark.operators.skew import skew_stats

    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return skew_stats(od, ["o_custkey"], top=10)


QUERIES["q_skew_stats"] = q_skew_stats
ORACLES["q_skew_stats"] = """
    WITH c AS (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey),
         t AS (SELECT SUM(n) AS total, COUNT(*) AS nkeys FROM c)
    SELECT o_custkey, n,
           ROUND(n / t.total, 6) AS share,
           ROUND(n * t.nkeys / t.total, 6) AS skew_factor,
           CAST(CEIL(n * t.nkeys / t.total) AS BIGINT) AS suggested_salt
    FROM c, t
    ORDER BY n DESC, o_custkey
    LIMIT 10"""


def q_ann_ivfadc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF routing + PQ codes composed (FAISS IVFADC shape): probe 4 of
    16 inverted lists, ADC-score only their m-byte codes — both scan
    reductions compose; see datapipe/similarity.py::ivfadc_topk."""
    from janus_spark.datapipe.similarity import ivfadc_topk

    embs = _read_wide(spark, f"{sf_dir}/embeddings.parquet")
    queries = embs.where("vec_id < 5")
    out = ivfadc_topk(embs, queries, k=10, n_cells=16, nprobe=4, m=4, k_codes=16)
    return out.select(
        "query_id", "vec_id", F.col("rank").cast("long").alias("rank"),
        F.round("sim", 6).alias("sim"),
    )


QUERIES["q_ann_ivfadc"] = q_ann_ivfadc
ORACLES["q_ann_ivfadc"] = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         ce AS (SELECT v AS cv, cell FROM (
                  SELECT v, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell
                  FROM e) WHERE cell < 16),
         asg AS (SELECT e.vec_id, e.v, c.cell,
                        ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                           ORDER BY COALESCE(list_cosine_similarity(e.v, c.cv), -2.0) DESC,
                                                    c.cell DESC) AS rnk
                 FROM e CROSS JOIN ce c),
         corpus AS (SELECT vec_id, v, cell FROM asg WHERE rnk = 1),
         probe AS (SELECT vec_id AS query_id, v AS qv, cell
                   FROM asg WHERE vec_id < 5 AND rnk <= 4),
         enc AS (SELECT vec_id, j, code FROM (
                  SELECT e.vec_id, s.j, c.cell AS code,
                         ROW_NUMBER() OVER (PARTITION BY e.vec_id, s.j
                             ORDER BY list_sum(list_transform(range(1, 17),
                                         i -> (e.v[s.j * 16 + i] - c.cv[s.j * 16 + i])
                                            * (e.v[s.j * 16 + i] - c.cv[s.j * 16 + i]))) ASC,
                                      c.cell ASC) AS rnk
                  FROM e, range(0, 4) s(j) CROSS JOIN ce c) WHERE rnk = 1),
         codes AS (SELECT vec_id,
                          MAX(CASE WHEN j = 0 THEN code END) AS c0,
                          MAX(CASE WHEN j = 1 THEN code END) AS c1,
                          MAX(CASE WHEN j = 2 THEN code END) AS c2,
                          MAX(CASE WHEN j = 3 THEN code END) AS c3
                   FROM enc GROUP BY vec_id),
         adc AS (SELECT p.query_id, t.vec_id,
                        list_sum(list_transform(range(1, 17), i -> p.qv[i] * b0.cv[i]))
                      + list_sum(list_transform(range(1, 17), i -> p.qv[16 + i] * b1.cv[16 + i]))
                      + list_sum(list_transform(range(1, 17), i -> p.qv[32 + i] * b2.cv[32 + i]))
                      + list_sum(list_transform(range(1, 17), i -> p.qv[48 + i] * b3.cv[48 + i]))
                            AS sim
                 FROM probe p
                 JOIN corpus t USING (cell)
                 JOIN codes x ON x.vec_id = t.vec_id
                 JOIN ce b0 ON b0.cell = x.c0
                 JOIN ce b1 ON b1.cell = x.c1
                 JOIN ce b2 ON b2.cell = x.c2
                 JOIN ce b3 ON b3.cell = x.c3
                 WHERE t.vec_id <> p.query_id),
         ranked AS (SELECT query_id, vec_id, sim,
                           ROW_NUMBER() OVER (PARTITION BY query_id
                                              ORDER BY sim DESC, vec_id) AS rank
                    FROM adc)
    SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank, ROUND(sim, 6) AS sim
    FROM ranked WHERE rank <= 10"""


def q_live_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live sliding percentiles over a REAL Structured Streaming run:
    tumbling 4s windows aggregate fixed-bin histogram counts with native
    incremental state (append mode, watermark-closed), and the quantiles
    read off the sunk counts in batch.  Deterministic integer counting →
    EXACT oracle.  sf_dir unused: the fixture IS the stream."""
    import shutil
    import tempfile
    import uuid

    from janus_spark.operators.timeseries import quantiles_from_binned
    from janus_spark.streaming.native_agg import histogram_quantile_stream

    fixture = spark.range(1, 61).select(
        (F.col("id") * 500).alias("ts"),
        (F.col("id") % 3).cast("string").alias("sensor"),
        (20.0 + (F.col("id") % 10)).alias("value"),
    )
    closer = spark.range(1).select(
        F.lit(95_000).cast("long").alias("ts"),
        F.lit("9").alias("sensor"),
        F.lit(25.0).alias("value"),
    )
    root = tempfile.mkdtemp(prefix="live_pct_")
    name = f"live_pct_{uuid.uuid4().hex[:8]}"
    try:
        fixture.where("ts <= 15000").coalesce(1).write.parquet(f"{root}/f1.parquet")
        fixture.where("ts > 15000").coalesce(1).write.parquet(f"{root}/f2.parquet")
        closer.coalesce(1).write.parquet(f"{root}/f3.parquet")
        stream = (
            spark.readStream.schema("ts long, sensor string, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/f*.parquet")
        )
        hist = histogram_quantile_stream(
            stream, [], ts_col="ts", value_col="value",
            window_ms=4_000, vmin=20.0, vmax=30.0, n_bins=10,
        )
        q = (
            hist.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q, 300)
        counts = spark.table(name).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    out = quantiles_from_binned(counts, ["window_start"], (0.5, 0.95), 20.0, 1.0)
    # the closer's own window never finalizes (nothing after it) — only
    # fixture windows are in the sink, which is exactly what the oracle
    # reconstructs
    return out.select(
        "window_start", "n_events", F.col("p50").alias("p50"), F.col("p95").alias("p95")
    )


QUERIES["q_live_percentile"] = q_live_percentile
ORACLES["q_live_percentile"] = """
    WITH e AS (SELECT i * 500 AS ts, 20.0 + (i % 10) AS value
               FROM range(1, 61) r(i)),
         b AS (SELECT (ts // 4000) * 4000 AS window_start,
                      CAST(LEAST(GREATEST(FLOOR((value - 20.0) / 1.0), 0), 9) AS BIGINT) AS bin,
                      COUNT(*) AS cnt
               FROM e GROUP BY 1, 2),
         c AS (SELECT window_start, bin, cnt,
                      SUM(cnt) OVER (PARTITION BY window_start ORDER BY bin
                                     ROWS UNBOUNDED PRECEDING) AS cum,
                      SUM(cnt) OVER (PARTITION BY window_start) AS total
               FROM b)
    SELECT window_start, CAST(MAX(total) AS BIGINT) AS n_events,
           CAST(ROUND(20.0 + (MIN(CASE WHEN cum >= CEIL(0.5 * total) THEN bin END) + 0.5) * 1.0, 6) AS DOUBLE) AS p50,
           CAST(ROUND(20.0 + (MIN(CASE WHEN cum >= CEIL(0.95 * total) THEN bin END) + 0.5) * 1.0, 6) AS DOUBLE) AS p95
    FROM c GROUP BY window_start"""


def q_path_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-or-more property path (`p*`) under the EXACT gate: the `p+`
    closure over the doc→doc//2 ancestor tree PLUS the zero-length
    identity over the predicate's nodes (documented divergence from the
    spec's all-graph-terms identity: the practical, bounded reading)."""
    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    edges = docs.where("doc_id >= 1").select(
        F.lit(0).alias("ts"),
        F.concat(F.lit("urn:doc:"), F.col("doc_id").cast("string")).alias("subject"),
        F.lit("urn:tree:parent").alias("predicate"),
        F.concat(F.lit("urn:doc:"), (F.col("doc_id") / 2).cast("long").cast("string")).alias("object"),
        F.lit("g").alias("graph"),
    )
    q = """SELECT ?d ?a WHERE { ?d <urn:tree:parent>* ?a . }"""
    return _run(edges, q, path_max_hops=24)


QUERIES["q_path_star"] = q_path_star
ORACLES["q_path_star"] = """
    WITH RECURSIVE e AS (
        SELECT 'urn:doc:' || CAST(doc_id AS VARCHAR) AS c,
               'urn:doc:' || CAST(doc_id // 2 AS VARCHAR) AS p
        FROM documents WHERE doc_id >= 1),
    r AS (
        SELECT c, p FROM e
        UNION
        SELECT r.c, e.p FROM r JOIN e ON r.p = e.c),
    n AS (SELECT c AS x FROM e UNION SELECT p FROM e)
    SELECT c AS d, p AS a FROM r
    UNION
    SELECT x, x FROM n"""


def q_live_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live top-k per window over a REAL streaming run: tumbling 4s
    windows maintain per-sensor event counts as native incremental state
    (append mode, watermark-closed); the top-2 sensors per window rank
    off the sunk counts in batch — the same state-vs-readout split as
    q_live_percentile (rank sets aren't incrementally mergeable; bounded
    per-key counts are).  sf_dir unused: the fixture IS the stream."""
    import shutil
    import tempfile
    import uuid

    from pyspark.sql import Window

    fixture = spark.range(1, 61).select(
        (F.col("id") * 500).alias("ts"),
        # skewed sensor assignment so per-window leaders vary
        (F.col("id") % 7 % 3).cast("string").alias("sensor"),
    )
    closer = spark.range(1).select(
        F.lit(95_000).cast("long").alias("ts"), F.lit("9").alias("sensor")
    )
    root = tempfile.mkdtemp(prefix="live_topk_")
    name = f"live_topk_{uuid.uuid4().hex[:8]}"
    try:
        fixture.where("ts <= 15000").coalesce(1).write.parquet(f"{root}/f1.parquet")
        fixture.where("ts > 15000").coalesce(1).write.parquet(f"{root}/f2.parquet")
        closer.coalesce(1).write.parquet(f"{root}/f3.parquet")
        stream = (
            spark.readStream.schema("ts long, sensor string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/f*.parquet")
        )
        counts = (
            stream.withColumn("__evt", F.timestamp_millis(F.col("ts")))
            .withWatermark("__evt", "1 second")
            .groupBy(F.window("__evt", "4000 milliseconds"), "sensor")
            .agg(F.count("*").alias("n"))
            .select(F.unix_millis(F.col("window.start")).alias("window_start"), "sensor", "n")
        )
        q = (
            counts.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q, 300)
        sunk = spark.table(name).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    w = Window.partitionBy("window_start").orderBy(F.desc("n"), F.asc("sensor"))
    return (
        sunk.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 2)
        .select("window_start", "sensor", F.col("n").cast("long").alias("n"),
                F.col("rank").cast("long").alias("rank"))
    )


QUERIES["q_live_topk"] = q_live_topk
ORACLES["q_live_topk"] = """
    WITH e AS (SELECT i * 500 AS ts, CAST(i % 7 % 3 AS VARCHAR) AS sensor
               FROM range(1, 61) r(i)),
         c AS (SELECT (ts // 4000) * 4000 AS window_start, sensor, COUNT(*) AS n
               FROM e GROUP BY 1, 2),
         rk AS (SELECT window_start, sensor, n,
                       ROW_NUMBER() OVER (PARTITION BY window_start
                                          ORDER BY n DESC, sensor ASC) AS rank
                FROM c)
    SELECT window_start, sensor, n, rank FROM rk WHERE rank <= 2"""


def q_live_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once-ish ingest over an at-least-once transport, under the
    EXACT gate: a stream carrying every quad TWICE (staggered redelivery
    across micro-batches, the MQTT-QoS1/Kafka-replay shape) flows through
    ``dedup_quad_stream`` in a real Structured Streaming run; the sink
    must hold each quad exactly once.  sf_dir unused: the fixture IS the
    stream."""
    import shutil
    import tempfile
    import uuid

    from janus_spark.sources.stream import dedup_quad_stream

    fixture = spark.range(1, 41).select(
        (F.col("id") * 500).alias("ts"),
        F.concat(F.lit("urn:s"), (F.col("id") % 5).cast("string")).alias("subject"),
        F.lit("urn:p:v").alias("predicate"),
        F.col("id").cast("string").alias("object"),
        F.lit("g").alias("graph"),
    )
    root = tempfile.mkdtemp(prefix="live_dedup_")
    name = f"live_dedup_{uuid.uuid4().hex[:8]}"
    try:
        # batch 1: originals; batch 2: full redelivery + the tail half
        # again — duplicates arrive both within and across micro-batches
        fixture.coalesce(1).write.parquet(f"{root}/f1.parquet")
        fixture.unionByName(fixture.where("ts > 10000")).coalesce(1).write.parquet(
            f"{root}/f2.parquet"
        )
        stream = (
            spark.readStream.schema("ts long, subject string, predicate string, object string, graph string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/f*.parquet")
        )
        deduped = dedup_quad_stream(stream, within="10 minutes")
        q = (
            deduped.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q, 300)
        sunk = spark.table(name).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return sunk.select("ts", "subject", "object")


QUERIES["q_live_ingest_dedup"] = q_live_ingest_dedup
ORACLES["q_live_ingest_dedup"] = """
    SELECT i * 500 AS ts,
           'urn:s' || CAST(i % 5 AS VARCHAR) AS subject,
           CAST(i AS VARCHAR) AS object
    FROM range(1, 41) r(i)"""


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile (volume, length, language spread,
    dominant language + share); see datapipe/text.py::corpus_report."""
    from janus_spark.datapipe.text import corpus_report

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    return corpus_report(docs)


QUERIES["q_corpus_report"] = q_corpus_report
ORACLES["q_corpus_report"] = f"""
    WITH d AS (SELECT source, lang,
                      len({_TOKS}) AS ntok, length(text) AS nchr
               FROM documents),
         bl AS (SELECT source, lang, COUNT(*) AS docs,
                       SUM(ntok) AS toks, SUM(nchr) AS chrs
                FROM d GROUP BY source, lang)
    SELECT source,
           CAST(SUM(docs) AS BIGINT) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS total_tokens,
           ROUND(SUM(chrs) / SUM(docs), 6) AS avg_chars,
           CAST(COUNT(*) AS BIGINT) AS n_langs,
           MAX(struct_pack(docs := docs, lang := lang)).lang AS top_lang,
           ROUND(MAX(struct_pack(docs := docs, lang := lang)).docs
                 / SUM(docs), 6) AS top_lang_share
    FROM bl GROUP BY source"""


def q_multimodal_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline end-to-end under ONE oracle: binary payloads →
    Arrow-batched feature extraction (md5-hash-family fake encoder —
    deterministic AND SQL-reproducible) → brute-force cosine top-5.  The
    composition gate for decode→features→ANN; see
    datapipe/multimodal.py::extract_features."""
    from janus_spark.datapipe.multimodal import documents_as_media, extract_features
    from janus_spark.datapipe.similarity import cosine_topk

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    feats = extract_features(documents_as_media(docs), dim=8)
    embs = feats.select(F.col("media_id").alias("vec_id"), "embedding")
    out = cosine_topk(embs, embs.where("vec_id < 3"), k=5)
    return out.select(
        "query_id", "vec_id", F.col("rank").cast("long").alias("rank"),
        F.round("sim", 6).alias("sim"),
    )


QUERIES["q_multimodal_ann"] = q_multimodal_ann
ORACLES["q_multimodal_ann"] = """
    WITH raw AS (SELECT doc_id AS vec_id,
                        list_transform(range(0, 8),
                            i -> ('0x' || substr(md5(coalesce(text, '') || ':' || i), 1, 8))::BIGINT
                                 / 4294967296.0 - 0.5) AS c
                 FROM documents),
         nrm AS (SELECT vec_id, c,
                        sqrt(list_sum(list_transform(c, x -> x * x))) AS n
                 FROM raw),
         e AS (SELECT vec_id,
                      list_transform(c, x -> CAST(CAST(x / CASE WHEN n = 0 THEN 1 ELSE n END AS FLOAT) AS DOUBLE)) AS v
               FROM nrm),
         sims AS (SELECT q.vec_id AS query_id, t.vec_id,
                         list_cosine_similarity(q.v, t.v) AS sim
                  FROM (SELECT * FROM e WHERE vec_id < 3) q
                  CROSS JOIN e t
                  WHERE t.vec_id <> q.vec_id),
         ranked AS (SELECT query_id, vec_id, sim,
                           ROW_NUMBER() OVER (PARTITION BY query_id
                                              ORDER BY sim DESC, vec_id) AS rank
                    FROM sims)
    SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank, ROUND(sim, 6) AS sim
    FROM ranked WHERE rank <= 5"""


# ---------------------------------------------------------------------------
# Round 3: CUSUM change detection, autocorrelation, Bloom-pruned join
# ---------------------------------------------------------------------------

_CUSUM_DRIFT = 0.5
_CUSUM_H = 25.0
_CUSUM_TARGET = 50.0


def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM drift detection on event values per user — the
    sequential Page recursion as a prefix-sum/prefix-min closed form,
    one window pass (operators/timeseries.py::cusum)."""
    from janus_spark.operators.timeseries import cusum
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir).select(
        "user_id", "event_id", "value",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )
    # a literal target keeps the prefix sums bitwise-identical across
    # engines (sequential ordered adds); the adaptive target=None path is
    # pinned against a Python reference in tests/test_timeseries.py
    out = cusum(
        ev, ["user_id"], ts_col="ts_ms", value_col="value",
        target=_CUSUM_TARGET, drift=_CUSUM_DRIFT, threshold=_CUSUM_H, order_tiebreak="event_id",
    )
    return out.select("user_id", "event_id", "ts_ms", "s_pos", "s_neg", "alarm")


QUERIES["q_cusum"] = q_cusum
ORACLES["q_cusum"] = f"""
    WITH e AS (SELECT user_id, event_id, CAST(value AS DOUBLE) AS v, {_TSM} AS ts_ms
               FROM events),
         p AS (SELECT user_id, event_id, ts_ms,
                      SUM(v - {_CUSUM_TARGET} - {_CUSUM_DRIFT}) OVER w AS pp,
                      SUM({_CUSUM_TARGET} - v - {_CUSUM_DRIFT}) OVER w AS pn
               FROM e
               WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id
                            ROWS UNBOUNDED PRECEDING)),
         s AS (SELECT user_id, event_id, ts_ms,
                      ROUND(pp - LEAST(0.0, MIN(pp) OVER w), 6) AS s_pos,
                      ROUND(pn - LEAST(0.0, MIN(pn) OVER w), 6) AS s_neg
               FROM p
               WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id
                            ROWS UNBOUNDED PRECEDING))
    SELECT user_id, event_id, ts_ms, s_pos, s_neg,
           (s_pos > {_CUSUM_H} OR s_neg > {_CUSUM_H}) AS alarm
    FROM s"""


def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag-1/2/3 autocorrelation of event values (periodicity
    discovery; operators/timeseries.py::autocorr)."""
    from janus_spark.operators.timeseries import autocorr
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir).select(
        "user_id", "event_id", "value",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )
    return autocorr(
        ev, ["user_id"], ts_col="ts_ms", value_col="value",
        lags=(1, 2, 3), order_tiebreak="event_id",
    )


QUERIES["q_autocorr"] = q_autocorr
ORACLES["q_autocorr"] = f"""
    WITH e AS (SELECT user_id, CAST(value AS DOUBLE) AS v,
                      LAG(CAST(value AS DOUBLE), 1) OVER w AS l1,
                      LAG(CAST(value AS DOUBLE), 2) OVER w AS l2,
                      LAG(CAST(value AS DOUBLE), 3) OVER w AS l3
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY {_TSM}, event_id))
    SELECT user_id,
           ROUND(CORR(v, l1), 6) AS ac1,
           ROUND(CORR(v, l2), 6) AS ac2,
           ROUND(CORR(v, l3), 6) AS ac3
    FROM e GROUP BY user_id"""


def q_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by supplier for one nation's suppliers, with the lineitem
    scan Bloom-pruned MAP-SIDE before the join shuffle — the
    dim-too-big-to-broadcast scale path (operators/bloomjoin.py; result
    is exact, the bloom only cuts shuffle volume; false positives are
    removed by the actual join)."""
    from janus_spark.operators.bloomjoin import bloom_join

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sup = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .where(F.col("s_nationkey") == 3)
        .select(F.col("s_suppkey").alias("l_suppkey"), "s_name")
    )
    out = bloom_join(li, sup, on="l_suppkey")
    return out.groupBy("s_name").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
    )


QUERIES["q_bloom_join"] = q_bloom_join
ORACLES["q_bloom_join"] = """
    SELECT s_name, COUNT(*) AS n_items,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    WHERE s_nationkey = 3
    GROUP BY s_name"""


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-path BFS shortest hops from the root over a DAG with two
    parent families (doc//2 and doc//3 edges) — min-hop semantics, not
    just tree depth; frontier iteration in operators/graph.py::bfs_hops,
    recursive-CTE MIN oracle."""
    from janus_spark.operators.graph import bfs_hops

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet").select("doc_id")
    e2 = docs.where("doc_id >= 1").select(
        (F.col("doc_id") / 2).cast("long").alias("src"), F.col("doc_id").alias("dst")
    )
    e3 = docs.where("doc_id >= 1").select(
        (F.col("doc_id") / 3).cast("long").alias("src"), F.col("doc_id").alias("dst")
    )
    edges = e2.unionByName(e3).where(F.col("src") != F.col("dst"))
    seeds = spark.createDataFrame([(0,)], "id long")
    return bfs_hops(edges, seeds, max_hops=24).select("id", "hops")


QUERIES["q_bfs_hops"] = q_bfs_hops
ORACLES["q_bfs_hops"] = """
    WITH RECURSIVE e AS (
        SELECT doc_id // 2 AS src, doc_id AS dst FROM documents WHERE doc_id >= 1
        UNION
        SELECT doc_id // 3 AS src, doc_id AS dst FROM documents WHERE doc_id >= 1
    ),
    r AS (
        SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS hops
        UNION
        SELECT e.dst, r.hops + 1 FROM r JOIN e ON e.src = r.id
        WHERE r.hops < 24 AND e.src <> e.dst
    )
    SELECT id, MIN(hops) AS hops FROM r GROUP BY id"""


def q_tpch_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns.
    Plan: lineitem filtered on returnflag at the scan (pushed), joined to
    orders (shuffle on orderkey), then customer (shuffle on custkey),
    nation broadcast; deterministic tiebreak on custkey for the top-20."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(F.col("l_returnflag") == "R")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey", "o_custkey")
    cust = _read_wide(spark, f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select("n_nationkey", "n_name")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
    )
    return rev.orderBy(F.col("revenue").desc(), F.col("c_custkey")).limit(20)


QUERIES["q_tpch_returned_items"] = q_tpch_returned_items
ORACLES["q_tpch_returned_items"] = """
    SELECT c_custkey, c_name, c_acctbal, n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20"""


def q_tpch_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders (total quantity > 250) with
    their customers.  The HAVING subquery is ONE aggregation over
    lineitem reused as a semi-filter — Catalyst plans the self-use
    without a second scan via exchange reuse; the customer join
    shuffles on custkey only for qualifying orders."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey", "l_quantity")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = _read_wide(spark, f"{sf_dir}/customer.parquet").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .where(F.col("total_qty") > 250)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey", "c_name", "o_orderkey",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"), "total_qty",
        )
    )


QUERIES["q_tpch_large_orders"] = q_tpch_large_orders
ORACLES["q_tpch_large_orders"] = """
    SELECT c_custkey, c_name, o_orderkey,
           CAST(o_orderdate AS VARCHAR) AS o_orderdate,
           ROUND(o_totalprice, 2) AS o_totalprice,
           ROUND(SUM(l_quantity), 2) AS total_qty
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    HAVING SUM(l_quantity) > 250"""


def q_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest paths (Bellman-Ford) from the root over the
    two-parent doc DAG with integer edge weights (exact double sums) —
    a cheaper long-hop route must beat an expensive short-hop one;
    recursive-CTE MIN oracle.  operators/graph.py::shortest_paths."""
    from janus_spark.operators.graph import shortest_paths

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet").select("doc_id")
    e2 = docs.where("doc_id >= 1").select(
        (F.col("doc_id") / 2).cast("long").alias("src"),
        F.col("doc_id").alias("dst"),
        ((F.col("doc_id") % 5) + 1).cast("double").alias("w"),
    )
    e3 = docs.where("doc_id >= 1").select(
        (F.col("doc_id") / 3).cast("long").alias("src"),
        F.col("doc_id").alias("dst"),
        ((F.col("doc_id") % 3) + 1).cast("double").alias("w"),
    )
    edges = e2.unionByName(e3).where(F.col("src") != F.col("dst"))
    seeds = spark.createDataFrame([(0,)], "id long")
    return shortest_paths(edges, seeds, max_hops=24).select("id", "dist")


QUERIES["q_shortest_paths"] = q_shortest_paths
ORACLES["q_shortest_paths"] = """
    WITH RECURSIVE e AS (
        SELECT doc_id // 2 AS src, doc_id AS dst,
               CAST(doc_id % 5 + 1 AS DOUBLE) AS w
        FROM documents WHERE doc_id >= 1 AND doc_id // 2 <> doc_id
        UNION ALL
        SELECT doc_id // 3 AS src, doc_id AS dst,
               CAST(doc_id % 3 + 1 AS DOUBLE) AS w
        FROM documents WHERE doc_id >= 1 AND doc_id // 3 <> doc_id
    ),
    r AS (
        SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS DOUBLE) AS dist
        UNION
        SELECT e.dst, r.dist + e.w FROM r JOIN e ON e.src = r.id
        WHERE r.dist < 200
    )
    SELECT id, MIN(dist) AS dist FROM r GROUP BY id"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — (type), (bucket), (type, bucket), and
    grand total in one aggregation pass (completes the rollup/cube
    family).  Spark: groupingSets on the Dataset API."""
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir).withColumn("bucket", F.col("user_id") % 4)
    # exact integer-cents sum (see q_rollup): the grand-total set spans
    # the whole corpus, where a double SUM is order-dependent at 100x
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    out = (
        ev.withColumn("__cents", cents)
        .groupingSets(
            [["event_type"], ["bucket"], ["event_type", "bucket"], []],
            "event_type", "bucket",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("__cents").cast("double") / 100).alias("sum_v"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("bucket"), F.lit(-1)).alias("bucket"),
            "n", "sum_v",
        )
    )
    return out


QUERIES["q_grouping_sets"] = q_grouping_sets
ORACLES["q_grouping_sets"] = """
    SELECT COALESCE(event_type, 'ALL') AS event_type,
           COALESCE(user_id % 4, -1) AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100 AS sum_v
    FROM events
    GROUP BY GROUPING SETS ((event_type), (user_id % 4), (event_type, user_id % 4), ())"""


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup: within each duplicate cluster keep the
    highest-scoring member (deterministic synthetic score doc_id % 7,
    ties min id) — canonical selection joins curation quality into the
    dedup decision (datapipe/dedup.py::dedup_keep_best)."""
    from janus_spark.datapipe.dedup import dedup_keep_best
    from janus_spark.datapipe.text import normalize

    corpus = _dup_corpus(spark, sf_dir)
    # normalize+md5 runs once; both self-join sides read the materialized
    # (id, key) frame — same move as the shingle/signature joins
    keyed = corpus.select(
        F.col("doc_id").alias("id"), F.md5(normalize(F.col("text"))).alias("key")
    ).localCheckpoint(eager=True)
    pairs = (
        keyed.alias("l")
        .join(keyed.alias("r"), on="key")
        .where(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("a"), F.col("r.id").alias("b"))
    )
    out = dedup_keep_best(corpus, pairs, score_col=(F.col("doc_id") % 7).cast("double"))
    return out.select("doc_id", "keep_id", "keep")


QUERIES["q_dedup_keep_best"] = q_dedup_keep_best
ORACLES["q_dedup_keep_best"] = (
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000000, text FROM documents),
    ranked AS (
      SELECT doc_id,
             FIRST_VALUE(doc_id) OVER (PARTITION BY """
    + _NORM_SQL
    + """ ORDER BY doc_id % 7 DESC, doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS keep_id
      FROM corpus)
    SELECT doc_id, keep_id, doc_id = keep_id AS keep FROM ranked"""
)


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document OOV rate against the corpus-induced top-100 vocab
    (datapipe/text.py::vocab_coverage)."""
    from janus_spark.datapipe.text import vocab_coverage

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    out = vocab_coverage(docs, vocab_size=100)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_oov").cast("long").alias("n_oov"),
        "oov_rate",
    )


QUERIES["q_vocab_coverage"] = q_vocab_coverage
_CLEAN_TOKS = r"list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')"
ORACLES["q_vocab_coverage"] = f"""
    WITH t AS (SELECT doc_id, {_CLEAN_TOKS} AS l FROM documents),
         w AS (SELECT doc_id, unnest(l) AS word FROM t),
         v AS (SELECT word FROM w GROUP BY word
               ORDER BY COUNT(*) DESC, word LIMIT 100),
         a AS (SELECT doc_id, COUNT(*) AS n_tokens,
                      COUNT(*) FILTER (word NOT IN (SELECT word FROM v)) AS n_oov
               FROM w GROUP BY doc_id)
    SELECT doc_id, n_tokens, n_oov,
           ROUND(n_oov / CAST(n_tokens AS DOUBLE), 9) AS oov_rate
    FROM a"""


def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch point-frequency estimates: per event type,
    estimate how often each probed user appears — deterministic md5 CMS
    (functions/sketches.cms_*), oracle-EXACT including the estimate."""
    from janus_spark.functions.sketches import cms_estimate, cms_partials
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir)
    partials = cms_partials(ev, "user_id", ["event_type"], depth=4, width=256)
    probes = spark.range(10).select(F.col("id").alias("user_id"))
    out = cms_estimate(partials, probes, "user_id", ["event_type"], depth=4, width=256)
    return out.select("event_type", F.col("item").cast("long").alias("user_id"), "est")


QUERIES["q_cms_counts"] = q_cms_counts
from janus_spark.functions.sketches import cms_oracle_sql as _cms_oracle_sql

ORACLES["q_cms_counts"] = (
    "SELECT grp AS event_type, CAST(item AS BIGINT) AS user_id, est FROM ("
    + _cms_oracle_sql(
        "user_id", "event_type", "events",
        "SELECT unnest(range(0, 10)) AS item",
        depth=4, width=256,
    )
    + ")"
)


def q_live_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch heavy-hitter counts over a REAL Structured
    Streaming run: tumbling 4s windows maintain only the depth×width CMS
    cell counters as native incremental state (append mode,
    watermark-closed); point estimates for the probe set read off the
    sunk cells in batch.  Deterministic md5 CMS → the ESTIMATES are
    oracle-EXACT.  sf_dir unused: the fixture IS the stream."""
    import shutil
    import tempfile
    import uuid

    from janus_spark.functions.sketches import cms_estimate
    from janus_spark.streaming.native_agg import cms_count_stream

    fixture = spark.range(1, 61).select(
        (F.col("id") * 500).alias("ts"),
        (F.col("id") % 7).cast("string").alias("user"),
    )
    closer = spark.range(1).select(
        F.lit(95_000).cast("long").alias("ts"), F.lit("z").alias("user")
    )
    root = tempfile.mkdtemp(prefix="live_cms_")
    name = f"live_cms_{uuid.uuid4().hex[:8]}"
    try:
        fixture.where("ts <= 15000").coalesce(1).write.parquet(f"{root}/f1.parquet")
        fixture.where("ts > 15000").coalesce(1).write.parquet(f"{root}/f2.parquet")
        closer.coalesce(1).write.parquet(f"{root}/f3.parquet")
        stream = (
            spark.readStream.schema("ts long, user string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/f*.parquet")
        )
        cells = cms_count_stream(
            stream, [], ts_col="ts", value_col="user",
            window_ms=4_000, depth=4, width=64,
        )
        q = (
            cells.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q, 300)
        sunk = spark.table(name).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    probes = spark.range(7).select(F.col("id").cast("string").alias("user"))
    out = cms_estimate(sunk, probes, "user", ["window_start"], depth=4, width=64)
    return out.select("window_start", F.col("item").alias("user"), "est")


QUERIES["q_live_cms"] = q_live_cms
ORACLES["q_live_cms"] = (
    "SELECT grp AS window_start, item AS user, est FROM ("
    + _cms_oracle_sql(
        "u",
        "ws",
        "(SELECT (CAST(id * 500 AS BIGINT) // 4000) * 4000 AS ws,"
        " CAST(id % 7 AS VARCHAR) AS u FROM range(1, 61) t(id))",
        "SELECT CAST(unnest(range(0, 7)) AS VARCHAR) AS item",
        depth=4, width=64,
    )
    + ")"
)


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame audio features (RMS / peak / zero-crossings) over
    fake-decoded PCM — deterministic md5 sample model, so framing AND
    float feature arithmetic are oracle-EXACT
    (datapipe/multimodal.py::audio_window_features)."""
    from janus_spark.datapipe.multimodal import audio_window_features

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    audio = docs.where(F.col("doc_id") % 3 == 1).select(F.col("doc_id").alias("media_id"))
    return audio_window_features(audio, frame=100)


QUERIES["q_audio_features"] = q_audio_features
ORACLES["q_audio_features"] = """
    WITH m AS (SELECT doc_id AS media_id,
                      ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv
               FROM documents WHERE doc_id % 3 = 1),
         s AS (SELECT media_id, CAST(200 + hv % 300 AS INT) AS n,
                      list_transform(range(0, CAST(200 + hv % 300 AS INT)),
                          i -> ('0x' || substr(md5(CAST(media_id AS VARCHAR) || ':s' || i), 1, 8))::BIGINT
                               / 4294967296.0 - 0.5) AS smp
               FROM m),
         fr AS (SELECT media_id, n, smp,
                       unnest(range(0, CAST(ceil(n / 100.0) AS INT))) AS frame_idx
                FROM s),
         fx AS (SELECT media_id, frame_idx,
                       smp[frame_idx * 100 + 1 : frame_idx * 100 + 100] AS f
                FROM fr),
         sg AS (SELECT media_id, frame_idx, f,
                       list_transform(f, x -> CASE WHEN x >= 0 THEN 1 ELSE -1 END) AS signs
                FROM fx)
    SELECT media_id,
           CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(len(f) AS BIGINT) AS n_samples,
           ROUND(sqrt(list_sum(list_transform(f, x -> x * x)) / len(f)), 6) AS rms,
           ROUND(list_max(list_transform(f, x -> abs(x))), 6) AS peak,
           CAST(coalesce(list_sum(list_transform(range(1, len(signs)),
                    i -> CASE WHEN signs[i] <> signs[i + 1] THEN 1 ELSE 0 END)), 0) AS BIGINT)
               AS zero_crossings
    FROM sg"""


def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each click picks up the FIRST purchase value
    at-or-after it (same single-shuffle union+window plan as backward;
    DuckDB native ASOF with <= as the oracle)."""
    from janus_spark.operators.asof import asof_join
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir).withColumn(
        "ts_ms", F.unix_millis(F.col("ts").cast("timestamp"))
    )
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts_ms", "value")
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts_ms", "value")
    out = asof_join(
        clicks, purchases, ts_col="ts_ms", by=("user_id",), value_cols=("value",),
        direction="forward",
    )
    return out.select(
        "event_id", "user_id", "ts_ms",
        F.round("value", 6).alias("click_value"),
        F.round("value_asof", 6).alias("purchase_value"),
    )


QUERIES["q_asof_forward"] = q_asof_forward
ORACLES["q_asof_forward"] = f"""
    WITH e AS (SELECT event_id, user_id, event_type, value, {_TSM} AS ts_ms FROM events),
         c AS (SELECT event_id, user_id, ts_ms, value FROM e WHERE event_type = 'click'),
         p AS (SELECT user_id, ts_ms, value FROM e WHERE event_type = 'purchase')
    SELECT c.event_id, c.user_id, c.ts_ms,
           ROUND(c.value, 6) AS click_value,
           ROUND(p.value, 6) AS purchase_value
    FROM c ASOF LEFT JOIN p
      ON c.user_id = p.user_id AND c.ts_ms <= p.ts_ms"""


def q_tpch_shipmode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: order-priority counts by return flag class — one
    shuffle join orders⋈lineitem on orderkey with the lineitem filter
    pushed to the scan, conditional aggregation after."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        F.col("l_shipdate") >= F.lit("1995-01-01")
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


QUERIES["q_tpch_shipmode"] = q_tpch_shipmode
ORACLES["q_tpch_shipmode"] = """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= '1995-01-01'
    GROUP BY l_returnflag"""


def q_tpch_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share — broadcast the part dim,
    one conditional-aggregate pass over the fact; decimal(18,2) cents
    keep the ratio engine-exact."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = _read_wide(spark, f"{sf_dir}/part.parquet").select("p_partkey", "p_type")
    # decimal(18,4): the 4th decimal of the price product sits ~5 orders
    # of magnitude above double ulp, so both engines round identically
    # (a ,2 cast lands ON half-cent boundaries and diverges)
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    promo = F.col("p_type").startswith("PROMO")
    out = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.sum(F.when(promo, rev).otherwise(F.lit(0).cast("decimal(18,4)"))).alias("promo_rev"),
            F.sum(rev).alias("total_rev"),
        )
        .select(
            F.col("promo_rev").cast("double").alias("promo_rev"),
            F.col("total_rev").cast("double").alias("total_rev"),
            F.round(F.lit(100.0) * F.col("promo_rev").cast("double") / F.col("total_rev").cast("double"), 6).alias("promo_pct"),
        )
    )
    return out


QUERIES["q_tpch_promo"] = q_tpch_promo
ORACLES["q_tpch_promo"] = """
    WITH s AS (
      SELECT SUM(CASE WHEN p_type LIKE 'PROMO%'
                      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                      ELSE CAST(0 AS DECIMAL(18,4)) END) AS promo_rev,
             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS total_rev
      FROM lineitem JOIN part ON l_partkey = p_partkey)
    SELECT CAST(promo_rev AS DOUBLE) AS promo_rev,
           CAST(total_rev AS DOUBLE) AS total_rev,
           ROUND(100.0 * CAST(promo_rev AS DOUBLE) / CAST(total_rev AS DOUBLE), 6) AS promo_pct
    FROM s"""


def q_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence (market-basket pairs): for each unordered
    type pair, in how many users' histories both appear.  Inverted
    per-user postings self-joined on user — candidate space is
    per-user-distinct-types², never events², and the type universe is
    tiny so the pair aggregation is trivially bounded."""
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir)
    types = ev.select("user_id", "event_type").distinct()
    a = types.select("user_id", F.col("event_type").alias("t1"))
    b = types.select("user_id", F.col("event_type").alias("t2"))
    return (
        a.join(b, "user_id")
        .where(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


QUERIES["q_cooccurrence"] = q_cooccurrence
ORACLES["q_cooccurrence"] = """
    WITH t AS (SELECT DISTINCT user_id, event_type FROM events)
    SELECT a.event_type AS t1, b.event_type AS t2, COUNT(*) AS n_users
    FROM t a JOIN t b ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2"""


def q_seasonal_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted anomaly detection: z-score against the
    (event_type, hour-of-day) profile instead of the global mean — the
    standard fix for time-of-day effects masking real anomalies.  One
    unordered window per profile key (no sort), map-only after."""
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir).select(
        "event_id", "event_type", "value",
        F.hour(F.col("ts").cast("timestamp")).alias("hod"),
    )
    from pyspark.sql.window import Window as W

    prof = W.partitionBy("event_type", "hod")
    mu = F.avg("value").over(prof)
    sd = F.stddev_samp("value").over(prof)
    z = F.when(sd > 0, (F.col("value") - mu) / sd).otherwise(F.lit(0.0))
    return (
        ev.withColumn("z", F.round(z, 4))
        .where(F.abs(F.col("z")) > 3.0)
        .select("event_id", "event_type", "hod", F.round("value", 6).alias("value"), "z")
    )


QUERIES["q_seasonal_outliers"] = q_seasonal_outliers
ORACLES["q_seasonal_outliers"] = """
    WITH p AS (
      SELECT event_id, event_type, EXTRACT(hour FROM ts) AS hod, value,
             AVG(value) OVER w AS mu, STDDEV_SAMP(value) OVER w AS sd
      FROM events
      WINDOW w AS (PARTITION BY event_type, EXTRACT(hour FROM ts)))
    SELECT event_id, event_type, CAST(hod AS INT) AS hod,
           ROUND(value, 6) AS value,
           ROUND(CASE WHEN sd > 0 THEN (value - mu) / sd ELSE 0.0 END, 4) AS z
    FROM p
    WHERE ABS(ROUND(CASE WHEN sd > 0 THEN (value - mu) / sd ELSE 0.0 END, 4)) > 3.0"""


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two corpus versions (added / removed /
    changed / unchanged by normalized fingerprint; 32-byte keys only
    cross the shuffle) — datapipe/dedup.py::corpus_diff."""
    from janus_spark.datapipe.dedup import corpus_diff

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    old = docs.where(F.col("doc_id") % 11 != 0)  # new crawl drops these
    new = docs.where(F.col("doc_id") % 13 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" edited")))
        .otherwise(F.col("text")),
    )
    return corpus_diff(old, new)


QUERIES["q_corpus_diff"] = q_corpus_diff
ORACLES["q_corpus_diff"] = f"""
    WITH o AS (SELECT doc_id, md5({_NORM_SQL}) AS fp FROM documents WHERE doc_id % 11 <> 0),
         n0 AS (SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0 THEN text || ' edited' ELSE text END AS text
                FROM documents WHERE doc_id % 13 <> 0),
         n AS (SELECT doc_id, md5({_NORM_SQL}) AS fp FROM n0)
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.fp = n.fp THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id"""


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True connected components over an arbitrary sparse graph (doc%97
    similarity edges + chain edges): min-id labels via the pointer-
    jumping propagation in datapipe/dedup.py::dedup_clusters, against a
    recursive-CTE reachability oracle."""
    from janus_spark.datapipe.dedup import dedup_clusters

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet").select("doc_id")
    # chains of length 5 (doc -> doc+1 within each 5-block) over a
    # sparse subset, plus long-range edges stitching blocks that share
    # doc_id % 97
    base = docs.where("doc_id % 3 = 0")
    chain = base.alias("a").join(
        base.alias("b"), F.col("b.doc_id") == F.col("a.doc_id") + 3
    ).where(F.col("a.doc_id") % 15 != 12).select(
        F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b")
    )
    pairs = chain
    out = dedup_clusters(pairs)
    return out.select(F.col("id").alias("doc_id"), F.col("keep_id").alias("component"))


QUERIES["q_connected_components"] = q_connected_components
ORACLES["q_connected_components"] = """
    WITH RECURSIVE base AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
    e0 AS (
        SELECT a.doc_id AS a, b.doc_id AS b
        FROM base a JOIN base b ON b.doc_id = a.doc_id + 3
        WHERE a.doc_id % 15 <> 12),
    e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
    nodes AS (SELECT a AS id FROM e UNION SELECT b FROM e),
    r AS (
        SELECT id, id AS lbl FROM nodes
        UNION
        SELECT e.b AS id, r.lbl FROM r JOIN e ON e.a = r.id
    )
    SELECT id AS doc_id, MIN(lbl) AS component FROM r GROUP BY id"""


def q_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap via deterministic-HLL sketch algebra: distinct
    click users, purchase users, their union (register-max merge of the
    SAME partials — no second scan) and inclusion-exclusion
    intersection.  Every estimate oracle-EXACT."""
    from janus_spark.functions.sketches import hll_det_overlap
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir)
    return hll_det_overlap(ev, "user_id", "event_type", "click", "purchase")


QUERIES["q_hll_overlap"] = q_hll_overlap


def _hll_overlap_oracle() -> str:
    per_set = _hll_det_oracle_sql(
        "user_id", "event_type", "events WHERE event_type IN ('click', 'purchase')"
    )
    union = _hll_det_oracle_sql(
        "user_id", "1", "events WHERE event_type IN ('click', 'purchase')"
    )
    return f"""
    WITH per_set AS ({per_set}), un AS ({union})
    SELECT a.approx_distinct AS est_a,
           b.approx_distinct AS est_b,
           un.approx_distinct AS est_union,
           ROUND(a.approx_distinct + b.approx_distinct - un.approx_distinct, 4)
               AS est_intersection
    FROM (SELECT approx_distinct FROM per_set WHERE grp = 'click') a,
         (SELECT approx_distinct FROM per_set WHERE grp = 'purchase') b,
         un"""


ORACLES["q_hll_overlap"] = _hll_overlap_oracle()


def q_live_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous funnel detection under the EXACT gate: a deterministic
    50-user fixture (view → click → purchase journeys with pre-step
    noise events, duplicate conversions, and dead ends) streams through
    a real applyInPandasWithState run in three micro-batches — per-user
    progress state crosses every boundary, and exactly the u%6==0 users
    complete, emitted once at their purchase instant.  sf_dir unused:
    the fixture IS the stream."""
    import shutil
    import tempfile
    import uuid

    from janus_spark.streaming.stateful import streaming_funnel

    u = spark.range(0, 50)
    views = u.selectExpr("CAST(id AS STRING) AS user", "CAST(100*id + 10 AS DOUBLE) AS ts", "'view' AS event")
    early_clicks = u.selectExpr(
        "CAST(id AS STRING) AS user", "CAST(100*id + 5 AS DOUBLE) AS ts", "'click' AS event"
    )  # before the view: must NOT count
    clicks = u.where("id % 2 = 0").selectExpr(
        "CAST(id AS STRING) AS user", "CAST(100*id + 20 AS DOUBLE) AS ts", "'click' AS event"
    )
    purchases = u.where("id % 3 = 0").selectExpr(
        "CAST(id AS STRING) AS user", "CAST(100*id + 30 AS DOUBLE) AS ts", "'purchase' AS event"
    )
    dup_purchases = u.where("id % 6 = 0").selectExpr(
        "CAST(id AS STRING) AS user", "CAST(100*id + 40 AS DOUBLE) AS ts", "'purchase' AS event"
    )  # second conversion: must not double-emit
    batch1 = early_clicks.unionByName(views)
    batch2 = clicks
    batch3 = purchases.unionByName(dup_purchases)
    root = tempfile.mkdtemp(prefix="live_funnel_")
    name = f"live_funnel_{uuid.uuid4().hex[:8]}"
    try:
        batch1.coalesce(1).write.parquet(f"{root}/b0.parquet")
        batch2.coalesce(1).write.parquet(f"{root}/b1.parquet")
        batch3.coalesce(1).write.parquet(f"{root}/b2.parquet")
        stream = (
            spark.readStream.schema("user string, ts double, event string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/b*.parquet")
        )
        out = streaming_funnel(stream, ["view", "click", "purchase"])
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{root}/ck")
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q, 300)
        res = spark.table(name).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return res.select("user", "t1", "completed_at")


QUERIES["q_live_funnel"] = q_live_funnel
ORACLES["q_live_funnel"] = """
    SELECT CAST(id AS VARCHAR) AS user,
           CAST(100 * id + 10 AS DOUBLE) AS t1,
           CAST(100 * id + 30 AS DOUBLE) AS completed_at
    FROM range(0, 50) t(id) WHERE id % 6 = 0"""


def q_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition (trend = centered moving average,
    seasonal = hour-of-day mean minus grand mean, residual = remainder)
    per user — operators/timeseries.py::decompose.
    Exact integer-unit arithmetic end-to-end (no double is ever
    rounded), so the gate is bit-exact at any scale — see the operator
    docstring."""
    from janus_spark.operators.timeseries import decompose
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir).select(
        "user_id", "event_id", "value",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )
    out = decompose(ev, ["user_id"], trend_window=5, order_tiebreak="event_id")
    return out.select(
        "user_id", "event_id", "ts_ms",
        F.col("period_bucket").cast("int").alias("period_bucket"),
        "trend", "seasonal", "residual",
    )


QUERIES["q_decompose"] = q_decompose
ORACLES["q_decompose"] = f"""
    WITH e AS (SELECT user_id, event_id, {_TSM} AS ts_ms,
                      EXTRACT(hour FROM ts) AS hod,
                      CAST(ROUND(value * 100, 0) AS BIGINT) AS u
               FROM events),
         t AS (SELECT *,
                      SUM(u) OVER w AS tn, COUNT(u) OVER w AS tc,
                      SUM(u) OVER ws AS sn, COUNT(u) OVER ws AS sc,
                      SUM(u) OVER wu AS gn, COUNT(u) OVER wu AS gc
               FROM e
               WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id
                            ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING),
                      ws AS (PARTITION BY user_id, hod),
                      wu AS (PARTITION BY user_id)),
         z AS (SELECT user_id, event_id, ts_ms, hod, u,
                      CASE WHEN tn >= 0 THEN (tn * 200 + tc) // (2 * tc)
                           ELSE -(((-tn) * 200 + tc) // (2 * tc))
                      END AS t4,
                      CASE WHEN sn * gc - gn * sc >= 0
                           THEN ((sn * gc - gn * sc) * 200 + sc * gc) // (2 * sc * gc)
                           ELSE -(((gn * sc - sn * gc) * 200 + sc * gc) // (2 * sc * gc))
                      END AS s4
               FROM t)
    SELECT user_id, event_id, ts_ms, CAST(hod AS INT) AS period_bucket,
           t4 / 10000.0 AS trend,
           s4 / 10000.0 AS seasonal,
           (u * 100 - t4 - s4) / 10000.0 AS residual
    FROM z"""


def q_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from two Count-Min sketches (orders ⋈
    lineitem on orderkey) — the sketch inner product, one pass per
    table, never an underestimate; deterministic md5 CMS so the
    ESTIMATE is oracle-EXACT (functions/sketches.cms_join_size)."""
    from janus_spark.functions.sketches import cms_join_size, cms_partials

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pa = cms_partials(orders, "o_orderkey", [], depth=4, width=4096)
    pb = cms_partials(li, "l_orderkey", [], depth=4, width=4096)
    return cms_join_size(pa, pb, depth=4)


QUERIES["q_cms_join_size"] = q_cms_join_size
ORACLES["q_cms_join_size"] = """
    WITH ca AS (
      SELECT row, col, COUNT(*) AS ca FROM (
        SELECT r AS row,
               ('0x' || substr(md5(r || ':' || CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT % 4096 AS col
        FROM orders, unnest(range(0, 4)) t(r)) GROUP BY row, col),
    cb AS (
      SELECT row, col, COUNT(*) AS cb FROM (
        SELECT r AS row,
               ('0x' || substr(md5(r || ':' || CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT % 4096 AS col
        FROM lineitem, unnest(range(0, 4)) t(r)) GROUP BY row, col),
    ip AS (SELECT ca.row, SUM(ca.ca * cb.cb) AS ip
           FROM ca JOIN cb ON ca.row = cb.row AND ca.col = cb.col
           GROUP BY ca.row)
    SELECT CAST(MIN(ip) AS BIGINT) AS est_join_size FROM ip"""


def q_path_alt_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closure over an ALTERNATION path ((p1|p2)+): composes the alt and
    plus operators — the union relation is closed, not each branch
    separately (doc//2 edges are p1, doc//3 edges are p2, so mixed-label
    paths exist); recursive-CTE oracle."""
    docs = _read_wide(spark, f"{sf_dir}/documents.parquet").where("doc_id >= 1 AND doc_id < 200")
    e1 = docs.select(
        F.lit(0).alias("ts"),
        F.concat(F.lit("urn:doc:"), F.col("doc_id").cast("string")).alias("subject"),
        F.lit("urn:tree:p1").alias("predicate"),
        F.concat(F.lit("urn:doc:"), (F.col("doc_id") / 2).cast("long").cast("string")).alias("object"),
        F.lit("g").alias("graph"),
    )
    e2 = docs.where("doc_id >= 3").select(
        F.lit(0).alias("ts"),
        F.concat(F.lit("urn:doc:"), F.col("doc_id").cast("string")).alias("subject"),
        F.lit("urn:tree:p2").alias("predicate"),
        F.concat(F.lit("urn:doc:"), (F.col("doc_id") / 3).cast("long").cast("string")).alias("object"),
        F.lit("g").alias("graph"),
    )
    q = "SELECT ?d ?a WHERE { ?d (<urn:tree:p1>|<urn:tree:p2>)+ ?a . }"
    return _run(e1.unionByName(e2), q, path_max_hops=12)


QUERIES["q_path_alt_closure"] = q_path_alt_closure
ORACLES["q_path_alt_closure"] = """
    WITH RECURSIVE e AS (
        SELECT 'urn:doc:' || CAST(doc_id AS VARCHAR) AS c,
               'urn:doc:' || CAST(doc_id // 2 AS VARCHAR) AS p
        FROM documents WHERE doc_id >= 1 AND doc_id < 200
        UNION
        SELECT 'urn:doc:' || CAST(doc_id AS VARCHAR),
               'urn:doc:' || CAST(doc_id // 3 AS VARCHAR)
        FROM documents WHERE doc_id >= 3 AND doc_id < 200),
    r AS (
        SELECT c, p FROM e
        UNION
        SELECT r.c, e.p FROM r JOIN e ON r.p = e.c)
    SELECT c AS d, p AS a FROM r"""


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf slope of the corpus vocabulary (ln f ~ ln rank OLS over
    ranks 5..200) — distributional health check
    (datapipe/text.py::zipf_fit)."""
    from janus_spark.datapipe.text import zipf_fit

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    return zipf_fit(docs)


QUERIES["q_zipf_fit"] = q_zipf_fit
ORACLES["q_zipf_fit"] = f"""
    WITH w AS (SELECT unnest({_CLEAN_TOKS}) AS word FROM documents),
         c AS (SELECT word, COUNT(*) AS n FROM w GROUP BY word),
         r AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, word) AS rank FROM c)
    SELECT COUNT(*) AS n_ranks,
           ROUND(REGR_SLOPE(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6) AS slope,
           ROUND(REGR_INTERCEPT(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6) AS intercept,
           ROUND(REGR_R2(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6) AS r2
    FROM r WHERE rank BETWEEN 5 AND 200"""


# ---- round-3 batch 3: adapted TPC-H shapes, retrieval, frontier ----------


def q_tpch_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    join so zero-order customers survive, with the order predicate on the
    join's right side (pre-filtered before the join ≡ ON-clause
    predicate), then a double aggregation.  One shuffle join on custkey
    + two small aggs."""
    cust = _read_wide(spark, f"{sf_dir}/customer.parquet").select("c_custkey")
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .where(F.col("o_orderpriority") != "1-URGENT")
        .select("o_orderkey", "o_custkey")
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


QUERIES["q_tpch_custdist"] = q_tpch_custdist
ORACLES["q_tpch_custdist"] = """
    WITH pc AS (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
    SELECT c_count, COUNT(*) AS custdist FROM pc GROUP BY c_count"""


def q_tpch_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR of three brand/size/quantity
    conjunctions.  The join key predicate (partkey) is conjunctive, so
    Catalyst still plans a broadcast hash join on part and pushes the
    common l_quantity bound to the lineitem scan; the disjunction is
    evaluated post-join.  Money in exact decimals."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = _read_wide(spark, f"{sf_dir}/part.parquet")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    qty = F.col("l_quantity")
    c1 = (F.col("p_brand") == "Brand#11") & F.col("p_size").between(1, 15) & qty.between(1, 11)
    c2 = (F.col("p_brand") == "Brand#22") & F.col("p_size").between(1, 25) & qty.between(10, 20)
    c3 = (F.col("p_brand") == "Brand#33") & F.col("p_size").between(1, 35) & qty.between(20, 30)
    rev = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
    )
    return j.where(c1 | c2 | c3).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(rev.cast("double"), 2).alias("revenue"),
    )


QUERIES["q_tpch_disjunctive"] = q_tpch_disjunctive
ORACLES["q_tpch_disjunctive"] = """
    SELECT COUNT(*) AS n_lines,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#33' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)"""


def q_tpch_lone_returner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (EXISTS + NOT EXISTS chain): suppliers who were
    the ONLY supplier with a returned line ('R') on a finished
    multi-supplier order.  Both correlated subqueries lower to semi/anti
    joins on the orderkey with a non-equi supplier guard — three scans of
    lineitem, each aggregated/deduped before joining, never row×row."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    l1 = (
        li.where(F.col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    l2 = li.select(F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")).distinct()
    l3 = (
        li.where(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3"))
        .distinct()
    )
    cand = l1.join(
        l2, (F.col("l_orderkey") == F.col("o2")) & (F.col("l_suppkey") != F.col("s2")), "left_semi"
    )
    lone = cand.join(
        l3, (F.col("l_orderkey") == F.col("o3")) & (F.col("l_suppkey") != F.col("s3")), "left_anti"
    )
    return (
        lone.join(F.broadcast(sup), lone.l_suppkey == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


QUERIES["q_tpch_lone_returner"] = q_tpch_lone_returner
ORACLES["q_tpch_lone_returner"] = """
    WITH l1 AS (
      SELECT DISTINCT l_orderkey, l_suppkey
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_returnflag = 'R' AND o_orderstatus = 'F')
    SELECT s_name, COUNT(*) AS numwait
    FROM l1 JOIN supplier ON l_suppkey = s_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3 WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R')
    GROUP BY s_name"""


def q_tpch_idle_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers richer than the positive-balance
    average with no RECENT order (the lapsed-high-value segment).  The
    scalar AVG threshold is compared by integer cross-multiplication
    (acctbal_cents · n_pos > total_pos_cents) so the boundary is exact in
    both engines; the no-recent-orders test is a left-anti join."""
    cust = _read_wide(spark, f"{sf_dir}/customer.parquet")
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .where(F.col("o_orderdate") >= F.lit("2001-01-01"))
        .select("o_custkey")
    )
    cents = (F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
    c = cust.withColumn("__cents", cents)
    pos = c.where(F.col("__cents") > 0).agg(
        F.count(F.lit(1)).alias("np"), F.sum("__cents").alias("tot")
    ).collect()[0]
    n_pos, tot = int(pos["np"]), int(pos["tot"])
    rich = c.where(F.col("__cents") * F.lit(n_pos) > F.lit(tot))
    idle = rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
    return idle.groupBy(F.col("c_nationkey").alias("cntry")).agg(
        F.count(F.lit(1)).alias("numcust"),
        F.round((F.sum("__cents") / F.lit(100.0)), 2).alias("totacctbal"),
    )


QUERIES["q_tpch_idle_rich"] = q_tpch_idle_rich
ORACLES["q_tpch_idle_rich"] = """
    WITH c AS (SELECT *, CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
               FROM customer),
         p AS (SELECT COUNT(*) AS np, SUM(cents) AS tot FROM c WHERE cents > 0)
    SELECT c_nationkey AS cntry, COUNT(*) AS numcust,
           ROUND(SUM(cents) / 100.0, 2) AS totacctbal
    FROM c
    WHERE cents * (SELECT np FROM p) > (SELECT tot FROM p)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2001-01-01')
    GROUP BY c_nationkey"""


def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix per user session stream
    (operators/analytics.py::markov_transitions)."""
    from janus_spark.operators.analytics import markov_transitions

    ev = read_events(spark, sf_dir).select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )
    return markov_transitions(ev, key_col="user_id", state_col="event_type",
                              order_cols=["ts_ms", "event_id"])


QUERIES["q_markov_transitions"] = q_markov_transitions
ORACLES["q_markov_transitions"] = f"""
    WITH s AS (SELECT user_id, event_type, {_TSM} AS ts_ms, event_id FROM events),
         p AS (SELECT event_type AS state,
                      LEAD(event_type) OVER (PARTITION BY user_id
                                             ORDER BY ts_ms, event_id) AS next_state
               FROM s),
         cnt AS (SELECT state, next_state, COUNT(*) AS n_pairs
                 FROM p WHERE next_state IS NOT NULL GROUP BY state, next_state),
         tot AS (SELECT state, CAST(SUM(n_pairs) AS BIGINT) AS n_from FROM cnt GROUP BY state)
    SELECT state, next_state, n_pairs, n_from,
           ROUND(CAST(n_pairs AS DOUBLE) / CAST(n_from AS DOUBLE), 6) AS p
    FROM cnt JOIN tot USING (state)"""


def q_linreg_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS value trend (slope per day, intercept, r²) via
    order-free DECIMAL(38) moment sums
    (operators/timeseries.py::linreg_trend)."""
    from janus_spark.operators.timeseries import linreg_trend

    lo, _hi = _events_ts_bounds(spark, sf_dir)
    ev = read_events(spark, sf_dir).select(
        "event_type",
        (F.unix_millis(F.col("ts").cast("timestamp")) - F.lit(lo)).alias("ts_ms"),
        "value",
    )
    return linreg_trend(ev, ["event_type"], slope_unit=86_400_000)


QUERIES["q_linreg_trend"] = q_linreg_trend
ORACLES["q_linreg_trend"] = f"""
    WITH e AS (SELECT event_type,
                      CAST({_TSM} - (SELECT MIN({_TSM}) FROM events) AS HUGEINT) AS x,
                      CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT) AS y
               FROM events WHERE value IS NOT NULL),
         g AS (SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
                      SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
                      SUM(x*x) AS sxx, SUM(y*y) AS syy
               FROM e GROUP BY event_type),
         d AS (SELECT event_type, n,
                      CAST(n*sxy - sx*sy AS DOUBLE) AS covn,
                      CAST(n*sxx - sx*sx AS DOUBLE) AS vxn,
                      CAST(n*syy - sy*sy AS DOUBLE) AS vyn,
                      CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
                      CAST(n AS DOUBLE) AS nd
               FROM g)
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CASE WHEN n >= 2 AND vxn > 0
                THEN ROUND(covn / vxn * 86400000.0 / 100, 6) END AS slope,
           CASE WHEN n >= 2 AND vxn > 0
                THEN ROUND((syd - covn / vxn * sxd) / nd / 100, 6) END AS intercept,
           CASE WHEN n >= 2 AND vxn > 0 AND vyn > 0
                THEN ROUND(covn * covn / (vxn * vyn), 6) END AS r2
    FROM d"""


def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of parts minimizing (retailprice, size) — grid
    prune + exact frontier pass (operators/analytics.py::skyline2d)."""
    from janus_spark.operators.analytics import skyline2d

    part = _read_wide(spark, f"{sf_dir}/part.parquet")
    out = skyline2d(part, "p_retailprice", "p_size")
    return out.select(F.col("x").alias("price"), F.col("y").cast("long").alias("size"))


QUERIES["q_skyline"] = q_skyline
ORACLES["q_skyline"] = """
    WITH p AS (SELECT DISTINCT p_retailprice AS price, p_size AS size FROM part)
    SELECT price, CAST(size AS BIGINT) AS size FROM p a
    WHERE NOT EXISTS (
      SELECT 1 FROM p b
      WHERE b.price <= a.price AND b.size <= a.size
        AND (b.price < a.price OR b.size < a.size))"""


_BM25_QUERIES = [
    ("q1", "spark window stream"),
    ("q2", "merge hash batch"),
    ("q3", "customer query table sort"),
]


def _bm25_query_df(spark: SparkSession):
    return spark.createDataFrame(_BM25_QUERIES, ["query_id", "qtext"])


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 documents for three probe queries over the corpus
    inverted index (datapipe/retrieval.py::bm25_topk)."""
    from janus_spark.datapipe.retrieval import bm25_topk

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    return bm25_topk(docs, _bm25_query_df(spark), k=10)


_BM25_SQL_CORE = f"""
    toks AS (SELECT doc_id AS id, {{toks}} AS tk FROM documents),
    dl AS (SELECT id, len(tk) AS dl FROM toks),
    stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len FROM dl),
    tf AS (SELECT id, t, COUNT(*) AS tf
           FROM (SELECT id, unnest(tk) AS t FROM toks) GROUP BY id, t),
    dft AS (SELECT t, COUNT(*) AS dft FROM tf GROUP BY t),
    qt AS (SELECT DISTINCT query_id,
                  unnest(list_filter(string_split_regex(trim(lower(qtext)), '\\s+'),
                                     x -> x <> '')) AS t
           FROM ({{qsrc}}) AS q(query_id, qtext)),
    scored AS (
      SELECT qt.query_id, tf.id,
             ROUND(SUM(
               ln(1.0 + (CAST((SELECT n_docs FROM stats) AS DOUBLE) - dft + 0.5) / (dft + 0.5))
               * CAST(tf AS DOUBLE) * 2.2
               / (CAST(tf AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(dl * (SELECT n_docs FROM stats) AS DOUBLE)
                                  / CAST((SELECT total_len FROM stats) AS DOUBLE)))), 6) AS score
      FROM tf JOIN qt USING (t) JOIN dft USING (t) JOIN dl USING (id)
      GROUP BY qt.query_id, tf.id),
    ranked AS (SELECT query_id, id AS doc_id, score,
                      ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY score DESC, id) AS rank
               FROM scored)"""

_BM25_QVALS = "VALUES " + ", ".join(f"('{q}', '{t}')" for q, t in _BM25_QUERIES)

QUERIES["q_bm25_topk"] = q_bm25_topk
ORACLES["q_bm25_topk"] = (
    "WITH "
    + _BM25_SQL_CORE.format(toks=_TOKS, qsrc=_BM25_QVALS)
    + """
    SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank, score
    FROM ranked WHERE rank <= 10"""
)


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of a BM25 lexical ranker
    (query = text of docs 0-2) and a dense cosine ranker (query =
    embeddings 0-2, same ids) — the two-tower RAG first stage
    (datapipe/retrieval.py::rrf_fuse).  Self-hits excluded from both
    rankers."""
    from janus_spark.datapipe.retrieval import bm25_topk, rrf_fuse
    from janus_spark.datapipe.similarity import cosine_topk

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    embs = _read_wide(spark, f"{sf_dir}/embeddings.parquet")
    qdocs = docs.where("doc_id < 3").select(
        F.concat(F.lit("d"), F.col("doc_id")).alias("query_id"),
        F.col("doc_id").alias("__self"),
        F.col("text").alias("qtext"),
    )
    lex = (
        bm25_topk(docs, qdocs, k=20)
        .join(qdocs.select("query_id", "__self"), "query_id")
        .where(F.col("doc_id") != F.col("__self"))
    )
    # re-rank after the self-hit drop so ranks are 1..k-contiguous
    wl = Window.partitionBy("query_id").orderBy("rank")
    lex = lex.select("query_id", "doc_id", F.row_number().over(wl).alias("rank"))
    den = cosine_topk(embs, embs.where("vec_id < 3"), k=20).select(
        F.concat(F.lit("d"), F.col("query_id")).alias("query_id"),
        F.col("vec_id").alias("doc_id"),
        "rank",
    )
    return rrf_fuse(lex, den, k=10)


def q_bm25_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained BM25 inverted index: build from the even-doc-id half,
    fold in the odd half as a second batch, then score the probe
    queries against the maintained state — must equal a full rebuild
    over the whole corpus (datapipe/retrieval.py::IncrementalBM25Index;
    the reference recomputes per refresh,
    src/execution/historical_executor.rs — this is the Spark-first
    maintained alternative)."""
    import tempfile

    from janus_spark.datapipe.retrieval import IncrementalBM25Index

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    idx = IncrementalBM25Index(spark, tempfile.mkdtemp(prefix="bm25_inc_"))
    idx.update(docs.where("doc_id % 2 = 0"))
    idx.update(docs.where("doc_id % 2 = 1"))
    return idx.query(_bm25_query_df(spark), k=7)


QUERIES["q_bm25_incremental"] = q_bm25_incremental
ORACLES["q_bm25_incremental"] = (
    "WITH "
    + _BM25_SQL_CORE.format(toks=_TOKS, qsrc=_BM25_QVALS)
    + """
    SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank, score
    FROM ranked WHERE rank <= 7"""
)


QUERIES["q_hybrid_rrf"] = q_hybrid_rrf
ORACLES["q_hybrid_rrf"] = (
    "WITH "
    + _BM25_SQL_CORE.format(
        toks=_TOKS,
        qsrc="SELECT 'd' || CAST(doc_id AS VARCHAR), text FROM documents WHERE doc_id < 3",
    )
    + """,
    lex AS (SELECT query_id, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rank) AS rank
            FROM ranked
            WHERE rank <= 20 AND doc_id <> CAST(substr(query_id, 2) AS BIGINT)),
    dsims AS (SELECT 'd' || CAST(q.vec_id AS VARCHAR) AS query_id, e.vec_id AS doc_id,
                     list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                            CAST(e.embedding AS DOUBLE[])) AS sim
              FROM embeddings e CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 3) q
              WHERE e.vec_id <> q.vec_id),
    den AS (SELECT query_id, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, doc_id) AS rank
            FROM dsims QUALIFY rank <= 20),
    fused AS (
      SELECT COALESCE(lex.query_id, den.query_id) AS query_id,
             COALESCE(lex.doc_id, den.doc_id) AS doc_id,
             ROUND((CASE WHEN lex.rank IS NOT NULL
                         THEN 1.0 / (60.0 + CAST(lex.rank AS DOUBLE)) ELSE 0.0 END)
                   + (CASE WHEN den.rank IS NOT NULL
                           THEN 1.0 / (60.0 + CAST(den.rank AS DOUBLE)) ELSE 0.0 END), 6) AS score
      FROM lex FULL OUTER JOIN den
        ON lex.query_id = den.query_id AND lex.doc_id = den.doc_id)
    SELECT query_id, doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
           score
    FROM fused QUALIFY rank <= 10"""
)


def q_cross_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cross-correlation of event-type value series on an
    hourly grid via exact integer moment sums
    (operators/timeseries.py::cross_corr)."""
    from janus_spark.operators.timeseries import cross_corr

    ev = read_events(spark, sf_dir).select(
        "event_type",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        "value",
    )
    return cross_corr(ev)


QUERIES["q_cross_corr"] = q_cross_corr
ORACLES["q_cross_corr"] = f"""
    WITH h AS (SELECT event_type AS k, {_TSM} // 3600000 AS b,
                      SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS s
               FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         p AS (SELECT a.k AS key_a, b.k AS key_b, CAST(COUNT(*) AS HUGEINT) AS n,
                      SUM(a.s) AS sx, SUM(b.s) AS sy, SUM(a.s * b.s) AS sxy,
                      SUM(a.s * a.s) AS sxx, SUM(b.s * b.s) AS syy
               FROM h a JOIN h b ON a.b = b.b AND a.k < b.k
               GROUP BY 1, 2),
         d AS (SELECT key_a, key_b, n,
                      CAST(n*sxy - sx*sy AS DOUBLE) AS covn,
                      CAST(n*sxx - sx*sx AS DOUBLE) AS vxn,
                      CAST(n*syy - sy*sy AS DOUBLE) AS vyn
               FROM p)
    SELECT key_a, key_b, CAST(n AS BIGINT) AS n_buckets,
           CASE WHEN n >= 2 AND vxn > 0 AND vyn > 0
                THEN ROUND(covn / sqrt(vxn * vyn), 6) END AS corr
    FROM d"""


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained rollup: three batch updates into a
    versioned partial-agg store ≡ one full recompute (count/sum/avg/
    min/max in exact cents + det-HLL distinct users)
    (operators/incremental.py::IncrementalAgg)."""
    import shutil
    import tempfile

    from janus_spark.operators.incremental import IncrementalAgg

    ev = read_events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="janus_incr_")
    try:
        inc = IncrementalAgg(
            spark, f"{root}/rollup", ["event_type"], value_col="value",
            distinct_col="user_id",
        )
        for i in range(3):
            inc.update(ev.where(F.col("event_id") % 3 == i))
        out = inc.read()
        out = spark.createDataFrame(out.collect(), out.schema)  # detach from tmp files
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


QUERIES["q_incremental_agg"] = q_incremental_agg
ORACLES["q_incremental_agg"] = (
    """
    WITH c AS (SELECT event_type,
                      CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT) AS cents,
                      value
               FROM events WHERE value IS NOT NULL),
         base AS (SELECT event_type, COUNT(*) AS n,
                         SUM(cents) AS sc,
                         MIN(value) AS min_v, MAX(value) AS max_v
                  FROM c GROUP BY event_type)
    SELECT b.event_type, CAST(b.n AS BIGINT) AS n,
           ROUND(CAST(b.sc AS DOUBLE) / 100, 2) AS sum_v,
           ROUND(CAST(b.sc AS DOUBLE) / CAST(b.n AS DOUBLE) / 100, 6) AS avg_v,
           b.min_v, b.max_v, h.approx_distinct
    FROM base b JOIN ("""
    + _hll_oracle("user_id", "event_type", "grp", "events")
    + """) h ON b.event_type = h.grp"""
)


def q_live_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live windowed OLS over a REAL Structured Streaming run: tumbling
    4s windows accumulate exact DECIMAL(38) moment sums as native
    incremental state (append mode, watermark-closed); slope/intercept/
    r² finish in batch off the sink (streaming/native_agg.py::
    moment_stream + operators/timeseries.py::ols_from_moments).
    sf_dir unused: the fixture IS the stream."""
    import shutil
    import tempfile
    import uuid

    from janus_spark.operators.timeseries import ols_from_moments
    from janus_spark.streaming.native_agg import moment_stream

    fixture = spark.range(1, 61).select(
        (F.col("id") * 500).alias("ts"),
        (F.col("id") % 3).cast("string").alias("sensor"),
        (20.0 + (F.col("id") % 10)).alias("value"),
    )
    closer = spark.range(1).select(
        F.lit(95_000).cast("long").alias("ts"),
        F.lit("9").alias("sensor"),
        F.lit(25.0).alias("value"),
    )
    root = tempfile.mkdtemp(prefix="live_ols_")
    name = f"live_ols_{uuid.uuid4().hex[:8]}"
    try:
        fixture.where("ts <= 15000").coalesce(1).write.parquet(f"{root}/f1.parquet")
        fixture.where("ts > 15000").coalesce(1).write.parquet(f"{root}/f2.parquet")
        closer.coalesce(1).write.parquet(f"{root}/f3.parquet")
        stream = (
            spark.readStream.schema("ts long, sensor string, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/f*.parquet")
        )
        mom = moment_stream(stream, ["sensor"], window_ms=4_000)
        q = (
            mom.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q, 300)
        sunk = spark.table(name).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return ols_from_moments(sunk, ["window_start", "sensor"], slope_unit=1000)


QUERIES["q_live_linreg"] = q_live_linreg
ORACLES["q_live_linreg"] = """
    WITH e AS (SELECT i * 500 AS ts, CAST(i % 3 AS VARCHAR) AS sensor,
                      20 + (i % 10) AS value
               FROM range(1, 61) r(i)),
         m AS (SELECT (ts // 4000) * 4000 AS window_start, sensor,
                      CAST(COUNT(*) AS HUGEINT) AS n,
                      SUM(CAST(ts AS HUGEINT)) AS sx,
                      SUM(CAST(value * 100 AS HUGEINT)) AS sy,
                      SUM(CAST(ts AS HUGEINT) * CAST(value * 100 AS HUGEINT)) AS sxy,
                      SUM(CAST(ts AS HUGEINT) * CAST(ts AS HUGEINT)) AS sxx,
                      SUM(CAST(value * 100 AS HUGEINT) * CAST(value * 100 AS HUGEINT)) AS syy
               FROM e GROUP BY 1, 2),
         d AS (SELECT window_start, sensor, n,
                      CAST(n*sxy - sx*sy AS DOUBLE) AS covn,
                      CAST(n*sxx - sx*sx AS DOUBLE) AS vxn,
                      CAST(n*syy - sy*sy AS DOUBLE) AS vyn,
                      CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
                      CAST(n AS DOUBLE) AS nd
               FROM m)
    SELECT window_start, sensor, CAST(n AS BIGINT) AS n,
           CASE WHEN n >= 2 AND vxn > 0
                THEN ROUND(covn / vxn * 1000.0 / 100, 6) END AS slope,
           CASE WHEN n >= 2 AND vxn > 0
                THEN ROUND((syd - covn / vxn * sxd) / nd / 100, 6) END AS intercept,
           CASE WHEN n >= 2 AND vxn > 0 AND vyn > 0
                THEN ROUND(covn * covn / (vxn * vyn), 6) END AS r2
    FROM d"""


def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled harmonic centrality over the doc//2 ∪ doc//3 DAG from 5
    pivot sources — keyed multi-source BFS, exact lcm-rational 1/d sums
    (operators/graph.py::harmonic_centrality)."""
    from janus_spark.operators.graph import harmonic_centrality

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet").select("doc_id").where(
        "doc_id < 400"
    )
    e2 = docs.where("doc_id >= 1").select(
        (F.col("doc_id") / 2).cast("long").alias("src"), F.col("doc_id").alias("dst")
    )
    e3 = docs.where("doc_id >= 1").select(
        (F.col("doc_id") / 3).cast("long").alias("src"), F.col("doc_id").alias("dst")
    )
    edges = e2.unionByName(e3).where(F.col("src") != F.col("dst"))
    sources = spark.createDataFrame([(0,), (1,), (2,), (3,), (5,)], "id long")
    return harmonic_centrality(edges, sources, max_hops=12)


QUERIES["q_harmonic_centrality"] = q_harmonic_centrality
ORACLES["q_harmonic_centrality"] = """
    WITH RECURSIVE e AS (
        SELECT doc_id // 2 AS src, doc_id AS dst FROM documents
        WHERE doc_id >= 1 AND doc_id < 400
        UNION
        SELECT doc_id // 3 AS src, doc_id AS dst FROM documents
        WHERE doc_id >= 1 AND doc_id < 400
    ),
    s(source) AS (VALUES (0), (1), (2), (3), (5)),
    r AS (
        SELECT CAST(source AS BIGINT) AS source, CAST(source AS BIGINT) AS id,
               CAST(0 AS BIGINT) AS hops
        FROM s
        UNION
        SELECT r.source, e.dst, r.hops + 1 FROM r JOIN e ON e.src = r.id
        WHERE r.hops < 12 AND e.src <> e.dst
    ),
    d AS (SELECT source, id, MIN(hops) AS hops FROM r GROUP BY source, id)
    SELECT id, COUNT(*) AS n_reached,
           ROUND(CAST(SUM(27720 // hops) AS DOUBLE) / 27720.0, 6) AS harmonic
    FROM d WHERE hops > 0 GROUP BY id"""


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: each purchase credits the most
    recent click's campaign (props.k mod 5) within a 3-day lookback —
    ONE window pass, no touch×conversion join
    (operators/analytics.py::attribution)."""
    from janus_spark.operators.analytics import attribution

    ev = read_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        (F.get_json_object(F.col("props"), "$.k").cast("long") % 5).alias("campaign"),
    )
    return attribution(
        ev, "purchase", "click", lookback_ms=3 * 24 * 3_600_000, model="last"
    )


QUERIES["q_attribution"] = q_attribution
ORACLES["q_attribution"] = f"""
    WITH e AS (SELECT event_id, user_id, event_type, value, {_TSM} AS ts_ms,
                      CAST(props->>'k' AS BIGINT) % 5 AS campaign
               FROM events),
         conv AS (SELECT * FROM e WHERE event_type = 'purchase'),
         pick AS (
           SELECT c.value, t.campaign AS tc, t.ts_ms AS tt, c.ts_ms AS ct
           FROM conv c LEFT JOIN LATERAL (
              SELECT campaign, ts_ms FROM e
              WHERE event_type = 'click' AND user_id = c.user_id
                AND (ts_ms < c.ts_ms OR (ts_ms = c.ts_ms AND event_id < c.event_id))
              ORDER BY ts_ms DESC, event_id DESC LIMIT 1) t ON TRUE)
    SELECT CASE WHEN tt IS NOT NULL AND ct - tt <= {3 * 24 * 3_600_000}
                THEN tc END AS campaign,
           COUNT(*) AS n_conversions,
           ROUND(CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS DOUBLE) / 100, 2) AS revenue
    FROM pick GROUP BY 1"""


def q_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (SCD2) join: purchases joined to the user's state
    interval valid at purchase time — scd2_intervals compacts the state
    stream, and the as-of join on valid_from IS interval containment
    (pinned by the inequality-join oracle).  Same-instant state ties
    dedup to the latest event id first, so the history is deterministic."""
    from janus_spark.operators.asof import asof_join
    from janus_spark.operators.timeseries import scd2_intervals

    ev = read_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )
    w = Window.partitionBy("user_id", "ts_ms").orderBy(F.desc("event_id"))
    states = (
        ev.where(F.col("event_type") != "purchase")
        .withColumn("__rn", F.row_number().over(w))
        .where("__rn = 1")
    )
    hist = scd2_intervals(
        states, ["user_id"], "event_type", ts_col="ts_ms", tie_cols=["event_id"]
    )
    facts = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts_ms", "value"
    )
    joined = asof_join(
        facts,
        hist.select("user_id", F.col("valid_from").alias("ts_ms"), "state"),
        ts_col="ts_ms",
        by=("user_id",),
        value_cols=("state",),
    )
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("decimal(38,0)")
    return joined.groupBy(F.col("state_asof").alias("state")).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.round(F.sum(cents).cast("double") / 100, 2).alias("revenue"),
    )


QUERIES["q_temporal_join"] = q_temporal_join
ORACLES["q_temporal_join"] = f"""
    WITH e AS (SELECT event_id, user_id, event_type, value, {_TSM} AS ts_ms
               FROM events),
         st AS (SELECT user_id, event_type AS state, ts_ms, event_id
                FROM e WHERE event_type <> 'purchase'
                QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts_ms
                                           ORDER BY event_id DESC) = 1),
         ch AS (SELECT *, LAG(state) OVER (PARTITION BY user_id
                                           ORDER BY ts_ms, event_id) AS prev
                FROM st),
         iv AS (SELECT user_id, state, ts_ms AS valid_from,
                       LEAD(ts_ms) OVER (PARTITION BY user_id
                                         ORDER BY ts_ms) AS valid_to
                FROM ch WHERE prev IS NULL OR state <> prev),
         p AS (SELECT user_id, ts_ms, value FROM e WHERE event_type = 'purchase')
    SELECT iv.state, COUNT(*) AS n_purchases,
           ROUND(CAST(SUM(CAST(CAST(p.value AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS DOUBLE) / 100, 2) AS revenue
    FROM p LEFT JOIN iv ON p.user_id = iv.user_id
         AND iv.valid_from <= p.ts_ms
         AND (iv.valid_to IS NULL OR p.ts_ms < iv.valid_to)
    GROUP BY 1"""


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training hard-negative mining: for each anchor
    embedding, the top-5 most cosine-similar vectors with a DIFFERENT
    label (the informative negatives; same-label hits are positives and
    excluded).  Broadcast anchors over the corpus — the exact
    brute-force form; the LSH/IVF variants scale it the same way as the
    ANN gates."""
    from janus_spark.datapipe.similarity import cosine_topk

    embs = _read_wide(spark, f"{sf_dir}/embeddings.parquet")
    anchors = embs.where("vec_id < 5")
    sims = cosine_topk(embs, anchors, k=None)  # all ranked candidates
    labels = embs.select("vec_id", "label")
    a_lab = anchors.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("a_label")
    )
    out = (
        sims.join(F.broadcast(a_lab), "query_id")
        .join(labels, "vec_id")
        .where(F.col("label") != F.col("a_label"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        out.withColumn("nrank", F.row_number().over(w))
        .where("nrank <= 5")
        .select(
            "query_id",
            "vec_id",
            F.col("nrank").cast("long").alias("nrank"),
            F.round("sim", 6).alias("sim"),
        )
    )


QUERIES["q_hard_negatives"] = q_hard_negatives
ORACLES["q_hard_negatives"] = """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS a_label
               FROM embeddings WHERE vec_id < 5),
         sims AS (
           SELECT q.query_id, e.vec_id,
                  list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS sim
           FROM embeddings e CROSS JOIN q
           WHERE e.vec_id <> q.query_id AND e.label <> q.a_label),
         ranked AS (
           SELECT query_id, vec_id, sim,
                  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS nrank
           FROM sims)
    SELECT query_id, vec_id, CAST(nrank AS BIGINT) AS nrank, ROUND(sim, 6) AS sim
    FROM ranked WHERE nrank <= 5"""


def q_live_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous last-touch attribution under the EXACT gate: per-user
    last-touch state crosses three real micro-batches (clicks in b1,
    early purchases in b2 + a campaign switch for u%3==0, late purchases
    in b3 falling outside the 100ms lookback).  sf_dir unused: the
    fixture IS the stream (streaming/stateful.py::streaming_attribution)."""
    import shutil
    import tempfile
    import uuid

    from janus_spark.streaming.stateful import streaming_attribution

    u = spark.range(0, 40)
    b1 = u.selectExpr(
        "CAST(id AS STRING) AS user", "CAST(100*id + 10 AS DOUBLE) AS ts",
        "'click' AS event", "'c' || CAST(id % 3 AS STRING) AS campaign",
        "CAST(NULL AS DOUBLE) AS value",
    )
    b2 = u.where("id % 2 = 0").selectExpr(
        "CAST(id AS STRING) AS user", "CAST(100*id + 20 AS DOUBLE) AS ts",
        "'purchase' AS event", "CAST(NULL AS STRING) AS campaign",
        "CAST(12.5 AS DOUBLE) AS value",
    ).unionByName(
        u.where("id % 3 = 0").selectExpr(
            "CAST(id AS STRING) AS user", "CAST(100*id + 30 AS DOUBLE) AS ts",
            "'click' AS event", "'x' AS campaign", "CAST(NULL AS DOUBLE) AS value",
        )
    )
    b3 = u.where("id % 4 = 0").selectExpr(
        "CAST(id AS STRING) AS user", "CAST(100*id + 40 AS DOUBLE) AS ts",
        "'purchase' AS event", "CAST(NULL AS STRING) AS campaign",
        "CAST(3.25 AS DOUBLE) AS value",
    ).unionByName(
        u.where("id % 7 = 0").selectExpr(
            "CAST(id AS STRING) AS user", "CAST(100*id + 100000 AS DOUBLE) AS ts",
            "'purchase' AS event", "CAST(NULL AS STRING) AS campaign",
            "CAST(1.0 AS DOUBLE) AS value",
        )
    )
    root = tempfile.mkdtemp(prefix="live_attr_")
    name = f"live_attr_{uuid.uuid4().hex[:8]}"
    try:
        for i, b in enumerate([b1, b2, b3]):
            b.coalesce(1).write.parquet(f"{root}/b{i}.parquet")
        stream = (
            spark.readStream.schema(
                "user string, ts double, event string, campaign string, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/b*.parquet")
        )
        out = streaming_attribution(stream, "purchase", "click", lookback_ms=100.0)
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{root}/ck")
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q, 300)
        res = spark.table(name).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return res.select("user", "ts", "campaign", "value")


QUERIES["q_live_attribution"] = q_live_attribution
ORACLES["q_live_attribution"] = """
    SELECT CAST(id AS VARCHAR) AS user, CAST(100*id + 20 AS DOUBLE) AS ts,
           'c' || CAST(id % 3 AS VARCHAR) AS campaign, CAST(12.5 AS DOUBLE) AS value
    FROM range(0, 40) t(id) WHERE id % 2 = 0
    UNION ALL
    SELECT CAST(id AS VARCHAR), CAST(100*id + 40 AS DOUBLE),
           CASE WHEN id % 3 = 0 THEN 'x' ELSE 'c' || CAST(id % 3 AS VARCHAR) END,
           CAST(3.25 AS DOUBLE)
    FROM range(0, 40) t(id) WHERE id % 4 = 0
    UNION ALL
    SELECT CAST(id AS VARCHAR), CAST(100*id + 100000 AS DOUBLE),
           CAST(NULL AS VARCHAR), CAST(1.0 AS DOUBLE)
    FROM range(0, 40) t(id) WHERE id % 7 = 0"""


def q_expr_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 hash/term builtins (MD5, SHA256, LANG, DATATYPE) as
    projected expressions — the remaining Oxigraph-inherited function
    surface (compiler/expressions.py)."""
    q = """SELECT ?e (MD5(?t) AS ?h_md5) (SHA256(?t) AS ?h_sha)
                  (LANG(?t) AS ?lang_tag) (DATATYPE(?t) AS ?dt)
           WHERE { ?e <urn:col:event_type> ?t . }"""
    df = _run(_events_quads(spark, sf_dir), q, _events_ptr(spark, sf_dir))
    return df.select("e", "h_md5", "h_sha", "lang_tag", "dt")


QUERIES["q_expr_hash"] = q_expr_hash
ORACLES["q_expr_hash"] = f"""
    SELECT {_EV} AS e, md5(event_type) AS h_md5, sha256(event_type) AS h_sha,
           '' AS lang_tag, 'http://www.w3.org/2001/XMLSchema#string' AS dt
    FROM events"""


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-training prep: top-30 adjacent character pairs
    within corpus words (datapipe/text.py::char_pair_counts) — the first
    merge-candidate table; one map+aggregate pass, no UDFs."""
    from janus_spark.datapipe.text import char_pair_counts

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    return char_pair_counts(docs, k=30)


QUERIES["q_bpe_pairs"] = q_bpe_pairs
ORACLES["q_bpe_pairs"] = f"""
    WITH w AS (SELECT unnest({_TOKS}) AS w FROM documents),
         p AS (SELECT substr(w, CAST(i AS INT), 2) AS pair
               FROM w, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) g
               WHERE len(w) >= 2),
         c AS (SELECT pair, COUNT(*) AS n FROM p GROUP BY pair)
    SELECT pair, n FROM c
    QUALIFY ROW_NUMBER() OVER (ORDER BY n DESC, pair) <= 30"""


def q_skyline3d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-D Pareto frontier over per-part sourcing stats (minimize size,
    min unit price, min quantity-weighted discount rank): sample-witness
    map-side prune → exact anti-join on frontier-scale survivors
    (operators/analytics.py::skyline)."""
    from janus_spark.operators.analytics import skyline

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = _read_wide(spark, f"{sf_dir}/part.parquet")
    stats = li.groupBy("l_partkey").agg(
        F.min("l_extendedprice").alias("min_price"),
        F.min("l_discount").alias("min_disc"),
    )
    # part-cardinality stats frame: materialize once so the skyline's
    # bounds/grid/filter passes don't re-run the lineitem aggregate
    pts = (
        part.join(stats, part.p_partkey == stats.l_partkey)
        .select(F.col("p_size").cast("long").alias("size"), "min_price", "min_disc")
        .localCheckpoint(eager=True)
    )
    return skyline(pts, ["size", "min_price", "min_disc"])


QUERIES["q_skyline3d"] = q_skyline3d
ORACLES["q_skyline3d"] = """
    WITH s AS (SELECT l_partkey, MIN(l_extendedprice) AS min_price,
                      MIN(l_discount) AS min_disc
               FROM lineitem GROUP BY l_partkey),
         p AS (SELECT DISTINCT CAST(p_size AS BIGINT) AS size, min_price, min_disc
               FROM part JOIN s ON p_partkey = l_partkey)
    SELECT size, min_price, min_disc FROM p a
    WHERE NOT EXISTS (
      SELECT 1 FROM p b
      WHERE b.size <= a.size AND b.min_price <= a.min_price
        AND b.min_disc <= a.min_disc
        AND (b.size < a.size OR b.min_price < a.min_price
             OR b.min_disc < a.min_disc))"""


def q_scene_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video scene-change detection over the fake-decoded corpus
    (doc_id%3==2 are 'videos', doc_id<30): frame-delta threshold cuts →
    per-scene summaries (datapipe/multimodal.py::scene_changes).
    Feature model is the shared md5 hash family, so the gate is EXACT."""
    from janus_spark.datapipe.multimodal import decode_media, documents_as_media, scene_changes

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet").where("doc_id < 30")
    decoded = decode_media(documents_as_media(docs)).where(
        F.col("media_type") == "video"
    )
    return scene_changes(decoded)


QUERIES["q_scene_changes"] = q_scene_changes
ORACLES["q_scene_changes"] = f"""
    WITH m AS (SELECT doc_id AS media_id, doc_id % 3 AS mt,
                      CAST(1 + {_MM_H} % 300 AS BIGINT) AS nf
               FROM documents WHERE doc_id < 30),
         fr AS (SELECT media_id,
                       CAST(unnest(generate_series(0, nf - 1)) AS BIGINT) AS frame_index
                FROM m WHERE mt = 2),
         lu AS (SELECT media_id, frame_index,
                       (('0x' || substr(md5(CAST(media_id AS VARCHAR) || ':' ||
                                        CAST(frame_index AS VARCHAR)), 1, 15))::BIGINT
                        % 1000) / 1000.0 AS lum
                FROM fr),
         c AS (SELECT media_id, frame_index,
                      CASE WHEN LAG(lum) OVER w IS NULL THEN 0
                           WHEN ABS(lum - LAG(lum) OVER w) > 0.4 THEN 1
                           ELSE 0 END AS cut
               FROM lu WINDOW w AS (PARTITION BY media_id ORDER BY frame_index)),
         s AS (SELECT media_id, frame_index,
                      1 + SUM(cut) OVER (PARTITION BY media_id ORDER BY frame_index
                                         ROWS UNBOUNDED PRECEDING) AS scene_id
               FROM c)
    SELECT media_id, CAST(scene_id AS BIGINT) AS scene_id,
           MIN(frame_index) AS start_frame, COUNT(*) AS n_frames
    FROM s GROUP BY media_id, scene_id"""


def q_live_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live OHLC bars over a REAL Structured Streaming run: tumbling 4s
    windows maintain open/high/low/close as native incremental state
    (min_by/max_by witness structs, append mode, watermark-closed) —
    the continuous form of q_ohlc_resample
    (streaming/native_agg.py::ohlc_stream).  sf_dir unused."""
    import shutil
    import tempfile
    import uuid

    from janus_spark.streaming.native_agg import ohlc_stream

    fixture = spark.range(1, 61).select(
        (F.col("id") * 500).alias("ts"),
        F.col("id").alias("event_id"),
        (F.col("id") % 3).cast("string").alias("sensor"),
        (20.0 + ((F.col("id") * 7) % 13)).alias("value"),
    )
    closer = spark.range(1).select(
        F.lit(95_000).cast("long").alias("ts"),
        F.lit(999).alias("event_id"),
        F.lit("9").alias("sensor"),
        F.lit(25.0).alias("value"),
    )
    root = tempfile.mkdtemp(prefix="live_ohlc_")
    name = f"live_ohlc_{uuid.uuid4().hex[:8]}"
    try:
        fixture.where("ts <= 15000").coalesce(1).write.parquet(f"{root}/f1.parquet")
        fixture.where("ts > 15000").coalesce(1).write.parquet(f"{root}/f2.parquet")
        closer.coalesce(1).write.parquet(f"{root}/f3.parquet")
        stream = (
            spark.readStream.schema("ts long, event_id long, sensor string, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/f*.parquet")
        )
        bars = ohlc_stream(stream, ["sensor"], window_ms=4_000)
        q = (
            bars.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q, 300)
        res = spark.table(name).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return res.select("window_start", "sensor", "n", "open", "high", "low", "close")


QUERIES["q_live_ohlc"] = q_live_ohlc
ORACLES["q_live_ohlc"] = """
    WITH e AS (SELECT i * 500 AS ts, i AS event_id, CAST(i % 3 AS VARCHAR) AS sensor,
                      CAST(20.0 + ((i * 7) % 13) AS DOUBLE) AS value
               FROM range(1, 61) r(i)),
         b AS (SELECT *, (ts // 4000) * 4000 AS ws,
                      ROW_NUMBER() OVER (PARTITION BY sensor, ts // 4000
                                         ORDER BY ts, event_id) AS ra,
                      ROW_NUMBER() OVER (PARTITION BY sensor, ts // 4000
                                         ORDER BY ts DESC, event_id DESC) AS rd
               FROM e)
    SELECT ws AS window_start, sensor, COUNT(*) AS n,
           MIN(CASE WHEN ra = 1 THEN value END) AS open,
           MAX(value) AS high, MIN(value) AS low,
           MIN(CASE WHEN rd = 1 THEN value END) AS close
    FROM b GROUP BY ws, sensor"""


def q_live_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live windowed approx-distinct over a REAL Structured Streaming
    run: det-HLL registers maintained as native incremental MAX state
    (append mode, watermark-closed); estimates finish in batch off the
    sink and are oracle-EXACT because the sketch is the engine-portable
    md5-family one (streaming/native_agg.py::hll_register_stream).
    sf_dir unused."""
    import shutil
    import tempfile
    import uuid

    from janus_spark.functions.sketches import hll_det_estimate
    from janus_spark.streaming.native_agg import hll_register_stream

    fixture = spark.range(1, 61).select(
        (F.col("id") * 500).alias("ts"),
        (F.col("id") % 3).cast("string").alias("sensor"),
        (F.col("id") % 7).cast("string").alias("value"),
    )
    closer = spark.range(1).select(
        F.lit(95_000).cast("long").alias("ts"),
        F.lit("9").alias("sensor"),
        F.lit("z").alias("value"),
    )
    root = tempfile.mkdtemp(prefix="live_hll_")
    name = f"live_hll_{uuid.uuid4().hex[:8]}"
    try:
        fixture.where("ts <= 15000").coalesce(1).write.parquet(f"{root}/f1.parquet")
        fixture.where("ts > 15000").coalesce(1).write.parquet(f"{root}/f2.parquet")
        closer.coalesce(1).write.parquet(f"{root}/f3.parquet")
        stream = (
            spark.readStream.schema("ts long, sensor string, value string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/f*.parquet")
        )
        regs = hll_register_stream(stream, ["sensor"], window_ms=4_000)
        q = (
            regs.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q, 300)
        sunk = spark.table(name).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return hll_det_estimate(sunk, ["window_start", "sensor"])


QUERIES["q_live_hll"] = q_live_hll


from janus_spark.functions.sketches import hll_det_oracle_sql as _hll_sql_live

ORACLES["q_live_hll"] = (
    "WITH est AS ("
    + _hll_sql_live("v", "ws || '|' || sensor", '(SELECT (i*500 // 4000) * 4000 AS ws, CAST(i % 3 AS VARCHAR) AS sensor, CAST(i % 7 AS VARCHAR) AS v FROM range(1, 61) r(i))')
    + """)
    SELECT CAST(string_split(grp, '|')[1] AS BIGINT) AS window_start,
           string_split(grp, '|')[2] AS sensor, approx_distinct
    FROM est"""
)


def q_match_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP sequence matching: count view→click+→purchase runs per user
    (gap events break adjacency) over the events stream
    (operators/analytics.py::match_pattern)."""
    from janus_spark.operators.analytics import match_pattern

    ev = read_events(spark, sf_dir).select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )
    return match_pattern(
        ev,
        pattern="vc+p",
        symbols={"view": "v", "click": "c", "purchase": "p"},
    )


QUERIES["q_match_pattern"] = q_match_pattern
ORACLES["q_match_pattern"] = f"""
    WITH e AS (SELECT user_id, event_id, event_type, {_TSM} AS ts_ms FROM events),
         s AS (SELECT user_id,
                      string_agg(CASE event_type WHEN 'view' THEN 'v'
                                 WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
                                 ELSE chr(1) END, '' ORDER BY ts_ms, event_id) AS str,
                      COUNT(*) AS n_events
               FROM e GROUP BY user_id)
    SELECT user_id, n_events,
           CAST(len(regexp_extract_all(str, 'vc+p')) AS INT) AS n_matches
    FROM s WHERE len(regexp_extract_all(str, 'vc+p')) > 0"""


def q_live_match_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous CEP under the EXACT gate: view→click+→purchase runs
    complete ACROSS three real micro-batches (clicks land one per
    batch; per-user suffix state carries the partial match)
    (streaming/stateful.py::streaming_match_pattern).  sf_dir unused."""
    import shutil
    import tempfile
    import uuid

    from janus_spark.streaming.stateful import streaming_match_pattern

    u = spark.range(0, 20)
    b1 = u.selectExpr(
        "CAST(id AS STRING) AS user", "CAST(10 AS DOUBLE) AS ts", "'view' AS event"
    ).unionByName(
        u.where("id % 2 = 0").selectExpr(
            "CAST(id AS STRING) AS user", "CAST(20 AS DOUBLE) AS ts", "'click' AS event"
        )
    )
    b2 = u.where("id % 2 = 0").selectExpr(
        "CAST(id AS STRING) AS user", "CAST(30 AS DOUBLE) AS ts", "'click' AS event"
    ).unionByName(
        u.where("id % 4 = 0").selectExpr(
            "CAST(id AS STRING) AS user", "CAST(40 AS DOUBLE) AS ts", "'purchase' AS event"
        )
    )
    b3 = u.where("id % 4 = 2").selectExpr(
        "CAST(id AS STRING) AS user", "CAST(50 AS DOUBLE) AS ts", "'purchase' AS event"
    ).unionByName(
        u.where("id % 2 = 1").selectExpr(
            "CAST(id AS STRING) AS user", "CAST(60 AS DOUBLE) AS ts", "'purchase' AS event"
        )  # no click ever: must NOT match
    )
    root = tempfile.mkdtemp(prefix="live_cep_")
    name = f"live_cep_{uuid.uuid4().hex[:8]}"
    try:
        for i, b in enumerate([b1, b2, b3]):
            b.coalesce(1).write.parquet(f"{root}/b{i}.parquet")
        stream = (
            spark.readStream.schema("user string, ts double, event string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/b*.parquet")
        )
        out = streaming_match_pattern(
            stream, "vc+p", {"view": "v", "click": "c", "purchase": "p"}
        )
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{root}/ck")
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q, 300)
        res = spark.table(name).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return res.select("user", "ts", "n_new", "n_total")


QUERIES["q_live_match_pattern"] = q_live_match_pattern
ORACLES["q_live_match_pattern"] = """
    SELECT CAST(id AS VARCHAR) AS user, CAST(40 AS DOUBLE) AS ts,
           CAST(1 AS BIGINT) AS n_new, CAST(1 AS BIGINT) AS n_total
    FROM range(0, 20) t(id) WHERE id % 4 = 0
    UNION ALL
    SELECT CAST(id AS VARCHAR), CAST(50 AS DOUBLE), 1, 1
    FROM range(0, 20) t(id) WHERE id % 4 = 2"""


def q_live_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained materialized rollup: a real Structured
    Streaming run folds each micro-batch into the versioned
    IncrementalAgg store via foreachBatch — the streaming MV pattern
    (state = the mergeable partial table itself, not executor memory;
    restart-safe because update() is idempotent per version and
    associative across batches).  Final read() ≡ full recompute, which
    is what the oracle checks.  sf_dir unused: the fixture IS the
    stream."""
    import shutil
    import tempfile
    import uuid

    from janus_spark.operators.incremental import IncrementalAgg

    fixture = spark.range(1, 61).select(
        (F.col("id") * 500).alias("ts"),
        (F.col("id") % 3).cast("string").alias("sensor"),
        (20.0 + (F.col("id") % 10)).alias("value"),
        (F.col("id") % 7).alias("user_id"),
    )
    root = tempfile.mkdtemp(prefix="live_mv_")
    name = f"live_mv_{uuid.uuid4().hex[:8]}"
    try:
        for i, cond in enumerate(["ts <= 10000", "ts > 10000 AND ts <= 20000", "ts > 20000"]):
            fixture.where(cond).coalesce(1).write.parquet(f"{root}/b{i}.parquet")
        inc = IncrementalAgg(
            spark, f"{root}/rollup", ["sensor"], value_col="value",
            distinct_col="user_id",
        )
        stream = (
            spark.readStream.schema("ts long, sensor string, value double, user_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/b*.parquet")
        )
        q = (
            stream.writeStream.foreachBatch(lambda df, _id: inc.update(df))
            .option("checkpointLocation", f"{root}/ck")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q, 300)
        out = inc.read()
        return spark.createDataFrame(out.collect(), out.schema)  # detach from tmp
    finally:
        shutil.rmtree(root, ignore_errors=True)


QUERIES["q_live_rollup"] = q_live_rollup
ORACLES["q_live_rollup"] = (
    """
    WITH e AS (SELECT CAST(i % 3 AS VARCHAR) AS sensor,
                      CAST(20.0 + (i % 10) AS DOUBLE) AS value,
                      i % 7 AS user_id
               FROM range(1, 61) r(i)),
         c AS (SELECT sensor, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT) AS cents,
                      value, user_id FROM e),
         base AS (SELECT sensor, COUNT(*) AS n, SUM(cents) AS sc,
                         MIN(value) AS min_v, MAX(value) AS max_v
                  FROM c GROUP BY sensor)
    SELECT b.sensor, CAST(b.n AS BIGINT) AS n,
           ROUND(CAST(b.sc AS DOUBLE) / 100, 2) AS sum_v,
           ROUND(CAST(b.sc AS DOUBLE) / CAST(b.n AS DOUBLE) / 100, 6) AS avg_v,
           b.min_v, b.max_v, h.approx_distinct
    FROM base b JOIN ("""
    + _hll_oracle(
        "user_id",
        "sensor",
        "grp",
        "(SELECT CAST(i % 3 AS VARCHAR) AS sensor, i % 7 AS user_id FROM range(1, 61) r(i))",
    )
    + """) h ON b.sensor = h.grp"""
)


def q_contamination_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: corpus vectors within cosine
    0.3 of any held-out 'benchmark' vector (ids ≥ max-5) — the
    paraphrase-robust complement of the exact/n-gram decontamination
    gates (datapipe/similarity.py::semantic_contamination).  Benchmark
    broadcast, corpus scanned once map-side."""
    from janus_spark.datapipe.similarity import semantic_contamination

    embs = _read_wide(spark, f"{sf_dir}/embeddings.parquet")
    mx = embs.agg(F.max("vec_id")).collect()[0][0]
    bench = embs.where(F.col("vec_id") > mx - 5)
    corpus = embs.where(F.col("vec_id") <= mx - 5)
    return semantic_contamination(corpus, bench, threshold=0.3)


QUERIES["q_contamination_semantic"] = q_contamination_semantic
ORACLES["q_contamination_semantic"] = """
    WITH mx AS (SELECT MAX(vec_id) AS m FROM embeddings),
         b AS (SELECT vec_id AS bench_id, embedding AS bv FROM embeddings
               WHERE vec_id > (SELECT m FROM mx) - 5),
         c AS (SELECT vec_id, embedding AS cv FROM embeddings
               WHERE vec_id <= (SELECT m FROM mx) - 5),
         s AS (SELECT c.vec_id, b.bench_id,
                      ROUND(list_cosine_similarity(CAST(c.cv AS DOUBLE[]),
                                                   CAST(b.bv AS DOUBLE[])), 6) AS sim
               FROM c CROSS JOIN b),
         best AS (SELECT vec_id, sim AS max_sim, bench_id AS matched_benchmark_id
                  FROM s
                  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                             ORDER BY sim DESC, bench_id) = 1)
    SELECT vec_id, max_sim, matched_benchmark_id FROM best WHERE max_sim >= 0.3"""


def q_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the supplier↔part graph: edge weight =
    lineitem multiplicity per pair, so heavy trade lanes carry
    proportionally more rank (operators/graph.py::pagerank with
    weight=)."""
    from janus_spark.operators.graph import pagerank

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    fwd = li.groupBy(
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
    ).agg(F.count(F.lit(1)).alias("w"))
    back = fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    n = fwd.select("src").unionByName(fwd.select(F.col("dst").alias("src"))).distinct().count()
    out = pagerank(fwd.unionByName(back), iterations=3, weight="w")
    return out.select("id", F.round(F.col("rank") * n, 6).alias("rank_x_n"))


QUERIES["q_pagerank_weighted"] = q_pagerank_weighted
_PRW_EDGES = """
        fwd AS (
            SELECT 's' || l_suppkey AS src, 'p' || l_partkey AS dst,
                   COUNT(*) AS w
            FROM lineitem GROUP BY 1, 2),
        edges AS (SELECT src, dst, CAST(w AS DOUBLE) AS w FROM fwd
                  UNION ALL
                  SELECT dst, src, CAST(w AS DOUBLE) AS w FROM fwd),
        nodes AS (SELECT DISTINCT src AS id FROM edges),
        deg AS (SELECT src AS id, SUM(w) AS deg FROM edges GROUP BY src),
        c AS (SELECT COUNT(*) AS n FROM nodes)"""
_PRW_STEP = """
        r{next} AS (
            SELECT e.dst AS id,
                   0.15 / (SELECT n FROM c)
                   + 0.85 * SUM(r.rank * e.w / d.deg) AS rank
            FROM edges e
            JOIN r{cur} r ON r.id = e.src
            JOIN deg d ON d.id = e.src
            GROUP BY e.dst)"""
ORACLES["q_pagerank_weighted"] = (
    "WITH " + _PRW_EDGES + ","
    + "r0 AS (SELECT id, 1.0 / (SELECT n FROM c) AS rank FROM nodes),"
    + ",".join(_PRW_STEP.format(cur=i, next=i + 1) for i in range(3))
    + " SELECT id, ROUND(rank * (SELECT n FROM c), 6) AS rank_x_n FROM r3"
)


def q_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality validation report over orders/lineitem
    (not-null, set membership, range, regex, uniqueness, referential
    integrity) — one conditional-aggregate scan for the row rules
    (datapipe/validate.py::validate)."""
    from janus_spark.datapipe.validate import validate

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return validate(
        lineitem,
        [
            ("not_null", "l_orderkey"),
            ("in_set", "l_returnflag", ["A", "N", "R"]),
            ("in_range", "l_discount", 0.0, 0.1),
            ("in_range", "l_quantity", 1, 45),          # planted violations
            ("matches", "l_linestatus", "^[OF]$"),
            ("unique", "l_orderkey"),                    # multi-line orders violate
            ("foreign_key", "l_orderkey", orders, "o_orderkey"),
        ],
    )


QUERIES["q_validate"] = q_validate
ORACLES["q_validate"] = """
    SELECT 'unique' AS rule, 'l_orderkey' AS "column",
           (SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) FROM
              (SELECT COUNT(*) AS c FROM lineitem WHERE l_orderkey IS NOT NULL
               GROUP BY l_orderkey)) AS n_violations
    UNION ALL
    SELECT 'foreign_key', 'l_orderkey',
           (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NOT NULL
              AND l_orderkey NOT IN (SELECT o_orderkey FROM orders))
    UNION ALL
    SELECT 'not_null', 'l_orderkey',
           (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL)
    UNION ALL
    SELECT 'in_set', 'l_returnflag',
           (SELECT COUNT(*) FROM lineitem WHERE l_returnflag IS NOT NULL
              AND l_returnflag NOT IN ('A', 'N', 'R'))
    UNION ALL
    SELECT 'in_range', 'l_discount',
           (SELECT COUNT(*) FROM lineitem WHERE l_discount IS NOT NULL
              AND (l_discount < 0.0 OR l_discount > 0.1))
    UNION ALL
    SELECT 'in_range', 'l_quantity',
           (SELECT COUNT(*) FROM lineitem WHERE l_quantity IS NOT NULL
              AND (l_quantity < 1 OR l_quantity > 45))
    UNION ALL
    SELECT 'matches', 'l_linestatus',
           (SELECT COUNT(*) FROM lineitem WHERE l_linestatus IS NOT NULL
              AND NOT regexp_full_match(l_linestatus, '^[OF]$'))
"""
ORACLES["q_validate"] = (
    "SELECT rule, \"column\", n_violations, n_violations = 0 AS passed FROM ("
    + ORACLES["q_validate"]
    + ")"
)


def q_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness / completeness report per event type: expected
    hourly slots over the observed span vs hours with data — missing
    hour count, longest gap (hours), and staleness at the observation
    horizon.  The monitoring view over the same grid machinery as
    gapfill/LOCF (one aggregate + one per-type grid anti-join on a
    frame of |types|×|hours| rows, never event-cardinality)."""
    ev = read_events(spark, sf_dir).select(
        "event_type", F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms")
    )
    hour = 3_600_000
    b = ev.agg(F.min("ts_ms").alias("lo"), F.max("ts_ms").alias("hi")).collect()[0]
    lo_h, hi_h = b["lo"] // hour, b["hi"] // hour
    per_type = ev.groupBy("event_type").agg(
        (F.max("ts_ms")).alias("last_ts"),
        F.countDistinct(F.expr(f"ts_ms DIV {hour}")).alias("hours_with_data"),
    )
    grid = per_type.select("event_type").crossJoin(
        spark.range(lo_h, hi_h + 1).select(F.col("id").alias("h"))
    )
    present = ev.select("event_type", F.expr(f"ts_ms DIV {hour}").alias("h")).distinct()
    missing = grid.join(present, ["event_type", "h"], "left_anti")
    w = Window.partitionBy("event_type").orderBy("h")
    runs = (
        missing.withColumn("__grp", F.col("h") - F.row_number().over(w))
        .groupBy("event_type", "__grp")
        .agg(F.count(F.lit(1)).alias("run"))
        .groupBy("event_type")
        .agg(F.max("run").alias("longest_gap_hours"), F.sum("run").alias("missing_hours"))
    )
    n_slots = int(hi_h - lo_h + 1)
    return (
        per_type.join(runs, "event_type", "left")
        .select(
            "event_type",
            F.col("hours_with_data").cast("long").alias("hours_with_data"),
            F.coalesce(F.col("missing_hours"), F.lit(0)).cast("long").alias("missing_hours"),
            F.coalesce(F.col("longest_gap_hours"), F.lit(0)).cast("long").alias("longest_gap_hours"),
            (F.lit(int(b["hi"])) - F.col("last_ts")).alias("staleness_ms"),
            F.lit(n_slots).cast("long").alias("n_slots"),
        )
    )


QUERIES["q_freshness"] = q_freshness
ORACLES["q_freshness"] = f"""
    WITH e AS (SELECT event_type, {_TSM} AS ts_ms FROM events),
         b AS (SELECT MIN(ts_ms) // 3600000 AS lo, MAX(ts_ms) // 3600000 AS hi,
                      MAX(ts_ms) AS hi_ts FROM e),
         pt AS (SELECT event_type, MAX(ts_ms) AS last_ts,
                       COUNT(DISTINCT ts_ms // 3600000) AS hours_with_data
                FROM e GROUP BY event_type),
         grid AS (SELECT event_type, h
                  FROM pt, LATERAL (SELECT unnest(generate_series((SELECT lo FROM b),
                                                                  (SELECT hi FROM b))) AS h) g),
         present AS (SELECT DISTINCT event_type, ts_ms // 3600000 AS h FROM e),
         miss AS (SELECT g.event_type, g.h,
                         g.h - ROW_NUMBER() OVER (PARTITION BY g.event_type ORDER BY g.h) AS grp
                  FROM grid g LEFT JOIN present p
                    ON g.event_type = p.event_type AND g.h = p.h
                  WHERE p.h IS NULL),
         runs AS (SELECT event_type, MAX(run) AS longest_gap_hours,
                         CAST(SUM(run) AS BIGINT) AS missing_hours
                  FROM (SELECT event_type, grp, COUNT(*) AS run
                        FROM miss GROUP BY event_type, grp)
                  GROUP BY event_type)
    SELECT pt.event_type, pt.hours_with_data,
           COALESCE(r.missing_hours, 0) AS missing_hours,
           COALESCE(r.longest_gap_hours, 0) AS longest_gap_hours,
           (SELECT hi_ts FROM b) - pt.last_ts AS staleness_ms,
           (SELECT hi - lo + 1 FROM b) AS n_slots
    FROM pt LEFT JOIN runs r USING (event_type)"""


def q_funnel_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert percentiles per funnel transition
    (view→click→purchase, earliest-completion greedy)
    (operators/analytics.py::funnel_times)."""
    from janus_spark.operators.analytics import funnel_times

    ev = read_events(spark, sf_dir).select(
        "user_id",
        "event_type",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )
    return funnel_times(ev, ["view", "click", "purchase"])


QUERIES["q_funnel_time"] = q_funnel_time
ORACLES["q_funnel_time"] = f"""
    WITH e AS (SELECT user_id AS u, event_type AS ev, {_TSM} AS t FROM events),
         s1 AS (SELECT u, MIN(t) AS tk FROM e WHERE ev = 'view' GROUP BY u),
         s2 AS (SELECT e.u, MIN(e.t) AS t_next, MAX(s1.tk) AS tk_prev
                FROM e JOIN s1 ON e.u = s1.u
                WHERE e.ev = 'click' AND e.t > s1.tk GROUP BY e.u),
         s3 AS (SELECT e.u, MIN(e.t) AS t_next, MAX(s2.t_next) AS tk_prev
                FROM e JOIN s2 ON e.u = s2.u
                WHERE e.ev = 'purchase' AND e.t > s2.t_next GROUP BY e.u)
    SELECT CAST(2 AS BIGINT) AS step, 'view' AS from_step, 'click' AS to_step,
           COUNT(*) AS n_users,
           ROUND(quantile_cont(t_next - tk_prev, 0.5), 6) AS p50_ms,
           ROUND(quantile_cont(t_next - tk_prev, 0.9), 6) AS p90_ms
    FROM s2
    UNION ALL
    SELECT 3, 'click', 'purchase', COUNT(*),
           ROUND(quantile_cont(t_next - tk_prev, 0.5), 6),
           ROUND(quantile_cont(t_next - tk_prev, 0.9), 6)
    FROM s3"""


def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment readout per event type: variant a/b from props.k
    parity, mean difference + Welch t from order-free integer moments
    (operators/analytics.py::ab_test)."""
    from janus_spark.operators.analytics import ab_test

    ev = read_events(spark, sf_dir).select(
        "event_type",
        "value",
        F.when(F.get_json_object(F.col("props"), "$.k").cast("long") % 2 == 0, "a")
        .otherwise("b")
        .alias("variant"),
    )
    return ab_test(ev, "variant", group_cols=["event_type"])


QUERIES["q_ab_test"] = q_ab_test
ORACLES["q_ab_test"] = """
    WITH e AS (SELECT event_type,
                      CASE WHEN CAST(props->>'k' AS BIGINT) % 2 = 0
                           THEN 'a' ELSE 'b' END AS variant,
                      CAST(CAST(value AS DECIMAL(18,2)) * 100 AS HUGEINT) AS c
               FROM events WHERE value IS NOT NULL),
         g AS (SELECT event_type,
                      CAST(COUNT(*) FILTER (variant = 'a') AS HUGEINT) AS na,
                      CAST(COUNT(*) FILTER (variant = 'b') AS HUGEINT) AS nb,
                      COALESCE(SUM(c) FILTER (variant = 'a'), 0) AS sa,
                      COALESCE(SUM(c) FILTER (variant = 'b'), 0) AS sb,
                      COALESCE(SUM(c * c) FILTER (variant = 'a'), 0) AS qa,
                      COALESCE(SUM(c * c) FILTER (variant = 'b'), 0) AS qb
               FROM e GROUP BY event_type),
         d AS (SELECT event_type, na, nb,
                      CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
                      CAST(sa AS DOUBLE) AS sad, CAST(sb AS DOUBLE) AS sbd,
                      CAST(na * qa - sa * sa AS DOUBLE) AS van,
                      CAST(nb * qb - sb * sb AS DOUBLE) AS vbn
               FROM g)
    SELECT event_type, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           ROUND(sad / nad / 100, 6) AS mean_a,
           ROUND(sbd / nbd / 100, 6) AS mean_b,
           ROUND(sad / nad / 100 - sbd / nbd / 100, 6) AS diff,
           CASE WHEN na >= 2 AND nb >= 2
                 AND sqrt(van / (nad * (nad - 1)) / nad
                          + vbn / (nbd * (nbd - 1)) / nbd) > 0
                THEN ROUND((sad / nad - sbd / nbd)
                           / sqrt(van / (nad * (nad - 1)) / nad
                                  + vbn / (nbd * (nbd - 1)) / nbd), 6) END AS t_stat
    FROM d"""


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink/source round trip: documents → newline-delimited JSON
    → read back with explicit schema → per-language profile.  The
    interchange format every training-data pipeline speaks; proves the
    JSON leg next to parquet and N-Quads.  Exactness: only integer
    aggregates of round-tripped fields (text length survives JSON
    escaping; doubles deliberately excluded — JSON float round-trip is
    a different contract)."""
    import shutil
    import tempfile

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    root = tempfile.mkdtemp(prefix="jsonl_")
    try:
        docs.select("doc_id", "text", "lang", "source").coalesce(4).write.mode(
            "overwrite"
        ).json(f"{root}/docs")
        back = spark.read.schema("doc_id long, text string, lang string, source string").json(
            f"{root}/docs"
        )
        out = back.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
            F.countDistinct("source").alias("n_sources"),
            F.sum(F.col("doc_id")).alias("id_checksum"),
        )
        return spark.createDataFrame(out.collect(), out.schema)  # detach from tmp
    finally:
        shutil.rmtree(root, ignore_errors=True)


QUERIES["q_jsonl_roundtrip"] = q_jsonl_roundtrip
ORACLES["q_jsonl_roundtrip"] = """
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
           COUNT(DISTINCT source) AS n_sources, CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM documents GROUP BY lang"""


def q_decayed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending ranking: exponentially time-decayed event counts per
    type — weight halves per day of age, computed in EXACT integers
    (count << (max_age − age_days) summed as bigints, one division by
    2^max_age at the end), so the decay ranking is engine-exact instead
    of an unordered float-exp sum."""
    ev = read_events(spark, sf_dir).select(
        "event_type", F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms")
    )
    day = 86_400_000
    hi = ev.agg(F.max("ts_ms")).collect()[0][0]
    age = F.expr(f"({hi} - ts_ms) DIV {day}")  # full days of age
    max_age = 40  # observed span < 40 days; guard the shift width
    # per-row weight fits a bigint (2^40); the SUM is DECIMAL(38,0) so
    # the aggregate never overflows at any corpus size (2^40·10^12 rows
    # would overflow a bigint sum at cluster scale)
    w = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST({max_age} - (({hi} - ts_ms) DIV {day}) AS INT))"
    ).cast("decimal(38,0)")
    out = (
        ev.where(age < max_age)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(w).alias("__s"),
        )
    )
    score = F.round(F.col("__s").cast("double") / F.lit(float(2**max_age)), 6)
    rank = F.row_number().over(Window.orderBy(F.desc("__s"), F.asc("event_type")))
    return out.select(
        "event_type",
        "n_events",
        score.alias("decayed_count"),
        rank.cast("long").alias("rank"),
    )


QUERIES["q_decayed_topk"] = q_decayed_topk
ORACLES["q_decayed_topk"] = f"""
    WITH e AS (SELECT event_type, {_TSM} AS ts_ms FROM events),
         b AS (SELECT MAX(ts_ms) AS hi FROM e),
         a AS (SELECT event_type,
                      ((SELECT hi FROM b) - ts_ms) // {86_400_000} AS age
               FROM e),
         g AS (SELECT event_type, COUNT(*) AS n_events,
                      SUM(1::BIGINT << CAST(40 - age AS INT)) AS s
               FROM a WHERE age < 40 GROUP BY event_type)
    SELECT event_type, n_events,
           ROUND(CAST(s AS DOUBLE) / {float(2**40)!r}, 6) AS decayed_count,
           CAST(ROW_NUMBER() OVER (ORDER BY s DESC, event_type) AS BIGINT) AS rank
    FROM g"""


def q_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between event-type pairs
    co-occurring in the same (user, hour) context: ln(P(a,b) /
    (P(a)·P(b))) over context counts — the association score behind the
    raw co-occurrence counts (q_cooccurrence).  One ln of a ratio of
    exact integers, engine-exact at 6 dp."""
    ev = read_events(spark, sf_dir).select(
        "user_id",
        "event_type",
        F.expr("unix_millis(CAST(ts AS TIMESTAMP)) DIV 3600000").alias("ctx_h"),
    )
    # the distinct context frame feeds the context count, the singles
    # aggregate, and both self-join sides — materialize it once
    ctx = ev.select("user_id", "ctx_h", "event_type").distinct().localCheckpoint(eager=True)
    n_ctx = ctx.select("user_id", "ctx_h").distinct().count()
    singles = ctx.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    a = ctx.alias("a")
    b = ctx.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.ctx_h") == F.col("b.ctx_h"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"), F.col("b.event_type").alias("type_b")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    sa = singles.select(F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a"))
    sb = singles.select(F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b"))
    pmi = F.round(
        F.log(
            (F.col("n_ab").cast("double") * F.lit(float(n_ctx)))
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
        ),
        6,
    )
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select("type_a", "type_b", "n_ab", "n_a", "n_b", pmi.alias("pmi"))
    )


QUERIES["q_pmi"] = q_pmi
ORACLES["q_pmi"] = f"""
    WITH e AS (SELECT DISTINCT user_id, {_TSM} // 3600000 AS ctx_h, event_type
               FROM events),
         nc AS (SELECT COUNT(*) AS n FROM (SELECT DISTINCT user_id, ctx_h FROM e)),
         s AS (SELECT event_type, COUNT(*) AS n_t FROM e GROUP BY event_type),
         p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                      COUNT(*) AS n_ab
               FROM e a JOIN e b
                 ON a.user_id = b.user_id AND a.ctx_h = b.ctx_h
                AND a.event_type < b.event_type
               GROUP BY 1, 2)
    SELECT type_a, type_b, n_ab, sa.n_t AS n_a, sb.n_t AS n_b,
           ROUND(ln(CAST(n_ab AS DOUBLE) * CAST((SELECT n FROM nc) AS DOUBLE)
                    / (CAST(sa.n_t AS DOUBLE) * CAST(sb.n_t AS DOUBLE))), 6) AS pmi
    FROM p JOIN s sa ON p.type_a = sa.event_type
           JOIN s sb ON p.type_b = sb.event_type"""


def q_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by TF-IDF weight
    (ln-idf over the corpus, ties on term) for the first 50 docs — the
    doc-level summary view of the corpus inverted index."""
    from janus_spark.datapipe.text import clean_tokens

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    words = docs.select(
        F.col("doc_id").alias("id"), F.explode(clean_tokens("text")).alias("t")
    )
    tf = words.groupBy("id", "t").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = docs.count()
    dft = tf.groupBy("t").agg(F.count(F.lit(1)).alias("dft"))
    w = F.round(
        F.col("tf").cast("double")
        * F.log(F.lit(float(n_docs)) / F.col("dft").cast("double")),
        6,
    )
    scored = tf.join(dft, "t").select("id", "t", w.alias("w")).where("id < 50")
    rk = F.row_number().over(
        Window.partitionBy("id").orderBy(F.desc("w"), F.asc("t"))
    )
    return (
        scored.withColumn("rank", rk)
        .where("rank <= 3")
        .select(F.col("id").alias("doc_id"), F.col("rank").cast("long").alias("rank"),
                F.col("t").alias("term"), F.col("w").alias("weight"))
    )


QUERIES["q_keywords"] = q_keywords
ORACLES["q_keywords"] = f"""
    WITH words AS (SELECT doc_id AS id, unnest({_TOKS}) AS t FROM documents),
         tf AS (SELECT id, t, COUNT(*) AS tf FROM words GROUP BY id, t),
         nd AS (SELECT COUNT(*) AS n FROM documents),
         dft AS (SELECT t, COUNT(*) AS dft FROM tf GROUP BY t),
         sc AS (SELECT id, t,
                       ROUND(CAST(tf AS DOUBLE)
                             * ln(CAST((SELECT n FROM nd) AS DOUBLE) / CAST(dft AS DOUBLE)), 6) AS w
                FROM tf JOIN dft USING (t) WHERE id < 50),
         rk AS (SELECT id, t, w,
                       ROW_NUMBER() OVER (PARTITION BY id ORDER BY w DESC, t) AS rank
                FROM sc)
    SELECT id AS doc_id, CAST(rank AS BIGINT) AS rank, t AS term, w AS weight
    FROM rk WHERE rank <= 3"""


def q_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week reporting: weekly order revenue with absolute and
    relative deltas vs the previous week (lag over exact decimal sums;
    the pct change is ONE division of exact cents — engine-exact)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    week = F.expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) DIV 604800000")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("decimal(38,0)")
    weekly = orders.groupBy(week.alias("week")).agg(
        F.count(F.lit(1)).alias("n_orders"), F.sum(cents).alias("__c")
    )
    w = Window.orderBy("week")
    prev = F.lag("__c").over(w)
    return weekly.select(
        "week",
        "n_orders",
        F.round(F.col("__c").cast("double") / 100, 2).alias("revenue"),
        F.round((F.col("__c") - prev).cast("double") / 100, 2).alias("delta"),
        F.round(
            (F.col("__c") - prev).cast("double") / prev.cast("double") * 100, 6
        ).alias("pct_change"),
    )


QUERIES["q_period_over_period"] = q_period_over_period
ORACLES["q_period_over_period"] = """
    WITH w AS (SELECT (epoch_ns(o_orderdate) // 1000000) // 604800000 AS week,
                      COUNT(*) AS n_orders,
                      SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS c
               FROM orders GROUP BY 1)
    SELECT week, n_orders,
           ROUND(CAST(c AS DOUBLE) / 100, 2) AS revenue,
           ROUND(CAST(c - LAG(c) OVER (ORDER BY week) AS DOUBLE) / 100, 2) AS delta,
           ROUND(CAST(c - LAG(c) OVER (ORDER BY week) AS DOUBLE)
                 / CAST(LAG(c) OVER (ORDER BY week) AS DOUBLE) * 100, 6) AS pct_change
    FROM w"""


def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals: observed counts vs the
    Benford expectation with a χ² statistic — the classic synthetic-vs-
    organic numeric-distribution check.  χ² is a fixed double tree over
    exact integer counts (expected probs are Python-float literals
    identical in both engines) — engine-exact at 6 dp."""
    import math

    d = F.substring(F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1)
    counts = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .where(F.col("o_totalprice") >= 1)
        .groupBy(d.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n")).collect()[0][0]
    probs = {str(k): math.log10(1 + 1 / k) for k in range(1, 10)}
    p = F.element_at(
        F.create_map(*[F.lit(x) for kv in probs.items() for x in kv]), F.col("digit")
    )
    expected = p * F.lit(float(total))
    chi = (F.col("n").cast("double") - expected) * (F.col("n").cast("double") - expected) / expected
    return counts.select(
        "digit",
        "n",
        F.round(expected, 6).alias("expected"),
        F.round(chi, 6).alias("chi2_term"),
    )


QUERIES["q_benford"] = q_benford
_BENFORD_PROBS = ", ".join(
    f"('{k}', {__import__('math').log10(1 + 1 / k)!r})" for k in range(1, 10)
)
ORACLES["q_benford"] = f"""
    WITH c AS (SELECT substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1) AS digit,
                      COUNT(*) AS n
               FROM orders WHERE o_totalprice >= 1 GROUP BY 1),
         t AS (SELECT SUM(n) AS total FROM c),
         pr(digit, p) AS (VALUES {_BENFORD_PROBS})
    SELECT c.digit, c.n,
           ROUND(pr.p * CAST((SELECT total FROM t) AS DOUBLE), 6) AS expected,
           ROUND((CAST(c.n AS DOUBLE) - pr.p * CAST((SELECT total FROM t) AS DOUBLE))
                 * (CAST(c.n AS DOUBLE) - pr.p * CAST((SELECT total FROM t) AS DOUBLE))
                 / (pr.p * CAST((SELECT total FROM t) AS DOUBLE)), 6) AS chi2_term
    FROM c JOIN pr ON c.digit = pr.digit"""


def q_live_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous data-quality monitoring under the EXACT gate: planted
    nulls / out-of-range / bad-enum rows stream through a real run;
    per-window violation counts emit on close
    (streaming/native_agg.py::rule_violation_stream).  sf_dir unused."""
    import shutil
    import tempfile
    import uuid

    from janus_spark.streaming.native_agg import rule_violation_stream

    fixture = spark.range(1, 61).selectExpr(
        "id * 500 AS ts",
        "CASE WHEN id % 7 = 0 THEN CAST(NULL AS DOUBLE) ELSE CAST(20 + id % 10 AS DOUBLE) END AS value",
        "CASE WHEN id % 11 = 0 THEN 'zz' ELSE CAST(id % 3 AS STRING) END AS sensor",
    )
    closer = spark.range(1).selectExpr(
        "CAST(95000 AS LONG) AS ts", "CAST(25.0 AS DOUBLE) AS value", "'0' AS sensor"
    )
    root = tempfile.mkdtemp(prefix="live_dq_")
    name = f"live_dq_{uuid.uuid4().hex[:8]}"
    try:
        fixture.where("ts <= 15000").coalesce(1).write.parquet(f"{root}/f1.parquet")
        fixture.where("ts > 15000").coalesce(1).write.parquet(f"{root}/f2.parquet")
        closer.coalesce(1).write.parquet(f"{root}/f3.parquet")
        stream = (
            spark.readStream.schema("ts long, value double, sensor string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/f*.parquet")
        )
        out = rule_violation_stream(
            stream,
            [("not_null", "value"), ("in_range", "value", 20.0, 27.0),
             ("in_set", "sensor", ["0", "1", "2"])],
            window_ms=4_000,
        )
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q, 300)
        res = spark.table(name).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return res


QUERIES["q_live_validate"] = q_live_validate
ORACLES["q_live_validate"] = """
    WITH e AS (SELECT i * 500 AS ts,
                      CASE WHEN i % 7 = 0 THEN NULL ELSE 20 + i % 10 END AS value,
                      CASE WHEN i % 11 = 0 THEN 'zz' ELSE CAST(i % 3 AS VARCHAR) END AS sensor
               FROM range(1, 61) r(i))
    SELECT (ts // 4000) * 4000 AS window_start, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0_not_null_value,
           CAST(SUM(CASE WHEN value IS NOT NULL AND (value < 20.0 OR value > 27.0)
                    THEN 1 ELSE 0 END) AS BIGINT) AS v1_in_range_value,
           CAST(SUM(CASE WHEN sensor NOT IN ('0', '1', '2') THEN 1 ELSE 0 END) AS BIGINT) AS v2_in_set_sensor
    FROM e GROUP BY 1"""


def q_tpch_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue —
    a max-scalar-subquery over an aggregate view, exact decimal money so
    the ties-at-max comparison is engine-exact."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        F.col("l_shipdate").between("1996-01-01", "1996-03-31")
    )
    cents = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
    )
    rev = li.groupBy("l_suppkey").agg(F.sum(cents).alias("__r"))
    mx = rev.agg(F.max("__r")).collect()[0][0]
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    return (
        rev.where(F.col("__r") == F.lit(mx))
        .join(F.broadcast(sup), rev.l_suppkey == sup.s_suppkey)
        .select(
            "s_suppkey", "s_name",
            F.round(F.col("__r").cast("double"), 4).alias("total_revenue"),
        )
    )


QUERIES["q_tpch_top_supplier"] = q_tpch_top_supplier
ORACLES["q_tpch_top_supplier"] = """
    WITH r AS (SELECT l_suppkey,
                      SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev
               FROM lineitem
               WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-03-31'
               GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, ROUND(CAST(rev AS DOUBLE), 4) AS total_revenue
    FROM r JOIN supplier ON l_suppkey = s_suppkey
    WHERE rev = (SELECT MAX(rev) FROM r)"""


def q_tpch_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: nation-1 suppliers' share of yearly revenue — a
    conditional-share aggregate over a 3-table join, with the share an
    exact-cents ratio (one division per year, engine-exact)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_nationkey"
    )
    cents = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
    ).cast("decimal(38,4)")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).join(
        F.broadcast(sup), li.l_suppkey == sup.s_suppkey
    )
    zero = F.lit(0).cast("decimal(38,4)")
    g = j.groupBy("o_year").agg(
        F.sum(F.when(F.col("s_nationkey") == 1, cents).otherwise(zero)).alias("nat"),
        F.sum(cents).alias("tot"),
    )
    return g.select(
        "o_year",
        F.round(F.col("nat").cast("double"), 2).alias("nation_revenue"),
        F.round(F.col("tot").cast("double"), 2).alias("total_revenue"),
        F.round(F.col("nat").cast("double") / F.col("tot").cast("double"), 6).alias(
            "mkt_share"
        ),
    )


QUERIES["q_tpch_market_share"] = q_tpch_market_share
ORACLES["q_tpch_market_share"] = """
    WITH j AS (SELECT EXTRACT(year FROM o_orderdate) AS o_year, s_nationkey,
                      CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                           AS DECIMAL(38,4)) AS c
               FROM lineitem
               JOIN orders ON l_orderkey = o_orderkey
               JOIN supplier ON l_suppkey = s_suppkey),
         g AS (SELECT o_year,
                      SUM(CASE WHEN s_nationkey = 1 THEN c ELSE CAST(0 AS DECIMAL(38,4)) END) AS nat,
                      SUM(c) AS tot
               FROM j GROUP BY o_year)
    SELECT CAST(o_year AS INT) AS o_year,
           ROUND(CAST(nat AS DOUBLE), 2) AS nation_revenue,
           ROUND(CAST(tot AS DOUBLE), 2) AS total_revenue,
           ROUND(CAST(nat AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS mkt_share
    FROM g"""


def q_ltv_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve: cumulative purchase revenue per signup-week
    cohort at each week offset — first-activity cohorts joined to
    purchase revenue, cumulative window over exact cents (the marketing
    lifetime-value report)."""
    ev = read_events(spark, sf_dir).select(
        "user_id",
        "event_type",
        "value",
        F.expr("unix_millis(CAST(ts AS TIMESTAMP)) DIV 604800000").alias("wk"),
    )
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("decimal(38,0)")
    rev = (
        ev.where(F.col("event_type") == "purchase")
        .join(first, "user_id")
        .groupBy("cohort", (F.col("wk") - F.col("cohort")).alias("offset"))
        .agg(F.count(F.lit(1)).alias("n_purchases"), F.sum(cents).alias("__c"))
    )
    w = Window.partitionBy("cohort").orderBy("offset").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return rev.select(
        "cohort",
        "offset",
        "n_purchases",
        F.round(F.col("__c").cast("double") / 100, 2).alias("revenue"),
        F.round(F.sum("__c").over(w).cast("double") / 100, 2).alias("cum_revenue"),
    )


QUERIES["q_ltv_cohort"] = q_ltv_cohort
ORACLES["q_ltv_cohort"] = f"""
    WITH e AS (SELECT user_id, event_type, value, {_TSM} // 604800000 AS wk FROM events),
         f AS (SELECT user_id, MIN(wk) AS cohort FROM e GROUP BY user_id),
         r AS (SELECT f.cohort, e.wk - f.cohort AS "offset",
                      COUNT(*) AS n_purchases,
                      SUM(CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS HUGEINT)) AS c
               FROM e JOIN f USING (user_id)
               WHERE e.event_type = 'purchase'
               GROUP BY 1, 2)
    SELECT cohort, "offset", n_purchases,
           ROUND(CAST(c AS DOUBLE) / 100, 2) AS revenue,
           ROUND(CAST(SUM(c) OVER (PARTITION BY cohort ORDER BY "offset"
                                   ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100, 2) AS cum_revenue
    FROM r"""


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the supplier↔part graph: Pearson
    correlation of endpoint degrees over edges (Newman 2002) — positive
    = hubs link hubs.  Exact integer moment sums over (deg_src,
    deg_dst) pairs; both edge directions included so the coefficient is
    symmetric."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # materialize the distinct edge list once: it is referenced via both
    # union branches and three downstream joins — unmaterialized, the
    # lineitem scan+distinct re-evaluates six times
    fwd = (
        li.select(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
            F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = fwd.unionByName(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    d38 = "decimal(38,0)"
    pairs = (
        e.join(deg.select(F.col("src"), F.col("d").alias("dx")), "src")
        .join(deg.select(F.col("src").alias("dst"), F.col("d").alias("dy")), "dst")
        .select(F.col("dx").cast(d38).alias("x"), F.col("dy").cast(d38).alias("y"))
    )
    g = pairs.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    covn = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vxn = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vyn = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return g.select(
        (F.col("n") / 2).cast("long").alias("n_edges"),
        F.round(covn / F.sqrt(vxn * vyn), 6).alias("assortativity"),
    )


QUERIES["q_assortativity"] = q_assortativity
ORACLES["q_assortativity"] = """
    WITH fwd AS (SELECT DISTINCT 's' || l_suppkey AS src, 'p' || l_partkey AS dst
                 FROM lineitem),
         e AS (SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd),
         deg AS (SELECT src, CAST(COUNT(*) AS HUGEINT) AS d FROM e GROUP BY src),
         p AS (SELECT dx.d AS x, dy.d AS y
               FROM e JOIN deg dx ON e.src = dx.src
                      JOIN deg dy ON e.dst = dy.src),
         g AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
                      SUM(x*y) AS sxy, SUM(x*x) AS sxx, SUM(y*y) AS syy
               FROM p)
    SELECT CAST(n / 2 AS BIGINT) AS n_edges,
           ROUND(CAST(n*sxy - sx*sy AS DOUBLE)
                 / sqrt(CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE)), 6) AS assortativity
    FROM g"""


def q_tpch_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): top-10 unshipped orders of one
    market segment by revenue.  Plan: customer is a broadcast dim pruned
    to the segment BEFORE the join; the one real shuffle is
    lineitem⋈orders on orderkey; the top-10 is a TakeOrdered (no global
    sort materialization).  Revenue in exact integer price-basis-points
    (cents × (100−disc_pct)) so the ranking and the emitted doubles are
    engine-exact — ties impossible under the unique orderkey tiebreak."""
    cu = (
        _read_wide(spark, f"{sf_dir}/customer.parquet")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    od = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    rev_u = (
        F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        * (100 - F.round(F.col("l_discount") * 100, 0).cast("long"))
    ).cast("decimal(38,0)")
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev_u).alias("__rev_u"))
        .select(
            F.col("l_orderkey").alias("order_key"),
            (F.col("__rev_u").cast("double") / 10000.0).alias("revenue"),
            F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("o_date_ms"),
            F.col("o_orderpriority").alias("priority"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_date_ms"), F.col("order_key"))
        .limit(10)
    )


QUERIES["q_tpch_ship_priority"] = q_tpch_ship_priority
ORACLES["q_tpch_ship_priority"] = """
    SELECT l.l_orderkey AS order_key,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
                    * (100 - CAST(ROUND(l.l_discount * 100, 0) AS BIGINT))) AS DOUBLE)
             / 10000.0 AS revenue,
           (epoch_ns(o.o_orderdate) // 1000000) AS o_date_ms,
           o.o_orderpriority AS priority
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_date_ms, order_key
    LIMIT 10"""


def q_tpch_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking): orders of one quarter
    with at least one LATE line, counted per priority.  The reference
    schema's commit/receipt dates are absent from the testdata, so
    "late" is adapted to `l_shipdate > o_orderdate + 90 days` — the same
    correlated-EXISTS shape.  Plan: the EXISTS is a left-semi join on
    orderkey (one shuffle); the date predicate rides the join condition
    so no post-join filter pass."""
    od = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey", "l_shipdate")
    return (
        od.join(
            li,
            (od.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > od.o_orderdate + F.expr("INTERVAL 90 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .select(F.col("o_orderpriority").alias("priority"), "n_orders")
    )


QUERIES["q_tpch_late_orders"] = q_tpch_late_orders
ORACLES["q_tpch_late_orders"] = """
    SELECT o.o_orderpriority AS priority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY o.o_orderpriority"""


def q_tpch_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): revenue between two nations by
    ship year, both directions (supplier nation ≠ customer nation).
    Plan: nation/customer/supplier collapse to broadcast dims carrying
    the nation name; the one real shuffle is lineitem⋈orders; the
    two-nation disjunction is a post-broadcast filter.  Revenue in exact
    integer units as in the Q3 gate."""
    na = spark.read.parquet(f"{sf_dir}/nation.parquet").where(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    cu = (
        _read_wide(spark, f"{sf_dir}/customer.parquet")
        .join(F.broadcast(na), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    su = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    od = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey", "o_custkey")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    rev_u = (
        F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        * (100 - F.round(F.col("l_discount") * 100, 0).cast("long"))
    ).cast("decimal(38,0)")
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.sum(rev_u).alias("__rev_u"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
        .select(
            "supp_nation", "cust_nation",
            F.col("l_year").cast("int").alias("l_year"),
            (F.col("__rev_u").cast("double") / 10000.0).alias("revenue"),
            "n_lines",
        )
    )


QUERIES["q_tpch_nation_volume"] = q_tpch_nation_volume
ORACLES["q_tpch_nation_volume"] = """
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS l_year,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
                    * (100 - CAST(ROUND(l.l_discount * 100, 0) AS BIGINT))) AS DOUBLE)
             / 10000.0 AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation ns ON s.s_nationkey = ns.n_nationkey
    JOIN nation nc ON c.c_nationkey = nc.n_nationkey
    WHERE ns.n_name IN ('NATION_1', 'NATION_2')
      AND nc.n_name IN ('NATION_1', 'NATION_2')
      AND ns.n_name <> nc.n_name
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY ns.n_name, nc.n_name, EXTRACT(year FROM l.l_shipdate)"""


def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient over the part co-purchase graph —
    operators/graph.py::clustering_coefficient (oriented-wedge triangle
    plan + one degree join; coefficient is a single exact-integer
    division, emitted unrounded)."""
    from janus_spark.operators.graph import clustering_coefficient

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    lp = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")).distinct()
    edges = (
        lp.alias("x")
        .join(lp.alias("y"), "o")
        .where(F.col("x.p") < F.col("y.p"))
        .select(F.col("x.p").alias("src"), F.col("y.p").alias("dst"))
    )
    out = clustering_coefficient(edges)
    return out.select(F.col("id").cast("long").alias("id"), "deg", "n_triangles", "coeff")


QUERIES["q_clustering_coeff"] = q_clustering_coeff
ORACLES["q_clustering_coeff"] = """
    WITH lp AS MATERIALIZED (
           SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         e AS MATERIALIZED (
           -- the hint only pins evaluation: without it DuckDB inlines
           -- this CTE into its five references and the recomputation
           -- spills unboundedly at stress scale (>75 GB at sf10;
           -- materialized, the whole oracle runs in ~44 s there)
           SELECT DISTINCT x.p AS a, y.p AS b
               FROM lp x JOIN lp y ON x.o = y.o AND x.p < y.p),
         deg AS (SELECT id, COUNT(*) AS deg FROM (
                   SELECT a AS id FROM e UNION ALL SELECT b FROM e)
                 GROUP BY id HAVING COUNT(*) >= 2),
         t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
               FROM e e1
               JOIN e e2 ON e1.b = e2.a
               JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         tri AS (SELECT id, COUNT(*) AS n_triangles FROM (
                   SELECT x AS id FROM t
                   UNION ALL SELECT y FROM t
                   UNION ALL SELECT z FROM t) GROUP BY id)
    SELECT d.id, d.deg,
           COALESCE(tri.n_triangles, 0) AS n_triangles,
           CAST(2 * COALESCE(tri.n_triangles, 0) AS DOUBLE)
             / CAST(d.deg * (d.deg - 1) AS DOUBLE) AS coeff
    FROM deg d LEFT JOIN tri ON d.id = tri.id"""


def q_khop_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE-style 2-hop neighborhood feature aggregation: for seed
    parts (partkey < 100), the count and exact mean retail price of all
    distinct parts within ≤2 co-purchase hops —
    operators/graph.py::khop_neighbor_agg (bounded-frontier expansion,
    integer-cents sums)."""
    from janus_spark.operators.graph import khop_neighbor_agg

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pa = _read_wide(spark, f"{sf_dir}/part.parquet")
    lp = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")).distinct()
    edges = (
        lp.alias("x")
        .join(lp.alias("y"), "o")
        .where(F.col("x.p") < F.col("y.p"))
        .select(F.col("x.p").alias("src"), F.col("y.p").alias("dst"))
    )
    seeds = pa.where(F.col("p_partkey") < 100).select(F.col("p_partkey").alias("id"))
    feats = pa.select(F.col("p_partkey").alias("id"), F.col("p_retailprice").alias("feat"))
    out = khop_neighbor_agg(edges, feats, k=2, seeds=seeds)
    return out.select(F.col("id").cast("long").alias("id"), "n_neighbors", "mean_feat")


QUERIES["q_khop_features"] = q_khop_features
ORACLES["q_khop_features"] = """
    WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         e AS (SELECT DISTINCT x.p AS a, y.p AS b
               FROM lp x JOIN lp y ON x.o = y.o AND x.p < y.p),
         sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
         r1 AS (SELECT a, b FROM sym WHERE a IN
                  (SELECT p_partkey FROM part WHERE p_partkey < 100)),
         r2 AS (SELECT r1.a, s.b FROM r1 JOIN sym s ON r1.b = s.a
                WHERE r1.a <> s.b),
         reach AS (SELECT DISTINCT a, b FROM
                     (SELECT a, b FROM r1 UNION ALL SELECT a, b FROM r2)),
         f AS (SELECT p_partkey AS b,
                      CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) AS c
               FROM part)
    SELECT reach.a AS id, COUNT(*) AS n_neighbors,
           (CAST(SUM(f.c) AS DOUBLE) / COUNT(*)) / 100.0 AS mean_feat
    FROM reach JOIN f ON reach.b = f.b
    GROUP BY reach.a"""


def q_negative_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based negative edge sampling for link prediction on the
    supplier→part purchase bipartite graph: 5 deterministic non-edge
    candidates per supplier (md5 family, reproducible cross-engine),
    anti-joined against the real edges —
    operators/graph.py::negative_edges."""
    from janus_spark.operators.graph import negative_edges

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pa = _read_wide(spark, f"{sf_dir}/part.parquet")
    edges = li.select(
        F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst")
    ).distinct()
    out = negative_edges(edges, pa.select(F.col("p_partkey").alias("id")), m=5, seed=7)
    return out.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        F.col("slot").cast("int").alias("slot"),
    )


QUERIES["q_negative_edges"] = q_negative_edges
ORACLES["q_negative_edges"] = """
    WITH n AS (SELECT DISTINCT p_partkey AS id FROM part),
         idx AS (SELECT id AS dstid, ROW_NUMBER() OVER (ORDER BY id) - 1 AS i
                 FROM n),
         srcs AS (SELECT DISTINCT l_suppkey AS s FROM lineitem),
         cand AS (SELECT s, CAST(slot AS INT) AS slot,
                         ('0x' || substr(md5('7:' || CAST(s AS VARCHAR) || ':'
                                              || CAST(slot AS VARCHAR)), 1, 15))::BIGINT
                           % (SELECT COUNT(*) FROM n) AS i
                  FROM srcs, unnest(range(0, 5)) t(slot)),
         real AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS d FROM lineitem)
    SELECT c.s AS src, idx.dstid AS dst, c.slot
    FROM cand c JOIN idx ON c.i = idx.i
    WHERE NOT EXISTS (SELECT 1 FROM real r
                      WHERE r.s = c.s AND r.d = idx.dstid)
      AND c.s <> idx.dstid"""


def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of event_type against value — the
    leakage-free categorical encoding (datapipe/features.py::
    target_encode, smoothing=0): each event gets the mean value of the
    OTHER events of its type, as one exact-integer division."""
    from janus_spark.datapipe.features import target_encode
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir).select("event_id", "event_type", "value")
    out = target_encode(ev, ["event_type"], "value", smoothing=0)
    return out.select("event_id", "event_type", "loo_mean")


QUERIES["q_target_encoding"] = q_target_encoding
ORACLES["q_target_encoding"] = """
    WITH e AS (SELECT event_id, event_type,
                      CAST(ROUND(value * 100, 0) AS BIGINT) AS y
               FROM events),
         s AS (SELECT event_type, COUNT(*) AS n, SUM(y) AS s
               FROM e WHERE y IS NOT NULL GROUP BY event_type)
    SELECT e.event_id, e.event_type,
           CASE WHEN e.y IS NOT NULL AND s.n > 1
                THEN (CAST(s.s - e.y AS DOUBLE) / CAST(s.n - 1 AS DOUBLE)) / 100.0
           END AS loo_mean
    FROM e LEFT JOIN s USING (event_type)"""


def q_target_encoding_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes smoothed LOO target encoding (m=10 pseudo-
    observations toward the global mean), engine-exact via ONE division
    of a cross-multiplied integer rational (features.py::target_encode)."""
    from janus_spark.datapipe.features import target_encode
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir).select("event_id", "event_type", "value")
    out = target_encode(ev, ["event_type"], "value", smoothing=10)
    return out.select("event_id", "event_type", "loo_mean")


QUERIES["q_target_encoding_smoothed"] = q_target_encoding_smoothed
ORACLES["q_target_encoding_smoothed"] = """
    WITH e AS (SELECT event_id, event_type,
                      CAST(ROUND(value * 100, 0) AS BIGINT) AS y
               FROM events),
         s AS (SELECT event_type, COUNT(*) AS n, SUM(y) AS s
               FROM e WHERE y IS NOT NULL GROUP BY event_type),
         g AS (SELECT COUNT(*) AS gn, SUM(y) AS gs FROM e WHERE y IS NOT NULL)
    SELECT e.event_id, e.event_type,
           CASE WHEN e.y IS NOT NULL
                THEN (CAST((s.s - e.y) * g.gn + 10 * g.gs AS DOUBLE)
                      / CAST((s.n - 1 + 10) * g.gn AS DOUBLE)) / 100.0
           END AS loo_mean
    FROM e LEFT JOIN s USING (event_type) CROSS JOIN g"""


def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences 2×2 point estimate over the events log
    (treated = even user ids, post = second half of the month) — ONE
    grouped aggregate + single-row finish, all means exact-integer
    divisions (operators/analytics.py::diff_in_diff)."""
    from janus_spark.operators.analytics import diff_in_diff
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir).select(
        (F.col("user_id") % 2 == 0).alias("treat"),
        (F.col("ts").cast("timestamp") >= F.lit("2024-01-16").cast("timestamp")).alias("post"),
        "value",
    )
    return diff_in_diff(ev, "treat", "post")


QUERIES["q_diff_in_diff"] = q_diff_in_diff
ORACLES["q_diff_in_diff"] = """
    WITH e AS (SELECT (user_id % 2 = 0) AS t, (ts >= TIMESTAMP '2024-01-16') AS p,
                      CAST(ROUND(value * 100, 0) AS BIGINT) AS y
               FROM events WHERE value IS NOT NULL),
         c AS (SELECT t, p, COUNT(*) AS n, SUM(y) AS s FROM e GROUP BY t, p),
         w AS (SELECT
                 MAX(CASE WHEN t AND p THEN n END) AS n_tp,
                 MAX(CASE WHEN t AND NOT p THEN n END) AS n_tq,
                 MAX(CASE WHEN NOT t AND p THEN n END) AS n_cp,
                 MAX(CASE WHEN NOT t AND NOT p THEN n END) AS n_cq,
                 (CAST(MAX(CASE WHEN t AND p THEN s END) AS DOUBLE)
                  / CAST(MAX(CASE WHEN t AND p THEN n END) AS DOUBLE)) / 100.0 AS mean_treat_post,
                 (CAST(MAX(CASE WHEN t AND NOT p THEN s END) AS DOUBLE)
                  / CAST(MAX(CASE WHEN t AND NOT p THEN n END) AS DOUBLE)) / 100.0 AS mean_treat_pre,
                 (CAST(MAX(CASE WHEN NOT t AND p THEN s END) AS DOUBLE)
                  / CAST(MAX(CASE WHEN NOT t AND p THEN n END) AS DOUBLE)) / 100.0 AS mean_control_post,
                 (CAST(MAX(CASE WHEN NOT t AND NOT p THEN s END) AS DOUBLE)
                  / CAST(MAX(CASE WHEN NOT t AND NOT p THEN n END) AS DOUBLE)) / 100.0 AS mean_control_pre
               FROM c)
    SELECT n_tp, n_tq, n_cp, n_cq,
           mean_treat_post, mean_treat_pre, mean_control_post, mean_control_pre,
           (mean_treat_post - mean_treat_pre) - (mean_control_post - mean_control_pre) AS did
    FROM w"""


def q_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed radius join: every (query user, user) pair within
    200k integer units on a deterministic md5-derived plane — the
    distributed point-in-radius join with a provably complete 3×3 cell
    candidate set and an exact 64-bit distance test
    (operators/spatial.py::grid_radius_join).  The oracle is the DIRECT
    theta-join, so the gate proves the grid never misses a pair."""
    from janus_spark.datapipe.dedup import shared_hash64
    from janus_spark.operators.spatial import grid_radius_join
    from janus_spark.sources.melt import read_events

    users = read_events(spark, sf_dir).select("user_id").distinct()
    pts = users.select(
        F.col("user_id").alias("id"),
        (shared_hash64(F.concat(F.lit("x:"), F.col("user_id"))) % 2_000_000).alias("x"),
        (shared_hash64(F.concat(F.lit("y:"), F.col("user_id"))) % 2_000_000).alias("y"),
    )
    qs = pts.where(F.col("id") % 7 == 0)
    out = grid_radius_join(pts, qs, radius=200_000)
    return out.select(
        F.col("q_id").cast("long").alias("q_id"),
        F.col("p_id").cast("long").alias("p_id"),
        F.col("dist2").cast("long").alias("dist2"),
    )


QUERIES["q_spatial_join"] = q_spatial_join
ORACLES["q_spatial_join"] = """
    WITH u AS (SELECT DISTINCT user_id FROM events),
         p AS (SELECT user_id AS id,
                      ('0x' || substr(md5('x:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                        % 2000000 AS x,
                      ('0x' || substr(md5('y:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                        % 2000000 AS y
               FROM u),
         q AS (SELECT * FROM p WHERE id % 7 = 0)
    SELECT q.id AS q_id, p.id AS p_id,
           (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y) AS dist2
    FROM q JOIN p ON p.id <> q.id
    WHERE (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y)
          <= 200000::BIGINT * 200000::BIGINT"""


def q_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed quantiles WITHOUT a global sort: mergeable fixed-width
    histogram partials + integer rank read-off (p50/p95 per event type,
    bin width 0.50) — functions/sketches.py::qhist_partials/
    qhist_quantile.  All rank arithmetic is pure integers, so the
    estimates are engine-exact."""
    from janus_spark.functions.sketches import qhist_partials, qhist_quantile
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir)
    parts = qhist_partials(ev, "value", ["event_type"], width_cents=50)
    p50 = qhist_quantile(parts, ["event_type"], 1, 2, 50).select(
        "event_type", "n", F.col("q_value").alias("p50")
    )
    p95 = qhist_quantile(parts, ["event_type"], 19, 20, 50).select(
        "event_type", F.col("q_value").alias("p95")
    )
    return p50.join(p95, "event_type").select("event_type", "n", "p50", "p95")


QUERIES["q_quantile_hist"] = q_quantile_hist
ORACLES["q_quantile_hist"] = """
    WITH e AS (SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS c
               FROM events WHERE value IS NOT NULL),
         p AS (SELECT event_type,
                      CASE WHEN c >= 0 THEN c // 50 ELSE -(((-c) + 49) // 50) END AS bin,
                      COUNT(*) AS cnt
               FROM e GROUP BY 1, 2),
         s AS (SELECT event_type, bin, cnt,
                      SUM(cnt) OVER (PARTITION BY event_type) AS n,
                      SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
                                     ROWS UNBOUNDED PRECEDING) AS cum
               FROM p),
         q50 AS (SELECT event_type, MIN(bin) AS b, MAX(n) AS n FROM s
                 WHERE cum >= (n * 1 + 1) // 2 GROUP BY event_type),
         q95 AS (SELECT event_type, MIN(bin) AS b FROM s
                 WHERE cum >= (n * 19 + 19) // 20 GROUP BY event_type)
    SELECT q50.event_type, CAST(q50.n AS BIGINT) AS n,
           CAST(q50.b * 50 AS DOUBLE) / 100.0 AS p50,
           CAST(q95.b * 50 AS DOUBLE) / 100.0 AS p95
    FROM q50 JOIN q95 USING (event_type)"""


def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed feature hashing of document tokens into 4096 columns
    (sparse COO output) — datapipe/features.py::feature_hash; md5-family
    index and sign hashes make the vectors engine-reproducible."""
    from janus_spark.datapipe.features import feature_hash

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    out = feature_hash(docs, "text", "doc_id", n_features=4096)
    return out.select("doc_id", F.col("idx").cast("long").alias("idx"), "val")


QUERIES["q_feature_hashing"] = q_feature_hashing
ORACLES["q_feature_hashing"] = """
    WITH t AS (SELECT doc_id,
                      unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                         x -> x <> '')) AS tok
               FROM documents),
         h AS (SELECT doc_id,
                      ('0x' || substr(md5(tok), 1, 15))::BIGINT % 4096 AS idx,
                      CASE WHEN ('0x' || substr(md5('1:' || tok), 1, 15))::BIGINT % 2 = 0
                           THEN 1 ELSE -1 END AS s
               FROM t)
    SELECT doc_id, idx, CAST(SUM(s) AS BIGINT) AS val
    FROM h GROUP BY doc_id, idx HAVING SUM(s) <> 0"""


def q_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift tripwire: two-sample chi-square between the
    first half-month of events and the rest (fixed-width value bins;
    per-bin exact integer rationals; ordered prefix-sum total) —
    datapipe/features.py::drift_chi2."""
    from janus_spark.datapipe.features import drift_chi2
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir)
    cut = F.lit("2024-01-16").cast("timestamp")
    ref = ev.where(F.col("ts").cast("timestamp") < cut)
    cur = ev.where(F.col("ts").cast("timestamp") >= cut)
    return drift_chi2(ref, cur, "value", width_cents=100)


QUERIES["q_drift_chi2"] = q_drift_chi2
ORACLES["q_drift_chi2"] = """
    WITH e AS (SELECT (ts < TIMESTAMP '2024-01-16') AS is_ref,
                      CAST(ROUND(value * 100, 0) AS BIGINT) AS c
               FROM events WHERE value IS NOT NULL),
         p AS (SELECT CASE WHEN c >= 0 THEN c // 100 ELSE -(((-c) + 99) // 100) END AS bin,
                      CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS HUGEINT) AS a,
                      CAST(SUM(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS HUGEINT) AS b
               FROM e GROUP BY 1),
         s AS (SELECT bin, a, b,
                      SUM(a) OVER () AS na, SUM(b) OVER () AS nb
               FROM p),
         t AS (SELECT na, nb,
                      (((a * nb - b * na) * (a * nb - b * na)) * 2000000
                         + (a + b) * na * nb)
                        // ((a + b) * na * nb * 2) AS tu
               FROM s),
         c AS (SELECT na, nb, COUNT(*) AS k, SUM(tu) AS x
               FROM t GROUP BY na, nb)
    SELECT CAST(na AS BIGINT) AS n_ref, CAST(nb AS BIGINT) AS n_cur,
           CAST(k AS BIGINT) AS n_bins,
           CAST(x AS DOUBLE) / 1e6 AS chi2
    FROM c"""


def q_expr_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 datetime accessors (YEAR/MONTH/DAY/HOURS/MINUTES/
    SECONDS) over the engine's epoch-millis term encoding — closes the
    builtin-function surface alongside q_expr_functions/q_expr_hash."""
    q = """SELECT ?o (YEAR(?t) AS ?y) (MONTH(?t) AS ?mo) (DAY(?t) AS ?d)
                  (HOURS(?t) AS ?h) (MINUTES(?t) AS ?mi) (SECONDS(?t) AS ?sec)
           WHERE { ?o <urn:orders:o_orderdate> ?t . }"""
    df = _run(_table_quads(spark, sf_dir, "orders"), q)
    return df.select(
        "o",
        F.col("y").cast("int").alias("y"), F.col("mo").cast("int").alias("mo"),
        F.col("d").cast("int").alias("d"), F.col("h").cast("int").alias("h"),
        F.col("mi").cast("int").alias("mi"), "sec",
    )


QUERIES["q_expr_datetime"] = q_expr_datetime
ORACLES["q_expr_datetime"] = """
    SELECT 'urn:orders:' || o_orderkey AS o,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS y,
           CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo,
           CAST(EXTRACT(day FROM o_orderdate) AS INT) AS d,
           CAST(EXTRACT(hour FROM o_orderdate) AS INT) AS h,
           CAST(EXTRACT(minute FROM o_orderdate) AS INT) AS mi,
           CAST((epoch_ns(o_orderdate) // 1000000) % 60000 AS DOUBLE) / 1000.0 AS sec
    FROM orders"""


def q_live_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous distribution-drift monitor over a REAL Structured
    Streaming run: tumbling 4s windows maintain fixed-bin histogram
    counts as native incremental state (bounded per window — the only
    thing the stream carries), and every closed window is chi-square
    scored against a broadcast reference histogram in batch
    (datapipe/features.py::drift_chi2_from_binned).  Deterministic
    integer counting + exact integer chi-square terms → EXACT oracle.
    sf_dir unused: the fixture IS the stream."""
    import shutil
    import tempfile
    import uuid

    from janus_spark.datapipe.features import drift_chi2_from_binned
    from janus_spark.streaming.native_agg import histogram_quantile_stream

    fixture = spark.range(1, 61).select(
        (F.col("id") * 500).alias("ts"),
        (20.0 + (F.col("id") * F.col("id")) % 10).alias("value"),
    )
    closer = spark.range(1).select(
        F.lit(95_000).cast("long").alias("ts"), F.lit(25.0).alias("value")
    )
    root = tempfile.mkdtemp(prefix="live_drift_")
    name = f"live_drift_{uuid.uuid4().hex[:8]}"
    try:
        fixture.where("ts <= 15000").coalesce(1).write.parquet(f"{root}/f1.parquet")
        fixture.where("ts > 15000").coalesce(1).write.parquet(f"{root}/f2.parquet")
        closer.coalesce(1).write.parquet(f"{root}/f3.parquet")
        stream = (
            spark.readStream.schema("ts long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/f*.parquet")
        )
        hist = histogram_quantile_stream(
            stream, [], ts_col="ts", value_col="value",
            window_ms=4_000, vmin=20.0, vmax=30.0, n_bins=10,
        )
        q = (
            hist.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q, 300)
        counts = spark.table(name).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    ref = (
        spark.range(1, 41)
        .select((F.col("id") % 10).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    out = drift_chi2_from_binned(counts, ref, ["window_start"])
    return out.select("window_start", "n_ref", "n_cur", "n_bins", "chi2")


QUERIES["q_live_drift"] = q_live_drift
ORACLES["q_live_drift"] = """
    WITH e AS (SELECT i * 500 AS ts, (i * i) % 10 AS bin FROM range(1, 61) r(i)),
         b AS (SELECT (ts // 4000) * 4000 AS window_start, bin,
                      CAST(COUNT(*) AS HUGEINT) AS b
               FROM e GROUP BY 1, 2),
         ref AS (SELECT i % 10 AS bin, CAST(COUNT(*) AS HUGEINT) AS a
                 FROM range(1, 41) r(i) GROUP BY 1),
         g AS (SELECT DISTINCT window_start FROM b),
         grid AS (SELECT g.window_start, ref.bin, ref.a FROM g CROSS JOIN ref),
         cells AS (SELECT COALESCE(grid.window_start, b.window_start) AS window_start,
                          COALESCE(grid.bin, b.bin) AS bin,
                          COALESCE(grid.a, 0) AS a, COALESCE(b.b, 0) AS b
                   FROM grid FULL JOIN b
                     ON grid.window_start = b.window_start AND grid.bin = b.bin),
         s AS (SELECT window_start, a, b,
                      (SELECT SUM(a) FROM ref) AS na,
                      SUM(b) OVER (PARTITION BY window_start) AS nb
               FROM cells),
         t AS (SELECT window_start, na, nb,
                      (((a * nb - b * na) * (a * nb - b * na)) * 2000000
                         + (a + b) * na * nb)
                        // ((a + b) * na * nb * 2) AS tu
               FROM s WHERE a + b > 0),
         c AS (SELECT window_start, na, nb, COUNT(*) AS k, SUM(tu) AS x
               FROM t GROUP BY 1, 2, 3)
    SELECT window_start, CAST(na AS BIGINT) AS n_ref, CAST(nb AS BIGINT) AS n_cur,
           CAST(k AS BIGINT) AS n_bins,
           CAST(x AS DOUBLE) / 1e6 AS chi2
    FROM c"""


def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan column profile of the events table (row/null/exact-
    distinct counts + numeric min/max) — datapipe/validate.py::
    profile_table, the ingest-time data-quality summary."""
    from janus_spark.datapipe.validate import profile_table
    from janus_spark.sources.melt import read_events

    ev = read_events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    return profile_table(ev, numeric_cols=["event_id", "user_id", "value"])


QUERIES["q_profile"] = q_profile
ORACLES["q_profile"] = """
    SELECT 'event_id' AS column, COUNT(*) AS n,
           CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           COUNT(DISTINCT event_id) AS n_distinct,
           CAST(MIN(event_id) AS DOUBLE) AS min_v, CAST(MAX(event_id) AS DOUBLE) AS max_v
    FROM events
    UNION ALL
    SELECT 'user_id', COUNT(*),
           CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT user_id),
           CAST(MIN(user_id) AS DOUBLE), CAST(MAX(user_id) AS DOUBLE)
    FROM events
    UNION ALL
    SELECT 'event_type', COUNT(*),
           CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT event_type), NULL, NULL
    FROM events
    UNION ALL
    SELECT 'value', COUNT(*),
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(DISTINCT value),
           CAST(MIN(value) AS DOUBLE), CAST(MAX(value) AS DOUBLE)
    FROM events"""


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style line-level dedup with reassembly —
    datapipe/dedup.py::line_dedup.  The documents fixture is single-line
    word soup, so the gate first folds each doc into deterministic
    10-token lines (the same fold both engines can express exactly);
    every line occurring in >= 2 distinct docs is dropped from ALL docs
    and the text is stitched back in order.  Compares per-doc line
    counts plus the md5 of the reassembled text, so the whole
    reassembly contract (order, separator, empty-doc survival) is
    pinned, not just the counts."""
    from janus_spark.datapipe.dedup import line_dedup

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    toks = F.split(F.col("text"), " ")
    nchunks = F.ceil(F.size(toks) / F.lit(10.0)).cast("int")
    lines = F.when(
        nchunks >= 1,
        F.transform(
            F.sequence(F.lit(0), nchunks - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i * 10 + 1, 10)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ml = docs.select("doc_id", F.concat_ws("\n", lines).alias("text"))
    out = line_dedup(ml, min_docs=2)
    return out.select(
        F.col("id").alias("doc_id"),
        "n_lines",
        "kept_lines",
        F.md5("clean_text").alias("clean_md5"),
        F.length("clean_text").cast("long").alias("clean_chars"),
    )


QUERIES["q_line_dedup"] = q_line_dedup
ORACLES["q_line_dedup"] = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    c AS (SELECT doc_id, CAST(i AS INT) AS pos,
                 array_to_string(toks[(i*10+1):(i*10+10)], ' ') AS line
          FROM t, UNNEST(range(CAST(ceil(len(toks)/10.0) AS BIGINT))) u(i)),
    d AS (SELECT line FROM c WHERE length(trim(line)) >= 1
          GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 2),
    k AS (SELECT c.doc_id, c.pos, c.line, (d.line IS NULL) AS keep
          FROM c LEFT JOIN d USING (line)),
    agg AS (SELECT doc_id, COUNT(*) AS n_lines,
                   SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS kept_lines,
                   COALESCE(string_agg(CASE WHEN keep THEN line END,
                                       chr(10) ORDER BY pos), '') AS clean_text
            FROM k GROUP BY doc_id)
    SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
           CAST(kept_lines AS BIGINT) AS kept_lines,
           md5(clean_text) AS clean_md5,
           CAST(length(clean_text) AS BIGINT) AS clean_chars
    FROM agg"""


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation link prediction over the part co-purchase
    graph (parts < 500 — the gate subgraph) —
    operators/graph.py::link_prediction.  Hub damping at middle-degree
    60 is the scale bound (wedge cost is Σ deg² over middles) and the
    18-digit fixed-point 1/deg terms make the RA score bit-identical
    across engines in any accumulation order."""
    from janus_spark.operators.graph import link_prediction

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(F.col("l_partkey") < 500)
    lp = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")).distinct()
    edges = (
        lp.alias("x")
        .join(lp.alias("y"), "o")
        .where(F.col("x.p") < F.col("y.p"))
        .select(F.col("x.p").alias("src"), F.col("y.p").alias("dst"))
    )
    out = link_prediction(edges, max_middle_deg=60, min_common=2)
    return out.select(
        F.col("u").cast("long").alias("u"), F.col("v").cast("long").alias("v"), "cn", "ra"
    )


QUERIES["q_link_prediction"] = q_link_prediction
ORACLES["q_link_prediction"] = """
    WITH lp AS MATERIALIZED (
           SELECT DISTINCT l_orderkey AS o, l_partkey AS p
           FROM lineitem WHERE l_partkey < 500),
    e AS MATERIALIZED (
           SELECT DISTINCT x.p AS a, y.p AS b
           FROM lp x JOIN lp y ON x.o = y.o AND x.p < y.p),
    adj AS (SELECT a AS w, b AS nb FROM e UNION ALL SELECT b, a FROM e),
    deg AS (SELECT w, COUNT(*) AS deg FROM adj GROUP BY w),
    mid AS (SELECT adj.w, adj.nb, 1000000000000000000 // deg.deg AS term
            FROM adj JOIN deg USING (w) WHERE deg.deg <= 60),
    wg AS (SELECT x.nb AS u, y.nb AS v, x.term
           FROM mid x JOIN mid y ON x.w = y.w AND x.nb < y.nb),
    p AS (SELECT u, v, COUNT(*) AS cn, SUM(CAST(term AS DECIMAL(38,0))) AS ras
          FROM wg GROUP BY u, v HAVING COUNT(*) >= 2)
    SELECT p.u, p.v, p.cn, CAST(ras AS DOUBLE) / 1e18 AS ra
    FROM p LEFT JOIN e ON p.u = e.a AND p.v = e.b
    WHERE e.a IS NULL"""


def q_tpch_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): profit per supplier nation
    and order year over 'red' parts.  The fixture has no partsupp, so
    ps_supplycost is proxied by p_retailprice (noted adaptation; the
    shape — 4-way join, conditional part filter, signed profit
    aggregate — is Q9's).  Plan: part filter broadcast-semi-joins into
    the lineitem scan, supplier→nation collapses to a broadcast dim;
    the one real shuffle is lineitem⋈orders; profit in exact 1e-4
    units (revenue cents×(100−disc) minus cost cents×qty×100) summed
    as DECIMAL(38,0) — sign-safe and order-free."""
    pa = _read_wide(spark, f"{sf_dir}/part.parquet").where(
        F.col("p_name").like("%red%")
    ).select("p_partkey", F.round(F.col("p_retailprice") * 100, 0).cast("long").alias("retail_c"))
    su = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .join(
            F.broadcast(spark.read.parquet(f"{sf_dir}/nation.parquet")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    od = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey", "o_orderdate")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    amt_u = (
        F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        * (100 - F.round(F.col("l_discount") * 100, 0).cast("long"))
        - F.col("retail_c") * F.col("l_quantity").cast("long") * 100
    ).cast("decimal(38,0)")
    return (
        li.join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
        .join(od, li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(amt_u).alias("__p_u"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
        .select(
            "nation",
            F.col("o_year").cast("int").alias("o_year"),
            (F.col("__p_u").cast("double") / 10000.0).alias("sum_profit"),
            "n_lines",
        )
    )


QUERIES["q_tpch_profit"] = q_tpch_profit
ORACLES["q_tpch_profit"] = """
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
           CAST(SUM(CAST(
             CAST(ROUND(l.l_extendedprice*100,0) AS BIGINT)
               * (100 - CAST(ROUND(l.l_discount*100,0) AS BIGINT))
             - CAST(ROUND(p.p_retailprice*100,0) AS BIGINT)
               * CAST(l.l_quantity AS BIGINT) * 100 AS DECIMAL(38,0))) AS DOUBLE)
             / 10000.0 AS sum_profit,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%red%'
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name, EXTRACT(year FROM o.o_orderdate)"""


def q_tpch_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): for each small LARGE-type
    part, the EUROPE supplier(s) offering it at the minimum cost.
    partsupp.ps_supplycost is proxied by the minimum extended price each
    supplier ever quoted for the part (one groupBy over lineitem — the
    fixture's supply relation).  The correlated MIN subquery is a
    window min over the part key; region/nation/supplier collapse to
    broadcast dims.  Cost stays in integer cents until the final
    divide, so the min and the equality filter are exact."""
    from pyspark.sql.window import Window as W

    supply = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.round(F.col("l_extendedprice") * 100, 0).cast("long")).alias("cost_u"))
    )
    na = spark.read.parquet(f"{sf_dir}/nation.parquet")
    re = spark.read.parquet(f"{sf_dir}/region.parquet").where(F.col("r_name") == "EUROPE")
    su = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(re), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", F.col("n_name").alias("nation"))
    )
    pa = _read_wide(spark, f"{sf_dir}/part.parquet").where(
        (F.col("p_size") < 10) & (F.col("p_type") == "LARGE")
    ).select("p_partkey", "p_name")
    eligible = supply.join(F.broadcast(su), supply.l_suppkey == su.s_suppkey).withColumn(
        "min_u", F.min("cost_u").over(W.partitionBy("l_partkey"))
    )
    return (
        eligible.where(F.col("cost_u") == F.col("min_u"))
        .join(F.broadcast(pa), F.col("l_partkey") == pa.p_partkey)
        .select(
            "s_acctbal",
            "s_name",
            "nation",
            "p_partkey",
            "p_name",
            (F.col("cost_u").cast("double") / 100.0).alias("supply_cost"),
        )
    )


QUERIES["q_tpch_min_cost_supplier"] = q_tpch_min_cost_supplier
ORACLES["q_tpch_min_cost_supplier"] = """
    WITH supply AS (
      SELECT l_partkey, l_suppkey,
             MIN(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)) AS cost_u
      FROM lineitem GROUP BY l_partkey, l_suppkey),
    eligible AS (
      SELECT sp.l_partkey, sp.l_suppkey, sp.cost_u,
             MIN(sp.cost_u) OVER (PARTITION BY sp.l_partkey) AS min_u,
             s.s_name, s.s_acctbal, n.n_name AS nation
      FROM supply sp
      JOIN supplier s ON sp.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE')
    SELECT e.s_acctbal, e.s_name, e.nation, p.p_partkey, p.p_name,
           CAST(e.cost_u AS DOUBLE)/100.0 AS supply_cost
    FROM eligible e
    JOIN part p ON e.l_partkey = p.p_partkey
      AND p.p_size < 10 AND p.p_type = 'LARGE'
    WHERE e.cost_u = e.min_u"""


def q_tpch_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock identification): parts whose
    revenue through NATION_3 suppliers exceeds 2× the average part
    share of that nation's total (ps_supplycost×availqty proxied by
    revenue cents — no partsupp in the fixture; Q11's FIXED fraction
    goes degenerate as the part universe grows, so the gate uses the
    scale-invariant form value×n_parts > 2×total).  The global-total
    scalar is a 1-row broadcast crossJoin (the house stats-frame
    pattern) and the HAVING comparison is exact integer arithmetic
    over DECIMAL(38,0)."""
    na = spark.read.parquet(f"{sf_dir}/nation.parquet").where(F.col("n_name") == "NATION_3")
    su = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    v = (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey, "semi")
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100, 0).cast("long").cast("decimal(38,0)")
            ).alias("value_u")
        )
    )
    total = v.agg(
        F.sum("value_u").alias("total_u"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        v.crossJoin(F.broadcast(total))
        .where(F.col("value_u") * F.col("n_parts") > 2 * F.col("total_u"))
        .select("partkey", (F.col("value_u").cast("double") / 100.0).alias("value"))
    )


QUERIES["q_tpch_important_stock"] = q_tpch_important_stock
ORACLES["q_tpch_important_stock"] = """
    WITH v AS (
      SELECT l.l_partkey AS partkey,
             SUM(CAST(CAST(ROUND(l.l_extendedprice*100,0) AS BIGINT) AS DECIMAL(38,0))) AS value_u
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey AND n.n_name = 'NATION_3'
      GROUP BY l.l_partkey),
    t AS (SELECT SUM(value_u) AS total_u, COUNT(*) AS n_parts FROM v)
    SELECT v.partkey, CAST(v.value_u AS DOUBLE)/100.0 AS value
    FROM v, t WHERE v.value_u * t.n_parts > 2 * t.total_u"""


def q_tpch_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): distinct supplier
    count per (brand, type, size) for selected parts, excluding
    deficit-balance suppliers (the fixture's complaint proxy — there is
    no s_comment).  The supply relation is the distinct
    (partkey, suppkey) projection of lineitem; the exclusion is a
    broadcast anti-join; NOT-IN + COUNT DISTINCT is Q16's shape."""
    ps = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    bad = spark.read.parquet(f"{sf_dir}/supplier.parquet").where(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    pa = _read_wide(spark, f"{sf_dir}/part.parquet").where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "ECONOMY")
        & F.col("p_size").isin(1, 4, 9, 14, 23, 36, 45, 49)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        ps.join(F.broadcast(bad), ps.l_suppkey == bad.s_suppkey, "anti")
        .join(F.broadcast(pa), ps.l_partkey == pa.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


QUERIES["q_tpch_parts_supplier"] = q_tpch_parts_supplier
ORACLES["q_tpch_parts_supplier"] = """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT ps.l_suppkey) AS supplier_cnt
    FROM ps
    JOIN part p ON ps.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'ECONOMY'
      AND p.p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
      AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size"""


def q_tpch_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): EUROPE suppliers who
    DOMINATED the 1997 supply of some 'red' part (shipped more than
    half the part's total-1997 quantity — the availqty>½·shipped test
    adapted to the fixture's supply-from-lineitem relation).  Nested
    aggregate → per-part threshold join → supplier semi-join, Q20's
    shape; quantities are exact bigints so the ×2 comparison never
    touches a float."""
    pa = _read_wide(spark, f"{sf_dir}/part.parquet").where(
        F.col("p_name").like("red%")
    ).select("p_partkey")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    q = (
        li.join(F.broadcast(pa), li.l_partkey == pa.p_partkey, "semi")
        .groupBy(F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey"))
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
        # q feeds both the per-part total and the dominance join —
        # materialize (eagerly: lazy checkpoints can race on first use)
        # or the filtered scan+aggregate runs twice
        .localCheckpoint(eager=True)
    )
    tot = q.groupBy("partkey").agg(F.sum("qty").alias("total_qty"))
    dom = q.join(F.broadcast(tot), "partkey").where(2 * F.col("qty") > F.col("total_qty"))
    na = spark.read.parquet(f"{sf_dir}/nation.parquet")
    re = spark.read.parquet(f"{sf_dir}/region.parquet").where(F.col("r_name") == "EUROPE")
    su = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(re), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name")
    )
    return (
        dom.join(F.broadcast(su), dom.suppkey == su.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_parts_dominated"))
    )


QUERIES["q_tpch_part_promotion"] = q_tpch_part_promotion
ORACLES["q_tpch_part_promotion"] = """
    WITH q AS (
      SELECT l.l_partkey AS partkey, l.l_suppkey AS suppkey,
             SUM(CAST(l.l_quantity AS BIGINT)) AS qty
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE 'red%'
      WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
        AND l.l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l.l_partkey, l.l_suppkey),
    tot AS (SELECT partkey, SUM(qty) AS total_qty FROM q GROUP BY partkey),
    dom AS (SELECT q.suppkey FROM q JOIN tot USING (partkey)
            WHERE 2*q.qty > tot.total_qty)
    SELECT s.s_suppkey, s.s_name, COUNT(*) AS n_parts_dominated
    FROM dom
    JOIN supplier s ON dom.suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
    GROUP BY s.s_suppkey, s.s_name"""


def q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/eval split: near-duplicate CLUSTERS (connected
    components over the MinHash-LSH pair graph), not documents, are the
    unit of assignment — eval can never contain a near-dup of a train
    doc, the contamination mode a doc-id hash split silently permits.
    Composition of existing operators: minhash_lsh_pairs (md5 family)
    → dedup_clusters (pointer-jumping CC) → hash split on the cluster
    representative.  Oracle: the banded-minhash SQL + a recursive-CTE
    min-label propagation.  Scale: pairs/CC as in q_dedup_minhash;
    the split itself is map-side arithmetic on the rep id."""
    from janus_spark.datapipe.dedup import dedup_clusters, minhash_lsh_pairs, shared_hash64

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet").where("doc_id < 200")
    mutated = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tailmarker")).alias("text"),
        "lang", "source", "n_chars",
    )
    corpus = docs.unionByName(mutated)
    pairs = minhash_lsh_pairs(corpus, jaccard_threshold=0.5, hash_fn="md5").select("a", "b")
    clusters = dedup_clusters(pairs)
    labeled = (
        corpus.select(F.col("doc_id").alias("id"))
        .join(clusters, "id", "left")
        .select("id", F.coalesce("keep_id", F.col("id")).alias("cluster_rep"))
    )
    split = F.when(
        shared_hash64(F.concat(F.lit("split:"), F.col("cluster_rep").cast("string"))) % 10 < 8,
        F.lit("train"),
    ).otherwise(F.lit("eval"))
    return labeled.select(
        F.col("id").alias("doc_id"),
        F.col("cluster_rep").cast("long").alias("cluster_rep"),
        split.alias("split"),
    )


QUERIES["q_split_leakage_safe"] = q_split_leakage_safe
ORACLES["q_split_leakage_safe"] = (
    "WITH RECURSIVE "
    + _minhash_pair_ctes()
    + """,
    sym AS (SELECT a AS x, b AS y FROM pairs UNION SELECT b, a FROM pairs),
    reach(id, lbl) AS (
      SELECT doc_id, doc_id FROM corpus
      UNION
      SELECT s.y, r.lbl FROM reach r JOIN sym s ON s.x = r.id WHERE r.lbl < s.y),
    rep AS (SELECT id, MIN(lbl) AS cluster_rep FROM reach GROUP BY id)
    SELECT id AS doc_id, cluster_rep,
           CASE WHEN ('0x' || substr(md5('split:' || CAST(cluster_rep AS VARCHAR)), 1, 15))::BIGINT % 10 < 8
                THEN 'train' ELSE 'eval' END AS split
    FROM rep"""
)


# Single source of truth for the q_label_propagation gate/oracle pair:
# the oracle's per-round SQL is generated from ONE template with the round
# count pinned here (VERDICT r5 #5 — no hand-duplicated unrolling to drift).
_LPA_ROUNDS = 3


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label-propagation communities over the
    part co-purchase subgraph (parts < 400), _LPA_ROUNDS rounds —
    operators/graph.py::label_propagation.  Every step is integer
    counting with a min-label tie-break, so the oracle unrolls the
    same rounds in SQL (generated from one template) and matches
    EXACTLY (no randomness, no floats anywhere)."""
    from janus_spark.operators.graph import label_propagation

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(F.col("l_partkey") < 400)
    lp = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")).distinct()
    edges = (
        lp.alias("x")
        .join(lp.alias("y"), "o")
        .where(F.col("x.p") < F.col("y.p"))
        .select(F.col("x.p").alias("src"), F.col("y.p").alias("dst"))
    )
    out = label_propagation(edges, iterations=_LPA_ROUNDS)
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("community").cast("long").alias("community"),
    )


QUERIES["q_label_propagation"] = q_label_propagation
_LPA_ROUND = """
    l{r} AS (SELECT id, lbl FROM (
             SELECT a.w AS id, l.lbl, COUNT(*) AS cnt,
                    ROW_NUMBER() OVER (PARTITION BY a.w
                        ORDER BY COUNT(*) DESC, l.lbl ASC) AS rn
             FROM adj a JOIN l{p} l ON a.nb = l.id GROUP BY a.w, l.lbl)
           WHERE rn = 1)"""
ORACLES["q_label_propagation"] = (
    """
    WITH lp AS MATERIALIZED (
           SELECT DISTINCT l_orderkey AS o, l_partkey AS p
           FROM lineitem WHERE l_partkey < 400),
    e AS MATERIALIZED (
           SELECT DISTINCT x.p AS a, y.p AS b
           FROM lp x JOIN lp y ON x.o = y.o AND x.p < y.p),
    adj AS MATERIALIZED (SELECT a AS w, b AS nb FROM e UNION ALL SELECT b, a FROM e),
    l0 AS (SELECT DISTINCT w AS id, w AS lbl FROM adj),"""
    + ",".join(_LPA_ROUND.format(r=r, p=r - 1) for r in range(1, _LPA_ROUNDS + 1))
    + f"""
    SELECT id, lbl AS community FROM l{_LPA_ROUNDS}"""
)


def q_edge_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge triangle support (k-truss building block) over the part
    co-purchase subgraph (parts < 500) —
    operators/graph.py::edge_support.  Degree-oriented triangle
    enumeration (each triangle once), exploded onto its three edges,
    one count shuffle; support-0 edges kept via the outer join (the
    peeling step needs them)."""
    from janus_spark.operators.graph import edge_support

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(F.col("l_partkey") < 500)
    lp = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")).distinct()
    edges = (
        lp.alias("x")
        .join(lp.alias("y"), "o")
        .where(F.col("x.p") < F.col("y.p"))
        .select(F.col("x.p").alias("src"), F.col("y.p").alias("dst"))
    )
    out = edge_support(edges)
    return out.select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        "support",
    )


QUERIES["q_edge_support"] = q_edge_support
ORACLES["q_edge_support"] = """
    WITH lp AS MATERIALIZED (
           SELECT DISTINCT l_orderkey AS o, l_partkey AS p
           FROM lineitem WHERE l_partkey < 500),
    e AS MATERIALIZED (
           SELECT DISTINCT x.p AS a, y.p AS b
           FROM lp x JOIN lp y ON x.o = y.o AND x.p < y.p),
    t AS MATERIALIZED (
           SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM e e1
           JOIN e e2 ON e1.b = e2.a
           JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
    te AS (SELECT x AS a, y AS b FROM t
           UNION ALL SELECT x, z FROM t
           UNION ALL SELECT y, z FROM t),
    c AS (SELECT a, b, COUNT(*) AS support FROM te GROUP BY a, b)
    SELECT e.a, e.b, COALESCE(c.support, 0) AS support
    FROM e LEFT JOIN c ON e.a = c.a AND e.b = c.b"""


# Single source of truth for the q_k_core gate/oracle pair: k chosen so the
# driver-SF fixtures exercise a NON-TRIVIAL core (sf0.01: 246 of 500 nodes
# survive the peel; sf0.001: non-empty).  k=30 made the gate vacuous —
# 0 rows on both sides at sf0.01 proved nothing (VERDICT r5).
_KCORE_K = 22
_KCORE_ROUNDS = 4


def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peel (4 rounds, k=_KCORE_K) over the part
    co-purchase subgraph (parts < 500) — operators/graph.py::k_core.
    The gate pins the deterministic r-round form (the oracle unrolls
    the same four rounds in SQL from one template); the fixpoint
    default is pinned by unit tests — unbounded iteration is not
    SQL-expressible (no recursion over aggregates)."""
    from janus_spark.operators.graph import k_core

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(F.col("l_partkey") < 500)
    lp = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")).distinct()
    edges = (
        lp.alias("x")
        .join(lp.alias("y"), "o")
        .where(F.col("x.p") < F.col("y.p"))
        .select(F.col("x.p").alias("src"), F.col("y.p").alias("dst"))
    )
    out = k_core(edges, k=_KCORE_K, max_rounds=_KCORE_ROUNDS)
    return out.select(F.col("id").cast("long").alias("id"), "core_deg")


QUERIES["q_k_core"] = q_k_core
_KCORE_ROUND = """
    n{r} AS (SELECT id FROM (
               SELECT id, COUNT(*) AS d FROM (
                 SELECT a AS id FROM e{p} UNION ALL SELECT b FROM e{p})
               GROUP BY id) WHERE d >= {k}),
    e{r} AS (SELECT e{p}.a, e{p}.b FROM e{p}
             JOIN n{r} x ON e{p}.a = x.id
             JOIN n{r} y ON e{p}.b = y.id)"""
ORACLES["q_k_core"] = (
    """
    WITH lp AS MATERIALIZED (
           SELECT DISTINCT l_orderkey AS o, l_partkey AS p
           FROM lineitem WHERE l_partkey < 500),
    e0 AS MATERIALIZED (
           SELECT DISTINCT x.p AS a, y.p AS b
           FROM lp x JOIN lp y ON x.o = y.o AND x.p < y.p),"""
    + ",".join(
        _KCORE_ROUND.format(r=r, p=r - 1, k=_KCORE_K)
        for r in range(1, _KCORE_ROUNDS + 1)
    )
    + """
    SELECT id, COUNT(*) AS core_deg FROM (
      SELECT a AS id FROM e4 UNION ALL SELECT b FROM e4)
    GROUP BY id"""
)


def q_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained MinHash near-dup store: feed the q_dedup_minhash corpus
    through ``incremental_minhash_dedup`` in three id-monotone batches
    against a fresh persistent store and return the survivor ids — must
    equal the single-shot drop rule (corpus minus the b-side of the
    near-dup pair graph), so the oracle is generated from the SAME
    ``_minhash_pair_ctes`` template as q_dedup_minhash (no frozen copy
    to drift).  The fuzzy counterpart of the exact fingerprint store
    (``incremental_dedup``); reference recomputes per run."""
    import tempfile

    from janus_spark.datapipe.dedup import incremental_minhash_dedup

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet").where("doc_id < 200")
    mutated = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tailmarker")).alias("text"),
        "lang", "source", "n_chars",
    )
    corpus = docs.unionByName(mutated)
    store = tempfile.mkdtemp(prefix="mh_inc_")
    surv = None
    for lo, hi in ((0, 100), (100, 200), (1000000, 2000000)):
        batch = corpus.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        s = incremental_minhash_dedup(batch, store, hash_fn="md5")
        surv = s if surv is None else surv.unionByName(s)
    return surv.select(F.col("doc_id").cast("long").alias("doc_id"))


QUERIES["q_dedup_incremental_minhash"] = q_dedup_incremental_minhash
ORACLES["q_dedup_incremental_minhash"] = (
    "\n    WITH "
    + _minhash_pair_ctes()
    + """
    SELECT doc_id FROM corpus WHERE doc_id NOT IN (SELECT b FROM pairs)"""
)


def q_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle + sharding: hash(seed:id)
    picks the shard, within-shard rank by (hash, id) is the canonical
    epoch order — datapipe/sampling.py::shuffle_shard.  Oracle-EXACT via
    the md5-derived shared_hash64 family; the window is PARTITIONed by
    shard so no single-partition global sort exists in the plan."""
    from janus_spark.datapipe.sampling import shuffle_shard

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet").select("doc_id")
    return shuffle_shard(docs, n_shards=8, seed=1).select(
        F.col("doc_id").cast("long").alias("doc_id"), "shard", "pos"
    )


QUERIES["q_shuffle_shard"] = q_shuffle_shard
ORACLES["q_shuffle_shard"] = f"""
    WITH k AS (SELECT doc_id,
                      {_h60_sql('CAST(doc_id AS VARCHAR)', 1)} AS hk
               FROM documents)
    SELECT doc_id, CAST(hk % 8 AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY hk % 8
                                   ORDER BY hk, doc_id) AS BIGINT) AS pos
    FROM k"""


# ---------------------------------------------------------------- entity
def _entity_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-records fixture for the entity-resolution gates: every part
    is a catalog record (tokens = name words + type, price field), and
    every 5th part gets a planted near-duplicate capture (one extra
    token, price drifted +5).  The +100,000,000 id shift is disjoint
    from every stress-generator shift (the q_dedup_keep_best lesson)."""
    return _cached((spark, sf_dir, "entity_recs"), lambda: _entity_recs_build(spark, sf_dir))


def _entity_recs_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _read_wide(spark, f"{sf_dir}/part.parquet")
    toks = F.split(F.lower(F.col("p_name")), " ")
    base = p.select(
        F.col("p_partkey").alias("rec_id"),
        F.array_distinct(F.concat(toks, F.array(F.lower("p_type")))).alias("toks"),
        F.element_at(toks, -1).alias("noun"),
        F.col("p_brand").alias("brand"),
        F.lower("p_type").alias("ptype"),
        F.col("p_size").alias("psize"),
        F.col("p_retailprice").cast("double").alias("price"),
    )
    dup = base.where(F.col("rec_id") % 5 == 0).select(
        (F.col("rec_id") + 100_000_000).alias("rec_id"),
        F.array_distinct(F.concat("toks", F.array(F.lit("v2")))).alias("toks"),
        "noun", "brand", "ptype", "psize",
        (F.col("price") + 5.0).alias("price"),
    )
    return base.unionByName(dup)


def _entity_resolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    from janus_spark.datapipe.entity import resolve_entities

    return resolve_entities(
        _entity_recs(spark, sf_dir),
        id_col="rec_id",
        token_col="toks",
        blocking=[["brand", "noun"], ["ptype", "psize"]],
        threshold=0.7,
        numeric_col="price",
        numeric_scale=100.0,
        w_tokens=0.8,
        w_numeric=0.2,
    )


def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage end-to-end (datapipe/entity.py::resolve_entities):
    two blocking passes (brand+noun, type+size) bound the candidate join,
    match score = 0.8 x token Jaccard + 0.2 x price proximity, match graph
    resolved by the O(log diameter) CC propagation, survivorship = max
    price / min id.  Beyond reference parity (no linkage operator there);
    algorithm per Fellegi-Sunter blocking + Christen's Data Matching."""
    out = _entity_resolved(spark, sf_dir)
    return out.select(
        F.col("rec_id").cast("long").alias("rec_id"),
        F.col("entity_id").cast("long").alias("entity_id"),
        F.col("canonical_id").cast("long").alias("canonical_id"),
    )


def q_entity_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record rollup over the resolved entities: member count and
    the elected canonical record's price (order-free aggregates only —
    no float-sum order dependence crosses the gate)."""
    recs = _entity_recs(spark, sf_dir)
    out = _entity_resolved(spark, sf_dir)
    return (
        out.join(recs.select("rec_id", "price"), "rec_id")
        .groupBy("entity_id")
        .agg(
            F.count("*").alias("n_members"),
            F.first("canonical_id").alias("canonical_id"),
            F.max("price").alias("max_price"),
        )
        .select(
            F.col("entity_id").cast("long").alias("entity_id"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("canonical_id").cast("long").alias("canonical_id"),
            F.col("max_price").alias("max_price"),
        )
    )


def _entity_recs_ctes() -> str:
    """Shared oracle fixture CTEs (base records + planted duplicates) —
    single source for every entity gate."""
    return """
    base AS (
        SELECT p_partkey AS rid,
               list_distinct(list_append(string_split(lower(p_name), ' '),
                                         lower(p_type))) AS toks,
               string_split(lower(p_name), ' ')[-1] AS noun,
               p_brand AS brand, lower(p_type) AS ptype, p_size AS psize,
               CAST(p_retailprice AS DOUBLE) AS price
        FROM part),
    recs AS (
        SELECT * FROM base
        UNION ALL
        SELECT rid + 100000000, list_distinct(list_append(toks, 'v2')),
               noun, brand, ptype, psize, price + 5.0
        FROM base WHERE rid % 5 = 0)"""


def _entity_ctes() -> str:
    """Shared oracle CTE chain for the entity-resolution gates (single
    source, no frozen copies): recs -> blocked candidates -> scores ->
    match edges -> recursive-CTE components -> per-record entity
    labels."""
    return _entity_recs_ctes() + """,
    cand AS (
        SELECT l.rid AS a, r.rid AS b, l.toks AS ta, r.toks AS tb,
               l.price AS pa, r.price AS pb
        FROM recs l JOIN recs r
          ON l.brand = r.brand AND l.noun = r.noun AND l.rid < r.rid
        UNION
        SELECT l.rid, r.rid, l.toks, r.toks, l.price, r.price
        FROM recs l JOIN recs r
          ON l.ptype = r.ptype AND l.psize = r.psize AND l.rid < r.rid),
    scored AS (
        SELECT a, b,
               0.8 * (CAST(len(list_intersect(ta, tb)) AS DOUBLE) /
                      (CAST(len(ta) + len(tb) AS DOUBLE)
                       - CAST(len(list_intersect(ta, tb)) AS DOUBLE)))
             + 0.2 * (1.0 - LEAST(1.0, abs(pa - pb) / 100.0)) AS score
        FROM cand
        WHERE CAST(len(ta) + len(tb) AS DOUBLE)
              - CAST(len(list_intersect(ta, tb)) AS DOUBLE) > 0),
    e0 AS (SELECT a, b FROM scored WHERE score >= 0.7),
    e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
    nodes AS (SELECT a AS id FROM e UNION SELECT b FROM e),
    r AS (SELECT id, id AS lbl FROM nodes
          UNION
          SELECT e.b, r.lbl FROM r JOIN e ON e.a = r.id),
    lab AS (SELECT id, MIN(lbl) AS ent FROM r GROUP BY id),
    ent AS (SELECT rid, COALESCE(l.ent, rid) AS entity_id, price
            FROM recs LEFT JOIN lab l ON l.id = rid),
    canon AS (SELECT entity_id, rid AS canonical_id
              FROM (SELECT entity_id, rid,
                           ROW_NUMBER() OVER (PARTITION BY entity_id
                                              ORDER BY price DESC, rid ASC) AS rn
                    FROM ent)
              WHERE rn = 1)"""


QUERIES["q_entity_resolution"] = q_entity_resolution
ORACLES["q_entity_resolution"] = (
    "\n    WITH RECURSIVE "
    + _entity_ctes()
    + """
    SELECT CAST(e.rid AS BIGINT) AS rec_id,
           CAST(e.entity_id AS BIGINT) AS entity_id,
           CAST(c.canonical_id AS BIGINT) AS canonical_id
    FROM ent e JOIN canon c USING (entity_id)"""
)

QUERIES["q_entity_golden"] = q_entity_golden
ORACLES["q_entity_golden"] = (
    "\n    WITH RECURSIVE "
    + _entity_ctes()
    + """
    SELECT CAST(e.entity_id AS BIGINT) AS entity_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(c.canonical_id) AS BIGINT) AS canonical_id,
           MAX(e.price) AS max_price
    FROM ent e JOIN canon c USING (entity_id)
    GROUP BY e.entity_id"""
)


def q_entity_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez-Stolfo) over the same dirty
    catalog fixture: distributed global rank by (noun|brand, id) — range
    partitions + driver offsets, no single-partition window — then the
    two-bucket band join emits every pair within 8 window positions, each
    scored by the shared token-Jaccard + price-proximity scorer.  Pins
    the full candidate set (no threshold), so a rank off by one anywhere
    in the corpus fails the gate."""
    from janus_spark.datapipe.entity import score_pairs, sorted_neighborhood_candidates

    recs = _entity_recs(spark, sf_dir).withColumn(
        "snkey", F.concat_ws("|", "noun", "brand")
    )
    cands = sorted_neighborhood_candidates(
        recs, "rec_id", "snkey", window=8, payload_cols=["toks", "price"]
    )
    # the fixture's toks are array_distinct-built, so the per-pair
    # distinct pass is skippable (identical scores by set semantics —
    # the r10 tokens_distinct optimization)
    scored = score_pairs(
        cands, "toks", numeric_col="price", numeric_scale=100.0,
        w_tokens=0.8, w_numeric=0.2, tokens_distinct=True,
    )
    return scored.select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.round("score", 9).alias("score"),
    )


QUERIES["q_entity_sorted_neighborhood"] = q_entity_sorted_neighborhood
ORACLES["q_entity_sorted_neighborhood"] = (
    "\n    WITH "
    + _entity_recs_ctes()
    + """,
    keyed AS (SELECT rid, noun || '|' || brand AS k, toks, price FROM recs),
    rk AS (SELECT rid, toks, price,
                  ROW_NUMBER() OVER (ORDER BY k, rid) - 1 AS rnk
           FROM keyed),
    prs AS (SELECT l.rid AS ra, r.rid AS rb,
                   l.toks AS tl, r.toks AS tr, l.price AS pl, r.price AS pr
            FROM rk l JOIN rk r
              ON r.rnk > l.rnk AND r.rnk - l.rnk <= 7)
    SELECT CAST(LEAST(ra, rb) AS BIGINT) AS a,
           CAST(GREATEST(ra, rb) AS BIGINT) AS b,
           ROUND(0.8 * (CAST(len(list_intersect(tl, tr)) AS DOUBLE) /
                        (CAST(len(tl) + len(tr) AS DOUBLE)
                         - CAST(len(list_intersect(tl, tr)) AS DOUBLE)))
               + 0.2 * (1.0 - LEAST(1.0, abs(pl - pr) / 100.0)), 9) AS score
    FROM prs
    WHERE CAST(len(tl) + len(tr) AS DOUBLE)
          - CAST(len(list_intersect(tl, tr)) AS DOUBLE) > 0"""
)


def q_entity_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained entity store: the dirty-catalog corpus fed through
    ``incremental_entity_resolution`` in three batches (the middle one
    empty at sf0.001 — empty batches must be no-ops) against a fresh
    persistent store; the final assignment must equal the single-shot
    ``resolve_entities`` run, so the oracle IS q_entity_resolution's
    (same ``_entity_ctes`` template — no frozen copy to drift).
    Old-old pairs are never re-scored across batches; labels recompute
    over the accumulated edge set only."""
    import tempfile

    from janus_spark.datapipe.entity import incremental_entity_resolution

    recs = _entity_recs(spark, sf_dir)
    store = tempfile.mkdtemp(prefix="ent_inc_")
    out = None
    for lo, hi in ((0, 700), (700, 1400), (1400, 200_000_000)):
        batch = recs.where((F.col("rec_id") >= lo) & (F.col("rec_id") < hi))
        out = incremental_entity_resolution(
            batch, store, "rec_id", "toks",
            blocking=[["brand", "noun"], ["ptype", "psize"]], threshold=0.7,
            numeric_col="price", numeric_scale=100.0, w_tokens=0.8, w_numeric=0.2,
        )
    return out.select(
        F.col("rec_id").cast("long").alias("rec_id"),
        F.col("entity_id").cast("long").alias("entity_id"),
        F.col("canonical_id").cast("long").alias("canonical_id"),
    )


QUERIES["q_entity_incremental"] = q_entity_incremental
ORACLES["q_entity_incremental"] = ORACLES["q_entity_resolution"]


def q_entity_tfidf_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-weighted record match over the blocked candidates: score =
    sum idf(shared tokens) / sum idf(union) with integer-scaled idf so
    the sums are exact and order-free (the float re-enters only at the
    final ratio, rounded to 6).  Rare-token agreement outweighs
    stop-token agreement — the Fellegi-Sunter agreement-weight idea on a
    Jaccard shape."""
    from janus_spark.datapipe.entity import (
        block_candidates,
        score_pairs_tfidf,
        tfidf_token_weights,
        with_token_totals,
    )

    # recs feeds the doc-frequency pass, the totals explode/join, AND both
    # self-join sides of block_candidates; recs2 feeds both sides again —
    # cut each once or the part scan multiplies (audit: 12 part scans)
    recs = _entity_recs(spark, sf_dir).localCheckpoint(eager=True)
    w = tfidf_token_weights(recs, "toks").localCheckpoint(eager=True)
    recs2 = with_token_totals(recs, w, "rec_id", "toks").localCheckpoint(eager=True)
    cands = block_candidates(
        recs2, "rec_id", [["brand", "noun"]], ["toks", "tot_w"]
    )
    scored = score_pairs_tfidf(cands, w, "toks")
    return scored.select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.round("score", 6).alias("score"),
    )


QUERIES["q_entity_tfidf_match"] = q_entity_tfidf_match
ORACLES["q_entity_tfidf_match"] = (
    "\n    WITH "
    + _entity_recs_ctes()
    + """,
    tok AS (SELECT rid, unnest(toks) AS t FROM recs),
    dfreq AS (SELECT t, COUNT(*) AS df FROM tok GROUP BY t),
    nrec AS (SELECT COUNT(*) AS n FROM recs),
    w AS (SELECT t,
                 CAST(ROUND(ln(CAST((SELECT n FROM nrec) AS DOUBLE)
                               / CAST(df AS DOUBLE)) * 1000000) AS BIGINT) AS w
          FROM dfreq),
    tot AS (SELECT rid, SUM(w.w) AS tot_w FROM tok JOIN w USING (t) GROUP BY rid),
    cand AS (SELECT l.rid AS a, r.rid AS b, l.toks AS ta, r.toks AS tb
             FROM recs l JOIN recs r
               ON l.brand = r.brand AND l.noun = r.noun AND l.rid < r.rid),
    interw AS (SELECT a, b, SUM(w.w) AS iw
               FROM (SELECT a, b, unnest(list_intersect(ta, tb)) AS t FROM cand) j
               JOIN w USING (t) GROUP BY a, b),
    pairs AS (SELECT c.a, c.b,
                     COALESCE(i.iw, 0) AS iw,
                     COALESCE(la.tot_w, 0) AS ta_tot,
                     COALESCE(lb.tot_w, 0) AS tb_tot
              FROM cand c
              LEFT JOIN interw i ON i.a = c.a AND i.b = c.b
              LEFT JOIN tot la ON la.rid = c.a
              LEFT JOIN tot lb ON lb.rid = c.b)
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           ROUND(CAST(iw AS DOUBLE) / CAST(ta_tot + tb_tot - iw AS DOUBLE), 6)
               AS score
    FROM pairs
    WHERE ta_tot + tb_tot - iw > 0"""
)


def q_live_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage as a LIVE pipeline: the dirty-catalog corpus
    arrives as three micro-batch files through a real Structured
    Streaming run (entity_resolution_sink -> incremental store ->
    per-batch atomic publish of the full assignment).  Batch-split
    invariance means the drained stream's published state must equal the
    single-shot run, so the oracle IS q_entity_resolution's."""
    import shutil
    import tempfile

    from janus_spark.datapipe.entity import entity_resolution_sink

    recs = _entity_recs(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="live_ent_")
    for i, (lo, hi) in enumerate(((0, 700), (700, 1400), (1400, 200_000_000))):
        recs.where((F.col("rec_id") >= lo) & (F.col("rec_id") < hi)).coalesce(
            1
        ).write.parquet(f"{root}/in/b{i}.parquet")
    stream = (
        spark.readStream.schema(recs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/in/b*.parquet")
    )
    q = entity_resolution_sink(
        stream, f"{root}/store", f"{root}/out", f"{root}/ckpt",
        "rec_id", "toks",
        blocking=[["brand", "noun"], ["ptype", "psize"]], threshold=0.7,
        numeric_col="price", numeric_scale=100.0, w_tokens=0.8, w_numeric=0.2,
    )
    _await_stream(q, 600)
    out = (
        spark.read.parquet(f"{root}/out")
        .select(
            F.col("rec_id").cast("long").alias("rec_id"),
            F.col("entity_id").cast("long").alias("entity_id"),
            F.col("canonical_id").cast("long").alias("canonical_id"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(root, ignore_errors=True)
    return out


QUERIES["q_live_entity_resolution"] = q_live_entity_resolution
ORACLES["q_live_entity_resolution"] = ORACLES["q_entity_resolution"]


# Single source of truth for the q_k_truss gate/oracle pair.  k=5 keeps the
# gate non-vacuous at BOTH driver SFs (sf0.001: the dense co-purchase
# subgraph peels nothing — supports start >= 31; sf0.01: 3 rounds peel
# 7278 -> 932 edges), so both the no-op and the real-peel paths are pinned.
_KTRUSS_K = 5
_KTRUSS_ROUNDS = 3


def q_k_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-truss peel (3 rounds, k=_KTRUSS_K) over the part
    co-purchase subgraph — operators/graph.py::k_truss.  Edge-level
    cohesion (triangle support), strictly stronger than the k-core's
    degree criterion; the oracle unrolls the same three
    support-and-filter rounds from one template, then re-derives the
    surviving edges' support (zeros included) exactly as the bounded
    operator returns it."""
    from janus_spark.operators.graph import k_truss

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(F.col("l_partkey") < 500)
    lp = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")).distinct()
    edges = (
        lp.alias("x")
        .join(lp.alias("y"), "o")
        .where(F.col("x.p") < F.col("y.p"))
        .select(F.col("x.p").alias("src"), F.col("y.p").alias("dst"))
    )
    out = k_truss(edges, k=_KTRUSS_K, max_rounds=_KTRUSS_ROUNDS)
    return out.select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.col("support").cast("long").alias("support"),
    )


QUERIES["q_k_truss"] = q_k_truss
_KTRUSS_ROUND = """
    t{r} AS (SELECT x.a AS u, x.b AS v, y.b AS w
             FROM e{p} x JOIN e{p} y ON y.a = x.b
             JOIN e{p} z ON z.a = x.a AND z.b = y.b),
    s{r} AS (SELECT a, b, COUNT(*) AS s FROM (
               SELECT u AS a, v AS b FROM t{r}
               UNION ALL SELECT u AS a, w AS b FROM t{r}
               UNION ALL SELECT v AS a, w AS b FROM t{r}) GROUP BY a, b)"""
_KTRUSS_FILTER = """,
    e{r} AS MATERIALIZED (
        SELECT e{p}.a, e{p}.b FROM e{p}
        JOIN s{r} ON s{r}.a = e{p}.a AND s{r}.b = e{p}.b
        WHERE s{r}.s >= {k2})"""
ORACLES["q_k_truss"] = (
    """
    WITH lp AS MATERIALIZED (
           SELECT DISTINCT l_orderkey AS o, l_partkey AS p
           FROM lineitem WHERE l_partkey < 500),
    e0 AS MATERIALIZED (
           SELECT DISTINCT x.p AS a, y.p AS b
           FROM lp x JOIN lp y ON x.o = y.o AND x.p < y.p),"""
    + ",".join(
        _KTRUSS_ROUND.format(r=r, p=r - 1)
        + _KTRUSS_FILTER.format(r=r, p=r - 1, k2=_KTRUSS_K - 2)
        for r in range(1, _KTRUSS_ROUNDS + 1)
    )
    + ","
    + _KTRUSS_ROUND.format(r=_KTRUSS_ROUNDS + 1, p=_KTRUSS_ROUNDS)
    + f"""
    SELECT e{_KTRUSS_ROUNDS}.a, e{_KTRUSS_ROUNDS}.b,
           COALESCE(s{_KTRUSS_ROUNDS + 1}.s, 0) AS support
    FROM e{_KTRUSS_ROUNDS}
    LEFT JOIN s{_KTRUSS_ROUNDS + 1}
      ON s{_KTRUSS_ROUNDS + 1}.a = e{_KTRUSS_ROUNDS}.a
     AND s{_KTRUSS_ROUNDS + 1}.b = e{_KTRUSS_ROUNDS}.b"""
)


def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities over the SAME part
    co-purchase fixture as q_label_propagation (labels generated by the
    same _LPA_ROUNDS rounds) — operators/graph.py::modularity.  One
    exact DECIMAL(38,0) numerator over the common 4m² denominator,
    divided once, so the score crosses the engine boundary bit-for-bit;
    the oracle reuses the LPA round template (single source)."""
    from janus_spark.operators.graph import label_propagation, modularity

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(F.col("l_partkey") < 400)
    lp = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")).distinct()
    edges = (
        lp.alias("x")
        .join(lp.alias("y"), "o")
        .where(F.col("x.p") < F.col("y.p"))
        .select(F.col("x.p").alias("src"), F.col("y.p").alias("dst"))
    )
    labels = label_propagation(edges, iterations=_LPA_ROUNDS)
    return modularity(edges, labels)


QUERIES["q_modularity"] = q_modularity
ORACLES["q_modularity"] = (
    """
    WITH lp AS MATERIALIZED (
           SELECT DISTINCT l_orderkey AS o, l_partkey AS p
           FROM lineitem WHERE l_partkey < 400),
    e AS MATERIALIZED (
           SELECT DISTINCT x.p AS a, y.p AS b
           FROM lp x JOIN lp y ON x.o = y.o AND x.p < y.p),
    adj AS MATERIALIZED (SELECT a AS w, b AS nb FROM e UNION ALL SELECT b, a FROM e),
    l0 AS (SELECT DISTINCT w AS id, w AS lbl FROM adj),"""
    + ",".join(_LPA_ROUND.format(r=r, p=r - 1) for r in range(1, _LPA_ROUNDS + 1))
    + f""",
    lab AS (SELECT id, lbl AS c FROM l{_LPA_ROUNDS}),
    m AS (SELECT COUNT(*) AS m FROM e),
    deg AS (SELECT w AS id, COUNT(*) AS d FROM adj GROUP BY w),
    dc AS (SELECT lab.c, SUM(deg.d) AS dc FROM deg JOIN lab USING (id) GROUP BY lab.c),
    lc AS (SELECT la.c, COUNT(*) AS lc
           FROM e JOIN lab la ON la.id = e.a
                  JOIN lab lb ON lb.id = e.b
           WHERE la.c = lb.c GROUP BY la.c),
    per_c AS (SELECT dc.c,
                     CAST(4 * (SELECT m FROM m) AS DECIMAL(38,0)) * COALESCE(lc.lc, 0)
                     - CAST(dc.dc AS DECIMAL(38,0)) * dc.dc AS num
              FROM dc LEFT JOIN lc ON lc.c = dc.c)
    SELECT CAST(SUM(num) AS DOUBLE)
               / CAST(4 * (SELECT m FROM m) * (SELECT m FROM m) AS DOUBLE)
               AS modularity,
           CAST(COUNT(*) AS BIGINT) AS n_communities,
           CAST((SELECT m FROM m) AS BIGINT) AS m_edges
    FROM per_c"""
)


def q_entity_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise precision/recall/F1 of the resolved entities against the
    PLANTED duplicate pairs (k, k+10^8) — the evaluation harness every
    linkage pipeline needs before trusting a threshold
    (datapipe/entity.py::evaluate_resolution).  Natural same-name
    merges count as FP against the planted-only truth — by design; the
    gate pins the metric computation, and the exact integer counts +
    single final divisions cross the engine boundary bit-for-bit."""
    from janus_spark.datapipe.entity import evaluate_resolution

    out = _entity_resolved(spark, sf_dir)
    base_ids = _read_wide(spark, f"{sf_dir}/part.parquet").select(
        F.col("p_partkey").alias("a")
    ).where(F.col("a") % 5 == 0)
    truth = base_ids.select("a", (F.col("a") + 100_000_000).alias("b"))
    return evaluate_resolution(out, truth, id_col="rec_id")


QUERIES["q_entity_eval"] = q_entity_eval
ORACLES["q_entity_eval"] = (
    "\n    WITH RECURSIVE "
    + _entity_ctes()
    + """,
    pred AS (SELECT x.rid AS a, y.rid AS b
             FROM ent x JOIN ent y
               ON x.entity_id = y.entity_id AND x.rid < y.rid),
    truth AS (SELECT rid AS a, rid + 100000000 AS b FROM base WHERE rid % 5 = 0),
    k AS (SELECT
            (SELECT COUNT(*) FROM pred JOIN truth USING (a, b)) AS tp,
            (SELECT COUNT(*) FROM pred) AS np,
            (SELECT COUNT(*) FROM truth) AS nt)
    SELECT CAST(tp AS BIGINT) AS tp,
           CAST(np - tp AS BIGINT) AS fp,
           CAST(nt - tp AS BIGINT) AS fn,
           CASE WHEN np > 0 THEN CAST(tp AS DOUBLE) / np ELSE 0.0 END AS precision,
           CASE WHEN nt > 0 THEN CAST(tp AS DOUBLE) / nt ELSE 0.0 END AS recall,
           CASE WHEN 2 * tp + (np - tp) + (nt - tp) > 0
                THEN CAST(2 * tp AS DOUBLE) / (2 * tp + (np - tp) + (nt - tp))
                ELSE 0.0 END AS f1
    FROM k"""
)


def q_ari_lpa_vs_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted Rand Index between the LPA communities and the plain
    connected components of the SAME co-purchase subgraph — the
    chance-corrected "did the cheap clustering agree" score
    (operators/graph.py::adjusted_rand_index).  Pair-counting integers
    all the way; both label sets and the contingency sums are
    deterministic, so the single final division is bit-identical."""
    from janus_spark.datapipe.dedup import dedup_clusters
    from janus_spark.operators.graph import adjusted_rand_index, label_propagation

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(F.col("l_partkey") < 400)
    lp = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")).distinct()
    edges = (
        lp.alias("x")
        .join(lp.alias("y"), "o")
        .where(F.col("x.p") < F.col("y.p"))
        .select(F.col("x.p").alias("src"), F.col("y.p").alias("dst"))
    ).localCheckpoint(eager=True)
    lpa = label_propagation(edges, iterations=_LPA_ROUNDS)
    cc = dedup_clusters(edges.select(F.col("src").alias("a"), F.col("dst").alias("b")))
    return adjusted_rand_index(
        lpa, cc.select("id", F.col("keep_id").alias("community")), "id"
    )


QUERIES["q_ari_lpa_vs_cc"] = q_ari_lpa_vs_cc
ORACLES["q_ari_lpa_vs_cc"] = (
    """
    WITH RECURSIVE lp AS MATERIALIZED (
           SELECT DISTINCT l_orderkey AS o, l_partkey AS p
           FROM lineitem WHERE l_partkey < 400),
    e AS MATERIALIZED (
           SELECT DISTINCT x.p AS a, y.p AS b
           FROM lp x JOIN lp y ON x.o = y.o AND x.p < y.p),
    adj AS MATERIALIZED (SELECT a AS w, b AS nb FROM e UNION ALL SELECT b, a FROM e),
    l0 AS (SELECT DISTINCT w AS id, w AS lbl FROM adj),"""
    + ",".join(_LPA_ROUND.format(r=r, p=r - 1) for r in range(1, _LPA_ROUNDS + 1))
    + f""",
    laba AS (SELECT id, lbl AS la FROM l{_LPA_ROUNDS}),
    e2 AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
    nodes AS (SELECT a AS id FROM e2 UNION SELECT b FROM e2),
    rcc AS (SELECT id, id AS lbl FROM nodes
            UNION
            SELECT e2.b, rcc.lbl FROM rcc JOIN e2 ON e2.a = rcc.id),
    labb AS (SELECT id, MIN(lbl) AS lb FROM rcc GROUP BY id),
    jj AS (SELECT la, lb FROM laba JOIN labb USING (id)),
    s AS (SELECT
        (SELECT COALESCE(SUM(CAST(n AS HUGEINT) * (n - 1) // 2), 0) FROM
            (SELECT COUNT(*) AS n FROM jj GROUP BY la, lb)) AS sij,
        (SELECT COALESCE(SUM(CAST(n AS HUGEINT) * (n - 1) // 2), 0) FROM
            (SELECT COUNT(*) AS n FROM jj GROUP BY la)) AS sa,
        (SELECT COALESCE(SUM(CAST(n AS HUGEINT) * (n - 1) // 2), 0) FROM
            (SELECT COUNT(*) AS n FROM jj GROUP BY lb)) AS sb,
        (SELECT COUNT(*) FROM jj) AS n),
    f AS (SELECT sij, sa, sb, n,
                 CAST(n AS HUGEINT) * (n - 1) // 2 AS p FROM s)
    SELECT CAST(CASE WHEN p * (sa + sb) - 2 * sa * sb = 0
                THEN CASE WHEN sij = sa AND sa = sb THEN 1.0 ELSE 0.0 END
                ELSE CAST(2 * sij * p - 2 * sa * sb AS DOUBLE)
                     / CAST(p * (sa + sb) - 2 * sa * sb AS DOUBLE)
           END AS DOUBLE) AS ari,
           CAST(n AS BIGINT) AS n_ids,
           CAST(sij AS BIGINT) AS pairs_both,
           CAST(sa AS BIGINT) AS pairs_a,
           CAST(sb AS BIGINT) AS pairs_b
    FROM f"""
)


def q_entity_block_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oversized-block cap under the driver's hash: candidates from the
    (brand, noun) pass with the cap derived from the DATA — the lower
    median of the block-size distribution — so blocks above the median
    are dropped WHOLE before the self-join (the O(block²) kill switch)
    and the gate is non-vacuous at EVERY scale factor (a constant cap of
    4 was vacuous at sf1/sf10, where all blocks exceed it — VERDICT r6
    "What's wrong" #2).  The cap computation is a bounded collect: the
    histogram of block sizes (#distinct sizes rows), plus one scalar."""
    from janus_spark.datapipe.entity import block_candidates, score_pairs

    # referenced by the cap histogram AND both self-join sides — cut once
    recs = _entity_recs(spark, sf_dir).localCheckpoint(eager=True)
    sizes = recs.groupBy("brand", "noun").agg(F.count(F.lit(1)).alias("c"))
    n_blocks = sizes.count()
    k = (n_blocks + 1) // 2  # lower median: k-th smallest block size
    hist = sorted(
        (r["c"], r["cnt"])
        for r in sizes.groupBy("c").agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    cum, cap = 0, hist[-1][0]
    for c, cnt in hist:
        cum += cnt
        if cum >= k:
            cap = c
            break
    cands = block_candidates(
        recs, "rec_id", [["brand", "noun"]], ["toks", "price"], max_block_size=cap
    )
    # fixture toks are array_distinct-built — skip the per-pair distinct
    scored = score_pairs(
        cands, "toks", numeric_col="price", numeric_scale=100.0,
        w_tokens=0.8, w_numeric=0.2, tokens_distinct=True,
    )
    return scored.select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.round("score", 9).alias("score"),
    )


QUERIES["q_entity_block_cap"] = q_entity_block_cap
ORACLES["q_entity_block_cap"] = (
    "\n    WITH "
    + _entity_recs_ctes()
    + """,
    sizes AS (SELECT brand, noun, COUNT(*) AS c FROM recs GROUP BY brand, noun),
    cap AS (SELECT MIN(c) AS v FROM (
              SELECT c,
                     COUNT(*) OVER (ORDER BY c) AS cum,
                     COUNT(*) OVER () AS n
              FROM sizes)
            WHERE cum >= (n + 1) // 2),
    ok_blocks AS (SELECT brand, noun FROM sizes
                  WHERE c <= (SELECT v FROM cap)),
    rc AS (SELECT recs.* FROM recs JOIN ok_blocks USING (brand, noun)),
    cand AS (SELECT l.rid AS a, r.rid AS b, l.toks AS ta, r.toks AS tb,
                    l.price AS pa, r.price AS pb
             FROM rc l JOIN rc r
               ON l.brand = r.brand AND l.noun = r.noun AND l.rid < r.rid)
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           ROUND(0.8 * (CAST(len(list_intersect(ta, tb)) AS DOUBLE) /
                        (CAST(len(ta) + len(tb) AS DOUBLE)
                         - CAST(len(list_intersect(ta, tb)) AS DOUBLE)))
               + 0.2 * (1.0 - LEAST(1.0, abs(pa - pb) / 100.0)), 9) AS score
    FROM cand
    WHERE CAST(len(ta) + len(tb) AS DOUBLE)
          - CAST(len(list_intersect(ta, tb)) AS DOUBLE) > 0"""
)


# ------------------------------------------------------- data selection
def _dsir_ctes(
    base: str = "documents", p: str = "", score_base: str | None = None
) -> str:
    """DSIR scoring CTE chain ending in ``{p}scored`` — parameterized on
    the base relation and a CTE-name prefix so composed oracles (the
    curation pipeline) reuse the SAME SQL the standalone gates verify.
    ``score_base`` (default ``base``) scores a DIFFERENT relation with
    the target/raw models trained on ``base`` — the frozen-selection
    semantics of q_curation_increment_select; ``base`` must be a subset
    of ``score_base`` so training counts come from the same bucketing
    pass."""
    sb = base if score_base is None else score_base
    raw_src = (
        f"{p}bt"
        if score_base is None
        else f"(SELECT {p}bt.* FROM {p}bt JOIN {base} USING (doc_id))"
    )
    return f"""
    {p}toks AS (SELECT doc_id, unnest({_TOKS}) AS t FROM {sb}),
    {p}bt AS (SELECT doc_id,
                  ('0x' || substr(md5(t), 1, 15))::BIGINT % 4096 AS b
           FROM {p}toks),
    {p}tgt AS (SELECT b FROM {p}bt JOIN {base} USING (doc_id)
            WHERE lang = 'en'),
    {p}tcnt AS (SELECT b, COUNT(*) AS ct FROM {p}tgt GROUP BY b),
    {p}rcnt AS (SELECT b, COUNT(*) AS cr FROM {raw_src} GROUP BY b),
    {p}nt AS (SELECT COUNT(*) AS nt FROM {p}tgt),
    {p}nr AS (SELECT COUNT(*) AS nr FROM {raw_src}),
    {p}w AS (SELECT COALESCE({p}tcnt.b, {p}rcnt.b) AS b,
                 CAST(ROUND((ln((COALESCE(ct, 0) + 1)
                                / ((SELECT nt FROM {p}nt) + 4096.0))
                           - ln((COALESCE(cr, 0) + 1)
                                / ((SELECT nr FROM {p}nr) + 4096.0)))
                          * 1000000) AS BIGINT) AS w
          FROM {p}tcnt FULL JOIN {p}rcnt ON {p}tcnt.b = {p}rcnt.b),
    {p}per AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS score_int,
                   COUNT(*) AS n_tok
            FROM {p}bt JOIN {p}w USING (b) GROUP BY doc_id),
    {p}scored AS (SELECT d.doc_id,
                      COALESCE(score_int, 0) AS score_int,
                      COALESCE(n_tok, 0) AS n_tok,
                      CASE WHEN COALESCE(n_tok, 0) > 0
                           THEN score_int / (1000000.0 * n_tok) END AS s
               FROM {sb} d LEFT JOIN {p}per USING (doc_id))"""


_DSIR_CTES = _dsir_ctes()


def q_dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance scores (Xie et al. 2023): hashed-unigram
    bag-of-words models of the TARGET slice (lang='en') vs the RAW
    corpus; per-doc score = mean per-token log-likelihood ratio.
    Integer-scaled per-bucket weights -> exact BIGINT per-doc sums
    (order-free); the float re-enters at the final per-doc division."""
    from janus_spark.datapipe.selection import dsir_flagged_scores

    # docs feeds the one fused tokenize+hash pass and the join-back —
    # cut once (r10: dsir_flagged_scores trains AND scores in one pass;
    # bit-identical to dsir_weights + dsir_scores by construction)
    docs = _read_wide(spark, f"{sf_dir}/documents.parquet").localCheckpoint(
        eager=True
    )
    _, scores = dsir_flagged_scores(
        docs, F.col("lang") == "en", "target", n_buckets=4096
    )
    # output is the EXACT integer pair (score_int, n_tok) — the rounded
    # float ratio is boundary-prone under cross-engine ROUND (score_int /
    # (1e6 n_tok) is a terminating rational: at sf10 doc 1000 hit
    # 0.0039526875, an exact .5 at digit 10, and Spark HALF_UP vs DuckDB
    # numeric rounding disagreed); consumers derive the float locally
    return scores.select("doc_id", "score_int", "n_tok")


QUERIES["q_dsir_scores"] = q_dsir_scores
ORACLES["q_dsir_scores"] = f"""
    WITH {_DSIR_CTES}
    SELECT doc_id, score_int, n_tok FROM scored"""


def q_dsir_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection: keep the 100 raw documents most like the target
    slice — top-k by mean log-likelihood ratio, ties by doc_id, the
    derandomized stand-in for DSIR's Gumbel resampling (identical
    scores; only the final draw differs)."""
    from janus_spark.datapipe.selection import dsir_flagged_scores

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet").localCheckpoint(
        eager=True
    )
    # r10: fused one-pass train+score; the top-k tail is verbatim
    # dsir_topk's (same float ratio, same id-ascending tie-break)
    _, scores = dsir_flagged_scores(
        docs, F.col("lang") == "en", "target", n_buckets=4096
    )
    # selection ORDER uses the double ratio (bit-identical across
    # engines: same IEEE division); the OUTPUT stays exact-integer like
    # q_dsir_scores to dodge the ROUND boundary class
    return (
        scores.where(F.col("score").isNotNull())
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(100)
        .select("doc_id", "score_int", "n_tok")
    )


QUERIES["q_dsir_topk"] = q_dsir_topk
ORACLES["q_dsir_topk"] = f"""
    WITH {_DSIR_CTES}
    SELECT doc_id, score_int, n_tok
    FROM scored WHERE s IS NOT NULL
    ORDER BY s DESC, doc_id LIMIT 100"""


# --------------------------------------------------- quality classification
def _quality_ctes(
    base: str = "documents", p: str = "", score_base: str | None = None
) -> str:
    """NB quality scoring CTE chain ending in ``{p}scored`` —
    parameterized on base relation and CTE-name prefix (same template
    the standalone q_quality_* oracles verify).  ``score_base`` (default
    ``base``) scores a DIFFERENT relation with weights trained on
    ``base`` — the frozen-model semantics of q_curation_increment;
    ``base`` must be a subset of ``score_base`` so the training token
    counts come from the same bucketing pass."""
    sb = base if score_base is None else score_base
    return f"""
    {p}toks AS (SELECT doc_id, unnest({_TOKS}) AS t FROM {sb}),
    {p}bt AS (SELECT doc_id,
                  ('0x' || substr(md5(t), 1, 15))::BIGINT % 4096 AS b
           FROM {p}toks),
    {p}pos AS (SELECT b FROM {p}bt JOIN {base} USING (doc_id)
            WHERE lang = 'en'),
    {p}neg AS (SELECT b FROM {p}bt JOIN {base} USING (doc_id)
            WHERE lang <> 'en'),
    {p}pcnt AS (SELECT b, COUNT(*) AS cp FROM {p}pos GROUP BY b),
    {p}ncnt AS (SELECT b, COUNT(*) AS cn FROM {p}neg GROUP BY b),
    {p}np AS (SELECT COUNT(*) AS np FROM {p}pos),
    {p}nn AS (SELECT COUNT(*) AS nn FROM {p}neg),
    {p}w AS (SELECT COALESCE({p}pcnt.b, {p}ncnt.b) AS b,
                 CAST(ROUND((ln((COALESCE(cp, 0) + 1)
                                / ((SELECT np FROM {p}np) + 4096.0))
                           - ln((COALESCE(cn, 0) + 1)
                                / ((SELECT nn FROM {p}nn) + 4096.0)))
                          * 1000000) AS BIGINT) AS w
          FROM {p}pcnt FULL JOIN {p}ncnt ON {p}pcnt.b = {p}ncnt.b),
    {p}per AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS score_int,
                   COUNT(*) AS n_tok
            FROM {p}bt JOIN {p}w USING (b) GROUP BY doc_id),
    {p}scored AS (SELECT d.doc_id,
                      COALESCE(score_int, 0) AS score_int,
                      COALESCE(n_tok, 0) AS n_tok
               FROM {sb} d LEFT JOIN {p}per USING (doc_id))"""


_QUALITY_CTES = _quality_ctes()


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style document quality classifier (Joulin et al. 2016;
    the CCNet/GPT-3 quality-filter recipe): naive-Bayes log-odds weights
    over hashed-unigram buckets, trained en-slice (positive) vs
    everything-else (negative), map-only scoring.  The keep/reject
    decision is the EXACT INTEGER comparison score_int > 0·n_tok — the
    r7 score_int discipline: floats never enter the emitted columns or
    the decision, so the split is bit-identical across engines."""
    from janus_spark.datapipe.selection import dsir_flagged_scores

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet").localCheckpoint(
        eager=True
    )
    # r10: fused one-pass train+score (bit-identical to
    # nb_quality_weights + quality_scores); pred is quality_scores'
    # exact-integer decision at the default bias/τ = 0
    _, scores = dsir_flagged_scores(
        docs, F.col("lang") == "en", "split", n_buckets=4096
    )
    return scores.select(
        "doc_id",
        "score_int",
        "n_tok",
        ((F.col("n_tok") > 0) & (F.col("score_int") > 0)).alias("pred"),
    )


QUERIES["q_quality_classifier"] = q_quality_classifier
ORACLES["q_quality_classifier"] = f"""
    WITH {_QUALITY_CTES}
    SELECT doc_id, score_int, n_tok,
           (n_tok > 0 AND score_int > 0) AS pred
    FROM scored"""


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative quality split: keep documents whose mean per-token
    log-odds beats the CORPUS mean — the scale-invariant form (an
    absolute τ is smoothing-offset-fragile: the corpus mean drifts
    −0.12 → −0.01 from sf0.001 to sf0.1 on the same generator).  The
    decision is the cross-multiplied ALL-INTEGER comparison
    score_int·Σn > Σscore·n_tok in decimal(38,0)/HUGEINT — exact at any
    corpus size, no float, no ROUND boundary."""
    from janus_spark.datapipe.quality import quality_filter_relative_split

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet").localCheckpoint(
        eager=True
    )
    # r10: fused one-pass train+score+cut (bit-identical to
    # nb_quality_weights + quality_filter_relative by construction)
    return quality_filter_relative_split(
        docs, F.col("lang") == "en", n_buckets=4096
    )


QUERIES["q_quality_filter"] = q_quality_filter
ORACLES["q_quality_filter"] = f"""
    WITH {_QUALITY_CTES},
    tot AS (SELECT CAST(SUM(score_int) AS HUGEINT) AS ts,
                   CAST(SUM(n_tok) AS HUGEINT) AS tn
            FROM scored)
    SELECT doc_id, score_int, n_tok
    FROM scored, tot
    WHERE CAST(score_int AS HUGEINT) * tn > ts * CAST(n_tok AS HUGEINT)"""


def q_live_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous quality classification under the EXACT gate: the
    documents table streams through a REAL Structured Streaming run in
    three file-source micro-batches; each document is scored by the
    stateless literal-map form (datapipe/quality.py::
    quality_stream_scores — zero shuffles, zero state, append-mode) with
    NB log-odds weights trained batch-side.  Stateless scoring is
    micro-batch invariant, so the streamed result must equal the batch
    classifier bit-for-bit — the oracle IS q_quality_classifier's."""
    import shutil
    import tempfile
    import uuid

    from janus_spark.datapipe.quality import nb_quality_weights, quality_stream_scores

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet").localCheckpoint(
        eager=True
    )
    pos = docs.where(F.col("lang") == "en")
    neg = docs.where(F.col("lang") != "en")
    # bounded model-sized collect: <= n_buckets rows by construction
    witems = [
        (r["b"], r["w"]) for r in nb_quality_weights(pos, neg, n_buckets=4096).collect()
    ]
    root = tempfile.mkdtemp(prefix="live_quality_")
    name = f"live_quality_{uuid.uuid4().hex[:8]}"
    try:
        third = docs.select(F.max("doc_id").alias("m")).head()["m"] // 3
        docs.where(F.col("doc_id") <= third).coalesce(1).write.parquet(
            f"{root}/f1.parquet"
        )
        docs.where(
            (F.col("doc_id") > third) & (F.col("doc_id") <= 2 * third)
        ).coalesce(1).write.parquet(f"{root}/f2.parquet")
        docs.where(F.col("doc_id") > 2 * third).coalesce(1).write.parquet(
            f"{root}/f3.parquet"
        )
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/f*.parquet")
        )
        out = quality_stream_scores(stream, witems, n_buckets=4096)
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _await_stream(q, 300)
        res = spark.table(name).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return res


QUERIES["q_live_quality"] = q_live_quality
ORACLES["q_live_quality"] = ORACLES["q_quality_classifier"]


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-substring spans (Lee et al. 2022 recipe): every
    8-token gram occurring >=2 times in the corpus, merged into maximal
    per-document spans — the ranges a substring-level dedup would cut.
    0-based inclusive token offsets; all columns exact integers."""
    from janus_spark.datapipe.dedup import duplicate_spans

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    return duplicate_spans(docs, k=8).select(
        "doc_id", "span_start", "span_end", "span_tokens"
    )


QUERIES["q_dup_spans"] = q_dup_spans
ORACLES["q_dup_spans"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS l FROM documents),
    g AS (SELECT doc_id, u.pos - 1 AS pos,
                 ('0x' || substr(md5(array_to_string(l[u.pos:u.pos+7], ' ')),
                                 1, 15))::BIGINT AS h
          FROM t, UNNEST(generate_series(1, len(l) - 7)) AS u(pos)
          WHERE len(l) >= 8),
    dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2),
    f AS (SELECT doc_id, pos FROM g JOIN dup USING (h)),
    lagged AS (SELECT doc_id, pos,
                      LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
               FROM f),
    isl AS (SELECT doc_id, pos,
                   SUM(CASE WHEN prev IS NULL OR pos - prev > 8
                            THEN 1 ELSE 0 END)
                     OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS UNBOUNDED PRECEDING) AS island
            FROM lagged)
    SELECT doc_id,
           MIN(pos) AS span_start,
           MAX(pos) + 7 AS span_end,
           MAX(pos) + 7 - MIN(pos) + 1 AS span_tokens
    FROM isl GROUP BY doc_id, island"""


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher heuristic quality rules (Rae et al. 2021 appendix A1),
    fixture-calibrated thresholds: 20 <= n_tok, mean word length in
    [3,10], top-2-gram token coverage < 1/10, within-doc duplicate
    5-gram instances < 3/10, >=1 list stopword.  Every emitted column is
    an exact integer; every rule an integer (cross-multiplied rational)
    comparison."""
    from janus_spark.datapipe.quality import gopher_quality

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    return gopher_quality(
        docs, min_tok=20, top2_max=(1, 10), min_stopwords=1
    )


QUERIES["q_gopher_rules"] = q_gopher_rules


def _gopher_ctes(
    base: str = "documents",
    p: str = "",
    min_tok: int = 20,
    max_tok: int = 100_000,
    min_mwl: int = 3,
    max_mwl: int = 10,
    top2_max: tuple[int, int] = (1, 10),
    dup5_max: tuple[int, int] = (3, 10),
    min_stopwords: int = 1,
) -> str:
    """Gopher rule evaluation as a CTE chain ending in ``{p}gq`` (one
    row per doc with the signals and ``pred``) — shared by the
    standalone q_gopher_rules oracle and composed oracles
    (q_curation_pipeline) so the SQL can never drift between them."""
    return f"""
    {p}t AS (SELECT doc_id, {_TOKS} AS l FROM {base}),
    {p}base AS (SELECT doc_id,
                    CAST(len(l) AS BIGINT) AS n_tok,
                    CAST(COALESCE(list_sum(list_transform(l, x -> len(x))), 0)
                         AS BIGINT) AS word_chars,
                    CAST(len(list_distinct(list_filter(l, x -> x IN
                         ('the','be','to','of','and','that','have','with'))))
                         AS BIGINT) AS stop_hits
             FROM {p}t),
    {p}g2 AS (SELECT doc_id, array_to_string(l[u.pos:u.pos+1], ' ') AS g
           FROM {p}t, UNNEST(generate_series(1, len(l) - 1)) AS u(pos)
           WHERE len(l) >= 2),
    {p}m2 AS (SELECT doc_id, MAX(c) AS top2_count
           FROM (SELECT doc_id, g, COUNT(*) AS c FROM {p}g2 GROUP BY doc_id, g)
           GROUP BY doc_id),
    {p}g5 AS (SELECT doc_id, array_to_string(l[u.pos:u.pos+4], ' ') AS g
           FROM {p}t, UNNEST(generate_series(1, len(l) - 4)) AS u(pos)
           WHERE len(l) >= 5),
    {p}m5 AS (SELECT doc_id,
                  SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup5_instances,
                  SUM(c) AS n5
           FROM (SELECT doc_id, g, COUNT(*) AS c FROM {p}g5 GROUP BY doc_id, g)
           GROUP BY doc_id),
    {p}gq AS (SELECT doc_id, n_tok, word_chars,
           CAST(COALESCE(top2_count, 0) AS BIGINT) AS top2_count,
           CAST(COALESCE(dup5_instances, 0) AS BIGINT) AS dup5_instances,
           CAST(COALESCE(n5, 0) AS BIGINT) AS n5,
           stop_hits,
           (n_tok >= {min_tok} AND n_tok <= {max_tok}
            AND word_chars >= {min_mwl} * n_tok AND word_chars <= {max_mwl} * n_tok
            AND 2 * COALESCE(top2_count, 0) * {top2_max[1]} < n_tok * {top2_max[0]}
            AND (COALESCE(n5, 0) = 0
                 OR COALESCE(dup5_instances, 0) * {dup5_max[1]} < COALESCE(n5, 0) * {dup5_max[0]})
            AND stop_hits >= {min_stopwords}) AS pred
    FROM {p}base
    LEFT JOIN {p}m2 USING (doc_id)
    LEFT JOIN {p}m5 USING (doc_id))"""


ORACLES["q_gopher_rules"] = f"""
    WITH {_gopher_ctes()}
    SELECT doc_id, n_tok, word_chars, top2_count, dup5_instances, n5,
           stop_hits, pred
    FROM gq"""


def q_dup_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-substring CUTTING (the apply side of q_dup_spans,
    Lee et al. 2022): remove every duplicated 8-gram occurrence except
    the globally-first copy (min exact-integer (doc_id, pos)), emit the
    cleaned token stream per document."""
    from janus_spark.datapipe.dedup import cut_duplicate_spans

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    return cut_duplicate_spans(docs, k=8).select(
        "doc_id", "n_tok", "kept_tok", "clean_text"
    )


QUERIES["q_dup_cut"] = q_dup_cut
ORACLES["q_dup_cut"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS l FROM documents),
    g AS (SELECT doc_id, u.pos - 1 AS pos,
                 ('0x' || substr(md5(array_to_string(l[u.pos:u.pos+7], ' ')),
                                 1, 15))::BIGINT AS h
          FROM t, UNNEST(generate_series(1, len(l) - 7)) AS u(pos)
          WHERE len(l) >= 8),
    dup AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2),
    f AS (SELECT doc_id, pos, h FROM g JOIN dup USING (h)),
    losers AS (SELECT doc_id, pos
               FROM (SELECT doc_id, pos,
                            ROW_NUMBER() OVER (PARTITION BY h
                                               ORDER BY doc_id, pos) AS rn
                     FROM f)
               WHERE rn > 1),
    cov AS (SELECT DISTINCT doc_id, pos + d.x AS pos
            FROM losers, UNNEST(generate_series(0, 7)) AS d(x)),
    tok AS (SELECT doc_id, u.pos - 1 AS pos, l[u.pos] AS tk
            FROM t, UNNEST(generate_series(1, len(l))) AS u(pos)),
    kept AS (SELECT doc_id, pos, tk FROM tok ANTI JOIN cov USING (doc_id, pos)),
    agg AS (SELECT doc_id, COUNT(*) AS kept_tok,
                   string_agg(tk, ' ' ORDER BY pos) AS clean_text
            FROM kept GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(len(l) AS BIGINT) AS n_tok,
           CAST(COALESCE(kept_tok, 0) AS BIGINT) AS kept_tok,
           COALESCE(clean_text, '') AS clean_text
    FROM t LEFT JOIN agg USING (doc_id)"""


# Target mixture for the domain-mixture gates: literal integer weights
# over the 20 sources (w = (i mod 5) + 1), budget 200.  The allocation
# depends only on (target, budget) — scale-invariant by construction.
_MIX_TARGET = [(f"src{i}", (i % 5) + 1) for i in range(20)]
_MIX_BUDGET = 200
_MIX_W = sum(w for _, w in _MIX_TARGET)
_MIX_VALUES = ", ".join(f"('{s}', {w})" for s, w in _MIX_TARGET)


def _mix_alloc_sql(budget: int) -> str:
    """Largest-remainder apportionment of ``budget`` over _MIX_TARGET as
    a CTE chain ending in ``alloc(source, w, n_avail, alloc)`` — shared
    by every mixture oracle so the SQL can never drift."""
    return f"""
    tw(source, w) AS (VALUES {_MIX_VALUES}),
    avail AS (SELECT source, COUNT(*) AS n_avail FROM documents GROUP BY source),
    j AS (SELECT tw.source, CAST(tw.w AS BIGINT) AS w,
                 CAST(COALESCE(n_avail, 0) AS BIGINT) AS n_avail,
                 ({budget} * tw.w) // {_MIX_W} AS base,
                 ({budget} * tw.w) % {_MIX_W} AS rem
          FROM tw LEFT JOIN avail USING (source)),
    alloc AS (SELECT source, w, n_avail,
                     CAST(base + CASE WHEN ROW_NUMBER()
                                        OVER (ORDER BY rem DESC, source ASC)
                                      <= {budget} - SUM(base) OVER ()
                                 THEN 1 ELSE 0 END AS BIGINT) AS alloc
              FROM j)"""


_MIX_ALLOC_SQL = _mix_alloc_sql(_MIX_BUDGET)


def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting (DoReMi-lite allocation step): exact-
    integer largest-remainder apportionment of a 200-doc budget over
    literal target weights — no float quotas anywhere."""
    from janus_spark.datapipe.sampling import domain_mixture

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    return domain_mixture(docs, _MIX_TARGET, _MIX_BUDGET).select(
        "source", "w", "n_avail", "alloc"
    )


QUERIES["q_domain_mixture"] = q_domain_mixture
ORACLES["q_domain_mixture"] = f"""
    WITH {_MIX_ALLOC_SQL}
    SELECT source, w, n_avail, alloc FROM alloc"""


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-sample honoring the q_domain_mixture
    allocation: per domain the alloc lowest key-hashes win (key breaks
    ties) — reproducible across engines and partitionings."""
    from janus_spark.datapipe.sampling import mixture_sample

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    return mixture_sample(docs, _MIX_TARGET, _MIX_BUDGET).select(
        "doc_id", "source"
    )


QUERIES["q_mixture_sample"] = q_mixture_sample
ORACLES["q_mixture_sample"] = f"""
    WITH {_MIX_ALLOC_SQL},
    ranked AS (SELECT d.doc_id, d.source,
                      ROW_NUMBER() OVER (
                          PARTITION BY d.source
                          ORDER BY substr(md5(CAST(d.doc_id AS VARCHAR)
                                              || ':mixsample'), 1, 8),
                                   d.doc_id) AS rk
               FROM documents d JOIN alloc USING (source))
    SELECT doc_id, source FROM ranked JOIN alloc USING (source)
    WHERE rk <= alloc"""


def q_curation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation: Gopher rules → corpus-relative quality
    filter → MinHash near-dup removal (pairwise keep-lowest-id) → DSIR
    top-100 → 512-token/4-shard packing, as one DataFrame composition.
    Oracle composed from the SAME SQL fragments the standalone stage
    gates verify (no drift possible)."""
    from janus_spark.datapipe.curation import curation_pipeline

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    out = curation_pipeline(
        docs, k_top=100, budget_tokens=512, n_shards=4
    )
    return out.select(
        "id",
        F.col("shard").cast("long").alias("shard"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("start_offset").cast("long").alias("start_offset"),
        F.col("end_offset").cast("long").alias("end_offset"),
        F.col("seq_id").cast("long").alias("seq_id"),
        "straddles",
    )


QUERIES["q_curation_full"] = q_curation_full

# The curation stage CTE prelude (through s4) — shared by the
# q_curation_full and q_curation_funnel oracles so the stage semantics
# can never drift between the packed output and the funnel report.
# Stage-boundary CTEs are MATERIALIZED: DuckDB re-evaluates deep CTE
# chains once per reference otherwise (>7 min -> 0.4 s here).
_CURATION_STAGE_CTES = f"""{_gopher_ctes(base="documents", p="g_")},
    s1 AS MATERIALIZED (SELECT d.* FROM documents d
           JOIN g_gq USING (doc_id) WHERE g_gq.pred),
    {_quality_ctes(base="s1", p="q_")},
    q_tot AS (SELECT CAST(SUM(score_int) AS HUGEINT) AS ts,
                     CAST(SUM(n_tok) AS HUGEINT) AS tn
              FROM q_scored),
    s2 AS MATERIALIZED (SELECT s1.* FROM s1 JOIN q_scored USING (doc_id), q_tot
           WHERE CAST(q_scored.score_int AS HUGEINT) * q_tot.tn
                 > q_tot.ts * CAST(q_scored.n_tok AS HUGEINT)),
    {_minhash_pair_ctes(corpus_sql="SELECT doc_id, text FROM s2", p="m_")},
    s3 AS MATERIALIZED (SELECT * FROM s2
           WHERE doc_id NOT IN (SELECT b FROM m_pairs)),
    {_dsir_ctes(base="s3", p="d_")},
    s4ids AS (SELECT doc_id FROM d_scored WHERE s IS NOT NULL
              ORDER BY s DESC, doc_id LIMIT 100),
    s4 AS MATERIALIZED (SELECT s3.* FROM s3 JOIN s4ids USING (doc_id))"""

ORACLES["q_curation_full"] = f"""
    WITH {_CURATION_STAGE_CTES},
    {_pack_ctes(base="s4", p="p_")}
    SELECT id, shard, n_tokens, start_offset, end_offset, seq_id, straddles
    FROM p_packed"""


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation funnel report: per-stage survivor counts for the
    q_curation_full pipeline (raw -> gopher -> quality -> dedup ->
    selected), built on the same stage frames so report and pipeline
    can never disagree."""
    from janus_spark.datapipe.curation import curation_funnel

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    return curation_funnel(docs, k_top=100).select(
        "stage_no", "stage", "n_docs"
    )


QUERIES["q_curation_funnel"] = q_curation_funnel
ORACLES["q_curation_funnel"] = f"""
    WITH {_CURATION_STAGE_CTES}
    SELECT CAST(0 AS BIGINT) AS stage_no, 'raw' AS stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
    UNION ALL SELECT 1, 'gopher', COUNT(*) FROM s1
    UNION ALL SELECT 2, 'quality', COUNT(*) FROM s2
    UNION ALL SELECT 3, 'dedup', COUNT(*) FROM s3
    UNION ALL SELECT 4, 'selected', COUNT(*) FROM s4"""


def q_unimax_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax allocation (Chung et al. 2023): spread a 400-doc budget as
    uniformly as possible across LANGUAGES, capped at 1 epoch per
    language — exact-integer water-filling (the closed form of
    equal-weight capped largest-remainder).  Languages are deliberately
    the domain (counts vary 64..218 at the driver SFs) so the cap BINDS
    for four of five domains and the oracle exercises the
    redistribution path, not just the uniform split."""
    from janus_spark.datapipe.sampling import unimax_allocations

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    return unimax_allocations(
        docs, budget=400, max_epochs=1, source_col="lang"
    ).select("lang", "n_avail", "cap", "alloc")


QUERIES["q_unimax_mixture"] = q_unimax_mixture
ORACLES["q_unimax_mixture"] = """
    WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_avail
               FROM documents GROUP BY lang),
    j AS (SELECT lang, n_avail, n_avail * 1 AS cap FROM c),
    s AS (SELECT lang, n_avail, cap,
                 ROW_NUMBER() OVER (ORDER BY cap, lang) AS i,
                 COUNT(*) OVER () AS m,
                 SUM(cap) OVER (ORDER BY cap, lang
                                ROWS UNBOUNDED PRECEDING) AS pfx
          FROM j),
    t AS (SELECT *, pfx - cap + cap * (m - i + 1) AS need FROM s),
    u AS (SELECT *, (need <= 400) AS capped FROM t),
    agg AS (SELECT SUM(CASE WHEN capped THEN 1 ELSE 0 END) AS k,
                   COALESCE(MAX(CASE WHEN capped THEN pfx END), 0) AS pk,
                   MAX(m) AS mm
            FROM u),
    x AS (SELECT u.*, agg.k, 400 - agg.pk AS b2, agg.mm - agg.k AS uu
          FROM u, agg),
    y AS (SELECT *,
                 CASE WHEN uu > 0 THEN b2 // uu ELSE 0 END AS base,
                 CASE WHEN uu > 0 THEN b2 % uu ELSE 0 END AS lft,
                 SUM(CASE WHEN capped THEN 0 ELSE 1 END)
                     OVER (ORDER BY lang ROWS UNBOUNDED PRECEDING) AS nr
          FROM x)
    SELECT lang, n_avail, cap,
           CAST(CASE WHEN capped THEN cap
                     ELSE base + CASE WHEN nr <= lft THEN 1 ELSE 0 END
                END AS BIGINT) AS alloc
    FROM y"""


def q_mixture_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted mixture sampling: the 20,000-TOKEN budget is
    apportioned over the same literal target as q_domain_mixture
    (exact-integer largest remainder), then each domain fills greedily
    in deterministic hash order — a doc is kept iff the tokens
    accumulated before it are under the domain's allocation (the last
    kept doc may straddle; downstream packing chops at token
    granularity)."""
    from janus_spark.datapipe.sampling import mixture_sample_tokens

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    return mixture_sample_tokens(docs, _MIX_TARGET, 20000).select(
        "doc_id", "source", "n_tok", "tok_before"
    )


QUERIES["q_mixture_tokens"] = q_mixture_tokens
ORACLES["q_mixture_tokens"] = f"""
    WITH {_mix_alloc_sql(20000)},
    ranked AS (SELECT d.doc_id, d.source,
                      CAST(len({_TOKS}) AS BIGINT) AS n_tok,
                      CAST(COALESCE(SUM(len({_TOKS})) OVER (
                          PARTITION BY d.source
                          ORDER BY substr(md5(CAST(d.doc_id AS VARCHAR)
                                              || ':mixtok'), 1, 8),
                                   d.doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS BIGINT) AS tok_before
               FROM documents d JOIN alloc USING (source))
    SELECT doc_id, source, n_tok, tok_before
    FROM ranked JOIN alloc USING (source)
    WHERE tok_before < alloc"""


def q_sample_quota_prefiltered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mega-stratum scale path of quota sampling, proven exact: the
    gate runs the PREFILTERED plan (per-stratum hash pre-cut + survivor
    count + declarative rescue of short strata + rank), while the
    oracle is the PLAIN ranking SQL — an EXACT match IS the
    cross-engine proof that the scale path changes the plan, not the
    answer.  ratio=1 deliberately starves the pre-cut so the rescue
    path executes at every SF."""
    from janus_spark.datapipe.sampling import quota_sample_prefiltered

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    return quota_sample_prefiltered(
        docs, 5, strata_col="source", ratio=1
    ).select("doc_id", "source")


QUERIES["q_sample_quota_prefiltered"] = q_sample_quota_prefiltered
ORACLES["q_sample_quota_prefiltered"] = """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY substr(md5(CAST(doc_id AS VARCHAR)
                                                    || ':quota'), 1, 8),
                                         doc_id) AS rk
      FROM documents)
    WHERE rk <= 5"""


def q_mixture_sample_prefiltered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mega-domain scale path of mixture sampling, proven exact: the
    gate runs the PREFILTERED plan (per-domain hash pre-cut sized from
    the allocation + survivor count + declarative rescue + rank), while
    the oracle is the PLAIN ranking SQL — an EXACT match IS the
    cross-engine proof that the scale path changes the plan, not the
    answer.  ratio=1 deliberately starves the pre-cut so the rescue
    path executes at every SF."""
    from janus_spark.datapipe.sampling import mixture_sample_prefiltered

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    return mixture_sample_prefiltered(
        docs, _MIX_TARGET, _MIX_BUDGET, ratio=1
    ).select("doc_id", "source")


QUERIES["q_mixture_sample_prefiltered"] = q_mixture_sample_prefiltered
# deliberately the SAME SQL as q_mixture_sample: the scale path must not
# change the answer
ORACLES["q_mixture_sample_prefiltered"] = ORACLES["q_mixture_sample"]


def q_mixture_tokens_prefiltered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mega-domain scale path of TOKEN-budgeted mixture sampling:
    the pre-cut is sized so ~ratio*alloc tokens survive per domain
    (rate = ratio*alloc / domain_total_tokens), with a token-shortfall
    rescue (a domain whose survivors carry fewer tokens than its
    allocation gets its full rows back).  Oracle is the PLAIN
    running-sum SQL; ratio=1 starves the pre-cut so the rescue executes
    at every SF."""
    from janus_spark.datapipe.sampling import mixture_sample_tokens_prefiltered

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    return mixture_sample_tokens_prefiltered(
        docs, _MIX_TARGET, 20000, ratio=1
    ).select("doc_id", "source", "n_tok", "tok_before")


QUERIES["q_mixture_tokens_prefiltered"] = q_mixture_tokens_prefiltered
ORACLES["q_mixture_tokens_prefiltered"] = ORACLES["q_mixture_tokens"]


def q_curation_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental curation, proven against the batch semantics: found
    the corpus on doc_id < 250 (train + freeze the quality model, seed
    the persistent MinHash store), run the rest of the corpus through
    curation_increment against that store, and return the union of
    survivors.  The oracle is the ONE-SHOT batch SQL over the full
    corpus with the quality model frozen to the founding slice — an
    EXACT match is the cross-engine proof of the incrementality
    theorem (per-document frozen stages + a store that keeps dropped
    signatures reproduce the single-shot keep-lowest-id pair graph)."""
    import tempfile

    from janus_spark.datapipe.curation import (
        curation_bootstrap,
        curation_increment,
    )

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    store = tempfile.mkdtemp(prefix="cur_inc_")
    surv0, model = curation_bootstrap(docs.where("doc_id < 250"), store)
    surv1 = curation_increment(docs.where("doc_id >= 250"), store, model)
    return surv0.unionByName(surv1).select(
        F.col("doc_id").cast("long").alias("doc_id")
    )


QUERIES["q_curation_increment"] = q_curation_increment
ORACLES["q_curation_increment"] = f"""
    WITH {_gopher_ctes(base="documents", p="g_")},
    s1 AS MATERIALIZED (SELECT d.* FROM documents d
           JOIN g_gq USING (doc_id) WHERE g_gq.pred),
    s1b AS MATERIALIZED (SELECT * FROM s1 WHERE doc_id < 250),
    {_quality_ctes(base="s1b", p="q_", score_base="s1")},
    q_tot AS (SELECT CAST(SUM(score_int) AS HUGEINT) AS ts,
                     CAST(SUM(n_tok) AS HUGEINT) AS tn
              FROM q_scored JOIN s1b USING (doc_id)),
    s2 AS MATERIALIZED (SELECT s1.* FROM s1 JOIN q_scored USING (doc_id), q_tot
           WHERE CAST(q_scored.score_int AS HUGEINT) * q_tot.tn
                 > q_tot.ts * CAST(q_scored.n_tok AS HUGEINT)),
    {_minhash_pair_ctes(corpus_sql="SELECT doc_id, text FROM s2", p="m_")}
    SELECT doc_id FROM s2 WHERE doc_id NOT IN (SELECT b FROM m_pairs)"""


def q_live_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous curation under the EXACT gate: the documents table
    arrives as FOUR id-monotone file-source micro-batches through a
    REAL Structured Streaming run; each batch runs the frozen-model
    filter prefix + persistent-store near-dup via the idempotent
    foreachBatch sink (batch-marker scheme) and publishes survivors.
    The quality model is frozen to doc_id < 250 — the same founding
    slice as q_curation_increment — so the union of the published
    batches must equal the ONE-SHOT batch SQL over the full corpus:
    the oracle IS q_curation_increment's."""
    import shutil
    import tempfile

    from janus_spark.datapipe.curation import (
        curation_stream,
        train_curation_model,
    )

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet").localCheckpoint(
        eager=True
    )
    model = train_curation_model(docs.where("doc_id < 250"))
    root = tempfile.mkdtemp(prefix="live_curation_")
    try:
        hi = docs.select(F.max("doc_id").alias("m")).head()["m"]
        third = max(1, (hi - 250) // 3)
        cuts = [250, 250 + third, 250 + 2 * third, hi + 1]
        docs.where(F.col("doc_id") < 250).coalesce(1).write.parquet(
            f"{root}/f0.parquet"
        )
        for i in range(3):
            docs.where(
                (F.col("doc_id") >= cuts[i]) & (F.col("doc_id") < cuts[i + 1])
            ).coalesce(1).write.parquet(f"{root}/f{i + 1}.parquet")
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{root}/f*.parquet")
        )
        q = curation_stream(
            stream, f"{root}/store", model, f"{root}/out", f"{root}/ckpt"
        )
        _await_stream(q, 600)
        res = (
            spark.read.parquet(f"{root}/out")
            .select(F.col("doc_id").cast("long").alias("doc_id"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return res


QUERIES["q_live_curation"] = q_live_curation
ORACLES["q_live_curation"] = ORACLES["q_curation_increment"]


def q_curation_increment_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental curation WITH frozen DSIR selection: the founding
    slice (doc_id < 250) additionally freezes an importance model
    (target = its quality survivors' English slice) and the absolute
    above-founding-mean selection threshold; each increment filters,
    near-dups against the store, then SELECTS — the full daily shape.
    Selection is per-document and applied after the store append, so it
    commutes with dedup and the oracle stays the ONE-SHOT batch SQL
    (batch dedup, then the same frozen selection)."""
    import tempfile

    from janus_spark.datapipe.curation import (
        curation_bootstrap,
        curation_increment,
    )

    docs = _read_wide(spark, f"{sf_dir}/documents.parquet")
    store = tempfile.mkdtemp(prefix="cur_incsel_")
    surv0, model = curation_bootstrap(
        docs.where("doc_id < 250"), store, select=True
    )
    surv1 = curation_increment(docs.where("doc_id >= 250"), store, model)
    return surv0.unionByName(surv1).select(
        F.col("doc_id").cast("long").alias("doc_id")
    )


QUERIES["q_curation_increment_select"] = q_curation_increment_select
ORACLES["q_curation_increment_select"] = f"""
    WITH {_gopher_ctes(base="documents", p="g_")},
    s1 AS MATERIALIZED (SELECT d.* FROM documents d
           JOIN g_gq USING (doc_id) WHERE g_gq.pred),
    s1b AS MATERIALIZED (SELECT * FROM s1 WHERE doc_id < 250),
    {_quality_ctes(base="s1b", p="q_", score_base="s1")},
    q_tot AS (SELECT CAST(SUM(score_int) AS HUGEINT) AS ts,
                     CAST(SUM(n_tok) AS HUGEINT) AS tn
              FROM q_scored JOIN s1b USING (doc_id)),
    s2 AS MATERIALIZED (SELECT s1.* FROM s1 JOIN q_scored USING (doc_id), q_tot
           WHERE CAST(q_scored.score_int AS HUGEINT) * q_tot.tn
                 > q_tot.ts * CAST(q_scored.n_tok AS HUGEINT)),
    s2b AS MATERIALIZED (SELECT * FROM s2 WHERE doc_id < 250),
    {_minhash_pair_ctes(corpus_sql="SELECT doc_id, text FROM s2", p="m_")},
    s3 AS MATERIALIZED (SELECT * FROM s2
           WHERE doc_id NOT IN (SELECT b FROM m_pairs)),
    {_dsir_ctes(base="s2b", p="d_", score_base="s2")},
    d_tot AS (SELECT CAST(SUM(score_int) AS HUGEINT) AS ts,
                     CAST(SUM(n_tok) AS HUGEINT) AS tn
              FROM d_scored JOIN s2b USING (doc_id))
    SELECT doc_id FROM s3 JOIN d_scored USING (doc_id), d_tot
    WHERE CAST(d_scored.score_int AS HUGEINT) * d_tot.tn
          > d_tot.ts * CAST(d_scored.n_tok AS HUGEINT)"""
