"""Historical window executors — operators W1 (fixed) and W2 (sliding).

Reference behavior:

- W1 fixed (`src/execution/historical_executor.rs:75-96`): one storage
  query over [start, end] INCLUSIVE, one evaluation, one batch with
  ``timestamp = end``.
- W2 sliding (`historical_executor.rs:120-147,424-460`): anchored at
  wall-clock "now"; hop ``cur`` from ``now - offset`` in steps of
  ``step``; each window is ``[cur, min(cur + range, now)]`` inclusive;
  one evaluation per hop; iteration ends when ``cur > now``.

Spark-first design: instead of the reference's per-window loop (one
evaluation per hop), events are assigned to every window they fall in via
a broadcast range-join against the tiny window-bounds table, and the
compiled plan runs ONCE over all windows with ``__window_id`` threaded as
an implicit key (see compiler.compile partition_cols).  At 100 TB this is
one shuffle instead of N sequential jobs; windows with zero matching
events produce no rows, matching the reference (empty windows emit empty
batches), except that an aggregate without GROUP BY yields one row per
hop, as the reference's per-hop evaluation does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from janus_spark.compiler.ast import SelectQuery
from janus_spark.compiler.compile import compile_sparql

WINDOW_ID = "__window_id"
WINDOW_START = "window_start"
WINDOW_END = "window_end"
PANE = "__pane"
PANE_BOUNDARY = "__pane_boundary"


def _has_exists(e) -> bool:
    from janus_spark.compiler.ast import EBin, ECall, EExists, EUn

    if isinstance(e, EExists):
        return True
    if isinstance(e, EBin):
        return _has_exists(e.left) or _has_exists(e.right)
    if isinstance(e, EUn):
        return _has_exists(e.operand)
    if isinstance(e, ECall):
        return any(_has_exists(a) for a in e.args)
    return False


def sliding_pane_spec(query: SelectQuery):
    """Return ``(group_names, items)`` when the query is pane-decomposable
    (single triple pattern + row filters, projection of group keys and
    non-DISTINCT COUNT/SUM/MIN/MAX/AVG), else None.

    ``items`` is one entry per projection column: ``(alias, kind, arg)``
    with kind in {"key", "COUNT", "COUNT_STAR", "SUM", "MIN", "MAX",
    "AVG"}.  Multi-pattern queries are excluded because a join must pair
    quads across panes of the same window; pane-local evaluation is only
    sound when each solution row derives from one quad."""
    from janus_spark.compiler.ast import ECall, EVar, Filter, Iri, TriplePattern, Var

    q = query
    if (
        q.projection is None
        or q.distinct
        or q.having is not None
        or q.order_by
        or q.limit is not None
        or q.offset
        or q.ask
    ):
        return None
    els = q.where.elements
    pats = [e for e in els if isinstance(e, TriplePattern)]
    if len(pats) != 1 or any(not isinstance(e, (TriplePattern, Filter)) for e in els):
        return None
    if not isinstance(pats[0].p, (Var, Iri)):  # a property path spans quads
        return None
    if any(isinstance(e, Filter) and _has_exists(e.expr) for e in els):
        return None
    group_names = []
    for g, _alias in q.group_by:
        if not isinstance(g, EVar):
            return None
        group_names.append(g.name)
    items = []
    has_agg = False
    for e, name in q.projection:
        if isinstance(e, EVar):
            if e.name not in group_names:
                return None
            items.append((name, "key", e))
        elif (
            isinstance(e, ECall)
            and e.is_aggregate()
            and not e.distinct
            and e.name in ("COUNT", "COUNT_STAR", "SUM", "MIN", "MAX", "AVG")
        ):
            items.append((name, e.name, e.args[0] if e.args else None))
            has_agg = True
        else:
            return None
    return (group_names, items) if has_agg else None


def _run_sliding_panes(
    query: SelectQuery,
    quads: DataFrame,
    now: int,
    offset_ms: int,
    range_ms: int,
    step_ms: int,
    registry: dict | None,
    spec,
) -> DataFrame:
    """Pane-decomposed sliding aggregation ("no pane, no gain", Li et al.
    2005): aggregate each step-sized pane once, replicate the PARTIALS
    into the ``range/step`` windows they belong to, then merge.  The
    naive plan replicates every event that many times before the
    shuffle; at 100 TB with wide windows this cuts shuffle volume by the
    per-key-per-pane event count.

    Inclusive window bounds (storage query is [start, end],
    segmented_storage.rs:318,451-459) make the window end instant belong
    to the NEXT pane, so rows at an exact pane boundary partial-aggregate
    separately (PANE_BOUNDARY) and replicate one window further back —
    reproducing tag_window_ids' ceil/floor arithmetic exactly on partials
    instead of rows."""
    from janus_spark.compiler.expressions import compile_expr

    group_names, items = spec
    base = now - offset_ms
    r = range_ms // step_ms
    k_max = offset_ms // step_ms
    rel = F.col("ts") - F.lit(base)
    tagged = (
        quads.where(F.col("ts").between(F.lit(base), F.lit(now)))
        .withColumn(PANE, F.floor(rel / F.lit(step_ms)).cast("long"))
        .withColumn(PANE_BOUNDARY, rel % F.lit(step_ms) == 0)
    )
    row_q = SelectQuery(projection=None, where=query.where)  # SELECT *
    rows = compile_sparql(
        row_q, tagged, partition_cols=[PANE, PANE_BOUNDARY], registry=registry
    )
    partial_cols, final_cols, p_names = [], [], []
    for i, (alias, kind, arg) in enumerate(items):
        if kind == "key":
            continue
        if kind in ("COUNT", "COUNT_STAR"):
            c = F.count(F.lit(1)) if arg is None else F.count(compile_expr(arg, None, registry))
            partial_cols.append(c.alias(f"__p{i}"))
            final_cols.append(F.sum(f"__p{i}").alias(alias))
            p_names.append(f"__p{i}")
        elif kind in ("SUM", "MIN", "MAX"):
            fn = {"SUM": F.sum, "MIN": F.min, "MAX": F.max}[kind]
            w = "num" if kind == "SUM" else None
            partial_cols.append(fn(compile_expr(arg, w, registry)).alias(f"__p{i}"))
            final_cols.append(fn(f"__p{i}").alias(alias))
            p_names.append(f"__p{i}")
        else:  # AVG = SUM/COUNT partials
            num = compile_expr(arg, "num", registry)
            partial_cols.append(F.sum(num).alias(f"__p{i}s"))
            partial_cols.append(F.count(num).alias(f"__p{i}c"))
            final_cols.append((F.sum(f"__p{i}s") / F.sum(f"__p{i}c")).alias(alias))
            p_names.extend([f"__p{i}s", f"__p{i}c"])
    partials = rows.groupBy(*group_names, PANE, PANE_BOUNDARY).agg(*partial_cols)
    # window k is [base+k*step, base+k*step+range] inclusive: a pane-m
    # partial feeds windows [m-r+1, m]; a boundary partial also feeds m-r
    k_lo = F.when(F.col(PANE_BOUNDARY), F.col(PANE) - r).otherwise(F.col(PANE) - r + 1)
    lo = F.greatest(k_lo, F.lit(0))
    hi = F.least(F.col(PANE), F.lit(k_max))
    # r == 0 (point windows) sends every non-boundary partial to lo > hi;
    # an unguarded F.sequence silently yields a DESCENDING sequence and
    # wrong window assignments (same bug class as tag_window_ids) — guard
    # to empty so those partials drop out of every window
    seq = F.when(lo <= hi, F.sequence(lo, hi)).otherwise(F.array().cast("array<long>"))
    win = F.explode(seq).alias(WINDOW_ID)
    exploded = partials.select(*group_names, win, *p_names)
    if not group_names:
        # SPARQL's implicit group: every hop has a row, so pad each window
        # with an empty partial (COUNT 0; SUM/MIN/MAX/AVG unbound)
        counts = {f"__p{i}" for i, (_, kind, _) in enumerate(items) if kind in ("COUNT", "COUNT_STAR")}
        pad = [F.lit(0 if p in counts else None).alias(p) for p in p_names]
        windows = quads.sparkSession.range(k_max + 1).select(F.col("id").alias(WINDOW_ID), *pad)
        exploded = exploded.unionByName(windows)
    final = exploded.groupBy(*group_names, WINDOW_ID).agg(*final_cols)
    # key projections may alias the grouping var ((?u AS ?x)): the frame
    # carries the var name, the output contract carries the alias
    out_cols = [
        F.col(arg.name).alias(alias) if kind == "key" else F.col(alias)
        for alias, kind, arg in items
    ]
    return final.select(*out_cols, WINDOW_ID)


def run_historical_fixed(
    query: SelectQuery,
    quads: DataFrame,
    start_ts: int,
    end_ts: int,
    registry: dict | None = None,
    static_quads: DataFrame | None = None,
    property_tables: dict | None = None,
    path_max_hops: int | None = None,
    predicate_stats: dict | None = None,
) -> DataFrame:
    """W1: evaluate over quads with ts in [start, end] inclusive.

    ``property_tables`` (star-join elimination) are re-derived with the
    same ts slice so the wide scans see exactly the window's quads."""
    window = quads.where(F.col("ts").between(F.lit(start_ts), F.lit(end_ts)))
    pts = None
    if property_tables:
        sliced = {id(pt): pt.time_filtered(start_ts, end_ts) for pt in set(property_tables.values())}
        pts = {pred: sliced[id(pt)] for pred, pt in property_tables.items()}
    return compile_sparql(
        query, window, registry=registry, static_quads=static_quads,
        property_tables=pts, path_max_hops=path_max_hops,
        predicate_stats=predicate_stats,
    )


def sliding_window_bounds(now: int, offset_ms: int, range_ms: int, step_ms: int) -> list[tuple[int, int, int]]:
    """(window_id, start, end) hops, replicating the reference's iteration
    exactly (historical_executor.rs:424-460): cur from now-offset while
    cur <= now; end clamped to now; bounds inclusive."""
    out = []
    cur = now - offset_ms
    wid = 0
    while cur <= now:
        out.append((wid, cur, min(cur + range_ms, now)))
        wid += 1
        cur += step_ms
    return out


def window_table(spark: SparkSession, bounds: list[tuple[int, int, int]]) -> DataFrame:
    """A few windows' ``(id, start, end)`` table (a live micro-batch's hops)
    as inline VALUES: a local relation, broadcast without a Spark job.  Its
    parse time grows with the rows, so 10^5-hop geometries use createDataFrame."""
    rows = ", ".join(f"({int(w)}L, {int(s)}L, {int(e)}L)" for w, s, e in bounds)
    return spark.sql(f"SELECT * FROM VALUES {rows} AS t({WINDOW_ID}, {WINDOW_START}, {WINDOW_END})")


def assign_sliding_windows(quads: DataFrame, bounds: list[tuple[int, int, int]]) -> DataFrame:
    """Tag each quad with every window it belongs to via a broadcast
    range-join (window table is tiny — tens of rows)."""
    bdf = window_table(quads.sparkSession, bounds)
    lo = min(b[1] for b in bounds)
    hi = max(b[2] for b in bounds)
    pruned = quads.where(F.col("ts").between(F.lit(lo), F.lit(hi)))
    return pruned.join(
        F.broadcast(bdf),
        on=(F.col("ts") >= F.col(WINDOW_START)) & (F.col("ts") <= F.col(WINDOW_END)),
        how="inner",
    )


def tag_window_ids(
    df: DataFrame, ts_col, now: int, offset_ms: int, range_ms: int, step_ms: int
) -> DataFrame:
    """Explode rows into the sliding windows containing ``ts_col`` —
    map-side arithmetic, no join: a row at ts is in window k iff
    ``base + k*step <= ts <= base + k*step + range`` (``base = now -
    offset``).  At 100 TB this replaces assign_sliding_windows' broadcast
    nested-loop range join with a pure narrow transformation."""
    base = now - offset_ms
    k_max = offset_ms // step_ms
    pruned = df.where(ts_col.between(F.lit(base), F.lit(now)))
    k_hi = F.floor((ts_col - F.lit(base)) / F.lit(step_ms)).cast("long")
    k_lo = F.ceil((ts_col - F.lit(base) - F.lit(range_ms)) / F.lit(step_ms)).cast("long")
    lo = F.greatest(k_lo, F.lit(0))
    hi = F.least(k_hi, F.lit(k_max))
    # a row can belong to NO window (gapped geometry when range < step, or
    # the tail between the last window's end and now): F.sequence(lo, hi)
    # with lo > hi silently produces a DESCENDING sequence, so it must be
    # guarded to empty — explode then drops the row
    seq = F.when(lo <= hi, F.sequence(lo, hi)).otherwise(F.array().cast("array<long>"))
    return pruned.withColumn(WINDOW_ID, F.explode(seq))


def run_historical_sliding(
    query: SelectQuery,
    quads: DataFrame,
    now: int,
    offset_ms: int,
    range_ms: int,
    step_ms: int,
    registry: dict | None = None,
    static_quads: DataFrame | None = None,
    property_tables: dict | None = None,
    use_panes: bool | None = None,
    path_max_hops: int | None = None,
    predicate_stats: dict | None = None,
) -> DataFrame:
    """W2 as ONE distributed plan over all hops.

    Result carries ``window_start``/``window_end`` columns (the reference
    emits one batch per hop with timestamp = window end; here the window id
    is data, which is the Spark-native shape).

    ``property_tables`` get the same window-id explode applied to their
    rows, so star-join elimination works across all hops at once (the
    star scan carries ``__window_id`` like any tagged quad).

    ``use_panes``: None = auto-dispatch the pane-decomposed fast path
    (_run_sliding_panes) when the query qualifies (single-pattern
    mergeable aggregate, range a multiple of step, no static quads);
    True/False force/disable it (parity tests use both).
    """
    bounds = sliding_window_bounds(now, offset_ms, range_ms, step_ms)
    bdf = quads.sparkSession.createDataFrame(
        bounds, schema=f"{WINDOW_ID} long, {WINDOW_START} long, {WINDOW_END} long"
    )
    spec = sliding_pane_spec(query) if use_panes is not False else None
    if (
        spec is not None
        and step_ms > 0
        and range_ms % step_ms == 0
        and static_quads is None
        and not property_tables
    ):
        result = _run_sliding_panes(
            query, quads, now, offset_ms, range_ms, step_ms, registry, spec
        )
        return result.join(F.broadcast(bdf), on=WINDOW_ID, how="inner").drop(WINDOW_ID)
    if use_panes:
        raise ValueError("query is not pane-decomposable (use_panes=True)")
    tagged = tag_window_ids(quads, F.col("ts"), now, offset_ms, range_ms, step_ms)
    pts = None
    if property_tables:
        from janus_spark.sources.melt import PropertyTable

        tagged_pts = {
            id(pt): PropertyTable(
                pt.name,
                tag_window_ids(pt.df, pt.ts, now, offset_ms, range_ms, step_ms),
                pt.subject,
                pt.values,
                pt.ts,
            )
            for pt in set(property_tables.values())
            if pt.ts is not None
        }
        pts = {
            pred: tagged_pts[id(pt)]
            for pred, pt in property_tables.items()
            if id(pt) in tagged_pts
        }
    result = compile_sparql(
        query,
        tagged,
        property_tables=pts,
        partition_cols=bdf.select(WINDOW_ID),
        registry=registry,
        static_quads=static_quads,
        path_max_hops=path_max_hops,
        predicate_stats=predicate_stats,
    )
    return result.join(F.broadcast(bdf), on=WINDOW_ID, how="inner").drop(WINDOW_ID)


def tag_results(df: DataFrame, query_id: str, source: str, timestamp: int | None = None) -> DataFrame:
    """Result metadata shape (C5/S10): query_id, timestamp, source columns
    (reference QueryResult, src/api/janus_api.rs:33-47)."""
    out = df.withColumn("query_id", F.lit(query_id)).withColumn("source", F.lit(source))
    if timestamp is not None:
        out = out.withColumn("timestamp", F.lit(timestamp))
    elif WINDOW_END in df.columns:
        out = out.withColumn("timestamp", F.col(WINDOW_END))
    return out
