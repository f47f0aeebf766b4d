"""Property-based tests (hypothesis) for sliding-window execution.

Two real bugs have come out of this area (descending F.sequence on
no-window rows; ORDER BY aliases dropped in decomposition), so the
window arithmetic gets a randomized parity net: for ANY geometry and
ANY event-time multiset,

1. the arithmetic window tagger must equal the broadcast range-join
   (membership oracle), and
2. the pane-decomposed aggregate path must equal the general
   window-id-explode path whenever it claims eligibility.

One Spark job per example — keep max_examples small; the value is the
geometry diversity, not the row count.
"""

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from janus_spark.compiler import parse_sparql
from janus_spark.operators.historical import (
    assign_sliding_windows,
    run_historical_sliding,
    sliding_window_bounds,
    tag_window_ids,
)

EX = "http://example.org/"

geometry_st = st.tuples(
    st.integers(min_value=1, max_value=40),   # offset (scaled ×250)
    st.integers(min_value=1, max_value=12),   # range  (scaled ×250)
    st.integers(min_value=1, max_value=8),    # step   (scaled ×250)
)
ts_st = st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=60)


def _quads(spark, ts_list):
    rows = [
        (t, f"{EX}s{i % 4}", f"{EX}temperature", str(20 + i % 7), "g")
        for i, t in enumerate(ts_list)
    ]
    return spark.createDataFrame(rows, ["ts", "subject", "predicate", "object", "graph"])


@settings(max_examples=12, deadline=None)
@given(geom=geometry_st, ts=ts_st)
def test_arithmetic_tagger_equals_range_join(spark, geom, ts):
    off, rng, step = (x * 250 for x in geom)
    now = 10_000
    quads = _quads(spark, ts)
    bounds = sliding_window_bounds(now, off, rng, step)
    a = sorted(
        map(tuple, assign_sliding_windows(quads, bounds)
            .select("ts", "subject", "__window_id").collect())
    )
    b = sorted(
        map(tuple, tag_window_ids(quads, F.col("ts"), now, off, rng, step)
            .select("ts", "subject", "__window_id").collect())
    )
    assert a == b


AGG = f"""
SELECT ?s (COUNT(?t) AS ?n) (SUM(?t) AS ?sum_t) (MIN(?t) AS ?min_t)
WHERE {{ ?s <{EX}temperature> ?t . }}
GROUP BY ?s
"""


@settings(max_examples=10, deadline=None)
@given(geom=geometry_st, ts=ts_st)
def test_pane_path_parity_random_geometry(spark, geom, ts):
    off, rng_mult, step_u = geom
    step = step_u * 250
    rng = rng_mult * step  # pane path requires range % step == 0
    off = off * 250
    now = 10_000
    quads = _quads(spark, ts)
    q = parse_sparql(AGG)
    fast = run_historical_sliding(q, quads, now, off, rng, step, use_panes=True)
    slow = run_historical_sliding(q, quads, now, off, rng, step, use_panes=False)
    cols = sorted(fast.columns)
    a = sorted(map(tuple, fast.select(*cols).collect()), key=repr)
    b = sorted(map(tuple, slow.select(*cols).collect()), key=repr)
    assert a == b
