"""``datapipe``: the registry's curation and entity-resolution pipelines
run to a complete result, checked against the registry's DuckDB oracles
with the order-free digests of ``janus_spark.digest``.

Inputs are generated from the seed in the shape of the repository's
test tables: ``documents`` (word-salad text over a small vocabulary with
planted near-duplicates) and ``part`` (TPC-H-style parts).  A run
measures one pass of both pipelines on the fresh Spark application, as
a batch job runs; set-up is timed after it.
"""

from __future__ import annotations

import random
import shutil
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from common import WORK, dir_size, median, metric, overhead_frac, tail

JOBS = ("q_curation_full", "q_entity_resolution")
METRIC_NAMES = {"q_curation_full": "curation_s", "q_entity_resolution": "entity_resolution_s"}
N_DOCS = 5000  # the documents table of the repository's sf0.1 test data
N_PARTS = 2000
SETUP_REPEATS = 5
TRACE_PASSES = 4  # the measured pass, then warm passes: untraced, traced, untraced

VOCAB = (
    "spark window merge table column vector stream value data small join filter big group "
    "hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
LANGS = (("en", 0.41), ("zh", 0.15), ("de", 0.14), ("fr", 0.15), ("es", 0.15))
ADJ = ("large", "hot", "cold", "small", "new", "red", "blue", "old")
NOUN = ("ring", "gear", "bolt", "plate", "rod", "anvil", "widget", "gizmo")
TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")


def documents(seed: int, n: int) -> pa.Table:
    rng = random.Random(f"documents:{seed}")
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:  # planted near-duplicate
            text = texts[rng.randrange(i)] + " dup"
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 95)))
        texts.append(text)
    langs = rng.choices([x for x, _ in LANGS], [w for _, w in LANGS], k=n)
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def parts(seed: int, n: int) -> pa.Table:
    rng = random.Random(f"part:{seed}")
    return pa.table(
        {
            "p_partkey": pa.array(range(n), pa.int64()),
            "p_name": [f"{rng.choice(ADJ)} {rng.choice(NOUN)}" for _ in range(n)],
            "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n)],
            "p_type": [rng.choice(TYPES) for _ in range(n)],
            "p_size": pa.array([rng.randint(1, 50) for _ in range(n)], pa.int32()),
            "p_retailprice": [900.0 + (k % 1000) / 10.0 for k in range(n)],
        }
    )


def write_inputs(seed: int, root) -> None:
    shutil.rmtree(root, ignore_errors=True)
    root.mkdir(parents=True)
    pq.write_table(documents(seed, N_DOCS), str(root / "documents.parquet"))
    pq.write_table(parts(seed, N_PARTS), str(root / "part.parquet"))


def setup_once(spark, seed: int, root) -> None:
    """Write the seeded inputs, then load them as the program does
    (``load_tables``) and count each table's rows in Spark."""
    from janus_spark.sources.melt import load_tables

    write_inputs(seed, root)
    rows = {t: df.count() for t, df in load_tables(spark, str(root), ["documents", "part"]).items()}
    if rows != {"documents": N_DOCS, "part": N_PARTS}:
        raise RuntimeError(f"inputs read back with {rows} rows")


def oracle_digests(sf_dir) -> dict[str, tuple[int, int]]:
    from janus_spark.digest import multiset_digest
    from janus_spark.queries import ORACLES

    con = duckdb.connect()
    for t in ("documents", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir / (t + '.parquet')}')")
    out = {}
    for job in JOBS:
        cur = con.execute(ORACLES[job])
        cols = [d[0] for d in cur.description]
        out[job] = multiset_digest(cur.fetchall(), cols)
    con.close()
    return out


def run_job(spark, tracer, job: str, sf_dir) -> tuple[float, tuple[int, int]]:
    """Build the job's plan and drive it to a complete, digested result."""
    from janus_spark.digest import spark_multiset_digest
    from janus_spark.queries import QUERIES

    t0 = time.perf_counter()
    with tracer.span("datapipe", job):
        df = QUERIES[job](spark, str(sf_dir))
    digest = spark_multiset_digest(df)
    return time.perf_counter() - t0, digest


BUILD_LAYER = "datapipe"


def run(spark, seed: int, seconds: float, trace: bool, tracer) -> dict:
    sf_dir = WORK / "datapipe" / "input"
    write_inputs(seed, sf_dir)
    t = time.perf_counter()
    want = oracle_digests(sf_dir)
    oracle_s = time.perf_counter() - t

    if trace:
        from spans import install_janus_spans

        install_janus_spans(tracer, spark, lambda: None)
    results = []
    t_begin = time.perf_counter()
    try:
        # pass 0 is the measured one: each pipeline runs as the first work
        # of a fresh Spark application, as a batch job does.  A traced run
        # adds warm passes for the per-layer metrics and the tracing
        # overhead; the untraced ones bracket the traced one, as the JVM
        # is still warming up
        for n_pass in range(TRACE_PASSES if trace else 1):
            traced = n_pass == 2
            for job in JOBS:
                op_id = f"pb-dp-{n_pass}-{job}"
                if traced:
                    spark.sparkContext.setJobGroup(op_id, "perfbench")
                with tracer.operation(op_id, traced):
                    secs, got = run_job(spark, tracer, job, sf_dir)
                spark.sparkContext.setJobGroup("perfbench-idle", "perfbench")
                results.append({"job": job, "s": secs, "ok": got == want[job], "traced": traced,
                                "pass": n_pass, "op": op_id, "rows": got[0]})
        measured_s = time.perf_counter() - t_begin
    finally:
        tracer.unpatch()

    # set-up is timed on the JVM the passes have warmed: on a cold one its
    # time falls from one repeat to the next
    setups = []
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        setup_once(spark, seed, sf_dir)
        setups.append(time.perf_counter() - t)
    _, in_bytes = dir_size(sf_dir)

    first = [r for r in results if r["pass"] == 0]
    ms = [r["s"] * 1000 for r in first]
    lat_tail, tail_name = tail(ms, len(JOBS))
    failed = [r for r in results if not r["ok"]]
    return {
        "attempted": len(results),
        "failed": len(failed),
        "errors": [f"{r['job']}: digest differs from the oracle" for r in failed][:5],
        "overhead_frac": overhead_frac([r for r in results if r["pass"] > 0], "job") if trace else None,
        "e2e": {
            "setup_s": metric(median(setups), "s"),
            "latency_p50_ms": metric(median(ms), "ms"),
            "latency_tail_ms": metric(lat_tail, "ms"),
        },
        "context": {
            "tail_percentile": tail_name,
            "samples": len(ms),
            **{METRIC_NAMES[r["job"]]: round(r["s"], 4) for r in first},
            "input_docs": N_DOCS,
            "input_parts": N_PARTS,
            "input_bytes": in_bytes,
            "result_rows": {r["job"]: r["rows"] for r in first},
            "setup_runs_s": [round(s, 4) for s in setups],
            "oracle_s": round(oracle_s, 3),
            "passes": 1 + max(r["pass"] for r in results),
            "measured_s": round(measured_s, 3),
        },
        "results": results,
    }


def layer_extras(spark, tracer, result) -> dict[str, tuple[float, str]]:
    """datapipe-only per-layer metrics."""
    from spans import per_op_counters, spark_jobs

    traced = [r for r in result["results"] if r["traced"]]
    build = tracer.span_ms("datapipe")
    jobs = spark_jobs(spark, "pb-dp-")
    out = {}
    for job in JOBS:
        ops = [r["op"] for r in traced if r["job"] == job]
        spans = [(s[0], s[2], s[3]) for s in tracer.spans if s[1] == "datapipe" and s[0] in set(ops)]
        c = per_op_counters(jobs, ops, spans)
        out[f"datapipe.{job}.build_ms"] = (median([build.get(op, 0.0) for op in ops]), "ms")
        out[f"datapipe.{job}.eager_jobs"] = (c["plan.eager_jobs"], "count")
        out[f"datapipe.{job}.jobs"] = (c["spark.jobs"], "count")
    return out
