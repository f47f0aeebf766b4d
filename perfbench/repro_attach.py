"""Reproduce the ``LiveQueryRunner.attach`` crash on epoch-ms event time.

    python3 perfbench/repro_attach.py [--seed 1]

Writes ten seconds of the live workload's events as N-Quads spool files,
attaches the hybrid live query of ``live.py`` to a Structured Streaming
text source over them (one ``availableNow`` micro-batch) and reports how
the stream ended: the windows fired before it stopped and the error the
stream execution thread raised, if any.  Exits 0 when the stream
finished cleanly, 1 when it failed.
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from common import WORK, prepare_env, spark_session, stop_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    sys.path.insert(0, str(Path.cwd()))
    WORK.mkdir(exist_ok=True)
    prepare_env(WORK)

    import live
    from janus_spark.sources.nquads import parse_nquads_lines
    from sensors import SensorField

    spark = spark_session()
    try:
        root = WORK / "attach"
        _, _, _, engine, qid = live.setup_once(spark, SensorField(args.seed), root)
        spool = root / "spool"
        spool.mkdir()
        t0 = int(time.time() * 1000)
        events = SensorField(args.seed).live(t0, 10_000, live.RATE)
        for k in range(10):
            chunk = [o for o in events if t0 + k * 1000 <= o.ts < t0 + (k + 1) * 1000]
            (spool / f"part-{k:06d}.txt").write_text("".join(o.nquads() for o in chunk))
        fires = []
        runner = engine.start_live(qid, str(root / "buffer"), sink=lambda *a: fires.append(time.time()))
        stream = parse_nquads_lines(spark.readStream.text(str(spool)))
        started = time.time()
        query = runner.attach(stream, once=True)
        try:
            query.awaitTermination(170)
            error = None
        except Exception as e:  # the stream thread's failure surfaces here
            error = e
        finally:
            if query.isActive:
                query.stop()
        took = time.time() - started
        print(f"windows fired before the stream ended: {len(fires)} in {took:.1f} s")
        if error is None:
            print("stream finished without error")
            return 0
        text = str(error)
        kind = "java.lang.StackOverflowError" if "StackOverflowError" in text else type(error).__name__
        print(f"stream failed: {kind}")
        print(text.strip().splitlines()[0][:300])
        return 1
    finally:
        stop_spark(spark)


if __name__ == "__main__":
    sys.exit(main())
