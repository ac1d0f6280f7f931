#!/usr/bin/env python3
"""Self-test of the benchmark's own measurement code, on tiny inputs.

    python3 perfbench/selftest.py

* status-store harvest: a tiny shuffle query has stages > 0 and writes
  identical shuffle bytes on two runs;
* spans: a child's time and stages are removed from its parent's self
  figures;
* trigger listener: an availableNow stream over two files, one per
  trigger, reports two data triggers with their input rows;
* the numpy MAP/nDCG replay equals the engine on a small example.

Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]


def _check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def main() -> None:
    parent = os.path.join(os.path.dirname(HERE), ".bench_scratch")
    os.makedirs(parent, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="selftest-", dir=parent)
    try:
        import run as bench_run

        bench_run._environment(scratch)
        spark = bench_run._session(scratch)
        try:
            _harvest(spark)
            _spans(spark)
            _triggers(spark, scratch)
            _metrics(spark)
        finally:
            spark.stop()
            bench_run.stop_processes()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _tiny_query(spark, meter):
    m0 = meter.mark()
    spark.range(0, 20000, numPartitions=4).selectExpr("id % 97 AS k").groupBy("k").count().collect()
    return meter.totals(meter.stage_ids(m0, meter.mark()))


def _harvest(spark) -> None:
    from harvest import StageMeter

    meter = StageMeter(spark)
    a = _tiny_query(spark, meter)
    b = _tiny_query(spark, meter)
    _check(a.stages > 0, f"tiny query ran {a.stages} stages")
    _check(a.shuffle_write_mb > 0 and a.shuffle_write_mb == b.shuffle_write_mb,
           f"identical shuffle bytes on two runs ({a.shuffle_write_mb * 2**20:.0f})")
    _check(a.cpu_s > 0, "executor CPU time is reported")


def _spans(spark) -> None:
    from harvest import StageMeter, Tracer

    meter = StageMeter(spark)
    tracer = Tracer(spark, meter, "selftest")
    with tracer.span("outer"):
        time.sleep(0.05)
        with tracer.span("inner"):
            _tiny_query(spark, meter)
    rows = {r["name"]: r for r in tracer.report()}
    outer, inner = rows["outer"], rows["inner"]
    _check(abs(outer["self_s"] - (outer["s"] - inner["s"])) < 1e-9, "self time = span minus child")
    _check(outer["stages"] == inner["stages"] > 0 and outer["self_shuffle_write_mb"] == 0,
           "the child's stages are not in the parent's self figures")


def _triggers(spark, scratch: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from harvest import TriggerLog

    src = os.path.join(scratch, "stream-in")
    for j in range(2):
        os.makedirs(os.path.join(src, f"p{j}"))
        path = os.path.join(src, f"p{j}", "part.parquet")
        pq.write_table(pa.table({"x": list(range(10 * j, 10 * j + 5 + j))}), path)
        os.utime(path, (time.time() - 20 + 10 * j,) * 2)
    log = TriggerLog()
    spark.streams.addListener(log)
    try:
        q = (spark.readStream.schema("x long").option("maxFilesPerTrigger", 1)
             .parquet(os.path.join(src, "p*", "*.parquet"))
             .writeStream.format("noop").trigger(availableNow=True)
             .option("checkpointLocation", os.path.join(scratch, "ck")).start())
        q.awaitTermination()
        log.wait_for(2)
    finally:
        spark.streams.removeListener(log)
    rows = [p["input_rows"] for p in log.progress if p["input_rows"] > 0]
    _check(rows == [5, 6], f"two data triggers with 5 and 6 input rows ({rows})")
    _check(all("triggerExecution" in p["duration_ms"] for p in log.progress),
           "triggerExecution is recorded per trigger")


def _metrics(spark) -> None:
    from checks import map_ndcg
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators import metrics as ME

    test = [("u1", "a", 5.0), ("u1", "b", 3.0), ("u1", "c", 1.0), ("u2", "d", 4.0),
            ("u3", "e", 2.0)]
    recs = [("u1", "b", 1), ("u1", "x", 2), ("u1", "a", 3), ("u1", "b", 4),
            ("u2", "y", 1), ("u2", "d", 5), ("u2", "z", 6)]
    t = spark.createDataFrame(test, "user_id string, item_id string, rating double")
    r = spark.createDataFrame(recs, "user_id string, item_id string, rank int")
    for thr in (0.0, 3.0):
        want = map_ndcg(test, recs, 5, thr)
        got = (ME.map_at_k(t, r, 5, thr).first()[0], ME.ndcg_at_k(t, r, 5, thr).first()[0])
        _check(all(abs(w - g) < 1e-12 for w, g in zip(want, got)),
               f"numpy MAP/nDCG = engine at threshold {thr} ({got})")


if __name__ == "__main__":
    main()
