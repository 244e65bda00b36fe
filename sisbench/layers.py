"""Per-layer metrics of a traced run: span self times, py4j traffic, and
Spark's per-job / per-stage / per-operator counters attributed to ops
through each op's job group.  Every metric is a mean per op unless its
unit says otherwise; a layer a workload never enters reads 0.
"""

from __future__ import annotations

import spans

# SQL plan-operator metric name → per-layer metric (Spark 4.x names).
SQL_METRICS = {
    "number of files read": "spark.files_read",
    "time to start Python workers": "python.worker_start_ms",
    "time to initialize Python workers": "python.worker_init_ms",
    "time to run Python workers": "python.exec_ms",
    "data sent to Python workers": "python.arrow_bytes_in",
    "data returned from Python workers": "python.arrow_bytes_out",
}

UNITS = {
    "engine.plan_ms": "ms/op",
    "catalog.load_ms": "ms/op",
    "catalog.loads_per_op": "count/op",
    "operators.build_ms": "ms/op",
    "py4j.calls_per_op": "count/op",
    "py4j.ms_per_op": "ms/op",
    "formats.render_ms": "ms/op",
    "formats.serialize_ms": "ms/op",
    "formats.bytes_out": "bytes/op",
    "spark.jobs_per_op": "count/op",
    "spark.stages_per_op": "count/op",
    "spark.tasks_per_op": "count/op",
    "spark.job_wall_ms": "ms/op",
    "spark.driver_gap_ms": "ms/op",
    "spark.executor_run_ms": "ms/op",
    "spark.executor_cpu_ms": "ms/op",
    "spark.input_bytes": "bytes/op",
    "spark.files_read": "count/op",
    "spark.shuffle_read_bytes": "bytes/op",
    "spark.shuffle_write_bytes": "bytes/op",
    "spark.spill_bytes": "bytes/op",
    "python.worker_start_ms": "ms/op",
    "python.worker_init_ms": "ms/op",
    "python.exec_ms": "ms/op",
    "python.arrow_bytes_in": "bytes/op",
    "python.arrow_bytes_out": "bytes/op",
    "write.ms": "ms/op",
    "write.files_added": "count/op",
    "write.bytes_added": "bytes/op",
    "rollup.ms": "ms/op",
    "rollup.jobs": "count/op",
    "rollup.rows_written": "rows/op",
    "rollup.new_bar_ratio": "ratio",
    "prep.build_ms": "ms/op",
    "prep.exec_ms": "ms/op",
    "materialize.calls": "count/op",
    "materialize.ms": "ms/op",
    "search.build_ms": "ms/op",
    "search.exec_ms": "ms/op",
    "index.load_ms": "ms/op",
    "jvm.gc_ms": "ms/op",
    "jvm.heap_used_mb": "MB",
    "trace.overhead_ms": "ms/op",
}


def _bytes_out(resp) -> int:
    if isinstance(resp, bytes):
        return len(resp)
    if isinstance(resp, dict):
        return sum(_bytes_out(v) for v in resp.values())
    return 0


def per_layer(spark, tracer, loop, workload, gc_ms: float) -> dict[str, tuple]:
    sc = spark.sparkContext
    recs = loop["records"]
    n = len(recs)
    ops = {r["i"] for r in recs}
    wall_ms = sum(r["ms"] for r in recs)
    m: dict[str, float] = {}

    self_t = tracer.self_times()

    def self_ms(name):
        return sum(v for (op, nm), v in self_t.items() if nm == name and op in ops) * 1e3

    def incl(name):
        t, c = tracer.totals(name)
        return (sum(v for op, v in t.items() if op in ops) * 1e3,
                sum(v for op, v in c.items() if op in ops))

    m["engine.plan_ms"] = self_ms("engine")
    m["catalog.load_ms"], m["catalog.loads_per_op"] = incl("catalog.load")
    m["operators.build_ms"] = self_ms("operators.build")
    m["py4j.calls_per_op"] = sum(v for op, v in tracer.py4j_calls.items() if op in ops)
    m["py4j.ms_per_op"] = sum(v for op, v in tracer.py4j_s.items() if op in ops) * 1e3
    m["formats.render_ms"] = incl("formats.render")[0]
    m["formats.bytes_out"] = sum(_bytes_out(r["resp"]) for r in recs)
    m["write.ms"] = incl("write")[0]
    m["rollup.ms"], _ = incl("rollup")
    m["prep.build_ms"] = incl("prep.build")[0]
    m["prep.exec_ms"] = incl("prep.exec")[0]
    m["materialize.ms"], m["materialize.calls"] = incl("materialize")
    m["search.build_ms"] = self_ms("search.build")
    m["search.exec_ms"] = incl("search.exec")[0]
    m["index.load_ms"] = incl("index.load")[0]

    jobs = spans.spark_jobs(sc, "sisbench-op-")
    jobs = [j for j in jobs if j["op"] in ops]
    job_wall = 0.0
    for op in ops:
        job_wall += spans.union_len(
            [(j["start_ms"], j["end_ms"]) for j in jobs if j["op"] == op])
    render_jobs = spans.union_len(
        [(j["start_ms"], j["end_ms"]) for j in jobs if j["desc"] == "formats.render"])
    m["formats.serialize_ms"] = max(0.0, m["formats.render_ms"] - render_jobs)
    m["spark.jobs_per_op"] = len(jobs)
    m["spark.stages_per_op"] = sum(len(j["stages"]) for j in jobs)
    m["spark.tasks_per_op"] = sum(s["tasks"] for j in jobs for s in j["stages"])
    m["spark.job_wall_ms"] = job_wall
    m["spark.driver_gap_ms"] = max(0.0, wall_ms - job_wall)
    for key, label in (("run_ms", "executor_run_ms"), ("cpu_ms", "executor_cpu_ms"),
                       ("input_bytes", "input_bytes"),
                       ("shuffle_read_bytes", "shuffle_read_bytes"),
                       ("shuffle_write_bytes", "shuffle_write_bytes"),
                       ("spill_bytes", "spill_bytes")):
        m[f"spark.{label}"] = float(sum(s[key] for j in jobs for s in j["stages"]))
    m["rollup.jobs"] = sum(1 for j in jobs if j["desc"] == "rollup")

    sql = spans.sql_metrics(spark, {j["id"]: j["op"] for j in jobs}, SQL_METRICS)
    for label, per_op in sql.items():
        m[label] = sum(per_op.values())

    added = getattr(workload, "ticks_added", (0, 0))
    m["write.files_added"], m["write.bytes_added"] = added
    written = [r["resp"]["bars_written"] for r in recs
               if isinstance(r["resp"], dict)]
    m["rollup.rows_written"] = sum(written)
    m["jvm.gc_ms"] = gc_ms
    m["trace.overhead_ms"] = tracer.overhead_s * 1e3

    out = {k: (m[k] / n, UNITS[k]) for k in UNITS
           if k not in ("rollup.new_bar_ratio", "jvm.heap_used_mb")}
    new_bars = sum(r["params"]["new_bars"] for r in recs
                   if isinstance(r["resp"], dict))
    out["rollup.new_bar_ratio"] = (new_bars / sum(written) if sum(written) else 0.0,
                                   "ratio")
    out["jvm.heap_used_mb"] = (spans.jvm_heap_used_mb(sc), "MB")
    return {k: out[k] for k in UNITS}
