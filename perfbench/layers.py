"""Per-layer metrics of a traced run, named after the engine's modules.

``per_layer`` turns the traced operations (spans.Op), the client records of
the traced window and the Spark event log's per-job-group totals into the
metrics below. "per op" values are means over the traced operations;
``spark.cached_rdds_after_op`` is the most persisted RDDs held right after
any operation. A metric of a layer the workload does not run reads 0.
"""

from __future__ import annotations

from statistics import median

from loop import percentile

PER_LAYER: dict[str, str] = {
    "http_server.overhead_ms": "ms",
    "http_server.lock_wait_p50_ms": "ms",
    "http_server.lock_wait_p90_ms": "ms",
    "executor.run_statement_ms": "ms",
    "executor.query_df_ms": "ms",
    "executor.execute_ms": "ms",
    "executor.self_ms_per_op": "ms",
    "dialect.translate_calls_per_op": "count",
    "dialect.translate_ms_per_op": "ms",
    "sql_routing.pass_self_ms_per_op": "ms",
    "sql_routing.probes_per_op": "count",
    "sql_routing.probe_ms_per_op": "ms",
    "spark.analyze_ms_per_op": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.task_ms_per_op": "ms",
    "spark.scheduler_delay_ms_per_op": "ms",
    "spark.shuffle_bytes_per_op": "bytes",
    "spark.job_wall_ms_per_op": "ms",
    "spark.cached_rdds_after_op": "count",
    "serializer.query_result_ms_per_op": "ms",
    "serializer.self_ms_per_op": "ms",
    "serializer.result_bytes_per_op": "bytes",
    "dml.insert_ms": "ms",
    "dml.update_ms": "ms",
    "dml.delete_ms": "ms",
    "catalog.write_ms_per_write": "ms",
    "catalog.bytes_written_per_user_byte": "ratio",
    "catalog.files_per_table_end": "count",
    "plans.build_ms_per_query": "ms",
    "plans.collect_ms_per_query": "ms",
    "plans.jobs_per_query": "count",
    "operators.persisted_relations_per_query": "count",
    "sources.load_tables_ms_per_query": "ms",
    "setup.spark_start_s": "s",
    "setup.load_s": "s",
    "setup.warm_s": "s",
    "trace.overhead_ratio": "ratio",
    "trace.unattributed_share": "ratio",
    "frontend.share_of_busy": "ratio",
    "spark.job_share_of_busy": "ratio",
}


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def per_layer(ops, records, jobs: dict, user_bytes: int) -> dict[str, float]:
    out: dict[str, float] = {}
    if not ops:
        return out

    def job(op, key):
        return jobs.get(op.id, {}).get(key, 0.0)

    busy = sum(o.busy_ms for o in ops)
    writes = [o for o in ops if "Engine.execute" in o.fn_ms]
    requests = [r for r in records if r.took_ms is not None]
    if requests:
        out["http_server.overhead_ms"] = median(r.wall_ms - r.took_ms for r in requests)
    waits = [o.lock_wait_ms for o in ops]
    out["http_server.lock_wait_p50_ms"] = median(waits)
    out["http_server.lock_wait_p90_ms"] = percentile(waits, 90)
    run_stmt = [o.fn_ms["Engine.run_statement"] for o in ops if "Engine.run_statement" in o.fn_ms]
    out["executor.run_statement_ms"] = _mean(run_stmt)
    out["executor.query_df_ms"] = _mean(o.fn_ms["Engine.query_df"] for o in ops if "Engine.query_df" in o.fn_ms)
    out["executor.execute_ms"] = _mean(o.fn_ms["Engine.execute"] for o in writes)
    out["executor.self_ms_per_op"] = _mean(o.self_ms["executor"] for o in ops)
    out["dialect.translate_calls_per_op"] = _mean(o.calls["translate"] for o in ops)
    out["dialect.translate_ms_per_op"] = _mean(o.incl_ms["dialect"] for o in ops)
    out["sql_routing.pass_self_ms_per_op"] = _mean(o.self_ms["sql_routing"] for o in ops)
    out["sql_routing.probes_per_op"] = _mean(max(0, len(o.sql_ms) - 1) for o in ops)
    out["sql_routing.probe_ms_per_op"] = _mean(sum(o.sql_ms[:-1]) for o in ops)
    out["spark.analyze_ms_per_op"] = _mean(o.self_ms["spark.analyze"] for o in ops)
    for key in ("jobs", "stages", "tasks", "task_ms", "scheduler_delay_ms", "shuffle_bytes", "job_wall_ms"):
        out[f"spark.{key}_per_op"] = _mean(job(o, key) for o in ops)
    out["spark.cached_rdds_after_op"] = float(max(o.cached_rdds for o in ops))
    with_result = [o for o in ops if "query_result" in o.fn_ms]
    out["serializer.query_result_ms_per_op"] = _mean(o.fn_ms["query_result"] for o in with_result)
    out["serializer.self_ms_per_op"] = _mean(
        max(0.0, o.fn_ms["query_result"] - job(o, "job_wall_ms")) for o in with_result)
    out["serializer.result_bytes_per_op"] = _mean(o.result_bytes for o in with_result)
    for kind, fn in (("insert", "insert_values"), ("update", "update_rows"), ("delete", "delete_rows")):
        out[f"dml.{kind}_ms"] = _mean(o.fn_ms[fn] for o in ops if fn in o.fn_ms)
    out["catalog.write_ms_per_write"] = _mean(o.incl_ms["catalog"] for o in writes)
    if user_bytes:
        out["catalog.bytes_written_per_user_byte"] = sum(o.write_bytes for o in writes) / user_bytes
    plans = [o for o in ops if "plans.build" in o.fn_ms]
    out["plans.build_ms_per_query"] = _mean(o.fn_ms["plans.build"] for o in plans)
    out["plans.collect_ms_per_query"] = _mean(o.fn_ms["plans.collect"] for o in plans)
    out["plans.jobs_per_query"] = _mean(job(o, "jobs") for o in plans)
    out["operators.persisted_relations_per_query"] = _mean(o.persists for o in plans)
    out["sources.load_tables_ms_per_query"] = _mean(o.incl_ms["sources"] for o in plans)
    if run_stmt:
        out["trace.unattributed_share"] = sum(o.self_ms["executor"] for o in ops) / sum(run_stmt)
    if busy:
        front = sum(o.self_ms[k] for o in ops for k in ("dialect", "sql_routing", "spark.analyze"))
        out["frontend.share_of_busy"] = front / busy
        out["spark.job_share_of_busy"] = sum(job(o, "job_wall_ms") for o in ops) / busy
    return out
