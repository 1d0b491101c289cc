"""Service and builder benchmark for duckdb_service_spark.

Usage:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
      [--cpus N|nproc] [--driver-mem SIZE] [--wrong-answer]

Workloads (see BENCHMARK.json for why each exists):
  dialect_corpus  4 closed-loop clients, pinned DuckDB-dialect corpus, sf0.001
  write_mix       1 writer + 3 readers on a CTAS copy of sf0.01 orders
  builder_suite   1 in-process client over 9 of the bench plan builders, sf0.01
  tpch_service    2 closed-loop clients, the TPC-H service corpus, sf0.01

With --trace 0 the service runs as its own process and the end-to-end
metrics are measured. With --trace 1 the engine is hosted in this process,
its layers are wrapped (spans.py) and the Spark event log is read; the run
first measures an untraced window, then a traced one, and reports the
per-layer split. Every answer is checked against DuckDB. Each metric is
printed as "name value unit"; the last line is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import datagen  # noqa: E402
import oracle  # noqa: E402
import service  # noqa: E402
from layers import PER_LAYER, per_layer  # noqa: E402
from loop import Record, Recorder, now, percentile, run_passes  # noqa: E402

# A measured window is whole passes over a corpus, at least this many, so
# every run times the same statements and has enough latency samples.
MEASURED_PASSES = 2
# The same for write_mix: whole writer rounds (insert, update, delete).
WRITER_ROUNDS = 3
END_TO_END = ("ops_per_s", "setup_s")
UNITS = {
    "setup_s": "s", "ops_per_s": "1/s", "read_p50_ms": "ms", "read_p90_ms": "ms",
    "write_p50_ms": "ms", "write_p90_ms": "ms", "peak_rss_mb": "MB",
    "failed_ratio": "ratio", "read_samples": "count", "write_samples": "count",
    **PER_LAYER,
}


class Run:
    """One benchmark invocation: its scratch space, inputs and outcome."""

    def __init__(self, args):
        self.args = args
        self.rng = random.Random(args.seed)
        self.dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
        os.makedirs(self.dir)
        self.env = service.spark_env(self.dir, args.cpus, args.driver_mem)
        self.rec = Recorder()
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}

    def data(self, sf: float) -> str:
        return datagen.generate(os.path.join(ROOT, ".perfbench_data", f"sf{sf}"), sf)

    def spark_in_process(self, event_log: bool):
        sys.path.insert(0, ROOT)
        events = os.path.join(self.dir, "events") if event_log else None
        self.event_dir = events
        return service.start_spark(self.dir, self.env, events)

    def server(self, traced: bool):
        if not traced:
            return service.Server(ROOT, self.dir, os.path.join(self.dir, "wh"), self.env)
        self.spark = self.spark_in_process(event_log=True)
        return service.InProcessServer(self.spark, os.path.join(self.dir, "wh"))


# ---- service corpora ---------------------------------------------------


def _tables_in(sqls) -> list[str]:
    text = " ".join(sqls)
    return [t for t in datagen.TABLES if re.search(rf"\b{t}\b", text, re.IGNORECASE)]


def load_tables(srv, data: str, tables: list[str]) -> None:
    for t in tables:
        _wall, _st, _env, err = service.post(
            srv.host, srv.port, "/db/execute",
            f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        if err:
            raise RuntimeError(f"fixture load failed for {t}: {err}")


def service_corpus(run: Run, names: list[str], sf: float, clients: int) -> None:
    sqls = corpus.corpus_sql()
    data = run.data(sf)
    want = oracle.expected_all(data, {n: sqls[n] for n in names})
    if run.args.wrong_answer:
        want[names[0]] = oracle.corrupt(want[names[0]])
    traced = bool(run.args.trace)

    def op(name: str) -> None:
        wall, _st, env, err = service.post(srv.host, srv.port, "/db/query", sqls[name])
        if err is None:
            err = oracle.mismatch(want[name], env["result"])
        took = env.get("took") if env else None
        run.rec.add(Record("read", name, wall * 1000, took, err is None, err))

    t0 = now()
    srv = run.server(traced)
    try:
        t1 = now()
        load_tables(srv, data, _tables_in(sqls[n] for n in names))
        t2 = now()
        run_passes(clients, names, run.rng, 0, op)
        t3 = now()
        run.layers.update({"setup.spark_start_s": t1 - t0, "setup.load_s": t2 - t1,
                           "setup.warm_s": t3 - t2})
        run.metrics["setup_s"] = t3 - t0

        def drive():
            return run_passes(clients, names, run.rng, run.args.seconds, op, MEASURED_PASSES)

        if traced:
            traced_windows(run, srv, drive)
        else:
            measure_window(run, drive)
        run.metrics["peak_rss_mb"] = srv.peak_rss_mb()
    finally:
        srv.stop()
    if traced:
        finish_trace(run)


def measure_window(run: Run, drive) -> list[Record]:
    """Run ``drive`` as the measured window; returns its records."""
    start = len(run.rec.records)
    wall = drive()
    recs = run.rec.records[start:]
    ok = [r for r in recs if r.ok]
    reads = [r.wall_ms for r in ok if r.kind == "read"]
    writes = [r.wall_ms for r in ok if r.kind == "write"]
    run.metrics["ops_per_s"] = len(ok) / wall
    run.metrics["read_p50_ms"] = statistics.median(reads)
    run.metrics["read_p90_ms"] = percentile(reads, 90)
    run.metrics["read_samples"] = len(reads)
    if writes:
        run.metrics["write_p50_ms"] = statistics.median(writes)
        run.metrics["write_p90_ms"] = percentile(writes, 90)
        run.metrics["write_samples"] = len(writes)
    return recs


# ---- write mix ---------------------------------------------------------


def write_mix(run: Run) -> None:
    import pyarrow.parquet as pq

    from writemix import WriteModel

    data = run.data(0.01)
    model = WriteModel(pq.read_table(os.path.join(data, "orders.parquet")), run.rng)
    if run.args.wrong_answer:
        model.rows[-1] = ["not-an-answer"] * len(model.columns)
    traced = bool(run.args.trace)
    t0 = now()
    srv = run.server(traced)
    try:
        t1 = now()
        _w, _s, _e, err = service.post(srv.host, srv.port, "/db/execute", model.create_sql(data))
        if err:
            raise RuntimeError(f"write_mix table load failed: {err}")
        t2 = now()
        model.drive(srv, run.rec, seconds=0)
        t3 = now()
        run.layers.update({"setup.spark_start_s": t1 - t0, "setup.load_s": t2 - t1,
                           "setup.warm_s": t3 - t2})
        run.metrics["setup_s"] = t3 - t0

        def drive():
            return model.drive(srv, run.rec, run.args.seconds, WRITER_ROUNDS)

        if traced:
            traced_windows(run, srv, drive, user_bytes=model.user_bytes)
        else:
            measure_window(run, drive)
        run.metrics["peak_rss_mb"] = srv.peak_rss_mb()
        model.final_check(srv, run.rec)
        run.layers["catalog.files_per_table_end"] = model.data_files(os.path.join(run.dir, "wh"))
    finally:
        srv.stop()
    if traced:
        finish_trace(run)


# ---- builder suite -----------------------------------------------------


def builder_suite(run: Run) -> None:
    sf = 0.01
    data = run.data(sf)
    traced = bool(run.args.trace)
    t0 = now()
    spark = run.spark = run.spark_in_process(event_log=traced)
    from duckdb_service_spark.plans import ORACLES, QUERIES, load_all

    load_all()
    names = [n for n in corpus.BUILDER_SUITE if n in QUERIES]
    t1 = now()
    want = oracle.expected_all(data, {n: ORACLES[n] for n in names})
    if run.args.wrong_answer:
        want[names[0]] = oracle.corrupt(want[names[0]])
    tracer = None
    if traced:
        import spans as tr

        tracer = run.tracer = tr.Tracer()
        tracer.spark = spark
        tr.instrument_builder(tracer)

    def op(name: str) -> None:
        o = tracer.begin("plan") if tracer else None
        a = now()
        try:
            df = QUERIES[name](spark, data)
            b = now()
            rows = df.collect()
            c = now()
            got = {"columns": df.columns, "values": [[oracle.wire(v) for v in r] for r in rows]}
            err = oracle.mismatch(want[name], got)
        except Exception as ex:  # noqa: BLE001 — a failed plan is a failed op
            b = c = now()
            err = f"{type(ex).__name__}: {str(ex)[:200]}"
        if o is not None:
            o.fn_ms["plans.build"] = (b - a) * 1000
            o.fn_ms["plans.collect"] = (c - b) * 1000
        if tracer:
            tracer.end(o)
        spark.catalog.clearCache()
        run.rec.add(Record("read", name, (c - a) * 1000, None, err is None, err))

    try:
        t2 = now()
        # one warm pass in a fixed order: the JVM's JIT state after
        # warm-up then does not depend on the seed
        run_passes(1, sorted(names), random.Random(0), 0, op)
        t3 = now()
        run.layers.update({"setup.spark_start_s": t1 - t0, "setup.load_s": 0.0,
                           "setup.warm_s": t3 - t2})
        run.metrics["setup_s"] = (t1 - t0) + (t3 - t2)

        def drive():
            return run_passes(1, names, run.rng, run.args.seconds, op, MEASURED_PASSES)

        if traced:
            traced_windows(run, None, drive)
        else:
            measure_window(run, drive)
        run.metrics["peak_rss_mb"] = service.tree_peak_rss_mb(os.getpid())
    finally:
        spark.stop()
    if traced:
        finish_trace(run)


# ---- traced runs -------------------------------------------------------


def traced_windows(run: Run, srv, drive, user_bytes=None) -> None:
    """An untraced window, then the same window with the layers wrapped."""
    import spans as tr

    measure_window(run, drive)
    untraced = run.metrics["ops_per_s"]
    tracer = getattr(run, "tracer", None)
    if tracer is None:
        tracer = run.tracer = tr.Tracer()
        tracer.spark = run.spark
        tr.instrument_service(tracer, srv.http)
    bytes0 = user_bytes() if user_bytes else 0
    tracer.enabled = True
    recs = measure_window(run, drive)
    tracer.enabled = False
    run.traced_records = recs
    run.user_bytes = (user_bytes() - bytes0) if user_bytes else 0
    run.layers["trace.overhead_ratio"] = run.metrics["ops_per_s"] / untraced
    run.metrics["ops_per_s"] = untraced


def finish_trace(run: Run) -> None:
    """Derive the per-layer split once Spark has stopped (which flushes the
    event log)."""
    import spans as tr

    run.tracer.unpatch()
    jobs = tr.event_log_jobs(run.event_dir)
    run.layers.update(per_layer(run.tracer.ops, run.traced_records, jobs, run.user_bytes))


# ---- reporting ---------------------------------------------------------


WORKLOADS = {
    "dialect_corpus": lambda run: service_corpus(run, corpus.DIALECT_CORPUS, 0.001, 4),
    "tpch_service": lambda run: service_corpus(run, corpus.TPCH_CORPUS, 0.01, 2),
    "write_mix": write_mix,
    "builder_suite": builder_suite,
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", default="nproc",
                    help="Spark local parallelism; 'nproc' = CPUs this process may use")
    ap.add_argument("--driver-mem", default="3g")
    ap.add_argument("--wrong-answer", action="store_true",
                    help="self-test: corrupt one expected answer; the run must count it as failed")
    args = ap.parse_args()
    args.cpus = len(os.sched_getaffinity(0)) if args.cpus == "nproc" else int(args.cpus)
    if not os.path.isdir(os.path.join(ROOT, "duckdb_service_spark")):
        print(f"perfbench: no duckdb_service_spark package under {ROOT}", file=sys.stderr)
        return 2
    service.become_subreaper()
    run = Run(args)
    try:
        WORKLOADS[args.workload](run)
    finally:
        service.stop_descendants()
        shutil.rmtree(run.dir, ignore_errors=True)
    recs = run.rec.records
    failed = len(run.rec.failures())
    run.metrics["failed_ratio"] = failed / max(1, len(recs))
    for r in run.rec.failures()[:20]:
        print(f"# failed {r.kind} {r.name}: {r.error}", file=sys.stderr)
    if args.trace:
        shown = {k: run.layers.get(k, 0.0) for k in PER_LAYER}
    else:
        shown = dict(run.metrics, **{k: v for k, v in run.layers.items() if k.startswith("setup.")})
    for name, value in sorted(shown.items()):
        print(f"{name} {value:.6g} {UNITS[name]}")
    keys = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": len(recs),
        "failed": failed,
        "metrics": {k: {"value": float(shown[k]), "unit": UNITS[k]} for k in keys},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
