"""Classify every statement of the engine's ORACLES registry over HTTP.

Starts the service, loads the fixtures at the given scale, sends each
statement twice (a cold and a warm pass) to /db/query, and checks each answer
against DuckDB. Writes one JSON object {name: {"status", "class",
"cold_ms", "warm_ms"}} to OUT; "status" is ok, wrong or error. Use it to
re-derive the pinned lists in corpus.py and the SQL snapshot.

Usage: python3 perfbench/pin.py OUT [SF] [NAME,NAME,...]
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import datagen  # noqa: E402
import oracle  # noqa: E402
import service  # noqa: E402


def failure_class(err: str) -> str:
    m = re.match(r"\[([A-Z_.]+)\]", err)
    if m:
        return "error " + m.group(1)
    return "error " + err.split(":")[0][:60]


def main() -> None:
    out, sf = sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.001
    from duckdb_service_spark.plans import ORACLES, load_all

    load_all()
    names = sys.argv[3].split(",") if len(sys.argv) > 3 else sorted(ORACLES)
    run_dir = os.path.join(ROOT, ".perfbench_run", f"pin-{os.getpid()}")
    os.makedirs(run_dir)
    data = datagen.generate(os.path.join(ROOT, ".perfbench_data", f"sf{sf}"), sf)
    con = oracle.connect(data)
    srv = service.Server(ROOT, run_dir, os.path.join(run_dir, "wh"),
                         service.spark_env(run_dir, os.cpu_count() or 4, "3g"))
    res: dict[str, dict] = {}
    try:
        for t in datagen.TABLES:
            service.post(srv.host, srv.port, "/db/execute",
                         f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        for pass_name in ("cold_ms", "warm_ms"):
            for name in names:
                want = oracle.expected(con, ORACLES[name])
                wall, _status, env, err = service.post(srv.host, srv.port, "/db/query", ORACLES[name])
                if err is None:
                    err = oracle.mismatch(want, env["result"])
                    cls = None if err is None else "wrong " + err.split(" ")[0]
                else:
                    cls = failure_class(err)
                rec = res.setdefault(name, {"status": "ok" if cls is None else cls.split()[0],
                                            "class": cls, "detail": (err or "")[:160]})
                rec[pass_name] = round(wall * 1000, 1)
    finally:
        srv.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(out, "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
