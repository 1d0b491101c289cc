"""write_mix: one writer and three readers on a service-owned table, with a
model of the table that every answer is checked against.

The table is a CTAS copy of ``orders``. The writer cycles single-row
INSERT / UPDATE-by-key / DELETE-by-key on odd keys only (new keys are odd
too) and checks ``rows_affected``. Readers cycle point lookups on even keys,
which the writer never touches, and a GROUP BY over the even keys, whose
answer is therefore invariant. After the run the whole table is compared
with the model.

The table is seeded by CTAS because ``INSERT INTO t SELECT ... FROM
read_parquet(...)`` fails at the pinned tree with
UNRESOLVABLE_TABLE_VALUED_FUNCTION.
"""

from __future__ import annotations

import datetime as dt
import itertools
import os
import random
import threading

import oracle
import service
from loop import Record, now

TABLE = "wm_orders"
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
AGG_SQL = (
    f"SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS total "
    f"FROM {TABLE} WHERE o_orderkey % 2 = 0 GROUP BY o_orderpriority"
)


class WriteModel:
    def __init__(self, orders, rng: random.Random):
        self.columns = orders.column_names
        self.rows = {}
        for r in orders.to_pylist():
            self.rows[r["o_orderkey"]] = [oracle.wire(r[c]) for c in self.columns]
        self.live = sorted(k for k in self.rows if k % 2 == 1)
        self.read_keys = sorted(k for k in self.rows if k % 2 == 0)
        self.next_key = (max(self.rows) | 1) + 2
        agg: dict[str, list] = {}
        for k in self.read_keys:
            row = self.rows[k]
            a = agg.setdefault(row[5], [0, 0.0])
            a[0] += 1
            a[1] += row[3]
        self.agg_want = oracle.canon(["o_orderpriority", "n", "total"],
                                     [[p, n, s] for p, (n, s) in agg.items()])
        self.writer_rng = random.Random(rng.getrandbits(64))
        self.reader_rngs = [random.Random(rng.getrandbits(64)) for _ in range(3)]
        self.written = 0
        self._mu = threading.Lock()

    def create_sql(self, data_dir: str) -> str:
        return (f"CREATE TABLE {TABLE} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, 'orders.parquet')}')")

    def user_bytes(self) -> int:
        return self.written

    # ---- operations ------------------------------------------------------
    def _write(self, rng: random.Random, kind: str) -> tuple[str, list | None, int | None]:
        """(sql, the key's row afterwards or None, key) for one write."""
        if kind == "insert":
            key = self.next_key
            self.next_key += 2
            day = dt.datetime(2001, 1, 1) + dt.timedelta(days=rng.randrange(365))
            row = [key, rng.randrange(1000), "N", round(rng.uniform(1000, 500000), 2),
                   day.isoformat(sep=" "), rng.choice(PRIORITIES)]
            sql = (f"INSERT INTO {TABLE} VALUES ({row[0]}, {row[1]}, '{row[2]}', {row[3]}, "
                   f"TIMESTAMP '{row[4]}', '{row[5]}')")
            return sql, row, key
        key = self.live[rng.randrange(len(self.live))]
        if kind == "update":
            price = round(rng.uniform(1000, 500000), 2)
            row = list(self.rows[key])
            row[2], row[3] = "U", price
            sql = (f"UPDATE {TABLE} SET o_totalprice = {price}, o_orderstatus = 'U' "
                   f"WHERE o_orderkey = {key}")
            return sql, row, key
        return f"DELETE FROM {TABLE} WHERE o_orderkey = {key}", None, key

    def writer_op(self, srv, rec, kind: str) -> None:
        rng = self.writer_rng
        sql, row, key = self._write(rng, kind)
        self.written += len(sql.encode())
        wall, _st, env, err = service.post(srv.host, srv.port, "/db/execute", sql)
        if err is None:
            got = env["result"].get("rows_affected")
            if got != 1:
                err = f"{kind} rows_affected={got}, model expects 1"
        if err is None:
            with self._mu:
                if row is None:
                    del self.rows[key]
                    self.live.remove(key)
                else:
                    if key not in self.rows:
                        self.live.append(key)
                    self.rows[key] = row
        rec.add(Record("write", kind, wall * 1000, env.get("took") if env else None, err is None, err))

    def reader_op(self, srv, rec, rng: random.Random) -> None:
        if rng.random() < 0.75:
            key = self.read_keys[rng.randrange(len(self.read_keys))]
            sql = f"SELECT * FROM {TABLE} WHERE o_orderkey = {key}"
            want, name = oracle.canon(self.columns, [self.rows[key]]), "point"
        else:
            sql, want, name = AGG_SQL, self.agg_want, "group_by"
        wall, _st, env, err = service.post(srv.host, srv.port, "/db/query", sql)
        if err is None:
            err = oracle.mismatch(want, env["result"])
        rec.add(Record("read", name, wall * 1000, env.get("took") if env else None, err is None, err))

    def drive(self, srv, rec, seconds: float, min_rounds: int = 1) -> float:
        """Closed loop: the writer runs rounds of a shuffled (insert, update,
        delete) until ``seconds`` have passed and ``min_rounds`` are done;
        readers run until the writer stops. Returns the window's wall time."""
        done = threading.Event()
        t0 = now()

        def writer():
            try:
                for n in itertools.count(1):
                    kinds = ["insert", "update", "delete"]
                    self.writer_rng.shuffle(kinds)
                    for kind in kinds:
                        self.writer_op(srv, rec, kind)
                    if n >= min_rounds and now() - t0 >= seconds:
                        return
            finally:
                done.set()

        def reader(rng):
            while True:
                self.reader_op(srv, rec, rng)
                if done.is_set():
                    return

        threads = [threading.Thread(target=writer)]
        threads += [threading.Thread(target=reader, args=(r,)) for r in self.reader_rngs]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return now() - t0

    def final_check(self, srv, rec) -> None:
        """The whole table against the model, recorded as one operation."""
        wall, _st, env, err = service.post(srv.host, srv.port, "/db/query", f"SELECT * FROM {TABLE}")
        if err is None:
            err = oracle.mismatch(oracle.canon(self.columns, list(self.rows.values())), env["result"])
        rec.add(Record("check", "full_table", wall * 1000, None, err is None, err))

    @staticmethod
    def data_files(warehouse: str) -> int:
        n = 0
        for root, _dirs, files in os.walk(warehouse):
            if TABLE in root.split(os.sep):
                n += sum(f.endswith(".parquet") for f in files)
        return n
