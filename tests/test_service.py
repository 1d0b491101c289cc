"""Service-layer tests: HTTP contract (mirrors cmd/cli/client.go:100-110
smoke), DDL/DML + constraints (SURVEY §7.5), snapshot/restore, dialect shim,
serializer."""

from __future__ import annotations

import json
import tempfile
import urllib.request

import pytest


@pytest.fixture(scope="module")
def engine(spark):
    from duckdb_service_spark.service.executor import Engine

    return Engine(spark, tempfile.mkdtemp(prefix="warehouse_"))


@pytest.fixture(scope="module")
def server(engine):
    from duckdb_service_spark.service.http_server import EngineHTTPServer

    srv = EngineHTTPServer(engine).start()
    yield srv
    srv.stop()


def _post(server, path: str, sql: str) -> dict:
    req = urllib.request.Request(
        f"http://{server.host}:{server.port}{path}",
        data=json.dumps({"sql": sql}).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req) as resp:
        return json.loads(resp.read())


def _get(server, path: str) -> dict:
    with urllib.request.urlopen(f"http://{server.host}:{server.port}{path}") as resp:
        return json.loads(resp.read())


def test_reference_smoke_client(server):
    """The reference's end-to-end demo, asserted (client.go prints only):
    CREATE abc/def/ghi → INSERT → SELECT, envelope shape from db/db.go:43-47."""
    for name in ("abc", "def", "ghi"):
        r = _post(server, "/db/execute",
                  f"CREATE TABLE {name} (id integer not null primary key, name text)")
        assert r["result"]["rows_affected"] == 0, r
        r = _post(server, "/db/execute", f"INSERT INTO {name}(id, name) VALUES(1, '{name}')")
        assert r["result"]["rows_affected"] == 1, r
        r = _post(server, "/db/query", f"SELECT * FROM {name}")
        assert r["result"]["columns"] == ["id", "name"]
        assert r["result"]["types"] == ["INTEGER", "VARCHAR"]
        assert r["result"]["values"] == [[1, name]]
        assert r["took"] >= 0


def test_pk_and_not_null_enforced(server):
    r = _post(server, "/db/execute", "INSERT INTO abc(id, name) VALUES(1, 'dup')")
    assert "PRIMARY KEY" in r["error"]
    r = _post(server, "/db/execute", "INSERT INTO abc(id, name) VALUES(NULL, 'x')")
    assert "NOT NULL" in r["error"]
    r = _post(server, "/db/query", "SELECT count(*) AS n FROM abc")
    assert r["result"]["values"] == [[1]]  # failed inserts appended nothing


def test_update_delete_rows_affected(server):
    _post(server, "/db/execute", "CREATE TABLE t_mut (id integer primary key, v double)")
    _post(server, "/db/execute", "INSERT INTO t_mut VALUES (1, 1.5), (2, 2.5), (3, 3.5)")
    r = _post(server, "/db/execute", "UPDATE t_mut SET v = v * 2 WHERE id >= 2")
    assert r["result"]["rows_affected"] == 2
    r = _post(server, "/db/query", "SELECT v FROM t_mut ORDER BY id")
    assert [row[0] for row in r["result"]["values"]] == [1.5, 5.0, 7.0]
    r = _post(server, "/db/execute", "DELETE FROM t_mut WHERE v > 4")
    assert r["result"]["rows_affected"] == 2
    r = _post(server, "/db/query", "SELECT count(*) AS n FROM t_mut")
    assert r["result"]["values"] == [[1]]


def test_insert_select_and_views(server):
    _post(server, "/db/execute", "CREATE TABLE t_src (id integer, tag text)")
    _post(server, "/db/execute", "INSERT INTO t_src VALUES (1,'a'), (2,'b'), (3,'a')")
    _post(server, "/db/execute", "CREATE TABLE t_dst (id integer, tag text)")
    r = _post(server, "/db/execute", "INSERT INTO t_dst SELECT id, tag FROM t_src WHERE tag = 'a'")
    assert r["result"]["rows_affected"] == 2
    r = _post(server, "/db/execute", "CREATE VIEW v_a AS SELECT id FROM t_dst")
    assert "error" not in r
    r = _post(server, "/db/query", "SELECT count(*) AS n FROM v_a")
    assert r["result"]["values"] == [[2]]


def test_query_routing_and_errors(server):
    import urllib.error

    with pytest.raises(urllib.error.HTTPError) as e:  # empty SQL → 400 (service.go:223-227)
        _post(server, "/db/query", "")
    assert e.value.code == 400
    assert json.loads(e.value.read()) == {"error": "no sql statement"}
    r = _post(server, "/db/query", "SELECT broken syntax FROM FROM")
    assert "error" in r
    r = _post(server, "/db/query", "SHOW TABLES")
    names = {v[0] for v in r["result"]["values"]}
    assert {"abc", "def", "ghi"} <= names
    r = _post(server, "/db/query", "DESCRIBE abc")
    assert r["result"]["columns"] == ["column_name", "column_type", "null", "key"]
    r = _post(server, "/db/query", "EXPLAIN SELECT 1")
    assert any("Project" in v[0] or "Scan" in v[0] or "Result" in v[0]
               for v in r["result"]["values"])


def test_status_endpoint(server):
    s = _get(server, "/status")
    assert "abc" in s["engine"]["tables"]
    assert s["uptime_s"] >= 0
    assert s["engine"]["spark_version"]
    # the fixture's statements went through translate(): its memo counts them
    memo = s["frontend"]
    assert set(memo) == {"hits", "misses", "entries"}
    assert memo["misses"] >= 1 and 1 <= memo["entries"] <= memo["misses"]
    _post(server, "/db/query", "SELECT * FROM abc")
    again = _get(server, "/status")["frontend"]
    assert again["hits"] > memo["hits"]


def test_join_returns_501(server):
    import urllib.error

    req = urllib.request.Request(
        f"http://{server.host}:{server.port}/join", data=b"{}", method="POST"
    )
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(req)
    assert e.value.code == 501


def test_snapshot_restore(engine):
    import tempfile as tf

    snap = tf.mkdtemp(prefix="snap_")
    n = engine.catalog.export_database(snap)
    assert n >= 4
    engine.execute("DELETE FROM t_src")
    assert engine.catalog.read("t_src").count() == 0
    engine.execute(f"IMPORT DATABASE '{snap}'")
    assert engine.catalog.read("t_src").count() == 3


def test_dialect_shim():
    from duckdb_service_spark.service.dialect import UnsupportedDialect, translate

    # BIGINT like DuckDB's strpos (width parity, r12)
    assert (
        translate("SELECT strpos(a, 'x') FROM t")
        == "SELECT CAST(instr(a, 'x') AS BIGINT) FROM t"
    )
    assert "get_json_object" in translate("SELECT json_extract_string(p, '$.k') FROM t")
    assert " div " in translate("SELECT pi // 4 FROM t")
    assert "'//'" in translate("SELECT '//' FROM t")  # literals untouched
    assert "date_format(ts, 'yyyy-MM-dd')" in translate("SELECT strftime(ts, '%Y-%m-%d') FROM t")
    # DuckDB date_diff counts boundary crossings: day goes through
    # date-level datediff, not elapsed-unit timestampdiff
    assert "datediff(CAST(b AS DATE), CAST(a AS DATE))" in translate(
        "SELECT date_diff('day', a, b) FROM t"
    )
    out = translate("SELECT o_custkey FROM orders QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice) = 1")
    assert "WHERE __q" in out and "QUALIFY" not in out.upper()
    out = translate("SELECT DISTINCT ON (k) k, v FROM t ORDER BY v DESC")
    assert "row_number()" in out and "__rn = 1" in out
    assert "EXCEPT (" in translate("SELECT * EXCLUDE (a) FROM t")
    with pytest.raises(UnsupportedDialect):
        translate("SELECT * FROM a ASOF JOIN b ON a.k = b.k AND a.t >= b.t")


def test_dialect_shim_executes(spark, engine):
    """Shimmed SQL must actually run on Spark with correct results."""
    spark.sql("SELECT 1 AS k, 10 AS v UNION ALL SELECT 1, 20 UNION ALL SELECT 2, 5").createOrReplaceTempView("t_shim")
    from duckdb_service_spark.service.dialect import translate

    rows = spark.sql(
        translate("SELECT DISTINCT ON (k) k, v FROM t_shim ORDER BY v DESC")
    ).collect()
    assert {(r.k, r.v) for r in rows} == {(1, 20), (2, 5)}
    rows = spark.sql(
        translate("SELECT k, v FROM t_shim QUALIFY row_number() OVER (PARTITION BY k ORDER BY v) = 1")
    ).collect()
    assert {(r.k, r.v) for r in rows} == {(1, 10), (2, 5)}
    rows = spark.sql(translate("SELECT 7 // 2 AS d")).collect()
    assert rows[0].d == 3


def test_serializer_types(spark):
    from duckdb_service_spark.service.serializer import duckdb_type_name, query_result

    df = spark.sql(
        "SELECT 1 AS i, CAST(1 AS BIGINT) AS l, 1.5D AS d, 'x' AS s, "
        "CAST(1.5 AS DECIMAL(10,2)) AS dec, DATE '2024-01-01' AS dt, "
        "ARRAY(1, 2) AS arr, CAST('b' AS BINARY) AS bin, true AS b"
    )
    out = query_result(df)
    assert out["types"] == [
        "INTEGER", "BIGINT", "DOUBLE", "VARCHAR", "DECIMAL(10,2)", "DATE",
        "INTEGER[]", "BLOB", "BOOLEAN",
    ]
    assert out["values"][0] == [1, 1, 1.5, "x", 1.5, "2024-01-01", [1, 2], "b", True]


def test_union_by_name_sql(engine, spark):
    spark.sql("SELECT 1 AS a, 'x' AS b").createOrReplaceTempView("ubn_l")
    spark.sql("SELECT 'y' AS b, 2 AS a, 9 AS c").createOrReplaceTempView("ubn_r")
    df = engine.query_df("SELECT a, b FROM ubn_l UNION ALL BY NAME SELECT b, a, c FROM ubn_r")
    rows = {(r.a, r.b, r.c) for r in df.collect()}
    assert rows == {(1, "x", None), (2, "y", 9)}
    # distinct variant
    df2 = engine.query_df("SELECT a, b FROM ubn_l UNION BY NAME SELECT b, a FROM ubn_r")
    assert df2.count() == 2


def test_hypothesis_shim_preserves_literals():
    """Property: the dialect shim never rewrites inside single-quoted
    string literals (SURVEY §5 hardening item)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from duckdb_service_spark.service.dialect import translate

    words = st.sampled_from(["strpos", "len", "list_sort", "//", "epoch", "string_split"])

    @settings(max_examples=200, deadline=None)
    @given(lit=words, col=st.text(alphabet="abcxyz_", min_size=1, max_size=8))
    def check(lit, col):
        sql = f"SELECT '{lit}' AS tag, strpos({col}, 'a') FROM t"
        out = translate(sql)
        assert f"'{lit}'" in out            # literal untouched
        assert f"instr({col}, 'a')" in out  # code rewritten

    check()


def test_alter_table_schema_evolution(server):
    _post(server, "/db/execute", "CREATE TABLE t_alter (id integer primary key, a text)")
    _post(server, "/db/execute", "INSERT INTO t_alter VALUES (1, 'x'), (2, 'y')")
    r = _post(server, "/db/execute", "ALTER TABLE t_alter ADD COLUMN score double")
    assert "error" not in r, r
    # old rows read back with NULL in the new column (schema-on-read)
    r = _post(server, "/db/query", "SELECT id, a, score FROM t_alter ORDER BY id")
    assert r["result"]["values"] == [[1, "x", None], [2, "y", None]]
    _post(server, "/db/execute", "INSERT INTO t_alter VALUES (3, 'z', 9.5)")
    r = _post(server, "/db/execute", "ALTER TABLE t_alter RENAME COLUMN a TO label")
    assert "error" not in r, r
    r = _post(server, "/db/query", "SELECT label, score FROM t_alter WHERE id = 3")
    assert r["result"]["values"] == [["z", 9.5]]
    r = _post(server, "/db/execute", "ALTER TABLE t_alter DROP COLUMN score")
    assert "error" not in r, r
    r = _post(server, "/db/query", "SELECT * FROM t_alter ORDER BY id")
    assert r["result"]["columns"] == ["id", "label"]
    # guard rails
    r = _post(server, "/db/execute", "ALTER TABLE t_alter DROP COLUMN id")
    assert "PRIMARY KEY" in r["error"]
    r = _post(server, "/db/execute", "ALTER TABLE t_alter ADD COLUMN label text")
    assert "already exists" in r["error"]


def test_create_table_as_select(server):
    _post(server, "/db/execute", "CREATE TABLE ctas_src (id integer, v double, tag text)")
    _post(server, "/db/execute",
          "INSERT INTO ctas_src VALUES (1, 1.5, 'a'), (2, 2.5, 'b'), (3, 3.5, 'a')")
    r = _post(server, "/db/execute",
              "CREATE TABLE ctas_dst AS SELECT tag, count(*) AS n, sum(v) AS total FROM ctas_src GROUP BY tag")
    assert r["result"]["rows_affected"] == 2, r
    r = _post(server, "/db/query", "SELECT * FROM ctas_dst ORDER BY tag")
    assert r["result"]["columns"] == ["tag", "n", "total"]
    assert r["result"]["values"] == [["a", 2, 5.0], ["b", 1, 2.5]]
    # schema persisted with inferred types
    r = _post(server, "/db/query", "DESCRIBE ctas_dst")
    types = {v[0]: v[1] for v in r["result"]["values"]}
    assert types["n"] == "BIGINT" and types["total"] == "DOUBLE"
    # duplicate CTAS rejected; IF NOT EXISTS tolerated
    r = _post(server, "/db/execute", "CREATE TABLE ctas_dst AS SELECT 1 AS x")
    assert "already exists" in r["error"]
    r = _post(server, "/db/execute", "CREATE TABLE IF NOT EXISTS ctas_dst AS SELECT 1 AS x")
    assert r["result"]["rows_affected"] == 0


def test_dialect_round5_functions():
    """Round-5 battery emitters: pure-text translation checks (semantics
    are oracle-checked end-to-end by the fn_battery_r5 driver query)."""
    from duckdb_service_spark.service.dialect import UnsupportedDialect, translate

    assert translate("SELECT monthname(d)") == "SELECT date_format(d, 'MMMM')"
    assert translate("SELECT dayname(d)") == "SELECT date_format(d, 'EEEE')"
    assert "weekofyear" in translate("SELECT week(d)")
    assert "weekday(d) + 1" in translate("SELECT isodow(d)")
    assert "conv(" in translate("SELECT to_base(n, 16)")
    assert "sort_array(l, false)" in translate("SELECT list_reverse_sort(l)")
    assert "array_distinct" in translate("SELECT list_unique(l)")
    assert "array_min" in translate("SELECT list_aggregate(l, 'min')")
    assert ", 0)" in translate("SELECT regexp_extract(s, 'x')")  # DuckDB group-0 default
    assert "startswith" in translate("SELECT starts_with(a, b)")
    assert "endswith" in translate("SELECT suffix(a, b)")
    # age(): calendar-normalized, no Spark equivalent — declared divergence
    import pytest as _pytest

    with _pytest.raises(UnsupportedDialect, match="calendar-normalized"):
        translate("SELECT age(a, b)")
    with _pytest.raises(UnsupportedDialect, match="unsupported function"):
        translate("SELECT list_aggregate(l, 'median')")


def test_dialect_list_comprehension_and_struct_literals(spark):
    """Round-5 statement-level bracket/brace rewrites (semantics verified
    against DuckDB; oracle-checked end-to-end by sql_list_comprehension)."""
    from duckdb_service_spark.service.dialect import translate

    t = translate("SELECT [x * 2 FOR x IN [1, 2, 3]] AS r")
    assert "transform(array(1, 2, 3), x -> x * 2)" in t
    t = translate("SELECT [x FOR x IN l IF x > 2] AS r")
    assert "transform(filter(l, x -> x > 2), x -> x)" in t
    t = translate("SELECT {'a': 1, 'b': 'z'} AS s")
    assert "named_struct('a', 1, 'b', 'z')" in t
    t = translate("SELECT MAP {'k': 10} AS m")
    assert "map('k', 10)" in t
    # the historical chunking bug: constructor brackets straddling string
    # literals must stay balanced
    assert translate("SELECT ['a', 'b'] AS l").count("(") == translate(
        "SELECT ['a', 'b'] AS l"
    ).count(")")
    assert "array('a', 'b')" in translate("SELECT ['a', 'b'] AS l")
    # executes end-to-end
    row = spark.sql(
        translate("SELECT [upper(s) FOR s IN ['a', 'b']] AS r, {'k': 7}.k AS v")
    ).collect()[0]
    assert row.r == ["A", "B"] and row.v == 7


def test_dialect_bracket_tokenizer_edges():
    """Round-5 tokenizer fixes: (1) a string literal ends a pending
    identifier — `SELECT 'abc'[2]` must NOT read the subscript as a
    keyword-context constructor (r09: it now lowers to the measured DuckDB
    STRING-subscript form instead of passing through to a Spark error);
    (2) whitespace completes identifiers — `SELECT array[1,2]` must
    recognize the ARRAY-keyword form instead of merging into
    'selectarray'."""
    from duckdb_service_spark.service.dialect import translate

    assert translate("SELECT 'abc'[2] AS c") == "SELECT substring('abc', 2, 1) AS c"
    assert translate("SELECT array[1,2] AS a") == "SELECT array(1,2) AS a"
    assert translate("SELECT ARRAY[1, 2] AS a") == "SELECT ARRAY(1, 2) AS a"
    assert "element_at(l, 2)" in translate("SELECT l[2] FROM t")
    assert "IN array(1, 2)" in translate("SELECT x IN [1, 2] FROM t")


def test_dialect_from_unnest(spark):
    from duckdb_service_spark.service.dialect import translate

    t = translate("SELECT * FROM UNNEST([1, 2, 3]) AS t(x)")
    assert "(SELECT explode(array(1, 2, 3)) AS x) t" in t
    t = translate("SELECT u.p FROM tn, UNNEST(string_split(n, '_')) AS u(p)")
    assert "LATERAL VIEW explode(split(n, '_')) u AS p" in t
    # no-alias defaults to DuckDB's column name; clause keywords not eaten
    t = translate("SELECT unnest FROM UNNEST([1,2]) WHERE unnest > 1")
    assert "AS unnest) __u WHERE" in t
    rows = spark.sql(
        translate("SELECT x FROM UNNEST([1,2,3]) AS t(x) WHERE x > 1")
    ).collect()
    assert [r.x for r in rows] == [2, 3]


def test_window_frame_exclude(spark):
    """EXCLUDE CURRENT ROW/GROUP/TIES via window algebra (values verified
    against DuckDB in the win_exclude_frame oracle query); unsupported
    decompositions raise with the workaround named."""
    import pytest as _pytest

    from duckdb_service_spark.service.dialect import UnsupportedDialect, translate

    spark.sql(
        "SELECT * FROM VALUES (1,10),(2,10),(3,20),(4,30),(5,30) t(i,v)"
    ).createOrReplaceTempView("t_excl")
    rows = spark.sql(translate(
        "SELECT i, sum(v) OVER (ORDER BY v ROWS BETWEEN 1 PRECEDING AND 1 "
        "FOLLOWING EXCLUDE CURRENT ROW) AS x FROM t_excl ORDER BY i"
    )).collect()
    assert [r.x for r in rows] == [10, 30, 40, 50, 30]
    rows = spark.sql(translate(
        "SELECT i, sum(v) OVER (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING "
        "AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS x FROM t_excl ORDER BY i"
    )).collect()
    assert [r.x for r in rows] == [80, 80, 80, 40, 40]
    # min/max EXCLUDE CURRENT ROW with ROWS frames: frame split + least/
    # greatest (round 6) — values checked here, oracle-checked in
    # win_exclude_frame
    rows = spark.sql(translate(
        "SELECT i, min(v) OVER (ORDER BY v, i ROWS BETWEEN 1 PRECEDING AND 1 "
        "FOLLOWING EXCLUDE CURRENT ROW) AS x FROM t_excl ORDER BY i"
    )).collect()
    assert [r.x for r in rows] == [10, 10, 10, 20, 30]
    rows = spark.sql(translate(
        "SELECT i, max(v) OVER (ORDER BY v, i ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW) AS x "
        "FROM t_excl ORDER BY i"
    )).collect()
    assert [r.x for r in rows] == [None, 10, 10, 20, 30]
    # round 7: min/max GROUP/TIES under RANGE frames and the sum family
    # under ROWS GROUP/TIES rewrite through the frame-scoped collect
    # (differential coverage in tests/test_window_exclude_r07.py)
    rows = spark.sql(translate(
        "SELECT i, min(v) OVER (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING "
        "AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS x FROM t_excl ORDER BY i"
    )).collect()
    assert [r.x for r in rows] == [20, 20, 10, 10, 10]
    # ORDER BY v, i makes every row its own peer group, so EXCLUDE GROUP
    # here equals EXCLUDE CURRENT ROW (verified against DuckDB); the ROWS
    # GROUP path rides DOUBLE (the documented fold trade)
    rows = spark.sql(translate(
        "SELECT i, sum(v) OVER (ORDER BY v, i ROWS BETWEEN 1 PRECEDING AND 1 "
        "FOLLOWING EXCLUDE GROUP) AS x FROM t_excl ORDER BY i"
    )).collect()
    assert [r.x for r in rows] == [10.0, 30.0, 40.0, 50.0, 30.0]
    _ = UnsupportedDialect, _pytest  # raise-paths covered in r07 test module


def test_dialect_ignore_nulls_position():
    from duckdb_service_spark.service.dialect import translate

    t = translate("SELECT first_value(v IGNORE NULLS) OVER (ORDER BY i) FROM t")
    assert "first_value(v) IGNORE NULLS OVER" in t
    t = translate("SELECT nth_value(v, 2 IGNORE NULLS) OVER (ORDER BY i) FROM t")
    assert "nth_value(v, 2) IGNORE NULLS OVER" in t


def test_round5_statements_over_http(server):
    """MERGE INTO / COMMENT ON / VACUUM ride the same /db/execute envelope
    end-to-end (reference contract: every statement is one POST)."""
    _post(server, "/db/execute", "CREATE TABLE h5 (id integer primary key, v text)")
    _post(server, "/db/execute", "INSERT INTO h5 VALUES (1, 'a'), (2, 'b')")
    r = _post(server, "/db/execute",
              "MERGE INTO h5 USING (SELECT 2 AS id, 'B' AS v UNION ALL SELECT 3, 'c') s "
              "ON h5.id = s.id "
              "WHEN MATCHED THEN UPDATE SET v = s.v "
              "WHEN NOT MATCHED THEN INSERT")
    assert r["result"]["rows_affected"] == 2, r
    r = _post(server, "/db/query", "SELECT v FROM h5 ORDER BY id")
    assert [x[0] for x in r["result"]["values"]] == ["a", "B", "c"]
    assert _post(server, "/db/execute", "COMMENT ON TABLE h5 IS 'merged'")["result"]["rows_affected"] == 0
    assert _post(server, "/db/execute", "VACUUM")["result"]["rows_affected"] == 0


def test_cte_materialized_hint(spark):
    from duckdb_service_spark.service.dialect import translate

    out = translate("WITH x AS MATERIALIZED (SELECT 1 AS a) SELECT a FROM x")
    assert "MATERIALIZED" not in out.upper()
    assert spark.sql(out).collect()[0].a == 1
    out = translate("WITH x AS NOT MATERIALIZED (SELECT 2 AS a) SELECT a FROM x")
    assert spark.sql(out).collect()[0].a == 2


def test_round7_surfaces_over_http(server):
    """Round-7 dialect surfaces end-to-end through the HTTP contract:
    sub-precision timestamp types in DDL + query, frame EXCLUDE, postfix
    int casts, and PREPARE/EXECUTE."""
    r = _post(server, "/db/execute",
              "CREATE TABLE r7_ts (id INTEGER PRIMARY KEY, t TIMESTAMP_NS)")
    assert r["result"]["rows_affected"] == 0, r
    r = _post(server, "/db/execute",
              "INSERT INTO r7_ts VALUES (1, TIMESTAMP '2024-01-01 00:00:00.123456')")
    assert r["result"]["rows_affected"] == 1, r
    r = _post(server, "/db/query", "SELECT id, t FROM r7_ts")
    assert r["result"]["types"] == ["INTEGER", "TIMESTAMP_NS"], r
    assert r["result"]["values"][0][1].startswith("2024-01-01 00:00:00.123456")
    r = _post(server, "/db/query",
              "SELECT CAST(t AS TIMESTAMP_S) AS ts_s, 2.5::INTEGER AS i FROM r7_ts")
    assert r["result"]["values"] == [["2024-01-01 00:00:00", 3]], r
    # frame EXCLUDE through HTTP (the full surface incl. ROWS GROUP)
    r = _post(server, "/db/query",
              "SELECT id, count(id) OVER (ORDER BY id ROWS BETWEEN 1 PRECEDING "
              "AND 1 FOLLOWING EXCLUDE GROUP) AS n FROM r7_ts")
    assert r["result"]["values"] == [[1, 0]], r
    # PREPARE / EXECUTE through HTTP
    r = _post(server, "/db/execute",
              "PREPARE r7p AS SELECT id + $1 AS v FROM r7_ts")
    assert "error" not in r, r
    r = _post(server, "/db/query", "EXECUTE r7p(41)")
    assert r["result"]["values"] == [[42]], r


# ---- r08: catalog introspection surface -------------------------------------


def test_duckdb_tables_and_views_introspection(spark, tmp_path):
    from duckdb_service_spark.service.executor import Engine

    eng = Engine(spark, str(tmp_path / "wh_introspect"))
    eng.execute("CREATE TABLE it1 (a INT PRIMARY KEY, b VARCHAR DEFAULT 'x')")
    eng.execute("INSERT INTO it1 VALUES (1, 'x'), (2, 'y')")
    eng.execute("CREATE VIEW iv1 AS SELECT a FROM it1")
    eng.execute("CREATE SCHEMA is1")
    eng.execute("CREATE TABLE is1.it2 (c INT)")
    eng.execute("COMMENT ON TABLE it1 IS 'the it1 table'")

    rows = {
        r["table_name"]: r
        for r in eng.query_df(
            "SELECT table_name, schema_name, has_primary_key, estimated_size,"
            " column_count, comment FROM duckdb_tables()"
        ).collect()
    }
    assert rows["it1"]["has_primary_key"] is True
    assert rows["it1"]["estimated_size"] == 2
    assert rows["it1"]["column_count"] == 2
    assert rows["it1"]["comment"] == "the it1 table"
    assert rows["it2"]["schema_name"] == "is1"

    v = eng.query_df("SELECT view_name, sql FROM duckdb_views()").collect()
    assert ("iv1", "SELECT a FROM it1") in [(r[0], r[1]) for r in v]

    cols = eng.query_df(
        "SELECT column_name, ordinal_position, is_nullable, data_type "
        "FROM information_schema.columns WHERE table_name = 'it1' "
        "ORDER BY ordinal_position"
    ).collect()
    assert [tuple(r) for r in cols] == [
        ("a", 1, "NO", "INT"),
        ("b", 2, "YES", "VARCHAR"),
    ]

    kinds = {
        (r["table_schema"], r["table_name"]): r["table_type"]
        for r in eng.query_df(
            "SELECT table_schema, table_name, table_type "
            "FROM information_schema.tables"
        ).collect()
    }
    assert kinds[("main", "it1")] == "BASE TABLE"
    assert kinds[("main", "iv1")] == "VIEW"
    assert kinds[("is1", "it2")] == "BASE TABLE"

    cur = eng.query_df(
        "SELECT current_schema() AS s, current_database() AS d"
    ).collect()[0]
    assert (cur["s"], cur["d"]) == ("main", "main")


def test_install_load_noops(spark, tmp_path):
    from duckdb_service_spark.service.executor import Engine

    eng = Engine(spark, str(tmp_path / "wh_ext"))
    assert eng.execute("INSTALL json").rows_affected == 0
    assert eng.execute("LOAD json").rows_affected == 0
    assert eng.execute("FORCE INSTALL parquet").rows_affected == 0


def test_limit_percent_matches_duckdb(spark, tmp_path):
    import duckdb

    from duckdb_service_spark.service.executor import Engine

    eng = Engine(spark, str(tmp_path / "wh_pct"))
    vals = ", ".join(f"({i})" for i in range(15))
    eng.execute("CREATE TABLE lp (a INT)")
    eng.execute(f"INSERT INTO lp VALUES {vals}")
    con = duckdb.connect()
    con.execute("CREATE TABLE lp (a INT)")
    con.execute(f"INSERT INTO lp VALUES {vals}")
    for clause in ["LIMIT 10%", "LIMIT 50%", "LIMIT 99 PERCENT", "LIMIT 100%"]:
        q = f"SELECT a FROM lp ORDER BY a {clause}"
        got = [r[0] for r in eng.query_df(q).collect()]
        want = [r[0] for r in con.execute(q).fetchall()]
        assert got == want, (clause, got, want)


def test_show_all_tables_listing(spark, tmp_path):
    from duckdb_service_spark.service.executor import Engine

    eng = Engine(spark, str(tmp_path / "wh_sat"))
    eng.execute("CREATE TABLE sat1 (a INT, b VARCHAR)")
    eng.execute("CREATE VIEW satv AS SELECT a FROM sat1")
    kind, df = eng.run_statement("SHOW ALL TABLES")
    assert kind == "query"
    rows = {r["name"]: r for r in df.collect()}
    assert rows["sat1"]["column_names"] == ["a", "b"]
    assert rows["sat1"]["column_types"] == ["INT", "VARCHAR"]
    assert rows["satv"]["column_names"] == ["a"]


def test_ordered_first_last_with_filter(spark, tmp_path):
    import duckdb

    from duckdb_service_spark.service.executor import Engine

    eng = Engine(spark, str(tmp_path / "wh_flf"))
    eng.execute("CREATE TABLE flf (a INT, b VARCHAR)")
    eng.execute("INSERT INTO flf VALUES (1,'x'), (5,'y'), (9,'z'), (11,NULL)")
    con = duckdb.connect()
    con.execute("CREATE TABLE flf (a INT, b VARCHAR)")
    con.execute("INSERT INTO flf VALUES (1,'x'), (5,'y'), (9,'z'), (11,NULL)")
    for q in [
        "SELECT last(b ORDER BY a) FILTER (WHERE a > 3) AS v FROM flf",
        "SELECT first(b ORDER BY a DESC) FILTER (WHERE a < 9) AS v FROM flf",
    ]:
        assert eng.query_df(q).collect()[0][0] == con.execute(q).fetchone()[0], q


def test_r08_extended_introspection_tvfs(spark, tmp_path):
    """duckdb_schemas/settings/sequences/constraints, pragma_table_info,
    pragma_version, and the FROM-position series TVFs — the rest of the
    introspection + generator surface a DuckDB client actually uses."""
    from duckdb_service_spark.service.executor import Engine

    eng = Engine(spark, str(tmp_path / "wh_introspect2"))
    eng.execute(
        "CREATE TABLE jt (a INT PRIMARY KEY, b VARCHAR NOT NULL,"
        " c DOUBLE CHECK (c > 0))"
    )
    eng.execute("CREATE SCHEMA js1")
    eng.execute("CREATE SEQUENCE jseq")

    schemas = {
        r[0] for r in eng.query_df(
            "SELECT schema_name FROM duckdb_schemas()"
        ).collect()
    }
    assert {"main", "js1"} <= schemas

    st = {
        r[0]: r[1]
        for r in eng.query_df(
            "SELECT name, value FROM duckdb_settings()"
        ).collect()
    }
    assert "threads" in st and "TimeZone" in st

    sq = eng.query_df(
        "SELECT sequence_name, start_value, increment_by"
        " FROM duckdb_sequences()"
    ).collect()
    assert ("jseq", 1, 1) in [tuple(r) for r in sq]

    kinds = [
        (r[0], r[1])
        for r in eng.query_df(
            "SELECT constraint_type, constraint_text FROM duckdb_constraints()"
            " WHERE table_name = 'jt' ORDER BY constraint_index"
        ).collect()
    ]
    assert ("PRIMARY KEY", "PRIMARY KEY(a)") in kinds
    assert ("CHECK", "CHECK(c > 0)") in kinds
    assert sum(1 for k, _ in kinds if k == "NOT NULL") == 2  # pk col + b

    ti = eng.query_df("SELECT * FROM pragma_table_info('jt')").collect()
    assert [(r["cid"], r["name"], r["notnull"], r["pk"]) for r in ti] == [
        (0, "a", True, True),
        (1, "b", True, False),
        (2, "c", False, False),
    ]

    ver = eng.query_df("SELECT * FROM pragma_version()").collect()[0]
    assert ver["library_version"].startswith("spark-")


def test_r08_series_tvfs_match_duckdb(spark, tmp_path):
    import duckdb

    from duckdb_service_spark.service.executor import Engine

    eng = Engine(spark, str(tmp_path / "wh_series"))
    dq = duckdb.connect().execute
    for sql in [
        "SELECT * FROM generate_series(1, 5)",
        "SELECT * FROM generate_series(5)",
        "SELECT * FROM generate_series(0, 10, 3)",
        "SELECT * FROM generate_series(5, 1, -2)",
        "SELECT * FROM range(3)",
        "SELECT * FROM range(0)",
        "SELECT * FROM range(2, 9, 3)",
        "SELECT * FROM range(5, 0, -2)",
        "SELECT * FROM range(TIMESTAMP '2024-01-01',"
        " TIMESTAMP '2024-01-02', INTERVAL 12 HOUR)",
        "SELECT g.x * 2 AS y FROM generate_series(1, 3) AS g(x)",
        "SELECT generate_series FROM generate_series(2, 4)"
        " WHERE generate_series > 2",
    ]:
        got = sorted(tuple(r) for r in eng.query_df(sql).collect())
        want = sorted(tuple(r) for r in dq(sql).fetchall())
        assert got == want, (sql, got, want)


def test_r08_series_tvfs_composed_positions(spark, tmp_path):
    """Series TVFs in JOIN position, subqueries, CTEs, and with qualified
    column references — the rewrite must stay position-aware."""
    import duckdb

    from duckdb_service_spark.service.executor import Engine

    eng = Engine(spark, str(tmp_path / "wh_series2"))
    dq = duckdb.connect().execute
    for sql in [
        "SELECT g.generate_series AS a, r.range AS b"
        " FROM generate_series(1,2) g CROSS JOIN range(2) r",
        "SELECT * FROM (SELECT generate_series * 2 AS x"
        " FROM generate_series(1,3)) s WHERE x > 2",
        "SELECT t.x FROM generate_series(1,3) AS t(x)"
        " JOIN range(5) r ON r.range = t.x",
        "WITH g AS (SELECT * FROM generate_series(2,4))"
        " SELECT sum(generate_series) AS s FROM g",
        # scalar LIST forms coexist with the TVF forms
        "SELECT generate_series(1, range) AS l FROM range(2, 4)",
    ]:
        got = sorted(tuple(r) for r in eng.query_df(sql).collect())
        want = sorted(tuple(r) for r in dq(sql).fetchall())
        assert _norm_rows(got) == _norm_rows(want), (sql, got, want)


def _norm_rows(rows):
    out = []
    for r in rows:
        out.append(tuple(tuple(x) if isinstance(x, list) else x for x in r))
    return out
