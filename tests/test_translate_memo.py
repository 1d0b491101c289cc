"""translate() memo: a bounded LRU keyed by the input text and
WINDOW_FRAME_ELEMENT_BOUND. Guards the key (a SET of the bound is seen by
the next translate of the same text), the exception and length-cap rules,
and the purity contract the memo rests on (translation does not depend
on what was translated before)."""

from __future__ import annotations

import pytest

from duckdb_service_spark.service import dialect
from duckdb_service_spark.service.dialect import UnsupportedDialect, translate

WINDOWED = (
    "SELECT g, count(DISTINCT x) OVER (PARTITION BY g) AS c "
    "FROM (VALUES (1, 10), (1, 20), (2, 30)) t(g, x)"
)


@pytest.fixture(autouse=True)
def _fresh_memo():
    dialect._translate_memo.cache_clear()
    before = dialect.WINDOW_FRAME_ELEMENT_BOUND
    yield
    dialect.WINDOW_FRAME_ELEMENT_BOUND = before
    dialect._translate_memo.cache_clear()


def test_set_frame_bound_changes_memoized_text(spark, tmp_path):
    from duckdb_service_spark.service.executor import Engine

    dialect.WINDOW_FRAME_ELEMENT_BOUND = 1_000_000
    first = translate(WINDOWED)
    assert "<= 1000000 THEN" in first
    assert translate(WINDOWED) == first
    assert dialect.memo_info()["hits"] == 1

    Engine(spark, str(tmp_path / "wh")).execute("SET window_frame_element_bound = 2")
    second = translate(WINDOWED)
    assert "<= 2 THEN" in second
    assert second == dialect._translate(WINDOWED)


def test_unsupported_dialect_raises_every_call():
    sql = "SELECT sum(x) OVER (ORDER BY x GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM t"
    for _ in range(2):
        with pytest.raises(UnsupportedDialect, match="GROUPS"):
            translate(sql)
    info = dialect.memo_info()
    assert info == {"hits": 0, "misses": 2, "entries": 0}


def test_long_input_translated_but_not_retained():
    rows = ", ".join(f"({i}, 'v{i}', [{i}, {i + 1}])" for i in range(400))
    sql = f"SELECT * FROM (VALUES {rows}) t(a, b, c)"
    assert len(sql) > dialect._MEMO_MAX_INPUT
    before = dialect._translate_memo.cache_info().currsize
    out = translate(sql)
    assert out == dialect._translate(sql)
    assert "array(0, 1)" in out
    assert dialect._translate_memo.cache_info().currsize == before


def _translate_all(stmts: list[str]) -> dict[str, object]:
    out: dict[str, object] = {}
    for sql in stmts:
        try:
            out[sql] = translate(sql)
        except UnsupportedDialect as ex:
            out[sql] = ("raises", str(ex))
    return out


def test_oracle_translations_independent_of_order():
    from duckdb_service_spark.plans import ORACLES, load_all

    load_all()
    stmts = list(dict.fromkeys(ORACLES.values()))
    assert len(stmts) > 100
    forward = _translate_all(stmts)
    dialect._translate_memo.cache_clear()
    backward = _translate_all(stmts[::-1])
    assert forward == backward
