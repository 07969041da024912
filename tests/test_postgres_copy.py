"""Live Postgres COPY-sink integration (sources/postgres_copy).

Unlike test_postgis_live.py (which needs an externally provided
PostGIS server and skips here), these tests run LIVE in this image:
the harness initdb's a scratch Postgres 15 cluster (socket-only,
trust) once per session and tears it down at exit. Covered: the three
reference write modes (replace is atomic), full-content round-trip
fidelity, per-type CSV ↔ Postgres encoding (nulls, decimals,
timestamps in a non-UTC session, dates, booleans, bytea), strings and
special doubles that must not become NULL on load or read-back, and
parallel multi-partition COPY streams.
"""

from __future__ import annotations

import datetime
import math
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from parquet_importer_spark.io import read_table
from parquet_importer_spark.sources.postgres_copy import (
    _run_psql,
    copy_into_postgres,
    read_back,
    scratch_server,
)


@pytest.fixture(scope="module")
def dsn():
    d = scratch_server()
    if d is None:
        pytest.skip("no startable Postgres in this environment")
    return d


def _count(dsn, table: str) -> int:
    return int(_run_psql(dsn, f"SELECT COUNT(*) FROM {table}").strip())


def test_modes_fail_replace_append(spark, dsn, sf_dir):
    n = read_table(spark, sf_dir, "nation")
    total = copy_into_postgres(n, dsn, "t_modes", mode="replace")
    assert total == n.count() == _count(dsn, "t_modes")
    copy_into_postgres(n, dsn, "t_modes", mode="append")
    assert _count(dsn, "t_modes") == 2 * total
    with pytest.raises(RuntimeError, match="already exists"):
        copy_into_postgres(n, dsn, "t_modes", mode="fail")
    copy_into_postgres(n, dsn, "t_modes", mode="replace")
    assert _count(dsn, "t_modes") == total
    _run_psql(dsn, "DROP TABLE t_modes")


def test_full_content_roundtrip(spark, dsn, sf_dir):
    n = read_table(spark, sf_dir, "nation")
    copy_into_postgres(n, dsn, "t_content", mode="replace", num_partitions=4)
    cols = ", ".join(f'"{c}"' for c in n.columns)
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in n.schema.fields
    )
    back = read_back(
        spark, dsn, f"SELECT {cols} FROM t_content ORDER BY 1", schema
    )
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, n.collect())
    )
    _run_psql(dsn, "DROP TABLE t_content")


def test_type_fidelity_with_nulls(spark, dsn):
    rows = [
        (
            1,
            "plain",
            Decimal("12.34"),
            datetime.datetime(2024, 2, 29, 23, 59, 59),
            datetime.date(1999, 12, 31),
            True,
            b"\x00\x01\xff",
            2.5,
        ),
        (
            2,
            'quote " comma , newline\nback \\ slash',
            None,
            None,
            None,
            False,
            None,
            None,
        ),
        (3, None, Decimal("-0.01"), None, None, None, b"", 1e-300),
    ]
    schema = (
        "id long, s string, d decimal(10,2), ts timestamp, dt date, "
        "b boolean, raw binary, f double"
    )
    df = spark.createDataFrame(rows, schema)
    copy_into_postgres(df, dsn, "t_types", mode="replace")
    back = read_back(
        spark,
        dsn,
        "SELECT id, s, d, ts, dt, b, encode(raw, 'hex'), f "
        "FROM t_types ORDER BY id",
        "id long, s string, d decimal(10,2), ts string, dt string, "
        "b boolean, raw_hex string, f double",
    ).collect()
    assert [r["s"] for r in back] == [
        "plain",
        'quote " comma , newline\nback \\ slash',
        None,
    ]
    assert [r["d"] for r in back] == [
        Decimal("12.34"),
        None,
        Decimal("-0.01"),
    ]
    assert back[0]["ts"] == "2024-02-29 23:59:59"
    assert back[0]["dt"] == "1999-12-31"
    assert [r["b"] for r in back] == [True, False, None]
    assert [r["raw_hex"] for r in back] == ["0001ff", None, ""]
    assert back[0]["f"] == 2.5 and back[2]["f"] == 1e-300
    _run_psql(dsn, "DROP TABLE t_types")


def test_parallel_partitions_load_once_each(spark, dsn, sf_dir):
    """8 concurrent COPY streams must neither lose nor duplicate rows."""
    o = read_table(spark, sf_dir, "orders")
    total = copy_into_postgres(o, dsn, "t_par", mode="replace", num_partitions=8)
    assert total == o.count()
    db = read_back(
        spark,
        dsn,
        "SELECT COUNT(*), COUNT(DISTINCT o_orderkey) FROM t_par",
        "n long, keys long",
    ).first()
    assert db["n"] == total
    assert db["keys"] == o.select("o_orderkey").distinct().count()
    _run_psql(dsn, "DROP TABLE t_par")


def _db_rows(dsn, sql: str) -> list[list[str]]:
    """Rows of ``sql`` as psql's unaligned text, read without read_back."""
    return [line.split("|") for line in _run_psql(dsn, sql).splitlines()]


def test_load_keeps_strings_and_special_doubles_distinct_from_null(spark, dsn):
    """A string ``'\\N'`` or ``''`` and a NaN double are values, not NULL,
    and doubles round-trip exactly through the CSV text."""
    rows = [
        (1, "\\N", float("nan")),
        (2, "", float("inf")),
        (3, None, float("-inf")),
        (4, "NULL", -0.0),
        (5, "x", 5e-324),
        (6, '"', 0.30000000000000004),
        (7, "NaN", None),
    ]
    df = spark.createDataFrame(rows, "id long, s string, d double")
    copy_into_postgres(df, dsn, "t_nulls", mode="replace", num_partitions=2)
    got = _db_rows(
        dsn, "SELECT id, quote_nullable(s), d::text FROM t_nulls ORDER BY id"
    )
    assert got == [
        ["1", "E'\\\\N'", "NaN"],
        ["2", "''", "Infinity"],
        ["3", "NULL", "-Infinity"],
        ["4", "'NULL'", "-0"],
        ["5", "'x'", "5e-324"],
        ["6", "'\"'", "0.30000000000000004"],
        ["7", "'NaN'", ""],
    ]
    assert _db_rows(dsn, "SELECT count(*) FROM t_nulls WHERE d IS NULL") == [
        ["1"]
    ]
    back = read_back(
        spark,
        dsn,
        "SELECT id, s, d FROM t_nulls ORDER BY id",
        "id long, s string, d double",
    ).collect()
    assert [r["s"] for r in back] == ["\\N", "", None, "NULL", "x", '"', "NaN"]
    d = [r["d"] for r in back]
    assert math.isnan(d[0]) and d[1:6] == [
        float("inf"),
        float("-inf"),
        -0.0,
        5e-324,
        0.30000000000000004,
    ]
    assert math.copysign(1.0, d[3]) == -1.0 and d[6] is None
    _run_psql(dsn, "DROP TABLE t_nulls")


def test_read_back_keeps_backslash_n_and_empty_string(spark, dsn):
    _run_psql(
        dsn,
        "DROP TABLE IF EXISTS t_rb; CREATE TABLE t_rb (id int, s text); "
        "INSERT INTO t_rb VALUES (1, '\\N'), (2, ''), (3, NULL)",
    )
    back = read_back(
        spark, dsn, "SELECT id, s FROM t_rb ORDER BY id", "id int, s string"
    ).collect()
    assert [tuple(r) for r in back] == [(1, "\\N"), (2, ""), (3, None)]
    _run_psql(dsn, "DROP TABLE t_rb")


def test_replace_keeps_old_table_when_create_fails(spark, dsn):
    """The replace DDL is one transaction: a CREATE that fails (here on
    duplicate column names) rolls its DROP back."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "x long, y string")
    copy_into_postgres(df, dsn, "t_atomic", mode="replace")
    with pytest.raises(RuntimeError, match="more than once"):
        copy_into_postgres(df.toDF("a", "a"), dsn, "t_atomic", mode="replace")
    assert _db_rows(dsn, "SELECT x, y FROM t_atomic ORDER BY x") == [
        ["1", "a"],
        ["2", "b"],
    ]
    _run_psql(dsn, "DROP TABLE t_atomic")


def test_timestamp_lands_as_session_wall_clock(spark, dsn):
    """Postgres ``timestamp`` gets the wall clock Spark shows in a
    non-UTC session time zone, DST offsets included."""
    prior = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        df = spark.sql(
            "SELECT * FROM VALUES "
            "(1, TIMESTAMP'2024-01-15 08:00:00.123456'), "
            "(2, TIMESTAMP'2024-07-01 23:30:00'), "
            "(3, CAST(NULL AS TIMESTAMP)) AS t(id, ts)"
        )
        shown = [
            r[0]
            for r in df.orderBy("id")
            .select(F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
            .collect()
        ]
        copy_into_postgres(df, dsn, "t_tz", mode="replace")
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)
    stored = _db_rows(
        dsn,
        "SELECT coalesce(to_char(ts, 'YYYY-MM-DD HH24:MI:SS.US'), 'null') "
        "FROM t_tz ORDER BY id",
    )
    assert shown == [
        "2024-01-15 08:00:00.123456",
        "2024-07-01 23:30:00.000000",
        None,
    ]
    assert stored == [[shown[0]], [shown[1]], ["null"]]
    _run_psql(dsn, "DROP TABLE t_tz")
