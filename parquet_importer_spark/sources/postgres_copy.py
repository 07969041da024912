"""Postgres COPY-protocol bulk sink + scratch-server harness.

The reference's entire mission is parquet → Postgres import
(app.py:88-193): a pandas ``to_sql`` loop pushing 50k-row chunks
through ONE connection. The production-scale analog is the COPY
protocol — each Spark partition opens its own COPY stream, so load
parallelism equals ``numPartitions`` and COPY's bulk text framing
beats batched INSERTs by roughly an order of magnitude on a real
warehouse. This image ships no Postgres JDBC jar and no Python pg
client, but it does ship the full server (initdb/pg_ctl/postgres 15)
and the ``psql`` CLI — and ``psql``'s ``COPY FROM STDIN`` over a unix
socket IS the COPY protocol, so the executor-side loader shells one
``psql`` per partition and streams pyarrow-written CSV through it.

Pieces:

- :func:`scratch_server` — find-or-start a throwaway Postgres: honors
  ``PIS_PG_DSN`` when the environment provides a real server, else
  initdb's a temp cluster (socket-only, trust auth, no TCP) and
  registers an atexit stop. Returns ``None`` when neither is possible
  (no binaries / no way to drop root), so callers degrade gracefully.
- :func:`copy_into_postgres` — the distributed sink: driver-side DDL
  with the reference's fail/replace/append semantics (app.py:21 →
  sinks.IF_EXISTS_TO_SAVEMODE mirrors the same map for JDBC) run as
  one transaction, then ``mapInArrow`` hands each partition's Arrow
  record batches to ``pyarrow.csv.write_csv``, which writes them
  straight into that partition's psql ``COPY FROM STDIN``; the
  collected per-partition row counts are the action that drives the
  load AND the load audit.
- :func:`read_back` — driver-side ``COPY (query) TO STDOUT`` for
  verification-sized results only (row counts, aggregates, spot rows);
  corpus-sized readback belongs to a parallel JDBC/FDW scan, not this.

CSV contract (both directions): Postgres's default CSV NULL, an
unquoted empty field. pyarrow quotes every string value and writes
NULL as an unquoted empty field, so ``''``, ``'\\N'`` and NULL load
as three different values, and NaN/±inf doubles load as the floats
they are. Timestamps cross as ``timestamp_ntz`` (the session wall
clock) and binary as a ``\\x`` hex literal, both converted in the JVM.

Scale notes (100 TB): the DSN on a cluster points at the warehouse
over TCP and every executor holds a COPY stream — bound connection
count with ``df.repartition(n)`` exactly as the JDBC sink does
(sinks.write_jdbc). The encoder is Arrow's C++ CSV writer, with no
per-row Python; ``FORMAT binary`` was measured on a 32-core host and
rejected (its encode overlaps the ingest and saved nothing). The
scratch server is a TEST harness, not the scale path.
"""

from __future__ import annotations

import atexit
import os
import shutil
import subprocess
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "copy_into_postgres",
    "pg_type",
    "read_back",
    "scratch_server",
    "stop_scratch_server",
]

#: Spark → Postgres DDL type map (the reference delegated this to
#: pandas ``to_sql``; COPY needs the table to exist first)
_PG_TYPES = {
    "long": "bigint",
    "int": "integer",
    "integer": "integer",
    "bigint": "bigint",
    "smallint": "smallint",
    "tinyint": "smallint",
    "double": "double precision",
    "float": "real",
    "string": "text",
    "binary": "bytea",
    "boolean": "boolean",
    "date": "date",
}


def pg_type(dt: T.DataType) -> str:
    """Postgres column type for a Spark type (DDL generation)."""
    if isinstance(dt, T.DecimalType):
        return f"numeric({dt.precision},{dt.scale})"
    if isinstance(dt, T.TimestampType | T.TimestampNTZType):
        return "timestamp"
    s = dt.simpleString()
    if s in _PG_TYPES:
        return _PG_TYPES[s]
    raise ValueError(f"no Postgres mapping for Spark type {s}")


# ---------------------------------------------------------------------------
# scratch server lifecycle


_SCRATCH: dict | None = None


def _psql_base(dsn: dict) -> list[str]:
    return [
        "psql",
        "-h",
        dsn["host"],
        "-p",
        str(dsn["port"]),
        "-U",
        dsn["user"],
        "-d",
        dsn["dbname"],
        "-v",
        "ON_ERROR_STOP=1",
        "-q",
    ]


def _run_psql(dsn: dict, sql: str, timeout: float = 60.0) -> str:
    proc = subprocess.run(
        [*_psql_base(dsn), "-tA", "-c", sql],
        capture_output=True,
        text=True,
        timeout=timeout,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"psql failed: {proc.stderr.strip()[:500]}")
    return proc.stdout


def _as_pg_user(cmd: list[str]) -> list[str]:
    """Postgres refuses to run as root; re-exec via setpriv when needed."""
    if os.geteuid() == 0:
        return [
            "setpriv",
            "--reuid=postgres",
            "--regid=postgres",
            "--init-groups",
            *cmd,
        ]
    return cmd


def scratch_server() -> dict | None:
    """Find-or-start a live Postgres; ``None`` if the environment can't.

    Resolution order: (1) ``PIS_PG_DSN`` (``host=/dir port=N user=u
    dbname=d``) — an externally managed server, never stopped by us;
    (2) a cached scratch cluster from an earlier call; (3) initdb a new
    temp cluster (trust auth, unix socket only — no TCP listener, so
    nothing is exposed) started via setpriv as the ``postgres`` system
    user when running as root. Startup is ~2 s once per process.
    """
    global _SCRATCH  # noqa: PLW0603
    env = os.environ.get("PIS_PG_DSN")
    if env:
        dsn = dict(kv.split("=", 1) for kv in env.split())
        dsn.setdefault("dbname", "postgres")
        dsn["managed"] = False
        return dsn
    if _SCRATCH is not None:
        return _SCRATCH
    for tool in ("initdb", "pg_ctl", "psql"):
        if shutil.which(tool) is None:
            return None
    if os.geteuid() == 0 and shutil.which("setpriv") is None:
        return None
    base = tempfile.mkdtemp(prefix="pis_pg_")
    data = os.path.join(base, "data")
    sock = os.path.join(base, "s")  # keep under the 107-char sockaddr cap
    os.makedirs(sock)
    if os.geteuid() == 0:
        shutil.chown(base, "postgres", "postgres")
        shutil.chown(sock, "postgres", "postgres")
    try:
        subprocess.run(
            _as_pg_user(
                ["initdb", "-D", data, "-U", "pis", "--no-sync", "-A", "trust"]
            ),
            capture_output=True,
            timeout=120,
            check=True,
        )
        subprocess.run(
            _as_pg_user(
                [
                    "pg_ctl",
                    "-D",
                    data,
                    "-o",
                    # durability off for the throwaway cluster only
                    # (externally-managed PIS_PG_DSN servers keep their
                    # own settings): COPY commits were fsync-bound on
                    # the sandbox's virtio disk, and a scratch cluster
                    # that is rm -rf'd at exit has nothing to make
                    # durable (r14 measured: steady-state COPY of the
                    # sf0.1 lineitem 3.0 s -> see OPTIMIZATION_r14.md)
                    f"-p 54329 -k {sock} -c listen_addresses= "
                    "-c fsync=off -c synchronous_commit=off "
                    "-c full_page_writes=off",
                    "-l",
                    os.path.join(base, "pg.log"),
                    "-w",
                    "start",
                ]
            ),
            capture_output=True,
            timeout=60,
            check=True,
            cwd=base,  # setpriv'd pg_ctl can't read a root-owned cwd
        )
    except (subprocess.SubprocessError, OSError):
        shutil.rmtree(base, ignore_errors=True)
        return None
    _SCRATCH = {
        "host": sock,
        "port": 54329,
        "user": "pis",
        "dbname": "postgres",
        "managed": True,
        "base": base,
    }
    atexit.register(stop_scratch_server)
    return _SCRATCH


def stop_scratch_server() -> None:
    """Stop and remove the scratch cluster (no-op for PIS_PG_DSN)."""
    global _SCRATCH  # noqa: PLW0603
    if _SCRATCH is None:
        return
    base = _SCRATCH["base"]
    _SCRATCH = None
    subprocess.run(
        _as_pg_user(
            ["pg_ctl", "-D", os.path.join(base, "data"), "-m", "immediate", "stop"]
        ),
        capture_output=True,
        timeout=30,
        check=False,
        cwd=base,
    )
    shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# the distributed COPY sink


def _ddl_for(df: DataFrame, table: str, mode: str) -> list[str]:
    cols = ", ".join(f'"{f.name}" {pg_type(f.dataType)}' for f in df.schema.fields)
    if mode == "replace":
        return [f"DROP TABLE IF EXISTS {table}", f"CREATE TABLE {table} ({cols})"]
    if mode == "append":
        return [f"CREATE TABLE IF NOT EXISTS {table} ({cols})"]
    if mode == "fail":
        return [f"CREATE TABLE {table} ({cols})"]  # errors if it exists
    raise ValueError(f"mode must be fail/replace/append, got {mode!r}")


def _copy_column(f: T.StructField) -> Column:
    """``f`` as COPY's CSV text needs it: a timestamp as the session
    wall clock (``timestamp_ntz``), binary as a ``\\x`` bytea hex literal."""
    c = F.col("`" + f.name.replace("`", "``") + "`")
    if isinstance(f.dataType, T.TimestampType):
        c = c.cast("timestamp_ntz")
    elif isinstance(f.dataType, T.BinaryType):
        c = F.concat(F.lit("\\x"), F.hex(c))
    return c.alias(f.name)


def copy_into_postgres(
    df: DataFrame,
    dsn: dict,
    table: str,
    mode: str = "fail",
    num_partitions: int | None = None,
) -> int:
    """Bulk-load ``df`` into ``table`` via parallel COPY; returns rows loaded.

    The driver runs the DDL (reference mode semantics, app.py:21) in one
    ``psql -c`` call, so it is one transaction: a ``replace`` whose
    CREATE fails rolls its DROP back and the old table survives. Each
    partition then writes its Arrow batches with ``pyarrow.csv`` into
    its own ``psql COPY ... FROM STDIN WITH (FORMAT csv)``; the load
    parallelism is the partition count, exactly the ``numPartitions``
    knob of the JDBC sink (sinks.write_jdbc).

    Types are normalised on the JVM side before the Python boundary:
    timestamps become ``timestamp_ntz`` (the session-local wall clock
    lands in Postgres ``timestamp``) and binary becomes a ``\\x`` hex
    bytea literal; every other type is written as pyarrow renders it.
    The CSV contract: a NULL is an unquoted empty field and every
    string is quoted, so ``''``, ``'\\N'`` and NULL stay distinct;
    doubles are written shortest-exact, with ``nan``/``inf``/``-inf``
    kept as the float values Postgres parses them to.
    """
    # one psql -c call runs every statement in one transaction
    _run_psql(dsn, "; ".join(_ddl_for(df, table, mode)))

    col_list = ", ".join(f'"{f.name}"' for f in df.schema.fields)
    copy_sql = f"COPY {table} ({col_list}) FROM STDIN WITH (FORMAT csv)"
    psql_cmd = [*_psql_base(dsn), "-c", copy_sql]

    def load_partition(batches):
        import pyarrow as pa  # noqa: PLC0415
        from pyarrow import csv  # noqa: PLC0415

        opts = csv.WriteOptions(include_header=False)
        proc = subprocess.Popen(
            psql_cmd,
            stdin=subprocess.PIPE,
            stdout=subprocess.DEVNULL,
            stderr=subprocess.PIPE,
        )
        n = 0
        try:
            for batch in batches:
                csv.write_csv(batch, proc.stdin, opts)
                n += batch.num_rows
            proc.stdin.close()
            if proc.wait(timeout=600) != 0:
                err = proc.stderr.read().decode(errors="replace")
                raise RuntimeError(f"COPY failed: {err.strip()[:500]}")
        finally:
            if proc.poll() is None:
                proc.kill()
        yield pa.RecordBatch.from_pydict({"rows_loaded": [n]})

    src = df.select([_copy_column(f) for f in df.schema.fields])
    if num_partitions:
        src = src.repartition(num_partitions)
    audit = src.mapInArrow(load_partition, schema="rows_loaded long")
    # collecting the per-partition counts is the ACTION that runs the
    # load, and their sum is the executor-side audit total the caller
    # cross-checks in-database
    return sum(r.rows_loaded for r in audit.collect())


def read_back(
    spark: SparkSession, dsn: dict, query: str, schema: str
) -> DataFrame:
    """Run ``query`` in Postgres, return the (small) result as a DataFrame.

    Driver-side ``COPY (query) TO STDOUT`` — for verification-sized
    results only; a corpus-sized readback belongs to a parallel scan.
    The export uses the default CSV NULL (an unquoted empty field), and
    pyarrow parses every column as text with only that field as NULL,
    so a stored ``''``, ``'\\N'`` or ``'NaN'`` reads back as itself.
    ``schema`` is a Spark DDL string; values are cast from the CSV text
    through that schema so decimals stay exact.
    """
    import io  # noqa: PLC0415
    from decimal import Decimal  # noqa: PLC0415

    import pyarrow as pa  # noqa: PLC0415
    from pyarrow import csv  # noqa: PLC0415

    out = _run_psql(dsn, f"COPY ({query}) TO STDOUT WITH (FORMAT csv)")
    target = T.StructType.fromDDL(schema)
    names = [f"c{i}" for i in range(len(target.fields))]
    columns: list[list] = [[] for _ in names]
    if out:
        parsed = csv.read_csv(
            io.BytesIO(out.encode()),
            read_options=csv.ReadOptions(column_names=names),
            parse_options=csv.ParseOptions(newlines_in_values=True),
            convert_options=csv.ConvertOptions(
                column_types={n: pa.string() for n in names},
                null_values=[""],
                strings_can_be_null=True,
                quoted_strings_can_be_null=False,
            ),
        )
        columns = [col.to_pylist() for col in parsed.columns]
    rows = []
    for rec in zip(*columns, strict=True):
        vals = []
        for raw, field in zip(rec, target.fields, strict=True):
            dt = field.dataType
            if raw is None:
                vals.append(None)
            elif isinstance(dt, T.DecimalType):
                vals.append(Decimal(raw))
            elif isinstance(dt, T.LongType | T.IntegerType):
                vals.append(int(raw))
            elif isinstance(dt, T.DoubleType | T.FloatType):
                vals.append(float(raw))
            elif isinstance(dt, T.BooleanType):
                vals.append(raw == "t")
            else:
                vals.append(raw)
        rows.append(tuple(vals))
    return spark.createDataFrame(rows, target)
