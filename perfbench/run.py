"""End-to-end benchmark of the engine, with layer attribution.

Usage (from the repository root)::

    python3 perfbench/run.py --workload queries --seed 1 --seconds 12 --trace 0

Workloads (one closed-loop client each, Spark on ``local[nproc]``):

- ``ingest_copy``: one operation is ``copy_into_postgres(mode="replace")``
  of a lineitem table into a scratch Postgres over at most ``nproc`` COPY
  streams, checked after each load by an in-database aggregate;
- ``queries``: one operation builds one suite key and runs it once into
  the noop sink. A pass covers relational analytics keys (read path:
  scan, shuffle, broadcast, aggregate, join, window) and LLM-curation
  keys whose iterative loops run their Spark actions while the query is
  built.

The runner reaches the engine through public entry points only
(``session.get_spark``, ``io.read_table``, ``suite.QUERIES``, the noop
write, and ``sources.postgres_copy``). It generates its own inputs under
``.perfbench_work/`` and removes them at exit. Every key's collected
output is hash-checked against its DuckDB oracle in the warm-up pass.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs every
timed operation twice, plain and traced, and prints the per-layer
metrics, including the tracing overhead. The last stdout line is one
JSON object; lines before it starting with ``#`` are detail for people.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import layers  # noqa: E402

# The key sets are cut to what fits the benchmark's run budget (about a
# minute per run, a cold JVM included): the read path with bench.py's
# three drift sentinels (q5, join_inner_eq, win_ranking), and LLM
# curation keys whose loops run Spark actions while the query is built.
ANALYTICS_KEYS = (
    "flagship_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q18_large_orders",
    "agg_grouping_sets",
    "join_inner_eq",
    "win_ranking",
)
LLM_KEYS = (
    "llm_pipeline_e2e",
    "llm_dedup_near",
    "llm_dedup_clusters",
    "llm_bpe_merge",
)
WORKLOADS = {"ingest_copy": (), "queries": ANALYTICS_KEYS + LLM_KEYS}
#: seconds of ``--seconds`` per timed pass (an import for ingest_copy): a
#: run times round(--seconds / this) whole passes, so every run of a
#: workload, on any commit, times the same operations. With --seconds 12
#: that is 6 imports (~10 s) or 1 query pass (~10 s) on a 4-core host.
PASS_SECONDS = {"ingest_copy": 2.0, "queries": 12.0}
#: CPU steal share above which a timed window is measured again: other
#: guests on the host then slow every operation (runs with 10-20% steal
#: read 25-50% slower)
STEAL_LIMIT = 0.05
#: scale factor of the tables the query workloads read
QUERY_SF = 0.01
#: scale factor of the lineitem copy that ingest_copy imports
INGEST_SF = 0.02
INGEST_TABLE = "perfbench_lineitem"

#: (name, unit, better) of the end-to-end metrics, reported with --trace 0
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
)


def per_layer() -> tuple[tuple[str, str, str], ...]:
    """(name, unit, better) of the per-layer metrics, reported with
    --trace 1. Spark SQL sums are task time over all cores, not wall."""
    sql = sorted(set(layers.SQL_LAYERS.values()))
    rows = [
        ("setup.import_s", "s", "lower"),
        ("session.get_spark_s", "s", "lower"),
        ("postgres_copy.scratch_server_s", "s", "lower"),
        ("setup.warmup_pass_s", "s", "lower"),
        ("setup.settle_pass_s", "s", "lower"),
        ("jvm.peak_rss_mb", "MB", "lower"),
        ("suite.build_s", "s", "lower"),
        ("suite.build_share", "ratio", "lower"),
        ("suite.build_share.analytics", "ratio", "lower"),
        ("suite.build_share.llm", "ratio", "lower"),
        ("spark.build_jobs", "count", "lower"),
        ("spark.exec_s", "s", "lower"),
        ("spark.exec_jobs", "count", "lower"),
        ("spark.stages", "count", "lower"),
        *(
            (n, "task-B" if n.endswith(("bytes", "_sent")) else "task-ms", "lower")
            for n in sql
        ),
        ("postgres_copy.copy_s", "s", "lower"),
        ("io.scan_noop_s", "s", "lower"),
        ("postgres_copy.encode_copy_s", "s", "lower"),
        ("pg.wal_bytes_per_row", "B/row", "lower"),
        ("pg.tup_inserted", "count", "lower"),
        ("pg.stored_bytes_per_row", "B/row", "lower"),
        ("trace.overhead_ratio", "ratio", "lower"),
        ("host.load1_start", "load", "lower"),
        ("host.busy_start", "ratio", "lower"),
        ("host.busy_end", "ratio", "lower"),
        ("host.steal_share", "ratio", "lower"),
    ]
    for key in ANALYTICS_KEYS + LLM_KEYS:
        rows.append((f"key.{key}.build_s", "s", "lower"))
        rows.append((f"key.{key}.exec_s", "s", "lower"))
    return tuple(rows)


class BenchError(RuntimeError):
    """Set-up failed; the run prints no result."""


# ---------------------------------------------------------------------------
# environment


def prepare_env(work: str) -> None:
    """Point every scratch location of Spark and Python into ``work``."""
    for sub in ("tmp", "spark-local", "stream-ck"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(layers.cpu_count())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_STREAM_CK"] = os.path.join(work, "stream-ck")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    tempfile.tempdir = None


# ---------------------------------------------------------------------------
# statistics


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def frame_hash(pdf) -> str:
    """Order-insensitive hash of a result frame: sorted columns, rows as
    tuples with floats by ``repr`` (the canonical form of
    ``tools/drive_entry.py``)."""
    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(repr(v) if isinstance(v, float) else str(v) for v in r)
        for r in pdf[cols].itertuples(index=False)
    )
    return hashlib.sha256(str(rows).encode()).hexdigest()[:12]


# ---------------------------------------------------------------------------
# the run


class Run:
    """One benchmark run: set-up, timed passes, results, teardown."""

    def __init__(self, args, work: str, system_tmp: str):
        self.args = args
        self.work = work
        self.system_tmp = system_tmp
        self.keys = WORKLOADS[args.workload]
        self.cpus = layers.cpu_count()
        self.spark = None
        self.pg = None
        self.dsn = None
        self.store = None
        self.setup: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.passes: list[dict] = []
        self.warm_keys: dict[str, float] = {}
        self.steal_share = 0.0
        self.windows_steal: list[float] = []
        self._tag = 0

    # -- set-up -----------------------------------------------------------

    def start(self) -> None:
        args = self.args
        sf_q = args.scale if args.scale is not None else QUERY_SF
        sf_i = args.scale if args.scale is not None else INGEST_SF
        self.sf_dir = os.path.join(self.work, "data")
        self.ingest_dir = os.path.join(self.work, "ingest")
        if self.keys:
            gen.write_tables(sf_q, self.sf_dir)
        else:
            gen.write_ingest_copy(sf_i, self.ingest_dir, args.seed)

        t0 = time.perf_counter()
        try:
            from parquet_importer_spark import io as pis_io  # noqa: PLC0415
            from parquet_importer_spark import session  # noqa: PLC0415
            from parquet_importer_spark.sources import postgres_copy  # noqa: PLC0415
            from parquet_importer_spark.suite import ORACLES, QUERIES  # noqa: PLC0415
        except ImportError as exc:
            raise BenchError(f"engine not importable from {ROOT}: {exc}") from exc
        self.io, self.pg, self.queries, self.oracles = (
            pis_io,
            postgres_copy,
            QUERIES,
            ORACLES,
        )
        missing = [k for k in self.keys if k not in QUERIES or k not in ORACLES]
        if missing:
            raise BenchError(f"keys without a query or oracle: {missing}")
        self.setup["setup.import_s"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        tmp = os.path.join(self.work, "tmp")
        self.spark = session.get_spark(
            "perfbench",
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup["session.get_spark_s"] = time.perf_counter() - t0
        self.store = layers.SqlStore(self.spark)

        # the server drops root to the ``postgres`` user, which may not
        # reach the checkout; it removes its cluster when stopped
        t0 = time.perf_counter()
        tempfile.tempdir = self.system_tmp
        try:
            self.dsn = postgres_copy.scratch_server()
        finally:
            tempfile.tempdir = None
        self.setup["postgres_copy.scratch_server_s"] = time.perf_counter() - t0
        if self.dsn is None:
            raise BenchError("no Postgres server could be started")

        self.warmup_s = 0.0
        if self.keys:
            self._warm_queries()
        else:
            self._warm_ingest()
        self.setup["setup.warmup_pass_s"] = self.warmup_s

    def _warm_queries(self) -> None:
        """The warm-up pass: build each key and collect its output (timed,
        part of set-up), then hash-check it against the key's DuckDB
        oracle over the same files (not timed)."""
        import duckdb  # noqa: PLC0415

        con = duckdb.connect()
        for t in gen.TABLES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for key in gen.key_order(list(self.keys), self.args.seed, -1):
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                got = self.queries[key](self.spark, self.sf_dir).toPandas()
            except Exception as exc:  # noqa: BLE001 — counted, run goes on
                self.warmup_s += time.perf_counter() - t0
                self._fail(f"{key}: {type(exc).__name__}: {exc}")
                continue
            self.warm_keys[key] = time.perf_counter() - t0
            self.warmup_s += self.warm_keys[key]
            want = con.execute(self.oracles[key]).df()
            if not (
                len(got) == len(want)
                and sorted(got.columns) == sorted(want.columns)
                and frame_hash(got) == frame_hash(want)
            ):
                self._fail(
                    f"{key}: oracle mismatch (spark {len(got)} rows "
                    f"{frame_hash(got)}, oracle {len(want)} rows {frame_hash(want)})"
                )
        con.close()

    def _warm_ingest(self) -> None:
        import duckdb  # noqa: PLC0415

        path = os.path.join(self.ingest_dir, "lineitem.parquet")
        row = duckdb.sql(
            "SELECT count(*), sum(l_orderkey), "
            "sum(l_extendedprice::DECIMAL(18,2)), sum(l_discount::DECIMAL(18,2)), "
            "strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S'), "
            f"strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') FROM read_parquet('{path}')"
        ).fetchone()
        self.ingest_expect = _canon(row)
        t0 = time.perf_counter()
        self.attempted += 1
        self._import(traced=False, timed=False)
        self.warmup_s = time.perf_counter() - t0

    def _fail(self, why: str) -> None:
        self.failed += 1
        self.errors.append(why)
        print(f"# FAILED {why}", file=sys.stderr, flush=True)

    # -- operations -------------------------------------------------------

    def _next_tag(self) -> str:
        self._tag += 1
        return f"perfbench-{self._tag}"

    def _query(self, key: str, traced: bool) -> dict:
        tag = self._next_tag() if traced else None
        rec: dict = {"key": key}
        before = self.store.last_id() if traced else 0
        try:
            with layers.job_group(self.spark, tag and f"{tag}-build"):
                t0 = time.perf_counter()
                df = self.queries[key](self.spark, self.sf_dir)
                t1 = time.perf_counter()
            with layers.job_group(self.spark, tag and f"{tag}-exec"):
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 — counted, run goes on
            self._fail(f"{key}: {type(exc).__name__}: {exc}")
            return rec
        rec.update(build_s=t1 - t0, exec_s=t2 - t1, op_s=t2 - t0)
        if traced:
            self._trace_counts(rec, tag, before)
        return rec

    def _trace_counts(self, rec: dict, tag: str, before: int) -> None:
        # the status tracker and the SQL store are filled by the listener
        # bus, after the action returns
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        bj, bs = layers.jobs_and_stages(self.spark, f"{tag}-build")
        ej, es = layers.jobs_and_stages(self.spark, f"{tag}-exec")
        rec.update(build_jobs=bj, exec_jobs=ej, stages=bs + es)
        rec["sql"] = self.store.layers_since(before)

    def _pg_counters(self) -> tuple[int, int]:
        df = self.pg.read_back(
            self.spark,
            self.dsn,
            "SELECT (SELECT wal_bytes FROM pg_stat_wal), "
            "(SELECT tup_inserted FROM pg_stat_database "
            "WHERE datname = current_database())",
            "wal decimal(38,0), tup long",
        )
        wal, tup = df.first()
        return int(wal), int(tup)

    def _import(self, traced: bool, timed: bool = True) -> dict:
        tag = self._next_tag() if traced else None
        rec: dict = {"key": "copy"}
        if traced:
            wal0, tup0 = self._pg_counters()
        before = self.store.last_id() if traced else 0
        try:
            with layers.job_group(self.spark, tag and f"{tag}-build"):
                t0 = time.perf_counter()
                df = self.io.read_table(self.spark, self.ingest_dir, "lineitem")
                t1 = time.perf_counter()
            with layers.job_group(self.spark, tag and f"{tag}-exec"):
                rows = self.pg.copy_into_postgres(
                    df, self.dsn, INGEST_TABLE, mode="replace", num_partitions=self.cpus
                )
                t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 — counted, run goes on
            self._fail(f"copy: {type(exc).__name__}: {exc}")
            return rec
        if timed:
            rec.update(build_s=t1 - t0, exec_s=t2 - t1, op_s=t2 - t0, rows=rows)
        if traced:
            self._trace_counts(rec, tag, before)
            wal1, tup1 = self._pg_counters()
            rec["wal_bytes"], rec["tup_inserted"] = wal1 - wal0, tup1 - tup0
            t0 = time.perf_counter()
            df.repartition(self.cpus).write.format("noop").mode("overwrite").save()
            rec["scan_s"] = time.perf_counter() - t0
        self._verify_import(rows, rec)
        return rec

    def _verify_import(self, rows: int, rec: dict) -> None:
        """In-database count and exact-decimal sums against DuckDB over the
        same file; also records the table's stored size."""
        got = self.pg.read_back(
            self.spark,
            self.dsn,
            f"SELECT count(*), sum(l_orderkey), "
            f"sum(l_extendedprice::numeric(18,2)), sum(l_discount::numeric(18,2)), "
            f"min(l_shipdate)::text, max(l_shipdate)::text, "
            f"pg_total_relation_size('{INGEST_TABLE}') FROM {INGEST_TABLE}",
            "n long, ok decimal(38,0), ep decimal(38,2), disc decimal(38,2), "
            "lo string, hi string, size long",
        ).first()
        if _canon(got[:6]) != self.ingest_expect or rows != got[0]:
            self._fail(
                f"copy: verify mismatch: postgres {_canon(got[:6])} "
                f"audit {rows}, duckdb {self.ingest_expect}"
            )
            return
        rec["stored_bytes_per_row"] = got[6] / got[0]

    # -- measurement ------------------------------------------------------

    def _pass(self, p: int, trace: bool) -> tuple[list[dict], list[dict]]:
        """One pass in the key order of pass ``p``; with ``trace`` every
        operation runs twice, plain and traced, in alternating order, so
        the tracing overhead is paired."""
        plain: list[dict] = []
        traced: list[dict] = []
        units = gen.key_order(list(self.keys), self.args.seed, p) if self.keys else [None]
        for i, key in enumerate(units):
            modes = (False, True) if (i + p) % 2 else (True, False)
            for tr in modes if trace else (False,):
                rec = self._query(key, tr) if self.keys else self._import(tr)
                (traced if tr else plain).append(rec)
        self.attempted += len(plain) + len(traced)
        return plain, traced

    def measure(self) -> None:
        """One untimed settling pass (the JVM is still compiling hot code
        after the warm-up pass), then a fixed number of timed passes,
        about ``--seconds`` long. A timed window during which the
        hypervisor stole more than :data:`STEAL_LIMIT` of the CPU is
        measured once more, and the window with less steal is kept."""
        args = self.args
        t0 = time.perf_counter()
        self._pass(0, trace=False)
        self.setup["setup.settle_pass_s"] = time.perf_counter() - t0
        n_passes = max(1, round(args.seconds / PASS_SECONDS[args.workload]))
        windows = []
        for attempt in range(2):
            cpu0 = layers.cpu_times()
            passes = []
            for p in range(1, n_passes + 1):
                plain, traced = self._pass(attempt * n_passes + p, bool(args.trace))
                passes.append({"plain": plain, "traced": traced})
            windows.append((layers.steal_share(cpu0, layers.cpu_times()), passes))
            if windows[-1][0] <= STEAL_LIMIT:
                break
        self.windows_steal = [w[0] for w in windows]
        self.steal_share, self.passes = min(windows, key=lambda w: w[0])

    # -- results ----------------------------------------------------------

    def end_to_end(self) -> tuple[dict[str, float], list[str]]:
        ops = [o for ps in self.passes for o in ps["plain"] if "op_s" in o]
        times = [o["op_s"] for o in ops]
        if not times:
            raise BenchError("no operation completed")
        vals = {
            "setup_s": sum(
                self.setup[k]
                for k in (
                    "setup.import_s",
                    "session.get_spark_s",
                    "postgres_copy.scratch_server_s",
                    "setup.warmup_pass_s",
                    "setup.settle_pass_s",
                )
            ),
            "ops_per_s": len(times) / sum(times),
        }
        notes = [
            # detail lines, not metrics: a run times too few operations
            # for a tail with 10 samples beyond it (6 imports, or 11
            # different keys), so the median is whichever key ranks sixth
            # and the maximum is one time of the slowest key
            f"op_p50_s {median(times):.6f} s over {len(times)} operations",
            f"op_max_s {max(times):.6f} s over {len(times)} operations",
            f"failed_op_ratio {self.failed / max(1, self.attempted):.6f} "
            f"({self.failed} of {self.attempted})",
        ]
        if self.keys:
            notes.append(f"queries_per_s {vals['ops_per_s']:.6f}")
        else:
            rows = sum(o["rows"] for o in ops)
            notes.append(f"ingest_rows_per_s {rows / sum(times):.1f}")
            stored = [o["stored_bytes_per_row"] for o in ops if "stored_bytes_per_row" in o]
            notes.append(f"pg_stored_bytes_per_row {median(stored):.3f}")
        return vals, notes

    def per_layer(self) -> tuple[dict[str, float], list[str]]:
        """The per-layer metrics this workload measures, then every other
        declared one as 0 (the result carries every declared metric),
        named in a detail line so it is not read as a measured zero."""
        traced = [ps["traced"] for ps in self.passes]
        out = dict(self.setup)
        out["jvm.peak_rss_mb"] = layers.jvm_peak_rss_mb(self.spark)

        def per_pass(field: str) -> float:
            return median([sum(o.get(field, 0) for o in ps) for ps in traced])

        build, exec_ = per_pass("build_s"), per_pass("exec_s")
        out["suite.build_s"] = build
        out["suite.build_share"] = build / (build + exec_) if build + exec_ else 0.0
        out["spark.exec_s"] = exec_
        for f in ("build_jobs", "exec_jobs", "stages"):
            out[f"spark.{f}"] = per_pass(f)
        for layer in set(layers.SQL_LAYERS.values()):
            out[layer] = median(
                [sum(o.get("sql", {}).get(layer, 0.0) for o in ps) for ps in traced]
            )
        if self.keys:
            for group, keys in (("analytics", ANALYTICS_KEYS), ("llm", LLM_KEYS)):
                b = sum(o.get("build_s", 0.0) for ps in traced for o in ps if o["key"] in keys)
                e = sum(o.get("exec_s", 0.0) for ps in traced for o in ps if o["key"] in keys)
                out[f"suite.build_share.{group}"] = b / (b + e)
        else:
            ops = [o for ps in traced for o in ps if "rows" in o]
            copy = median([o["exec_s"] for o in ops])
            scan = median([o["scan_s"] for o in ops])
            out["postgres_copy.copy_s"] = copy
            out["io.scan_noop_s"] = scan
            out["postgres_copy.encode_copy_s"] = copy - scan
            out["pg.wal_bytes_per_row"] = median([o["wal_bytes"] / o["rows"] for o in ops])
            out["pg.tup_inserted"] = median([o["tup_inserted"] for o in ops])
            out["pg.stored_bytes_per_row"] = median(
                [o["stored_bytes_per_row"] for o in ops if "stored_bytes_per_row" in o]
            )
        for key in self.keys:
            for f in ("build_s", "exec_s"):
                out[f"key.{key}.{f}"] = median(
                    [o[f] for ps in traced for o in ps if o["key"] == key and f in o]
                )

        def total(mode: str) -> float:
            return sum(o.get("op_s", 0.0) for ps in self.passes for o in ps[mode])

        base = total("plain")
        out["trace.overhead_ratio"] = total("traced") / base - 1.0 if base else 0.0
        names = [name for name, _, _ in per_layer()]
        unmeasured = [n for n in names if n not in out and not n.startswith("host.")]
        out.update({n: 0.0 for n in unmeasured})
        notes = [f"not measured on this workload, printed as 0: {' '.join(unmeasured)}"]
        return out, notes if unmeasured else []

    def job_counts(self) -> list[str]:
        """Per-key job and stage counts of the traced operations; they
        repeat exactly from pass to pass."""
        seen: dict[str, set] = {}
        for ps in self.passes:
            for o in ps["traced"]:
                if "build_jobs" in o:
                    seen.setdefault(o["key"], set()).add(
                        (o["build_jobs"], o["exec_jobs"], o["stages"])
                    )
        return [
            f"jobs {key} " + " | ".join(f"build {b} exec {e} stages {s}" for b, e, s in sorted(v))
            for key, v in seen.items()
        ]

    def close(self) -> None:
        if self.pg is not None:
            self.pg.stop_scratch_server()
        from pyspark import SparkContext  # noqa: PLC0415

        # the JVM may be up even when get_spark was interrupted
        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def _canon(row) -> tuple:
    """An aggregate row with numbers as exact decimals, for comparison."""
    return tuple(
        str(Decimal(str(v)).normalize()) if isinstance(v, int | float | Decimal) else str(v)
        for v in row
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale",
        type=float,
        default=None,
        help="scale factor of every generated table (default: "
        f"{QUERY_SF} for queries, {INGEST_SF} for the ingest copy)",
    )
    args = ap.parse_args(argv)

    # a terminated run still stops its JVM and Postgres (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    system_tmp = tempfile.gettempdir()  # before TMPDIR points into work
    prepare_env(work)
    run = Run(args, work, system_tmp)
    try:
        markers0 = layers.host_markers()
        run.start()
        run.measure()
        if args.trace:
            values, notes = run.per_layer()
            units = {n: u for n, u, _ in per_layer()}
            notes += run.job_counts()
        else:
            values, notes = run.end_to_end()
            units = {n: u for n, u, _ in END_TO_END}
    except BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    except Exception:  # noqa: BLE001 — no result line on a broken set-up
        traceback.print_exc()
        return 1
    finally:
        try:
            run.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))  # only when no other run uses it
            except OSError:
                pass
    # after the JVM and Postgres are gone, so only other load shows
    markers1 = layers.host_markers()
    if args.trace:
        values["host.load1_start"] = markers0["load1"]
        values["host.busy_start"] = markers0["busy"]
        values["host.busy_end"] = markers1["busy"]
        values["host.steal_share"] = run.steal_share

    print(
        f"# workload {args.workload} seed {args.seed} cpus {run.cpus} "
        f"passes {len(run.passes)} load1 {markers0['load1']:.2f} "
        f"busy_start {markers0['busy']:.3f} busy_end {markers1['busy']:.3f} "
        f"steal {' '.join(f'{x:.3f}' for x in run.windows_steal)}"
    )
    for name, value in values.items():
        print(f"# {name} {value:.6g} {units[name]}")
    for line in notes:
        print(f"# {line}")
    for key, secs in run.warm_keys.items():
        print(f"# warm-up {key} {secs:.3f} s")
    for p, ps in enumerate(run.passes, 1):
        ops = " ".join(f"{o['key']}={o.get('op_s', float('nan')):.3f}" for o in ps["plain"])
        print(f"# pass {p} {ops}")
    for err in run.errors:
        print(f"# FAILED {err}")
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
