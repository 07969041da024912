"""§2.I — streaming: event-time windows (batch-equivalent oracles) and
genuine Structured Streaming runs (rows-only).

Window queries use the SQL-expressible batch equivalents DuckDB can
check (SURVEY §2.I oracle column); the rows-only entries actually run
readStream → foreachBatch / memory-sink pipelines with AvailableNow
triggers, exercising checkpointing, watermarks, and stateful dedup.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_importer_spark.io import read_table, table_path
from parquet_importer_spark.registry import query

_DEC = "decimal(30,8)"


@query(
    "stream_tumbling",
    oracle="""
    SELECT event_type,
           CAST(FLOOR(epoch(ts) / 21600) AS BIGINT) * 21600 AS ws_epoch,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE), 4) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 6h event-time windows (F.window — identical code runs on
    readStream; batch form lets DuckDB verify the bucketing)."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type", F.window("ts", "6 hours").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast(_DEC)).cast("double"), 4
            ).alias("total_value"),
        )
        .select(
            "event_type",
            F.unix_timestamp(F.col("w.start")).cast("bigint").alias("ws_epoch"),
            "n_events",
            "total_value",
        )
    )


@query(
    "stream_sliding",
    oracle="""
    SELECT CAST((FLOOR(epoch(ts) / 10800) - k.k) * 10800 AS BIGINT) AS ws_epoch,
           COUNT(*) AS n_events
    FROM events, (SELECT unnest([0, 1]) AS k) k
    GROUP BY 1
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (6h length, 3h slide) — every event lands in
    exactly two windows; the oracle replays the expansion explicitly."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours", "3 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).cast("bigint").alias("ws_epoch"),
            "n_events",
        )
    )


@query(
    "stream_session",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events
    ),
    s AS (
      SELECT user_id, ts,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS session_no
      FROM g
    )
    SELECT user_id,
           CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS session_start_epoch,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, session_no
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (30 min). Spark: session_window (the
    same operator Structured Streaming uses for stateful sessionization);
    oracle: the classic gaps-and-islands rewrite. Gap decisions use raw
    µs/ns timestamps (sub-second boundary collisions are measure-zero);
    only the projected session start is truncated to seconds."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).cast("bigint").alias(
                "session_start_epoch"
            ),
            "n_events",
        )
    )


@query(
    "stream_dedup",
    oracle="""
    WITH r AS (
      SELECT user_id, event_type, event_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_epoch,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY date_trunc('second', ts), event_id) AS rn
      FROM events
    )
    SELECT user_id, event_type, event_id, ts_epoch FROM r WHERE rn = 1
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first dedup per (user, event_type) — the deterministic batch
    equivalent of streaming dropDuplicates-within-watermark (which is
    exercised for real in stream_watermark_run below). The ordering ts is
    truncated to seconds on BOTH sides before the event_id tie-break:
    Spark compares µs-truncated timestamps while DuckDB keeps ns, so two
    events sharing a µs but differing at ns precision could otherwise
    pick different 'first' rows."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.date_trunc("second", "ts"), "event_id"
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            "event_id",
            F.unix_timestamp("ts").cast("bigint").alias("ts_epoch"),
        )
    )


@query(
    "stream_microbatch",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events GROUP BY event_type
    """,
)
def stream_microbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real incremental import: readStream(parquet) → foreachBatch append
    → read back. The reference's whole app (app.py:94-193) in one call,
    with checkpointed file tracking. Hash-checked (round 7): whatever
    the micro-batch slicing, the drained destination must contain
    exactly the source rows — the per-type read-back counts are
    batch-boundary-independent, so a dropped or replayed batch
    mismatches the oracle."""
    from parquet_importer_spark.streaming.microbatch import (
        incremental_parquet_import,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    work = tempfile.mkdtemp(prefix="pis_stream_")
    dest = os.path.join(work, "dest")
    ckpt = os.path.join(work, "ckpt")
    incremental_parquet_import(
        spark, table_path(sf_dir, "events"), dest, ckpt, mode="replace"
    )
    return spark.read.parquet(dest).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


@query(
    "stream_watermark_run",
    # the append-mode emission contract, stated as SQL: after the
    # stream drains, exactly the 1h windows whose END precedes the
    # final watermark (max event ts − 10 min) have been emitted —
    # independent of micro-batch slicing, because the final no-data
    # batch flushes every window the terminal watermark finalizes.
    # (event_id is unique in the fixture, so the stateful
    # dropDuplicates is exercised but count-neutral.)
    oracle="""
    WITH mx AS (SELECT MAX(ts) AS m FROM events),
    w AS (
      SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS ws_epoch,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    )
    SELECT ws_epoch, n_events FROM w, mx
    WHERE ws_epoch + 3600 <= epoch(date_trunc('second', m - INTERVAL 10 MINUTE))
    """,
)
def stream_watermark_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genuine watermarked streaming aggregation: 10-minute watermark,
    1h tumbling windows, stateful dropDuplicates on event_id, memory
    sink in append mode (only watermark-finalized windows emit). The
    oracle above pins the emission semantics themselves — see its
    comment."""
    from parquet_importer_spark.streaming.microbatch import as_stream_dir

    # events.ts may be TIMESTAMP(NANOS) (read as nano-epoch long, io.py
    # docs) or already µs/ntz depending on the fixture generation — probe
    # the batch schema and convert only the long form.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(table_path(sf_dir, "events")).schema
    ts_is_long = schema["ts"].dataType.typeName() in ("long", "bigint")
    name = f"wm_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema(schema)
        .parquet(as_stream_dir(table_path(sf_dir, "events")))
        .withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000"))
            if ts_is_long
            else F.col("ts").cast("timestamp"),
        )
        .withWatermark("ts", "10 minutes")
        .dropDuplicates(["event_id"])
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).cast("bigint").alias("ws_epoch"),
            "n_events",
        )
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@query(
    "stream_stateful_count",
    # the final per-key state is batching-independent: whatever the
    # micro-batch boundaries, the last update for a user equals their
    # total event count
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running event count kept in explicit GroupState across
    micro-batches — the extension point for stateful logic Spark's
    built-in aggregates can't express (per-key models, custom windows,
    CEP). AvailableNow drains the fixture; the state machinery is the
    production shape."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from parquet_importer_spark.streaming.microbatch import as_stream_dir

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(table_path(sf_dir, "events")).schema

    def running_count(key, pdfs, state):
        # self-contained: executor workers don't import this package
        import pandas as pd  # noqa: PLC0415

        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})

    name = f"st_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema(schema)
        .parquet(as_stream_dir(table_path(sf_dir, "events")))
        .groupBy("user_id")
        .applyInPandasWithState(
            running_count,
            outputStructType="user_id bigint, n_events bigint",
            stateStructType="n bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # latest state per user = the final running counts
    latest = spark.table(name).groupBy("user_id").agg(
        F.max("n_events").alias("n_events")
    )
    return latest


@query(
    "stream_progress",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS rows_processed,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE), 4)
             AS total_value
    FROM events
    """,
)
def stream_progress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-run progress counters via df.observe() — the reference's
    progress bar (app.py:96/185-193) as engine-side metrics that cost
    nothing extra (piggyback on the action, no second scan)."""
    from pyspark.sql import Observation

    ev = read_table(spark, sf_dir, "events")
    obs = Observation("progress")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("rows_processed"),
        F.sum(F.col("value").cast(_DEC)).cast("double").alias("total_value"),
    )
    observed.write.format("noop").mode("overwrite").save()
    metrics = obs.get
    return spark.createDataFrame(
        [(int(metrics["rows_processed"]), round(float(metrics["total_value"]), 4))],
        "rows_processed bigint, total_value double",
    )


@query(
    "ts_gap_fill",
    oracle="""
    WITH per AS (
      SELECT user_id, date_trunc('day', ts) AS day, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    span AS (
      SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM per GROUP BY 1
    ),
    spine AS (
      SELECT user_id,
             unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
      FROM span
    )
    SELECT s.user_id, CAST(s.day AS TIMESTAMP) AS day,
           COALESCE(p.n, 0) AS n_events
    FROM spine s LEFT JOIN per p ON p.user_id = s.user_id AND p.day = s.day
    """,
)
def ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: a dense daily spine per user (their own
    [first, last] activity range, via `sequence` + explode — no
    driver-side calendar) left-joined to the observed per-day counts,
    absent days coalesced to 0. Two shuffles total (the per-day agg and
    the span agg ride the same user_id partitioning; the spine join
    reuses it). The spine explode is narrow — at 100 TB the output is
    bounded by users × days, not events."""
    ev = read_table(spark, sf_dir, "events")
    per = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    span = per.groupBy("user_id").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    spine = span.select(
        "user_id",
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("interval 1 day"))
        ).alias("day"),
    )
    return spine.join(per, ["user_id", "day"], "left").select(
        "user_id", "day", F.coalesce(F.col("n"), F.lit(0)).alias("n_events")
    )


@query(
    "ts_funnel",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts FROM events WHERE event_type = 'click'
    ),
    conv AS (
      SELECT c.user_id,
             MIN(p.ts) AS first_purchase
      FROM clicks c
      JOIN events p
        ON p.user_id = c.user_id
       AND p.event_type = 'purchase'
       AND p.ts > c.ts
       AND p.ts <= c.ts + INTERVAL 1 HOUR
      GROUP BY c.user_id
    )
    SELECT (SELECT COUNT(DISTINCT user_id) FROM clicks) AS n_clicked,
           COUNT(*) AS n_converted,
           ROUND(COUNT(*) * 1.0 /
                 (SELECT COUNT(DISTINCT user_id) FROM clicks), 6)
             AS conversion_rate
    FROM conv
    """,
)
def ts_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step funnel with a conversion deadline: users who 'purchase'
    within 1 hour of a 'click'. The step join is a range join on
    (user_id equi + ts interval residual) — one shuffle per side on
    user_id; both event filters push to the scan. At 100 TB bound the
    range-join blowup by bucketing ts into hour-grain join keys
    (join on (user, hour) ∪ (user, hour+1) then re-filter — turns the
    interval probe into two equi-joins)."""
    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    conv = (
        clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") > F.col("click_ts"))
            & (F.col("p_ts") <= F.col("click_ts") + F.expr("interval 1 hour")),
        )
        .groupBy("user_id")
        .agg(F.min("p_ts").alias("first_purchase"))
    )
    n_clicked = clicks.select(
        F.countDistinct("user_id").alias("n_clicked")
    )
    return conv.agg(F.count(F.lit(1)).alias("n_converted")).crossJoin(
        F.broadcast(n_clicked)
    ).select(
        "n_clicked",
        "n_converted",
        F.round(F.col("n_converted") / F.col("n_clicked"), 6).alias(
            "conversion_rate"
        ),
    )


@query(
    "ts_retention",
    oracle="""
    WITH first_day AS (
      SELECT user_id, MIN(date_trunc('day', ts)) AS cohort FROM events
      GROUP BY 1
    ),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
    )
    SELECT CAST(f.cohort AS TIMESTAMP) AS cohort,
           CAST(date_diff('day', f.cohort, a.day) AS BIGINT) AS day_n,
           COUNT(DISTINCT a.user_id) AS n_active
    FROM first_day f JOIN activity a USING (user_id)
    WHERE date_diff('day', f.cohort, a.day) IN (0, 1, 7)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def ts_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention (D0/D1/D7): users grouped by first-active day,
    counted on each retention checkpoint. Both the cohort assignment
    and the activity dedup ride ONE user_id shuffle; the cohort join is
    a co-partitioned merge. The retention matrix is cohorts × days —
    tiny at any corpus scale."""
    ev = read_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    activity = ev.select("user_id", day.alias("day")).distinct()
    first_day = activity.groupBy("user_id").agg(F.min("day").alias("cohort"))
    day_n = F.datediff(F.col("day"), F.col("cohort")).cast("bigint")
    return (
        activity.join(first_day, "user_id")
        .withColumn("day_n", day_n)
        .filter(F.col("day_n").isin(0, 1, 7))
        .groupBy("cohort", "day_n")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort", "day_n")
    )


@query(
    "ts_interpolate",
    oracle="""
    WITH per AS (
      SELECT user_id, date_trunc('day', ts) AS day,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE), 4) AS v
      FROM events GROUP BY 1, 2
    ),
    span AS (
      SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM per GROUP BY 1
    ),
    spine AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
      FROM span
    ),
    joined AS (
      SELECT s.user_id, s.day, p.v FROM spine s
      LEFT JOIN per p ON p.user_id = s.user_id AND p.day = s.day
    ),
    ctx AS (
      SELECT user_id, day, v,
             LAST_VALUE(v IGNORE NULLS) OVER w_prev AS pv,
             LAST_VALUE(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
               OVER w_prev AS pd,
             FIRST_VALUE(v IGNORE NULLS) OVER w_next AS nv,
             FIRST_VALUE(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
               OVER w_next AS nd
      FROM joined
      WINDOW
        w_prev AS (PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_next AS (PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, CAST(day AS TIMESTAMP) AS day,
           ROUND(CASE
             WHEN v IS NOT NULL THEN v
             WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
               pv + (nv - pv) * date_diff('day', pd, day)
                              / date_diff('day', pd, nd)
             ELSE COALESCE(pv, nv) END, 6) AS v_filled,
           (v IS NULL) AS interpolated
    FROM ctx
    """,
)
def ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of a daily value series over the dense
    per-user spine (ts_gap_fill's layout): gaps get
    prev + (next−prev)·Δt/Δspan via ignore-nulls window lookups in BOTH
    directions; edges forward/back-fill. The two windows and the spine
    join all ride ONE user_id partitioning — interpolation at 100 TB
    costs the same single shuffle as the gap fill."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    per = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.round(
            F.sum(F.col("value").cast("decimal(30,8)")).cast("double"), 4
        ).alias("v")
    )
    span = per.groupBy("user_id").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    spine = span.select(
        "user_id",
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("interval 1 day"))
        ).alias("day"),
    )
    joined = spine.join(per, ["user_id", "day"], "left")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    day_if_v = F.when(F.col("v").isNotNull(), F.col("day"))
    ctx = joined.select(
        "user_id",
        "day",
        "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(day_if_v, ignorenulls=True).over(w_prev).alias("pd"),
        F.first("v", ignorenulls=True).over(w_next).alias("nv"),
        F.first(day_if_v, ignorenulls=True).over(w_next).alias("nd"),
    )
    interp = F.col("pv") + (F.col("nv") - F.col("pv")) * F.datediff(
        F.col("day"), F.col("pd")
    ) / F.datediff(F.col("nd"), F.col("pd"))
    return ctx.select(
        "user_id",
        "day",
        F.round(
            F.when(F.col("v").isNotNull(), F.col("v"))
            .when(
                F.col("pv").isNotNull() & F.col("nv").isNotNull(), interp
            )
            .otherwise(F.coalesce("pv", "nv")),
            6,
        ).alias("v_filled"),
        F.col("v").isNull().alias("interpolated"),
    )


@query(
    "ts_sessionize",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, date_trunc('second', ts) AS ts_s FROM events
    ),
    g AS (
      SELECT user_id, event_id, ts_s,
             CASE WHEN lag(ts_s) OVER w IS NULL
                   OR epoch(ts_s) - epoch(lag(ts_s) OVER w) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
    ),
    s AS (
      SELECT user_id, ts_s,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g
    )
    SELECT user_id,
           CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           MIN(ts_s) AS sess_start,
           MAX(ts_s) AS sess_end,
           CAST(epoch(MAX(ts_s)) - epoch(MIN(ts_s)) AS BIGINT) AS duration_s
    FROM s GROUP BY user_id, session_id
    """,
)
def ts_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (the offline twin of stream_session): a new
    session starts after a >30-min silence per user. One shuffle on
    user_id serves BOTH window passes (gap flag, then running session
    index) and the final per-session aggregate — Spark reuses the
    hash partitioning across all three, so the whole op is a single
    exchange even at 100 TB. Timestamps truncate to seconds on both
    sides (events.ts is ns in parquet; Spark keeps µs — SURVEY §7.4);
    event_id breaks same-second ties for a total order."""
    e = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.date_trunc("second", F.col("ts")).alias("ts_s")
    )
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    gap = F.unix_timestamp("ts_s") - F.unix_timestamp(F.lag("ts_s").over(w))
    is_new = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = (
        F.sum(is_new)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
    )
    return (
        e.withColumn("session_id", sess)
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts_s").alias("sess_start"),
            F.max("ts_s").alias("sess_end"),
            (
                F.unix_timestamp(F.max("ts_s"))
                - F.unix_timestamp(F.min("ts_s"))
            ).alias("duration_s"),
        )
    )


@query(
    "stream_static_join",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(e.value AS DECIMAL(30,8))) AS DOUBLE), 4) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: a genuine readStream over events joined to
    the static customer dimension (broadcast — the dim re-snapshots per
    micro-batch in production), then a streaming aggregate in complete
    mode. trigger(availableNow) drains the whole source, so the result
    equals the batch join and the oracle can hash-check a real
    writeStream run — the strongest check a streaming op can get."""
    from parquet_importer_spark.streaming.microbatch import as_stream_dir

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(table_path(sf_dir, "events")).schema
    cust = F.broadcast(
        read_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
    )
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema(schema)
        .parquet(as_stream_dir(table_path(sf_dir, "events")))
        .join(cust, F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast(_DEC)).cast("double"), 4
            ).alias("total_value"),
        )
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@query(
    "stream_file_sink",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE), 4) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def stream_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed parquet FILE sink — the production landing path for
    streams (memory sinks are test-only): readStream over events →
    writeStream.format('parquet') with a checkpoint location, drained
    by trigger(availableNow). The _spark_metadata commit log under the
    output dir is what gives the file sink exactly-once semantics
    (re-running with the same checkpoint re-emits nothing). The
    returned aggregate reads the SINK's files back, so the oracle
    hash-checks the whole write-then-read path."""
    from parquet_importer_spark.streaming.microbatch import as_stream_dir

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(table_path(sf_dir, "events")).schema
    base = tempfile.mkdtemp(prefix="pis_filesink_")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    q = (
        spark.readStream.schema(schema)
        .parquet(as_stream_dir(table_path(sf_dir, "events")))
        .select("event_id", "event_type", "value")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast(_DEC)).cast("double"), 4
            ).alias("total_value"),
        )
    )


@query(
    "ts_resample_ohlc",
    oracle="""
    WITH e AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             date_trunc('second', ts) AS ts_s, event_id, value
      FROM events
    ),
    r AS (
      SELECT event_type, day, value,
             ROW_NUMBER() OVER (PARTITION BY event_type, day
                                ORDER BY ts_s ASC, event_id ASC) AS rn_open,
             ROW_NUMBER() OVER (PARTITION BY event_type, day
                                ORDER BY ts_s DESC, event_id DESC) AS rn_close
      FROM e
    )
    SELECT event_type, CAST(day AS TIMESTAMP) AS day,
           MAX(CASE WHEN rn_open = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_close = 1 THEN value END) AS close,
           COUNT(*) AS n_events
    FROM r GROUP BY event_type, day
    """,
)
def ts_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC resampling — the canonical time-series downsample: per
    (series, day) bucket, the opening and closing observations plus the
    high/low envelope. First/last are made deterministic by a total
    order (second-truncated ts, then event_id) via two ROW_NUMBER
    passes that share ONE (event_type, day) shuffle with the final
    aggregate; high/low/count are plain partial+final aggregates. At
    100 TB the bucket key bounds state and the windows never leave the
    aggregate's partitioning."""
    e = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.date_trunc("second", F.col("ts")).alias("ts_s"),
        "event_id",
        "value",
    )
    w_open = Window.partitionBy("event_type", "day").orderBy(
        F.col("ts_s").asc(), F.col("event_id").asc()
    )
    w_close = Window.partitionBy("event_type", "day").orderBy(
        F.col("ts_s").desc(), F.col("event_id").desc()
    )
    r = e.select(
        "event_type",
        "day",
        "value",
        F.row_number().over(w_open).alias("rn_open"),
        F.row_number().over(w_close).alias("rn_close"),
    )
    return r.groupBy("event_type", "day").agg(
        F.max(F.when(F.col("rn_open") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_close") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "stream_jdbc_import",
    oracle="""
    SELECT event_type, COUNT(*) AS n_rows
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def stream_jdbc_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole purpose as a STREAM against a LIVE database:
    readStream over parquet → foreachBatch → ``df.write.jdbc`` appends
    into embedded Derby → read back through ``spark.read.jdbc`` and
    aggregate. This is app.py:94-193 (chunked parquet → DB import) with
    micro-batches as the chunks and per-partition batched JDBC
    connections instead of the reference's single connection; the
    availableNow drain makes the result batch-equal, so the oracle
    hash-checks the full pipeline including the database hop.

    Scale note (round-9 100× ladder, xlin_b 1.85): the super-linear
    term is the EXTERNAL system, not the plan — embedded Derby's
    insert throughput decays as its table grows (56k rows/s at 1M
    rows → 30k at 10M; single-JVM lock manager + b-tree growth). The
    Spark side is one availableNow drain with per-partition batched
    writes either way. The production-scale path for bulk DB loads is
    the COPY-protocol sink (sink_postgres_copy: about 96k rows/s for a
    120k-row lineitem over 4 COPY streams on a 4-core host, see the
    README performance notes); this key keeps Derby because it is the
    only engine the sandbox lets the STREAMING hop hash-verify
    end-to-end."""
    from parquet_importer_spark.sources.sinks import write_jdbc
    from parquet_importer_spark.streaming.microbatch import as_stream_dir

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(table_path(sf_dir, "events")).schema
    db_dir = tempfile.mkdtemp(prefix="pis_derby_stream_")
    spark._jvm.java.lang.System.setProperty(  # noqa: SLF001
        "derby.stream.error.file", os.path.join(db_dir, "derby.log")
    )
    url = f"jdbc:derby:{os.path.join(db_dir, 'db')};create=true"
    ckpt = os.path.join(db_dir, "ckpt")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        write_jdbc(
            batch_df,
            url,
            "events_import",
            mode="append",
            batchsize=10_000,
            num_partitions=4,
        )

    q = (
        spark.readStream.schema(schema)
        .parquet(as_stream_dir(table_path(sf_dir, "events")))
        .select("event_id", "event_type")
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.jdbc(url, "events_import")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("event_type")
    )


@query(
    "ts_rollup_incremental",
    oracle="""
    SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE), 4)
             AS total_value
    FROM events GROUP BY event_type, day
    """,
)
def ts_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style incremental rollup maintenance: a daily
    aggregate table is NOT rebuilt when late data lands — the late rows
    aggregate into per-day partials that MERGE into the existing rollup
    (full-outer combine, summing counts and decimal partials). Here the
    'existing' rollup is built missing a deterministic 10% slice
    (event_id % 10 = 0 stands in for late arrivals), the slice arrives
    as the increment, and the maintained result must equal the
    from-scratch rollup — which is exactly what the oracle computes.
    At 100 TB this is the difference between re-scanning history per
    refresh and touching only the increment: both sides of the merge
    are day-grain partials, never raw events."""
    e = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        "event_id",
        "value",
    )

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type", "day").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(_DEC)).alias("pv"),
        )

    mv = rollup(e.filter(F.col("event_id") % 10 != 0))
    late = rollup(e.filter(F.col("event_id") % 10 == 0))
    merged = (
        mv.withColumnRenamed("n_events", "n0")
        .withColumnRenamed("pv", "pv0")
        .join(
            late.withColumnRenamed("n_events", "n1").withColumnRenamed(
                "pv", "pv1"
            ),
            ["event_type", "day"],
            "full_outer",
        )
    )
    return merged.select(
        "event_type",
        "day",
        (
            F.coalesce(F.col("n0"), F.lit(0)) + F.coalesce(F.col("n1"), F.lit(0))
        ).alias("n_events"),
        F.round(
            (
                F.coalesce(F.col("pv0"), F.lit(0).cast(_DEC))
                + F.coalesce(F.col("pv1"), F.lit(0).cast(_DEC))
            ).cast("double"),
            4,
        ).alias("total_value"),
    )


@query(
    "stream_stream_join",
    oracle="""
    WITH clicks AS (
      SELECT user_id, event_id AS click_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT user_id, event_id AS purchase_id, ts AS purchase_ts, value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_attributed,
           ROUND(CAST(SUM(CAST(p.value AS DECIMAL(30,8))) AS DOUBLE), 4)
             AS attributed_value
    FROM clicks c
    JOIN purchases p
      ON c.user_id = p.user_id
     AND p.purchase_ts >= c.click_ts
     AND p.purchase_ts <  c.click_ts + INTERVAL 30 MINUTE
    GROUP BY c.user_id
    ORDER BY c.user_id
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genuine STREAM-STREAM interval join — the Structured Streaming
    feature batch joins can't emulate: clicks and purchases arrive as
    two independent streams, a purchase joins every click by the same
    user in the preceding 30 minutes. Both sides carry watermarks, and
    the time-interval condition is what lets Spark expire join state
    (click rows older than the watermark minus 30min drop from the
    state store) — unbounded-state joins don't pass the analyzer in
    append mode. The availableNow drain makes the result batch-equal,
    so the DuckDB oracle hash-checks a real two-stream run end-to-end;
    the per-user attribution aggregate runs as a batch query over the
    sink's output (the production shape: join stream → landing table →
    downstream rollup)."""
    from parquet_importer_spark.streaming.microbatch import as_stream_dir

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(table_path(sf_dir, "events")).schema
    # Same fixture hazard as stream_watermark_run above: events.ts has
    # shipped as TIMESTAMP(NANOS) (surfaced as a nano-epoch long under
    # nanosAsLong) in some rounds — an unconditional cast('timestamp')
    # would then read the long as epoch SECONDS and silently shift every
    # join window. Probe and convert the long form explicitly.
    ts_is_long = schema["ts"].dataType.typeName() in ("long", "bigint")
    ts_expr = (
        F.timestamp_micros(F.expr("ts div 1000"))
        if ts_is_long
        else F.col("ts").cast("timestamp")
    )
    src = as_stream_dir(table_path(sf_dir, "events"))

    def side(event_type: str, prefix: str):
        return (
            spark.readStream.schema(schema)
            .parquet(src)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("event_id").alias(f"{prefix}_id"),
                ts_expr.alias(f"{prefix}_ts"),
                *([F.col("value")] if prefix == "p" else []),
            )
            .withWatermark(f"{prefix}_ts", "1 hour")
        )

    joined = side("click", "c").join(
        side("purchase", "p"),
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    name = f"ssj2_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(name)
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_attributed"),
            F.round(
                F.sum(F.col("value").cast(_DEC)).cast("double"), 4
            ).alias("attributed_value"),
        )
        .orderBy("user_id")
    )


@query(
    "ts_anomaly_mad",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(FLOOR(epoch(date_trunc('day', ts))) AS BIGINT) AS day_epoch,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE), 4) AS v
      FROM events GROUP BY 1, 2
    ),
    med AS (
      SELECT event_type,
             MIN(CASE WHEN rn = CAST(FLOOR(0.5 * (cnt - 1)) AS BIGINT) + 1
                      THEN v END) AS med
      FROM (
        SELECT event_type, v,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS cnt
        FROM daily
      ) GROUP BY event_type
    ),
    mad AS (
      SELECT event_type,
             MIN(CASE WHEN rn = CAST(FLOOR(0.5 * (cnt - 1)) AS BIGINT) + 1
                      THEN dev END) AS mad
      FROM (
        SELECT d.event_type, ABS(d.v - m.med) AS dev,
               ROW_NUMBER() OVER (PARTITION BY d.event_type
                                  ORDER BY ABS(d.v - m.med)) AS rn,
               COUNT(*) OVER (PARTITION BY d.event_type) AS cnt
        FROM daily d JOIN med m USING (event_type)
      ) GROUP BY event_type
    )
    SELECT d.event_type, d.day_epoch, d.v,
           ROUND(m.med, 4) AS med, ROUND(a.mad, 4) AS mad
    FROM daily d
    JOIN med m USING (event_type)
    JOIN mad a USING (event_type)
    WHERE ABS(d.v - m.med) > 3 * a.mad
    ORDER BY d.event_type, d.day_epoch
    """,
)
def ts_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust time-series anomaly detection: per-series daily totals,
    exact median and median-absolute-deviation by rank selection (the
    lower median — selection, not interpolation, so both engines agree
    bit-for-bit on doubles), flag days where |x − med| > 3·MAD. The
    heavy fact reduces to ~|series|×|days| rows FIRST; the two median
    window sorts run on that tiny aggregate and share its event_type
    partitioning — at 100 TB the daily rollup is the only full-data
    pass (and ts_rollup_incremental shows how to maintain it)."""
    daily = (
        read_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.floor(F.unix_timestamp(F.date_trunc("day", F.col("ts"))))
            .cast("bigint")
            .alias("day_epoch"),
        )
        .agg(
            F.round(
                F.sum(F.col("value").cast(_DEC)).cast("double"), 4
            ).alias("v")
        )
    )

    def rank_median(df: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy("event_type").orderBy(col)
        wc = Window.partitionBy("event_type")
        idx = F.floor(F.lit(0.5) * (F.col("cnt") - 1)).cast("bigint") + 1
        return (
            df.select(
                "event_type",
                F.col(col),
                F.row_number().over(w).alias("rn"),
                F.count(F.lit(1)).over(wc).alias("cnt"),
            )
            .groupBy("event_type")
            .agg(F.min(F.when(F.col("rn") == idx, F.col(col))).alias(out))
        )

    med = rank_median(daily, "v", "med")
    dev = daily.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("v") - F.col("med")).alias("dev")
    )
    mad = rank_median(dev, "dev", "mad")
    return (
        daily.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .filter(F.abs(F.col("v") - F.col("med")) > 3 * F.col("mad"))
        .select(
            "event_type",
            "day_epoch",
            "v",
            F.round("med", 4).alias("med"),
            F.round("mad", 4).alias("mad"),
        )
        .orderBy("event_type", "day_epoch")
    )


@query(
    "ts_change_points",
    oracle="""
    WITH v AS (
      SELECT event_type, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    c AS (
      SELECT event_type, ts, event_id,
             SUM(cents) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS prefix,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY ts, event_id
             ) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             SUM(cents) OVER (PARTITION BY event_type) AS total
      FROM v
    ),
    s AS (
      SELECT event_type, ts, rn, n,
             abs(n * prefix - rn * total) AS score,
             ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY abs(n * prefix - rn * total) DESC, ts ASC, rn ASC
             ) AS pick
      FROM c
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_points,
           CAST(rn AS BIGINT) AS cp_row,
           CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS cp_epoch,
           CAST(score AS BIGINT) AS score_cents
    FROM s WHERE pick = 1
    """,
)
def ts_change_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift change-point detection per series: the point
    maximizing |cumulative deviation from the series mean| — where the
    running sum departs furthest from the even-accumulation line — is
    the classic single-change-point estimator (complements
    ts_anomaly_mad, which flags individual outliers, by locating a
    persistent LEVEL shift).

    Bit-portability: the usual cusum_i = prefix_i − i·mean needs a
    division; multiplying through by n gives score_i = n·prefix_i −
    i·total, and quantizing values to integer cents first makes every
    score exact integer arithmetic. Sums and products run in
    decimal(38,0) to mirror DuckDB's SUM(BIGINT)→HUGEINT promotion —
    the argmax comparison is exact on both engines up to ~1e38, no
    silent BIGINT wrap and no decimal→double conversion anywhere.

    Scale shape (round 10: the 1000× rung caught the single-window
    form at xlin_c 1.68 — event_type cardinality is CONSTANT across
    decades, so "one window partition per series" is a
    constant-parallelism sort that grows 1000× per partition): each
    series is split into COUNT(*)-adaptive time buckets (the smallest
    power-of-2 count holding ≤100k rows per bucket, integer-exact via
    bit_length), the cumsum/ranking windows run per (series, bucket),
    and per-bucket sums/counts chain through a broadcast offsets frame
    — the documented prefix-chaining primitive, now implemented.
    Per-bucket rows stay bounded under roughly UNIFORM event-time
    density: buckets split the time RANGE evenly while nb derives from
    the total row count, so a heavily time-skewed series (a burst, or
    strong growth over the span) can still concentrate most rows in
    few buckets — the residual hazard alongside the nb=65536 cap
    (round-10 ADVICE; the fixture's generator is uniform). The global
    argmax is the per-bucket argmax of per-bucket rows under the SAME
    (score DESC, ts, rn) comparator, so outputs are bit-identical to
    the single-window form at every SF (rn is unique per series →
    total order; pinned by tests/test_round11_ops.py on a tied-score
    multi-series fixture with a forced small bucket budget, plus the
    sf1/nb=16 side-by-side). nb == 1 — every driver SF and the bench
    fixture — keeps the ORIGINAL one-window physical plan, so the
    small-SF cost is one footer-served count job, not six extra
    stages. Bucket ids derive from unix_millis so span·nb fits int64
    out to century-scale spans; ts is non-null by the events contract.

    NB: CONSTRUCTING this DataFrame runs real Spark jobs (the adaptive
    COUNT(*), plus min/max ts on the bucketed path) — callers that
    only want the plan (tools/explain_plans.py) pay those actions.
    Footer-served at small SF; documented trade (round-10 ADVICE)."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return change_points_frame(ev)


def change_points_frame(ev, rows_per_bucket: int = 100_000):
    """CUSUM argmax core over a prepared (event_type, ts, event_id,
    cents) frame — split from the query so the bucketed (nb>1) branch
    is testable on small fixtures by shrinking ``rows_per_bucket``
    (round-10 ADVICE: all driver SFs run nb==1, so the bucketed branch
    previously had no checked-in verification)."""
    from pyspark.sql import Window
    # accumulate in decimal(38,0): DuckDB promotes SUM(BIGINT) to
    # HUGEINT (int128) so its n·prefix − rn·total stays exact, while
    # Spark's BIGINT would wrap silently under non-ANSI mode on very
    # long/high-valued series. decimal(38,0) keeps the argmax exact to
    # ~1e38 on both engines (overflow beyond that nulls, not wraps).
    dec_cents = F.col("cents").cast("decimal(38,0)")
    # bucket count: smallest power of 2 holding ≤100k rows per bucket
    # (integer-exact — n is an int, not a float log). The count() is
    # footer-served (the adaptive_sign_bits precedent); nb == 1 keeps
    # the original one-window-per-series physical plan, so the small-SF
    # (driver/bench) cost is one metadata job, not six extra stages.
    n_rows = ev.count()
    q = -(-max(n_rows, 1) // rows_per_bucket)  # integer ceil
    nb = 1 << min(16, (q - 1).bit_length())
    if nb == 1:
        order = Window.partitionBy("event_type").orderBy("ts", "event_id")
        whole = Window.partitionBy("event_type")
        c = ev.select(
            "event_type",
            "ts",
            F.sum(dec_cents)
            .over(
                order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            .alias("prefix"),
            F.row_number().over(order).alias("rn"),
            F.count(F.lit(1)).over(whole).alias("n"),
            F.sum(dec_cents).over(whole).alias("total"),
        )
        score = F.abs(
            F.col("n").cast("decimal(38,0)") * F.col("prefix")
            - F.col("rn").cast("decimal(38,0)") * F.col("total")
        )
        pick = Window.partitionBy("event_type").orderBy(
            score.desc(), F.col("ts").asc(), F.col("rn").asc()
        )
        return (
            c.withColumn("score", score)
            .withColumn("pick", F.row_number().over(pick))
            .filter(F.col("pick") == 1)
            .select(
                "event_type",
                F.col("n").cast("bigint").alias("n_points"),
                F.col("rn").cast("bigint").alias("cp_row"),
                F.unix_timestamp(F.date_trunc("second", F.col("ts")))
                .cast("bigint")
                .alias("cp_epoch"),
                F.col("score").cast("bigint").alias("score_cents"),
            )
        )
    # bucketed path: series-independent time range (one partial-agg
    # pass) maps ts → bucket id monotonically. ts is TIMESTAMP_NTZ; the
    # session timezone is pinned UTC (session.py), so the NTZ→TZ cast
    # under unix_millis is a fixed offset and the mapping stays monotone
    ts_ms = F.unix_millis(F.col("ts").cast("timestamp"))
    mn_ms, mx_ms = ev.agg(F.min(ts_ms), F.max(ts_ms)).first()
    b = ev.withColumn(
        "bkt",
        F.expr(
            f"(unix_millis(cast(ts as timestamp)) - {int(mn_ms)}) * {nb}"
            f" DIV {int(mx_ms) - int(mn_ms) + 1}"
        ),
    )
    order = Window.partitionBy("event_type", "bkt").orderBy("ts", "event_id")
    c = b.select(
        "event_type",
        "ts",
        "bkt",
        F.sum(dec_cents)
        .over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("prefix_w"),
        F.row_number().over(order).alias("rn_w"),
    ).localCheckpoint(eager=False)
    # c feeds BOTH the offsets aggregation and the join probe. The
    # round-10 comment claimed Catalyst's ReuseExchange would share the
    # (event_type, bkt) exchange between them; the measured sf1/nb=16
    # physical plan says otherwise — TWO FileScans and TWO window
    # sorts (ReuseExchange only matches byte-identical subplans, and
    # the two consumers diverge above the exchange). The lazy
    # localCheckpoint materializes c ONCE at first use, so the events
    # scan + per-bucket cumsum run a single time at exactly the scale
    # this path exists for (round-10 ADVICE, confirmed + fixed).
    # per-(series, bucket) sums/counts → exclusive running offsets plus
    # the series totals, all over a ≤ |series|·nb-row frame that
    # BROADCASTS back; offset + within-bucket value = the exact global
    # prefix/rank the single-window form computed. The summary derives
    # from c itself (the cumsum's last row per bucket IS the bucket
    # sum; max_by is deterministic because rn_w is unique in-bucket)
    wt = Window.partitionBy("event_type").orderBy("bkt")
    whole = Window.partitionBy("event_type")
    offs = c.groupBy("event_type", "bkt").agg(
        F.max_by("prefix_w", "rn_w").alias("bsum"),
        F.max("rn_w").cast("bigint").alias("bcnt"),
    ).select(
        "event_type",
        "bkt",
        F.coalesce(
            F.sum("bsum").over(wt.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("off_sum"),
        F.coalesce(
            F.sum("bcnt").over(wt.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0).cast("bigint"),
        ).alias("off_cnt"),
        F.sum("bsum").over(whole).alias("total"),
        F.sum("bcnt").over(whole).alias("n"),
    )
    j = c.join(F.broadcast(offs), ["event_type", "bkt"])
    prefix = F.col("off_sum") + F.col("prefix_w")
    rn = F.col("off_cnt") + F.col("rn_w").cast("bigint")
    score = F.abs(
        F.col("n").cast("decimal(38,0)") * prefix
        - rn.cast("decimal(38,0)") * F.col("total")
    )
    scored = j.select(
        "event_type",
        "ts",
        "bkt",
        rn.alias("rn"),
        F.col("n"),
        score.alias("score"),
    )
    # argmax in two rungs under the IDENTICAL total-order comparator:
    # per-bucket top-1 shrinks each series to ≤ nb candidate rows
    # (reuses the (event_type, bkt) partitioning — no extra exchange),
    # then the series-level pick sorts only those
    pick_b = Window.partitionBy("event_type", "bkt").orderBy(
        F.col("score").desc(), F.col("ts").asc(), F.col("rn").asc()
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.col("score").desc(), F.col("ts").asc(), F.col("rn").asc()
    )
    return (
        scored.withColumn("pick_b", F.row_number().over(pick_b))
        .filter(F.col("pick_b") == 1)
        .withColumn("pick", F.row_number().over(pick))
        .filter(F.col("pick") == 1)
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_points"),
            F.col("rn").cast("bigint").alias("cp_row"),
            F.unix_timestamp(F.date_trunc("second", F.col("ts")))
            .cast("bigint")
            .alias("cp_epoch"),
            F.col("score").cast("bigint").alias("score_cents"),
        )
    )


@query(
    "ts_autocorr",
    oracle="""
    WITH v AS (
      SELECT event_type, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events
    ),
    lagged AS (
      SELECT event_type, c,
             LAG(c, 10) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
             ) AS cl
      FROM v
    ),
    p AS (SELECT event_type, c, cl FROM lagged WHERE cl IS NOT NULL),
    s AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(c) AS sx, SUM(cl) AS sy,
             SUM(c * c) AS sxx, SUM(cl * cl) AS syy,
             SUM(c * cl) AS sxy
      FROM p GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
           ROUND(
             CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS autocorr
    FROM s
    """,
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-10 autocorrelation per series — the seasonality/memory
    diagnostic behind forecasting-model choice and anomaly-detector
    windows: Pearson correlation of the series with itself shifted 10
    observations.

    Bit-portability, same discipline as ts_change_points: values
    quantize to integer cents, every moment (Σx, Σx², Σxy) accumulates
    in exact decimal(38,0) (order-independent, mirroring DuckDB's
    SUM→HUGEINT promotion so neither engine wraps), and the textbook
    n·Σxy − Σx·Σy form keeps even the covariance exact — doubles
    appear only in the final division and sqrt, both correctly-rounded
    single IEEE ops, so the correlation is identical on both engines
    at full precision (the round(6) guards nothing but future drift).

    Scale shape: one shuffle on the series key; the lag window and the
    moment aggregation share the same per-series sort, and the moments
    partial-aggregate. decimal(38,0) accumulation is safe to ~1e38 —
    ~1e26 rows/series at cents² ≈ 1e12/row — beyond which Spark nulls
    (never wraps) and DuckDB's HUGEINT overflows too."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
    )
    order = Window.partitionBy("event_type").orderBy("ts", "event_id")
    lagged = ev.select(
        "event_type", "c", F.lag("c", 10).over(order).alias("cl")
    ).filter(F.col("cl").isNotNull())
    # decimal promotion BEFORE the multiply (round-13, closing the
    # round-12 verdict's cast-wrapped blind spot: the prior form
    # dec(c * c) multiplied in BIGINT and cast the already-computed
    # product — latent ANSI ARITHMETIC_OVERFLOW once per-row cents²
    # outgrow ~9.2e18, the same class that broke agg_ols_by_group).
    # decimal(19,0)² → decimal(38,0) products, exact sums to ~1e38,
    # mirroring DuckDB's SUM→HUGEINT promotion so neither engine wraps.
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    cd = F.col("c").cast("decimal(19,0)")
    cld = F.col("cl").cast("decimal(19,0)")
    _D = "decimal(38,0)"
    s = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("c"))).alias("sx"),
        F.sum(dec(F.col("cl"))).alias("sy"),
        F.sum(cd * cd).cast(_D).alias("sxx"),
        F.sum(cld * cld).cast(_D).alias("syy"),
        F.sum(cd * cld).cast(_D).alias("sxy"),
    )
    n_dec = F.col("n").cast("decimal(38,0)")
    num = (n_dec * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (n_dec * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (n_dec * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_pairs"),
        F.round(num / den, 6).alias("autocorr"),
    )


@query(
    "stream_transform_with_state",
    # final per-key state is batching-independent (integer cents,
    # quantized per row). Rounding-mode note: the operator quantizes
    # with pandas .round() (half-even) vs DuckDB round() (half-away);
    # they can only differ on EXACT half-cent values, which the
    # continuous-valued fixture contains zero of (checked at all three
    # SFs) and which are measure-zero for real-valued streams.
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events GROUP BY user_id
    """,
)
def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful processing via transformWithStateInPandas —
    Spark 4's successor to applyInPandasWithState (SPARK-46815): a
    StatefulProcessor object with NAMED, individually-typed state
    variables (plus timers and TTL in the full API) instead of one
    monolithic state tuple. Here: per-user ValueState carrying
    (n_events, total_cents) rolled forward across micro-batches —
    the per-key-model extension point (counters, CEP, online stats)
    that built-in streaming aggregates can't express.

    AvailableNow drains the fixture; state lives in the per-partition
    state store exactly as in a continuous run, so the plumbing is the
    production shape. Values accumulate as integer cents — exact and
    order-independent across batch boundaries.

    ENV GATE: the transformWithState Python worker needs the protobuf
    package (its state-server protocol is proto-encoded), which this
    container does not ship — when `google.protobuf` is missing the
    operator computes the IDENTICAL result through
    applyInPandasWithState (one packed state tuple instead of named
    state variables), keeping the query surface and output stable;
    with protobuf present the real StatefulProcessor path runs."""
    from parquet_importer_spark.streaming.microbatch import as_stream_dir

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(table_path(sf_dir, "events")).schema

    try:
        from google.protobuf import descriptor  # noqa: F401, PLC0415

        has_protobuf = True
    except ImportError:
        has_protobuf = False

    name = f"tws_{uuid.uuid4().hex[:8]}"
    source = spark.readStream.schema(schema).parquet(
        as_stream_dir(table_path(sf_dir, "events"))
    )
    out_schema = "user_id bigint, n_events bigint, total_cents bigint"
    if has_protobuf:
        from pyspark.sql.streaming.stateful_processor import (  # noqa: PLC0415
            StatefulProcessor,
            StatefulProcessorHandle,
        )

        class RunningTotals(StatefulProcessor):
            # self-contained: executor workers don't import this package
            def init(self, handle: StatefulProcessorHandle) -> None:
                self.totals = handle.getValueState(
                    "totals", "n bigint, cents bigint"
                )

            def handleInputRows(self, key, rows, timerValues):
                import pandas as pd  # noqa: PLC0415

                prev = self.totals.get() if self.totals.exists() else (0, 0)
                n, cents = int(prev[0]), int(prev[1])
                for pdf in rows:
                    n += len(pdf)
                    # quantize PER ROW: the total is then independent
                    # of how rows split across batches
                    cents += int(
                        (pdf["value"].astype(float) * 100)
                        .round()
                        .astype("int64")
                        .sum()
                    )
                self.totals.update((n, cents))
                yield pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "n_events": [n],
                        "total_cents": [cents],
                    }
                )

            def close(self) -> None:
                pass

        stream = source.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=RunningTotals(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    else:
        from pyspark.sql.streaming.state import (  # noqa: PLC0415
            GroupStateTimeout,
        )

        def running_totals(key, pdfs, state):
            # same semantics, packed state tuple
            import pandas as pd  # noqa: PLC0415

            n, cents = state.get if state.exists else (0, 0)
            for pdf in pdfs:
                n += len(pdf)
                cents += int(
                    (pdf["value"].astype(float) * 100)
                    .round()
                    .astype("int64")
                    .sum()
                )
            state.update((n, cents))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_cents": [cents],
                }
            )

        stream = source.groupBy("user_id").applyInPandasWithState(
            running_totals,
            outputStructType=out_schema,
            stateStructType="n bigint, cents bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # latest emission per user = the final running totals
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_cents").alias("total_cents"),
        )
    )


@query(
    "ts_seasonal_decompose",
    oracle="""
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE), 8)
               / COUNT(*) AS mean_v
      FROM events GROUP BY 1, 2
    ),
    tr AS (
      SELECT event_type, bucket, mean_v,
             ROUND(CAST(SUM(CAST(mean_v AS DECIMAL(30,8))) OVER w
                        AS DOUBLE), 8) / COUNT(*) OVER w AS trend
      FROM h
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket
                   ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
    ),
    de AS (
      SELECT event_type, bucket, mean_v, trend,
             mean_v - trend AS detrended
      FROM tr
    ),
    se AS (
      SELECT event_type, bucket, mean_v, trend, detrended,
             ROUND(CAST(SUM(CAST(detrended AS DECIMAL(30,8))) OVER s
                        AS DOUBLE), 8) / COUNT(*) OVER s AS seasonal
      FROM de
      WINDOW s AS (PARTITION BY event_type, extract(hour FROM bucket))
    )
    SELECT event_type, bucket, mean_v, trend, seasonal,
           detrended - seasonal AS residual
    FROM se
    """,
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the hourly event
    series: value = trend + seasonal + residual. Trend is a centered
    5-point moving average per event type; the seasonal component is
    the mean detrended value at each hour-of-day (the daily cycle);
    what remains is the residual an anomaly gate would threshold
    (ts_anomaly_mad is the robust sibling). This is the
    decompose-before-detect shape every monitoring pipeline runs.

    Float contract (registry.exact_avg shape, SURVEY §7.4.1): every
    mean ROUNDs its DECIMAL(30,8)-accumulated sum back onto the 8dp
    grid and divides LAST — one identical IEEE division on both
    engines — and differences of identical doubles are never
    re-rounded (rounding a quotient would sit on a half-point;
    dividing a grid-snapped sum cannot).

    Scale shape: one partial-agg rollup to hourly grain (the only
    full-data pass — everything after runs on |types| x |hours| rows),
    then two window functions over the SAME partition-by-event_type
    exchange (Catalyst reuses it; the hour-of-day partition is a
    repartition of already-tiny data). At 100 TB the raw-events
    rollup is the entire cost and it is map-combinable."""
    ev = read_table(spark, sf_dir, "events")

    def dec_mean(col: str, over=None) -> F.Column:
        sm = F.sum(F.col(col).cast(_DEC))
        ct = F.count(F.lit(1))
        if over is not None:
            sm, ct = sm.over(over), ct.over(over)
        return F.round(sm.cast("double"), 8) / ct

    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(
        (
            F.round(F.sum(F.col("value").cast(_DEC)).cast("double"), 8)
            / F.count(F.lit(1))
        ).alias("mean_v")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(-2, 2)
    )
    tr = h.withColumn("trend", dec_mean("mean_v", w))
    de = tr.withColumn("detrended", F.col("mean_v") - F.col("trend"))
    s = Window.partitionBy("event_type", F.hour("bucket"))
    se = de.withColumn("seasonal", dec_mean("detrended", s))
    return se.select(
        "event_type",
        "bucket",
        "mean_v",
        "trend",
        "seasonal",
        (F.col("detrended") - F.col("seasonal")).alias("residual"),
    )


@query(
    "ts_ewma",
    oracle="""
    WITH x AS (
      SELECT event_type, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    w AS (
      SELECT event_type, event_id,
             list(cents) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS l
      FROM x
    )
    SELECT event_type, event_id,
           CAST(len(l) AS BIGINT) AS n_window,
           (CAST(list_sum(list_transform(range(1, len(l) + 1),
                  i -> l[i] * (CAST(1 AS BIGINT) << (i - 1))))
                 AS DOUBLE)
            / ((CAST(1 AS BIGINT) << len(l)) - 1)) / 100.0 AS ewma
    FROM w
    """,
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per event series — the
    smoothing primitive under alerting thresholds and trend lines.
    Weights are DYADIC (newest = 2^(K-1), halving back through the
    16-row window, normalized by 2^K − 1 — the alpha = 1/2 EWMA,
    truncated and renormalized): with integer-cents inputs every
    weighted sum is EXACT BIGINT (max |num| ≈ 1e5·2^15·16 ≈ 5e10,
    well under 2^53, so even the final cast to double is exact), and
    the only floating ops are one division chain both engines execute
    identically. Same integer-exactness playbook as ts_change_points'
    CUSUM; no rounding contract needed at all.

    The Spark side folds the weighted sum in HORNER form —
    aggregate(reverse(window), acc·2 + x) — so no per-element power
    or shift is ever built; the oracle's shift-and-sum formulation
    produces the identical integer.

    Scale shape: one shuffle on the series key; the 16-row frame
    bounds both state and the fold. collect_list carries 16 BIGINTs
    per row — 128 bytes, not a corpus."""
    ev = read_table(spark, sf_dir, "events")
    x = ev.select(
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-15, 0)
    )
    l = F.collect_list("cents").over(w)
    out = x.select("event_type", "event_id", l.alias("l"))
    num = F.aggregate(
        F.reverse("l"),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc * 2 + v,
    )
    den = F.pow(F.lit(2.0), F.size("l")).cast("bigint") - 1
    return out.select(
        "event_type",
        "event_id",
        F.size("l").cast("bigint").alias("n_window"),
        ((num.cast("double") / den) / F.lit(100.0)).alias("ewma"),
    )


_HOURLY_MEAN_SQL = """
      SELECT event_type,
             CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE), 8)
               / COUNT(*) AS mean_v
      FROM events GROUP BY 1, 2
"""


@query(
    "ts_sax",
    oracle=f"""
    WITH h AS ({_HOURLY_MEAN_SQL}),
    st AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             ROUND(CAST(SUM(CAST(mean_v AS DECIMAL(30,8))) AS DOUBLE), 8) AS s,
             ROUND(CAST(SUM(CAST(mean_v * mean_v AS DECIMAL(38,12)))
                        AS DOUBLE), 12) AS s2
      FROM h GROUP BY event_type
    ),
    z AS (
      SELECT h.event_type, h.bucket,
             CASE WHEN st.n < 2 OR st.s2 - (st.s / st.n) * st.s <= 0 THEN 'c'
                  WHEN (h.mean_v - st.s / st.n)
                       / sqrt((st.s2 - (st.s / st.n) * st.s) / (st.n - 1))
                       < -0.6745 THEN 'a'
                  WHEN (h.mean_v - st.s / st.n)
                       / sqrt((st.s2 - (st.s / st.n) * st.s) / (st.n - 1))
                       < 0.0 THEN 'b'
                  WHEN (h.mean_v - st.s / st.n)
                       / sqrt((st.s2 - (st.s / st.n) * st.s) / (st.n - 1))
                       < 0.6745 THEN 'c'
                  ELSE 'd' END AS sym
      FROM h JOIN st USING (event_type)
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_buckets,
           string_agg(sym, '' ORDER BY bucket) AS sax_word
    FROM z GROUP BY event_type
    """,
)
def ts_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation, Lin et al. 2003) of each
    hourly event series: z-normalize the per-type hourly means, bin
    against the standard-normal quartile breakpoints (±0.6745, 0) into
    a 4-letter alphabet, and emit the per-series symbol word. SAX is
    the discretization layer under time-series motif discovery /
    similarity indexing — the word is groupable and prefix-comparable
    where raw doubles are not (the symbolic sibling of ts_resample +
    win_moving_zscore).

    Float contract: moments accumulate decimal-exact then snap to
    their grids (s at 8dp, s² at 12dp — doubles cast to decimal see
    no ties, operators/graph.py note); every later step — μ = s/n,
    var = (s2 − μ·s)/(n−1), sqrt (IEEE-exact-rounded), the z quotient,
    the breakpoint compares — is the IDENTICAL expression tree on
    both engines, so each bucket's symbol matches exactly. Degenerate
    flat series (var ≤ 0) pin to 'c' before any division.

    Scale shape: the raw-event rollup to hourly grain is the only
    full-data pass (map-combinable); the stats row per series
    broadcasts; the word assembly aggregates |types| × |hours| rows
    ordered within each series partition."""
    ev = read_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(
        (
            F.round(F.sum(F.col("value").cast(_DEC)).cast("double"), 8)
            / F.count(F.lit(1))
        ).alias("mean_v")
    )
    st = h.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum(F.col("mean_v").cast(_DEC)).cast("double"), 8).alias(
            "s"
        ),
        F.round(
            F.sum(
                (F.col("mean_v") * F.col("mean_v")).cast("decimal(38,12)")
            ).cast("double"),
            12,
        ).alias("s2"),
    )
    mu = F.col("s") / F.col("n")
    num = F.col("s2") - mu * F.col("s")
    sd = F.sqrt(num / (F.col("n") - 1))
    z = (F.col("mean_v") - mu) / sd
    sym = (
        F.when((F.col("n") < 2) | (num <= 0), "c")
        .when(z < -0.6745, "a")
        .when(z < 0.0, "b")
        .when(z < 0.6745, "c")
        .otherwise("d")
    )
    zt = h.join(st, "event_type").select(
        "event_type", "bucket", sym.alias("sym")
    )
    return zt.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.concat_ws(
            "",
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("bucket", "sym"))
                ),
                lambda x: x["sym"],
            ),
        ).alias("sax_word"),
    )


@query(
    "ts_theilsen_trend",
    oracle=f"""
    WITH h AS ({_HOURLY_MEAN_SQL}),
    r AS (
      SELECT event_type, mean_v,
             CAST(FLOOR(epoch(bucket) / 3600) AS BIGINT) AS hr,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY bucket) AS rn
      FROM h
    ),
    f AS (SELECT * FROM r WHERE rn <= 48),
    sl AS (
      SELECT a.event_type,
             (b.mean_v - a.mean_v) / CAST(b.hr - a.hr AS DOUBLE) AS slope
      FROM f a JOIN f b
        ON a.event_type = b.event_type AND a.rn < b.rn
    ),
    o AS (
      SELECT event_type, slope,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY slope) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM sl
    )
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_pairs,
           CASE WHEN MAX(n) % 2 = 1
                THEN MAX(CASE WHEN rn = (n + 1) // 2 THEN slope END)
                ELSE (MAX(CASE WHEN rn = n // 2 THEN slope END)
                      + MAX(CASE WHEN rn = n // 2 + 1 THEN slope END))
                     / 2 END AS theil_sen_slope
    FROM o GROUP BY event_type
    """,
)
def ts_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend estimator per event series: the MEDIAN of
    all pairwise slopes over the first 48 hourly buckets — up to 29.3%
    of the points can be arbitrary outliers without moving the
    estimate, where the OLS slope (win_pct_change's world) breaks at
    one. The 48-bucket window bounds the O(n²) pair set at 1128 pairs
    per series; production fits run this per day/week partition, which
    is exactly this shape with PARTITION BY added.

    Median selection is EXPLICIT rank arithmetic (row_number over the
    slope order, pick ⌈n/2⌉ / average the two middles) rather than an
    engine median() — interpolating medians differ across engines,
    rank selection cannot: equal-valued slopes make the picked VALUE
    order-independent, the halving of the even case is an exact
    power-of-two scale, and every slope is two IEEE ops (subtract,
    divide by an exact integer hour gap) on identical inputs.

    Scale shape: hourly rollup (map-combinable) → per-series pair
    expansion INSIDE the series partition (no cross-key shuffle) →
    one windowed sort per series. The same exchange serves row_number
    and the windowed count."""
    ev = read_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(
        (
            F.round(F.sum(F.col("value").cast(_DEC)).cast("double"), 8)
            / F.count(F.lit(1))
        ).alias("mean_v")
    )
    r = h.select(
        "event_type",
        "mean_v",
        F.floor(F.unix_timestamp("bucket") / 3600).cast("bigint").alias("hr"),
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("bucket"))
        .alias("rn"),
    ).filter(F.col("rn") <= 48)
    a, b = r.alias("a"), r.alias("b")
    sl = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.rn") < F.col("b.rn")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.mean_v") - F.col("a.mean_v"))
            / (F.col("b.hr") - F.col("a.hr")).cast("double")
        ).alias("slope"),
    )
    wo = Window.partitionBy("event_type").orderBy("slope")
    wn = Window.partitionBy("event_type")
    o = sl.select(
        "event_type",
        "slope",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    mid_odd = F.max(
        F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("slope"))
    )
    lo = F.max(F.when(F.col("rn") == F.expr("n DIV 2"), F.col("slope")))
    hi = F.max(
        F.when(F.col("rn") == F.expr("n DIV 2 + 1"), F.col("slope"))
    )
    n = F.max("n")
    return o.groupBy("event_type").agg(
        n.cast("bigint").alias("n_pairs"),
        F.when(n % 2 == 1, mid_odd)
        .otherwise((lo + hi) / 2)
        .alias("theil_sen_slope"),
    )


@query(
    "ts_double_ewma_forecast",
    oracle="""
    WITH x AS (
      SELECT event_type, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    p1 AS (
      SELECT event_type, ts, event_id, rn,
             list(cents) OVER w8 AS l1
      FROM x
      WINDOW w8 AS (PARTITION BY event_type ORDER BY ts, event_id
                    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
    ),
    s1 AS (
      SELECT event_type, ts, event_id, rn,
             list_sum(list_transform(range(1, len(l1) + 1),
               i -> l1[i] * (CAST(1 AS BIGINT) << (i - 1)))) AS num1
      FROM p1
    ),
    p2 AS (
      SELECT event_type, event_id, rn, num1,
             list(num1) OVER w8 AS l2
      FROM s1
      WINDOW w8 AS (PARTITION BY event_type ORDER BY ts, event_id
                    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
    ),
    s2 AS (
      SELECT event_type, event_id, rn, num1,
             list_sum(list_transform(range(1, len(l2) + 1),
               i -> l2[i] * (CAST(1 AS BIGINT) << (i - 1)))) AS num2
      FROM p2
    )
    SELECT event_type, event_id,
           CAST(num1 AS DOUBLE) / 25500.0 AS s1,
           CAST(num2 AS DOUBLE) / 6502500.0 AS s2,
           CAST(2 * 255 * num1 - num2 AS DOUBLE) / 6502500.0 AS level,
           CAST(255 * num1 - num2 AS DOUBLE) / 6502500.0 AS trend,
           CAST((2 * 255 * num1 - num2) + 3 * (255 * num1 - num2)
                AS DOUBLE) / 6502500.0 AS forecast3
    FROM s2 WHERE rn >= 15
    """,
)
def ts_double_ewma_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown's double exponential smoothing per event series — the
    level + trend forecaster one rung above ts_ewma: smooth the series
    (s1), smooth the smoothed series (s2), and read off
    level = 2·s1 − s2, trend ∝ s1 − s2, and the h-step forecast
    level + h·trend (h = 3 here). This is the classic capacity-planning
    / alert-projection primitive for locally-linear series, where a
    single EWMA systematically lags the trend.

    Float contract (the ts_ewma dyadic playbook, squared): both passes
    use the truncated alpha = 1/2 dyadic-weight window over 8 rows, so
    with integer-cents inputs num1 = Σ cents·2^i and num2 = Σ num1·2^i
    are EXACT BIGINTs (|num2| ≲ |value|·100·255² ≈ 4e9 here, and still
    < 2^53 for values up to 10^9); level/trend/forecast numerators are
    integer combinations of them, and the ONLY floating op per output
    column is one division by the common denominator 255²·100 — both
    engines divide identical integers. Emitted from row 15 of each
    series on, where both windows are full (the closed-form rational
    algebra needs the uniform 255 / 255² denominators).

    Scale shape: one shuffle on the series key; BOTH window passes and
    the row_number ride the identical (partition, order) — a single
    exchange + sort reused three times (the win_gaps_islands pattern);
    8-element frames bound all state."""
    ev = read_table(spark, sf_dir, "events")
    x = ev.select(
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    wo = Window.partitionBy("event_type").orderBy("ts", "event_id")
    w8 = wo.rowsBetween(-7, 0)
    horner = lambda col: F.aggregate(  # noqa: E731
        F.reverse(col), F.lit(0).cast("bigint"), lambda acc, v: acc * 2 + v
    )
    p1 = x.select(
        "event_type",
        "ts",
        "event_id",
        F.row_number().over(wo).alias("rn"),
        horner(F.collect_list("cents").over(w8)).alias("num1"),
    )
    s2 = p1.select(
        "event_type",
        "event_id",
        "rn",
        "num1",
        horner(F.collect_list("num1").over(w8)).alias("num2"),
    ).filter(F.col("rn") >= 15)
    num1, num2 = F.col("num1"), F.col("num2")
    den = F.lit(6502500.0)  # 255^2 * 100
    level_num = 2 * 255 * num1 - num2
    trend_num = 255 * num1 - num2
    return s2.select(
        "event_type",
        "event_id",
        (num1.cast("double") / 25500.0).alias("s1"),
        (num2.cast("double") / den).alias("s2"),
        (level_num.cast("double") / den).alias("level"),
        (trend_num.cast("double") / den).alias("trend"),
        ((level_num + 3 * trend_num).cast("double") / den).alias("forecast3"),
    )


@query(
    "ts_cross_correlation",
    oracle="""
    WITH h AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) / 3600 AS hb,
             SUM(CAST(round(value * 100) AS BIGINT)) AS s
      FROM events GROUP BY 1, 2
    ),
    lags AS (SELECT unnest(range(0, 4)) AS lag),
    p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, l.lag,
             a.s AS x, b.s AS y
      FROM h a
      JOIN lags l ON TRUE
      JOIN h b ON b.hb = a.hb + l.lag AND a.event_type < b.event_type
    ),
    m AS (
      SELECT type_a, type_b, lag,
             CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
             CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
             CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS DECIMAL(38,0)) AS sxx,
             CAST(SUM(CAST(y AS HUGEINT) * y) AS DECIMAL(38,0)) AS syy,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS DECIMAL(38,0)) AS sxy
      FROM p GROUP BY 1, 2, 3
    )
    SELECT type_a, type_b, CAST(lag AS INT) AS lag,
           CAST(n AS BIGINT) AS n_pairs,
           CASE WHEN n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0
                THEN 0.0
                ELSE ROUND(
                  CAST(n * sxy - sx * sy AS DOUBLE)
                  / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                         * CAST(n * syy - sy * sy AS DOUBLE)), 6)
           END AS xcorr
    FROM m
    """,
)
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between every ordered pair of event
    series (lags 0–3 hours): Pearson correlation of type A's hourly
    total against type B's total ``lag`` hours later — the
    lead/lag-discovery diagnostic behind causal dashboards ("signups
    lead purchases by 2h") and transfer-function forecasting; the
    two-series sibling of ts_autocorr.

    Bit-portability (the ts_autocorr discipline, two series): hourly
    totals are exact BIGINT sums of integer cents keyed by integer
    epoch-hours (timezone pinned UTC, so bucket alignment is pure
    integer arithmetic); all five moments accumulate in
    DECIMAL(38,0); the textbook n·Σxy − ΣxΣy form evaluates as ONE
    shared float expression, degenerate variance pinned to 0.0 before
    any division.

    Scale shape: the raw-events rollup to (type, hour) grain is the
    only full-data pass (map-combinable); the lag join and moment
    aggregation run on |types|×|hours| rows — at 100 TB the hourly
    grain IS the compression, the same shape as ts_seasonal_decompose.
    """
    ev = read_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type",
        (
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).cast("bigint")
            / F.lit(3600)
        ).cast("bigint").alias("hb"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("s")
    )
    lags = spark.range(0, 4).select(F.col("id").alias("lag"))
    a = h.select(
        F.col("event_type").alias("type_a"),
        F.col("hb").alias("hb_a"),
        F.col("s").alias("x"),
    )
    b = h.select(
        F.col("event_type").alias("type_b"),
        F.col("hb").alias("hb_b"),
        F.col("s").alias("y"),
    )
    p = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("hb_b") == F.col("hb_a") + F.col("lag"))
            & (F.col("type_a") < F.col("type_b")),
        )
    )
    _D = "decimal(38,0)"
    # decimal promotion BEFORE the multiply (round-12 census find:
    # sf100 threw ARITHMETIC_OVERFLOW — same term as agg_ols_by_group,
    # see the comment there; the moments frame is |pairs|x|lags| rows,
    # so the decimal math costs nothing)
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    m = p.groupBy("type_a", "type_b", "lag").agg(
        F.count(F.lit(1)).cast(_D).alias("n"),
        F.sum("x").cast(_D).alias("sx"),
        F.sum("y").cast(_D).alias("sy"),
        F.sum(xd * xd).cast(_D).alias("sxx"),
        F.sum(yd * yd).cast(_D).alias("syy"),
        F.sum(xd * yd).cast(_D).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    xcorr = F.when((vx <= 0) | (vy <= 0), F.lit(0.0)).otherwise(
        F.round(
            (n * sxy - sx * sy).cast("double")
            / F.sqrt(vx.cast("double") * vy.cast("double")),
            6,
        )
    )
    return m.select(
        "type_a",
        "type_b",
        F.col("lag").cast("int").alias("lag"),
        n.cast("bigint").alias("n_pairs"),
        xcorr.alias("xcorr"),
    )


@query(
    "ts_haar_energy",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             SUM(CAST(round(value * 100) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, x,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY hr
             ) - 1 AS h
      FROM hourly
    ),
    head AS (SELECT event_type, h, x FROM idx WHERE h < 16),
    lv(lvl, pw, pw2) AS (VALUES (1, 1, 2), (2, 2, 4), (3, 4, 8), (4, 8, 16)),
    coeff AS (
      SELECT event_type, lvl, h // pw2 AS j,
             SUM(CASE WHEN (h // pw) % 2 = 0 THEN x ELSE -x END) AS d
      FROM head, lv
      GROUP BY 1, 2, 3
    )
    SELECT event_type, CAST(lvl AS INT) AS lvl,
           CAST(COUNT(*) AS BIGINT) AS n_coeffs,
           CAST(SUM(CAST(d AS DECIMAL(38,0)) * d) AS BIGINT) AS energy
    FROM coeff GROUP BY 1, 2
    """,
)
def ts_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series Haar wavelet energy spectrum over the first 16 hourly
    totals (integer cents): at each dyadic level l the unnormalized
    detail coefficient is (sum of one 2^(l-1)-hour block) minus (the
    next block); the per-level sum of squared details localizes the
    series' variance by time scale — the burst-vs-drift discriminator
    behind multi-resolution anomaly detection and the compaction step
    of wavelet synopses (Chakrabarti et al., VLDB 2000). Level 1
    energy = hour-to-hour jitter; level 4 = half-day drift.

    Everything is exact integer arithmetic: signed block sums stay
    BIGINT, squares accumulate in DECIMAL(38,0), so both engines agree
    bit-for-bit (no sqrt-2 normalization doubles — the conventional
    1/2^(l/2) factor is a constant per level and irrelevant to
    level-wise comparison).

    Scale shape: the ONLY corpus-sized pass is the map-combinable
    (event_type, hour) rollup; everything after runs on |series| x 16
    rows — the signed-sum trick turns the recursive wavelet cascade
    into ONE flat groupBy per (series, level, block) with no
    level-to-level dependency, so all four levels compute in a single
    shuffle over a levels x head cross of tiny literal width (4x)."""
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("hr")
    head = (
        hourly.select(
            "event_type", "x", (F.row_number().over(w) - 1).alias("h")
        )
        .filter(F.col("h") < 16)
    )
    lv = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(lvl).alias("lvl"),
                    F.lit(1 << (lvl - 1)).alias("pw"),
                    F.lit(1 << lvl).alias("pw2"),
                )
                for lvl in (1, 2, 3, 4)
            ]
        )
    ).alias("lv")
    coeff = (
        head.select("event_type", "h", "x", lv)
        .select(
            "event_type",
            F.col("lv.lvl").alias("lvl"),
            F.expr("h DIV lv.pw2").alias("j"),
            F.expr("CASE WHEN (h DIV lv.pw) % 2 = 0 THEN x ELSE -x END").alias(
                "sx"
            ),
        )
        .groupBy("event_type", "lvl", "j")
        .agg(F.sum("sx").alias("d"))
    )
    return coeff.groupBy("event_type", F.col("lvl").cast("int").alias("lvl")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_coeffs"),
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d"))
        .cast("bigint")
        .alias("energy"),
    )


@query(
    "ts_downsample_lttb",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             SUM(CAST(round(value * 100) AS BIGINT)) AS y
      FROM events GROUP BY 1, 2
    ),
    pts AS (
      SELECT event_type, y,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY hr
             ) - 1 AS h
      FROM hourly
    ),
    bk AS (SELECT event_type, h, y, h // 24 AS b FROM pts),
    agg AS (
      SELECT event_type, b,
             CAST(COUNT(*) AS DECIMAL(38,0)) AS nb,
             CAST(SUM(h) AS DECIMAL(38,0)) AS sh,
             CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
             MIN(h) AS hmin, MAX(h) AS hmax,
             arg_min(y, h) AS y_first, arg_max(y, h) AS y_last
      FROM bk GROUP BY 1, 2
    ),
    ext AS (
      SELECT event_type, MIN(b) AS bmin, MAX(b) AS bmax
      FROM agg GROUP BY 1
    ),
    scored AS (
      SELECT k.event_type, k.b, k.h, k.y,
             abs(
               (p.sh * nx.nb - nx.sh * p.nb)
                 * (CAST(k.y AS DECIMAL(38,0)) * p.nb - p.sy)
               - (p.sh - CAST(k.h AS DECIMAL(38,0)) * p.nb)
                 * (nx.sy * p.nb - p.sy * nx.nb)
             ) AS score
      FROM bk k
      JOIN agg p  ON p.event_type = k.event_type AND p.b = k.b - 1
      JOIN agg nx ON nx.event_type = k.event_type AND nx.b = k.b + 1
    ),
    pick_mid AS (
      SELECT event_type, b, h, y FROM (
        SELECT event_type, b, h, y,
               ROW_NUMBER() OVER (
                 PARTITION BY event_type, b ORDER BY score DESC, h
               ) AS rn
        FROM scored
      ) WHERE rn = 1
    ),
    ends AS (
      SELECT a.event_type, a.b, a.hmin AS h, a.y_first AS y
      FROM agg a JOIN ext x
        ON x.event_type = a.event_type AND a.b = x.bmin
      UNION ALL
      SELECT a.event_type, a.b, a.hmax AS h, a.y_last AS y
      FROM agg a JOIN ext x
        ON x.event_type = a.event_type AND a.b = x.bmax
    )
    SELECT event_type, CAST(b AS BIGINT) AS bucket,
           CAST(h AS BIGINT) AS sel_h, CAST(y AS BIGINT) AS sel_y
    FROM (SELECT * FROM pick_mid UNION ALL SELECT * FROM ends)
    """,
)
def ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual time-series downsampling, LTTB-style (Steinarsson's
    Largest-Triangle-Three-Buckets, parallelized): split each series'
    hourly cent totals into 24-hour buckets and keep, per interior
    bucket, the point forming the largest triangle with its NEIGHBOR
    BUCKET MEAN points; first/last buckets pin their first/last point,
    as the sequential algorithm does. The visual-fidelity downsampler
    dashboards use (720 points -> 30) — peaks and cliffs survive where
    naive bucket means would flatten them.

    The sequential LTTB anchors on the PREVIOUSLY SELECTED point —
    an inherently serial dependency; anchoring on the neighbor bucket
    means instead (the standard parallel relaxation) makes every
    bucket independent: one bucket-stats aggregate, two slim
    self-joins to fetch neighbor stats, one argmax window per bucket.
    Triangle areas are computed with denominators CLEARED (multiply
    through by n_prev^2 * n_next) so the argmax compares exact
    DECIMAL(38,0) integers — no float area ever breaks cross-engine
    ties; ties broken by earliest hour.

    Scale shape: the corpus pass is the map-combinable (type,hour)
    rollup; bucket stats, neighbor joins, and the per-bucket argmax
    all run on |series| x |buckets| rows. The bucket width is the
    compression knob (24 h -> 30 pts here; at 100 TB pick width =
    points/target)."""
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("y"))
    w = Window.partitionBy("event_type").orderBy("hr")
    bk = hourly.select(
        "event_type", "y", (F.row_number().over(w) - 1).alias("h")
    ).withColumn("b", F.expr("h DIV 24"))
    _D = "decimal(38,0)"
    agg = bk.groupBy("event_type", "b").agg(
        F.count(F.lit(1)).cast(_D).alias("nb"),
        F.sum("h").cast(_D).alias("sh"),
        F.sum("y").cast(_D).alias("sy"),
        F.min("h").alias("hmin"),
        F.max("h").alias("hmax"),
        F.min_by("y", "h").alias("y_first"),
        F.max_by("y", "h").alias("y_last"),
    )
    ext = agg.groupBy("event_type").agg(
        F.min("b").alias("bmin"), F.max("b").alias("bmax")
    )
    p = agg.select(
        F.col("event_type").alias("et"),
        (F.col("b") + 1).alias("bp"),
        F.col("nb").alias("np"),
        F.col("sh").alias("shp"),
        F.col("sy").alias("syp"),
    )
    nx = agg.select(
        F.col("event_type").alias("et"),
        (F.col("b") - 1).alias("bn"),
        F.col("nb").alias("nn"),
        F.col("sh").alias("shn"),
        F.col("sy").alias("syn"),
    )
    scored = (
        bk.join(
            p,
            (F.col("event_type") == F.col("et")) & (F.col("b") == F.col("bp")),
        )
        .drop("et", "bp")
        .join(
            nx,
            (F.col("event_type") == F.col("et")) & (F.col("b") == F.col("bn")),
        )
        .drop("et", "bn")
        .withColumn(
            "score",
            F.abs(
                (F.col("shp") * F.col("nn") - F.col("shn") * F.col("np"))
                * (F.col("y").cast(_D) * F.col("np") - F.col("syp"))
                - (F.col("shp") - F.col("h").cast(_D) * F.col("np"))
                * (F.col("syn") * F.col("np") - F.col("syp") * F.col("nn"))
            ),
        )
    )
    wpick = Window.partitionBy("event_type", "b").orderBy(
        F.col("score").desc(), "h"
    )
    pick_mid = (
        scored.withColumn("rn", F.row_number().over(wpick))
        .filter(F.col("rn") == 1)
        .select("event_type", "b", "h", "y")
    )
    first = (
        agg.join(ext, "event_type")
        .filter(F.col("b") == F.col("bmin"))
        .select(
            "event_type", "b", F.col("hmin").alias("h"), F.col("y_first").alias("y")
        )
    )
    last = (
        agg.join(ext, "event_type")
        .filter(F.col("b") == F.col("bmax"))
        .select(
            "event_type", "b", F.col("hmax").alias("h"), F.col("y_last").alias("y")
        )
    )
    return (
        pick_mid.unionAll(first)
        .unionAll(last)
        .select(
            "event_type",
            F.col("b").cast("bigint").alias("bucket"),
            F.col("h").cast("bigint").alias("sel_h"),
            F.col("y").cast("bigint").alias("sel_y"),
        )
    )


@query(
    "ts_burst_detect",
    oracle="""
    WITH h AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hb,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    t AS (
      SELECT event_type, SUM(c) AS tot, COUNT(*) AS nh
      FROM h GROUP BY 1
    ),
    b AS (
      SELECT h.event_type, h.hb, h.c
      FROM h JOIN t USING (event_type)
      WHERE 3 * h.c * t.nh >= 4 * t.tot
    ),
    g AS (
      SELECT event_type, hb, c,
             hb - ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY hb
             ) AS isl
      FROM b
    )
    SELECT event_type,
           MIN(hb) AS start_hb,
           MAX(hb) AS end_hb,
           COUNT(*) AS n_hours,
           MAX(c) AS peak_cnt,
           CAST(SUM(c) AS BIGINT) AS burst_events
    FROM g GROUP BY event_type, isl
    """,
)
def ts_burst_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection over event streams: hours whose count is ≥ 4/3×
    the series' mean hourly rate, merged into maximal runs of
    consecutive burst hours (gaps-and-islands), one row per burst with
    span / peak / volume — the alerting primitive behind "traffic
    spike" and trending-topic detectors (a thresholded, batch-shaped
    cousin of Kleinberg's burst automaton).

    Everything is integer: the threshold comparison is cross-
    multiplied (3·c·nh ≥ 4·tot) so no mean is ever materialized as a
    float, and islands key on hb − row_number(). Zero float drift by
    construction.

    Scale shape: ONE map-combinable corpus rollup to (type, hour)
    grain; the per-type totals join is |types| rows (broadcast); the
    island window + final groupBy ride one slim (type)-keyed exchange
    over burst hours only. At 100 TB the hourly grain table is ~5
    orders smaller than the corpus — every stage after the first
    scan is dimension-sized. A trailing-baseline variant (count vs
    preceding-24h mean) swaps the totals join for a range-frame window
    on the SAME exchange."""
    ev = read_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type",
        (
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).cast("bigint")
            / F.lit(3600)
        ).cast("bigint").alias("hb"),
    ).agg(F.count(F.lit(1)).alias("c"))
    t = h.groupBy("event_type").agg(
        F.sum("c").alias("tot"), F.count(F.lit(1)).alias("nh")
    )
    b = h.join(F.broadcast(t), "event_type").filter(
        3 * F.col("c") * F.col("nh") >= 4 * F.col("tot")
    )
    w = Window.partitionBy("event_type").orderBy("hb")
    g = b.withColumn("isl", F.col("hb") - F.row_number().over(w))
    return g.groupBy("event_type", "isl").agg(
        F.min("hb").alias("start_hb"),
        F.max("hb").alias("end_hb"),
        F.count(F.lit(1)).alias("n_hours"),
        F.max("c").alias("peak_cnt"),
        F.sum("c").cast("bigint").alias("burst_events"),
    ).drop("isl")


@query(
    "ts_max_drawdown",
    oracle="""
    WITH h AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hb,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type, hb, c,
             MAX(c) OVER (
               PARTITION BY event_type ORDER BY hb
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS runmax,
             COUNT(*) OVER (PARTITION BY event_type) AS n_hours
      FROM h
    ),
    d AS (
      SELECT event_type, hb, c, runmax, n_hours, runmax - c AS dd,
             MAX(runmax - c) OVER (PARTITION BY event_type) AS mdd
      FROM r
    )
    SELECT event_type,
           CAST(MIN(n_hours) AS BIGINT) AS n_hours,
           CAST(MIN(mdd) AS BIGINT) AS max_dd_cents,
           CAST(MIN(hb) AS BIGINT) AS trough_hb,
           CAST(arg_min(runmax, hb) AS BIGINT) AS peak_cents,
           CAST(arg_min(c, hb) AS BIGINT) AS trough_cents
    FROM d WHERE dd = mdd
    GROUP BY event_type
    """,
)
def ts_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per series — the peak-to-trough risk metric
    every portfolio/SLA dashboard carries: over each event type's
    hourly cent totals, the largest drop from a running peak to a
    subsequent hour, with the trough hour and the peak/trough levels
    (earliest trough on ties). A batch sibling of ts_ewma's smoothing
    family on the same hourly grain.

    All integer: levels are summed cents, the running peak and every
    drawdown are BIGINT subtractions, and the argmax selection
    tie-breaks on the unique hour bucket — zero float surface, so the
    oracle hash certifies the windowed recurrence bit-for-bit.

    Scale shape: ONE map-combinable corpus rollup to (type, hour)
    grain, then running-max window, full-partition max window, and the
    final argmin rollup ALL ride one slim (type)-keyed exchange over
    |types|x|hours| rows. At 100 TB: one scan plus dimension-sized
    window arithmetic — and a per-day or per-asset variant only
    widens the partition key on the same plan."""
    ev = read_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type",
        (
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).cast("bigint")
            / F.lit(3600)
        ).cast("bigint").alias("hb"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("c")
    )
    run = Window.partitionBy("event_type").orderBy("hb").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    full = Window.partitionBy("event_type")
    d = (
        h.withColumn("runmax", F.max("c").over(run))
        .withColumn("n_hours", F.count(F.lit(1)).over(full))
        .withColumn("dd", F.col("runmax") - F.col("c"))
        .withColumn("mdd", F.max(F.col("runmax") - F.col("c")).over(full))
        .filter(F.col("dd") == F.col("mdd"))
    )
    return d.groupBy("event_type").agg(
        F.min("n_hours").cast("bigint").alias("n_hours"),
        F.min("mdd").cast("bigint").alias("max_dd_cents"),
        F.min("hb").cast("bigint").alias("trough_hb"),
        F.min_by("runmax", "hb").cast("bigint").alias("peak_cents"),
        F.min_by("c", "hb").cast("bigint").alias("trough_cents"),
    )


@query(
    "ts_spc_control_limits",
    oracle="""
    WITH h AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hb,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type, hb, c,
             abs(c - lag(c) OVER (
               PARTITION BY event_type ORDER BY hb
             )) AS mr
      FROM h
    ),
    s AS (
      SELECT event_type, c,
             CAST(COUNT(*) OVER (PARTITION BY event_type)
                  AS DECIMAL(38,0)) AS n,
             CAST(SUM(c) OVER (PARTITION BY event_type)
                  AS DECIMAL(38,0)) AS sc,
             CAST(SUM(mr) OVER (PARTITION BY event_type)
                  AS DECIMAL(38,0)) AS smr
      FROM m
    ),
    lim AS (
      SELECT event_type, c, n, sc, smr,
             CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) AS cl,
             CAST(smr AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS mrbar
      FROM s
    )
    SELECT event_type,
           CAST(MIN(n) AS BIGINT) AS n_hours,
           MIN(cl) AS cl,
           MIN(mrbar) AS mrbar,
           MIN(cl + 2.66 * mrbar) AS ucl,
           MIN(cl - 2.66 * mrbar) AS lcl,
           CAST(COUNT(*) FILTER (
             WHERE CAST(c AS DOUBLE) > cl + 2.66 * mrbar
                OR CAST(c AS DOUBLE) < cl - 2.66 * mrbar
           ) AS BIGINT) AS n_ooc
    FROM lim GROUP BY event_type
    """,
)
def ts_spc_control_limits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart individuals control chart (I-MR) per series: center
    line, average moving range, UCL/LCL at CL +/- 2.66*MRbar (the
    textbook 3/d2(n=2) constant as a shared literal), and the count of
    out-of-control hours — the SPC / anomaly-band primitive behind
    "is this metric drifting" alerting, the frequentist cousin of
    ts_anomaly_mad's robust bands.

    Float contract: hourly levels and moving ranges are exact integer
    cents; n, sum(c), sum(|MR|) accumulate in DECIMAL(38,0); CL and
    MRbar are each ONE double division, the limits one shared
    literal-multiply-add tree, and each out-of-control comparison
    evaluates that same tree — bit-identical on both engines. MIN()
    over per-row copies of a constant is exact (selection, not
    summation).

    Scale shape: ONE map-combinable corpus rollup to (type, hour)
    grain; the lag window, the three full-partition moment windows,
    the per-row flag, and the final rollup all ride one slim
    (type)-keyed exchange. At 100 TB: one scan plus dimension-sized
    window arithmetic; Western-Electric run rules add lag windows to
    the SAME exchange, not new passes."""
    ev = read_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type",
        (
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).cast("bigint")
            / F.lit(3600)
        ).cast("bigint").alias("hb"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("c")
    )
    _D38 = "decimal(38,0)"
    lagw = Window.partitionBy("event_type").orderBy("hb")
    full = Window.partitionBy("event_type")
    m = h.withColumn(
        "mr", F.abs(F.col("c") - F.lag("c").over(lagw))
    )
    s = m.select(
        "event_type",
        "c",
        F.count(F.lit(1)).over(full).cast(_D38).alias("n"),
        F.sum("c").over(full).cast(_D38).alias("sc"),
        F.sum("mr").over(full).cast(_D38).alias("smr"),
    )
    cl = F.col("sc").cast("double") / F.col("n").cast("double")
    mrbar = F.col("smr").cast("double") / (F.col("n") - 1).cast("double")
    lim = s.select(
        "event_type",
        "c",
        "n",
        cl.alias("cl"),
        mrbar.alias("mrbar"),
    )
    ucl = F.col("cl") + 2.66 * F.col("mrbar")
    lcl = F.col("cl") - 2.66 * F.col("mrbar")
    cd = F.col("c").cast("double")
    return lim.groupBy("event_type").agg(
        F.min("n").cast("bigint").alias("n_hours"),
        F.min("cl").alias("cl"),
        F.min("mrbar").alias("mrbar"),
        F.min(ucl).alias("ucl"),
        F.min(lcl).alias("lcl"),
        F.count(F.when((cd > ucl) | (cd < lcl), 1))
        .cast("bigint")
        .alias("n_ooc"),
    )


@query(
    "ts_seasonality_profile",
    oracle="""
    SELECT event_type,
           (CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 + 3)
             % 7 AS dow,
           (CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600)
             % 24 AS hod,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS mean_cents
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def ts_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality profile: the day-of-week x hour-of-day
    activity matrix per series (count, volume, mean) — the heatmap
    behind capacity planning and the seasonal prior that
    ts_seasonal_decompose estimates the hard way; also the baseline
    table an anomaly layer (ts_anomaly_mad, ts_spc_control_limits)
    conditions on.

    Portability: day-of-week comes from pure epoch arithmetic —
    (epoch_days + 3) % 7 with 0 = Monday (1970-01-01 was a Thursday)
    — NOT from dayofweek()/dow(), whose week-start conventions differ
    across engines; hour-of-day likewise. Counts and cents are exact
    integers; the mean is ONE double division.

    Scale shape: ONE map-combinable corpus rollup straight to the
    (type, dow, hour) grain — |types| x 168 output rows, partials
    merge map-side, nothing else moves. The minimum possible plan; at
    100 TB this is a single scan, and a per-week-of-year or holiday
    dimension widens the key, not the pass count."""
    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    day_e = F.unix_timestamp(F.date_trunc("day", F.col("ts"))).cast("bigint")
    hour_e = F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).cast(
        "bigint"
    )
    out = ev.groupBy(
        "event_type",
        (((day_e / F.lit(86400)).cast("bigint") + 3) % 7).alias("dow"),
        ((hour_e / F.lit(3600)).cast("bigint") % 24).alias("hod"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(cents).cast("bigint").alias("total_cents"),
        (
            F.sum(cents).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_cents"),
    )
    return out


@query(
    "ts_cohort_ltv",
    oracle="""
    WITH ud AS (
      SELECT user_id,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ),
    c AS (
      SELECT user_id, day, cents,
             MIN(day) OVER (PARTITION BY user_id) AS cohort_day
      FROM ud
    ),
    g AS (
      SELECT cohort_day, day - cohort_day AS age_days,
             CAST(COUNT(*) AS BIGINT) AS n_active_users,
             CAST(SUM(cents) AS BIGINT) AS revenue_cents
      FROM c GROUP BY 1, 2
    )
    SELECT cohort_day, age_days, n_active_users, revenue_cents,
           CAST(SUM(revenue_cents) OVER (
             PARTITION BY cohort_day ORDER BY age_days
           ) AS BIGINT) AS cum_revenue_cents
    FROM g
    """,
)
def ts_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: users grouped by first-active day,
    revenue accumulated by cohort age — the LTV triangle behind
    payback-period and retention-economics dashboards, the
    revenue-weighted sibling of ts_retention's count matrix. One row
    per (cohort, age) with active users, that day's revenue, and the
    running cumulative (the LTV curve itself).

    All integer: epoch-day cohorts, cent revenues, running sums —
    zero float surface.

    Scale shape: the corpus pass is ONE map-combinable rollup to
    (user, day) grain — the only stage whose shuffle is
    corpus-proportional (and it ships partials, not rows). Every
    later exchange moves REDUCED-grain data: the cohort-assignment
    MIN window re-keys the |user x day| rollup on user_id, and the
    (cohort, age) rollup + running window move |cohorts|x|ages| rows.
    No join back to a separate first-seen table, nothing collected;
    revenue / margin / any additive metric swaps into the same
    plan."""
    ev = read_table(spark, sf_dir, "events")
    ud = ev.groupBy(
        "user_id",
        (
            F.unix_timestamp(F.date_trunc("day", F.col("ts"))).cast("bigint")
            / F.lit(86400)
        ).cast("bigint").alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    c = ud.withColumn(
        "cohort_day", F.min("day").over(Window.partitionBy("user_id"))
    )
    g = c.groupBy(
        "cohort_day", (F.col("day") - F.col("cohort_day")).alias("age_days")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active_users"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
    )
    cum = Window.partitionBy("cohort_day").orderBy("age_days")
    return g.withColumn(
        "cum_revenue_cents",
        F.sum("revenue_cents").over(cum).cast("bigint"),
    )


@query(
    "ts_path_transitions",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, event_id,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
      FROM events
    ),
    lagd AS (
      SELECT user_id, event_type AS to_type, sec,
             LAG(event_type) OVER w AS from_type,
             LAG(sec) OVER w AS prev_sec
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
    ),
    tr AS (
      SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
      FROM lagd
      WHERE from_type IS NOT NULL AND sec - prev_sec <= 1800
      GROUP BY 1, 2
    )
    SELECT from_type, to_type, n_transitions,
           CAST(n_transitions AS DOUBLE)
             / CAST(SUM(n_transitions) OVER (PARTITION BY from_type)
                    AS DOUBLE) AS p_transition
    FROM tr
    """,
)
def ts_path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user journeys: for every
    consecutive event pair inside a session (same user, gap <= 30 min),
    the (from_type -> to_type) count and the row-conditional
    probability — the user-flow / next-action model behind journey
    sankeys and churn-path analysis, the free-order complement of
    ts_funnel's fixed sequence.

    Portability: timestamps truncate to whole epoch seconds on BOTH
    engines before differencing (events.ts is ns-precision in parquet;
    Spark keeps us, DuckDB ns — the documented gotcha), the lag
    window orders by the total (sec, event_id) key, and the
    probability is ONE double division of exact counts.

    Scale shape: the lag window rides one user-keyed exchange (the
    same partitioning every sessionization op here uses — at 100 TB
    this exchange is shared with ts_sessionize in a multi-output
    pipeline); the transition rollup is map-combinable down to
    |types|^2 rows and the row-marginal window is dimension-sized.
    Higher-order transitions add lag columns to the SAME window, not
    new shuffles."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_timestamp(F.date_trunc("second", F.col("ts")))
        .cast("bigint")
        .alias("sec"),
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    lagd = ev.select(
        F.col("event_type").alias("to_type"),
        "sec",
        F.lag("event_type").over(w).alias("from_type"),
        F.lag("sec").over(w).alias("prev_sec"),
    )
    tr = (
        lagd.filter(
            F.col("from_type").isNotNull()
            & (F.col("sec") - F.col("prev_sec") <= 1800)
        )
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_transitions"))
    )
    row_tot = Window.partitionBy("from_type")
    return tr.select(
        "from_type",
        "to_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(row_tot).cast("double")
        ).alias("p_transition"),
    )


@query(
    "ts_survival_hazard",
    oracle="""
    WITH u AS (
      SELECT user_id,
             MIN(CAST(ts AS DATE) - DATE '1970-01-01') AS first_day,
             MAX(CAST(ts AS DATE) - DATE '1970-01-01') AS last_day
      FROM events GROUP BY user_id
    ),
    mx AS (SELECT MAX(last_day) AS max_day FROM u),
    d AS (
      SELECT CAST(last_day - first_day AS BIGINT) AS dur_days,
             CASE WHEN max_day - last_day >= 14 THEN 1 ELSE 0 END
               AS churned
      FROM u CROSS JOIN mx
    ),
    g AS (
      SELECT dur_days, CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(churned) AS BIGINT) AS n_churned
      FROM d GROUP BY 1
    ),
    r AS (
      SELECT dur_days, n_users, n_churned,
             CAST(SUM(n_users) OVER (ORDER BY dur_days DESC) AS BIGINT)
               AS n_at_risk
      FROM g
    )
    SELECT dur_days, n_at_risk, n_churned,
           CAST(n_churned AS DOUBLE) / CAST(n_at_risk AS DOUBLE)
             AS hazard,
           CAST(SUM(CAST(ROUND(CAST(n_churned AS DOUBLE)
                                / CAST(n_at_risk AS DOUBLE), 8)
                         AS DECIMAL(30,8)))
                    OVER (ORDER BY dur_days) AS DOUBLE)
             AS cum_hazard
    FROM r WHERE n_churned > 0
    """,
)
def ts_survival_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete survival / churn life table with the Nelson–Aalen
    cumulative hazard: each user's lifespan is last-active minus
    first-active day; users still active in the corpus's final 14 days
    are right-CENSORED (they leave the risk set at their observed
    duration without counting as churn — the distinction naive churn
    rates get wrong). For every duration with at least one churn event:
    the at-risk count, churn count, discrete hazard d/n, and the
    cumulative hazard — the retention curve the Kaplan–Meier estimator
    exponentiates.

    Float contract: day arithmetic is exact DATE-integer math (never
    timestamp floats); each hazard is ONE IEEE division of exact
    integers; the cumulative sum accumulates ROUND(hazard, 8) in
    DECIMAL(30,8) over the total dur_days order, so both engines add
    the same exact values in the same order (the Nelson–Aalen sum is
    hash-portable where the Kaplan–Meier PRODUCT, a chain of exp/ln
    rounding, would not be).

    Scale shape: ONE map-combinable corpus rollup to user grain is the
    only corpus-proportional shuffle; the global max day is a 1-row
    broadcast; everything after lives on the |distinct durations| grid
    (≤ corpus span in days) where two slim windows run. Cohorted
    variants just add the cohort key to every grouping."""
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
    u = (
        read_table(spark, sf_dir, "events")
        .select("user_id", day.alias("day"))
        .groupBy("user_id")
        .agg(
            F.min("day").alias("first_day"),
            F.max("day").alias("last_day"),
        )
    )
    mx = u.select(F.max("last_day").alias("max_day"))
    d = u.crossJoin(F.broadcast(mx)).select(
        (F.col("last_day") - F.col("first_day"))
        .cast("bigint")
        .alias("dur_days"),
        F.when(
            F.col("max_day") - F.col("last_day") >= 14, F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("churned"),
    )
    g = d.groupBy("dur_days").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("churned").cast("bigint").alias("n_churned"),
    )
    w_risk = (
        Window.orderBy(F.col("dur_days").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = g.withColumn(
        "n_at_risk", F.sum("n_users").over(w_risk).cast("bigint")
    )
    hazard = F.col("n_churned").cast("double") / F.col("n_at_risk").cast(
        "double"
    )
    w_cum = Window.orderBy("dur_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        r.filter(F.col("n_churned") > 0)
        .select(
            "dur_days",
            "n_at_risk",
            "n_churned",
            hazard.alias("hazard"),
            F.sum(F.round(hazard, 8).cast(_DEC))
            .over(w_cum)
            .cast("double")
            .alias("cum_hazard"),
        )
    )


@query(
    "ts_dwell_time",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, event_id,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
      FROM events
    ),
    nxt AS (
      SELECT event_type, sec, event_id,
             LEAD(sec) OVER (PARTITION BY user_id
                             ORDER BY sec, event_id) - sec AS dwell
      FROM e
    ),
    dw AS (
      SELECT event_type, dwell, sec, event_id FROM nxt
      WHERE dwell IS NOT NULL AND dwell <= 1800
    ),
    r AS (
      SELECT event_type, dwell,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY dwell, sec, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM dw
    ),
    p AS (SELECT UNNEST([0.5, 0.9]) AS p),
    pick AS (
      SELECT event_type, CAST(p.p AS DOUBLE) AS p, dwell
      FROM r JOIN p
        ON r.rn = CAST(CEIL(CAST(p.p AS DOUBLE) * r.n) AS BIGINT)
    ),
    piv AS (
      SELECT event_type,
             CAST(MAX(CASE WHEN p = 0.5 THEN dwell END) AS BIGINT)
               AS p50_dwell_s,
             CAST(MAX(CASE WHEN p = 0.9 THEN dwell END) AS BIGINT)
               AS p90_dwell_s
      FROM pick GROUP BY 1
    ),
    agg AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_dwells,
             CAST(SUM(dwell) AS DOUBLE) / COUNT(*) AS mean_dwell_s
      FROM dw GROUP BY 1
    )
    SELECT agg.event_type, n_dwells, mean_dwell_s,
           p50_dwell_s, p90_dwell_s
    FROM agg JOIN piv ON agg.event_type = piv.event_type
    """,
)
def ts_dwell_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session dwell-time distribution per event type: the seconds a
    user spends ON an event before their next action in the same
    session (lead-gap ≤ 30 min — longer gaps are session breaks, not
    dwell), reported as count, mean, and exact p50/p90 — the
    engagement-depth metric product funnels rank screens by, and the
    timeout calibration input for ts_sessionize's gap parameter.

    Float contract: dwells are exact integer seconds (both engines
    truncate ts to whole epoch seconds first — the ns-precision
    gotcha); the mean is ONE division of exact integers; percentiles
    are percentile_disc-style rank selections (rn = ceil(p·n) over a
    pinned total order) that return actual data elements, never
    interpolations.

    Scale shape: the lead window rides the ONE user-keyed exchange
    every sessionization op here shares; the percentile windows
    re-key to |event types| partitions (each holding only slim
    (type, dwell) rows); the 2-row percentile spec broadcasts; the
    final type-grain join is dimension-sized."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_timestamp(F.date_trunc("second", F.col("ts")))
        .cast("bigint")
        .alias("sec"),
    )
    w_user = Window.partitionBy("user_id").orderBy("sec", "event_id")
    dw = (
        ev.select(
            "event_type",
            "sec",
            "event_id",
            (F.lead("sec").over(w_user) - F.col("sec")).alias("dwell"),
        )
        .filter(F.col("dwell").isNotNull() & (F.col("dwell") <= 1800))
    )
    w_rank = Window.partitionBy("event_type").orderBy(
        "dwell", "sec", "event_id"
    )
    w_n = Window.partitionBy("event_type")
    r = dw.select(
        "event_type",
        "dwell",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    p = spark.range(1).select(
        F.explode(F.array(F.lit(0.5), F.lit(0.9))).alias("p")
    )
    pick = r.join(
        F.broadcast(p),
        F.col("rn") == F.ceil(F.col("p") * F.col("n")).cast("bigint"),
    )
    piv = pick.groupBy("event_type").agg(
        F.max(F.when(F.col("p") == 0.5, F.col("dwell")))
        .cast("bigint")
        .alias("p50_dwell_s"),
        F.max(F.when(F.col("p") == 0.9, F.col("dwell")))
        .cast("bigint")
        .alias("p90_dwell_s"),
    )
    agg = dw.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dwells"),
        (
            F.sum("dwell").cast("double") / F.count(F.lit(1))
        ).alias("mean_dwell_s"),
    )
    return agg.join(piv, "event_type").select(
        "event_type", "n_dwells", "mean_dwell_s",
        "p50_dwell_s", "p90_dwell_s",
    )


@query(
    "ts_peak_detect",
    oracle="""
    WITH h AS (
      SELECT event_type,
             CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS hour,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ),
    n AS (
      SELECT event_type, hour, v,
             MAX(v) OVER (PARTITION BY event_type ORDER BY hour
                          ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
               AS lmax,
             MAX(v) OVER (PARTITION BY event_type ORDER BY hour
                          ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING)
               AS rmax
      FROM h
    )
    SELECT event_type, hour AS hour_epoch, v AS n_events,
           CAST(v - GREATEST(lmax, rmax) AS BIGINT) AS prominence
    FROM n
    WHERE lmax IS NOT NULL AND rmax IS NOT NULL
      AND v > lmax AND v > rmax
    """,
)
def ts_peak_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maxima peak detection per series: an hourly observation is
    a peak when it strictly exceeds the maximum of its 3 preceding AND
    3 following observations (ties suppress — a plateau is not a
    peak), reported with its prominence over the taller shoulder —
    the spike-inventory primitive traffic/alerting dashboards build
    on, complementary to ts_burst_detect's rate-model and
    ts_anomaly_mad's global-band views.

    Everything is exact integer arithmetic: hourly counts, window
    maxima, and the prominence difference — no float contract at all.
    Boundary rows (fewer than 1 observation on either side) are
    excluded by the NULL window result, pinning edge semantics
    identically in both engines. The neighborhood is OBSERVATION
    slots, not wall-clock hours: across a gap the nearest recorded
    hours are the shoulders, which is the behavior you want on sparse
    series (a lone post-gap point is not automatically a peak).

    Scale shape: ONE map-combinable rollup to (series, hour) grain,
    then two frame-bounded maxima riding a single series-keyed
    exchange — at 100 TB the windows see |series|×|hours| slim rows,
    never raw events. Wider neighborhoods or a min-prominence gate
    are literal changes on the same plan."""
    ev = read_table(spark, sf_dir, "events")
    h = (
        ev.select(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600)
            .cast("bigint")
            .alias("hour"),
        )
        .groupBy("event_type", "hour")
        .agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    )
    w = Window.partitionBy("event_type").orderBy("hour")
    lmax = F.max("v").over(w.rowsBetween(-3, -1))
    rmax = F.max("v").over(w.rowsBetween(1, 3))
    n = h.select(
        "event_type",
        F.col("hour").alias("hour_epoch"),
        F.col("v").alias("n_events"),
        lmax.alias("lmax"),
        rmax.alias("rmax"),
    )
    return (
        n.filter(
            F.col("lmax").isNotNull()
            & F.col("rmax").isNotNull()
            & (F.col("n_events") > F.col("lmax"))
            & (F.col("n_events") > F.col("rmax"))
        )
        .select(
            "event_type",
            "hour_epoch",
            "n_events",
            (F.col("n_events") - F.greatest("lmax", "rmax"))
            .cast("bigint")
            .alias("prominence"),
        )
    )


@query(
    "ts_attribution_touch",
    oracle="""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS tsu, event_id, event_type
      FROM events WHERE event_type <> 'error'
    ),
    conv AS (
      SELECT user_id, tsu, event_id,
             COUNT(CASE WHEN event_type <> 'purchase' THEN 1 END) OVER w
               AS k,
             LAST_VALUE(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS) OVER w
               AS last_ch,
             FIRST_VALUE(CASE WHEN event_type <> 'purchase'
                              THEN event_type END IGNORE NULLS) OVER w
               AS first_ch,
             COUNT(CASE WHEN event_type = 'click' THEN 1 END) OVER w
               AS c_click,
             COUNT(CASE WHEN event_type = 'view' THEN 1 END) OVER w
               AS c_view,
             COUNT(CASE WHEN event_type = 'signup' THEN 1 END) OVER w
               AS c_signup,
             event_type
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    attributable AS (
      SELECT * FROM conv WHERE event_type = 'purchase' AND k >= 1
    ),
    per_channel AS (
      SELECT a.*, ch.channel,
             CASE ch.channel WHEN 'click' THEN c_click
                             WHEN 'view' THEN c_view
                             ELSE c_signup END AS cnt
      FROM attributable a
      CROSS JOIN (SELECT unnest(['click', 'view', 'signup']) AS channel) ch
    )
    SELECT channel,
           CAST(COUNT(CASE WHEN first_ch = channel THEN 1 END) AS BIGINT)
             AS n_first_touch,
           CAST(COUNT(CASE WHEN last_ch = channel THEN 1 END) AS BIGINT)
             AS n_last_touch,
           CAST(SUM(CAST(ROUND(CAST(cnt AS DOUBLE) / k, 8)
                         AS DECIMAL(20,8))) AS DOUBLE) AS linear_credit
    FROM per_channel GROUP BY 1
    """,
)
def ts_attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch conversion attribution — the marketing-analytics
    counterpart of ts_funnel: every purchase is credited to the
    touch events (click/view/signup; error rows excluded) that
    preceded it in the user's stream, under the three standard models
    at once: FIRST-touch (the acquiring channel), LAST-touch (the
    closing channel), and LINEAR (each preceding touch gets 1/k of the
    conversion). Purchases with no prior touch are unattributable and
    drop out.

    Float contract: linear credits are ROUND(cnt/k, 8) per
    (conversion, channel) — one shared IEEE division — accumulated in
    DECIMAL(20,8), so the rollup is exact and order-free; first/last
    counts are pure integers. Event order is (epoch-microseconds,
    event_id) — both engines read this fixture's timestamps at
    microsecond precision, and the id tie-break makes the order total.

    Scale shape: ONE user_id exchange serves all six running windows
    (count, first/last channel, three per-channel counts — Spark
    evaluates same-frame window functions in one pass); the 3x
    per-channel fan-out applies only to ATTRIBUTABLE conversions (an
    array-literal explode, map-side); the rollup is 3 rows. At 100 TB
    this is the same shape as any sessionization pass — the user
    partitioning is the pipeline's natural key."""
    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type") != "error")
        .select(
            "user_id",
            # ts is TIMESTAMP_NTZ; the session TZ is pinned UTC, so the
            # cast is the identity and unix_micros matches epoch_us
            F.unix_micros(F.col("ts").cast("timestamp")).alias("tsu"),
            "event_id",
            "event_type",
        )
    )
    w = Window.partitionBy("user_id").orderBy("tsu", "event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    conv = ev.select(
        "event_type",
        F.count(touch).over(w).alias("k"),
        F.last(touch, ignorenulls=True).over(w).alias("last_ch"),
        F.first(touch, ignorenulls=True).over(w).alias("first_ch"),
        *[
            F.count(F.when(F.col("event_type") == c, 1))
            .over(w)
            .alias(f"c_{c}")
            for c in ("click", "view", "signup")
        ],
    ).filter((F.col("event_type") == "purchase") & (F.col("k") >= 1))
    per_channel = conv.select(
        "*",
        F.explode(
            F.array(*[F.lit(c) for c in ("click", "view", "signup")])
        ).alias("channel"),
    ).select(
        "first_ch",
        "last_ch",
        "k",
        "channel",
        F.when(F.col("channel") == "click", F.col("c_click"))
        .when(F.col("channel") == "view", F.col("c_view"))
        .otherwise(F.col("c_signup"))
        .alias("cnt"),
    )
    credit = F.round(F.col("cnt").cast("double") / F.col("k"), 8).cast(
        "decimal(20,8)"
    )
    return per_channel.groupBy("channel").agg(
        F.count(F.when(F.col("first_ch") == F.col("channel"), 1))
        .cast("bigint")
        .alias("n_first_touch"),
        F.count(F.when(F.col("last_ch") == F.col("channel"), 1))
        .cast("bigint")
        .alias("n_last_touch"),
        F.sum(credit).cast("double").alias("linear_credit"),
    )
