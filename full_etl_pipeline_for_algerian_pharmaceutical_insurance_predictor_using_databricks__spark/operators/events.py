"""Event-stream analytics over the `events` table.

The windowed aggregates, the click→purchase join and the hourly
partials are `DataFrame → DataFrame` bodies: the entry builders here
apply them to the static table (so the correctness harness can
oracle-check them), and `streaming/jobs.py` applies the same bodies to
a watermarked `readStream`. Batch/stream parity is asserted in tests
via Trigger.AvailableNow.

Timestamps are surfaced as epoch *seconds* (BIGINT) in every output:
the fixture stores TIMESTAMP(NANOS), Spark reads µs, DuckDB ns —
epoch-second arithmetic is the precision-proof common ground.

Scale notes: tumbling windows and per-user sessionization both hash
partition on a key (window start / user_id) — no global ordering
anywhere. Sessionization uses a partitioned window (lag → gap flag →
running count), the standard distributed sessionizer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..sources import load_table

SESSION_GAP_SEC = 30 * 60


def _dsum(c, scale: int = 2):
    """Exact order-independent sum (see relational._dsum for the full
    contract): scaled-BIGINT accumulation, ~3× faster than decimal.
    Requires inputs with at most `scale` decimal places (true of the
    events `value` column), under which it is bit-identical to the
    decimal path."""
    factor = 10 ** scale
    return F.sum(F.round(c * factor).cast("bigint")) / F.lit(float(factor))


def per_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("events"),
            F.countDistinct("user_id").alias("users"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            (_dsum(F.col("value")) / F.count("*")).alias("avg_value"),
        )
        .orderBy("event_type")
    )


_PER_TYPE_SQL = """
SELECT
    event_type,
    COUNT(*) AS events,
    COUNT(DISTINCT user_id) AS users,
    MIN(value) AS min_value,
    MAX(value) AS max_value,
    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value,
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def tumbling_counts(ev: DataFrame) -> DataFrame:
    """5-minute tumbling window counts and value totals per event type,
    surfaced as epoch seconds.  A body over any events frame: static
    here, watermarked stream in `streaming.jobs`."""
    return (
        ev.groupBy(
            F.window("ts", "5 minutes").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("events"), _dsum(F.col("value")).alias("total_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "events",
            "total_value",
        )
    )


def tumbling_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`tumbling_counts` over the events table."""
    return tumbling_counts(load_table(spark, sf_dir, "events"))


_TUMBLING_SQL = """
SELECT
    CAST(FLOOR(EXTRACT(epoch FROM ts) / 300) * 300 AS BIGINT) AS window_start,
    event_type,
    COUNT(*) AS events,
    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


def top_k_per_window(counts: DataFrame, k: int) -> DataFrame:
    """The `k` busiest event types of each window of `tumbling_counts`
    output, ranked by (events DESC, event_type) — a window-partitioned
    row_number, so it runs per window on a static frame or on a
    micro-batch of closed windows alike."""
    w = Window.partitionBy("window_start").orderBy(F.desc("events"), "event_type")
    return counts.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def sliding_counts(ev: DataFrame) -> DataFrame:
    """10-minute windows sliding every 5 — each event lands in 2
    windows."""
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count("*").alias("events"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "events",
        )
    )


def sliding_10min_every_5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`sliding_counts` over the events table.  Oracle reproduces via a
    2-offset generate/unnest."""
    return sliding_counts(load_table(spark, sf_dir, "events"))


_SLIDING_SQL = """
SELECT
    CAST(FLOOR(EXTRACT(epoch FROM ts) / 300) * 300 - offs AS BIGINT) AS window_start,
    COUNT(*) AS events
FROM events
CROSS JOIN (SELECT UNNEST([0, 300]) AS offs)
GROUP BY 1
"""


def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions per user (30-min inactivity): lag → new-session
    flag → running sum = session id, then per-session aggregates."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp("ts")
    with_flag = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            (epoch - F.lag(epoch).over(w)) > SESSION_GAP_SEC, 1
        )
        .otherwise(0)
        .alias("new_session"),
    )
    with_sid = with_flag.withColumn(
        "session_seq",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        with_sid.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("events"),
            F.min(F.unix_timestamp("ts")).alias("session_start"),
            F.max(F.unix_timestamp("ts")).alias("session_end"),
        )
        .select(
            "user_id",
            "session_seq",
            "events",
            "session_start",
            "session_end",
            (F.col("session_end") - F.col("session_start")).alias("duration_sec"),
        )
    )


_SESSION_SQL = f"""
SELECT
    user_id,
    session_seq,
    COUNT(*) AS events,
    MIN(epoch_s) AS session_start,
    MAX(epoch_s) AS session_end,
    MAX(epoch_s) - MIN(epoch_s) AS duration_sec
FROM (
    SELECT
        user_id, epoch_s,
        -- CAST: DuckDB types a bare SUM(int) window as HUGEINT (int128);
        -- Spark's running F.sum is BIGINT.  session_seq is projected, so
        -- the types must agree for the driver's value-hash compare.
        CAST(SUM(new_session) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS BIGINT) AS session_seq
    FROM (
        SELECT
            user_id, ts, event_id,
            CAST(FLOOR(EXTRACT(epoch FROM ts)) AS BIGINT) AS epoch_s,
            CASE WHEN CAST(FLOOR(EXTRACT(epoch FROM ts)) AS BIGINT)
                      - LAG(CAST(FLOOR(EXTRACT(epoch FROM ts)) AS BIGINT)) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id
                        ) > {SESSION_GAP_SEC}
                 THEN 1 ELSE 0 END AS new_session
        FROM events
    )
)
GROUP BY user_id, session_seq
"""


def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload extraction (`props` is a JSON string column):
    get_json_object stays JVM-side — no Python in the hot path."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type", (F.col("k") % 10).alias("k_mod10"))
        .agg(F.count("*").alias("events"))
    )


_JSON_SQL = """
SELECT
    event_type,
    CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod10,
    COUNT(*) AS events
FROM events
GROUP BY 1, 2
"""


def props_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload analytics on Spark 4's VARIANT type:
    `parse_json` decodes each props string ONCE into the binary
    variant encoding, and every `variant_get` path reads that binary —
    vs `get_json_object`, which re-parses the string per extracted
    path.  At 100 TB with many paths per payload that parse-once
    economics is the reason the open table formats added variant
    shredding; with one path the plans converge, so this entry is the
    API-surface twin of `events_json_props` with a richer aggregate
    (count/sum/distinct/min/max per type) to make the typed access
    visible."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("events"),
            F.sum("k").cast("bigint").alias("k_sum"),
            F.countDistinct("k").alias("k_distinct"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


_VARIANT_SQL = """
SELECT
    event_type,
    COUNT(*) AS events,
    CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
        AS k_sum,
    COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS INTEGER))
        AS k_distinct,
    MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS k_min,
    MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS k_max
FROM events
GROUP BY 1
"""


def hourly_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour distinct users + events — the hypertable-rollup shape."""
    ev = load_table(spark, sf_dir, "events")
    hour = (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("long")
    return (
        ev.groupBy(hour.alias("hour_start"))
        .agg(
            F.count("*").alias("events"),
            F.countDistinct("user_id").alias("active_users"),
            F.countDistinct("event_type").alias("distinct_types"),
        )
        .orderBy("hour_start")
    )


_HOURLY_SQL = """
SELECT
    CAST(FLOOR(EXTRACT(epoch FROM ts) / 3600) * 3600 AS BIGINT) AS hour_start,
    COUNT(*) AS events,
    COUNT(DISTINCT user_id) AS active_users,
    COUNT(DISTINCT event_type) AS distinct_types
FROM events
GROUP BY 1
ORDER BY 1
"""


def daily_rollup_from_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-tier continuous-aggregate shape: the DAILY rollup is computed
    from the HOURLY pre-aggregate, not from raw events — at 100 TB the
    raw table is touched once per hour and every coarser granularity
    composes from ~24× fewer rows. Only decomposable aggregates
    (count/sum/min/max) compose this way; the oracle computes the same
    daily numbers from raw, proving the two-tier path is lossless."""
    ev = load_table(spark, sf_dir, "events")
    hour = (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("long")
    hourly = ev.groupBy(hour.alias("hour_start")).agg(
        F.count("*").alias("events"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
    )
    day = (F.floor(F.col("hour_start") / 86400) * 86400).cast("long")
    return (
        hourly.groupBy(day.alias("day_start"))
        .agg(
            F.sum("events").alias("events"),
            (F.sum("value_cents") / F.lit(100.0)).alias("total_value"),
            F.count("*").alias("hours_active"),
        )
        .orderBy("day_start")
    )


_DAILY_ROLLUP_SQL = """
SELECT
    CAST(FLOOR(EXTRACT(epoch FROM ts) / 86400) * 86400 AS BIGINT) AS day_start,
    COUNT(*) AS events,
    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value,
    COUNT(DISTINCT CAST(FLOOR(EXTRACT(epoch FROM ts) / 3600) AS BIGINT)) AS hours_active
FROM events
GROUP BY 1
ORDER BY 1
"""


def session_counts(ev: DataFrame) -> DataFrame:
    """Native session windows (F.session_window, 30-min gap) per user —
    the built-in counterpart of `sessionization`. Boundary semantics
    differ at EXACTLY the gap: session_window's half-open interval
    [start, last+gap) splits a pair of events exactly gap apart, while
    `sessionization`'s `diff > gap` keeps them together — swap the two
    operators only if that edge doesn't matter for your data."""
    return (
        ev.groupBy(
            F.session_window("ts", f"{SESSION_GAP_SEC} seconds").alias("w"),
            "user_id",
        )
        .agg(F.count("*").alias("events"), _dsum(F.col("value")).alias("total_value"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            "events",
            "total_value",
        )
    )


def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`session_counts` over the events table."""
    return session_counts(load_table(spark, sf_dir, "events"))


# Session-window oracle: gap-based grouping where diff >= gap opens a
# new session (session_window's interval is [start, start+gap)).
_SESSION_WINDOW_SQL = f"""
SELECT
    user_id,
    MIN(epoch_s) AS session_start,
    COUNT(*) AS events,
    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM (
    SELECT
        user_id, value, epoch_s,
        SUM(new_session) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS session_seq
    FROM (
        SELECT
            user_id, value, ts, event_id,
            CAST(FLOOR(EXTRACT(epoch FROM ts)) AS BIGINT) AS epoch_s,
            CASE WHEN EXTRACT(epoch FROM ts)
                      - LAG(EXTRACT(epoch FROM ts)) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id
                        ) >= {SESSION_GAP_SEC}
                 THEN 1 ELSE 0 END AS new_session
        FROM events
    )
)
GROUP BY user_id, session_seq
"""


def salted_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user totals via the two-phase salted aggregate
    (functions.scale.salted_agg) — identical answer to a direct
    groupBy, but a pathologically hot user_id splits across 16 reducers
    in phase 1. Oracle-checked against the plain GROUP BY."""
    from ..functions.scale import salted_agg

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    out = salted_agg(
        ev,
        ["user_id"],
        {
            "events": (F.count("*"), F.sum("events")),
            "total_value": (
                F.sum(F.col("value").cast("decimal(18,2)")),
                F.sum("total_value"),
            ),
        },
    )
    return out.withColumn("total_value", F.col("total_value").cast("double"))


_SALTED_TOTALS_SQL = """
SELECT
    user_id,
    COUNT(*) AS events,
    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY user_id
"""


def hourly_anomalies(
    spark: SparkSession, sf_dir: str, window_hours: int = 24, z_thresh: float = 2.5
) -> DataFrame:
    """Trailing-window z-score anomaly detection: each (type, hour)'s
    event count scored against the mean/stddev of the PRECEDING
    `window_hours` hours (the frame excludes the current row, so a
    spike cannot mask itself), flagged when |z| > `z_thresh`.

    Determinism across engines: mean and variance are derived from the
    window's integer count/sum/sum-of-squares — exact in int64 — with
    one double expression at the end, so both engines evaluate the
    identical arithmetic on identical integers (no stddev_samp
    accumulation-order drift).  Hours with an incomplete trailing
    window are dropped rather than scored against thin statistics.

    Spark shape: one hourly aggregate (map-side partials), then a
    per-type ordered window — partition size = |hours|, independent of
    event volume, the same bounded-grid property as the gapfill op."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_start")
    ).agg(F.count("*").alias("events"))
    return score_hourly_counts(hourly, window_hours, z_thresh)


def score_hourly_counts(
    hourly: DataFrame, window_hours: int = 24, z_thresh: float = 2.5
) -> DataFrame:
    """The z-score scoring stage of `hourly_anomalies`, factored out so
    the streaming continuous-aggregate registry can score ON READ over
    its merged partials (`streaming.jobs.hourly_rollup_anomaly_read`)
    with the exact same plan.  Input: (event_type, hour_start, events)."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(-window_hours, -1)
    )
    n = F.count("events").over(w)
    s = F.sum("events").over(w)
    sq = F.sum(F.col("events") * F.col("events")).over(w)
    # ANSI guards: incomplete and zero-variance windows are excluded
    # from scoring (a constant history gives no scale for a z-score),
    # and the when() wrappers keep ANSI division from firing on rows
    # the filters below discard — expressions evaluate before filters
    full = n == window_hours
    mean = F.when(full, s / n)
    var = F.when(full, (sq - s * s / n) / (n - 1))
    z = F.when(var > 0, (F.col("events") - mean) / F.sqrt(var))
    return (
        hourly.withColumn("n_window", n)
        .withColumn("trailing_mean", mean)
        .withColumn("t_var", var)
        .withColumn("z_score", z)
        .filter((F.col("n_window") == window_hours) & (F.col("t_var") > 0))
        .select(
            "event_type",
            "hour_start",
            "events",
            "trailing_mean",
            "z_score",
            (F.abs(F.col("z_score")) > z_thresh).alias("is_anomaly"),
        )
        .orderBy("event_type", "hour_start")
    )


def seasonal_anomalies(
    spark: SparkSession, sf_dir: str, z_thresh: float = 2.5, min_peers: int = 3
) -> DataFrame:
    """Seasonal (hour-of-day) anomaly detection — the complement of the
    trailing-window scorer: each (type, hour) is scored against the
    SAME CLOCK HOUR on other days (leave-one-out, so a spike can't
    inflate its own baseline), catching "3 AM looks like 3 PM" cases a
    trailing window normalizes away.

    Exact integer count/sum/sum-of-squares per (type, hour-of-day)
    seasonal cell, leave-one-out mean/variance derived by subtraction,
    one identical double expression per engine (the cross-engine
    determinism recipe shared with `hourly_anomalies`).  Hours whose
    cell has < `min_peers` other days, or zero variance, are excluded.

    Spark shape: hourly aggregate → tiny (type × 24) seasonal-stats
    aggregate → broadcast join back — partition sizes track |hours|,
    never event volume."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_start")
    ).agg(F.count("*").alias("events"))
    return score_seasonal_counts(hourly, z_thresh, min_peers)


def score_seasonal_counts(
    hourly: DataFrame, z_thresh: float = 2.5, min_peers: int = 3
) -> DataFrame:
    """The seasonal-cell scoring stage of `seasonal_anomalies`,
    factored out so the continuous-aggregate registry can score ON
    READ over merged partials with the identical plan
    (`streaming.jobs.hourly_rollup_seasonal_read`).  Input:
    (event_type, hour_start, events)."""
    hod = F.hour("hour_start").alias("hod")
    cells = (
        hourly.select("event_type", hod, "events")
        .groupBy("event_type", "hod")
        .agg(
            F.count("*").alias("n_cell"),
            F.sum("events").alias("s_cell"),
            F.sum(F.col("events") * F.col("events")).alias("sq_cell"),
        )
    )
    j = hourly.withColumn("hod", F.hour("hour_start")).join(
        F.broadcast(cells), ["event_type", "hod"]
    )
    loo_n = F.col("n_cell") - 1
    loo_s = F.col("s_cell") - F.col("events")
    loo_sq = F.col("sq_cell") - F.col("events") * F.col("events")
    usable = loo_n >= min_peers
    mean = F.when(usable, loo_s / loo_n)
    var = F.when(usable, (loo_sq - loo_s * loo_s / loo_n) / (loo_n - 1))
    z = F.when(var > 0, (F.col("events") - mean) / F.sqrt(var))
    return (
        j.withColumn("peer_days", loo_n)
        .withColumn("seasonal_mean", mean)
        .withColumn("s_var", var)
        .withColumn("z_score", z)
        .filter((loo_n >= min_peers) & (F.col("s_var") > 0))
        .select(
            "event_type",
            F.unix_timestamp("hour_start").alias("hour_epoch"),
            F.col("hod").cast("int").alias("hod"),
            "events",
            "seasonal_mean",
            "z_score",
            (F.abs(F.col("z_score")) > z_thresh).alias("is_anomaly"),
        )
    )


_SEASONAL_SQL = """
WITH hourly AS (
    SELECT event_type,
           date_trunc('hour', ts) AS hour_start,
           CAST(count(*) AS BIGINT) AS events
    FROM events
    GROUP BY 1, 2
),
cells AS (
    SELECT event_type,
           EXTRACT(hour FROM hour_start) AS hod,
           CAST(count(*) AS BIGINT) AS n_cell,
           CAST(sum(events) AS BIGINT) AS s_cell,
           CAST(sum(events * events) AS BIGINT) AS sq_cell
    FROM hourly
    GROUP BY 1, 2
),
j AS (
    SELECT h.event_type, h.hour_start, h.events,
           c.hod, c.n_cell - 1 AS loo_n,
           c.s_cell - h.events AS loo_s,
           c.sq_cell - h.events * h.events AS loo_sq
    FROM hourly h
    JOIN cells c
      ON h.event_type = c.event_type
     AND EXTRACT(hour FROM h.hour_start) = c.hod
),
scored AS (
    SELECT event_type, hour_start, hod, events,
           loo_n,
           loo_s / loo_n AS seasonal_mean,
           (loo_sq - loo_s * loo_s / loo_n) / (loo_n - 1) AS s_var
    FROM j
    WHERE loo_n >= 3
)
SELECT event_type,
       CAST(FLOOR(EXTRACT(epoch FROM hour_start)) AS BIGINT) AS hour_epoch,
       CAST(hod AS INTEGER) AS hod,
       events,
       seasonal_mean,
       (events - seasonal_mean) / sqrt(s_var) AS z_score,
       abs((events - seasonal_mean) / sqrt(s_var)) > 2.5 AS is_anomaly
FROM scored
WHERE s_var > 0
"""


_ANOMALY_SQL = """
WITH hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS hour_start,
           COUNT(*) AS events
    FROM events
    GROUP BY 1, 2
),
scored AS (
    SELECT event_type, hour_start, events,
           COUNT(events) OVER w AS n_window,
           SUM(events) OVER w AS s,
           SUM(events * events) OVER w AS sq
    FROM hourly
    WINDOW w AS (
        PARTITION BY event_type ORDER BY hour_start
        ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING
    )
)
SELECT event_type, hour_start, events,
       s / n_window AS trailing_mean,
       (events - s / n_window)
           / sqrt((sq - s * s / n_window) / (n_window - 1)) AS z_score,
       abs((events - s / n_window)
           / sqrt((sq - s * s / n_window) / (n_window - 1))) > 2.5
           AS is_anomaly
FROM scored
WHERE n_window = 24
  AND (sq - s * s / n_window) / (n_window - 1) > 0
ORDER BY event_type, hour_start
"""


def hourly_partials(ev: DataFrame) -> DataFrame:
    """Hourly count and value sum per event type — both mergeable, so
    partials over any split of the events re-aggregate (sums of sums)
    to the partial over their union."""
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_start"), "event_type"
    ).agg(
        F.count("*").alias("events"),
        F.sum("value").alias("value_sum"),
    )


def gapfill_locf_counts(hourly: DataFrame) -> DataFrame:
    """Generic gap-fill + LOCF stage over an hourly rollup relation
    (`event_type, hour_start, events, value_sum`): dense grid from the
    relation's own hour bounds × its types, zero-filled counts, NULL
    raw sums, LOCF'd value_sum — factored out so the streaming
    continuous-aggregate registry can gap-fill ON READ
    (`streaming.jobs.hourly_rollup_gapfill_read`) with the identical
    plan as a batch rollup.  Same bounded-grid scaling story as
    `hourly_gapfill_locf`."""
    bounds = hourly.agg(
        F.min("hour_start").alias("h0"), F.max("hour_start").alias("h1")
    )
    grid = (
        hourly.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("interval 1 hour"))
            ).alias("hour_start"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["event_type", "hour_start"], "left")
        .select(
            "event_type",
            "hour_start",
            F.coalesce("events", F.lit(0)).alias("events"),
            "value_sum",
            F.last("value_sum", ignorenulls=True).over(w).alias("value_sum_locf"),
        )
        .orderBy("event_type", "hour_start")
    )


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the classic product-analytics shape:
    users grouped by first-seen day (the cohort), counted on each
    subsequent day they return (`age` = days since cohort entry).

    Spark shape: one distinct over (user, day) — the activity set —
    one per-user MIN for the cohort day, a user_id equi-join (both
    sides already partitioned on user_id, so AQE reuses the exchange),
    and a final (cohort, age) aggregate.  Nothing is ever globally
    sorted; the matrix is |days|² / 2 rows regardless of event volume,
    so the output — and the last exchange — stays tiny at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    user_day = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    first = user_day.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        user_day.join(first, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias("age_days"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
        .orderBy("cohort_day", "age_days")
    )


_RETENTION_SQL = """
WITH user_day AS (
    -- CAST: DuckDB's date_trunc('day') yields DATE; Spark yields
    -- TIMESTAMP — normalize so the value comparison sees one type
    SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
    FROM events
),
first_seen AS (
    SELECT user_id, MIN(day) AS cohort_day FROM user_day GROUP BY user_id
)
SELECT f.cohort_day,
       date_diff('day', f.cohort_day, u.day) AS age_days,
       COUNT(DISTINCT u.user_id) AS active_users
FROM user_day u
JOIN first_seen f USING (user_id)
GROUP BY 1, 2
ORDER BY cohort_day, age_days
"""


def hourly_gapfill_locf(
    spark: SparkSession, sf_dir: str, min_value: float = 38.0
) -> DataFrame:
    """Time-series gap filling + last-observation-carried-forward (the
    hypertable `time_bucket_gapfill` / `locf` shape): hourly high-value
    activity per event type on a DENSE hour grid — empty hours appear
    with events=0, a NULL raw sum, and the previous non-empty hour's
    sum carried forward.

    Spark shape: the dense grid is generated IN-ROW (`sequence` over
    the global hour bounds + explode crossed with the distinct types) —
    no shuffle to build it; the filtered hourly aggregate is one
    exchange; grid ⋈ hourly is a hash join on (type, hour); LOCF is
    `last(value, ignorenulls=True)` over a per-type ordered window.
    The window's partition is the GRID (bounded by time-range/bucket,
    not by event volume), so a hot type costs |hours| rows, not its
    event count; at multi-year × minute granularity you'd shard the
    range and seed each shard's first LOCF value from the previous
    shard's last — same plan, windowed per shard."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.filter(F.col("value") > min_value)
        .groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_start")
        )
        .agg(
            F.count("*").alias("events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("value_sum"),
        )
    )
    bounds = ev.agg(
        F.min("ts").alias("t0"), F.max("ts").alias("t1")
    ).select(
        F.date_trunc("hour", F.col("t0")).alias("h0"),
        F.date_trunc("hour", F.col("t1")).alias("h1"),
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("interval 1 hour"))
            ).alias("hour_start"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["event_type", "hour_start"], "left")
        .select(
            "event_type",
            "hour_start",
            F.coalesce("events", F.lit(0)).alias("events"),
            "value_sum",
            F.last("value_sum", ignorenulls=True).over(w).alias("value_sum_locf"),
        )
        .orderBy("event_type", "hour_start")
    )


_GAPFILL_SQL = """
WITH bounds AS (
    SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1
    FROM events
),
grid AS (
    SELECT t.event_type, g.h AS hour_start
    FROM (SELECT DISTINCT event_type FROM events) t
    CROSS JOIN (
        SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM bounds
    ) g
),
hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS hour_start,
           COUNT(*) AS events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM events
    WHERE value > 38.0
    GROUP BY 1, 2
)
SELECT g.event_type, g.hour_start,
       COALESCE(h.events, 0) AS events,
       h.value_sum,
       last_value(h.value_sum IGNORE NULLS) OVER (
           PARTITION BY g.event_type ORDER BY g.hour_start
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS value_sum_locf
FROM grid g
LEFT JOIN hourly h USING (event_type, hour_start)
ORDER BY event_type, hour_start
"""


def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type value percentiles (p50/p90/p99) — the BATCH twin
    of the streaming quantile-sketch registry
    (`streaming.jobs.quantile_sketch_registry_ingest`): this is the
    answer the mergeable histogram partials approximate, computed here
    with Spark's exact interpolating `percentile` (one shuffle on
    event_type, per-group sort inside the aggregate).  At 100 TB the
    exact form needs every group's values on one reducer — that is
    precisely why the registry keeps pre-aggregable partials instead;
    the two entries bound each other."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.9)").alias("p90"),
            F.expr("percentile(value, 0.99)").alias("p99"),
            F.count("*").alias("events"),
        )
        .orderBy("event_type")
    )


_VALUE_PERCENTILES_SQL = """
SELECT event_type,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.9) AS p90,
       quantile_cont(value, 0.99) AS p99,
       COUNT(*) AS events
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def skewed_hot_user_join(
    spark: SparkSession, sf_dir: str, hot_mod: int = 3
) -> DataFrame:
    """Skewed fact ⋈ dim under AQE skew-split: the join twin of
    `salted_user_totals` (which covers skewed AGGREGATION).  Every
    event with event_id ≡ 0 (mod `hot_mod`) is re-keyed to user 1, so
    one join key holds ~1/3 of the fact table — the planted hot key —
    and the fact joins the customer dimension on it.

    The dim side carries a MERGE hint to force the sort-merge join a
    real 100-TB fact⋈fact edge gets (a broadcast would hide the skew
    entirely — and IS the first-line fix when the dim fits).  With a
    key-partitioned exchange the hot key's reducer runs ~50× longer
    than the median; AQE's skew-join optimization instead splits that
    partition into advisory-sized sub-reads, each joined against the
    replicated dim rows (`SortMergeJoin(skew=true)` + `AQEShuffleRead
    skewed` — asserted in tests/test_plans.py with the skew thresholds
    lowered to fixture scale, shown in PLANS.md).  The salted
    two-phase aggregate (functions/scale.py) remains the manual
    fallback when AQE is off.

    Two preconditions this demo makes explicit, both no-ops at real
    scale: (1) AQE splits a skewed reduce partition at MAP-OUTPUT
    granularity, so the single-file fixture must fan out to several
    map tasks first (the repartition below; a 100-TB fact has
    thousands of map outputs); (2) the skew rule only matches a join
    whose shuffle sits DIRECTLY under the sort — a dim built by
    aggregating on the join key reuses its aggregation exchange and is
    skipped, which is why the dim here is a plain table.

    The deterministic re-key keeps the demo SQL-expressible: the
    oracle value-checks that the skew-split plan's answer equals the
    plain join's."""
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "value")
        .repartition(16)
    )
    skewed = ev.withColumn(
        "user_id",
        F.when(F.col("event_id") % hot_mod == 0, F.lit(1)).otherwise(
            F.col("user_id")
        ),
    )
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return (
        skewed.join(dim.hint("merge"), skewed.user_id == dim.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )


_SKEW_JOIN_SQL = """
WITH skewed AS (
    SELECT CASE WHEN event_id % 3 = 0 THEN 1 ELSE user_id END AS user_id,
           value
    FROM events
)
SELECT c_mktsegment,
       COUNT(*) AS events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM skewed
JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


def click_purchase_join(ev: DataFrame, how: str = "inner") -> DataFrame:
    """Interval join of each purchase to the same user's clicks in the
    preceding 30 minutes; `how` is "inner", "left_outer" (every
    purchase emits, with NULL click columns when unmatched) or
    "full_outer" (unmatched clicks emit too, with NULL purchase
    columns).  Both user keys are projected because either side may be
    the NULL one.

    On a stream, pass a watermarked frame (`streaming.jobs.watermarked`):
    the `ts` watermark carries through the aliases to `click_ts` and
    `purchase_ts`, and with the join's two-sided time bound it evicts
    click state older than (watermark - 30 min), so state stays finite.
    An unmatched row of an outer join can only be declared unmatched
    once the watermark passes its join window, so NULL rows surface
    with watermark latency while matches emit immediately."""
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    return purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND "
            "click_ts >= purchase_ts - INTERVAL 30 MINUTES AND "
            "click_ts < purchase_ts"
        ),
        how,
    ).select(
        "purchase_id", "click_id", "p_user", "c_user", "purchase_ts", "click_ts"
    )


def purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: each purchase attributed to the user's most recent
    strictly-earlier click.

    Spark has no asof-join operator; the scalable formulation is a
    single partitioned window over the union of both event kinds —
    last(click_ts) over (user, rows unbounded-preceding .. -1) — one
    shuffle on user_id, no range-join blowup."""
    ev = load_table(spark, sf_dir, "events")
    relevant = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_timestamp("ts").alias("epoch_s"),
        "ts",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_ts = F.last(
        F.when(F.col("event_type") == "click", F.col("epoch_s")), ignorenulls=True
    ).over(w)
    return (
        relevant.withColumn("last_click_s", click_ts)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("epoch_s").alias("purchase_s"),
            "last_click_s",
            (F.col("epoch_s") - F.col("last_click_s")).alias("gap_sec"),
        )
    )


_ASOF_SQL = """
SELECT
    user_id,
    event_id AS purchase_id,
    epoch_s AS purchase_s,
    last_click_s,
    epoch_s - last_click_s AS gap_sec
FROM (
    SELECT
        user_id, event_id, event_type, ts, epoch_s,
        LAST_VALUE(CASE WHEN event_type = 'click' THEN epoch_s END IGNORE NULLS)
            OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
            ) AS last_click_s
    FROM (
        SELECT user_id, event_id, event_type, ts,
               CAST(FLOOR(EXTRACT(epoch FROM ts)) AS BIGINT) AS epoch_s
        FROM events
        WHERE event_type IN ('click', 'purchase')
    )
)
WHERE event_type = 'purchase'
"""


def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-user counts per type — the 100-TB tier of
    A2 (exact countDistinct shuffles every value; approx carries a
    constant-size sketch). No oracle: approximate by design; the error
    bound vs exact is asserted in tests."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
            F.count("*").alias("events"),
        )
        .orderBy("event_type")
    )


def hll_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per (day, event_type) via DataSketches HLL
    (`hll_sketch_agg` → `hll_sketch_estimate`) — the mergeable-sketch
    form of COUNT(DISTINCT) that makes distinct-count rollups
    pre-aggregable at 100 TB: partials union losslessly (union of
    sub-sketches ≡ sketch of the union), so day partials roll to
    months without ever re-touching raw events.  Rows-only entry; the
    invariant test bounds the estimate against the exact count and the
    streaming registry asserts partial-merge ≡ whole-corpus sketch."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.unix_timestamp(F.date_trunc("day", F.col("ts"))).alias("day_start"),
            "event_type",
        )
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("approx_users")
        )
    )


def hll_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate audience overlap between every pair of event types
    by inclusion-exclusion on HLL sketches: |A∩B| ≈ |A| + |B| − |A∪B|,
    where |A∪B| comes from `hll_union` of the two per-type sketches —
    the sketch-algebra answer to "how many users both viewed AND
    purchased" that needs ONE pass over events (per-type sketches) and
    then only sketch math, never a re-scan per pair.  At 100 TB with
    hundreds of segments this is the only affordable way to fill an
    overlap matrix.  Rows-only entry: estimates carry HLL error;
    tests bound them against exact intersections."""
    ev = load_table(spark, sf_dir, "events")
    sketches = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    a = sketches.select(
        F.col("event_type").alias("type_a"), F.col("sk").alias("sk_a")
    )
    b = sketches.select(
        F.col("event_type").alias("type_b"), F.col("sk").alias("sk_b")
    )
    pairs = a.join(b, F.col("type_a") < F.col("type_b"))
    est_a = F.hll_sketch_estimate("sk_a")
    est_b = F.hll_sketch_estimate("sk_b")
    est_u = F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b"))
    return pairs.select(
        "type_a",
        "type_b",
        est_a.alias("users_a"),
        est_b.alias("users_b"),
        est_u.alias("users_union"),
        (est_a + est_b - est_u).alias("users_overlap_est"),
    )


FUNNEL_STAGES = ["view", "click", "purchase"]


def funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase): per user,
    a stage counts only if it happens strictly AFTER the user's
    earliest entry into the previous stage; output is users-per-stage.

    Spark shape: one filtered min-aggregate per stage, each joined to
    the previous stage's per-user frontier — every shuffle is on
    user_id, so the exchanges line up (AQE reuses the partitioning) and
    nothing is ever globally sorted.  No sequence UDF, no per-user
    collect_list: the frontier join IS the order predicate.  At 100 TB
    each stage's input is pre-filtered to one event type before the
    shuffle, so stage cost tracks that type's volume, not the table's.
    """
    ev = load_table(spark, sf_dir, "events")
    frontier = (
        ev.filter(F.col("event_type") == FUNNEL_STAGES[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_prev"))
    )
    stages = [frontier]
    for stage in FUNNEL_STAGES[1:]:
        frontier = (
            ev.filter(F.col("event_type") == stage)
            .join(frontier, "user_id")
            .filter(F.col("ts") > F.col("t_prev"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t_prev"))
        )
        stages.append(frontier)
    out = None
    for i, (name, df) in enumerate(zip(FUNNEL_STAGES, stages), start=1):
        row = df.agg(F.count("*").alias("users")).select(
            F.lit(i).alias("stage_ord"), F.lit(name).alias("stage"), "users"
        )
        out = row if out is None else out.unionByName(row)
    return out


_FUNNEL_SQL = """
WITH v AS (
    SELECT user_id, MIN(ts) AS t_prev FROM events
    WHERE event_type = 'view' GROUP BY user_id
),
c AS (
    SELECT e.user_id, MIN(e.ts) AS t_prev
    FROM events e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = 'click' AND e.ts > v.t_prev
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, MIN(e.ts) AS t_prev
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase' AND e.ts > c.t_prev
    GROUP BY e.user_id
)
SELECT 1 AS stage_ord, 'view' AS stage, COUNT(*) AS users FROM v
UNION ALL SELECT 2, 'click', COUNT(*) FROM c
UNION ALL SELECT 3, 'purchase', COUNT(*) FROM p
"""


# --------------------------------------------------------------------------
# Event-time RANGE frame — trailing-interval window stats
# --------------------------------------------------------------------------


def trailing_hour_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event: how many events (and how much exact value) the same
    user produced in the trailing hour INCLUDING this one — the
    event-time RANGE frame (`RANGE BETWEEN INTERVAL PRECEDING`), the
    one window-frame kind the rest of the pack doesn't exercise (ROWS
    frames ≠ RANGE frames: a burst of same-timestamp events is one
    peer group here, k separate rows there).

    Cross-engine exactness: the order key is INTEGER epoch seconds —
    the module's established common ground (`unix_timestamp` truncates,
    DuckDB gets the identical integer via FLOOR(EXTRACT(epoch)), so
    sub-second events form the same peer groups in both engines and
    RANGE peers are frame-identical).  The windowed sum is the scaled-
    BIGINT `_dsum` form, so frame-internal accumulation order can't
    produce float drift.  One exchange: the user_id window partition."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    secs = F.unix_timestamp(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy(secs).rangeBetween(-3600, 0)
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("trailing_events"),
        (
            F.sum(F.round(F.col("value") * 100).cast("bigint")).over(w)
            / F.lit(100.0)
        ).alias("trailing_value"),
    )


_TRAILING_SQL = """
SELECT event_id,
       user_id,
       COUNT(*) OVER w AS trailing_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER w AS DOUBLE) / 100.0
           AS trailing_value
FROM events
WINDOW w AS (
    PARTITION BY user_id
    ORDER BY CAST(FLOOR(EXTRACT(epoch FROM ts)) AS BIGINT)
    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
)
"""


# --------------------------------------------------------------------------
# Statistical aggregates — exact-integer variance / correlation
# --------------------------------------------------------------------------

#: Fixed epoch offset subtracted from ts seconds before squaring so
#: Σy² stays far inside BIGINT; a constant shift changes neither
#: variance nor correlation.
_TS_OFFSET = 1_700_000_000


def value_time_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: value variance/stddev and the value↔time
    Pearson correlation — the statistical-aggregate family
    (VAR_POP/STDDEV/CORR), computed from EXACT integer moment sums.

    Spark's `var_pop`/`corr` accumulate floating partials whose
    merge order is nondeterministic, and DuckDB uses a different
    update algorithm — the two engines drift in the last ulps, so the
    built-ins can't be value-hashed cross-engine.  The moment-sum
    forms are exact instead: value → cents (2-decimal grid), time →
    offset epoch seconds (the constant shift leaves var/corr
    untouched but keeps Σy² ≪ 2⁶³), then

        var_pop = (n·Σx² − (Σx)²) / n²
        corr    = (n·Σxy − ΣxΣy) / sqrt((n·Σx²−(Σx)²)·(n·Σy²−(Σy)²))

    over BIGINT sums — every division/sqrt happens ONCE on exact
    integers, bit-identical in both engines.  One aggregation pass,
    map-side partials, same plan shape as any multi-agg groupBy."""
    ev = load_table(spark, sf_dir, "events")
    x = F.round(F.col("value") * 100).cast("bigint")  # cents
    y = F.unix_timestamp("ts") - F.lit(_TS_OFFSET)
    # second moments ACCUMULATE in decimal(38,0): Σy² alone reaches
    # ~4e18 at sf0.1 and would overflow the BIGINT sum ~10× later —
    # the per-row squares stay BIGINT (cheap), only the sum widens
    # (DuckDB does the same implicitly by promoting SUM(BIGINT) to
    # HUGEINT, which is why the oracle never overflows).
    wide = lambda c: F.sum(c.cast("decimal(38,0)"))  # noqa: E731
    agg = (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(x).alias("sx"),
            wide(x * x).alias("sxx"),
            F.sum(y).alias("sy"),
            wide(y * y).alias("syy"),
            wide(x * y).alias("sxy"),
        )
    )
    # moment combination in 128-bit decimals: n·Σyy overflows BIGINT at
    # sf0.01 (Σy² ≈ 4e18 alone) but is exact in decimal(38,0) — the
    # Spark analogue of DuckDB's automatic HUGEINT promotion for
    # integer sums.  The EXACT integers then round to double once,
    # identically in both engines (IEEE nearest of the same value).
    def d(c):
        return c.cast("decimal(38,0)")

    n = d(F.col("n"))
    var_cents = (n * d(F.col("sxx")) - d(F.col("sx")) * d(F.col("sx"))).cast(
        "double"
    )
    var_y = (n * d(F.col("syy")) - d(F.col("sy")) * d(F.col("sy"))).cast(
        "double"
    )
    cov = (n * d(F.col("sxy")) - d(F.col("sx")) * d(F.col("sy"))).cast(
        "double"
    )
    nn = (n * n).cast("double")
    var_value = var_cents / nn / F.lit(10_000.0)
    return agg.select(
        "event_type",
        "n",
        (F.col("sx").cast("double") / F.col("n") / F.lit(100.0)).alias(
            "mean_value"
        ),
        var_value.alias("var_value"),
        F.sqrt(var_value).alias("std_value"),
        (cov / F.sqrt(var_cents * var_y)).alias("corr_value_time"),
    ).orderBy("event_type")


_VALUE_TIME_STATS_SQL = f"""
WITH m AS (
    SELECT event_type,
           COUNT(*) AS n,
           SUM(x) AS sx, SUM(x * x) AS sxx,
           SUM(y) AS sy, SUM(y * y) AS syy,
           SUM(x * y) AS sxy
    FROM (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS x,
               CAST(FLOOR(EXTRACT(epoch FROM ts)) AS BIGINT)
                   - {_TS_OFFSET} AS y
        FROM events
    )
    GROUP BY event_type
)
SELECT event_type,
       n,
       CAST(sx AS DOUBLE) / n / 100.0 AS mean_value,
       CAST(n * sxx - sx * sx AS DOUBLE)
           / CAST(n * n AS DOUBLE) / 10000.0 AS var_value,
       sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
            / CAST(n * n AS DOUBLE) / 10000.0) AS std_value,
       CAST(n * sxy - sx * sy AS DOUBLE)
           / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(n * syy - sy * sy AS DOUBLE)) AS corr_value_time
FROM m
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# Complex-event-processing pattern match (MATCH_RECOGNIZE-lite)
# --------------------------------------------------------------------------


def cep_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-sequence PATTERN MATCHING — the
    MATCH_RECOGNIZE/CEP shape, expressed relationally: each user's
    events collapse into one ordered journey string (one char per
    event type, sorted by (ts, event_id) — the tiebreak makes the
    string deterministic across engines), then regex engines count
    non-overlapping occurrences of the behavioral patterns:

    - conversion  `vc*p` — a view leading to a purchase through any
      number of clicks;
    - error recovery `ep` — a purchase immediately after an error.

    One groupBy shuffle on user_id (the natural CEP key — at 100 TB
    this is the same per-key state partitioning Flink CEP runs);
    sort + concat + regex all happen inside the aggregate projection,
    JVM-side, no UDF.  The journey STRING itself is in the output, so
    the oracle pins the full ordered reconstruction — a wrong sort
    key, tie-break, or initial mapping shifts a character and fails
    the hash."""
    ev = load_table(spark, sf_dir, "events")
    journey = F.concat_ws(
        "",
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda s: F.substring(s["event_type"], 1, 1),
        ),
    )
    out = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        journey.alias("journey"),
    )
    return out.select(
        "user_id",
        "n_events",
        "journey",
        F.size(F.regexp_extract_all("journey", F.lit("vc*p"), F.lit(0)))
        .cast("bigint")
        .alias("n_conversions"),
        F.size(F.regexp_extract_all("journey", F.lit("ep"), F.lit(0)))
        .cast("bigint")
        .alias("n_error_recoveries"),
    ).orderBy("user_id")


_CEP_SQL = """
WITH j AS (
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS journey
    FROM events
    GROUP BY user_id
)
SELECT user_id, n_events, journey,
       CAST(length(regexp_extract_all(journey, 'vc*p')) AS BIGINT)
           AS n_conversions,
       CAST(length(regexp_extract_all(journey, 'ep')) AS BIGINT)
           AS n_error_recoveries
FROM j
ORDER BY user_id
"""


QUERIES = {
    "events_cep_pattern": cep_pattern,
    "events_funnel": funnel,
    "events_trailing_hour": trailing_hour_stats,
    "events_value_time_stats": value_time_stats,
    "events_hll_daily_users": hll_daily_users,
    "events_per_type_stats": per_type_stats,
    "events_salted_user_totals": salted_user_totals,
    "join_skewed_hot_user": skewed_hot_user_join,
    "agg_value_percentiles": value_percentiles,
    "events_gapfill_locf": hourly_gapfill_locf,
    "events_retention_cohorts": retention_cohorts,
    "events_hourly_anomalies": hourly_anomalies,
    "events_session_window": session_window_agg,
    "events_purchase_attribution": purchase_attribution,
    "events_approx_distinct_users": approx_distinct_users,
    "events_tumbling_5min": tumbling_5min,
    "events_sliding_10min": sliding_10min_every_5,
    "events_sessionization": sessionization,
    "events_json_props": json_props_extract,
    "events_props_variant": props_variant_stats,
    "events_seasonal_anomalies": seasonal_anomalies,
    "events_hll_overlap": hll_audience_overlap,
    "events_hourly_activity": hourly_user_activity,
    "events_daily_rollup_from_hourly": daily_rollup_from_hourly,
}

ORACLES = {
    "events_cep_pattern": _CEP_SQL,
    "events_funnel": _FUNNEL_SQL,
    "events_trailing_hour": _TRAILING_SQL,
    "events_value_time_stats": _VALUE_TIME_STATS_SQL,
    "events_per_type_stats": _PER_TYPE_SQL,
    "events_salted_user_totals": _SALTED_TOTALS_SQL,
    "join_skewed_hot_user": _SKEW_JOIN_SQL,
    "agg_value_percentiles": _VALUE_PERCENTILES_SQL,
    "events_gapfill_locf": _GAPFILL_SQL,
    "events_retention_cohorts": _RETENTION_SQL,
    "events_hourly_anomalies": _ANOMALY_SQL,
    "events_session_window": _SESSION_WINDOW_SQL,
    "events_purchase_attribution": _ASOF_SQL,
    "events_tumbling_5min": _TUMBLING_SQL,
    "events_sliding_10min": _SLIDING_SQL,
    "events_sessionization": _SESSION_SQL,
    "events_json_props": _JSON_SQL,
    "events_props_variant": _VARIANT_SQL,
    "events_seasonal_anomalies": _SEASONAL_SQL,
    "events_hourly_activity": _HOURLY_SQL,
    "events_daily_rollup_from_hourly": _DAILY_ROLLUP_SQL,
}
