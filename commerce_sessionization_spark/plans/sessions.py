"""Session family of the query catalog: every query built on the gap rule.

The paper's core is the 30-minute inactivity rule
(``SessionizationBuiltIn.scala:12,68-113``). Here it is generalized to the
``events`` table: the Spark side calls one of the engine's sessionizers
(``operators.sessions``, or the deprecated UDF port in
``operators.legacy``), and each DuckDB oracle builds on one gap-rule CTE,
``_session_cte``. ``plans/queries.py`` registers these queries in the
catalog; the shared ``QueryDef`` contract and the cross-engine helpers live
in ``plans/base.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from commerce_sessionization_spark.operators.sessions import (
    DEFAULT_GAP_SECONDS,
    sessionize,
    sessionize_bucketed,
    sessionize_capped,
)
from commerce_sessionization_spark.plans.base import _dec_sum
from commerce_sessionization_spark.sources.tables import load_table, register_views


GAP_US = DEFAULT_GAP_SECONDS * 1_000_000  # the session gap in microseconds


def _session_cte(source_filter: str = "") -> str:
    """DuckDB CTE computing gap-sessionization over `events` (rows that
    pass ``source_filter``, if given) into a ``sessions`` relation — the
    SQL twin of ``operators.sessions.sessionize``."""
    where = f"\n  WHERE {source_filter}" if source_filter else ""
    return f"""
WITH g AS (
  SELECT *,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {GAP_US}
              THEN ts END AS _seed
  FROM events{where}
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT *, last_value(_seed IGNORE NULLS) OVER (
              PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _start
  FROM g
), sessions AS (
  SELECT * EXCLUDE (_seed, _start),
         sha256(user_id::VARCHAR || '-' || epoch_us(_start)::VARCHAR) AS session_id,
         _start
  FROM s
)
"""


#: The unfiltered gap rule every session query builds on.
_SESSION_CTE = _session_cte()


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return sessionize(ev, order_cols=("event_id",)).select(
        "event_id", "ts", "user_id", "event_type", "value", "session_id"
    )


SQL_SESSIONIZE_EVENTS = (
    _SESSION_CTE
    + "SELECT event_id, ts, user_id, event_type, value, session_id FROM sessions"
)


def q_sessionize_events_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof bucketed formulation — the oracle is the SAME SQL as the
    plain operator: byte-identical output is the contract."""
    ev = load_table(spark, sf_dir, "events")
    return sessionize_bucketed(
        ev, bucket_hours=6, order_cols=("event_id",)
    ).select("event_id", "ts", "user_id", "event_type", "value", "session_id")


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = sessionize(load_table(spark, sf_dir, "events"), order_cols=("event_id",))
    return ev.groupBy("session_id").agg(
        F.first("user_id").alias("user_id"),
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            / F.lit(1_000_000.0)
        ).alias("duration_sec"),
        _dec_sum("value").alias("sum_value"),
    )


SQL_SESSION_STATS = _SESSION_CTE + """
SELECT session_id,
       min(user_id)  AS user_id,
       count(*)      AS n_events,
       min(ts)       AS session_start,
       max(ts)       AS session_end,
       (epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0 AS duration_sec,
       CAST(sum(value::DECIMAL(18,2)) AS DOUBLE) AS sum_value
FROM sessions GROUP BY session_id
"""


def q_sql_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-SQL entry surface: the flagship sessionization chain written
    entirely in Spark SQL over ``register_views`` temp views — lag-gap
    boundary, IGNORE NULLS forward fill, sha2 id minting, rollup — and
    checked against the same DuckDB oracle as ``session_stats``. Proves a
    reference user can drive the engine through ``spark.sql(...)`` alone.
    """
    register_views(spark, sf_dir)
    return spark.sql(f"""
        WITH g AS (
          SELECT *,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR unix_micros(ts) - unix_micros(lag(ts) OVER w) > {GAP_US}
                      THEN ts END AS _seed
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), s AS (
          SELECT *, last(_seed, true) OVER (
                      PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _start
          FROM g
        ), sessions AS (
          SELECT *, sha2(concat_ws('-', user_id, unix_micros(_start)), 256) AS session_id
          FROM s
        )
        SELECT session_id,
               min(user_id) AS user_id,
               count(*)     AS n_events,
               min(ts)      AS session_start,
               max(ts)      AS session_end,
               -- CAST: a bare 1000000.0 literal is DECIMAL in Spark SQL,
               -- which would make duration_sec decimal instead of double
               (unix_micros(max(ts)) - unix_micros(min(ts))) / CAST(1000000.0 AS DOUBLE) AS duration_sec,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM sessions GROUP BY session_id
    """)


def q_user_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = sessionize(load_table(spark, sf_dir, "events"), order_cols=("event_id",))
    return ev.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


SQL_USER_SESSION_COUNTS = _SESSION_CTE + """
SELECT user_id, count(DISTINCT session_id) AS n_sessions, count(*) AS n_events
FROM sessions GROUP BY user_id
"""


def q_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-native ``session_window`` — must agree with the window-function
    formulation (the oracle derives bounds from the gap CTE)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


SQL_SESSION_WINDOW_AGG = _SESSION_CTE + """
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events
FROM sessions GROUP BY user_id, _start
"""


#: The carry-in cutoff of ``prev_active_sessions``.
_PREV_ACTIVE_CUTOFF = "2024-01-15 00:00:00"


def q_prev_active_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5+P3+P4 on the events table: one representative (latest) row per
    session still active at the cutoff — the carry-in selection generalized
    (``SessionizationBuiltIn.scala:117-134``)."""
    cutoff = F.lit(_PREV_ACTIVE_CUTOFF).cast("timestamp")
    ev = sessionize(
        load_table(spark, sf_dir, "events").filter(F.col("ts") < cutoff),
        order_cols=("event_id",),
    )
    w = Window.partitionBy("session_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.filter(
            F.col("ts") >= cutoff - F.expr(f"INTERVAL {DEFAULT_GAP_SECONDS} SECONDS")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") == 1)
        .select("session_id", "event_id", "user_id", "ts")
    )


SQL_PREV_ACTIVE_SESSIONS = _session_cte(
    f"ts < TIMESTAMP '{_PREV_ACTIVE_CUTOFF}'"
) + f"""
, act AS (
  SELECT *, row_number() OVER (PARTITION BY session_id ORDER BY ts DESC, event_id DESC) AS rank
  FROM sessions
  WHERE ts >= TIMESTAMP '{_PREV_ACTIVE_CUTOFF}' - INTERVAL {DEFAULT_GAP_SECONDS} SECOND
)
SELECT session_id, event_id, user_id, ts FROM act WHERE rank = 1
"""


def q_session_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-style event bigrams within sessions: counts of consecutive
    (event_type → next event_type) transitions."""
    ev = sessionize(load_table(spark, sf_dir, "events"), order_cols=("event_id",))
    w = Window.partitionBy("session_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("next_type", F.lead("event_type", 1).over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_SESSION_TRANSITIONS = _SESSION_CTE + """
, t AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY session_id ORDER BY ts, event_id) AS next_type
  FROM sessions
)
SELECT event_type, next_type, count(*) AS n
FROM t WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
"""


def q_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel on sessionized events: per user, sessions where a
    view is later followed by a purchase (order-sensitive — min view ts
    strictly before max purchase ts within the session)."""
    ev = sessionize(load_table(spark, sf_dir, "events"), order_cols=("event_id",))
    per_session = ev.groupBy("session_id").agg(
        F.first("user_id").alias("user_id"),
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("_v"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("_p"),
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(
            F.when(
                F.col("_v").isNotNull()
                & F.col("_p").isNotNull()
                & (F.col("_v") < F.col("_p")),
                1,
            ).otherwise(0)
        ).alias("n_converted"),
    )


SQL_SESSION_FUNNEL = _SESSION_CTE + """
, per_session AS (
  SELECT session_id, min(user_id) AS user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS _v,
         max(CASE WHEN event_type = 'purchase' THEN ts END) AS _p
  FROM sessions GROUP BY session_id
)
SELECT user_id, count(*) AS n_sessions,
       CAST(sum(CASE WHEN _v IS NOT NULL AND _p IS NOT NULL AND _v < _p
                THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
FROM per_session GROUP BY user_id
"""


def q_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch linear attribution: each purchase's value split evenly
    across the session's earlier non-purchase touches.

    A purchase with no earlier touch in its session credits 'direct'.
    "Earlier" is the total order (ts, event_id), so ties are decided
    identically in both engines. Shares divide IEEE doubles (one
    bit-deterministic operation per row), are snapped to DECIMAL(18,6),
    and accumulate exactly — the per-type totals are order-independent.

    Scale shape: purchases join touches on ``session_id`` — a
    high-cardinality uniform key — and the within-session pair blow-up is
    bounded by session length (the 30-min gap rule caps it), never by
    corpus size. The per-purchase touch count is a window over the same
    join output, no extra shuffle (partition key ``p_event_id`` is a
    subset refinement of the join's session key only after the join —
    one additional exchange on purchase id, still uniform).
    """
    ev = sessionize(load_table(spark, sf_dir, "events"), order_cols=("event_id",))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "session_id",
        F.col("event_id").alias("_p_id"),
        F.col("ts").alias("_p_ts"),
        F.col("value").alias("_p_value"),
    )
    touches = ev.filter(F.col("event_type") != "purchase").select(
        "session_id",
        F.col("event_id").alias("_t_id"),
        F.col("ts").alias("_t_ts"),
        F.col("event_type").alias("_t_type"),
    )
    earlier = (F.col("_t_ts") < F.col("_p_ts")) | (
        (F.col("_t_ts") == F.col("_p_ts")) & (F.col("_t_id") < F.col("_p_id"))
    )
    pairs = purchases.join(touches, ["session_id"], "left").withColumn(
        "_credit", F.when(earlier, F.col("_t_type"))
    )
    n_w = Window.partitionBy("_p_id")
    credited = pairs.withColumn("_n", F.count("_credit").over(n_w)).withColumn(
        "_share",
        F.when(F.col("_n") == 0, F.col("_p_value")).otherwise(
            F.col("_p_value") / F.col("_n")
        ),
    )
    # n == 0 → the (possibly null-joined) rows collapse to one 'direct'
    # credit; n > 0 → only rows that actually matched an earlier touch.
    keep = (F.col("_n") > 0) & F.col("_credit").isNotNull()
    direct = (F.col("_n") == 0) & (
        F.row_number().over(
            Window.partitionBy("_p_id").orderBy(
                F.col("_t_id").asc_nulls_first()
            )
        )
        == 1
    )
    return (
        credited.withColumn("_rank_direct", direct)
        .filter(keep | F.col("_rank_direct"))
        .withColumn(
            "channel", F.coalesce(F.when(keep, F.col("_credit")), F.lit("direct"))
        )
        .groupBy("channel")
        .agg(
            F.sum(F.col("_share").cast("decimal(18,6)"))
            .cast("double")
            .alias("attributed_revenue"),
            F.countDistinct("_p_id").alias("n_purchases"),
        )
    )


SQL_LINEAR_ATTRIBUTION = _SESSION_CTE + """
, purchases AS (
  SELECT session_id, event_id AS p_id, ts AS p_ts, value AS p_value
  FROM sessions WHERE event_type = 'purchase'
), touches AS (
  SELECT session_id, event_id AS t_id, ts AS t_ts, event_type AS t_type
  FROM sessions WHERE event_type <> 'purchase'
), pairs AS (
  SELECT p.*, t.t_id, t.t_ts,
         CASE WHEN t.t_ts < p.p_ts OR (t.t_ts = p.p_ts AND t.t_id < p.p_id)
              THEN t.t_type END AS credit
  FROM purchases p LEFT JOIN touches t USING (session_id)
), counted AS (
  SELECT *, count(credit) OVER (PARTITION BY p_id) AS n,
         row_number() OVER (PARTITION BY p_id ORDER BY t_id ASC NULLS FIRST)
           AS rn
  FROM pairs
), credited AS (
  SELECT CASE WHEN n > 0 THEN credit ELSE 'direct' END AS channel,
         CASE WHEN n = 0 THEN p_value ELSE p_value / n END AS share,
         p_id
  FROM counted
  WHERE (n > 0 AND credit IS NOT NULL) OR (n = 0 AND rn = 1)
)
SELECT channel,
       CAST(sum(CAST(share AS DECIMAL(18,6))) AS DOUBLE) AS attributed_revenue,
       count(DISTINCT p_id) AS n_purchases
FROM credited GROUP BY channel
"""


def q_concurrent_sessions_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day (interval sweep-line).

    Session intervals [min ts, max ts] are clamped to each day they span
    (a session crossing midnight counts toward both days), then each day
    runs an independent sweep: +1 at interval start, -1 at interval end,
    starts before ends at equal timestamps (inclusive-overlap
    convention), running-sum max = that day's peak.

    Scale shape: the sweep window partitions by DAY, so no global sort —
    each day's boundary list is 2×(sessions touching that day) rows, and
    the multi-day explode is bounded by session length (30-min gap rule
    ⇒ almost always 1 day, never unbounded). Running sums are exact int
    arithmetic; ties are totally ordered by (ts, delta DESC, session_id).
    """
    ev = sessionize(load_table(spark, sf_dir, "events"), order_cols=("event_id",))
    bounds = ev.groupBy("session_id").agg(
        F.min("ts").alias("_s"), F.max("ts").alias("_e")
    )
    days = bounds.select(
        "session_id",
        "_s",
        "_e",
        F.explode(F.sequence(F.to_date("_s"), F.to_date("_e"))).alias("day"),
    ).select(
        "session_id",
        "day",
        F.greatest(F.col("_s"), F.col("day").cast("timestamp")).alias("_cs"),
        F.least(
            F.col("_e"),
            F.date_add(F.col("day"), 1).cast("timestamp")
            - F.expr("interval 1 microsecond"),
        ).alias("_ce"),
    )
    boundaries = days.select(
        "session_id", "day", F.col("_cs").alias("_t"), F.lit(1).alias("_delta")
    ).unionByName(
        days.select(
            "session_id", "day", F.col("_ce").alias("_t"), F.lit(-1).alias("_delta")
        )
    )
    sweep = Window.partitionBy("day").orderBy(
        F.col("_t"), F.col("_delta").desc(), F.col("session_id")
    )
    running = boundaries.withColumn(
        "_running",
        F.sum("_delta").over(sweep.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return running.groupBy("day").agg(
        F.max("_running").cast("long").alias("peak_concurrency"),
        (F.count(F.lit(1)) / 2).cast("long").alias("n_sessions"),
    )


SQL_CONCURRENT_SESSIONS_PEAK = _SESSION_CTE + """
, bounds AS (
  SELECT session_id, min(ts) AS s, max(ts) AS e
  FROM sessions GROUP BY session_id
), days AS (
  SELECT session_id,
         CAST(d.day AS DATE) AS day,
         greatest(s, CAST(CAST(d.day AS DATE) AS TIMESTAMP)) AS cs,
         least(e, CAST(CAST(d.day AS DATE) + INTERVAL 1 DAY AS TIMESTAMP)
                  - INTERVAL 1 MICROSECOND) AS ce
  FROM bounds,
       unnest(generate_series(CAST(s AS DATE), CAST(e AS DATE),
                              INTERVAL 1 DAY)) AS d(day)
), boundaries AS (
  SELECT session_id, day, cs AS t, 1 AS delta FROM days
  UNION ALL
  SELECT session_id, day, ce AS t, -1 AS delta FROM days
), swept AS (
  SELECT day,
         sum(delta) OVER (PARTITION BY day
                          ORDER BY t, delta DESC, session_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS running
  FROM boundaries
)
SELECT day, CAST(max(running) AS BIGINT) AS peak_concurrency,
       CAST(count(*) / 2 AS BIGINT) AS n_sessions
FROM swept GROUP BY day
"""


def q_session_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequential patterns over session event strings.

    Each session renders as an ordered string of event initials (v=view,
    c=click, p=purchase, s=signup, e=error — initials are distinct here),
    then regexes classify journeys: ordered funnels ('v.*c.*p' means a
    view *then* a click *then* a purchase — order-sensitive, unlike the
    funnel query's min/max bounds), bounces, error-free conversions.
    Counts per pattern are the output (pattern, n_sessions).

    Patterns stay in the RE2∩Java-regex common subset (the PII-scrub
    rule), so both engines match identically.

    Scale shape: one groupBy(session_id) builds each string — session
    length is gap-bounded, so strings are small; the regex sweep is a
    map-side projection over |sessions| rows followed by a global agg of
    a handful of counters. No joins, one shuffle.
    """
    ev = sessionize(load_table(spark, sf_dir, "events"), order_cols=("event_id",))
    seqs = (
        ev.select(
            "session_id",
            F.struct(
                "ts",
                "event_id",
                F.substring("event_type", 1, 1).alias("letter"),
            ).alias("_s"),
        )
        .groupBy("session_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("_s")), lambda s: s["letter"]
                ),
                "",
            ).alias("journey")
        )
    )
    patterns = [
        ("ordered_funnel_vcp", "v.*c.*p"),
        ("converted", "p"),
        ("bounce", "^.$"),
        ("error_then_purchase", "e.*p"),
        ("browse_only", "^[vc]+$"),
    ]
    counts = seqs.agg(
        *[
            F.sum(
                F.when(F.col("journey").rlike(rx), F.lit(1)).otherwise(F.lit(0))
            ).alias(name)
            for name, rx in patterns
        ]
    )
    stack_args = ", ".join(f"'{name}', {name}" for name, _ in patterns)
    return counts.select(
        F.expr(
            f"stack({len(patterns)}, {stack_args}) AS (pattern, n_sessions)"
        )
    )


SQL_SESSION_PATTERN_MATCH = _SESSION_CTE + """
, seqs AS (
  SELECT session_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS journey
  FROM sessions GROUP BY session_id
), counts AS (
  SELECT
    sum(CASE WHEN regexp_matches(journey, 'v.*c.*p') THEN 1 ELSE 0 END)
      AS ordered_funnel_vcp,
    sum(CASE WHEN regexp_matches(journey, 'p') THEN 1 ELSE 0 END)
      AS converted,
    sum(CASE WHEN regexp_matches(journey, '^.$') THEN 1 ELSE 0 END)
      AS bounce,
    sum(CASE WHEN regexp_matches(journey, 'e.*p') THEN 1 ELSE 0 END)
      AS error_then_purchase,
    sum(CASE WHEN regexp_matches(journey, '^[vc]+$') THEN 1 ELSE 0 END)
      AS browse_only
  FROM seqs
)
SELECT 'ordered_funnel_vcp' AS pattern, ordered_funnel_vcp AS n_sessions
  FROM counts
UNION ALL SELECT 'converted', converted FROM counts
UNION ALL SELECT 'bounce', bounce FROM counts
UNION ALL SELECT 'error_then_purchase', error_then_purchase FROM counts
UNION ALL SELECT 'browse_only', browse_only FROM counts
"""


def q_capped_sessionize_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tier-b Pandas sessionizer under oracle: with the cap disabled,
    ``sessionize_capped`` (applyInPandas, imperative per-user loop) must
    reproduce the window-function operator byte-for-byte — so it shares
    the flagship's SQL oracle. The cap behavior itself is pinned in
    ``tests/test_sessions_capped.py`` (not SQL-expressible: the boundary
    depends on the previous boundary decision — a running reset)."""
    ev = load_table(spark, sf_dir, "events")
    return sessionize_capped(
        ev, cap_seconds=None, order_cols=("event_id",)
    ).select("event_id", "ts", "user_id", "event_type", "value", "session_id")


def q_legacy_udf_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's DEPRECATED UDF sessionization
    (``operators/legacy.py``, port of ``SessionizationUdf.scala``) run
    over the events table — included so the legacy path is
    ORACLE-verified, not just unit-tested: the DuckDB side replays the
    per-user fold as a recursive CTE, including the strict
    millisecond threshold and the sha256("{user}-{epochMillis}") id
    preimage. (Production sessionization is the window-function path;
    this is the quarantined §2.9 row, proven equivalent to its spec.)
    """
    from commerce_sessionization_spark.operators.legacy import (
        augment_session_id_udf,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").alias("event_time"), "event_id"
    )
    return augment_session_id_udf(ev).select(
        "user_id", "event_id", "session_id"
    )


SQL_LEGACY_UDF_SESSIONS = """
WITH RECURSIVE indexed AS MATERIALIZED (
  SELECT user_id, event_id,
         epoch_us(ts) // 1000 AS ms,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
), walk AS (
  SELECT user_id, event_id, ms, rn,
         sha256(user_id::VARCHAR || '-' || ms::VARCHAR) AS session_id
  FROM indexed WHERE rn = 1
  UNION ALL
  SELECT i.user_id, i.event_id, i.ms, i.rn,
         CASE WHEN i.ms - w.ms > 1800000
              THEN sha256(i.user_id::VARCHAR || '-' || i.ms::VARCHAR)
              ELSE w.session_id END
  FROM indexed i JOIN walk w
    ON i.user_id = w.user_id AND i.rn = w.rn + 1
)
SELECT user_id, event_id, session_id FROM walk
"""
