"""Reference-parity queries over the ``events`` stream table.

The driver testdata ``events`` table (event_id, ts, user_id,
event_type, value, props-JSON) plays the role of the reference's Kafka
clickstream (SURVEY.md §1.2); event_type domain here is
{view, click, purchase, signup, error}.  Each query is the batch twin
of a reference streaming pipeline:

- page_view_counts      ← pipeline #1 (stream_processor.py:129-173)
- user_sessions         ← pipeline #2 (:175-206), upgraded to
                          session_window + deterministic event lists
- purchase_stats        ← pipeline #3 (:208-254), exact-distinct twin
- hourly_event_stats    ← pipeline #4 (:256-296), struct group keys
- json_props_*          ← the from_json ingest path (:121-125)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import avg_money, sum_money
from ..operators.anomaly import zscore_anomalies
from ..operators.sessions import session_event_lists, sessionize
from ..operators.windows import tumbling_count
from ..schema import EVENTS_PROPS_SCHEMA
from ..sources.tables import load
from .registry import QuerySpec


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "events")


def page_view_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Views per 1-minute tumbling window (flagship; ref :137-149)."""
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "view")
    return tumbling_count(ev, "ts", "1 minute", count_alias="view_count")


def page_view_counts_by_user_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed counts keyed by a low-cardinality derived dimension —
    the (window, page) grouping shape of the reference."""
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "view")
    ev = ev.withColumn("user_bucket", (F.col("user_id") % 10).cast("int"))
    return tumbling_count(ev, "ts", "1 minute", "user_bucket", count_alias="view_count")


def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions with ordered, comma-joined event lists
    (ref user_sessions :182-192 + array_join flatten :333-339)."""
    return session_event_lists(_events(spark, sf_dir), "ts", "user_id", "event_type", "event_id")


def session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window sessionization: start/end/count per session."""
    return sessionize(_events(spark, sf_dir), "ts", "user_id")


def purchase_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly purchase count / revenue / exact unique buyers (ref :215-231)."""
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("purchase_count"),
            sum_money("value").alias("total_revenue"),
            F.count_distinct(F.col("user_id")).alias("unique_buyers"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "purchase_count",
            "total_revenue",
            "unique_buyers",
        )
    )


def purchase_stats_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ twin of purchase_stats (ref approx_count_distinct :223) —
    rows-only check: HLL estimates differ from DuckDB's sketch."""
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("purchase_count"),
            F.approx_count_distinct("user_id").alias("unique_buyers_approx"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "purchase_count",
            "unique_buyers_approx",
        )
    )


def hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly stats keyed through a nested struct (the reference groups
    on device.type/browser/os, :260-282 — same dot-path projection)."""
    ev = _events(spark, sf_dir).withColumn(
        "meta", F.struct(F.col("event_type").alias("kind"), F.col("user_id").alias("uid"))
    )
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("meta.kind").alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("visit_count"),
            F.count_distinct(F.col("meta.uid")).alias("unique_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "visit_count",
            "unique_users",
        )
    )


def hourly_page_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Top pages per hour' as EXACT per-window heavy hitters (r17
    queue; r15 verdict directive #7): for each tumbling hour, pages
    with freq·8 > N_hour — via
    operators/sketches.windowed_heavy_hitters (per-window Misra-Gries
    screen with O(k·windows) state per task, then an exact recount of
    surviving (window, page) candidates; the oracle states the plain
    per-window groupBy + HAVING, integer threshold so engine-exact)."""
    from ..operators.sketches import windowed_heavy_hitters

    pages = _events(spark, sf_dir).select(
        "ts", F.get_json_object("props", "$.k").alias("page")
    ).filter(F.col("page").isNotNull())
    return windowed_heavy_hitters(pages, "ts", "page", k=8, window="1 hour")


def sliding_page_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Top pages of the last hour, refreshed every quarter' (r18
    queue; r16 verdict directive #5): EXACT heavy hitters per SLIDING
    window — 1-hour windows every 15 minutes, pages with
    freq·8 > N_window.  The ``slide=`` form of
    operators/sketches.windowed_heavy_hitters (each event lands in
    window/slide = 4 overlapping windows; MG screen and recount both
    key on (window, page), so every per-window guarantee carries over
    verbatim).  The oracle expands each event to its 4 epoch-aligned
    window starts via generate_series — integer threshold, engine-
    exact."""
    from ..operators.sketches import windowed_heavy_hitters

    pages = _events(spark, sf_dir).select(
        "ts", F.get_json_object("props", "$.k").alias("page")
    ).filter(F.col("page").isNotNull())
    return windowed_heavy_hitters(
        pages, "ts", "page", k=8, window="1 hour", slide="15 minutes"
    )


def json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json ingest path (ref :121-125): parse the props JSON
    document against a declared schema, flatten, aggregate."""
    ev = _events(spark, sf_dir).withColumn("data", F.from_json(F.col("props"), EVENTS_PROPS_SCHEMA))
    return (
        ev.select(F.col("data.k").alias("k"), "value")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("event_cnt"), avg_money("value").alias("avg_value"))
    )


def json_props_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 props.k by frequency — sort + limit with deterministic
    tiebreak (TakeOrderedAndProject, no full sort at scale)."""
    return (
        json_props_stats(spark, sf_dir)
        .orderBy(F.col("event_cnt").desc(), F.col("k"))
        .limit(20)
    )


def daily_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-type serving aggregate (event_date × event_type)."""
    ev = _events(spark, sf_dir)
    return (
        # midnight TIMESTAMP, not DATE (driver-gate dtype discipline)
        ev.groupBy(F.to_date("ts").cast("timestamp").alias("event_date"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("event_cnt"),
            sum_money("value").alias("total_value"),
            F.count_distinct("user_id").alias("unique_users"),
        )
    )


def sliding_view_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute windows sliding every minute (each event lands in 5
    overlapping windows) — the hopping-window shape the reference's
    tumbling-only pipelines lack.  Spark's window(slide) plans a
    5-way Expand before the hash agg; the oracle replicates it with an
    explicit 0..4 offset cross join."""
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "view")
    return (
        ev.groupBy(F.window("ts", "5 minutes", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("view_count"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "view_count",
        )
    )


def json_props_getobject(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object path extraction (the ad-hoc JSON accessor, vs
    the schema-declared from_json in json_props_stats)."""
    ev = _events(spark, sf_dir)
    return (
        ev.select(F.get_json_object("props", "$.k").cast("int").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("event_cnt"))
    )


def user_journey_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition counts via lag over per-user time order
    (the README's 'user journey flows', README.md:128-137)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = _events(spark, sf_dir).withColumn("prev_event", F.lag("event_type").over(w))
    return (
        ev.filter(F.col("prev_event").isNotNull())
        .groupBy(F.col("prev_event"), F.col("event_type").alias("next_event"))
        .agg(F.count(F.lit(1)).alias("transition_count"))
    )


def anomaly_minutes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """README.md:123 anomaly detection: minutes with |z| > 2."""
    return zscore_anomalies(_events(spark, sf_dir), "ts", "minute", 2.0)


def sql_event_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-SQL read surface (ref executes arbitrary SELECTs,
    storage/postgres_connector.py:44-55) — spark.sql over a view."""
    load(spark, sf_dir, "events").createOrReplaceTempView("_ev_sql_surface")
    return spark.sql(
        """
        SELECT event_type,
               count(*)                                             AS event_cnt,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE)    AS total_value,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_value,
               count(DISTINCT user_id)                              AS unique_users
        FROM _ev_sql_surface
        GROUP BY event_type
        """
    )


def sql_user_ltv_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-SQL surface depth: CTE + window function + top-k submitted
    as ONE SQL text (the reference's arbitrary-SELECT path must handle
    analytic SQL, not just aggregates).  Catalyst plans it identically
    to the DataFrame form — top-10 via rank over lifetime value."""
    load(spark, sf_dir, "events").createOrReplaceTempView("_ev_sql_surface")
    return spark.sql(
        """
        WITH ltv AS (
            SELECT user_id,
                   CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS lifetime_value,
                   count(*) AS event_cnt
            FROM _ev_sql_surface
            WHERE event_type = 'purchase'
            GROUP BY user_id
        )
        SELECT user_id, lifetime_value, event_cnt,
               rank() OVER (ORDER BY lifetime_value DESC, user_id) AS ltv_rank
        FROM ltv
        ORDER BY ltv_rank
        LIMIT 10
        """
    )


def events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass per-column profile of the events table (null +
    exact distinct counts) — the DESCRIBE/ANALYZE data-quality surface."""
    from ..operators.profile import profile

    return profile(_events(spark, sf_dir), ["user_id", "event_type", "value", "props"])


def event_type_map_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: per-user map<event_type, count> built with
    map_from_entries, then exploded back to rows — the map is a real
    intermediate (size() consumed from it), the output stays
    oracle-comparable."""
    ev = _events(spark, sf_dir)
    per_type = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    as_map = per_type.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "cnt"))).alias("type_counts")
    )
    return as_map.select(
        "user_id",
        F.size("type_counts").alias("n_types"),
        F.explode("type_counts").alias("event_type", "cnt"),
    )


def events_dedup_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup of a projection (dropDuplicates ≡ SELECT DISTINCT)."""
    return _events(spark, sf_dir).select("user_id", "event_type").dropDuplicates()


_SESSION_ORACLE = """
WITH flagged AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     < INTERVAL 30 MINUTE
                THEN 0 ELSE 1 END AS new_sess
    FROM events
), sess AS (
    SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sess_no
    FROM flagged
)
"""


def ab_purchase_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout (r20 queue): the unit is an ACTIVE
    USER-DAY (user_id x calendar day with >=1 event — the standard
    daily-activation grain; plain per-user "ever purchased" saturates
    to 100% on this fixture and the pooled rate degenerates to 1),
    converted = purchased that day, arms split by a deterministic
    multiplicative hash of user_id (Knuth's 2654435761 mod 2^32 —
    stated identically in the oracle; exact in int64, so both engines
    bucket every user the same way; the RANDOMIZATION unit stays the
    user, as it must — all of a user's days land in one arm).  Pooled
    two-proportion z-test + per-arm Wilson intervals via
    operators/stats.two_proportion_ztest; aggregating to units FIRST
    is the double-counted-exposure trap the operator docstring
    names."""
    from ..operators.stats import two_proportion_ztest

    units = (
        _events(spark, sf_dir)
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.expr("bool_or(event_type = 'purchase')").alias("converted"))
        .withColumn(
            "in_treatment",
            (F.col("user_id") * F.lit(2654435761)) % F.lit(4294967296)
            < F.lit(2147483648),
        )
    )
    return two_proportion_ztest(units, "in_treatment", "converted")


def _ab_ztest_oracle() -> str:
    """DuckDB twin of ab_purchase_ztest with the operator's exact
    expression trees (rates, pooled SE, Wilson intervals) — every
    literal CAST AS DOUBLE, sqrt correctly rounded on both engines,
    one dround per output (the EWMA-oracle discipline)."""
    from ..functions import sql_snippets

    pt = "(CAST(xt AS DOUBLE) / CAST(nt AS DOUBLE))"
    pc = "(CAST(xc AS DOUBLE) / CAST(nc AS DOUBLE))"
    pp = "((CAST(xt AS DOUBLE) + CAST(xc AS DOUBLE)) / (CAST(nt AS DOUBLE) + CAST(nc AS DOUBLE)))"
    se = (
        f"sqrt({pp} * (CAST(1.0 AS DOUBLE) - {pp})"
        f" * (CAST(1.0 AS DOUBLE) / CAST(nt AS DOUBLE)"
        f" + CAST(1.0 AS DOUBLE) / CAST(nc AS DOUBLE)))"
    )
    z = f"(({pt} - {pc}) / {se})"
    z_guard = (
        f"CASE WHEN nt > 0 AND nc > 0 AND {pp} > CAST(0.0 AS DOUBLE)"
        f" AND {pp} < CAST(1.0 AS DOUBLE) THEN {z} END"
    )

    def wilson(p: str, n: str, sign: str) -> str:
        centre = f"({p} + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (CAST(2.0 AS DOUBLE) * {n}))"
        margin = (
            f"(CAST(1.96 AS DOUBLE) * sqrt({p} * (CAST(1.0 AS DOUBLE) - {p}) / {n}"
            f" + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (CAST(4.0 AS DOUBLE) * {n} * {n})))"
        )
        return (
            f"(({centre} {sign} {margin})"
            f" / (CAST(1.0 AS DOUBLE) + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / {n}))"
        )

    def arm(p: str, n_raw: str, n_dbl: str, name: str) -> str:
        return ", ".join(
            [
                sql_snippets.dround(f"CASE WHEN {n_raw} > 0 THEN {p} END", 6)
                + f" AS rate_{name}",
                sql_snippets.dround(
                    f"CASE WHEN {n_raw} > 0 THEN {wilson(p, n_dbl, '-')} END", 6
                )
                + f" AS wilson_lo_{name}",
                sql_snippets.dround(
                    f"CASE WHEN {n_raw} > 0 THEN {wilson(p, n_dbl, '+')} END", 6
                )
                + f" AS wilson_hi_{name}",
            ]
        )

    return f"""
        WITH units AS (
            SELECT user_id, CAST(ts AS DATE) AS day,
                   bool_or(event_type = 'purchase') AS conv,
                   (user_id * 2654435761) % 4294967296 < 2147483648 AS t
            FROM events GROUP BY 1, 2
        ), c AS (
            SELECT CAST(count(*) FILTER (t) AS BIGINT) AS nt,
                   CAST(count(*) FILTER (NOT t) AS BIGINT) AS nc,
                   CAST(count(*) FILTER (t AND coalesce(conv, FALSE)) AS BIGINT) AS xt,
                   CAST(count(*) FILTER ((NOT t) AND coalesce(conv, FALSE)) AS BIGINT) AS xc
            FROM units
        )
        SELECT nt AS n_treatment, nc AS n_control,
               xt AS conv_treatment, xc AS conv_control,
               {arm(pt, 'nt', 'CAST(nt AS DOUBLE)', 'treatment')},
               {arm(pc, 'nc', 'CAST(nc AS DOUBLE)', 'control')},
               {sql_snippets.dround(f'CASE WHEN nt > 0 AND nc > 0 THEN {pt} - {pc} END', 6)}
                   AS abs_lift,
               {sql_snippets.dround(z_guard, 6)} AS z_stat,
               CASE WHEN {z_guard} IS NOT NULL
                    THEN abs({z_guard}) > CAST(1.96 AS DOUBLE) END
                   AS significant_95
        FROM c
        """


SPECS = [
    QuerySpec(
        "page_view_counts",
        page_view_counts,
        """
        SELECT date_trunc('minute', ts)                     AS window_start,
               date_trunc('minute', ts) + INTERVAL 1 MINUTE AS window_end,
               count(*)                                     AS view_count
        FROM events WHERE event_type = 'view'
        GROUP BY 1, 2
        """,
        "flagship: 1-min tumbling view counts",
    ),
    QuerySpec(
        "page_view_counts_by_user_bucket",
        page_view_counts_by_user_bucket,
        """
        SELECT date_trunc('minute', ts)                     AS window_start,
               date_trunc('minute', ts) + INTERVAL 1 MINUTE AS window_end,
               CAST(user_id % 10 AS INT)                    AS user_bucket,
               count(*)                                     AS view_count
        FROM events WHERE event_type = 'view'
        GROUP BY 1, 2, 3
        """,
    ),
    QuerySpec(
        "user_sessions",
        user_sessions,
        _SESSION_ORACLE
        + """
        SELECT user_id,
               min(ts)  AS session_start,
               max(ts)  AS session_end,
               count(*) AS event_count,
               string_agg(event_type, ',' ORDER BY ts, event_id) AS event_types
        FROM sess GROUP BY user_id, sess_no
        """,
    ),
    QuerySpec(
        "session_stats",
        session_stats,
        _SESSION_ORACLE
        + """
        SELECT user_id,
               min(ts)  AS session_start,
               max(ts)  AS session_end,
               count(*) AS event_count
        FROM sess GROUP BY user_id, sess_no
        """,
    ),
    QuerySpec(
        "purchase_stats",
        purchase_stats,
        """
        SELECT date_trunc('hour', ts)                     AS window_start,
               date_trunc('hour', ts) + INTERVAL 1 HOUR   AS window_end,
               count(*)                                   AS purchase_count,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_revenue,
               count(DISTINCT user_id)                    AS unique_buyers
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1, 2
        """,
    ),
    QuerySpec("purchase_stats_approx", purchase_stats_approx, None, "HLL++ rows-only twin"),
    QuerySpec(
        "hourly_page_heavy_hitters",
        hourly_page_heavy_hitters,
        """
        WITH pages AS (
            SELECT date_trunc('hour', ts) AS window_start,
                   json_extract_string(props, '$.k') AS page
            FROM events
            WHERE ts IS NOT NULL AND json_extract_string(props, '$.k') IS NOT NULL
        ), totals AS (
            SELECT window_start, count(*) AS n_w FROM pages GROUP BY 1
        )
        SELECT p.window_start, p.page, count(*) AS freq
        FROM pages p JOIN totals t ON t.window_start = p.window_start
        GROUP BY p.window_start, p.page, t.n_w
        HAVING count(*) * 8 > t.n_w
        """,
        "exact per-hour heavy hitters (windowed Misra-Gries + recount)",
    ),
    QuerySpec(
        "sliding_page_heavy_hitters",
        sliding_page_heavy_hitters,
        # each event expands to its 4 epoch-aligned sliding-window
        # starts (1h window, 15min slide); naive-timestamp arithmetic
        # (no to_timestamp — it would route through the session tz),
        # pure integer threshold — engine-exact
        """
        WITH pages AS (
            SELECT ts, json_extract_string(props, '$.k') AS page
            FROM events
            WHERE ts IS NOT NULL AND json_extract_string(props, '$.k') IS NOT NULL
        ), expanded AS (
            SELECT TIMESTAMP '1970-01-01' + to_seconds(g.s) AS window_start, page
            FROM pages, UNNEST(generate_series(
                CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 - 2700,
                CAST(floor(epoch(ts) / 900) AS BIGINT) * 900,
                900)) AS g(s)
        ), totals AS (
            SELECT window_start, count(*) AS n_w FROM expanded GROUP BY 1
        )
        SELECT e.window_start, e.page, count(*) AS freq
        FROM expanded e JOIN totals t USING (window_start)
        GROUP BY e.window_start, e.page, t.n_w
        HAVING count(*) * 8 > t.n_w
        """,
        "exact sliding-window heavy hitters (1h window, 15min slide)",
    ),
    QuerySpec(
        "hourly_event_stats",
        hourly_event_stats,
        """
        SELECT date_trunc('hour', ts)                   AS window_start,
               date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
               event_type,
               count(*)                                 AS visit_count,
               count(DISTINCT user_id)                  AS unique_users
        FROM events
        GROUP BY 1, 2, 3
        """,
    ),
    QuerySpec(
        "json_props_stats",
        json_props_stats,
        """
        SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
               count(*)             AS event_cnt,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_value
        FROM events GROUP BY 1
        """,
    ),
    QuerySpec(
        "json_props_topk",
        json_props_topk,
        """
        SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
               count(*)             AS event_cnt,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_value
        FROM events GROUP BY 1
        ORDER BY event_cnt DESC, k
        LIMIT 20
        """,
    ),
    QuerySpec(
        "daily_event_stats",
        daily_event_stats,
        """
        SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS event_date, event_type,
               count(*) AS event_cnt,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
               count(DISTINCT user_id) AS unique_users
        FROM events GROUP BY 1, 2
        """,
    ),
    QuerySpec(
        "sliding_view_counts",
        sliding_view_counts,
        """
        SELECT date_trunc('minute', ts) - (k * INTERVAL 1 MINUTE)                    AS window_start,
               date_trunc('minute', ts) - (k * INTERVAL 1 MINUTE) + INTERVAL 5 MINUTE AS window_end,
               count(*)                                                              AS view_count
        FROM events, (SELECT unnest(range(5)) AS k)
        WHERE event_type = 'view'
        GROUP BY 1, 2
        """,
    ),
    QuerySpec(
        "json_props_getobject",
        json_props_getobject,
        """
        SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
               count(*) AS event_cnt
        FROM events GROUP BY 1
        """,
    ),
    QuerySpec(
        "user_journey_transitions",
        user_journey_transitions,
        """
        WITH j AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event
            FROM events
        )
        SELECT prev_event, event_type AS next_event, count(*) AS transition_count
        FROM j WHERE prev_event IS NOT NULL
        GROUP BY 1, 2
        """,
    ),
    QuerySpec(
        "anomaly_minutes",
        anomaly_minutes,
        """
        WITH m AS (
            SELECT date_trunc('minute', ts) AS bucket_start, count(*) AS event_cnt
            FROM events GROUP BY 1
        ), s AS (
            SELECT sum(event_cnt) AS s, sum(event_cnt * event_cnt) AS sq, count(*) AS n FROM m
        )
        SELECT bucket_start, event_cnt,
               floor(((event_cnt - CAST(s AS DOUBLE) / n)
                      / sqrt((sq - (CAST(s AS DOUBLE) * s) / n) / (n - 1))) * 10000.0 + 0.5)
               / 10000.0 AS zscore
        FROM m, s
        WHERE abs((event_cnt - CAST(s AS DOUBLE) / n)
                  / sqrt((sq - (CAST(s AS DOUBLE) * s) / n) / (n - 1))) > 2.0
        """,
    ),
    QuerySpec(
        "sql_event_summary",
        sql_event_summary,
        """
        SELECT event_type,
               count(*)                                             AS event_cnt,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE)    AS total_value,
               CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_value,
               count(DISTINCT user_id)                              AS unique_users
        FROM events GROUP BY event_type
        """,
    ),
    QuerySpec(
        "sql_user_ltv_rank",
        sql_user_ltv_rank,
        """
        WITH ltv AS (
            SELECT user_id,
                   CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS lifetime_value,
                   count(*) AS event_cnt
            FROM events
            WHERE event_type = 'purchase'
            GROUP BY user_id
        )
        SELECT user_id, lifetime_value, event_cnt,
               rank() OVER (ORDER BY lifetime_value DESC, user_id) AS ltv_rank
        FROM ltv
        ORDER BY ltv_rank
        LIMIT 10
        """,
    ),
    QuerySpec(
        "events_profile",
        events_profile,
        """
        SELECT 'user_id' AS column_name, count(*) AS row_cnt,
               count(*) FILTER (user_id IS NULL) AS null_cnt,
               count(DISTINCT user_id) AS distinct_cnt
        FROM events
        UNION ALL
        SELECT 'event_type', count(*),
               count(*) FILTER (event_type IS NULL), count(DISTINCT event_type)
        FROM events
        UNION ALL
        SELECT 'value', count(*),
               count(*) FILTER (value IS NULL), count(DISTINCT value)
        FROM events
        UNION ALL
        SELECT 'props', count(*),
               count(*) FILTER (props IS NULL), count(DISTINCT props)
        FROM events
        """,
    ),
    QuerySpec(
        "event_type_map_roundtrip",
        event_type_map_roundtrip,
        """
        WITH c AS (
            SELECT user_id, event_type, count(*) AS cnt FROM events GROUP BY 1, 2
        ), n AS (
            SELECT user_id, CAST(count(*) AS INT) AS n_types FROM c GROUP BY 1
        )
        SELECT c.user_id, n_types, event_type, cnt
        FROM c JOIN n ON c.user_id = n.user_id
        """,
    ),
    QuerySpec(
        "events_dedup_distinct",
        events_dedup_distinct,
        "SELECT DISTINCT user_id, event_type FROM events",
    ),
    QuerySpec(
        "ab_purchase_ztest",
        ab_purchase_ztest,
        _ab_ztest_oracle(),
        "pooled two-proportion z-test + Wilson CIs over hash-bucketed "
        "user arms (r20 queue)",
    ),
]
