"""The reference's actual workload, re-expressed (SURVEY.md §3 group
L): per-user engagement features, recency, churn label (Q31) and the
shopping-stage funnel (Q32).

These mirror what MorphL's GA churn / shopping-stage PySpark
preprocessing computes per user before model training [PUBLIC,
SURVEY.md §1]: session counts, value sums/averages, conditional event
counts, days-since-last-activity, and a threshold churn label.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from morphl_community_edition_spark.catalog import load_table
from morphl_community_edition_spark.functions.rounding import crnd, davg, dsum, sql_crnd, sql_davg, sql_dsum
from morphl_community_edition_spark.queries import query
from morphl_community_edition_spark.queries.windows import EVENTS_US

ASOF_DATE = "2024-03-01"
SQL_SUM_VALUE = sql_crnd(sql_dsum("value"), 2)
SQL_AVG_VALUE = sql_crnd(sql_davg("value"), 6)
CHURN_DAYS = 14


def engagement_features(events: DataFrame, asof: str = ASOF_DATE, churn_days: int = CHURN_DAYS) -> DataFrame:
    """L1-L3: per-user engagement features + recency + churn label.

    One hash aggregation on user_id (high cardinality, even) — the
    whole reference feature job is a single shuffle.
    """
    recency = F.datediff(F.lit(asof).cast("date"), F.max("ts").cast("date"))
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        crnd(dsum(F.col("value")), 2).alias("sum_value"),
        crnd(davg(F.col("value")), 6).alias("avg_value"),
        F.countDistinct("event_type").alias("types"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("purchases"),
        recency.alias("recency_days"),
        F.when(recency >= churn_days, 1).otherwise(0).alias("churned"),
    )


@query(
    "q31_engagement_churn",
    oracle=f"""
    SELECT user_id, count(*) AS n_events,
           {SQL_SUM_VALUE} AS sum_value,
           {SQL_AVG_VALUE} AS avg_value,
           count(DISTINCT event_type) AS types,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
           CAST(datediff('day', max(ts), TIMESTAMP '{ASOF_DATE}') AS INTEGER) AS recency_days,
           CASE WHEN datediff('day', max(ts), TIMESTAMP '{ASOF_DATE}') >= {CHURN_DAYS} THEN 1 ELSE 0 END AS churned
    FROM {EVENTS_US} e
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q31_engagement_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return engagement_features(ev).orderBy("user_id")


@query(
    "q32_funnel",
    oracle=f"""
    WITH m AS (SELECT user_id,
                 min(CASE WHEN event_type = 'view' THEN ts END) AS v,
                 min(CASE WHEN event_type = 'click' THEN ts END) AS c,
                 min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
               FROM {EVENTS_US} e GROUP BY user_id)
    SELECT count(*) FILTER (WHERE v IS NOT NULL) AS viewed,
           count(*) FILTER (WHERE v < c) AS clicked_after_view,
           count(*) FILTER (WHERE v < c AND c < p) AS full_funnel
    FROM m
    """,
)
def q32_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5: strictly-ordered view→click→purchase funnel via conditional
    min-timestamps — no self-joins, one aggregation + one reduce."""
    ev = load_table(spark, sf_dir, "events")
    m = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("v"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("c"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("p"),
    )
    return m.agg(
        F.count(F.when(F.col("v").isNotNull(), 1)).alias("viewed"),
        F.count(F.when(F.col("v") < F.col("c"), 1)).alias("clicked_after_view"),
        F.count(F.when((F.col("v") < F.col("c")) & (F.col("c") < F.col("p")), 1)).alias("full_funnel"),
    )


@query(
    "q92_shopping_stage",
    oracle=f"""
    WITH pd AS (
      SELECT user_id, date_trunc('day', ts) AS d,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases
      FROM {EVENTS_US} e
      GROUP BY user_id, date_trunc('day', ts)),
    last AS (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY d DESC) AS rn FROM pd)
    SELECT user_id, clicks, purchases,
           CAST(CASE WHEN purchases > 0 THEN 2
                     WHEN clicks > 0 THEN 1
                     ELSE 0 END AS INTEGER) AS stage
    FROM last WHERE rn = 1
    ORDER BY user_id
    """,
)
def q92_shopping_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5/M2 bridge: the multiclass shopping-stage LABEL (the
    reference's second flagship pipeline's target) as an oracle-checked
    query — per-user funnel stage at the most recent active day
    (0 browse / 1 engaged / 2 purchased) via
    ml/stages.shopping_stage_label. Last-day scoping keeps the label
    non-constant at every fixture SF (round-3 verdict #4's hazard:
    all-history furthest-stage is constant=2 because every synthetic
    user eventually purchases). The multinomial model that consumes it
    is the M-suite's job (tests/test_ml.py)."""
    from morphl_community_edition_spark.ml.stages import shopping_stage_label

    ev = load_table(spark, sf_dir, "events")
    return shopping_stage_label(ev).select(
        "user_id", "clicks", "purchases", "stage"
    ).orderBy("user_id")


# shared by q96 (the full upsert) and q154 (point-lookup serving of
# the same table): ONE oracle text so the served rows are certified
# against the identical merge semantics
_Q96_ORACLE = f"""
    WITH base AS (SELECT user_id, count(*) AS n_events,
                         {sql_crnd(sql_dsum('value'), 2)} AS sum_value,
                         'h1' AS batch
                  FROM {EVENTS_US} e WHERE ts < TIMESTAMP '2024-01-16'
                  GROUP BY user_id),
    delta AS (SELECT user_id, count(*) AS n_events,
                     {sql_crnd(sql_dsum('value'), 2)} AS sum_value,
                     'h2' AS batch
              FROM {EVENTS_US} e WHERE ts >= TIMESTAMP '2024-01-16'
              GROUP BY user_id)
    SELECT coalesce(d.user_id, b.user_id) AS user_id,
           CASE WHEN d.user_id IS NOT NULL THEN d.n_events ELSE b.n_events END AS n_events,
           CASE WHEN d.user_id IS NOT NULL THEN d.sum_value ELSE b.sum_value END AS sum_value,
           CASE WHEN d.user_id IS NOT NULL THEN d.batch ELSE b.batch END AS batch
    FROM base b FULL OUTER JOIN delta d ON b.user_id = d.user_id
    ORDER BY user_id
    """


@query("q96_prediction_upsert", oracle=_Q96_ORACLE)
def q96_prediction_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6 as a RELATIONAL contract, not just a sink smoke: the daily
    prediction upsert (operators/upsert.merge_upsert — SCD-1, delta
    wins whole-row on key collision) applied to two half-month feature
    batches. The oracle replays the same merge with FULL OUTER JOIN +
    presence-flag CASEs, so the hash covers collision override,
    base-survivor, and delta-insert rows in one result."""
    from morphl_community_edition_spark.operators.upsert import merge_upsert

    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")

    def half(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            crnd(dsum(F.col("value")), 2).alias("sum_value"),
            F.lit(tag).alias("batch"),
        )

    base = half(ev.filter(F.col("ts") < cut), "h1")
    delta = half(ev.filter(F.col("ts") >= cut), "h2")
    return merge_upsert(base, delta, ["user_id"]).orderBy("user_id")


# the keys q154 serves — fixed literals present at every fixture SF,
# shared with the plan gate (tests/test_plans.py) and the oracle text
POINT_LOOKUP_KEYS = (1, 2, 3, 5, 8, 13)
_POINT_LOOKUP_BUCKETS = 16


@query(
    "q154_point_lookup_serve",
    oracle=f"""
    SELECT * FROM ({_Q96_ORACLE}) t
    WHERE user_id IN {POINT_LOOKUP_KEYS}
    ORDER BY user_id
    """,
)
def q154_point_lookup_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's serving surface, engine side (round 11; the
    last capability gap of the r10 verdict): q96's merged prediction
    table materialized ONCE as a key-bucketed serving layout
    (operators/point_lookup.py — pmod(user_id, 16) partition dirs,
    key-sorted buckets, commit marker), then a 6-key point lookup
    served from it. The probe touches only the probed buckets'
    files — a static PartitionFilters prune, gated in
    tests/test_plans.py — which is the parquet-native equivalent of
    the reference's per-client Cassandra GET behind its REST shim.
    Oracle = q96's own merge oracle filtered to the served keys, so
    the build→persist→lookup chain is hash-certified end to end (the
    q114→q134 shared-oracle device)."""
    from morphl_community_edition_spark.operators import manifest as _manifest
    from morphl_community_edition_spark.operators.point_lookup import (
        point_lookup,
        write_serving_table,
    )
    from morphl_community_edition_spark.session import artifact

    # a rewritten fixture needs a REBUILT serving table: the session
    # artifact drops on catalog.invalidate_tables
    path = artifact(
        spark, "morphl_serving", sf_dir,
        build=lambda p: write_serving_table(
            q96_prediction_upsert(spark, sf_dir),
            p,
            key_col="user_id",
            n_buckets=_POINT_LOOKUP_BUCKETS,
        ),
        committed=_manifest.is_committed,
    )
    return point_lookup(spark, path, POINT_LOOKUP_KEYS).orderBy("user_id")


@query(
    "q100_retention_cohorts",
    oracle=f"""
    WITH e AS (SELECT user_id, date_trunc('week', ts) AS w FROM {EVENTS_US} e0),
    f AS (SELECT user_id, min(w) AS cohort FROM e GROUP BY user_id)
    SELECT CAST(f.cohort AS DATE) AS cohort_week,
           CAST(datediff('day', CAST(f.cohort AS DATE), CAST(e.w AS DATE)) / 7 AS INTEGER) AS week_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS active_users
    FROM e JOIN f USING (user_id)
    GROUP BY 1, 2
    ORDER BY cohort_week, week_offset
    """,
)
def q100_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix — the product-analytics staple the
    reference's churn pipeline feeds: cohort = week of first activity,
    cell = distinct users of that cohort active in week offset N.
    Week stamps are Monday-truncated on both engines, so offsets are
    exact day-diffs / 7 (no week-boundary-counting ambiguity).

    Scale shape: first-activity is one agg on user_id; the cohort join
    is user-keyed (co-partitioned with the agg output); the final
    distinct-count agg is (cohort, offset)-keyed — ~|weeks|² groups.
    No window, no self-join over time."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("user_id", F.date_trunc("week", F.col("ts")).alias("w"))
    f = e.groupBy("user_id").agg(F.min("w").alias("cohort"))
    j = e.join(f, "user_id")
    offset = (
        F.datediff(F.col("w").cast("date"), F.col("cohort").cast("date")) / F.lit(7)
    ).cast("int")
    return (
        j.groupBy(
            F.col("cohort").cast("date").alias("cohort_week"),
            offset.alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").cast("long").alias("active_users"))
        .orderBy("cohort_week", "week_offset")
    )


@query(
    "q101_rolling_dau",
    oracle=f"""
    WITH d AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
               FROM {EVENTS_US} e),
    contrib AS (SELECT CAST(day + CAST(gs AS INTEGER) AS DATE) AS win_day, user_id
                FROM d, LATERAL unnest(generate_series(0, 6)) AS t(gs)),
    days AS (SELECT DISTINCT day FROM d)
    SELECT c.win_day AS day,
           CAST(count(DISTINCT c.user_id) AS BIGINT) AS rolling_7d_users
    FROM contrib c JOIN days ON days.day = c.win_day
    GROUP BY c.win_day
    ORDER BY day
    """,
)
def q101_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day — the sliding-
    window DISTINCT aggregate (plain window functions can't express
    windowed COUNT DISTINCT). Re-expressed as a scatter: each
    (day, user) fact contributes to the 7 window-end days it falls in
    (explode of a 7-element sequence — rows grow 7×, but over the
    DEDUPLICATED (day, user) set, not raw events), then one distinct
    count per window day; days with no activity are dropped by the
    semi join. At 100 TB the pre-dedup keeps the scatter bounded by
    |days|·|users|, and the final agg shuffles on day — ~|days|
    groups. The same shape handles any trailing-window distinct
    (28-day MAU, rolling uniques per segment)."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"), "user_id"
    ).distinct()
    contrib = d.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("gs"), "day", "user_id"
    ).select(F.date_add(F.col("day"), F.col("gs")).alias("win_day"), "user_id")
    days = d.select("day").distinct()
    return (
        contrib.join(days, contrib["win_day"] == days["day"], "left_semi")
        .groupBy(F.col("win_day").alias("day"))
        .agg(F.countDistinct("user_id").cast("long").alias("rolling_7d_users"))
        .orderBy("day")
    )


@query(
    "q102_purchase_intervals",
    oracle=f"""
    WITH p AS (SELECT user_id, ts,
                      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
               FROM {EVENTS_US} e WHERE event_type = 'purchase'),
    g AS (SELECT user_id,
                 CAST(epoch_us(ts) - epoch_us(prev_ts) AS BIGINT) AS gap_us
          FROM p WHERE prev_ts IS NOT NULL)
    SELECT user_id,
           count(*) AS n_gaps,
           CAST(min(gap_us) AS BIGINT) AS min_gap_us,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us,
           CAST(sum(gap_us) AS BIGINT) AS sum_gap_us
    FROM g
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q102_purchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase interval stats per user (L-family: the recency /
    frequency features intent models consume): lag over each user's
    purchase stream, then exact integer microsecond gap aggregates
    (sum instead of a float mean keeps the check hash-exact; mean =
    sum/n is a display-side divide). One shuffle on user_id for the
    window; the agg reuses the same partitioning."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id")
        .withColumn("prev_ts", F.lag("ts").over(w))
    )
    g = p.filter(F.col("prev_ts").isNotNull()).select(
        "user_id",
        (F.unix_micros("ts") - F.unix_micros("prev_ts")).alias("gap_us"),
    )
    return (
        g.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.min("gap_us").alias("min_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
            F.sum("gap_us").alias("sum_gap_us"),
        )
        .orderBy("user_id")
    )


@query(
    "q137_scd2_history",
    oracle=f"""
    WITH p AS (SELECT user_id, ts, event_id,
                      CAST(floor(value / 10) AS BIGINT) AS band
               FROM {EVENTS_US} e WHERE event_type = 'purchase'),
    c AS (SELECT *, lag(band) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS prev_band
          FROM p),
    ch AS (SELECT user_id, ts, event_id, band FROM c
           WHERE prev_band IS NULL OR band <> prev_band),
    v AS (SELECT user_id, band, ts AS valid_from,
                 lead(ts) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS valid_to,
                 CAST(row_number() OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS INTEGER)
                     AS version_no
          FROM ch)
    SELECT user_id, band, valid_from, valid_to, version_no,
           valid_to IS NULL AS is_current
    FROM v ORDER BY user_id, version_no
    """,
)
def q137_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-TYPE-2 dimension history build (round 7; completes L6 —
    q96 is the SCD-1 'current state' merge, this is the full
    validity-interval history a warehouse keeps): each user's
    purchase-value band becomes a versioned attribute — consecutive
    equal values collapse (the SCD-2 change-detection rule: a new
    version starts only when the value CHANGES), versions carry
    [valid_from, valid_to) with NULL = current, plus version_no and
    is_current. This is also exactly the dimension shape the
    streaming as-of join (streaming/joins) consumes — lead() here IS
    its validity-interval device, run at dimension-build time.

    Scale shape: two windows over the same (user_id) partitioning —
    one shuffle total (Catalyst reuses the exchange), change rows are
    a tiny fraction of events, and everything after the first window
    is change-row-sized. Deterministic: (ts, event_id) total order,
    integer bands."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "ts",
            "event_id",
            F.floor(F.col("value") / 10).cast("bigint").alias("band"),
        )
        .withColumn("prev_band", F.lag("band").over(w))
    )
    ch = p.filter(
        F.col("prev_band").isNull() | (F.col("band") != F.col("prev_band"))
    )
    return (
        ch.select(
            "user_id",
            "band",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            F.row_number().over(w).cast("int").alias("version_no"),
        )
        .withColumn("is_current", F.col("valid_to").isNull())
        .orderBy("user_id", "version_no")
    )


# q142: exposure interval length — each event covers [ts, ts+5min)
COALESCE_WINDOW_US = 300 * 1_000_000


@query(
    "q142_interval_coalesce",
    oracle=f"""
    WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS s,
                      epoch_us(ts) + {COALESCE_WINDOW_US} AS en
               FROM {EVENTS_US} e),
    m AS (SELECT *, max(en) OVER (PARTITION BY user_id ORDER BY s, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS pm
          FROM e),
    f AS (SELECT user_id, event_id, s, en,
                 CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS ni
          FROM m),
    g AS (SELECT *, CAST(sum(ni) OVER (PARTITION BY user_id
                                       ORDER BY s, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS BIGINT) AS island
          FROM f)
    SELECT user_id, CAST(island AS INTEGER) AS island,
           CAST(min(s) AS BIGINT) AS start_us,
           CAST(max(en) AS BIGINT) AS end_us,
           count(*) AS n_events,
           CAST(max(en) - min(s) AS BIGINT) AS covered_us
    FROM g GROUP BY user_id, island
    ORDER BY user_id, island
    """,
)
def q142_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval coalescing / gaps-and-islands UNION (round 7): each
    event opens a 5-minute exposure interval [ts, ts+5min); per user,
    overlapping intervals merge into maximal islands — the ad-exposure
    / device-uptime / coverage-accounting primitive, and the interval
    generalization of q16's gap sessionize (sessionize breaks on the
    gap to the PREVIOUS EVENT; this breaks on the gap to the furthest
    interval END seen so far, which is the correct union semantics
    when intervals can nest or leapfrog).

    Device: running max of interval end over ROWS UNBOUNDED
    PRECEDING..1 PRECEDING — a new island starts exactly when the
    current start clears everything seen before; a running sum of
    those breaks numbers the islands. All integer microseconds
    (unix_micros ↔ epoch_us), so the hash check is exact.

    Scale shape: two windows + the island agg all share the (user_id)
    partitioning — ONE data shuffle total (plan-gated, the q137
    device; grouping on (user_id, island) is satisfied by user_id
    clustering). Per-user window serialization is the documented
    events-family boundary (SCALE.md)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    e = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(COALESCE_WINDOW_US)).alias("en"),
    )
    m = e.withColumn(
        "pm", F.max("en").over(w.rowsBetween(Window.unboundedPreceding, -1))
    )
    f = m.withColumn(
        "ni",
        F.when(F.col("pm").isNull() | (F.col("s") > F.col("pm")), 1).otherwise(0),
    )
    g = f.withColumn(
        "island",
        F.sum("ni").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
    )
    return (
        g.groupBy("user_id", F.col("island").cast("int").alias("island"))
        .agg(
            F.min("s").alias("start_us"),
            F.max("en").alias("end_us"),
            F.count(F.lit(1)).alias("n_events"),
            (F.max("en") - F.min("s")).alias("covered_us"),
        )
        .orderBy("user_id", "island")
    )


PR_ITERS = 4

# ---------------------------------------------------------------------------
# Round 14 (verdict r13 #1, guide §2.3 — narrower shuffle types): the
# LPA/PageRank iteration shuffles used to carry 'c<custkey>'/
# 's<suppkey>' STRING node ids — every per-iteration join and agg
# hashed and compared variable-length strings (UnsafeRow: 8 B
# offset+len word + padded bytes, vs 8 B flat for a long). The ids
# are now dictionary-encoded into ONE BIGINT per node by a pure
# projection (no sort job, no mapping table), iterated on as ints,
# and decoded analytically on the node-sized results.
#
# The encoding must preserve the names' ASCII order exactly: LPA's
# min(struct(-cnt, label)) tie-break and both queries' final ORDER BY
# are over the names. 'c…' < 's…' always, and within a tag the names
# compare as decimal digit strings (no leading zeros) under
# lexicographic order, which maps monotonically to a fractional
# base-11 code — Horner over the digits with each digit d mapped to
# d+1, right-padded with 0 (the pad loses to every real digit, which
# is exactly the "prefix sorts first" rule):
#
#     enc(tag, key) = tag·11¹⁷ + Σ (dᵢ+1)·11^(17-i)      tag: c=0, s=1
#
# 17 digit positions cover keys < 10¹⁷ (validated with a loud
# raise_error; TPC-H custkey at sf100k is 1.5·10¹⁰) and the max code
# 2·11¹⁷−1 ≈ 1.01·10¹⁸ sits far inside BIGINT. Strict monotonicity ⇒
# injective ⇒ the decoded results are identical tuple-for-tuple
# (tests/test_node_encoding.py pins the property; the DuckDB oracles
# replay the STRING iterations unchanged and both queries stay
# hash-green, which is the end-to-end proof of order preservation).
# ---------------------------------------------------------------------------

NODE_ENC_OFFSET = 11**17  # the 's' block starts above every 'c' code
# element_at is 1-based: _NODE_ENC_MULTS[n] = 11^(17-n), the right-pad
# multiplier for an n-digit key
_NODE_ENC_MULTS = "array({})".format(
    ",".join(f"{11 ** (17 - n)}L" for n in range(1, 18))
)


def node_enc(tag: int, key: str) -> Column:
    """Order-preserving BIGINT code of the node name
    concat('c' if tag==0 else 's', key) — see the block comment."""
    return F.expr(
        f"CASE WHEN {key} >= 0 AND {key} < 100000000000000000 THEN "
        f"{tag}L * {NODE_ENC_OFFSET}L + aggregate("
        f"  transform(split(CAST({key} AS STRING), ''),"
        f"            c -> CAST(ascii(c) - 47 AS BIGINT)),"
        f"  struct(CAST(0 AS BIGINT) AS a, 0 AS n),"
        f"  (s, d) -> struct(s.a * 11 + d AS a, s.n + 1 AS n),"
        f"  s -> s.a * element_at({_NODE_ENC_MULTS}, s.n))"
        f" ELSE raise_error(concat('node key out of encodable range "
        f"[0, 10^17): ', CAST({key} AS STRING))) END"
    )


def node_dec(enc) -> Column:
    """Invert node_enc analytically (tag char + decimal key rebuilt
    from the base-11 positions) — a pure projection over the
    node-sized result frames, no mapping-table join."""
    if not isinstance(enc, str):
        raise TypeError("node_dec takes the column NAME of the encoded id")
    e = enc
    return F.expr(
        f"concat(CASE WHEN {e} >= {NODE_ENC_OFFSET}L THEN 's' ELSE 'c' END, "
        f"CAST(aggregate(sequence(1, 17), CAST(0 AS BIGINT), "
        f"(k, i) -> CASE WHEN ({e} % {NODE_ENC_OFFSET}L) DIV element_at({_NODE_ENC_MULTS}, i) % 11 > 0 "
        f"THEN k * 10 + ({e} % {NODE_ENC_OFFSET}L) DIV element_at({_NODE_ENC_MULTS}, i) % 11 - 1 "
        f"ELSE k END) AS STRING))"
    )


def trade_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q143's graph: distinct (customer, supplier) trade pairs from
    orders⋈lineitem, symmetrized so outdeg ≥ 1 everywhere, node ids
    dictionary-encoded to BIGINT (round 14 — decode at the very end
    with node_dec). Shared with the iteration plan gate
    (tests/test_plans.py) so the gate inspects the exact frames the
    query runs."""
    from morphl_community_edition_spark.operators.pagerank import symmetrize_edges

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # Round 13 (guide §2.3/§7.2): distinct on the raw BIGINT key pair —
    # the corpus-scale exchange carries 16 B of ints per row and the
    # agg compares ints; round 14 keeps the iteration ids BIGINT too
    # (node_enc above). Then localCheckpoint the distinct pair set
    # ONCE: symmetrize_edges references it twice (forward + reversed),
    # and the pagerank/LPA setups reference the symmetrized frame from
    # both their degree agg and their edge-frame lineage — lazily that
    # re-ran the orders⋈lineitem join + distinct up to 4× per query
    # (measured in the round-13 plan capture; only some copies got
    # ReusedExchange). Same pair set, same downstream results; eager
    # so the plan gates inspect the served iteration shape.
    pairs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select("o_custkey", "l_suppkey")
        .distinct()
        .select(
            node_enc(0, "o_custkey").alias("src"),
            node_enc(1, "l_suppkey").alias("dst"),
        )
        .localCheckpoint(eager=True)
    )
    return symmetrize_edges(pairs)


def _pagerank_oracle(iters: int = PR_ITERS) -> str:
    """Unrolled MATERIALIZED CTE chain replaying pagerank()'s exact
    integer iterations (the q127 device: k driver-loop steps become k
    generated CTE stages; MATERIALIZED per the chained-CTE inlining
    trap — each r{i} is referenced twice downstream)."""
    from morphl_community_edition_spark.operators.pagerank import (
        PR_DAMP_PCT,
        PR_SCALE,
    )

    head = f"""
    WITH bp AS MATERIALIZED (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    eg AS MATERIALIZED (
        SELECT src, dst FROM bp UNION ALL SELECT dst, src FROM bp),
    deg AS MATERIALIZED (
        SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM eg GROUP BY src),
    nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
    r0 AS MATERIALIZED (
        SELECT src AS node, CAST({PR_SCALE} // n AS BIGINT) AS r
        FROM deg, nn)"""
    steps = []
    for i in range(iters):
        steps.append(f""",
    s{i} AS MATERIALIZED (
        SELECT eg.dst AS node,
               CAST(sum(r{i}.r // deg.outdeg) AS BIGINT) AS s
        FROM eg JOIN r{i} ON eg.src = r{i}.node
                JOIN deg ON eg.src = deg.src
        GROUP BY eg.dst),
    r{i + 1} AS MATERIALIZED (
        SELECT r{i}.node AS node,
               CAST(({100 - PR_DAMP_PCT} * {PR_SCALE}) // (100 * nn.n)
                    + ({PR_DAMP_PCT} * coalesce(s{i}.s, 0)) // 100
                    AS BIGINT) AS r
        FROM r{i} LEFT JOIN s{i} USING (node), nn)""")
    return (
        head
        + "".join(steps)
        + f"""
    SELECT node, r AS rank_scaled FROM r{iters}
    ORDER BY rank_scaled DESC, node LIMIT 30
    """
    )


@query("q143_pagerank", oracle=_pagerank_oracle())
def q143_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer↔supplier interaction graph
    (round 7): distinct (customer, supplier) trade pairs from
    orders⋈lineitem become a symmetric bipartite graph; 4 damped
    (0.85) iterations rank the hub entities. Completes the graph-
    analytics pair next to connected components (q77/q87/q93) — the
    dedup-cluster-authority / entity-salience shape.

    Exactness + oracle: operators/pagerank.py keeps ranks as BIGINT
    rationals at 10¹² — every step integer arithmetic, so the DuckDB
    oracle replays the identical 4 iterations as an unrolled
    MATERIALIZED CTE chain and the top-30 hash-matches exactly
    (sorted on the BIGINT rank, doc-id tie-break; no float anywhere).

    Scale shape (plan-gated round 8): edge build is one
    orders⋈lineitem join + distinct; the degree-carrying edge frame is
    src-partitioned ONCE and persisted, so each iteration's join
    re-shuffles only the node-sized ranks frame, plus one dst-keyed
    partial agg; lineage truncated per iteration (plan depth O(1) —
    the BPE loop doctrine; reliable=True swaps in durable checkpoints
    for clusters). See the operator docstring for the 100 TB
    contract."""
    from morphl_community_edition_spark.operators.pagerank import pagerank

    ranks = pagerank(trade_graph_edges(spark, sf_dir), iters=PR_ITERS)
    # decode AFTER the loop (round 14): the iterations ran on BIGINT
    # ids; the node-sized result projects back to the names, and the
    # ORDER BY sees the identical strings (order-preservation proof
    # in node_enc's block comment)
    return (
        ranks.select(node_dec("node").alias("node"), F.col("r").alias("rank_scaled"))
        .orderBy(F.col("rank_scaled").desc(), "node")
        .limit(30)
    )


LPA_ITERS = 4


def _labelprop_oracle(iters: int = LPA_ITERS) -> str:
    """Unrolled MATERIALIZED CTE chain replaying label_propagation()'s
    exact synchronous rounds (the q127/q143 device). The oracle picks
    each round's winner with a row_number window — a different PLAN
    than the engine's min(struct(-cnt, label)) partial agg, same
    VALUES by the (cnt DESC, label ASC) total order."""
    head = """
    WITH bp AS MATERIALIZED (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    eg AS MATERIALIZED (
        SELECT src, dst FROM bp UNION ALL SELECT dst, src FROM bp),
    l0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, src AS label FROM eg)"""
    steps = []
    for i in range(iters):
        steps.append(f""",
    c{i} AS MATERIALIZED (
        SELECT n, label, count(*) AS cnt
        FROM (SELECT eg.dst AS n, l{i}.label
              FROM eg JOIN l{i} ON eg.src = l{i}.node
              UNION ALL SELECT node AS n, label FROM l{i}) v
        GROUP BY n, label),
    l{i + 1} AS MATERIALIZED (
        SELECT n AS node, label FROM (
            SELECT n, label,
                   row_number() OVER (PARTITION BY n
                                      ORDER BY cnt DESC, label) AS rn
            FROM c{i}) t
        WHERE rn = 1)""")
    return (
        head
        + "".join(steps)
        + f"""
    SELECT l.node AS node, l.label AS community,
           CAST(s.community_size AS BIGINT) AS community_size
    FROM l{iters} l
    JOIN (SELECT label, count(*) AS community_size
          FROM l{iters} GROUP BY label) s ON s.label = l.label
    ORDER BY node
    """
    )


@query("q145_label_propagation", oracle=_labelprop_oracle())
def q145_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the customer↔supplier trade graph
    (round 8): 4 deterministic synchronous label-propagation rounds
    (operators/labelprop.py — majority vote + one self-vote, min-label
    tie-break) complete the graph-analytics triple next to connected
    components (q77, connectivity) and PageRank (q143, centrality).
    Pipeline role: near-dup cluster REFINEMENT — components over-merge
    through single borderline edges; majority communities split the
    chains back apart.

    Exactness + oracle: every step is (count, min) integer/string
    math, so the DuckDB oracle replays the identical 4 rounds as an
    unrolled MATERIALIZED CTE chain and the full (node, community,
    community_size) listing hash-matches exactly.

    Scale shape (plan-gated round 8, the q143 device): edge frame
    src-partitioned ONCE and persisted; each round re-shuffles only
    node-sized label frames (edge-keyed equi-join, (node, label)
    partial count, node-keyed min-of-struct partial agg — NO window);
    lineage truncated per round, reliable=True for durable cluster
    checkpoints."""
    from morphl_community_edition_spark.operators.labelprop import label_propagation

    labels = label_propagation(trade_graph_edges(spark, sf_dir), iters=LPA_ITERS)
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("community_size")
    )
    # sizes aggregate and the flag join run on the BIGINT ids (same
    # counts — the encoding is injective); decode is the final
    # node-sized projection (round 14)
    return (
        labels.join(sizes, "label")
        .select(
            node_dec("node").alias("node"),
            node_dec("label").alias("community"),
            "community_size",
        )
        .orderBy("node")
    )


@query(
    "q163_triangle_corners",
    oracle="""
    WITH li AS (SELECT * FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1995-01-01'
                  AND l_shipdate <  TIMESTAMP '1996-01-01'),
    p AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM li),
    e AS (SELECT DISTINCT a.pk AS a, b.pk AS b
          FROM p a JOIN p b ON a.ok = b.ok AND a.pk < b.pk),
    tr AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM e e1
           JOIN e e2 ON e2.a = e1.b
           JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
    c AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
          FROM (SELECT x AS node FROM tr
                UNION ALL SELECT y FROM tr
                UNION ALL SELECT z FROM tr)
          GROUP BY node)
    SELECT node, n_triangles FROM c
    ORDER BY n_triangles DESC, node LIMIT 20
    """,
)
def q163_triangle_corners(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation over the co-purchase graph (round 11,
    completing the graph-analytics family: connectivity q77, centrality
    q143, communities q145, now local clustering): parts are connected
    when they appear in the same order (the market-basket projection),
    and the top-20 nodes by triangle count are the densest-neighborhood
    products. The basket window is one ship-year (the realistic
    market-basket scoping — and what keeps the fixture graph's wedge
    volume proportionate: unwindowed, the random TPC-H baskets
    produce an 83M-wedge near-clique at sf0.1 that measures constant
    factors, not the algorithm). Pipeline role: triangle density is the classic
    cohesion signal for near-dup cluster QA — a cluster whose members
    co-triangle is a real clique, a chain without triangles is
    components over-merge.

    Exactness + oracle: edge set, triangles, and counts are all
    integer; the DuckDB oracle enumerates x<y<z by node id, the engine
    enumerates by (degree, id) orientation — different naming, same
    triangle SET, so corner counts hash-match exactly (deterministic
    tie-break on node).

    Scale shape (operators/triangles.py): degree-ordered orientation
    bounds out-degree by O(√m), so the wedge join's candidate volume
    is Σ outdeg² ≤ m·√m instead of the naive Σ deg² — the
    Suri-Vassilvitskii bound that keeps hub nodes from going
    quadratic; every join is an equi-join on graph keys (AQE splits
    residual hot sources), and the corner count is a partial-agg-ed
    3-rows-per-triangle hash agg."""
    from morphl_community_edition_spark.operators.triangles import (
        triangle_corner_counts,
    )
    from morphl_community_edition_spark.plans.hints import (
        DEFAULT_BROADCAST_FILE_LIMIT,
    )

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    # localCheckpoint before the Σ C(k,2) probe (advice r12 #4): the
    # probe and the main plan both consume `pairs`, so without it the
    # lineitem scan + distinct shuffle runs twice per execution.
    pairs = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct().localCheckpoint(eager=True)
    # the closure edge list is quadratic PER BASKET (k·(k-1)/2 pairs
    # for a k-item order), so source file bytes underestimate it badly
    # on skewed basket sizes (r11 advice item). Gate the broadcast on
    # Σ C(k,2) over baskets — the exact pre-distinct edge bound, one
    # |orders|-group agg to a 1-row driver probe — at 16 bytes/edge
    # against the same limit every other hinted side uses.
    est_edges = (
        pairs.groupBy("ok")
        .agg(F.count(F.lit(1)).alias("k"))
        .agg(F.sum(F.col("k") * (F.col("k") - 1) / 2).alias("e"))
        .collect()[0]["e"]
        or 0
    )
    bc = est_edges * 16 <= DEFAULT_BROADCAST_FILE_LIMIT
    a = pairs.withColumnsRenamed({"pk": "a"})
    b = pairs.withColumnsRenamed({"pk": "b", "ok": "ok2"})
    und = (
        a.join(b, (F.col("ok") == F.col("ok2")) & (F.col("a") < F.col("b")))
        .select("a", "b")
        .distinct()
    )
    return (
        triangle_corner_counts(und, broadcast_closure=bc)
        .orderBy(F.col("n_triangles").desc(), "node")
        .limit(20)
    )
