"""Technical-indicator and market-breadth plans (SURVEY §2.5 W14-W22)
mapped onto the events table: user_id = entity, ts_us = time axis,
value = price proxy. Day axis = epoch-day index (ts_us DIV 86400e6),
deliberately timezone-free so both engines agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import semantics as SEM
from ..sources import load_table
from .registry import member, query

US_PER_DAY = 86_400_000_000


def _ev(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


@member(
    "event_stochastic",
    doc="W14 stochastic slow %K/%D (technical.ts:216-237): rolling "
    "14-row HH/LL, NULL when HH==LL, then two SMA3 smoothing passes. "
    "Exactness (SCALE.md rule 5 extended): raw %K is a rational of "
    "exact price cents — 100*(v-ll)/(hh-ll) lands exactly on "
    "round(x, 6) half-way boundaries (the sf0.01 canary found one) — "
    "so the whole chain runs in integer arithmetic: raw %K rounds to "
    "its 6dp-scaled integer q via round6_q, and each SMA3 pass "
    "averages the ROUNDED previous stage (sum of three q ints / 3e6, "
    "re-rounded exactly). Averaging the rounded intermediates (<= "
    "5e-7 shift per stage) is the price of bounded denominators — "
    "the raw rational of a depth-2 average has a product-of-products "
    "denominator no 128-bit integer holds.",
    oracle="""
    WITH base AS (
      SELECT event_id, user_id, ts,
             CAST(round(value * 100) AS BIGINT) AS v_c
      FROM events
    ), k AS (
      SELECT event_id, user_id, ts, v_c,
             max(v_c) OVER w14 AS hh, min(v_c) OVER w14 AS ll,
             count(*) OVER w14 AS n14
      FROM base
      WINDOW w14 AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ), rq AS (
      SELECT *, CASE WHEN n14 = 14 AND hh <> ll THEN {RAWQ} END AS rawq
      FROM k
    ), sk0 AS (
      SELECT *, CASE WHEN count(rawq) OVER w3 = 3 THEN sum(rawq) OVER w3 END AS sq
      FROM rq
      WINDOW w3 AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    ), sk AS (
      SELECT *, CASE WHEN sq IS NOT NULL THEN {SKQ} END AS skq
      FROM sk0
    ), sd0 AS (
      SELECT *, CASE WHEN count(skq) OVER w3 = 3 THEN sum(skq) OVER w3 END AS sq2
      FROM sk
      WINDOW w3 AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id,
           CAST(rawq AS DOUBLE) / 1000000.0 AS raw_k,
           CAST(skq AS DOUBLE) / 1000000.0 AS slow_k,
           CASE WHEN sq2 IS NOT NULL THEN {SDV} END AS slow_d
    FROM sd0
    """.replace("{RAWQ}", SEM.round6_q_sql("100 * (v_c - ll)", "hh - ll"))
    .replace("{SKQ}", SEM.round6_q_sql("sq", "3000000"))
    .replace("{SDV}", SEM.round6_ratio_sql("sq2", "3000000")),
)
def event_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    w14 = w.rowsBetween(-13, 0)
    w3 = w.rowsBetween(-2, 0)
    base = ev.select(
        "event_id",
        "user_id",
        "ts_us",
        F.round(F.col("value") * 100).cast("bigint").alias("__v_c"),
    )
    staged = base.select(
        "*",
        F.max("__v_c").over(w14).alias("__hh"),
        F.min("__v_c").over(w14).alias("__ll"),
        F.count(F.lit(1)).over(w14).alias("__n14"),
    )
    rawq = F.when(
        (F.col("__n14") == 14) & (F.col("__hh") != F.col("__ll")),
        SEM.round6_q("100 * (__v_c - __ll)", "__hh - __ll"),
    )
    d = staged.withColumn("__rawq", rawq)
    d = d.withColumn(
        "__sq", F.when(F.count("__rawq").over(w3) == 3, F.sum("__rawq").over(w3))
    )
    d = d.withColumn(
        "__skq", F.when(F.col("__sq").isNotNull(), SEM.round6_q("__sq", "3000000"))
    )
    d = d.withColumn(
        "__sq2", F.when(F.count("__skq").over(w3) == 3, F.sum("__skq").over(w3))
    )
    return d.select(
        "event_id",
        "user_id",
        (F.col("__rawq").cast("double") / 1000000.0).alias("raw_k"),
        (F.col("__skq").cast("double") / 1000000.0).alias("slow_k"),
        F.when(
            F.col("__sq2").isNotNull(), SEM.round6_ratio("__sq2", "3000000")
        ).alias("slow_d"),
    )


@member(
    "event_ichimoku_midlines",
    doc="W17 Ichimoku midlines (technical.ts:279-329): (HH+LL)/2 over "
    "9/26 rows, senkou A = midpoint average shifted; lag-26 span compare.",
    oracle="""
    SELECT event_id, user_id,
           round(mid9, 6) AS tenkan,
           round(mid26, 6) AS kijun,
           round(lag((mid9 + mid26) / 2, 26) OVER wo, 6) AS senkou_a,
           CASE WHEN lag((mid9 + mid26) / 2, 26) OVER wo IS NOT NULL
                THEN value > lag((mid9 + mid26) / 2, 26) OVER wo END AS above_cloud
    FROM (
      SELECT event_id, user_id, ts, value,
             CASE WHEN count(*) OVER w9 = 9
                  THEN (max(value) OVER w9 + min(value) OVER w9) / 2 END AS mid9,
             CASE WHEN count(*) OVER w26 = 26
                  THEN (max(value) OVER w26 + min(value) OVER w26) / 2 END AS mid26
      FROM events
      WINDOW w9 AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
             w26 AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 25 PRECEDING AND CURRENT ROW)
    )
    WINDOW wo AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def event_ichimoku_midlines(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    w9, w26 = w.rowsBetween(-8, 0), w.rowsBetween(-25, 0)

    def mid(win, n):
        return F.when(
            F.count(F.lit(1)).over(win) == n,
            (F.max("value").over(win) + F.min("value").over(win)) / 2,
        )

    d = ev.withColumn("mid9", mid(w9, 9)).withColumn("mid26", mid(w26, 26))
    senkou_a = F.lag((F.col("mid9") + F.col("mid26")) / 2, 26).over(w)
    return d.select(
        "event_id",
        "user_id",
        F.round("mid9", 6).alias("tenkan"),
        F.round("mid26", 6).alias("kijun"),
        F.round(senkou_a, 6).alias("senkou_a"),
        F.when(senkou_a.isNotNull(), F.col("value") > senkou_a).alias("above_cloud"),
    )


@member(
    "event_golden_cross",
    doc="W18 golden/dead cross + age (technical.ts:334-353): sign of "
    "SMA5-SMA20, cross where sign flips, age = rows since last flip.",
    oracle="""
    WITH s AS (
      SELECT event_id, user_id, ts,
             CASE WHEN count(*) OVER w5 = 5 THEN avg(value) OVER w5 END AS sma5,
             CASE WHEN count(*) OVER w20 = 20 THEN avg(value) OVER w20 END AS sma20
      FROM events
      WINDOW w5 AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
             w20 AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ), st AS (
      SELECT *, CASE WHEN sma5 IS NULL OR sma20 IS NULL THEN NULL
                     WHEN sma5 >= sma20 THEN 1 ELSE -1 END AS state,
             row_number() OVER wo AS rn
      FROM s
      WINDOW wo AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), ch AS (
      SELECT *, CASE WHEN state IS NOT NULL AND lag(state) OVER wo IS NOT NULL
                      AND state <> lag(state) OVER wo THEN rn END AS change_rn
      FROM st
      WINDOW wo AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id, CAST(state AS INT) AS state,
           (change_rn IS NOT NULL) AS is_cross,
           CAST(rn - max(change_rn) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS bars_since_cross
    FROM ch
    """,
)
def event_golden_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    w5, w20 = w.rowsBetween(-4, 0), w.rowsBetween(-19, 0)
    sma5 = F.when(F.count(F.lit(1)).over(w5) == 5, F.avg("value").over(w5))
    sma20 = F.when(F.count(F.lit(1)).over(w20) == 20, F.avg("value").over(w20))
    d = ev.withColumn("sma5", sma5).withColumn("sma20", sma20)
    state = F.when(
        F.col("sma5").isNull() | F.col("sma20").isNull(), F.lit(None).cast("int")
    ).otherwise(F.when(F.col("sma5") >= F.col("sma20"), 1).otherwise(-1))
    d = d.withColumn("state", state).withColumn("rn", F.row_number().over(w))
    prev_state = F.lag("state").over(w)
    change_rn = F.when(
        F.col("state").isNotNull() & prev_state.isNotNull() & (F.col("state") != prev_state),
        F.col("rn"),
    )
    d = d.withColumn("change_rn", change_rn)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    return d.select(
        "event_id",
        "user_id",
        F.col("state").cast("int").alias("state"),
        F.col("change_rn").isNotNull().alias("is_cross"),
        (F.col("rn") - F.max("change_rn").over(run)).cast("bigint").alias("bars_since_cross"),
    )


@member(
    "daily_adv_dec_ratio",
    doc="W19 rolling 25-day advance/decline ratio on the canonical day "
    "axis with completeness guard (market-breadth.ts:283-299): per-user "
    "daily close vs previous day, per-day adv/dec counts, 25-complete-"
    "day rolling ratio. The days of market_breadth that have adv/dec "
    "counts.",
    oracle="""
    WITH r AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS day, value,
             row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 86400000000
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ), closes AS (
      SELECT user_id, day, value AS close FROM r WHERE rn = 1
    ), delta AS (
      SELECT user_id, day, close,
             lag(close) OVER (PARTITION BY user_id ORDER BY day) AS prev_close
      FROM closes
    ), daily AS (
      SELECT day,
             CAST(sum(CASE WHEN close > prev_close THEN 1 ELSE 0 END) AS BIGINT) AS advancers,
             CAST(sum(CASE WHEN close < prev_close THEN 1 ELSE 0 END) AS BIGINT) AS decliners
      FROM delta WHERE prev_close IS NOT NULL GROUP BY day
    )
    SELECT day, advancers, decliners,
           round(CASE WHEN count(*) OVER w25 = 25 AND sum(decliners) OVER w25 > 0
                 THEN 100.0 * sum(advancers) OVER w25 / sum(decliners) OVER w25 END, 6)
             AS adv_dec_ratio_25d
    FROM daily
    WINDOW w25 AS (ORDER BY day ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)
    """,
)
def daily_adv_dec_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    return market_breadth(spark, sf_dir).where(F.col("advancers").isNotNull()).select(
        "day", "advancers", "decliners", "adv_dec_ratio_25d"
    )


@member(
    "pct_above_sma_breadth",
    doc="W21 %-above-SMA breadth (market-breadth.ts:100-212): per-user "
    "SMA20 (full-window gated), then per-day fraction of qualifying "
    "users above their SMA; denominator excludes users without a full "
    "window (excluded, not zeroed — SURVEY §7.3 null-semantics). "
    "market_breadth's %-above-SMA columns.",
    oracle="""
    WITH s AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS day, epoch_us(ts) AS tu, event_id, value,
             CASE WHEN count(*) OVER w20 = 20 THEN avg(value) OVER w20 END AS sma20
      FROM events
      WINDOW w20 AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY user_id, day
                                   ORDER BY tu DESC, event_id DESC) AS rn
      FROM s
    ), eod AS (
      SELECT user_id, day, value AS close, sma20 FROM r WHERE rn = 1
    )
    SELECT day,
           CAST(count(sma20) AS BIGINT) AS n_qualified,
           round(CASE WHEN count(sma20) > 0
                 THEN CAST(sum(CASE WHEN close > sma20 THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(sma20) END, 6) AS pct_above_sma20
    FROM eod GROUP BY day
    """,
)
def pct_above_sma_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    return market_breadth(spark, sf_dir).select("day", "n_qualified", "pct_above_sma20")


def market_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gold market-indicators table: daily_adv_dec_ratio's and
    pct_above_sma_breadth's columns on every event day, in one pass over
    events. One exchange on user_id serves the SMA20 window, the
    end-of-day aggregate and the previous-close lag; one groupBy("day")
    yields both breadth families. Days on which no user has a previous
    close keep NULL advance/decline columns, and the 25-day ratio counts
    only the days that have them."""
    ev = _ev(spark, sf_dir).withColumn("day", F.expr(f"ts_us DIV {US_PER_DAY}"))
    w20 = Window.partitionBy("user_id").orderBy("ts_us", "event_id").rowsBetween(-19, 0)
    s = ev.withColumn(
        "sma20", F.when(F.count(F.lit(1)).over(w20) == 20, F.avg("value").over(w20))
    )
    # daily close = value of the last event of the (user, day)
    last = F.struct("ts_us", "event_id")
    eod = s.groupBy("user_id", "day").agg(
        F.max_by("value", last).alias("close"),
        F.max_by("sma20", last).alias("sma20"),
    )
    delta = eod.withColumn(
        "prev_close", F.lag("close").over(Window.partitionBy("user_id").orderBy("day"))
    )

    close, prev = F.col("close"), F.col("prev_close")

    def movers(moved):
        # NULL, not 0, on a day without any previous close
        return F.when(
            F.count(prev) > 0, F.sum(F.when(moved, 1).otherwise(0))
        ).cast("bigint")

    daily = delta.groupBy("day").agg(
        movers(close > prev).alias("advancers"),
        movers(close < prev).alias("decliners"),
        F.count("sma20").cast("bigint").alias("n_qualified"),
        F.round(
            F.when(
                F.count("sma20") > 0,
                F.sum(F.when(F.col("close") > F.col("sma20"), 1).otherwise(0)).cast("double")
                / F.count("sma20"),
            ),
            6,
        ).alias("pct_above_sma20"),
    )
    # the days with advance/decline rows sort first, in day order, so
    # the 24 rows before each of them are its 24 previous such days
    has_ad = F.col("advancers").isNotNull()
    w25 = Window.orderBy(~has_ad, "day").rowsBetween(-24, 0)
    ratio = F.when(
        has_ad & (F.count(F.lit(1)).over(w25) == 25) & (F.sum("decliners").over(w25) > 0),
        100.0 * F.sum("advancers").over(w25) / F.sum("decliners").over(w25),
    )
    return daily.select(
        "day",
        "advancers",
        "decliners",
        F.round(ratio, 6).alias("adv_dec_ratio_25d"),
        "n_qualified",
        "pct_above_sma20",
    )


@member(
    "overheat_heat_score",
    doc="W22 cross-sectional percentile heat score with NULL-aware "
    "weight renormalization (00120:85-93): per (day, user) metrics, "
    "percent_rank across the day's cross-section, weights 0.4/0.4/0.2 "
    "renormalized when the purchase metric is absent.",
    oracle="""
    WITH m AS (
      SELECT epoch_us(ts) // 86400000000 AS day, user_id,
             sum(CAST(round(value * 100) AS BIGINT)) AS value_c,
             CAST(count(*) AS BIGINT) AS n_events,
             max(CASE WHEN event_type = 'purchase'
                      THEN CAST(round(value * 100) AS BIGINT) END) AS max_purchase_c
      FROM events GROUP BY 1, 2
    ), p AS (
      SELECT day, user_id, max_purchase_c,
             rank() OVER (PARTITION BY day ORDER BY value_c) - 1 AS a1,
             rank() OVER (PARTITION BY day ORDER BY n_events) - 1 AS a2,
             CASE WHEN max_purchase_c IS NOT NULL THEN
               rank() OVER (PARTITION BY day, (max_purchase_c IS NULL)
                            ORDER BY max_purchase_c) - 1 END AS a3,
             count(*) OVER (PARTITION BY day) - 1 AS n1,
             CASE WHEN max_purchase_c IS NOT NULL THEN
               count(*) OVER (PARTITION BY day, (max_purchase_c IS NULL)) - 1 END AS m1
      FROM m
    )
    SELECT day, user_id,
           CASE WHEN max_purchase_c IS NULL THEN {SCORE2}
                ELSE {SCORE3} END AS heat_score
    FROM p
    """.replace("{SCORE2}", SEM.round6_ratio_sql("a1 + a2", "2 * greatest(n1, 1)"))
    .replace(
        "{SCORE3}",
        SEM.round6_ratio_sql(
            "2 * (a1 + a2) * greatest(m1, 1) + a3 * greatest(n1, 1)",
            "5 * greatest(n1, 1) * greatest(m1, 1)",
            wide=True,
        ),
    ),
)
def overheat_heat_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactness (SCALE.md rule 5 extended): percent_rank values are
    rationals a/(n-1), so the weighted null-renormalized combination
    (0.4 p1 + 0.4 p2 + 0.2 p3)/(0.8 + 0.2[p3]) is the rational
    (a1+a2)/(2n') or (2(a1+a2)m' + a3 n')/(5 n' m') — it landed
    exactly on round(x, 6) boundaries on 55 of 4006 rows at sf0.01
    (the canary's biggest finding), so it is rounded in integer
    arithmetic. Ranks order by EXACT cent sums (value_c), not float
    sums, so the ordering itself cannot drift across engines."""
    ev = _ev(spark, sf_dir).withColumn("day", F.expr(f"ts_us DIV {US_PER_DAY}"))
    m = ev.groupBy("day", "user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_c"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("bigint"),
            )
        ).alias("max_purchase_c"),
    )
    wd = Window.partitionBy("day")
    # NOTE: the count windows must stay UNORDERED — an orderBy would
    # shrink the default frame to a running count (range-to-current)
    w3p = Window.partitionBy("day", F.col("max_purchase_c").isNull())
    w3 = w3p.orderBy("max_purchase_c")
    has3 = F.col("max_purchase_c").isNotNull()
    staged = m.select(
        "day",
        "user_id",
        "max_purchase_c",
        # ranks cast to BIGINT: Spark rank() is INT32 and the round6
        # scaling (a1+a2)*1e6 overflows 2^31 past ~1000 rows per day
        (F.rank().over(wd.orderBy("value_c")) - 1).cast("bigint").alias("a1"),
        (F.rank().over(wd.orderBy("n_events")) - 1).cast("bigint").alias("a2"),
        F.when(has3, (F.rank().over(w3) - 1).cast("bigint")).alias("a3"),
        (F.count(F.lit(1)).over(wd) - 1).alias("n1"),
        F.when(has3, F.count(F.lit(1)).over(w3p) - 1).alias("m1"),
    )
    score2 = SEM.round6_ratio("a1 + a2", "2 * greatest(n1, 1)")
    score3 = SEM.round6_ratio(
        "2 * (a1 + a2) * greatest(m1, 1) + a3 * greatest(n1, 1)",
        "5 * greatest(n1, 1) * greatest(m1, 1)",
        wide=True,
    )
    return staged.select(
        "day",
        "user_id",
        F.when(F.col("max_purchase_c").isNull(), score2)
        .otherwise(score3)
        .alias("heat_score"),
    )


def _next_stage_sql(h: str, prev: str) -> str:
    """The overheat transition function as a SQL CASE — rendered from
    the SAME threshold tuple the Spark operator uses, so engine and
    oracle cannot drift."""
    from ..operators.overheat import OVERHEAT_THRESHOLDS

    c_in, c_out, r_in, r_out, e_in, e_out = OVERHEAT_THRESHOLDS
    return f"""CASE
      WHEN {prev} = 'climax' THEN
        CASE WHEN {h} >= {c_out} THEN 'climax' ELSE 'unwind' END
      WHEN {prev} = 'unwind' THEN
        CASE WHEN {h} >= {c_in} THEN 'climax'
             WHEN {h} < {e_out} THEN 'none' ELSE 'unwind' END
      WHEN {prev} = 'riding' THEN
        CASE WHEN {h} >= {c_in} THEN 'climax'
             WHEN {h} >= {r_out} THEN 'riding'
             WHEN {h} >= {e_out} THEN 'early' ELSE 'none' END
      WHEN {prev} = 'early' THEN
        CASE WHEN {h} >= {c_in} THEN 'climax'
             WHEN {h} >= {r_in} THEN 'riding'
             WHEN {h} >= {e_out} THEN 'early' ELSE 'none' END
      ELSE CASE WHEN {h} >= {c_in} THEN 'climax'
                WHEN {h} >= {r_in} THEN 'riding'
                WHEN {h} >= {e_in} THEN 'early' ELSE 'none' END
    END"""


def _stage_history_oracle() -> str:
    from .registry import member_oracle

    ns = _next_stage_sql("b.heat_score", "f.stage")
    entry = _next_stage_sql("heat_score", "'none'")
    return f"""
    WITH RECURSIVE hs AS ({member_oracle("overheat_heat_score")}),
    b AS (
      SELECT user_id, day, heat_score,
             row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
      FROM hs
    ),
    fsm(user_id, day, rn, heat_score, stage, stage_from, stage_since) AS (
      SELECT user_id, day, rn, heat_score,
             {entry} AS stage,
             CAST(NULL AS VARCHAR) AS stage_from,
             day AS stage_since
      FROM b WHERE rn = 1
      UNION ALL
      SELECT b.user_id, b.day, b.rn, b.heat_score,
             {ns} AS stage,
             CASE WHEN {ns} <> f.stage THEN f.stage END AS stage_from,
             CASE WHEN {ns} = f.stage THEN f.stage_since ELSE b.day END AS stage_since
      FROM b JOIN fsm f ON b.user_id = f.user_id AND b.rn = f.rn + 1
    )
    SELECT day, user_id, stage, stage_from, stage_since FROM fsm
    """


@member(
    "overheat_stage_history",
    doc="W22 completion — the overheat STAGE machine (00120:94-95 "
    "stage/stage_since; 00120 overheat_stage_event from<>to rows as "
    "the stage_from column): a Schmitt-trigger ladder over the daily "
    "heat score — enter climax >=0.8 / hold >=0.7 else unwind, enter "
    "riding >=0.6 / hold >=0.5, enter early >=0.4 / hold >=0.3; "
    "unwind persists until re-climax (>=0.8) or washout (<0.3 -> "
    "none). stage_since does not move while hysteresis holds the "
    "stage. applyInPandas per user (the sanctioned recursive-family "
    "path, like EMA/RSI); the oracle replays the identical machine "
    "as a RECURSIVE CTE rendered from the same threshold constants.",
    oracle=_stage_history_oracle(),
)
def overheat_stage_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.overheat import overheat_stages
    from .registry import member_query

    hs = member_query("overheat_heat_score").fn(spark, sf_dir)
    out = overheat_stages(hs, "user_id", "day", "heat_score")
    return out.select("day", "user_id", "stage", "stage_from", "stage_since")


@member(
    "overheat_ranking",
    doc="00120 overheat_snapshot ranking semantics: "
    "trading_value_ratio = the LATEST day's trading value over the "
    "entity's own trailing median (00120 trading_value_ratio comment "
    "— '対自身60日中央値倍率'; the testdata carries ~30 days, so the "
    "median spans the full history), liquidity_ok = median >= 100.0 "
    "(calibration constant standing in for the reference's ¥100M "
    "bar), and the ranking rank() ordered trading_value_ratio DESC "
    "NULLS LAST **among liquidity_ok rows only** — the exact ORDER "
    "BY discipline 00120's idx_overheat_snapshot_ranking index "
    "demands (NULLS LAST, illiquid rows folded away, never ranked). "
    "Scale: one groupBy on (user, day), one groupBy on user "
    "(max_by + percentile), one window over the liquid slice. "
    "Exactness (SCALE.md rule 5): values are 2dp decimals riding a "
    "double column, so day sums accumulate exact BIGINT cents "
    "(round(value*100) recovers the true cents), the median of "
    "integer day sums is exactly a half-integer in BOTH engines' "
    "interpolation, and the emitted ratio is the exact half-up 6dp "
    "rounding of the rational (2*latest)/(2*median) in integer "
    "arithmetic (functions/semantics.round6_ratio) — a double "
    "latest/median quotient landing on a .5e-6 boundary (0.5093125 "
    "at sf0.1) flipped the last digit between engine round "
    "primitives until this.",
    oracle=f"""
    WITH m AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS day,
             sum(CAST(round(value * 100) AS BIGINT)) AS v_c
      FROM events GROUP BY 1, 2
    ), per_user AS (
      SELECT user_id,
             quantile_cont(v_c, 0.5) AS med_c,
             arg_max(v_c, day) AS latest_c
      FROM m GROUP BY user_id
    ), scored AS (
      SELECT user_id,
             CASE WHEN med_c > 0 THEN
               {SEM.round6_ratio_sql('2 * latest_c', 'CAST(2 * med_c AS BIGINT)')}
             END AS trading_value_ratio,
             med_c >= 10000.0 AS liquidity_ok
      FROM per_user
    )
    SELECT user_id, trading_value_ratio, liquidity_ok,
           CASE WHEN liquidity_ok THEN
             rank() OVER (PARTITION BY liquidity_ok
                          ORDER BY CASE WHEN liquidity_ok THEN trading_value_ratio END
                                   DESC NULLS LAST)
           END AS liquid_rank
    FROM scored
    """,
)
def overheat_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir).withColumn("day", F.expr(f"ts_us DIV {US_PER_DAY}"))
    m = ev.groupBy("user_id", "day").agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("v_c")
    )
    per_user = m.groupBy("user_id").agg(
        F.expr("percentile(v_c, 0.5)").alias("med_c"),
        F.expr("max_by(v_c, day)").alias("latest_c"),
    )
    scored = per_user.select(
        "user_id",
        F.when(
            F.col("med_c") > 0,
            SEM.round6_ratio("2 * latest_c", "CAST(2 * med_c AS BIGINT)"),
        ).alias("trading_value_ratio"),
        (F.col("med_c") >= 10000.0).alias("liquidity_ok"),
    )
    w = Window.partitionBy("liquidity_ok").orderBy(
        F.when(F.col("liquidity_ok"), F.col("trading_value_ratio")).desc_nulls_last()
    )
    return scored.select(
        "user_id",
        "trading_value_ratio",
        "liquidity_ok",
        F.when(F.col("liquidity_ok"), F.rank().over(w)).alias("liquid_rank"),
    )
