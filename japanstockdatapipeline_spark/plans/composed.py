"""Composed end-to-end plans (round-2 parity gaps):

- event_year_bucket_highs: W20 full Nikkei year-bucket new-high/low
  rule (market-breadth.ts:121-275) as pure windows.
- pit_basket_valuation: the basket-valuation PIT pipeline in one plan
  (basket-valuation.ts:239-267 pitFy/pitForwardEps superseded-by-
  actuals guard; 475-556 buildConstituentDay + harmonicRatio;
  560-612 chainIndexSeries) over the events stand-in tables.
- stock_metrics_pipeline: SURVEY §7.1 minimum slice as ONE program —
  rebase -> momentum conditional-agg pivot (00108:41-52) -> FY/prev-FY
  (00049:39-55) -> sector percent_rank + z-scores (00049:87-105) ->
  null-aware row-wise total score -> screen join (00051:18-53), on
  the TPC-H stand-ins (customer=entity, orders=bars, year=FY).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.semantics import zscore
from ..operators.breadth import year_bucket_high_low
from ..sources import load_table
from .registry import member, query

US_PER_DAY = 86_400_000_000


def _daily_bars(ev: DataFrame) -> DataFrame:
    """Per-(user, epoch-day) OHLC-ish bar from the event stream:
    hi/lo = max/min value, close = last value of the day."""
    d = ev.withColumn("day", F.expr(f"ts_us DIV {US_PER_DAY}"))
    return d.groupBy("user_id", "day").agg(
        F.max("value").alias("hi"),
        F.min("value").alias("lo"),
        F.max_by("value", F.struct("ts_us", "event_id")).alias("close"),
    )


@member(
    "event_year_bucket_highs",
    doc="W20 Nikkei year-bucket new-high/low rule (market-breadth.ts:"
    "121-275): per entity, base period = current-year days strictly "
    "before today, plus ALL of exactly year-1 during Jan-Mar (前年来); "
    "entities with a >=2-year gap get an empty prior bucket; first-ever "
    "day is never counted. Per-day counts over the daily-bar grid.",
    oracle="""
    WITH daily AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS day,
             max(value) AS hi, min(value) AS lo
      FROM events GROUP BY 1, 2
    ), d AS (
      SELECT *, year(DATE '1970-01-01' + CAST(day AS INT)) AS y,
             month(DATE '1970-01-01' + CAST(day AS INT)) AS m,
             max(hi) OVER (PARTITION BY user_id, year(DATE '1970-01-01' + CAST(day AS INT))
                           ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cur_max,
             min(lo) OVER (PARTITION BY user_id, year(DATE '1970-01-01' + CAST(day AS INT))
                           ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cur_min
      FROM daily
    ), yearly AS (
      SELECT user_id, year(DATE '1970-01-01' + CAST(day AS INT)) AS y,
             max(hi) AS prev_max, min(lo) AS prev_min
      FROM daily GROUP BY 1, 2
    ), j AS (
      SELECT d.*, p.prev_max, p.prev_min
      FROM d LEFT JOIN yearly p ON p.user_id = d.user_id AND p.y = d.y - 1
    ), b AS (
      SELECT day, hi, lo,
        CASE WHEN m <= 3 THEN
          coalesce(CASE WHEN cur_max IS NULL THEN prev_max
                        WHEN prev_max IS NULL THEN cur_max END,
                   CASE WHEN prev_max > cur_max THEN prev_max ELSE cur_max END)
        ELSE cur_max END AS base_max,
        CASE WHEN m <= 3 THEN
          coalesce(CASE WHEN cur_min IS NULL THEN prev_min
                        WHEN prev_min IS NULL THEN cur_min END,
                   CASE WHEN prev_min < cur_min THEN prev_min ELSE cur_min END)
        ELSE cur_min END AS base_min
      FROM j
    )
    SELECT day,
           CAST(sum(CASE WHEN base_max IS NOT NULL AND hi > base_max THEN 1 ELSE 0 END) AS BIGINT) AS new_highs,
           CAST(sum(CASE WHEN base_min IS NOT NULL AND lo < base_min THEN 1 ELSE 0 END) AS BIGINT) AS new_lows,
           CAST(count(*) AS BIGINT) AS n_entities
    FROM b GROUP BY day
    """,
)
def event_year_bucket_highs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    flagged = year_bucket_high_low(_daily_bars(ev))
    return flagged.groupBy("day").agg(
        F.sum(F.when(F.col("is_new_high"), 1).otherwise(0)).cast("bigint").alias("new_highs"),
        F.sum(F.when(F.col("is_new_low"), 1).otherwise(0)).cast("bigint").alias("new_lows"),
        F.count(F.lit(1)).cast("bigint").alias("n_entities"),
    )


@member(
    "pit_basket_valuation",
    doc="PIT basket valuation pipeline in one plan (basket-valuation.ts): "
    "purchases play FY disclosures (fy = event year - 1, deterministic "
    "share count), clicks play forward-EPS forecasts (target fy = event "
    "year). Per day: pitFy running-argmax by (fy, disclosed) attached "
    "as-of (ts:239-252 union-merge, one shuffle); pitForwardEps with "
    "the superseded-by-actuals guard target_fy > latest actual fy "
    "(ts:253-267); harmonic PER / forward PER num>0 AND den>0 guards "
    "(ts:508-556); index chained from the first day at level 100 by "
    "the weighted daily return r(t)=sum(prev_mcap*ratio)/sum(prev_mcap) "
    "over entities present both days, halting on any undefined day "
    "(ts:560-612). Chained float product on both sides (exp-sum-ln): "
    "the A2 exact-product rule applies to split factors, not here.",
    oracle="""
    WITH daily AS (
      SELECT user_id, day, value AS close FROM (
        SELECT user_id, epoch_us(ts) // 86400000000 AS day, value,
               row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 86400000000
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    ), didx AS (
      SELECT day, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS di
      FROM (SELECT DISTINCT day FROM daily)
    ), acts AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS a_day, event_id,
             year(DATE '1970-01-01' + CAST(epoch_us(ts) // 86400000000 AS INT)) - 1 AS fy_year,
             value AS eps, CAST(1000 + user_id % 500 AS DOUBLE) AS shares
      FROM events WHERE event_type = 'purchase'
    ), act_best AS (
      SELECT user_id, a_day AS day,
             max({'fy': fy_year, 'd': a_day, 'e': event_id, 'eps': eps, 'sh': shares})
               OVER (PARTITION BY user_id ORDER BY a_day, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS best
      FROM acts
    ), act_day AS (
      SELECT user_id, day, max(best) AS best FROM act_best GROUP BY 1, 2
    ), pit AS (
      SELECT d.user_id, d.day, d.close,
             (SELECT max(a.best) FROM act_day a
              WHERE a.user_id = d.user_id AND a.day <= d.day) AS best
      FROM daily d
    ), fwd AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS f_day, event_id,
             year(DATE '1970-01-01' + CAST(epoch_us(ts) // 86400000000 AS INT)) AS target_year,
             value AS f_eps
      FROM events WHERE event_type = 'click'
    ), fwd_pick AS (
      SELECT user_id, day, f_eps FROM (
        SELECT p.user_id, p.day, f.f_eps,
               row_number() OVER (PARTITION BY p.user_id, p.day
                                  ORDER BY f.f_day DESC, f.event_id DESC) AS rn
        FROM pit p JOIN fwd f ON f.user_id = p.user_id AND f.f_day <= p.day
        WHERE p.best IS NULL OR f.target_year > (p.best).fy
      ) WHERE rn = 1
    ), cd AS (
      SELECT p.user_id, p.day, p.close,
             CASE WHEN p.best IS NOT NULL THEN p.close * (p.best).sh END AS mcap,
             CASE WHEN p.best IS NOT NULL THEN (p.best).eps * (p.best).sh END AS earnings,
             CASE WHEN p.best IS NOT NULL THEN fp.f_eps * (p.best).sh END AS fwd_earn
      FROM pit p LEFT JOIN fwd_pick fp ON p.user_id = fp.user_id AND p.day = fp.day
    ), cdi AS (
      SELECT c.*, x.di FROM cd c JOIN didx x USING (day)
    ), rets AS (
      SELECT cur.di,
             CASE WHEN sum(CASE WHEN prev.mcap IS NOT NULL AND prev.close > 0
                                THEN prev.mcap END) > 0
                  THEN sum(CASE WHEN prev.mcap IS NOT NULL AND prev.close > 0
                                THEN prev.mcap * cur.close / prev.close END)
                       / sum(CASE WHEN prev.mcap IS NOT NULL AND prev.close > 0
                                  THEN prev.mcap END) END AS r
      FROM cdi cur JOIN cdi prev ON prev.user_id = cur.user_id AND prev.di = cur.di - 1
      GROUP BY cur.di
    ), lv AS (
      SELECT x.day,
             CASE WHEN max(CASE WHEN eff.r_eff IS NULL OR eff.r_eff <= 0 THEN 1 ELSE 0 END)
                    OVER (ORDER BY x.di ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 0
                  THEN 100.0 * exp(sum(ln(eff.r_eff))
                    OVER (ORDER BY x.di ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) END
               AS index_level
      FROM didx x
      LEFT JOIN (SELECT x2.di, CASE WHEN x2.di = 1 THEN 1.0 ELSE r.r END AS r_eff
                 FROM didx x2 LEFT JOIN rets r ON r.di = x2.di) eff ON eff.di = x.di
    ), agg AS (
      SELECT day,
             CAST(count(mcap) AS BIGINT) AS n_constituents,
             CASE WHEN sum(mcap) FILTER (WHERE earnings IS NOT NULL) > 0
                   AND sum(earnings) > 0
                  THEN sum(mcap) FILTER (WHERE earnings IS NOT NULL) / sum(earnings) END AS wper,
             CASE WHEN sum(mcap) FILTER (WHERE fwd_earn IS NOT NULL) > 0
                   AND sum(fwd_earn) > 0
                  THEN sum(mcap) FILTER (WHERE fwd_earn IS NOT NULL) / sum(fwd_earn) END AS wper_f
      FROM cd GROUP BY day
    )
    SELECT a.day, a.n_constituents,
           round(a.wper, 6) AS weighted_per,
           round(a.wper_f, 6) AS weighted_per_fwd,
           round(l.index_level, 6) AS index_level
    FROM agg a JOIN lv l USING (day)
    """,
)
def pit_basket_valuation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cd = _constituent_day(ev)
    out = _basket_rollup(cd.withColumn("basket", F.lit("all")))
    return out.select(
        "day",
        "n_constituents",
        F.round("wper", 6).alias("weighted_per"),
        F.round("wper_f", 6).alias("weighted_per_fwd"),
        F.round("index_level", 6).alias("index_level"),
    )


def _constituent_day(ev: DataFrame) -> DataFrame:
    """buildConstituentDay (basket-valuation.ts:475-556), basket-free:
    per (user, day) close, PIT mcap/earnings/forward-earnings. The
    expensive PIT work happens ONCE here; basket membership fans out
    afterwards in _basket_rollup — at 100 TB the N-basket nightly job
    (reference 00117:4-10 precomputes 14 baskets) is one constituent-
    day build plus N light rollups, not N full pipelines."""
    day = F.expr(f"ts_us DIV {US_PER_DAY}")
    epoch = F.lit("1970-01-01").cast("date")

    daily = _daily_bars(ev).select("user_id", "day", "close")

    # FY actuals: running argmax by (fy_year, disclosed_day, event_id)
    # over the disclosure stream — pitFy's "corrections win" ordering
    acts = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        day.alias("a_day"),
        "event_id",
        (F.year(F.date_add(epoch, day.cast("int"))) - 1).alias("fy_year"),
        F.col("value").alias("eps"),
        (F.lit(1000) + F.pmod("user_id", F.lit(500))).cast("double").alias("shares"),
    )
    wact = (
        Window.partitionBy("user_id")
        .orderBy("a_day", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    best = F.max(
        F.struct(
            F.col("fy_year").alias("fy"),
            F.col("a_day").alias("d"),
            F.col("event_id").alias("e"),
            F.col("eps").alias("eps"),
            F.col("shares").alias("sh"),
        )
    ).over(wact)
    act_day = (
        acts.withColumn("best", best)
        .groupBy("user_id", F.col("a_day").alias("day"))
        .agg(F.max("best").alias("best"))
    )

    # as-of attach actual state to the daily grid: union-merge, ONE
    # shuffle (same-day disclosures visible: tag 0 sorts first)
    du = daily.withColumn("__tag", F.lit(1)).withColumn(
        "best", F.lit(None).cast(act_day.schema["best"].dataType)
    )
    au = act_day.withColumn("__tag", F.lit(0)).withColumn("close", F.lit(None).cast("double"))
    wmerge = (
        Window.partitionBy("user_id")
        .orderBy("day", "__tag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pit = (
        du.unionByName(au)
        .withColumn("best", F.last("best", ignorenulls=True).over(wmerge))
        .filter(F.col("__tag") == 1)
        .select("user_id", "day", "close", "best")
    )

    # forward EPS with the superseded-by-actuals guard: candidate join
    # is equi on user_id (disclosures per entity are bounded), then the
    # time + target-fy predicates, then argmax by disclosure recency
    fwd = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        day.alias("f_day"),
        F.col("event_id").alias("f_event"),
        F.year(F.date_add(epoch, day.cast("int"))).alias("target_year"),
        F.col("value").alias("f_eps"),
    )
    cand = (
        pit.join(fwd, "user_id")
        .filter(F.col("f_day") <= F.col("day"))
        .filter(F.col("best").isNull() | (F.col("target_year") > F.col("best.fy")))
    )
    wpick = Window.partitionBy("user_id", "day").orderBy(
        F.col("f_day").desc(), F.col("f_event").desc()
    )
    fwd_pick = (
        cand.withColumn("rn", F.row_number().over(wpick))
        .filter(F.col("rn") == 1)
        .select("user_id", "day", "f_eps")
    )

    return pit.join(fwd_pick, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        "close",
        F.when(F.col("best").isNotNull(), F.col("close") * F.col("best.sh")).alias("mcap"),
        F.when(F.col("best").isNotNull(), F.col("best.eps") * F.col("best.sh")).alias(
            "earnings"
        ),
        F.when(F.col("best").isNotNull(), F.col("f_eps") * F.col("best.sh")).alias(
            "fwd_earn"
        ),
    )


def _basket_rollup(cdm: DataFrame) -> DataFrame:
    """Per-(basket, day) valuation + chained index from a basket-tagged
    constituent-day table (chainIndexSeries, basket-valuation.ts:560-612,
    group-parallel): every window/agg is partitioned by basket, so N
    baskets cost one co-partitioned pass, not N jobs. Returns unrounded
    (basket, day, n_constituents, wper, wper_f, index_level)."""
    wdi = Window.partitionBy("basket").orderBy("day")
    didx = (
        cdm.select("basket", "day")
        .distinct()
        .withColumn("di", F.row_number().over(wdi).cast("bigint"))
    )

    # index chain: weighted daily return from prev-day mcap weights
    cdi = cdm.join(F.broadcast(didx), ["basket", "day"])
    prev = cdi.select(
        "basket",
        "user_id",
        (F.col("di") + 1).alias("di"),
        F.col("close").alias("prev_close"),
        F.col("mcap").alias("prev_mcap"),
    )
    joined = cdi.join(prev, ["basket", "user_id", "di"])
    ok = F.col("prev_mcap").isNotNull() & (F.col("prev_close") > 0)
    rets = joined.groupBy("basket", "di").agg(
        F.when(
            F.sum(F.when(ok, F.col("prev_mcap"))) > 0,
            F.sum(F.when(ok, F.col("prev_mcap") * F.col("close") / F.col("prev_close")))
            / F.sum(F.when(ok, F.col("prev_mcap"))),
        ).alias("r")
    )
    eff = didx.join(rets, ["basket", "di"], "left").withColumn(
        "r_eff", F.when(F.col("di") == 1, F.lit(1.0)).otherwise(F.col("r"))
    )
    wcum = (
        Window.partitionBy("basket").orderBy("di").rowsBetween(Window.unboundedPreceding, 0)
    )
    bad = F.max(
        F.when(F.col("r_eff").isNull() | (F.col("r_eff") <= 0), 1).otherwise(0)
    ).over(wcum)
    lv = eff.withColumn(
        "index_level",
        F.when(bad == 0, 100.0 * F.exp(F.sum(F.log("r_eff")).over(wcum))),
    ).select("basket", "day", "index_level")

    agg = cdm.groupBy("basket", "day").agg(
        F.count("mcap").cast("bigint").alias("n_constituents"),
        F.when(
            (F.sum(F.when(F.col("earnings").isNotNull(), F.col("mcap"))) > 0)
            & (F.sum("earnings") > 0),
            F.sum(F.when(F.col("earnings").isNotNull(), F.col("mcap"))) / F.sum("earnings"),
        ).alias("wper"),
        F.when(
            (F.sum(F.when(F.col("fwd_earn").isNotNull(), F.col("mcap"))) > 0)
            & (F.sum("fwd_earn") > 0),
            F.sum(F.when(F.col("fwd_earn").isNotNull(), F.col("mcap"))) / F.sum("fwd_earn"),
        ).alias("wper_f"),
    )
    return agg.join(lv, ["basket", "day"])


_MB_BASKETS = ("all", "even", "third")


@member(
    "multi_basket_valuation",
    doc="Multi-basket gold job (reference 00117:4-10 — 14 baskets "
    "precomputed nightly): the SAME constituent-day build as "
    "pit_basket_valuation, fanned out to 3 overlapping baskets "
    "(all / user_id%2==0 / user_id%3==0) via a membership join, then "
    "ONE group-parallel rollup partitioned by basket (valuation aggs + "
    "chained index per basket). Pivoted to the day grain for the "
    "market-breadth panel; basket 'all' must equal the single-basket "
    "member (asserted in tests/test_operators.py).",
    oracle="""
    WITH daily AS (
      SELECT user_id, day, value AS close FROM (
        SELECT user_id, epoch_us(ts) // 86400000000 AS day, value,
               row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 86400000000
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    ), acts AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS a_day, event_id,
             year(DATE '1970-01-01' + CAST(epoch_us(ts) // 86400000000 AS INT)) - 1 AS fy_year,
             value AS eps, CAST(1000 + user_id % 500 AS DOUBLE) AS shares
      FROM events WHERE event_type = 'purchase'
    ), act_best AS (
      SELECT user_id, a_day AS day,
             max({'fy': fy_year, 'd': a_day, 'e': event_id, 'eps': eps, 'sh': shares})
               OVER (PARTITION BY user_id ORDER BY a_day, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS best
      FROM acts
    ), act_day AS (
      SELECT user_id, day, max(best) AS best FROM act_best GROUP BY 1, 2
    ), pit AS (
      SELECT d.user_id, d.day, d.close,
             (SELECT max(a.best) FROM act_day a
              WHERE a.user_id = d.user_id AND a.day <= d.day) AS best
      FROM daily d
    ), fwd AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS f_day, event_id,
             year(DATE '1970-01-01' + CAST(epoch_us(ts) // 86400000000 AS INT)) AS target_year,
             value AS f_eps
      FROM events WHERE event_type = 'click'
    ), fwd_pick AS (
      SELECT user_id, day, f_eps FROM (
        SELECT p.user_id, p.day, f.f_eps,
               row_number() OVER (PARTITION BY p.user_id, p.day
                                  ORDER BY f.f_day DESC, f.event_id DESC) AS rn
        FROM pit p JOIN fwd f ON f.user_id = p.user_id AND f.f_day <= p.day
        WHERE p.best IS NULL OR f.target_year > (p.best).fy
      ) WHERE rn = 1
    ), cd AS (
      SELECT p.user_id, p.day, p.close,
             CASE WHEN p.best IS NOT NULL THEN p.close * (p.best).sh END AS mcap,
             CASE WHEN p.best IS NOT NULL THEN (p.best).eps * (p.best).sh END AS earnings,
             CASE WHEN p.best IS NOT NULL THEN fp.f_eps * (p.best).sh END AS fwd_earn
      FROM pit p LEFT JOIN fwd_pick fp ON p.user_id = fp.user_id AND p.day = fp.day
    ), membership AS (
      SELECT user_id, basket FROM (SELECT DISTINCT user_id FROM events) u,
      LATERAL unnest(['all',
                      CASE WHEN user_id % 2 = 0 THEN 'even' END,
                      CASE WHEN user_id % 3 = 0 THEN 'third' END]) AS b(basket)
      WHERE basket IS NOT NULL
    ), cdm AS (
      SELECT m.basket, c.* FROM cd c JOIN membership m USING (user_id)
    ), didx AS (
      SELECT basket, day,
             CAST(row_number() OVER (PARTITION BY basket ORDER BY day) AS BIGINT) AS di
      FROM (SELECT DISTINCT basket, day FROM cdm)
    ), cdi AS (
      SELECT c.*, x.di FROM cdm c JOIN didx x USING (basket, day)
    ), rets AS (
      SELECT cur.basket, cur.di,
             CASE WHEN sum(CASE WHEN prev.mcap IS NOT NULL AND prev.close > 0
                                THEN prev.mcap END) > 0
                  THEN sum(CASE WHEN prev.mcap IS NOT NULL AND prev.close > 0
                                THEN prev.mcap * cur.close / prev.close END)
                       / sum(CASE WHEN prev.mcap IS NOT NULL AND prev.close > 0
                                  THEN prev.mcap END) END AS r
      FROM cdi cur JOIN cdi prev ON prev.basket = cur.basket
                                AND prev.user_id = cur.user_id AND prev.di = cur.di - 1
      GROUP BY cur.basket, cur.di
    ), lv AS (
      SELECT x.basket, x.day,
             CASE WHEN max(CASE WHEN eff.r_eff IS NULL OR eff.r_eff <= 0 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY x.basket ORDER BY x.di
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 0
                  THEN 100.0 * exp(sum(ln(eff.r_eff))
                    OVER (PARTITION BY x.basket ORDER BY x.di
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) END
               AS index_level
      FROM didx x
      LEFT JOIN (SELECT x2.basket, x2.di, CASE WHEN x2.di = 1 THEN 1.0 ELSE r.r END AS r_eff
                 FROM didx x2 LEFT JOIN rets r ON r.basket = x2.basket AND r.di = x2.di) eff
        ON eff.basket = x.basket AND eff.di = x.di
    ), agg AS (
      SELECT basket, day,
             CAST(count(mcap) AS BIGINT) AS n_constituents,
             CASE WHEN sum(mcap) FILTER (WHERE earnings IS NOT NULL) > 0
                   AND sum(earnings) > 0
                  THEN sum(mcap) FILTER (WHERE earnings IS NOT NULL) / sum(earnings) END AS wper,
             CASE WHEN sum(mcap) FILTER (WHERE fwd_earn IS NOT NULL) > 0
                   AND sum(fwd_earn) > 0
                  THEN sum(mcap) FILTER (WHERE fwd_earn IS NOT NULL) / sum(fwd_earn) END AS wper_f
      FROM cdm GROUP BY basket, day
    ), longf AS (
      SELECT a.basket, a.day, a.n_constituents, a.wper, a.wper_f, l.index_level
      FROM agg a JOIN lv l ON l.basket = a.basket AND l.day = a.day
    )
    SELECT day,
           max(CASE WHEN basket = 'all' THEN n_constituents END) AS n_const_all,
           round(max(CASE WHEN basket = 'all' THEN wper END), 6) AS per_all,
           round(max(CASE WHEN basket = 'all' THEN wper_f END), 6) AS per_fwd_all,
           round(max(CASE WHEN basket = 'all' THEN index_level END), 6) AS idx_all,
           max(CASE WHEN basket = 'even' THEN n_constituents END) AS n_const_even,
           round(max(CASE WHEN basket = 'even' THEN wper END), 6) AS per_even,
           round(max(CASE WHEN basket = 'even' THEN wper_f END), 6) AS per_fwd_even,
           round(max(CASE WHEN basket = 'even' THEN index_level END), 6) AS idx_even,
           max(CASE WHEN basket = 'third' THEN n_constituents END) AS n_const_third,
           round(max(CASE WHEN basket = 'third' THEN wper END), 6) AS per_third,
           round(max(CASE WHEN basket = 'third' THEN wper_f END), 6) AS per_fwd_third,
           round(max(CASE WHEN basket = 'third' THEN index_level END), 6) AS idx_third
    FROM longf GROUP BY day
    """,
)
def multi_basket_valuation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cd = _constituent_day(ev)
    users = ev.select("user_id").distinct()
    membership = users.select(
        "user_id",
        F.explode(
            F.array(
                F.lit("all"),
                F.when(F.pmod("user_id", F.lit(2)) == 0, F.lit("even")),
                F.when(F.pmod("user_id", F.lit(3)) == 0, F.lit("third")),
            )
        ).alias("basket"),
    ).filter(F.col("basket").isNotNull())
    longf = _basket_rollup(cd.join(membership, "user_id"))

    aggs = []
    for b in _MB_BASKETS:
        hit = F.col("basket") == b
        aggs += [
            F.max(F.when(hit, F.col("n_constituents"))).alias(f"n_const_{b}"),
            F.round(F.max(F.when(hit, F.col("wper"))), 6).alias(f"per_{b}"),
            F.round(F.max(F.when(hit, F.col("wper_f"))), 6).alias(f"per_fwd_{b}"),
            F.round(F.max(F.when(hit, F.col("index_level"))), 6).alias(f"idx_{b}"),
        ]
    return longf.groupBy("day").agg(*aggs)


@member(
    "stock_metrics_pipeline",
    doc="SURVEY §7.1 end-to-end slice as ONE program (00108_refresh_"
    "stock_metrics_perf.sql:41-52 momentum pivot; 00049:39-55 FY/prev-"
    "FY; 00049:87-105 sector percent_rank + z-scores; 00051:18-53 "
    "screen join; 00093 rebase as the closed-form suffix adjustment): "
    "customer=entity, orders=bars, order year=FY, mktsegment=sector. "
    "adj price = price x 2^(later urgent orders) — the two-valued "
    "suffix product in exact closed form; momentum via max(CASE rn=k) "
    "one-scan pivot (the reference's >120s -> 23.4s rewrite); yoy via "
    "FY rank pivot; percent_rank partitions exclude NULL metrics from "
    "the rank axis (00049 FILTER semantics); total score = null-aware "
    "row-wise mean. One orders shuffle (on o_custkey: every order "
    "window and the per-customer pivot ride it), the per-customer "
    "pivot broadcast to the customer scan, one shuffle on segment.",
    oracle="""
    WITH adj AS (
      SELECT o_custkey, o_orderkey, o_orderdate,
             o_totalprice * pow(2, count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END)
               OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate DESC, o_orderkey DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) AS adj_price
      FROM orders
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY o_custkey
                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM adj
    ), px AS (
      SELECT o_custkey,
             max(CASE WHEN rn = 1 THEN adj_price END) AS p1,
             max(CASE WHEN rn = 4 THEN adj_price END) AS p4,
             max(CASE WHEN rn = 8 THEN adj_price END) AS p8
      FROM ranked GROUP BY o_custkey
    ), fy AS (
      SELECT o_custkey, year(o_orderdate) AS fy, sum(o_totalprice) AS rev
      FROM orders GROUP BY 1, 2
    ), fyr AS (
      SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY fy DESC) AS rn_fy
      FROM fy
    ), fyp AS (
      SELECT o_custkey,
             max(CASE WHEN rn_fy = 1 THEN rev END) AS rev1,
             max(CASE WHEN rn_fy = 2 THEN rev END) AS rev2
      FROM fyr GROUP BY o_custkey
    ), base AS (
      SELECT c.c_custkey, c.c_mktsegment AS segment, c.c_acctbal,
             px.p1 AS latest_price,
             CASE WHEN px.p4 > 0 THEN px.p1 / px.p4 - 1 END AS mom_3,
             CASE WHEN px.p8 > 0 THEN px.p1 / px.p8 - 1 END AS mom_7,
             CASE WHEN fyp.rev2 > 0 THEN fyp.rev1 / fyp.rev2 - 1 END AS yoy_rev
      FROM customer c
      LEFT JOIN px ON px.o_custkey = c.c_custkey
      LEFT JOIN fyp ON fyp.o_custkey = c.c_custkey
    ), scored AS (
      SELECT *,
        CASE WHEN mom_3 IS NOT NULL THEN
          percent_rank() OVER (PARTITION BY segment, (mom_3 IS NULL) ORDER BY mom_3) END AS pct_mom3,
        CASE WHEN mom_7 IS NOT NULL THEN
          percent_rank() OVER (PARTITION BY segment, (mom_7 IS NULL) ORDER BY mom_7) END AS pct_mom7,
        CASE WHEN yoy_rev IS NOT NULL THEN
          CASE WHEN stddev_pop(yoy_rev) OVER (PARTITION BY segment) = 0 THEN 0.0
               ELSE (yoy_rev - avg(yoy_rev) OVER (PARTITION BY segment))
                    / stddev_pop(yoy_rev) OVER (PARTITION BY segment) END END AS z_yoy,
        CASE WHEN stddev_pop(c_acctbal) OVER (PARTITION BY segment) = 0 THEN 0.0
             ELSE (c_acctbal - avg(c_acctbal) OVER (PARTITION BY segment))
                  / stddev_pop(c_acctbal) OVER (PARTITION BY segment) END AS z_bal
      FROM base
    )
    SELECT c_custkey, segment,
           round(latest_price, 2) AS latest_price,
           round(mom_3, 6) AS mom_3,
           round(mom_7, 6) AS mom_7,
           round(yoy_rev, 6) AS yoy_rev,
           round(pct_mom3, 6) AS pct_mom3,
           round(pct_mom7, 6) AS pct_mom7,
           round(z_yoy, 6) AS z_yoy,
           round(z_bal, 6) AS z_bal,
           round((coalesce(pct_mom3, 0) + coalesce(pct_mom7, 0)
                  + coalesce(z_yoy, 0) + coalesce(z_bal, 0))
                 / (CASE WHEN pct_mom3 IS NULL THEN 0 ELSE 1 END
                    + CASE WHEN pct_mom7 IS NULL THEN 0 ELSE 1 END
                    + CASE WHEN z_yoy IS NULL THEN 0 ELSE 1 END
                    + CASE WHEN z_bal IS NULL THEN 0 ELSE 1 END), 6) AS total_score
    FROM scored
    """,
)
def stock_metrics_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").withColumn("__fy", F.year("o_orderdate"))
    c = load_table(spark, sf_dir, "customer")

    # every window below is partitioned by o_custkey, so one exchange
    # of orders serves them and the per-customer groupBy; ordering by
    # FY first leaves the order rows in date order (the FY is the
    # date's year) and lets the FY windows reuse the same sort
    wcust = Window.partitionBy("o_custkey")
    wfy = wcust.orderBy(F.col("__fy").desc())
    wdesc = wcust.orderBy(
        F.col("__fy").desc(), F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    # rebase (ST8/W6): suffix adjustment over strictly-later orders;
    # factors are {1, 2} so the product collapses to the exact closed
    # form 2^count — no float fold, no exactness caveat
    later_urgent = F.count(
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
    ).over(wdesc.rowsBetween(Window.unboundedPreceding, -1))
    ranked = o.select(
        "o_custkey",
        "o_totalprice",
        "__fy",
        (F.col("o_totalprice") * F.pow(F.lit(2.0), later_urgent)).alias("adj_price"),
        F.row_number().over(wdesc).alias("rn"),
    )
    # FY revenue on each of the year's order rows (its peer group on
    # the FY axis) and the year's rank, newest first
    fy = ranked.select(
        "*",
        F.sum("o_totalprice")
        .over(wfy.rangeBetween(Window.currentRow, Window.currentRow))
        .alias("rev_y"),
        F.dense_rank().over(wfy).alias("rn_fy"),
    )

    # momentum over rank offsets and FY / prev-FY revenue: one
    # conditional-agg pivot per customer
    def pick(rank, k, value):
        return F.max(F.when(F.col(rank) == k, F.col(value)))

    per_cust = fy.groupBy("o_custkey").agg(
        pick("rn", 1, "adj_price").alias("p1"),
        pick("rn", 4, "adj_price").alias("p4"),
        pick("rn", 8, "adj_price").alias("p8"),
        pick("rn_fy", 1, "rev_y").alias("rev1"),
        pick("rn_fy", 2, "rev_y").alias("rev2"),
    )

    base = (
        c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left")
        .select(
            "c_custkey",
            F.col("c_mktsegment").alias("segment"),
            "c_acctbal",
            F.col("p1").alias("latest_price"),
            F.when(F.col("p4") > 0, F.col("p1") / F.col("p4") - 1).alias("mom_3"),
            F.when(F.col("p8") > 0, F.col("p1") / F.col("p8") - 1).alias("mom_7"),
            F.when(F.col("rev2") > 0, F.col("rev1") / F.col("rev2") - 1).alias("yoy_rev"),
        )
    )

    wseg = Window.partitionBy("segment")

    def pct_nullsafe(col):
        w = Window.partitionBy("segment", F.col(col).isNull()).orderBy(col)
        return F.when(F.col(col).isNotNull(), F.percent_rank().over(w))

    z_yoy = F.when(
        F.col("yoy_rev").isNotNull(),
        zscore(F.col("yoy_rev"), F.avg("yoy_rev").over(wseg), F.stddev_pop("yoy_rev").over(wseg)),
    )
    z_bal = zscore(
        F.col("c_acctbal"), F.avg("c_acctbal").over(wseg), F.stddev_pop("c_acctbal").over(wseg)
    )
    scored = base.select(
        "c_custkey",
        "segment",
        "latest_price",
        "mom_3",
        "mom_7",
        "yoy_rev",
        pct_nullsafe("mom_3").alias("pct_mom3"),
        pct_nullsafe("mom_7").alias("pct_mom7"),
        z_yoy.alias("z_yoy"),
        z_bal.alias("z_bal"),
    )

    parts = ["pct_mom3", "pct_mom7", "z_yoy", "z_bal"]
    num = sum((F.coalesce(F.col(p), F.lit(0.0)) for p in parts), F.lit(0.0))
    den = sum(
        (F.when(F.col(p).isNull(), 0).otherwise(1) for p in parts), F.lit(0)
    )
    return scored.select(
        "c_custkey",
        "segment",
        F.round("latest_price", 2).alias("latest_price"),
        F.round("mom_3", 6).alias("mom_3"),
        F.round("mom_7", 6).alias("mom_7"),
        F.round("yoy_rev", 6).alias("yoy_rev"),
        F.round("pct_mom3", 6).alias("pct_mom3"),
        F.round("pct_mom7", 6).alias("pct_mom7"),
        F.round("z_yoy", 6).alias("z_yoy"),
        F.round("z_bal", 6).alias("z_bal"),
        F.round(num / den, 6).alias("total_score"),
    )
