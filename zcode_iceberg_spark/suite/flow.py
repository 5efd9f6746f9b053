"""Order-flow suite queries (SURVEY E3-E6, B1-B3, G17)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zcode_iceberg_spark.operators import flow as ops
from zcode_iceberg_spark.sources.tables import (
    EVENTS_TICKS_SQL,
    events_ticks,
    ts_micros,
)
from zcode_iceberg_spark.suite import Query

TICKS_CTE = f"WITH ticks AS ({EVENTS_TICKS_SQL})"


def q_ticks_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1-B3 + G17: ingest normalization — JSON payload extraction,
    validity filter, side labeling, epoch→event-time conversion."""
    t = events_ticks(spark, sf_dir)
    return t.select(
        "event_id",
        "user_id",
        "event_type",
        F.round("price", 6).alias("price"),
        F.round("qty", 6).alias("qty"),
        "is_buy",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
    )


SQL_TICKS_NORMALIZE = f"""
{TICKS_CTE}
SELECT event_id, user_id, event_type,
       round(price, 6) AS price,
       round(qty, 6) AS qty,
       is_buy,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
FROM ticks
"""


def q_delta_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3+E4: taker-delta over trailing 600 s + z-score vs trailing
    50-row population (population std, min 30 obs) — the reference's
    namesake metric (strategy.py:1000-1043)."""
    t = events_ticks(spark, sf_dir)
    z = ops.delta_zscore(t, window_sec=600, pop_rows=50, min_pop=30)
    return z.select(
        "event_id",
        "user_id",
        F.round("delta", 6).alias("delta"),
        F.round("z", 6).alias("z"),
    )


SQL_DELTA_ZSCORE = f"""
{TICKS_CTE},
d AS (
  SELECT event_id, user_id, ts,
         SUM(CASE WHEN is_buy THEN qty ELSE 0.0 END) OVER w
           - SUM(CASE WHEN NOT is_buy THEN qty ELSE 0.0 END) OVER w AS delta
  FROM ticks
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
),
p AS (
  SELECT event_id, user_id, delta,
         avg(delta) OVER wp AS mu,
         stddev_pop(delta) OVER wp AS sigma,
         count(delta) OVER wp AS n
  FROM d
  WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, round(delta, 6) AS delta,
       CASE WHEN n >= 30 AND sigma > 0
            THEN round((delta - mu) / sigma, 6) ELSE 0.0 END AS z
FROM p
"""


def q_cvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6: normalized cumulative volume delta, clamped [-1, 1]."""
    t = events_ticks(spark, sf_dir)
    c = ops.cvd(t, window_sec=3600)
    return c.select("event_id", "user_id", F.round("cvd", 6).alias("cvd"))


SQL_CVD = f"""
{TICKS_CTE},
d AS (
  SELECT event_id, user_id,
         SUM(CASE WHEN is_buy THEN qty ELSE 0.0 END) OVER w AS buy_vol,
         SUM(CASE WHEN NOT is_buy THEN qty ELSE 0.0 END) OVER w AS sell_vol
  FROM ticks
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id,
       CASE WHEN buy_vol + sell_vol > 0
            THEN round(least(greatest((buy_vol - sell_vol) / (buy_vol + sell_vol),
                                      -1.0), 1.0), 6)
            ELSE 0.0 END AS cvd
FROM d
"""


def q_volume_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5: recent-vs-baseline volume-rate ratio, clamped [0.5, 2]."""
    t = events_ticks(spark, sf_dir)
    v = ops.volume_factor(t, recent_sec=3600, baseline_sec=86400)
    return v.select("event_id", "user_id", F.round("vol_factor", 6).alias("vol_factor"))


SQL_VOLUME_FACTOR = f"""
{TICKS_CTE},
d AS (
  SELECT event_id, user_id,
         SUM(qty) OVER wr / 3600.0 AS recent_rate,
         SUM(qty) OVER wb / 86400.0 AS base_rate
  FROM ticks
  WINDOW wr AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
         wb AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id,
       CASE WHEN base_rate > 0
            THEN round(least(greatest(recent_rate / base_rate, 0.5), 2.0), 6)
            ELSE 1.0 END AS vol_factor
FROM d
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1/H9 analog: 30-minute-gap session windows per key
    (``session_window`` — one shuffle on the key; watermark-bounded
    state in streaming mode)."""
    s = ops.sessionize(events_ticks(spark, sf_dir), gap="30 minutes")
    return s.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
        F.round("volume", 6).alias("volume"),
        F.round("buy_volume", 6).alias("buy_volume"),
    )


# gaps-and-islands twin of session_window: a new session starts where
# the gap from the previous event exceeds 30 min; session_end is the
# LAST event (Spark's window.end minus the gap).
SQL_SESSIONIZE = f"""
{TICKS_CTE},
marks AS (
  SELECT user_id, ts, event_id, qty, is_buy,
         -- Spark merges event windows [ts, ts+gap) on OVERLAP, so an
         -- exactly-gap-sized silence starts a NEW session → split on >=
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM ticks
),
sess AS (
  SELECT *,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marks
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       count(*) AS n_events,
       round(sum(qty), 6) AS volume,
       round(sum(CASE WHEN is_buy THEN qty ELSE 0.0 END), 6) AS buy_volume
FROM sess GROUP BY user_id, sid
"""


def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 extension: trailing sample correlation/covariance between
    price and traded qty per user over the last 50 ticks — one window
    family on the same (user, ts) sort every trailing stat uses.

    Float determinism: NEITHER builtin corr()/covar_samp() NOR plain
    windowed sums are bit-identical between Spark and DuckDB here
    (different co-moment algorithms / segment-tree summation — ulp
    diffs that flip round(6) on ~0.03% of rows). So the frame values
    are collected in frame order and folded LEFT-TO-RIGHT with
    F.aggregate ↔ list_reduce — sequential double folds are the one
    accumulation both engines execute identically (same trick as the
    EMA/cosine oracles). Null where the frame lacks variance."""
    t = events_ticks(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-49, 0)
    )
    lx = F.collect_list("price").over(w)
    ly = F.collect_list("qty").over(w)
    pre = t.select(
        "event_id", "user_id", lx.alias("lx"), ly.alias("ly")
    )

    def fold(arr, f):
        return F.aggregate(arr, F.lit(0.0), f)

    n = F.size("lx").cast("bigint")
    sx = fold(F.col("lx"), lambda a, x: a + x)
    sy = fold(F.col("ly"), lambda a, x: a + x)
    sxx = fold(F.col("lx"), lambda a, x: a + x * x)
    syy = fold(F.col("ly"), lambda a, x: a + x * x)
    sxy = fold(
        F.zip_with(F.col("lx"), F.col("ly"), lambda a, b: a * b),
        lambda a, x: a + x,
    )
    sums = pre.select(
        "event_id",
        "user_id",
        n.alias("n"),
        sx.alias("sx"),
        sy.alias("sy"),
        sxx.alias("sxx"),
        syy.alias("syy"),
        sxy.alias("sxy"),
    )
    com = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    vy = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    cov = F.when(F.col("n") > 1, com / (F.col("n") - 1))
    corr = F.when((F.col("n") > 1) & (vx > 0) & (vy > 0), com / F.sqrt(vx * vy))
    return sums.select(
        "event_id",
        "user_id",
        F.round(corr, 6).alias("corr_50"),
        F.round(cov, 6).alias("cov_50"),
        F.col("n").alias("n_win"),
    )


_FOLD_SUM = "list_reduce(list_prepend(0.0, {arr}), (a, x) -> a + x)"
_FOLD_SQ = "list_reduce(list_prepend(0.0, {arr}), (a, x) -> a + x * x)"

SQL_ROLLING_CORR = f"""
{TICKS_CTE},
lists AS (
  SELECT event_id, user_id,
         list(price) OVER w AS lx, list(qty) OVER w AS ly
  FROM ticks
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
),
sums AS (
  SELECT event_id, user_id, CAST(len(lx) AS BIGINT) AS n,
         {_FOLD_SUM.format(arr='lx')} AS sx,
         {_FOLD_SUM.format(arr='ly')} AS sy,
         {_FOLD_SQ.format(arr='lx')} AS sxx,
         {_FOLD_SQ.format(arr='ly')} AS syy,
         {_FOLD_SUM.format(arr="list_transform(generate_series(1, len(lx)), i -> lx[i] * ly[i])")} AS sxy
  FROM lists
)
SELECT event_id, user_id,
       round(CASE WHEN n > 1 AND (sxx - sx * sx / n) > 0
                   AND (syy - sy * sy / n) > 0
             THEN (sxy - sx * sy / n)
                  / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)) END,
             6) AS corr_50,
       round(CASE WHEN n > 1 THEN (sxy - sx * sy / n) / (n - 1) END, 6)
         AS cov_50,
       n AS n_win
FROM sums
"""


# ------------------------------------------------------- return moments

ACF_LAGS = [1, 2, 3]


def q_return_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution shape of per-key tick returns: mean, population
    sd, skewness, EXCESS kurtosis, and the autocorrelation function at
    lags {ACF_LAGS} — the regime-characterization battery behind the
    reference's Hurst/realized-vol block (fat tails → kurtosis,
    asymmetric moves → skew, momentum/mean-reversion → ACF sign).
    Returns are ARITHMETIC (price/prev − 1): pure IEEE arithmetic both
    engines, no transcendental whose ulp could flip a rounded hash
    (the ln() trap the quality-classifier advice documented).

    Float determinism: moments are raw power sums S1..S4 folded
    LEFT-TO-RIGHT over the (ts, event_id)-ordered return list
    (F.aggregate ↔ list_reduce, the rolling_corr rule), centered via
    the standard central-moment identities; ACF folds the centered
    list against its lag-shifted self. Shape: one lag window per key
    for returns, one groupBy collecting the per-key list (bounded by
    per-key tick depth — the FIXTURES key-cardinality contract), then
    everything is per-row expression work; no definition ambiguity
    because NEITHER engine's builtin skewness/kurtosis is used."""
    t = events_ticks(spark, sf_dir)
    wl = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = (F.col("price") / F.lag("price").over(wl) - 1).alias("r")
    rets = t.select("user_id", "ts", "event_id", r).filter(
        F.col("r").isNotNull()
    )
    lists = rets.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "r"))),
            lambda s: s["r"],
        ).alias("lr")
    )

    def fold(arr, f):
        return F.aggregate(arr, F.lit(0.0), f)

    n = F.size("lr").cast("bigint")
    s1 = fold(F.col("lr"), lambda a, x: a + x)
    s2 = fold(F.col("lr"), lambda a, x: a + x * x)
    s3 = fold(F.col("lr"), lambda a, x: a + x * x * x)
    s4 = fold(F.col("lr"), lambda a, x: a + x * x * x * x)
    sums = lists.select(
        "user_id", "lr", n.alias("n"),
        s1.alias("s1"), s2.alias("s2"), s3.alias("s3"), s4.alias("s4"),
    )
    mu = F.col("s1") / F.col("n")
    cent = sums.withColumn("mu", mu).withColumn(
        "c", F.transform(F.col("lr"), lambda x: x - F.col("mu"))
    )
    m2 = F.col("s2") / F.col("n") - F.col("mu") * F.col("mu")
    m3 = (
        F.col("s3") / F.col("n")
        - 3 * F.col("mu") * (F.col("s2") / F.col("n"))
        + 2 * F.col("mu") * F.col("mu") * F.col("mu")
    )
    m4 = (
        F.col("s4") / F.col("n")
        - 4 * F.col("mu") * (F.col("s3") / F.col("n"))
        + 6 * F.col("mu") * F.col("mu") * (F.col("s2") / F.col("n"))
        - 3 * F.col("mu") * F.col("mu") * F.col("mu") * F.col("mu")
    )
    den = fold(F.col("c"), lambda a, x: a + x * x)
    acf_cols = {}
    for lag in ACF_LAGS:
        ln = F.greatest(F.size("c") - lag, F.lit(0))
        num = fold(
            F.zip_with(
                F.slice(F.col("c"), 1, ln),
                F.slice(F.col("c"), lag + 1, ln),
                lambda a, b: a * b,
            ),
            lambda a, x: a + x,
        )
        acf_cols[f"acf{lag}"] = (
            F.round(F.when(den > 0, num / den), 6) + F.lit(0.0)
        ).alias(f"acf{lag}")
    pos = F.col("n") > 0
    var_ok = m2 > 0
    return cent.select(
        "user_id",
        F.col("n").alias("n_returns"),
        (F.round(F.when(pos, mu), 6) + F.lit(0.0)).alias("mean_r"),
        (F.round(F.when(var_ok, F.sqrt(m2)), 6) + F.lit(0.0)).alias("sd_r"),
        # m2·√m2 instead of pow(m2, 1.5): sqrt is correctly rounded
        # IEEE in both engines, pow is not
        (F.round(F.when(var_ok, m3 / (m2 * F.sqrt(m2))), 6) + F.lit(0.0)).alias(
            "skewness"
        ),
        (F.round(F.when(var_ok, m4 / (m2 * m2) - 3), 6) + F.lit(0.0)).alias(
            "ex_kurtosis"
        ),
        *acf_cols.values(),
    )


_RM_FOLD = "list_reduce(list_prepend(0.0, {arr}), (a, x) -> a + x)"


def _rm_acf_sql(lag: int) -> str:
    prod = (
        f"list_transform(generate_series(1, greatest(len(c) - {lag}, 0)), "
        f"i -> c[i] * c[i + {lag}])"
    )
    return (
        f"round(CASE WHEN {_RM_FOLD.format(arr='list_transform(c, x -> x * x)')}"
        f" > 0 THEN {_RM_FOLD.format(arr=prod)} / "
        f"{_RM_FOLD.format(arr='list_transform(c, x -> x * x)')} END, 6) + 0.0"
        f" AS acf{lag}"
    )


SQL_RETURN_MOMENTS = f"""
{TICKS_CTE},
rets AS (
  SELECT user_id, ts, event_id,
         price / lag(price) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) - 1 AS r
  FROM ticks
),
lists AS (
  SELECT user_id, list(r ORDER BY ts, event_id) AS lr
  FROM rets WHERE r IS NOT NULL GROUP BY user_id
),
sums AS (
  SELECT user_id, lr, CAST(len(lr) AS BIGINT) AS n,
         {_RM_FOLD.format(arr='lr')} AS s1,
         {_RM_FOLD.format(arr='list_transform(lr, x -> x * x)')} AS s2,
         {_RM_FOLD.format(arr='list_transform(lr, x -> x * x * x)')} AS s3,
         {_RM_FOLD.format(arr='list_transform(lr, x -> x * x * x * x)')} AS s4
  FROM lists
),
cent AS (
  SELECT *, s1 / n AS mu,
         list_transform(lr, x -> x - s1 / n) AS c
  FROM sums
)
SELECT user_id,
       n AS n_returns,
       round(CASE WHEN n > 0 THEN mu END, 6) + 0.0 AS mean_r,
       round(CASE WHEN s2 / n - mu * mu > 0
                  THEN sqrt(s2 / n - mu * mu) END, 6) + 0.0 AS sd_r,
       round(CASE WHEN s2 / n - mu * mu > 0
                  THEN (s3 / n - 3 * mu * (s2 / n) + 2 * mu * mu * mu)
                       / ((s2 / n - mu * mu) * sqrt(s2 / n - mu * mu))
             END, 6) + 0.0 AS skewness,
       round(CASE WHEN s2 / n - mu * mu > 0
                  THEN (s4 / n - 4 * mu * (s3 / n) + 6 * mu * mu * (s2 / n)
                        - 3 * mu * mu * mu * mu)
                       / ((s2 / n - mu * mu) * (s2 / n - mu * mu)) - 3
             END, 6) + 0.0 AS ex_kurtosis,
       {_rm_acf_sql(1)},
       {_rm_acf_sql(2)},
       {_rm_acf_sql(3)}
FROM cent
"""


# --------------------------------------------------------- SCD2 versions


def q_scd2_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build from a change log: per
    user, collapse consecutive runs of the tracked attribute
    (event_type as the stand-in segment) into versioned rows with
    [valid_from, valid_to) ranges, a per-key version number, and an
    is_current flag — the MERGE-free way a warehouse derives a
    versioned dimension from CDC events, and the temporal complement
    of the as-of join (D1): `asof` answers "which version was live at
    ts", this builds the version table it probes.

    Scale shape: gaps-and-islands under ONE user_id sort (lag →
    change flag → running sum = island id, the sessionize/hysteresis
    discipline), a per-island min/count aggregate riding the same
    partitioning, then lead() for valid_to on the (user, island)
    frame — no self-joins, no per-version scans. valid_to is NULL on
    the open (current) version; timestamps leave as strings per the
    suite's no-raw-TIMESTAMP rule."""
    ev = events_ticks(spark, sf_dir).select(
        "user_id", "ts", "event_id", F.col("event_type").alias("attr")
    )
    return _scd2_finalize(_scd2_runs(ev))


def _scd2_runs(ev: DataFrame) -> DataFrame:
    """Gaps-and-islands run collapse: (user_id, version, attr,
    start_ts, n_events) — shared by the batch build and the
    incremental apply."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(
        F.lag("attr").over(w).isNull()
        | (F.col("attr") != F.lag("attr").over(w)),
        1,
    ).otherwise(0)
    isl = ev.withColumn("isl", F.sum(chg).over(w))
    return isl.groupBy("user_id", F.col("isl").alias("version")).agg(
        # attr is constant within an island by construction — min is
        # just the deterministic spelling of "the" value
        F.min("attr").alias("attr"),
        F.min("ts").alias("start_ts"),
        F.count(F.lit(1)).alias("n_events"),
    )


def _scd2_open(runs: DataFrame) -> DataFrame:
    """Open (latest) version per key from a runs/state frame, renamed
    for the apply join — shared by the batch incremental apply and the
    streaming step."""
    wu = Window.partitionBy("user_id")
    return (
        runs.withColumn("maxv", F.max("version").over(wu))
        .filter(F.col("version") == F.col("maxv"))
        .select(
            "user_id",
            F.col("version").alias("open_version"),
            F.col("attr").alias("open_attr"),
            F.col("start_ts").alias("open_start"),
            F.col("n_events").alias("open_n"),
        )
    )


def _scd2_renumber(br: DataFrame) -> DataFrame:
    """Shared CDC renumbering core over batch runs LEFT-joined with
    the open-version frame: ``is_cont`` marks a first batch run that
    continues the key's open version (same attr); ``new_version`` is
    the global number — coalesce(open, 0) + version − key_cont, which
    lands cont rows exactly on the open version. The three-valued
    NULL-open_attr handling lives HERE only (batch apply and stream
    step both build on this, so the apply == rebuild invariant has a
    single implementation to keep true)."""
    cont = (F.col("version") == 1) & (F.col("attr") == F.col("open_attr"))
    # coalesce: keys with no history have NULL open_attr → cont NULL
    key_cont = F.max(F.coalesce(cont.cast("int"), F.lit(0))).over(
        Window.partitionBy("user_id")
    )
    return (
        br.withColumn("is_cont", F.coalesce(cont, F.lit(False)))
        .withColumn("key_cont", key_cont)
        .withColumn(
            "new_version",
            F.coalesce(F.col("open_version"), F.lit(0))
            + F.col("version")
            - F.col("key_cont"),
        )
    )


def _scd2_finalize(runs: DataFrame) -> DataFrame:
    """Close validity ranges over the (small) version table: lead()
    per key for valid_to, NULL-lead = current, timestamps to strings."""
    wv = Window.partitionBy("user_id").orderBy("version")
    return runs.select(
        "user_id",
        "version",
        "attr",
        "n_events",
        F.date_format("start_ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format(
            F.lead("start_ts").over(wv), "yyyy-MM-dd HH:mm:ss"
        ).alias("valid_to"),
        F.lead("start_ts").over(wv).isNull().alias("is_current"),
    )


SQL_SCD2_VERSIONS = f"""
{TICKS_CTE},
flagged AS (
  SELECT user_id, ts, event_id, event_type AS attr,
         CASE WHEN lag(event_type) OVER w IS NULL
               OR event_type <> lag(event_type) OVER w
              THEN 1 ELSE 0 END AS chg
  FROM ticks
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
isl AS (
  SELECT *, sum(chg) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS isl
  FROM flagged
),
runs AS (
  SELECT user_id, isl,
         min(attr) AS attr,
         min(ts) AS start_ts,
         count(*) AS n_events
  FROM isl GROUP BY user_id, isl
)
SELECT user_id,
       CAST(isl AS BIGINT) AS version,
       attr,
       n_events,
       strftime(start_ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(lead(start_ts) OVER wv, '%Y-%m-%d %H:%M:%S') AS valid_to,
       lead(start_ts) OVER wv IS NULL AS is_current
FROM runs
WINDOW wv AS (PARTITION BY user_id ORDER BY isl)
"""


SCD2_SPLIT = 0.8  # events before this fraction of the ts range = history


def q_scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 apply (the CDC MERGE a warehouse runs per
    batch): the change log is split at a TIME cut ({SCD2_SPLIT} of the
    ts range — per-key in-order arrival, the CDC contract), the
    historical version table is built once, and the arriving batch is
    APPLIED to it — a batch run that continues a key's open version
    extends it (same attr: n_events grows, version number and
    valid_from survive), otherwise the open version closes at the
    run's start and new numbered versions append. Output is the full
    post-apply version table, and the ORACLE is the from-scratch
    batch rebuild over all events — the apply is correct iff it is
    indistinguishable from rebuilding, hash-checked row by row (the
    dedup_incremental contract applied to dimension maintenance).

    Scale shape: the batch side touches only batch rows (runs built
    per arriving key); history enters through the version TABLE
    (keys × versions, not events) — one broadcast-size open-version
    join per batch key, never a rescan of historical events; the
    fragment merge is a hash agg on (key, version) over the version
    table. In production the version table persists via the
    maintenance layer (merge_upsert — the dedup_incremental_persisted
    layout); this query rebuilds it in-plan so the oracle can replay
    everything from the raw table."""
    t = events_ticks(spark, sf_dir).select(
        "user_id", "ts", "event_id", F.col("event_type").alias("attr")
    )
    us = ts_micros()
    rng = t.agg(
        F.min(us).alias("mnt"), F.max(us).alias("mxt")
    ).select(
        (
            F.col("mnt")
            + F.floor(F.lit(SCD2_SPLIT) * (F.col("mxt") - F.col("mnt")))
        ).alias("cut_us")
    )
    tt = t.withColumn("us", us).crossJoin(F.broadcast(rng))
    hist = tt.filter(F.col("us") < F.col("cut_us")).drop("us", "cut_us")
    batch = tt.filter(F.col("us") >= F.col("cut_us")).drop("us", "cut_us")

    hist_table = _scd2_runs(hist).select(
        "user_id", "version", "attr", "start_ts", "n_events"
    )
    return scd2_apply(batch, hist_table)


def scd2_apply(batch: DataFrame, hist_table: DataFrame) -> DataFrame:
    """Apply a CDC batch onto a version TABLE (user_id, version, attr,
    start_ts, n_events) → the post-apply finalized version view. THE
    single apply spelling shared by ``q_scd2_incremental`` (history
    rebuilt in-plan so the oracle replays it) and the streamed-state
    composition path (``scd2_stream``'s persisted table read by
    ``scd2_state`` — tests/test_scd2.py pins stream-state → apply ≡
    the oracle-checked rebuild across a query restart)."""
    # explicit broadcast (r12): the open-version frame is one row per
    # key (the docstring's "broadcast-size open-version join"), but
    # Catalyst's size estimate after the window+filter stays at the
    # child's size, so the planner falls back to a sort-merge join
    # (guide §3.1: estimates are often badly wrong after filters —
    # hint when you know a side is small). The hint removes the
    # exchange+sort on the batch-runs side, whose user_id partitioning
    # then feeds _scd2_renumber's windows shuffle-free.
    br = _scd2_renumber(
        _scd2_runs(batch).join(
            F.broadcast(_scd2_open(hist_table)), "user_id", "left"
        )
    )
    adj = br.select(
        "user_id",
        F.col("new_version").alias("version"),
        "attr",
        # a merged first run keeps the open version's start; realized
        # by emitting it as a FRAGMENT of that version (start_ts = min,
        # n_events = sum in the merge aggregate below)
        "start_ts",
        "n_events",
    )
    merged = (
        hist_table.select("user_id", "version", "attr", "start_ts", "n_events")
        .unionAll(adj)
        .groupBy("user_id", "version")
        .agg(
            F.min("attr").alias("attr"),
            F.min("start_ts").alias("start_ts"),
            F.sum("n_events").cast("bigint").alias("n_events"),
        )
    )
    return _scd2_finalize(merged)


# ------------------------------------------------- event-sequence analytics

FUNNEL_STAGES = ["view", "click", "purchase"]
FUNNEL_WINDOW_HOURS = 6  # stage-k event must land within this of stage k-1


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel over the raw event stream: a user converts at
    stage k only with an event of that type strictly AFTER their
    first stage-(k-1) event AND within {FUNNEL_WINDOW_HOURS} h of it
    (view → click → purchase; the window is what makes the funnel
    discriminating — unbounded, any active user eventually emits
    every type). The session/
    engagement analytics shape a product events table always needs,
    and the event-sequencing twin of the reference's entry→fill→exit
    ordering checks (strategy.py:575-700 gates each transition on the
    prior one's timestamp).

    Scale shape: each stage is a per-user MIN aggregate (map-side
    partials) joined to the previous stage's SURVIVORS — the relation
    shrinks monotonically down the funnel, and every join is an
    equi-join on user_id, so the whole chain is one shuffle family.
    The 3-row summary then carries window-derived conversion rates."""
    from zcode_iceberg_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    prev: DataFrame | None = None
    stage_counts = []
    for idx, stage in enumerate(FUNNEL_STAGES, start=1):
        cur = ev.where(F.col("event_type") == stage)
        if prev is not None:
            cur = cur.join(prev, "user_id").where(
                (F.col("ts") > F.col("t_prev"))
                & (
                    F.col("ts")
                    <= F.col("t_prev")
                    + F.expr(f"INTERVAL {FUNNEL_WINDOW_HOURS} HOURS")
                )
            )
        s = cur.groupBy("user_id").agg(F.min("ts").alias("t_prev"))
        stage_counts.append(
            s.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(idx).alias("stage_idx"),
                F.lit(stage).alias("stage"),
                "n_users",
            )
        )
        prev = s
    u = stage_counts[0]
    for s in stage_counts[1:]:
        u = u.unionByName(s)
    w = Window.orderBy("stage_idx").rowsBetween(Window.unboundedPreceding, 0)
    # guard 0-user denominators: Spark yields NULL for 0/0 while DuckDB
    # yields NaN/Inf, so an empty stage must produce NULL on BOTH sides
    # explicitly (ADVICE r8)
    d_first = F.first("n_users").over(w)
    d_prev = F.coalesce(
        F.lag("n_users", 1).over(Window.orderBy("stage_idx")), F.col("n_users")
    )
    return u.select(
        "stage_idx",
        "stage",
        "n_users",
        F.when(d_first > 0, F.round(F.col("n_users") / d_first, 6)).alias(
            "conv_from_first"
        ),
        F.when(d_prev > 0, F.round(F.col("n_users") / d_prev, 6)).alias(
            "conv_from_prev"
        ),
    )


SQL_FUNNEL_CONVERSION = f"""
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s1.t1
    AND e.ts <= s1.t1 + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
    AND e.ts <= s2.t2 + INTERVAL {FUNNEL_WINDOW_HOURS} HOUR
  GROUP BY e.user_id
),
u AS (
  SELECT 1 AS stage_idx, 'view' AS stage, count(*) AS n_users FROM s1
  UNION ALL
  SELECT 2, 'click', count(*) FROM s2
  UNION ALL
  SELECT 3, 'purchase', count(*) FROM s3
)
SELECT stage_idx, stage, n_users,
       CASE WHEN first_value(n_users) OVER (ORDER BY stage_idx) > 0
            THEN round(n_users /
                       CAST(first_value(n_users) OVER (ORDER BY stage_idx)
                            AS DOUBLE), 6) END AS conv_from_first,
       CASE WHEN coalesce(lag(n_users) OVER (ORDER BY stage_idx),
                          n_users) > 0
            THEN round(n_users /
                       CAST(coalesce(lag(n_users) OVER (ORDER BY stage_idx),
                                     n_users) AS DOUBLE), 6)
            END AS conv_from_prev
FROM u
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day, then
    per (cohort_day, day_offset) the distinct users active that day
    and the retention rate vs the cohort's size — the standard
    engagement rollup over any event table.

    Scale shape: first-seen is a window MIN under ONE user_id
    exchange (no self-join); the activity matrix distincts
    (user, cohort, offset) on the same pass's output, then aggregates
    — partial aggs everywhere; cohort sizes come from the offset-0
    rows themselves (every user is active on their first day) and
    broadcast back onto the tiny matrix."""
    from zcode_iceberg_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    w = Window.partitionBy("user_id")
    act = (
        ev.withColumn("cohort_d", F.min("d").over(w))
        .select(
            "user_id",
            "cohort_d",
            F.datediff("d", "cohort_d").alias("day_offset"),
        )
        .distinct()
    )
    g = act.groupBy("cohort_d", "day_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    )
    sizes = g.where(F.col("day_offset") == 0).select(
        "cohort_d", F.col("n_active").alias("cohort_size")
    )
    return (
        g.join(F.broadcast(sizes), "cohort_d")
        .select(
            F.date_format("cohort_d", "yyyy-MM-dd").alias("cohort_day"),
            F.col("day_offset").cast("bigint").alias("day_offset"),
            "n_active",
            "cohort_size",
            F.round(F.col("n_active") / F.col("cohort_size"), 6).alias(
                "retention"
            ),
        )
    )


SQL_COHORT_RETENTION = """
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS d FROM events
),
act AS (
  SELECT DISTINCT user_id,
         min(d) OVER (PARTITION BY user_id) AS cohort_d,
         date_diff('day', min(d) OVER (PARTITION BY user_id), d)
           AS day_offset
  FROM ev
),
g AS (
  SELECT cohort_d, day_offset, count(*) AS n_active
  FROM act GROUP BY cohort_d, day_offset
),
sizes AS (
  SELECT cohort_d, n_active AS cohort_size FROM g WHERE day_offset = 0
)
SELECT strftime(g.cohort_d, '%Y-%m-%d') AS cohort_day,
       CAST(g.day_offset AS BIGINT) AS day_offset,
       g.n_active, s.cohort_size,
       round(g.n_active / CAST(s.cohort_size AS DOUBLE), 6) AS retention
FROM g JOIN sizes s USING (cohort_d)
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: P(next type | type), the behavioral model behind path
    analysis and anomaly scoring on any event stream.

    Scale shape: `lead` under ONE user_id window exchange builds the
    (from, to) pairs; the matrix itself is a #types² hash aggregate
    with map-side partials, and the row-normalizing total is a window
    over that tiny matrix — nothing bigger than |types|² ever
    shuffles twice."""
    from zcode_iceberg_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    g = pairs.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    row_total = F.sum("n").over(Window.partitionBy("from_type"))
    return g.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / row_total, 6).alias("p"),
    )


SQL_EVENT_TRANSITIONS = """
WITH pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
),
g AS (
  SELECT from_type, to_type, count(*) AS n
  FROM pairs WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n,
       round(n / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
FROM g
"""


MAD_K = 3.0  # flag beyond 3 robust sigmas
MAD_SCALE = 1.4826  # MAD → sigma under normality


def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-key outlier profile: median / MAD (the
    mean/stddev-free dispersion pair that one fat-fingered print
    can't poison — the robustness the reference's z-gate lacks,
    strategy.py:1022-1043) and the count of prices beyond
    {MAD_K}·{MAD_SCALE}·MAD.

    Scale shape: two grouped exact percentiles (partial-agg shuffles
    on user_id) with the tiny per-key medians BROADCAST back between
    passes; the flag pass is map-side. At 100 TB swap `percentile`
    for `approx_percentile` (t-digest) — same plan shape, no sort
    (the swap precedent is price_percentiles_approx)."""
    t = events_ticks(spark, sf_dir)
    med = t.groupBy("user_id").agg(
        F.percentile("price", F.lit(0.5)).alias("med")
    )
    dev = t.join(F.broadcast(med), "user_id").select(
        "user_id", "price", "med", F.abs(F.col("price") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("user_id").agg(
        F.first("med").alias("med"),
        F.percentile("adev", F.lit(0.5)).alias("mad"),
        F.count(F.lit(1)).alias("n"),
    )
    flagged = dev.join(
        F.broadcast(mad.select("user_id", F.col("mad").alias("mad_b"))), "user_id"
    ).groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("adev") > MAD_K * MAD_SCALE * F.col("mad_b"), 1
            ).otherwise(0)
        ).alias("n_outliers")
    )
    return mad.join(flagged, "user_id").select(
        "user_id",
        "n",
        F.round("med", 6).alias("med"),
        F.round("mad", 6).alias("mad"),
        F.col("n_outliers").cast("bigint").alias("n_outliers"),
        F.round(F.col("n_outliers") / F.col("n"), 6).alias("outlier_rate"),
    )


SQL_ROBUST_OUTLIERS = f"""
{TICKS_CTE},
med AS (
  SELECT user_id, quantile_cont(price, 0.5) AS med
  FROM ticks GROUP BY user_id
),
dev AS (
  SELECT t.user_id, t.price, m.med, abs(t.price - m.med) AS adev
  FROM ticks t JOIN med m USING (user_id)
),
mad AS (
  SELECT user_id, any_value(med) AS med,
         quantile_cont(adev, 0.5) AS mad,
         count(*) AS n
  FROM dev GROUP BY user_id
),
fl AS (
  SELECT d.user_id,
         CAST(sum(CASE WHEN d.adev > {MAD_K} * {MAD_SCALE} * m.mad
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
  FROM dev d JOIN mad m USING (user_id)
  GROUP BY d.user_id
)
SELECT m.user_id, m.n,
       round(m.med, 6) AS med,
       round(m.mad, 6) AS mad,
       f.n_outliers,
       round(f.n_outliers / CAST(m.n AS DOUBLE), 6) AS outlier_rate
FROM mad m JOIN fl f USING (user_id)
"""


def q_volume_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-structure concentration: the daily Herfindahl–Hirschman
    index of traded volume across keys (Σ share², 1/n = perfectly
    even, 1 = single participant) plus the top participant's share —
    the concentration monitor a venue-health dashboard runs (the
    reference's imbalance gate is the per-book analog; this is the
    cross-participant one).

    Scale shape: one (day, key) partial-agg collapse of the tick
    stream, then per-day shares/HHI computed over that tiny relation
    under a single day-partitioned window — nothing bigger than
    days × keys shuffles twice."""
    t = events_ticks(spark, sf_dir)
    # volumes in exact integer micro-units so every sum is order-free
    # (the repo's micro-unit rule); HHI collapses algebraically to
    # Σvol² / (Σvol)², so ONE per-day aggregate does it all — the
    # squared sums ride DECIMAL(38,0) (vol_u² brushes the BIGINT edge)
    vol_u = F.round(F.col("qty") * 1e6).cast("long")
    g = t.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
    ).agg(F.sum(vol_u).alias("vol_u"))
    vu = F.col("vol_u").cast("decimal(38,0)")
    agg = g.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_participants"),
        F.sum(vu).alias("tot"),
        F.sum(vu * vu).alias("tot_sq"),
        F.max("vol_u").alias("max_u"),
    )
    return agg.select(
        "day",
        "n_participants",
        F.round(
            (F.col("tot_sq") / (F.col("tot") * F.col("tot"))).cast("double"), 6
        ).alias("hhi"),
        F.round(
            (F.col("max_u").cast("decimal(38,0)") / F.col("tot")).cast("double"),
            6,
        ).alias("top_share"),
    )


SQL_VOLUME_HHI = f"""
{TICKS_CTE},
g AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, user_id,
         sum(CAST(round(qty * 1e6) AS BIGINT)) AS vol_u
  FROM ticks GROUP BY 1, 2
)
SELECT day, count(*) AS n_participants,
       round(CAST(sum(CAST(vol_u AS DECIMAL(38,0)) * vol_u)
                  / (sum(CAST(vol_u AS DECIMAL(38,0)))
                     * sum(CAST(vol_u AS DECIMAL(38,0)))) AS DOUBLE), 6)
         AS hhi,
       round(CAST(CAST(max(vol_u) AS DECIMAL(38,0))
                  / sum(CAST(vol_u AS DECIMAL(38,0))) AS DOUBLE), 6)
         AS top_share
FROM g GROUP BY day
"""


CUSUM_K = 0.5  # slack, in per-user sigma units (standard choice)
CUSUM_H = 5.0  # alarm threshold, sigma units


def q_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-point detection: two-sided CUSUM over standardized tick
    returns — the quality-control monitor that flags a persistent
    drift the z-gate's pointwise test misses (Page's statistic). Uses
    the CLOSED FORM S⁺_t = U_t − min_{i≤t} U_i with U = Σ(x − k)
    (and the mirrored S⁻), so the "recursive" statistic is two
    cumulative windows — no fold, no UDF, exact.

    Scale shape: one per-key variance aggregate broadcast back (the
    standardization pass), then all four cumulative windows share ONE
    key-partitioned sort. σ is rounded to 9dp before use so the
    standardized stream is identical regardless of the variance
    aggregate's partial-merge order (the pagerank order-independence
    lesson applied at the source)."""
    t = events_ticks(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("price").over(w)
    ret = F.when(prev > 0, (F.col("price") - prev) / prev)
    r = t.select("user_id", "ts", "event_id", ret.alias("ret")).where(
        F.col("ret").isNotNull()
    )
    sig = r.groupBy("user_id").agg(
        F.round(F.stddev_pop("ret"), 9).alias("sigma")
    )
    x = r.join(F.broadcast(sig), "user_id").where(F.col("sigma") > 0).select(
        "user_id",
        "ts",
        "event_id",
        (F.col("ret") / F.col("sigma")).alias("x"),
    )
    cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # two window passes (windows can't nest): the cumulative walks U,
    # then their running extrema — all four share the ONE key sort
    u = x.select(
        "user_id",
        "ts",
        "event_id",
        F.sum(F.col("x") - CUSUM_K).over(cum).alias("u_up"),
        F.sum(F.col("x") + CUSUM_K).over(cum).alias("u_dn"),
    )
    # Page's statistic anchors the extrema at U_0 = 0 (S+_t =
    # U_t - min_{0<=i<=t} U_i): without the 0 anchor a drift present
    # from the very first observation never alarms (the running min
    # rides along with U)
    scored = u.select(
        "user_id",
        "event_id",
        (F.col("u_up") - F.least(F.lit(0.0), F.min("u_up").over(cum))).alias(
            "s_up"
        ),
        (F.greatest(F.lit(0.0), F.max("u_dn").over(cum)) - F.col("u_dn")).alias(
            "s_dn"
        ),
    )
    return scored.select(
        "user_id",
        "event_id",
        F.round("s_up", 6).alias("s_up"),
        F.round("s_dn", 6).alias("s_dn"),
        (F.col("s_up") > CUSUM_H).alias("alarm_up"),
        (F.col("s_dn") > CUSUM_H).alias("alarm_dn"),
    )


SQL_CUSUM_ALARM = f"""
{TICKS_CTE},
r AS (
  SELECT user_id, ts, event_id,
         (price - lag(price) OVER w) / lag(price) OVER w AS ret
  FROM ticks
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
rr AS (SELECT * FROM r WHERE ret IS NOT NULL),
sig AS (
  SELECT user_id, round(stddev_pop(ret), 9) AS sigma
  FROM rr GROUP BY user_id
),
x AS (
  SELECT rr.user_id, rr.ts, rr.event_id, rr.ret / s.sigma AS x
  FROM rr JOIN sig s USING (user_id) WHERE s.sigma > 0
),
u AS (
  SELECT user_id, ts, event_id,
         sum(x - {CUSUM_K}) OVER cw AS u_up,
         sum(x + {CUSUM_K}) OVER cw AS u_dn
  FROM x
  WINDOW cw AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
c AS (
  SELECT user_id, event_id,
         u_up - least(0.0, min(u_up) OVER cw) AS s_up,
         greatest(0.0, max(u_dn) OVER cw) - u_dn AS s_dn
  FROM u
  WINDOW cw AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id,
       round(s_up, 6) AS s_up, round(s_dn, 6) AS s_dn,
       s_up > {CUSUM_H} AS alarm_up, s_dn > {CUSUM_H} AS alarm_dn
FROM c
"""


PATH_GAP_MIN = 30  # session gap, matches sessionize
PATH_MAX_EVENTS = 5  # path prefix length


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top navigation paths: the ordered event-type prefix (first
    {PATH_MAX_EVENTS} events) of every {PATH_GAP_MIN}-minute-gap
    session, rolled up to (path, frequency) — the path-analysis rollup
    behind every "common user journeys" view.

    Scale shape: sessions come from gaps-and-islands (lag + running
    sum) under ONE user_id sort — the same technique `sessionize`'s
    oracle uses; the path string is built from a bounded
    (≤{PATH_MAX_EVENTS}-element) sorted collect per session, and the
    rollup is a hash agg on the path string with map-side partials.
    Nothing collects more than the capped prefix per session."""
    from zcode_iceberg_spark.sources.tables import load_table

    gap_us = PATH_GAP_MIN * 60 * 1_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    us = ts_micros()
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_s = F.when(
        (us - F.lag(us).over(w)).isNull() | ((us - F.lag(us).over(w)) > gap_us),
        1,
    ).otherwise(0)
    sess = ev.withColumn("sid", F.sum(new_s).over(w)).withColumn(
        "rn", F.row_number().over(
            Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
        )
    )
    paths = (
        sess.where(F.col("rn") <= PATH_MAX_EVENTS)
        .groupBy("user_id", "sid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "event_type"))
                    ),
                    lambda x: x["event_type"],
                ),
                ">",
            ).alias("path"),
            F.max("rn").alias("plen"),
        )
    )
    total = F.sum("n_sessions").over(Window.partitionBy())
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.round(F.avg("plen"), 6).alias("avg_prefix_len"),
        )
        .withColumn("share", F.round(F.col("n_sessions") / total, 6))
    )


SQL_SESSION_PATHS = f"""
WITH ev AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                   > {PATH_GAP_MIN * 60 * 1_000_000}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
  FROM ev
),
rn AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id, sid
                            ORDER BY ts, event_id) AS rn
  FROM sess
),
paths AS (
  SELECT user_id, sid,
         string_agg(event_type, '>' ORDER BY rn) AS path,
         max(rn) AS plen
  FROM rn WHERE rn <= {PATH_MAX_EVENTS}
  GROUP BY user_id, sid
)
SELECT path, count(*) AS n_sessions,
       round(avg(plen), 6) AS avg_prefix_len,
       round(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE), 6) AS share
FROM paths GROUP BY path
"""


# ------------------------------------------------------- z-order layout

ZGRID_BITS = 16  # per-dimension grid resolution
ZGRID_MAX = (1 << ZGRID_BITS) - 1  # 65535
ZNB_SHIFT = 2 * ZGRID_BITS - 6  # 64 equal-width buckets over the 32-bit z key
ZLIN_SHIFT = ZGRID_BITS - 6  # 64 equal-width buckets over one dimension
ZNB = 64
# predicate box = the middle eighth of each dimension's grid range
ZP_LO = (1 << ZGRID_BITS) * 7 // 16  # 28672
ZP_HI = (1 << ZGRID_BITS) * 9 // 16 - 1  # 36863


def _grid16_sql(x: str, mn: str, mx: str, idiv: str) -> str:
    """Affine map of ``x`` onto the {ZGRID_BITS}-bit grid with EXACT
    integer arithmetic (the product can exceed 2^53, so float division
    is not an option); ``idiv`` is the dialect's integer-division
    operator (Spark ``DIV``, DuckDB ``//``). Overflow guard: spans
    above 2^46 (≈4.5 years of microseconds, or snowflake-style id
    ranges) pre-divide both coordinate and span by q = span/2^46 + 1
    so the ·{ZGRID_MAX} product stays under 2^63 — Spark's non-ANSI
    multiply would otherwise WRAP silently while DuckDB errors, and
    the engines would diverge. q = 1 at any span below 2^46, leaving
    small-span grids bit-identical to the unguarded formula."""
    span = f"({mx} - {mn})"
    q = f"({span} {idiv} {1 << 46} + 1)"
    return (
        f"(({x} - {mn}) {idiv} {q} * {ZGRID_MAX} "
        f"{idiv} greatest({span} {idiv} {q}, 1))"
    )


def _zvalue_sql(t: str, u: str, idiv: str) -> str:
    """Bit-interleaved Morton/Z value of two grid coordinates as pure
    arithmetic — bit b of x is (x idiv 2^b) % 2 — so both engines
    evaluate the identical formula with no dialect bit operators."""
    terms = []
    for b in range(ZGRID_BITS):
        terms.append(f"(({t} {idiv} {1 << b}) % 2) * {1 << (2 * b)}")
        terms.append(f"(({u} {idiv} {1 << b}) % 2) * {1 << (2 * b + 1)}")
    return "(" + " + ".join(terms) + ")"


def _zgrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared (event_id, t16, u16) grid frame — the single home of the
    events→stats→grid construction used by q_zorder_layout,
    q_compaction_plan, and the physical row-group test (three copies
    of the unix_micros/overflow-guard subtleties would drift)."""
    from zcode_iceberg_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        ts_micros().alias("tus"),
    )
    stats = ev.agg(
        F.min("tus").alias("mnt"),
        F.max("tus").alias("mxt"),
        F.min("user_id").alias("mnu"),
        F.max("user_id").alias("mxu"),
    )
    return ev.crossJoin(F.broadcast(stats)).select(
        "event_id",
        F.expr(_grid16_sql("tus", "mnt", "mxt", "DIV")).alias("t16"),
        F.expr(_grid16_sql("user_id", "mnu", "mxu", "DIV")).alias("u16"),
    )


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional data layout audit: how much of the table a
    (time-range AND key-range) predicate must scan under three file
    layouts — Z-ORDER (bit-interleaved (ts, user_id) sort: the
    OPTIMIZE-ZORDER technique), LINEAR-TIME (sort by ts alone: the
    default append layout), and UNCLUSTERED (hash scatter). Both
    dimensions are mapped onto a {ZGRID_BITS}-bit grid with exact
    integer arithmetic, rows fall into {ZNB} equal-width key-range
    buckets per layout (a bucket models one file/row-group), and a
    bucket must be scanned iff its (min,max) bounding box in BOTH
    dimensions intersects the predicate box — exactly the min/max
    zone-map pruning parquet footers give a 100 TB scan. Output: one
    row per layout with buckets_scanned / rows_scanned /
    scan_fraction against identical rows_matched, which IS the
    layout decision (z-order pays a slightly looser time box to make
    the key box ~{ZNB}× tighter; the measured physical-row-group twin
    of this model is tests/test_zorder.py, which writes real parquet
    in each order and prunes on footer stats).

    Scale shape: grid + z-value are map-side expressions on the scan
    (the 'model' is two min/max pairs from one aggregate pass,
    broadcast back); the three layouts are ONE explode (3 rows per
    event, each a narrow (layout, bucket, t16, u16) tuple) feeding ONE
    (layout, bucket) hash aggregate with map-side partials, then a
    {3 * ZNB}-row final rollup — one scan, one shuffle, no sort (at
    write time the real layout IS a sort; this query only prices it)."""
    g = _zgrid(spark, sf_dir)
    zb = F.expr(_zvalue_sql("t16", "u16", "DIV") + f" DIV {1 << ZNB_SHIFT}")
    tb = F.expr(f"t16 DIV {1 << ZLIN_SHIFT}")
    hb = F.col("event_id") % ZNB
    rows = g.select(
        "t16",
        "u16",
        F.explode(
            F.array(
                F.struct(
                    F.lit("zorder").alias("layout"), zb.cast("long").alias("bucket")
                ),
                F.struct(
                    F.lit("linear_time").alias("layout"),
                    tb.cast("long").alias("bucket"),
                ),
                F.struct(
                    F.lit("unclustered").alias("layout"),
                    hb.cast("long").alias("bucket"),
                ),
            )
        ).alias("lb"),
    ).select(F.col("lb.layout").alias("layout"), F.col("lb.bucket").alias("bucket"), "t16", "u16")
    matched = (
        F.col("t16").between(ZP_LO, ZP_HI) & F.col("u16").between(ZP_LO, ZP_HI)
    ).cast("long")
    boxes = rows.groupBy("layout", "bucket").agg(
        F.min("t16").alias("t_lo"),
        F.max("t16").alias("t_hi"),
        F.min("u16").alias("u_lo"),
        F.max("u16").alias("u_hi"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(matched).alias("n_match"),
    )
    scanned = (
        (F.col("t_lo") <= ZP_HI)
        & (F.col("t_hi") >= ZP_LO)
        & (F.col("u_lo") <= ZP_HI)
        & (F.col("u_hi") >= ZP_LO)
    )
    return (
        boxes.groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(scanned.cast("long")).alias("buckets_scanned"),
            F.sum(F.when(scanned, F.col("n_rows")).otherwise(0)).alias(
                "rows_scanned"
            ),
            F.sum("n_match").alias("rows_matched"),
            F.round(
                F.sum(F.when(scanned, F.col("n_rows")).otherwise(0))
                / F.sum("n_rows"),
                6,
            ).alias("scan_fraction"),
        )
    )


SQL_ZORDER_LAYOUT = f"""
WITH stats AS MATERIALIZED (
  SELECT min(epoch_us(ts)) AS mnt, max(epoch_us(ts)) AS mxt,
         min(user_id) AS mnu, max(user_id) AS mxu
  FROM events
),
g AS MATERIALIZED (
  SELECT event_id,
         {_grid16_sql('epoch_us(ts)', 'mnt', 'mxt', '//')} AS t16,
         {_grid16_sql('user_id', 'mnu', 'mxu', '//')} AS u16
  FROM events CROSS JOIN stats
),
rows_l AS (
  SELECT 'zorder' AS layout,
         CAST({_zvalue_sql('t16', 'u16', '//')} // {1 << ZNB_SHIFT} AS BIGINT)
           AS bucket, t16, u16
  FROM g
  UNION ALL
  SELECT 'linear_time', CAST(t16 // {1 << ZLIN_SHIFT} AS BIGINT), t16, u16
  FROM g
  UNION ALL
  SELECT 'unclustered', CAST(event_id % {ZNB} AS BIGINT), t16, u16 FROM g
),
boxes AS (
  SELECT layout, bucket,
         min(t16) AS t_lo, max(t16) AS t_hi,
         min(u16) AS u_lo, max(u16) AS u_hi,
         count(*) AS n_rows,
         sum(CASE WHEN t16 BETWEEN {ZP_LO} AND {ZP_HI}
                   AND u16 BETWEEN {ZP_LO} AND {ZP_HI}
                  THEN 1 ELSE 0 END) AS n_match
  FROM rows_l GROUP BY layout, bucket
)
SELECT layout,
       count(*) AS n_buckets,
       CAST(sum(CASE WHEN t_lo <= {ZP_HI} AND t_hi >= {ZP_LO}
                 AND u_lo <= {ZP_HI} AND u_hi >= {ZP_LO}
                THEN 1 ELSE 0 END) AS BIGINT) AS buckets_scanned,
       CAST(sum(CASE WHEN t_lo <= {ZP_HI} AND t_hi >= {ZP_LO}
                 AND u_lo <= {ZP_HI} AND u_hi >= {ZP_LO}
                THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
       CAST(sum(n_match) AS BIGINT) AS rows_matched,
       round(sum(CASE WHEN t_lo <= {ZP_HI} AND t_hi >= {ZP_LO}
                       AND u_lo <= {ZP_HI} AND u_hi >= {ZP_LO}
                      THEN n_rows ELSE 0 END) / CAST(sum(n_rows) AS DOUBLE), 6)
         AS scan_fraction
FROM boxes
GROUP BY layout
"""


# ------------------------------------------------------ compaction plan

COMPACT_GROUPS = 8  # target rewritten-file count = total/8 rows each


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (the OPTIMIZE half of table
    maintenance): the {ZNB} z-order buckets of `zorder_layout` stand
    in for data files; files are assigned IN KEY ORDER to rewrite
    groups by cumulative row count (group = cum_before div target,
    target = total/{COMPACT_GROUPS}) — key-adjacent merging, so the
    rewrite preserves the clustering the layout bought. A group is
    worth rewriting iff it holds >1 file and at least one file is
    under a quarter of target (the small-file trigger every
    lakehouse compactor uses). Output: one row per planned group
    with its file count, rows, small-file count, and rewrite flag.

    Scale shape: the per-file stats are the zorder bucket aggregate
    (one scan + one {ZNB}-row hash agg); the plan itself is window
    arithmetic over {ZNB} rows — planning cost is metadata-sized, the
    defining property of a compaction planner (at 100 TB the file
    ledger is the input; the data is only touched by the rewrite
    jobs this plan emits)."""
    g = _zgrid(spark, sf_dir)
    zb = F.expr(_zvalue_sql("t16", "u16", "DIV") + f" DIV {1 << ZNB_SHIFT}")
    files = g.select(zb.cast("long").alias("file_id")).groupBy(
        "file_id"
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    wtot = Window.partitionBy()
    wcum = Window.orderBy("file_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # explicit floor() before the integer cast on BOTH sides: Spark's
    # cast(double as long) truncates but DuckDB's CAST rounds half-even
    total = F.sum("n_rows").over(wtot)
    target = F.greatest(
        F.floor(total / COMPACT_GROUPS).cast("long"), F.lit(1)
    )
    planned = files.select(
        "file_id",
        "n_rows",
        target.alias("target"),
        F.floor(F.coalesce(F.sum("n_rows").over(wcum), F.lit(0)) / target)
        .cast("long")
        .alias("group_id"),
    )
    return (
        planned.groupBy("group_id")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_rows").alias("total_rows"),
            F.sum(
                (F.col("n_rows") * 4 < F.col("target")).cast("long")
            ).alias("n_small_files"),
        )
        .select(
            "group_id",
            "n_files",
            "total_rows",
            "n_small_files",
            ((F.col("n_files") > 1) & (F.col("n_small_files") > 0)).alias(
                "rewrite"
            ),
        )
    )


SQL_COMPACTION_PLAN = f"""
WITH stats AS MATERIALIZED (
  SELECT min(epoch_us(ts)) AS mnt, max(epoch_us(ts)) AS mxt,
         min(user_id) AS mnu, max(user_id) AS mxu
  FROM events
),
g AS (
  SELECT {_grid16_sql('epoch_us(ts)', 'mnt', 'mxt', '//')} AS t16,
         {_grid16_sql('user_id', 'mnu', 'mxu', '//')} AS u16
  FROM events CROSS JOIN stats
),
files AS (
  SELECT CAST({_zvalue_sql('t16', 'u16', '//')} // {1 << ZNB_SHIFT} AS BIGINT)
           AS file_id,
         count(*) AS n_rows
  FROM g GROUP BY 1
),
planned AS (
  SELECT file_id, n_rows,
         greatest(CAST(floor(sum(n_rows) OVER () / {COMPACT_GROUPS})
                       AS BIGINT), 1) AS target,
         CAST(floor(coalesce(sum(n_rows) OVER (ORDER BY file_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              / greatest(CAST(floor(sum(n_rows) OVER () / {COMPACT_GROUPS})
                              AS BIGINT), 1)) AS BIGINT) AS group_id
  FROM files
)
SELECT group_id,
       count(*) AS n_files,
       CAST(sum(n_rows) AS BIGINT) AS total_rows,
       CAST(sum(CASE WHEN n_rows * 4 < target THEN 1 ELSE 0 END) AS BIGINT)
         AS n_small_files,
       count(*) > 1
         AND sum(CASE WHEN n_rows * 4 < target THEN 1 ELSE 0 END) > 0
         AS rewrite
FROM planned GROUP BY group_id
"""



QUERIES = {
    "ticks_normalize": Query(q_ticks_normalize, SQL_TICKS_NORMALIZE),
    "zorder_layout": Query(q_zorder_layout, SQL_ZORDER_LAYOUT),
    "compaction_plan": Query(q_compaction_plan, SQL_COMPACTION_PLAN),
    "return_moments": Query(q_return_moments, SQL_RETURN_MOMENTS),
    "scd2_versions": Query(q_scd2_versions, SQL_SCD2_VERSIONS),
    # the incremental apply must be indistinguishable from rebuilding:
    # same oracle as the batch build, over ALL events
    "scd2_incremental": Query(q_scd2_incremental, SQL_SCD2_VERSIONS),
    "funnel_conversion": Query(q_funnel_conversion, SQL_FUNNEL_CONVERSION),
    "cohort_retention": Query(q_cohort_retention, SQL_COHORT_RETENTION),
    "event_transitions": Query(q_event_transitions, SQL_EVENT_TRANSITIONS),
    "robust_outliers": Query(q_robust_outliers, SQL_ROBUST_OUTLIERS),
    "cusum_alarm": Query(q_cusum_alarm, SQL_CUSUM_ALARM),
    "volume_hhi": Query(q_volume_hhi, SQL_VOLUME_HHI),
    "session_paths": Query(q_session_paths, SQL_SESSION_PATHS),
    "sessionize": Query(q_sessionize, SQL_SESSIONIZE),
    "delta_zscore": Query(q_delta_zscore, SQL_DELTA_ZSCORE),
    "cvd": Query(q_cvd, SQL_CVD),
    "volume_factor": Query(q_volume_factor, SQL_VOLUME_FACTOR),
    "rolling_corr": Query(q_rolling_corr, SQL_ROLLING_CORR),
}
