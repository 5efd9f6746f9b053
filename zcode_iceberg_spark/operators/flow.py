"""Order-flow operators (SURVEY.md E3-E6): taker delta, delta z-score,
CVD, volume-rate factor.

These are the reference's namesake analytics — per decision tick it
sums taker buy/sell volume over a trailing 10 s window and z-scores the
delta against a trailing population of ≤3000 observations using
*population* std (reference strategy.py:1000-1043; CVD
aether_oracle.py:123-153; volume factor data_manager.py:1006-1035).

Spark-first design: everything is a window expression over event time —
conditional sums with RANGE frames (time windows) and ROWS frames
(count-bounded populations), partitioned by the stream key so each key
computes independently and in parallel. No shuffles beyond the single
hash partition by key; no UDFs; fully codegen'd.

Scale: a RANGE frame over a trailing T-second window holds only the
rows inside the window in the per-partition frame buffer — memory is
O(rows-in-window) per key, independent of total history, so the same
plan holds at 100 TB provided keys are well-distributed (salt hot keys
upstream if one symbol dominates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from zcode_iceberg_spark.functions.scalar import clamp
from zcode_iceberg_spark.sources.tables import ts_micros as _us

KEY = "user_id"


def taker_delta(ticks: DataFrame, window_sec: int = 600) -> DataFrame:
    """Trailing conditional sums: buy_vol, sell_vol, delta (E3).

    Reference computes buy=Σqty where taker bought, sell=Σqty where
    taker sold, over the last 10 s (strategy.py:1000-1021); here the
    window is a parameter (default 600 s for the sparser events table).
    """
    w = (
        Window.partitionBy(KEY)
        .orderBy(_us())
        .rangeBetween(-window_sec * 1_000_000, 0)
    )
    buy = F.sum(F.when(F.col("is_buy"), F.col("qty")).otherwise(F.lit(0.0))).over(w)
    sell = F.sum(F.when(~F.col("is_buy"), F.col("qty")).otherwise(F.lit(0.0))).over(w)
    return ticks.withColumns(
        {
            "buy_vol": buy,
            "sell_vol": sell,
            "delta": buy - sell,
        }
    )


def delta_zscore(
    ticks: DataFrame,
    window_sec: int = 600,
    pop_rows: int = 50,
    min_pop: int = 30,
) -> DataFrame:
    """Z-score of the taker delta vs a trailing count-bounded population
    using population variance (E4; reference strategy.py:1022-1043 —
    deque(maxlen=3000), ``/n`` variance, min 30 observations, z=0 when
    the population is too small or flat).

    ROWS frame is ordered by (ts, event_id) for determinism under
    timestamp ties.
    """
    deltas = taker_delta(ticks, window_sec)
    wpop = (
        Window.partitionBy(KEY)
        .orderBy("ts", "event_id")
        .rowsBetween(-(pop_rows - 1), 0)
    )
    mu = F.avg("delta").over(wpop)
    sigma = F.stddev_pop("delta").over(wpop)
    n = F.count("delta").over(wpop)
    z = F.when(
        (n >= min_pop) & (sigma > 0), (F.col("delta") - mu) / sigma
    ).otherwise(F.lit(0.0))
    return deltas.withColumns({"delta_mean": mu, "delta_std": sigma, "pop_n": n, "z": z})


def cvd(ticks: DataFrame, window_sec: int = 3600) -> DataFrame:
    """Normalized cumulative volume delta over a trailing window,
    clamped to [-1, 1] (E6; reference aether_oracle.py:123-153:
    ``(buy-sell)/(buy+sell)`` with zero-total guard → 0)."""
    d = taker_delta(ticks, window_sec)
    total = F.col("buy_vol") + F.col("sell_vol")
    return d.withColumn(
        "cvd",
        F.when(total > 0, clamp(F.col("delta") / total, -1.0, 1.0)).otherwise(
            F.lit(0.0)
        ),
    )


def volume_factor(
    ticks: DataFrame,
    recent_sec: int = 3600,
    baseline_sec: int = 86400,
    lo: float = 0.5,
    hi: float = 2.0,
) -> DataFrame:
    """Volume-rate ratio: (recent qty/sec) / (baseline qty/sec), clamped
    (E5; reference data_manager.py:1006-1035,1109-1139 compares a 60 s
    rate against a 900 s rate and clamps to [0.5, 2]).

    Both sums share one window spec family → Spark computes them in a
    single Window physical operator, one pass per key.
    """

    def trailing_sum(sec: int):
        w = Window.partitionBy(KEY).orderBy(_us()).rangeBetween(-sec * 1_000_000, 0)
        return F.sum("qty").over(w)

    recent_rate = trailing_sum(recent_sec) / F.lit(float(recent_sec))
    base_rate = trailing_sum(baseline_sec) / F.lit(float(baseline_sec))
    return ticks.withColumn(
        "vol_factor",
        F.when(base_rate > 0, clamp(recent_rate / base_rate, lo, hi)).otherwise(
            F.lit(1.0)
        ),
    )


def sessionize(ticks: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per key: a session closes after `gap` of
    inactivity (Spark ``session_window`` — merging windows in one
    shuffle on the key; in streaming mode the same expression runs
    with a watermark bounding state).

    The reference's analog is the WebSocket-staleness boundary (SURVEY
    H9, main.py:44 — 20 s idle splits the stream into live sessions);
    for a training pipeline this is the canonical user-sessionization
    op. Output: one row per (key, session) with start/end (end = last
    event, i.e. window end minus the gap), event count, and volume.
    """
    w = F.session_window("ts", gap)
    return (
        ticks.groupBy("user_id", w.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("qty").alias("volume"),
            F.sum(F.when(F.col("is_buy"), F.col("qty")).otherwise(0.0)).alias(
                "buy_volume"
            ),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            (F.col("w.end") - F.expr(f"INTERVAL {gap}")).alias("session_end"),
            "n_events",
            "volume",
            "buy_volume",
        )
    )
