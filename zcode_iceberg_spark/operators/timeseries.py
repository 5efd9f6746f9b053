"""Time-series operators (SURVEY.md E5, E7-E12, F2-F4): OHLC resample,
ATR, realized volatility, liquidity velocity, Hurst exponent,
break-of-structure alignment, cumulative sums.

The reference computes these per decision tick by re-scanning its
in-memory deques with pandas/NumPy (data_manager.py:721-833,
aether_oracle.py:77-250). Spark-first re-expression:

- OHLC bars are a tumbling-window hash aggregate (`F.window`) — the
  partial/final agg pattern shuffles one row per (key, bucket), which
  is what survives at 100 TB (map-side combine collapses ticks early).
- Bar-level indicators (ATR, BOS) are window functions OVER the bar
  table — a far smaller relation than raw ticks (1 row/key/minute), so
  the sort under the window is cheap no matter the raw volume.
- Tick-level indicators (returns, realized vol, Hurst, liquidity
  velocity) are window frames partitioned by key — one shuffle per
  distinct window-spec family; frames are bounded (ROWS/RANGE) so
  per-key state stays O(window), never O(history).
- Open/close use min_by/max_by on a (ts, id) struct — deterministic
  under timestamp ties, unlike first/last on an unsorted aggregate.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from zcode_iceberg_spark.sources.tables import ts_micros as _us

KEY = "user_id"


def ohlc_bars(ticks: DataFrame, minutes: int = 60) -> DataFrame:
    """E8: tumbling OHLCV bars per key.

    open/close = price at min/max (ts, event_id) — deterministic
    tie-break (reference resamples with pandas first/last over a
    time-sorted frame, data_manager.py:788-801).
    Output: (user_id, bar_ts, open, high, low, close, volume, n_ticks).
    """
    dur = f"{minutes} minutes"
    tie = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ticks.groupBy(KEY, F.window("ts", dur).alias("w"))
        .agg(
            F.min_by("price", tie).alias("open"),
            F.max("price").alias("high"),
            F.min("price").alias("low"),
            F.max_by("price", tie).alias("close"),
            F.sum("qty").alias("volume"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .select(KEY, F.col("w.start").alias("bar_ts"), "open", "high", "low", "close", "volume", "n_ticks")
    )


def atr(bars: DataFrame, n: int = 14) -> DataFrame:
    """E9: Average True Range over OHLC bars.

    TR = max(h−l, |h−prev_close|, |l−prev_close|); ATR = mean of the
    trailing N TRs; atr_pct = ATR / close (reference
    data_manager.py:774-833, ATR_PERIOD=14). First bar's TR falls back
    to h−l (no prev close), matching the reference's dropna+seed.
    """
    w = Window.partitionBy(KEY).orderBy("bar_ts")
    prev_close = F.lag("close").over(w)
    tr = F.when(
        prev_close.isNull(), F.col("high") - F.col("low")
    ).otherwise(
        F.greatest(
            F.col("high") - F.col("low"),
            F.abs(F.col("high") - prev_close),
            F.abs(F.col("low") - prev_close),
        )
    )
    wn = Window.partitionBy(KEY).orderBy("bar_ts").rowsBetween(-(n - 1), 0)
    out = bars.withColumn("tr", tr)
    out = out.withColumn("atr", F.avg("tr").over(wn))
    return out.withColumn(
        "atr_pct",
        F.when(F.col("close") > 0, F.col("atr") / F.col("close")).otherwise(F.lit(0.0)),
    )


def gap_fill(bars: DataFrame, minutes: int = 60) -> DataFrame:
    """E8 extension: dense calendar spine + forward fill over sparse
    bars (the `time_bucket_gapfill`/`locf` shape every chart and
    bar-indexed indicator consumer needs — the reference's resampled
    klines implicitly assume a continuous series, data_manager.py:
    788-801, but thin hours produce holes).

    Shape: per-key (min, max) bar range is a tiny aggregate; the spine
    is a per-key ``F.sequence`` explode bounded by that key's active
    range (rows = keys × buckets, generated map-side after the small
    agg — no driver-side calendar). The left join back onto bars is an
    equi-join on (key, bucket); the forward fill is one
    ``last(ignorenulls)`` window pass, the same single sort the bar
    indicators already pay. At 100 TB the spine is dwarfed by the tick
    table the bars collapsed from.

    Output: every (key, bucket) in the key's range with
    ``close_ff`` (last observed close), ``is_gap`` flag, zeroed
    volume/n_ticks for synthesized rows.
    """
    step = F.expr(f"interval {minutes} minutes")
    rng = bars.groupBy(KEY).agg(
        F.min("bar_ts").alias("t0"), F.max("bar_ts").alias("t1")
    )
    spine = rng.select(
        KEY, F.explode(F.sequence("t0", "t1", step)).alias("bar_ts")
    )
    j = spine.join(bars, [KEY, "bar_ts"], "left")
    w = (
        Window.partitionBy(KEY)
        .orderBy("bar_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        KEY,
        "bar_ts",
        F.last("close", ignorenulls=True).over(w).alias("close_ff"),
        F.col("close").isNull().alias("is_gap"),
        F.coalesce("volume", F.lit(0.0)).alias("volume"),
        F.coalesce("n_ticks", F.lit(0)).cast("bigint").alias("n_ticks"),
    )


def realized_vol(ticks: DataFrame, scale_ticks: int = 60) -> DataFrame:
    """E10: realized volatility of tick returns per key.

    returns = Δp/p_prev; σ_pop(returns) · √scale (reference
    data_manager.py:747-772 — np.std is POPULATION std, hence
    stddev_pop here, a deliberate divergence from Spark's sample
    default; SURVEY §7 'what's hard').
    Output one row per key (global agg over the key's ticks).
    """
    w = Window.partitionBy(KEY).orderBy("ts", "event_id")
    prev = F.lag("price").over(w)
    ret = F.when(prev > 0, (F.col("price") - prev) / prev)
    with_ret = ticks.withColumn("ret", ret)
    return (
        with_ret.filter(F.col("ret").isNotNull())
        .groupBy(KEY)
        .agg(
            F.stddev_pop("ret").alias("ret_std"),
            F.count("ret").alias("n_returns"),
        )
        .withColumn(
            "realized_vol", F.col("ret_std") * F.sqrt(F.lit(float(scale_ticks)))
        )
    )


def liquidity_velocity(
    ticks: DataFrame, windows_sec: tuple[int, ...] = (3600, 21600, 86400)
) -> DataFrame:
    """E7: liquidity velocity LV = Σqty / (Σ|Δprice| + ε) at three
    trailing timeframes + micro-trap flag (LV_fast > 1.5 · LV_mid)
    (reference aether_oracle.py:77-121: 60/300/900 s; scaled here to
    the sparser events cadence).

    All six windowed sums share one partition/order spec family →
    single sort, multiple frames.
    """
    wseq = Window.partitionBy(KEY).orderBy("ts", "event_id")
    dp = F.abs(F.col("price") - F.lag("price").over(wseq))
    t = ticks.withColumn("abs_dp", F.coalesce(dp, F.lit(0.0)))
    out = {}
    for sec in windows_sec:
        w = Window.partitionBy(KEY).orderBy(_us()).rangeBetween(-sec * 1_000_000, 0)
        out[f"lv_{sec}"] = F.sum("qty").over(w) / (
            F.sum("abs_dp").over(w) + F.lit(1e-9)
        )
    t = t.withColumns(out)
    fast, mid = f"lv_{windows_sec[0]}", f"lv_{windows_sec[1]}"
    return t.withColumn("micro_trap", F.col(fast) > 1.5 * F.col(mid))


def hurst(ticks: DataFrame, n_last: int = 20) -> DataFrame:
    """E11: Hurst exponent via rescaled range over each key's last N
    ticks: demean, cumulative deviation, H = log(R/S)/log(n)
    (reference aether_oracle.py:155-186). Neutral 0.5 when R/S is
    degenerate (flat series).

    Two passes over an N-row-per-key slice: (1) rank+filter to last N,
    (2) mean broadcast back, (3) running cumsum + minmax/std agg. The
    slice is tiny per key, so the cumsum window is bounded.
    """
    wdesc = Window.partitionBy(KEY).orderBy(F.col("ts").desc(), F.col("event_id").desc())
    last_n = ticks.withColumn("rn", F.row_number().over(wdesc)).filter(
        F.col("rn") <= n_last
    )
    means = last_n.groupBy(KEY).agg(
        F.avg("price").alias("mu"), F.count(F.lit(1)).alias("n")
    )
    j = last_n.join(F.broadcast(means), KEY)
    wcum = (
        Window.partitionBy(KEY)
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dev = j.withColumn("cumdev", F.sum(F.col("price") - F.col("mu")).over(wcum))
    agg = dev.groupBy(KEY).agg(
        (F.max("cumdev") - F.min("cumdev")).alias("r"),
        F.stddev_pop("cumdev").alias("s"),
        F.max("n").alias("n"),
    )
    h = F.when(
        (F.col("r") > 0) & (F.col("s") > 0) & (F.col("n") >= 10),
        F.log(F.col("r") / F.col("s")) / F.log(F.col("n").cast("double")),
    ).otherwise(F.lit(0.5))
    return agg.withColumn("hurst", h).select(KEY, "n", "r", "s", "hurst")


def bos_alignment(bars: DataFrame, lookback: int = 5, last_n: int = 10) -> DataFrame:
    """E12: break-of-structure score per key — fraction of the last N
    bars whose close breaks the prior `lookback` bars' high/low
    (reference aether_oracle.py:188-250: per-TF break fraction, then
    averaged across TFs by the caller).
    """
    w = Window.partitionBy(KEY).orderBy("bar_ts")
    prior_hi = F.max("high").over(w.rowsBetween(-lookback, -1))
    prior_lo = F.min("low").over(w.rowsBetween(-lookback, -1))
    flagged = bars.withColumns(
        {
            "break_up": (F.col("close") > prior_hi),
            "break_dn": (F.col("close") < prior_lo),
        }
    )
    wdesc = Window.partitionBy(KEY).orderBy(F.col("bar_ts").desc())
    recent = flagged.withColumn("rn", F.row_number().over(wdesc)).filter(
        (F.col("rn") <= last_n) & F.col("break_up").isNotNull()
    )
    return recent.groupBy(KEY).agg(
        F.avg(
            F.when(F.col("break_up") | F.col("break_dn"), 1.0).otherwise(0.0)
        ).alias("bos_score"),
        F.avg(F.when(F.col("break_up"), 1.0).otherwise(0.0)).alias("bos_up"),
        F.avg(F.when(F.col("break_dn"), 1.0).otherwise(0.0)).alias("bos_dn"),
        F.count(F.lit(1)).alias("n_bars"),
    )


def ema(ticks: DataFrame, span: int = 20, value: str = "price") -> DataFrame:
    """F1: exponential moving average, pandas `ewm(span, adjust=False)`
    semantics — the recursion y_t = α·x_t + (1−α)·y_{t−1}, y_0 = x_0,
    α = 2/(span+1) (reference data_manager.py:721-745, EMA_PERIOD=20).

    No Catalyst builtin is recursive, so: collect the trailing
    3·span values into a bounded array (the reference itself truncates
    to the last 3·period points — data_manager.py:736-737, so this is
    semantics-faithful, not an approximation) and fold with
    ``F.aggregate`` — pure JVM expression, no Python UDF, no extra
    shuffle beyond the window sort. Memory per row is O(3·span).
    """
    alpha = 2.0 / (span + 1.0)
    w = (
        Window.partitionBy(KEY)
        .orderBy("ts", "event_id")
        .rowsBetween(-(3 * span - 1), 0)
    )
    vals = F.collect_list(value).over(w)
    fold = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1).cast("double"),
        lambda acc, x: F.lit(alpha) * x + F.lit(1.0 - alpha) * acc,
    )
    return ticks.withColumn("ema", fold)


def sequence_windows(
    ticks: DataFrame,
    seq_len: int = 10,
    horizon: int = 5,
    up_thresh: float = 5e-4,
    dn_thresh: float = -5e-4,
) -> DataFrame:
    """F5+I2: sliding sequence windows + future-return labels — the
    LSTM training-dataset operator (reference data_manager.py:839-884:
    features = last L closes z-normalized per window; label from the
    mean of the next H returns vs ±thresh → UP/DOWN/RANGE).

    Spark shape: one trailing ROWS frame for the feature sequence
    (collect_list), one LEAD frame for the future mean — both on the
    same (key, ts) sort, so a single window exchange serves all four
    frames. Rows lacking a full trailing sequence or any future data
    are dropped (the reference skips them too).
    """
    wseq = Window.partitionBy(KEY).orderBy("ts", "event_id")
    wpast = wseq.rowsBetween(-(seq_len - 1), 0)
    wfut = wseq.rowsBetween(1, horizon)
    prev = F.lag("price").over(wseq)
    ret = F.when(prev > 0, (F.col("price") - prev) / prev)
    t = ticks.withColumn("ret", ret)
    t = t.withColumns(
        {
            "seq": F.collect_list("price").over(wpast),
            "seq_mean": F.avg("price").over(wpast),
            "seq_std": F.stddev_pop("price").over(wpast),
            "fut_mean_ret": F.avg("ret").over(wfut),
            "n_fut": F.count("ret").over(wfut),
        }
    )
    t = t.filter((F.size("seq") == seq_len) & (F.col("n_fut") >= 1))
    label = (
        F.when(F.col("fut_mean_ret") > up_thresh, "UP")
        .when(F.col("fut_mean_ret") < dn_thresh, "DOWN")
        .otherwise("RANGE")
    )
    norm_seq = F.when(
        F.col("seq_std") > 0,
        F.transform(F.col("seq"), lambda x: (x - F.col("seq_mean")) / F.col("seq_std")),
    ).otherwise(F.transform(F.col("seq"), lambda x: F.lit(0.0)))
    return t.withColumns({"label": label, "norm_seq": norm_seq})


# Fixed logistic weights for the deterministic trend classifier (I1
# test-mode substitute): a linear ramp favoring recent momentum —
# w_i = (i − (L−1)/2) / L over the normalized sequence.
def trend_classifier(
    seqs: DataFrame, seq_len: int = 10, band: float = 0.25
) -> DataFrame:
    """I1 substitute: deterministic logistic trend classifier over the
    normalized price sequences (reference TrendLSTM,
    data_manager.py:34-61,931-965 — torch is not available in this
    container, and SURVEY §7 prescribes a deterministic substitute so
    the surface stays oracle-checkable; the real-model seam is a
    broadcast-weights pandas_udf with identical I/O).

    score = σ(Σ wᵢ·norm_seqᵢ); UP if score > 0.5+band, DOWN if
    < 0.5−band, else RANGE — mirroring the 3-class head + hysteresis
    band."""
    weights = [(i - (seq_len - 1) / 2.0) / seq_len for i in range(seq_len)]
    warr = F.array(*[F.lit(w) for w in weights])
    z = F.aggregate(
        F.zip_with(F.col("norm_seq"), warr, lambda x, w: x * w),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    pred = (
        F.when(score > 0.5 + band, "UP")
        .when(score < 0.5 - band, "DOWN")
        .otherwise("RANGE")
    )
    return seqs.withColumns({"trend_score": score, "trend_pred": pred})


def trend_classifier_udf(
    seqs: DataFrame, seq_len: int = 10, band: float = 0.25
) -> DataFrame:
    """I1 real-model seam: the SAME classifier as `trend_classifier`
    but scored through an Iterator-of-Series pandas_udf with the
    weight vector broadcast once per executor — the exact shape a
    trained model (torch/onnx weights) plugs into (reference predict
    path data_manager.py:931-965). Arrow-batched, model loaded once
    per worker (outside the batch loop), never per row.

    Kept alongside the expression form so the suite can assert both
    paths agree bit-for-bit — swap the `np.dot` line for a real
    forward pass and nothing else changes.
    """
    from pyspark.sql.functions import pandas_udf

    spark = seqs.sparkSession
    weights = [(i - (seq_len - 1) / 2.0) / seq_len for i in range(seq_len)]
    bw = spark.sparkContext.broadcast(np.asarray(weights))

    @pandas_udf("double")
    def score_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        w = bw.value  # "model load": once per worker, not per batch
        for seq_batch in it:
            m = np.vstack(seq_batch.to_numpy())
            z = m @ w
            yield pd.Series(1.0 / (1.0 + np.exp(-z)))

    out = seqs.withColumn("trend_score", score_udf(F.col("norm_seq")))
    pred = (
        F.when(F.col("trend_score") > 0.5 + band, "UP")
        .when(F.col("trend_score") < 0.5 - band, "DOWN")
        .otherwise("RANGE")
    )
    return out.withColumn("trend_pred", pred)


DEFAULT_WEIGHTS_PATH = str(
    __import__("pathlib").Path(__file__).resolve().parent.parent
    / "models" / "trend_lstm_weights.npz"
)


def load_trend_weights(path: str | None = None) -> dict[str, np.ndarray]:
    """Load an externally-trained weight blob (npz of named arrays —
    the export format of the reference TrendLSTM's state dict,
    data_manager.py:34-61 shapes; see tools/make_weights.py for the
    committed fixture). One small file read on the DRIVER; the arrays
    ship to executors via a broadcast, never per task."""
    loaded = np.load(path or DEFAULT_WEIGHTS_PATH)
    return {k: loaded[k] for k in loaded.files}


def trend_classifier_external(
    seqs: DataFrame,
    weights_path: str | None = None,
    band: float = 0.25,
) -> DataFrame:
    """I1 external-weights path: score the normalized sequences with
    the weight blob's linear-probe head through the broadcast-weights
    pandas_udf seam — identical plumbing to ``trend_classifier_udf``
    but the parameters come from a FILE a training job produced, not
    from code. z folds left-to-right term by term (vectorized across
    rows, sequential across the 10 terms) so the float64 stream
    matches a SQL ``list_reduce`` fold bit-for-bit — what keeps the
    oracle hash green at round(6)."""
    from pyspark.sql.functions import pandas_udf

    w = load_trend_weights(weights_path)
    probe_w = np.asarray(w["probe_w"], dtype=np.float64)
    probe_b = float(w["probe_b"])
    bw = seqs.sparkSession.sparkContext.broadcast((probe_w, probe_b))

    @pandas_udf("double")
    def score_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        pw, pb = bw.value  # model load: once per worker
        for seq_batch in it:
            m = np.vstack(seq_batch.to_numpy())
            z = np.zeros(m.shape[0], dtype=np.float64)
            for i in range(pw.shape[0]):  # sequential fold, SQL order
                z = z + m[:, i] * pw[i]
            z = z + pb
            yield pd.Series(1.0 / (1.0 + np.exp(-z)))

    out = seqs.withColumn("trend_score", score_udf(F.col("norm_seq")))
    pred = (
        F.when(F.col("trend_score") > 0.5 + band, "UP")
        .when(F.col("trend_score") < 0.5 - band, "DOWN")
        .otherwise("RANGE")
    )
    return out.withColumn("trend_pred", pred)


TRAIN_ITERS = 8
TRAIN_LR = 0.5
_P_EPS = 1e-12  # probability clamp so log-loss never hits log(0)


def train_trend_probe(
    seqs: DataFrame,
    seq_len: int = 10,
    iters: int = TRAIN_ITERS,
    lr: float = TRAIN_LR,
) -> tuple[np.ndarray, float, list[dict]]:
    """H10's train-once half: fit the linear-probe trend head (UP vs
    rest) by full-batch gradient descent run AS SPARK AGGREGATES — the
    canonical distributed-training shape (reference train path:
    data_manager.py:886-965, torch loop; here each epoch is one job).

    Per iteration: broadcast the current (w, b) as literals, one pass
    over the cached feature frame computes ``Σ (σ(w·x+b) − y)·xᵢ``
    for every i plus the bias gradient and the log-loss — all
    map-side partial aggregates, 12 longs per partition crossing the
    wire. The driver applies the update; no data ever leaves the
    executors. Every sum quantizes to integer MICRO-UNITS before
    aggregation, so the gradients — and therefore the whole training
    trajectory — are bit-deterministic under any partitioning
    (the float-determinism discipline the k-means/PageRank loops use).

    Feature frame: ``norm_seq`` exploded to x0..x{seq_len-1} columns +
    y = 1 iff label == 'UP', persisted once; per-iteration cost is one
    pass over the cache. Returns (weights, bias, history) where
    history rows carry the pre-update loss and post-update weights.
    """
    from pyspark import StorageLevel

    # coalesce the post-window partitioning down to core count before
    # caching: every epoch re-scans this cache, so its partition count
    # is per-epoch task-scheduling overhead (200 shuffle partitions ×
    # 8 epochs of sub-ms aggregate tasks is pure dispatch cost)
    feats = (
        seqs.select(
            *[F.col("norm_seq")[i].alias(f"x{i}") for i in range(seq_len)],
            (F.col("label") == "UP").cast("double").alias("y"),
        )
        .coalesce(seqs.sparkSession.sparkContext.defaultParallelism)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n = feats.count()
    if n == 0:
        feats.unpersist()
        raise ValueError(
            "train_trend_probe: no training rows — the input has no "
            f"complete length-{seq_len} sequences"
        )
    w = [0.0] * seq_len
    b = 0.0
    history: list[dict] = []
    for it in range(1, iters + 1):
        z = F.lit(b)
        for i in range(seq_len):
            z = z + F.col(f"x{i}") * F.lit(w[i])
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        pc = F.least(F.greatest(p, F.lit(_P_EPS)), F.lit(1.0 - _P_EPS))
        err = p - F.col("y")
        aggs = [
            F.sum(F.round(err * F.col(f"x{i}") * 1e6).cast("bigint")).alias(
                f"g{i}"
            )
            for i in range(seq_len)
        ]
        aggs.append(F.sum(F.round(err * 1e6).cast("bigint")).alias("gb"))
        aggs.append(
            F.sum(
                F.round(
                    -(
                        F.col("y") * F.log(pc)
                        + (F.lit(1.0) - F.col("y")) * F.log(F.lit(1.0) - pc)
                    )
                    * 1e6
                ).cast("bigint")
            ).alias("loss_micro")
        )
        row = feats.agg(*aggs).collect()[0]
        w = [w[i] - lr * row[f"g{i}"] / (1e6 * n) for i in range(seq_len)]
        b = b - lr * row["gb"] / (1e6 * n)
        history.append(
            {"iter": it, "loss_micro": int(row["loss_micro"]),
             "w": list(w), "b": b}
        )
    feats.unpersist()
    return np.asarray(w), b, history


def save_trained_probe(
    weights: np.ndarray, bias: float, path: str
) -> str:
    """Persist trained probe parameters as the same npz contract the
    external-weights seam loads (H10 model-state persistence: train
    once, write the blob, every scoring job broadcasts it)."""
    np.savez(path if path.endswith(".npz") else path + ".npz",
             probe_w=np.asarray(weights), probe_b=np.asarray(bias))
    return path if path.endswith(".npz") else path + ".npz"


def lstm_trend_scores(
    seqs: DataFrame, weights_path: str | None = None
) -> DataFrame:
    """Full LSTM forward pass through the SAME seam: the reference's
    TrendLSTM (data_manager.py:34-61; HTF 1→64×2, LTF 1→32×1 — the
    layer count is read from the blob's own keys) run as vectorized
    numpy on the executors — broadcast weights, Arrow batches, gates
    in the torch [i|f|g|o] row layout — plus the fc hidden→3 head and
    softmax. Output columns p_up/p_down/p_range follow the TRAINED
    class ids (0=UP, 1=DOWN, 2=RANGE — build_lstm_dataset labels,
    reference data_manager.py:839-884), and trend_pred is the argmax
    with torch's first-max-wins tie-break over that id order. The
    committed fixture proves the I/O contract (shape round-trip +
    determinism, tests/test_udf_seam.py), not model quality. The
    64×2 forward is not economically SQL-expressible; the seam's
    bit-exactness is hash-oracled by the micro-shaped
    ``lstm_trend_micro`` registry query instead."""
    from pyspark.sql.functions import pandas_udf

    w = load_trend_weights(weights_path)
    n_layers = sum(1 for k in w if k.startswith("weight_ih_l"))
    bw = seqs.sparkSession.sparkContext.broadcast((w, n_layers))

    def _forward(
        m: np.ndarray, w: dict[str, np.ndarray], n_layers: int
    ) -> np.ndarray:
        """(rows, seq_len) normalized sequences → (rows, 3) probs."""
        n, seq_len = m.shape
        x = m[:, :, None]  # input_size = 1
        for layer in range(n_layers):
            wi = w[f"weight_ih_l{layer}"]
            wh = w[f"weight_hh_l{layer}"]
            b = w[f"bias_ih_l{layer}"] + w[f"bias_hh_l{layer}"]
            hidden = wh.shape[1]
            h = np.zeros((n, hidden))
            c = np.zeros((n, hidden))
            outs = np.empty((n, seq_len, hidden))
            for t in range(seq_len):
                gates = x[:, t, :] @ wi.T + h @ wh.T + b
                i_g, f_g, g_g, o_g = np.split(gates, 4, axis=1)
                i_g = 1.0 / (1.0 + np.exp(-i_g))
                f_g = 1.0 / (1.0 + np.exp(-f_g))
                o_g = 1.0 / (1.0 + np.exp(-o_g))
                c = f_g * c + i_g * np.tanh(g_g)
                h = o_g * np.tanh(c)
                outs[:, t, :] = h
            x = outs
        logits = h @ w["fc_weight"].T + w["fc_bias"]
        e = np.exp(logits - logits.max(axis=1, keepdims=True))
        return e / e.sum(axis=1, keepdims=True)

    @pandas_udf("p_up double, p_down double, p_range double")
    def probs_udf(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        wts, nl = bw.value  # once per worker
        for seq_batch in it:
            p = _forward(np.vstack(seq_batch.to_numpy()), wts, nl)
            # trained class ids: 0=UP, 1=DOWN, 2=RANGE
            yield pd.DataFrame(
                {"p_up": p[:, 0], "p_down": p[:, 1], "p_range": p[:, 2]}
            )

    out = seqs.withColumn("probs", probs_udf(F.col("norm_seq"))).select(
        "*", "probs.*"
    ).drop("probs")
    cls = (
        F.when(
            (F.col("p_up") >= F.col("p_down"))
            & (F.col("p_up") >= F.col("p_range")),
            "UP",
        )
        .when(F.col("p_down") >= F.col("p_range"), "DOWN")
        .otherwise("RANGE")
    )
    return out.withColumn("trend_pred", cls)


def cumulative_sum(df: DataFrame, value: str, order: list[str]) -> DataFrame:
    """F3/E14: running total in a deterministic order (reference
    cumulative P&L, zscore_excel_logger.py:330-343)."""
    w = (
        Window.partitionBy(KEY)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(f"cum_{value}", F.sum(value).over(w))


# ------------------------------------------------------------------ holt

HOLT_Q10 = "1E-10"  # state lattice (matches the suite's DECIMAL(28,10))


def holt_step_dec(level, trend, x):
    """One Holt's-linear step in EXACT decimal arithmetic — the shared
    kernel between the streaming forecaster and the batch replay test.
    Mirrors suite/timeseries.py:q_holt_forecast's Spark-decimal fold
    bit-for-bit: DECIMAL(2,1) constants, per-step HALF_UP quantization
    to the 1e-10 lattice (Python Decimal HALF_UP == Spark decimal
    round == DuckDB decimal round: all away-from-zero on ties).

    (level, trend) are Decimals or None (no state yet); x is the
    bar's close as a Decimal. Returns (level', trend', fitted)."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(HOLT_Q10)
    a, b = Decimal("0.5"), Decimal("0.3")
    if level is None:
        return x, Decimal(0), x
    fitted = level + trend
    l2 = (a * x + (1 - a) * (level + trend)).quantize(
        q, rounding=ROUND_HALF_UP
    )
    t2 = (b * (l2 - level) + (1 - b) * trend).quantize(
        q, rounding=ROUND_HALF_UP
    )
    return l2, t2, fitted
