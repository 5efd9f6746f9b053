"""Stateful suite (SURVEY G16, H6, E13): hysteresis, position FSM,
ledger daily summary.

The hysteresis step runs per key under ``applyInPandas`` (the batch
driver of the same step its stream runs) yet still gets a full SQL
oracle: k-confirmation hysteresis is equivalent to gaps-and-islands —
a label is "confirmed" at the k-th row of a consecutive run, and the
active label at any row is the most recent confirmation event (proof
sketch in the oracle SQL comments).

The position-FSM ledger is price-path dependent (next entry depends on
the previous exit), so no windowed SQL rewrite exists — but DuckDB's
``WITH RECURSIVE`` can walk the exact transition function one row per
key per iteration (depth = max decision rows per key; bounded per the
same per-key assumption the fold itself makes). The walk carries
(qty, seq, side, entry_ts, entry_price) and emits closed trades as
columns on the closing row; EOD closes come from the final state. The
daily-summary and exit-stats oracles are plain aggregations over the
same walk. Precedents: dedup_cc's recursive-CTE oracle and the
gaps-and-islands hysteresis oracle below. Python's ``round`` (banker's)
is mirrored by DuckDB ``round_even`` for the qty sizing — verified on
every distinct price at sf0.01.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from zcode_iceberg_spark.operators import flow as flow_ops
from zcode_iceberg_spark.operators import stateful as st
from zcode_iceberg_spark.sources.tables import EVENTS_TICKS_SQL, events_ticks
from zcode_iceberg_spark.suite import Query

TICKS_CTE = f"WITH ticks AS ({EVENTS_TICKS_SQL})"

CONFIRM_K = 2
Z_UP, Z_DN = 1.0, -1.0


def _decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision stream: delta z-score per tick (flow ops) + raw trend
    label from z thresholds. (A shared-repartition variant mirroring
    `_features`' subtree was A/B'd for wp_calibration: 4.4-4.9 s warm
    both ways — the FSM fold and scoring expressions dominate, not the
    tick shuffle — so the simpler shape stays.)"""
    t = events_ticks(spark, sf_dir)
    z = flow_ops.delta_zscore(t, window_sec=600, pop_rows=50, min_pop=30)
    return z.select(
        "user_id",
        "ts",
        "event_id",
        "price",
        "z",
        F.when(F.col("z") > Z_UP, "UP")
        .when(F.col("z") < Z_DN, "DOWN")
        .otherwise("RANGE")
        .alias("raw_label"),
    )


def q_trend_hysteresis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G16: k-confirmation trend flips over the z-label stream —
    applyInPandas ordered fold per key."""
    d = _decisions(spark, sf_dir)
    h = st.hysteresis(d, label_col="raw_label", confirm_k=CONFIRM_K)
    return h.select(
        "user_id", "event_id", "raw_label", "confirmed_label", "pending_count"
    )


# Oracle: gaps-and-islands equivalence of the hysteresis fold.
# A run = maximal streak of identical raw labels per key. The fold
# confirms a label exactly at run-position k (count reaches k), and
# the active label at row i is the latest confirmation event <= i
# (initial RANGE). pending_count = run position while the run's label
# differs from the active label, else 0 (positions >= k can't differ:
# position k flips the active label to the run's own).
SQL_TREND_HYSTERESIS = f"""
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
  SELECT event_id, user_id, ts, delta,
         avg(delta) OVER wp AS mu,
         stddev_pop(delta) OVER wp AS sigma,
         count(delta) OVER wp AS n
  FROM d
  WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
),
lab AS (
  SELECT event_id, user_id, ts,
         CASE WHEN (CASE WHEN n >= 30 AND sigma > 0
                         THEN (delta - mu) / sigma ELSE 0.0 END) > {Z_UP}
              THEN 'UP'
              WHEN (CASE WHEN n >= 30 AND sigma > 0
                         THEN (delta - mu) / sigma ELSE 0.0 END) < {Z_DN}
              THEN 'DOWN'
              ELSE 'RANGE' END AS raw_label
  FROM p
),
edges AS (
  SELECT *,
         CASE WHEN raw_label IS DISTINCT FROM
                   lag(raw_label) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)
              THEN 1 ELSE 0 END AS is_new
  FROM lab
),
runs AS (
  SELECT *,
         sum(is_new) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS rid
  FROM edges
),
pos AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id, rid
                            ORDER BY ts, event_id) AS run_pos
  FROM runs
),
conf AS (
  SELECT *,
         coalesce(
           last_value(CASE WHEN run_pos = {CONFIRM_K} THEN raw_label END
                      IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           'RANGE') AS confirmed_label
  FROM pos
)
SELECT user_id, event_id, raw_label, confirmed_label,
       CAST(CASE WHEN raw_label = confirmed_label THEN 0
                 ELSE run_pos END AS INTEGER) AS pending_count
FROM conf
"""


# ---------------------------------------------------------------------------
# Position-FSM oracles: a recursive CTE walks the exact fold.
#
# State per (user_id, rn): qty (sized once from the first observed
# price, banker's-rounded to 6 — round_even mirrors Python round),
# seq (closed-trade counter), side/entry_ts/entry_price (open position
# or NULLs). Row rn+1 is processed by the recursive term: flat + |z| >=
# z_entry opens; open + TP/SL/TIME closes (emitting the trade on that
# row) and goes flat — an exit row never re-enters and an entry row
# never exits, exactly like operators/stateful.py:_fsm_step. The
# still-open position at max(rn) closes at the last price as EOD. The
# policy values are the kernel's own ``FSM_POLICY``.

_FSM_Z_ENTRY, _FSM_TP, _FSM_SL, _FSM_MAX_HOLD, _FSM_MARGIN, _FSM_LEV = (
    st.FSM_POLICY[k]
    for k in ("z_entry", "tp_pct", "sl_pct", "max_hold_secs", "margin", "leverage")
)

# exit reason for the open position in walk-state `w` hit by row `r`
# (NULL while flat or while no trigger fires; TP > SL > TIME priority
# matches the kernel's elif chain)
_REASON = f"""CASE
  WHEN w.side IS NULL THEN NULL
  WHEN (r.price - w.entry_price) / w.entry_price
       * (CASE WHEN w.side = 'LONG' THEN 1.0 ELSE -1.0 END) >= {_FSM_TP}
    THEN 'TP'
  WHEN (r.price - w.entry_price) / w.entry_price
       * (CASE WHEN w.side = 'LONG' THEN 1.0 ELSE -1.0 END) <= -{_FSM_SL}
    THEN 'SL'
  WHEN (epoch_us(r.ts) - epoch_us(w.entry_ts)) / 1000000.0 >= {_FSM_MAX_HOLD}
    THEN 'TIME'
  END"""

# Production decision source: ticks -> delta -> z (identical to the
# hysteresis oracle, plus price carried through) -> decision rows
# numbered per key. The walk itself is factored over any `dec` block
# (fsm_closed_cte) so tests can inject crafted decision paths that
# exercise branches the fixtures never hit (e.g. TIME exits).
_FSM_DEC_PROD = f"""ticks AS ({EVENTS_TICKS_SQL}),
d AS (
  SELECT event_id, user_id, ts, price,
         SUM(CASE WHEN is_buy THEN qty ELSE 0.0 END) OVER w
           - SUM(CASE WHEN NOT is_buy THEN qty ELSE 0.0 END) OVER w AS delta
  FROM ticks
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
),
p AS (
  SELECT event_id, user_id, ts, price, delta,
         avg(delta) OVER wp AS mu,
         stddev_pop(delta) OVER wp AS sigma,
         count(delta) OVER wp AS n
  FROM d
  WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
),
dec AS (
  SELECT user_id, ts, event_id, price,
         CASE WHEN n >= 30 AND sigma > 0 THEN (delta - mu) / sigma
              ELSE 0.0 END AS z,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM p
)"""

_FSM_WALK_SQL = f"""walk AS (
  SELECT user_id,
         CAST(0 AS BIGINT) AS rn,
         CAST(NULL AS DOUBLE) AS qty,
         CAST(0 AS INTEGER) AS seq,
         CAST(NULL AS VARCHAR) AS side,
         CAST(NULL AS TIMESTAMP) AS entry_ts,
         CAST(NULL AS DOUBLE) AS entry_price,
         CAST(NULL AS VARCHAR) AS emit_reason,
         CAST(NULL AS VARCHAR) AS emit_side,
         CAST(NULL AS TIMESTAMP) AS emit_entry_ts,
         CAST(NULL AS DOUBLE) AS emit_entry_price,
         CAST(NULL AS TIMESTAMP) AS emit_exit_ts,
         CAST(NULL AS DOUBLE) AS emit_exit_price,
         CAST(NULL AS DOUBLE) AS emit_held
  FROM (SELECT DISTINCT user_id FROM dec)
  UNION ALL
  SELECT w.user_id, r.rn,
         coalesce(w.qty,
                  round_even({_FSM_MARGIN} * {_FSM_LEV}
                             / greatest(r.price, 1e-9), 6)) AS qty,
         CAST(w.seq + CASE WHEN ({_REASON}) IS NOT NULL
                           THEN 1 ELSE 0 END AS INTEGER) AS seq,
         CASE WHEN w.side IS NULL
              THEN CASE WHEN abs(r.z) >= {_FSM_Z_ENTRY}
                        THEN CASE WHEN r.z > 0 THEN 'LONG' ELSE 'SHORT' END
                   END
              WHEN ({_REASON}) IS NOT NULL THEN NULL
              ELSE w.side END AS side,
         CASE WHEN w.side IS NULL
              THEN CASE WHEN abs(r.z) >= {_FSM_Z_ENTRY} THEN r.ts END
              WHEN ({_REASON}) IS NOT NULL THEN NULL
              ELSE w.entry_ts END AS entry_ts,
         CASE WHEN w.side IS NULL
              THEN CASE WHEN abs(r.z) >= {_FSM_Z_ENTRY} THEN r.price END
              WHEN ({_REASON}) IS NOT NULL THEN NULL
              ELSE w.entry_price END AS entry_price,
         ({_REASON}) AS emit_reason,
         CASE WHEN ({_REASON}) IS NOT NULL THEN w.side END AS emit_side,
         CASE WHEN ({_REASON}) IS NOT NULL THEN w.entry_ts END AS emit_entry_ts,
         CASE WHEN ({_REASON}) IS NOT NULL THEN w.entry_price END
           AS emit_entry_price,
         CASE WHEN ({_REASON}) IS NOT NULL THEN r.ts END AS emit_exit_ts,
         CASE WHEN ({_REASON}) IS NOT NULL THEN r.price END AS emit_exit_price,
         CASE WHEN ({_REASON}) IS NOT NULL
              THEN (epoch_us(r.ts) - epoch_us(w.entry_ts)) / 1000000.0 END
           AS emit_held
  FROM walk w
  JOIN dec r ON r.user_id = w.user_id AND r.rn = w.rn + 1
),
closed AS (
  SELECT user_id, seq AS trade_seq, emit_side AS side,
         emit_entry_ts AS entry_ts, emit_exit_ts AS exit_ts,
         emit_entry_price AS entry_price, emit_exit_price AS exit_price,
         qty,
         (emit_exit_price - emit_entry_price)
           * (CASE WHEN emit_side = 'LONG' THEN 1.0 ELSE -1.0 END)
           * qty AS pnl,
         emit_reason AS exit_reason, emit_held AS hold_secs
  FROM walk WHERE emit_reason IS NOT NULL
  UNION ALL
  SELECT f.user_id, CAST(f.seq + 1 AS INTEGER) AS trade_seq, f.side,
         f.entry_ts, l.ts, f.entry_price, l.price, f.qty,
         (l.price - f.entry_price)
           * (CASE WHEN f.side = 'LONG' THEN 1.0 ELSE -1.0 END)
           * f.qty AS pnl,
         'EOD' AS exit_reason,
         (epoch_us(l.ts) - epoch_us(f.entry_ts)) / 1000000.0 AS hold_secs
  FROM walk f
  JOIN (SELECT user_id, max(rn) AS mrn FROM dec GROUP BY user_id) m
    ON m.user_id = f.user_id AND f.rn = m.mrn
  JOIN dec l ON l.user_id = f.user_id AND l.rn = m.mrn
  WHERE f.side IS NOT NULL
)"""


def fsm_closed_cte(dec_block: str) -> str:
    """The recursive FSM walk + closed-trades CTE chain over any
    ``dec`` block exposing (user_id, ts, event_id, price, z, rn) —
    production oracles pass the ticks→z chain; tests inject crafted
    decision paths (tests/test_stateful.py exercises every exit
    branch, including the fixtures' never-firing TIME stop)."""
    return f"WITH RECURSIVE {dec_block},\n{_FSM_WALK_SQL}"


_FSM_CLOSED_CTE = fsm_closed_cte(_FSM_DEC_PROD)

_FSM_LEDGER_SELECT = f"""
SELECT user_id, trade_seq,
       printf('ZS%04d', trade_seq) AS trade_id,
       side,
       strftime(entry_ts, '%Y-%m-%d %H:%M:%S') AS entry_ts,
       strftime(exit_ts, '%Y-%m-%d %H:%M:%S') AS exit_ts,
       round(entry_price, 6) AS entry_price,
       round(exit_price, 6) AS exit_price,
       round(qty, 6) AS qty,
       CAST(round(pnl * 1e6) AS BIGINT) / 1000000.0 AS pnl,
       CAST(round((pnl / {_FSM_MARGIN}) * 1e6) AS BIGINT) / 1000000.0 AS roi,
       exit_reason,
       round(hold_secs, 6) AS hold_secs
FROM closed
"""

SQL_POSITION_LEDGER = _FSM_CLOSED_CTE + _FSM_LEDGER_SELECT


def _ledger_rows(led: DataFrame) -> DataFrame:
    """The closed-trade ledger's output projection — the Spark twin of
    ``_FSM_LEDGER_SELECT``, shared by every FSM-ledger entry."""
    return led.select(
        "user_id",
        "trade_seq",
        F.format_string("ZS%04d", F.col("trade_seq")).alias("trade_id"),
        "side",
        F.date_format("entry_ts", "yyyy-MM-dd HH:mm:ss").alias("entry_ts"),
        F.date_format("exit_ts", "yyyy-MM-dd HH:mm:ss").alias("exit_ts"),
        F.round("entry_price", 6).alias("entry_price"),
        F.round("exit_price", 6).alias("exit_price"),
        F.round("qty", 6).alias("qty"),
        # micro-unit quantization (NOT F.round): a trade that closes at
        # exactly-zero P&L yields IEEE -0.0 on the DuckDB side under
        # round(pnl, 6) while Spark's BigDecimal route emits +0.0 —
        # numerically equal, bit-different, and the driver hash is
        # bit-sensitive (the r1-r4 position_ledger red row). The integer
        # round-trip collapses the sign on both engines, exactly like the
        # ledger's five green sibling oracles.
        (st.micro("pnl") / F.lit(1e6)).alias("pnl"),
        (st.micro("roi") / F.lit(1e6)).alias("roi"),
        "exit_reason",
        F.round("hold_secs", 6).alias("hold_secs"),
    )


def _live_dec_block() -> str:
    """The live pipeline's decision block: the production ticks→z
    chain with entries additionally GATED by the per-key signal-score
    entry decision (total > 0.75 AND win_prob > 0.6 — the reference's
    SCORE_ENTRY_THRESHOLD/WINPROB_ENTRY_THRESHOLD pair,
    strategy.py:540-545): z is masked to 0 for keys whose score gate
    is closed, so the FSM never opens there but exits still see every
    price. Composed lazily so the scoring module's CTE constants are
    only touched at registry build (the wp_calibration pattern)."""
    from zcode_iceberg_spark.suite.scoring import (
        FEATURES_CTE,
        LIVE_TOTAL_GATE,
        LIVE_WP_GATE,
        _TOTAL,
        _WP,
    )

    base = _FSM_DEC_PROD.replace("dec AS (", "dec0 AS (", 1)
    return f"""{base},
{FEATURES_CTE},
gates AS (
  SELECT user_id, (round({_TOTAL}, 6) > {LIVE_TOTAL_GATE}
                   AND round({_WP}, 6) > {LIVE_WP_GATE}) AS entry_signal
  FROM features
),
dec AS (
  SELECT d.user_id, d.ts, d.event_id, d.price,
         CASE WHEN g.entry_signal THEN d.z ELSE 0.0 END AS z,
         d.rn
  FROM dec0 d JOIN gates g ON g.user_id = d.user_id
)"""


def _live_gated_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The live-pipeline twins' FSM input: (user_id, ts, event_id,
    price, z) decisions with z masked to 0 where the key's warmup
    entry gate (``live_entry_gates``) is closed."""
    from zcode_iceberg_spark.suite.scoring import live_entry_gates

    gates = live_entry_gates(spark, sf_dir)
    d = _decisions(spark, sf_dir).select(
        "user_id", "ts", "event_id", "price", "z"
    )
    return d.join(F.broadcast(gates), "user_id").select(
        "user_id",
        "ts",
        "event_id",
        "price",
        F.when(F.col("entry_signal"), F.col("z"))
        .otherwise(F.lit(0.0))
        .alias("z"),
    )


def q_live_pipeline_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE reference product composed end-to-end in one plan (VERDICT
    r8 #2; main.py:122-142 → strategy.py:334-443): ticks → per-tick
    feature battery (trailing delta z) → signal-score entry gate
    (q_signal_scores' entry_signal — total 0.65/0.35 blend > 0.75 AND
    win-prob overlay > 0.6) → position FSM → closed-trade ledger.
    This is the BATCH twin of the supervised streaming job
    (streaming/pipeline.py:live_tick_pipeline — same decision shape,
    same gate, same `_position_step` through GroupState); the
    multi-batch agreement test (tests/test_streaming.py) pins
    stream ≡ batch on every closed trade. Oracle = the composed
    recursive-CTE chain (features + gate + z walk), the composition
    q_wp_calibration already proved writable."""
    return _ledger_rows(st.position_fsm(_live_gated_decisions(spark, sf_dir)))


def _live_pipeline_sql() -> str:
    return fsm_closed_cte(_live_dec_block()) + _FSM_LEDGER_SELECT


def q_live_pipeline_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed live pipeline's A8 REPORT content, hash-checked:
    the daily win/loss/profit-factor rollup over the score-GATED FSM
    ledger — exactly what live_tick_pipeline's daily-summary sink
    upserts per day (richer columns here; the sink keeps the hot
    subset). Oracle = the same rollup over the gated recursive walk."""
    return st.ledger_daily_summary(
        st.position_fsm(_live_gated_decisions(spark, sf_dir))
    )


def _live_summary_sql() -> str:
    return fsm_closed_cte(_live_dec_block()) + "," + _DAILY_SUMMARY_TAIL


# Vol-regime compounding sizing (reference risk_manager.py:148-178 +
# config VOL_REGIME_{HIGH,LOW}_SIZE_PCT 15%/20%): each trade's margin
# comes from the EVOLVING balance, not a constant — the sequential
# dependency trade_params' static sizing deliberately omits.
EQ_INIT_BALANCE = 1000.0  # trade_params' balance constant
EQ_HIGH_PCT, EQ_LOW_PCT = 0.15, 0.20
EQ_MIN_MARGIN, EQ_MAX_MARGIN = 4.0, 10000.0  # config.py:25-26
EQ_LEVERAGE = 25.0


def q_equity_compounding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G13/A11 compounding twin: replay the FSM ledger with the
    reference's vol-regime COMPOUNDING position sizing
    (risk_manager.py:148-178): per user, equity starts at the balance
    constant and every closed trade k sizes from equity_{k-1} —
    margin = clamp(eq·pct(regime), [MIN, MAX]), qty =
    max(0.001, round(margin·LEV/entry, 6)), pnl re-scaled by that
    qty, equity compounds. regime is the per-key ATR% classification
    trade_params publishes (HIGH → 15 %, else 20 % — reference
    config: VOL_REGIME_HIGH_SIZE_PCT/VOL_REGIME_LOW_SIZE_PCT).

    Spark shape: a per-key F.aggregate fold over the sort_array'd
    trade list (the EMA recursion precedent — trades per key are
    bounded by the one-position-at-a-time FSM), regimes broadcast;
    pure expressions, no UDF. Oracle: a recursive CTE walks the same
    trades in trade_seq order (the FSM-walk precedent)."""
    from zcode_iceberg_spark.suite.scoring import _features

    led = st.position_fsm(_decisions(spark, sf_dir))
    regime = (
        F.when(F.col("atr_pct") < 0.05, "LOW")
        .when(F.col("atr_pct") > 0.30, "HIGH")
        .otherwise("NEUTRAL")
    )
    regimes = _features(spark, sf_dir).select(
        "user_id", regime.alias("regime")
    )
    arr = led.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct("trade_seq", "side", "entry_price", "exit_price")
            )
        ).alias("ts")
    )
    j = arr.join(F.broadcast(regimes), "user_id")
    pct = F.when(F.col("regime") == "HIGH", F.lit(EQ_HIGH_PCT)).otherwise(
        F.lit(EQ_LOW_PCT)
    )
    out_type = (
        "array<struct<trade_seq:int,margin:double,qty:double,"
        "pnl:double,equity:double>>"
    )

    def step(acc, t):
        margin = F.greatest(
            F.lit(EQ_MIN_MARGIN),
            F.least(acc["eq"] * pct, F.lit(EQ_MAX_MARGIN)),
        )
        qty = F.greatest(
            F.lit(0.001),
            F.round(margin * F.lit(EQ_LEVERAGE) / t["entry_price"], 6),
        )
        dirn = F.when(t["side"] == "LONG", F.lit(1.0)).otherwise(F.lit(-1.0))
        pnl = (t["exit_price"] - t["entry_price"]) * dirn * qty
        eq = acc["eq"] + pnl
        row = F.struct(
            t["trade_seq"].alias("trade_seq"),
            margin.alias("margin"),
            qty.alias("qty"),
            pnl.alias("pnl"),
            eq.alias("equity"),
        )
        return F.struct(
            eq.alias("eq"),
            F.concat(acc["out"], F.array(row)).alias("out"),
        )

    acc0 = F.struct(
        F.lit(EQ_INIT_BALANCE).alias("eq"),
        F.array().cast(out_type).alias("out"),
    )
    folded = j.select(
        "user_id",
        "regime",
        F.aggregate("ts", acc0, step)["out"].alias("out"),
    )
    r = folded.select("user_id", "regime", F.explode("out").alias("r"))
    return r.select(
        "user_id",
        F.col("r.trade_seq").alias("trade_seq"),
        "regime",
        F.round("r.margin", 6).alias("margin"),
        F.col("r.qty").alias("qty"),
        (st.micro("r.pnl") / F.lit(1e6)).alias("pnl"),
        (st.micro("r.equity") / F.lit(1e6)).alias("equity"),
    )


def _equity_compounding_sql() -> str:
    from zcode_iceberg_spark.suite.scoring import FEATURES_CTE

    pct = f"CASE WHEN t.regime = 'HIGH' THEN {EQ_HIGH_PCT} ELSE {EQ_LOW_PCT} END"
    margin = (
        f"greatest({EQ_MIN_MARGIN}, least(w.eq * ({pct}), {EQ_MAX_MARGIN}))"
    )
    qty = f"greatest(0.001, round(({margin}) * {EQ_LEVERAGE} / t.entry_price, 6))"
    dirn = "CASE WHEN t.side = 'LONG' THEN 1.0 ELSE -1.0 END"
    pnl = f"(t.exit_price - t.entry_price) * ({dirn}) * ({qty})"
    return f"""{_FSM_CLOSED_CTE},
{FEATURES_CTE},
regimes AS (
  SELECT user_id,
         CASE WHEN atr_pct < 0.05 THEN 'LOW'
              WHEN atr_pct > 0.30 THEN 'HIGH'
              ELSE 'NEUTRAL' END AS regime
  FROM features
),
tr AS (
  SELECT c.user_id,
         row_number() OVER (PARTITION BY c.user_id
                            ORDER BY c.trade_seq) AS k,
         c.trade_seq, c.side, c.entry_price, c.exit_price, r.regime
  FROM closed c JOIN regimes r ON r.user_id = c.user_id
),
eqwalk AS (
  SELECT user_id, CAST(0 AS BIGINT) AS k,
         CAST({EQ_INIT_BALANCE} AS DOUBLE) AS eq,
         CAST(NULL AS INTEGER) AS trade_seq,
         CAST(NULL AS VARCHAR) AS regime,
         CAST(NULL AS DOUBLE) AS margin,
         CAST(NULL AS DOUBLE) AS qty,
         CAST(NULL AS DOUBLE) AS pnl
  FROM (SELECT DISTINCT user_id FROM tr)
  UNION ALL
  SELECT w.user_id, t.k, w.eq + ({pnl}),
         t.trade_seq, t.regime, ({margin}), ({qty}), ({pnl})
  FROM eqwalk w
  JOIN tr t ON t.user_id = w.user_id AND t.k = w.k + 1
)
SELECT user_id, trade_seq, regime,
       round(margin, 6) AS margin,
       qty,
       CAST(round(pnl * 1e6) AS BIGINT) / 1000000.0 AS pnl,
       CAST(round(eq * 1e6) AS BIGINT) / 1000000.0 AS equity
FROM eqwalk WHERE trade_seq IS NOT NULL
"""

_DAILY_SUMMARY_TAIL = """
g AS (
  SELECT strftime(exit_ts, '%Y-%m-%d') AS day,
         count(*) AS n_trades,
         CAST(sum(CASE WHEN pnl > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_wins,
         CAST(sum(CASE WHEN pnl <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_losses,
         sum(CAST(round(pnl * 1e6) AS BIGINT)) / 1000000.0 AS total_pnl,
         max(CAST(round(pnl * 1e6) AS BIGINT) / 1000000.0) AS max_win,
         min(CAST(round(pnl * 1e6) AS BIGINT) / 1000000.0) AS max_loss,
         sum(CAST(round((CASE WHEN pnl > 0 THEN pnl ELSE 0.0 END) * 1e6)
                  AS BIGINT)) / 1000000.0 AS gross_profit,
         abs(sum(CAST(round((CASE WHEN pnl < 0 THEN pnl ELSE 0.0 END) * 1e6)
                      AS BIGINT))) / 1000000.0 AS gross_loss,
         ((2 * sum(CAST(round(hold_secs * 1e6) AS BIGINT)) + count(*))
          // (2 * count(*))) / 1000000.0 AS avg_hold_secs
  FROM closed GROUP BY 1
)
SELECT day, n_trades, n_wins, n_losses, total_pnl, max_win, max_loss,
       gross_profit, gross_loss, avg_hold_secs,
       round(n_wins * 1.0 / n_trades, 6) AS win_rate,
       round(CASE WHEN gross_loss > 0
                  THEN gross_profit / gross_loss END, 6) AS profit_factor
FROM g
"""

SQL_LEDGER_DAILY_SUMMARY = _FSM_CLOSED_CTE + "," + _DAILY_SUMMARY_TAIL

SQL_LEDGER_EXIT_STATS = f"""{_FSM_CLOSED_CTE},
g AS (
  SELECT exit_reason,
         count(*) AS n,
         (CASE WHEN sum(CAST(round(pnl * 1e6) AS BIGINT)) >= 0
               THEN (2 * sum(CAST(round(pnl * 1e6) AS BIGINT)) + count(*))
                    // (2 * count(*))
               ELSE -((2 * -sum(CAST(round(pnl * 1e6) AS BIGINT)) + count(*))
                      // (2 * count(*)))
          END) / 1000000.0 AS avg_pnl,
         ((2 * sum(CAST(round(hold_secs * 1e6) AS BIGINT)) + count(*))
          // (2 * count(*))) / 1000000.0 AS avg_hold_secs,
         round(count(CASE WHEN pnl > 0 THEN 1 END) * 1.0 / count(*), 6)
           AS win_rate
  FROM closed GROUP BY 1
)
SELECT exit_reason, n, avg_pnl, avg_hold_secs, win_rate,
       round(n * 1.0 / (SELECT count(*) FROM closed), 6) AS share
FROM g
"""


def q_position_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6: position lifecycle FSM → closed-trade ledger. Price-path
    dependent ordered fold; oracled by the recursive-CTE walk above
    (invariants additionally in tests/test_stateful.py)."""
    return _ledger_rows(st.position_fsm(_decisions(spark, sf_dir)))


def q_ledger_daily_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13 over the FSM ledger: daily win/loss/profit-factor rollup
    (oracle: plain aggregation over the recursive-CTE walk)."""
    led = st.position_fsm(_decisions(spark, sf_dir))
    return st.ledger_daily_summary(led)


def q_ledger_exit_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E16: outcome-rate stats per exit reason over the FSM ledger
    (reference order_manager.py:444-466 success-rate counters) —
    oracle: plain aggregation over the recursive-CTE walk."""
    led = st.position_fsm(_decisions(spark, sf_dir))
    n_total = F.sum("n").over(Window.partitionBy())
    g = led.groupBy("exit_reason").agg(
        F.count(F.lit(1)).alias("n"),
        st.avg_micro_exact("pnl").alias("avg_pnl"),
        st.avg_micro_exact("hold_secs").alias("avg_hold_secs"),
        F.round(
            F.sum(F.when(F.col("pnl") > 0, 1).otherwise(0)) / F.count(F.lit(1)), 6
        ).alias("win_rate"),
    )
    return g.withColumn("share", F.round(F.col("n") / n_total, 6))


SQL_LEDGER_DRAWDOWN = f"""{_FSM_CLOSED_CTE},
m AS (
  SELECT user_id, trade_seq, exit_ts,
         CAST(round(pnl * 1e6) AS BIGINT) AS pnl_u
  FROM closed
),
c AS (
  -- trade_seq IS close order per user (one position at a time), so
  -- BOTH windows here and the Spark side order by it alone — the
  -- invariant is encoded once, not held implicitly across orderings
  SELECT user_id, trade_seq,
         sum(pnl_u) OVER (PARTITION BY user_id ORDER BY trade_seq
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS eq_u
  FROM m
)
SELECT user_id, trade_seq,
       eq_u / 1000000.0 AS equity,
       peak_u / 1000000.0 AS peak,
       (peak_u - eq_u) / 1000000.0 AS drawdown
FROM (
  SELECT user_id, trade_seq, eq_u,
         max(eq_u) OVER (PARTITION BY user_id ORDER BY trade_seq
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS peak_u
  FROM c
)
"""


def q_ledger_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E14 extension into risk accounting: the per-user equity curve
    (running P&L in close order, the reference's cumulative-P&L column
    zscore_excel_logger.py:330-343) plus its running peak and drawdown
    — the risk number a daily-loss guard like risk_manager.py's
    daily_pnl limit actually needs. All sums run in exact integer
    micro-units (see operators/stateful.py) so the running values are
    partition-independent; the two same-spec window passes share one
    sort and one exchange."""
    led = st.position_fsm(_decisions(spark, sf_dir))
    # trade_seq IS close order per user (the FSM holds one position at
    # a time), so ordering both windows on it alone lets them share one
    # sort under the single user_id exchange (plan-verified: one Sort,
    # two Window passes)
    w = (
        Window.partitionBy("user_id")
        .orderBy("trade_seq")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    eq = led.select(
        "user_id",
        "trade_seq",
        F.sum(st.micro("pnl")).over(w).alias("eq_u"),
    ).withColumn("peak_u", F.max("eq_u").over(w))
    return eq.select(
        "user_id",
        "trade_seq",
        (F.col("eq_u") / 1e6).alias("equity"),
        (F.col("peak_u") / 1e6).alias("peak"),
        ((F.col("peak_u") - F.col("eq_u")) / 1e6).alias("drawdown"),
    )


def q_wp_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-evaluation capstone: calibration of the predicted win
    probability (G7 overlay, suite/scoring.py) against REALIZED trade
    outcomes from the position-FSM ledger — the check a live system
    needs before trusting its entry gate (the reference tracks the
    realized side as win-rate stats, strategy.py:1144-1158, but never
    closes the loop against its predictions).

    Each user's win_prob lands in a decile bucket; per bucket we report
    trade/user counts, the wp range, and the realized win rate. Scale
    shape: the scores side is k rows (one per key) and BROADCAST into
    the ledger join; the rollup is a 10-group partial agg. Counts and
    ratios are exact integer arithmetic; the wp range uses min/max
    (order-independent), never a float mean."""
    from zcode_iceberg_spark.suite.scoring import q_signal_scores

    scores = q_signal_scores(spark, sf_dir).select("user_id", "win_prob")
    led = st.position_fsm(_decisions(spark, sf_dir))
    joined = led.join(F.broadcast(scores), "user_id")
    decile = F.least(
        F.greatest(F.floor(F.col("win_prob") * 10), F.lit(0)), F.lit(9)
    ).cast("int")
    return (
        joined.withColumn("decile", decile)
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_trades"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.min("win_prob"), 6).alias("min_wp"),
            F.round(F.max("win_prob"), 6).alias("max_wp"),
            F.round(
                F.sum(F.when(F.col("pnl") > 0, 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("realized_win_rate"),
        )
    )


def _wp_calibration_sql() -> str:
    # composed lazily so the scoring module's CTE constants are only
    # touched at registry build, keeping import order irrelevant
    from zcode_iceberg_spark.suite.scoring import FEATURES_CTE, _WP

    return f"""{_FSM_CLOSED_CTE},
{FEATURES_CTE},
scores AS (SELECT user_id, round({_WP}, 6) AS win_prob FROM features),
tr AS (
  SELECT c.user_id, s.win_prob,
         CAST(least(greatest(floor(s.win_prob * 10), 0), 9) AS INTEGER)
           AS decile,
         c.pnl
  FROM closed c JOIN scores s ON c.user_id = s.user_id
)
SELECT decile, count(*) AS n_trades, count(DISTINCT user_id) AS n_users,
       round(min(win_prob), 6) AS min_wp,
       round(max(win_prob), 6) AS max_wp,
       round(sum(CASE WHEN pnl > 0 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS realized_win_rate
FROM tr GROUP BY decile
"""


# reference daily risk guards (risk_manager.py:66-70, config.py:44-45:
# MAX_DAILY_TRADES=100, MAX_DAILY_LOSS=$2000) — scaled to the synthetic
# fixture's trade counts and P&L magnitudes so the guards actually
# trigger (same scaling precedent as trade_params' regime thresholds)
RISK_MAX_DAILY_TRADES = 3
RISK_MAX_DAILY_LOSS = 5.0


def q_risk_limits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11/E16 risk accounting: the daily-limit guard audit —
    `can_trade` in the reference checks trades-per-day and daily loss
    BEFORE each entry (risk_manager.py:61-70) and resets at UTC
    midnight (:211-217). This query replays that check over the FSM
    ledger: per (user, day), each trade's PRIOR same-day count and
    running P&L decide whether the guard would have blocked it.

    Per-day output: trades, exact daily P&L, how many trades the guard
    would have blocked, and the first blocked seq. Running state is a
    cumulative window in close order (micro-unit ints), the rollup a
    hash agg on the same keys — one exchange total."""
    led = st.position_fsm(_decisions(spark, sf_dir))
    day = F.date_format("exit_ts", "yyyy-MM-dd")
    w = (
        Window.partitionBy("user_id", "day")
        .orderBy("trade_seq")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rows = led.select(
        "user_id", "trade_seq", day.alias("day"), st.micro("pnl").alias("pnl_u")
    ).select(
        "user_id",
        "day",
        "trade_seq",
        (F.count(F.lit(1)).over(w) - 1).alias("prior_trades"),
        (F.sum("pnl_u").over(w) - F.col("pnl_u")).alias("prior_pnl_u"),
        "pnl_u",
    )
    blocked = (F.col("prior_trades") >= RISK_MAX_DAILY_TRADES) | (
        F.col("prior_pnl_u") <= F.lit(int(-RISK_MAX_DAILY_LOSS * 1e6))
    )
    return (
        rows.withColumn("blocked", blocked)
        .groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).alias("n_trades"),
            (F.sum("pnl_u") / 1e6).alias("daily_pnl"),
            F.sum(F.when(F.col("blocked"), 1).otherwise(0)).alias("n_blocked"),
            F.min(F.when(F.col("blocked"), F.col("trade_seq"))).alias(
                "first_blocked_seq"
            ),
        )
    )


SQL_RISK_LIMITS = f"""{_FSM_CLOSED_CTE},
r AS (
  SELECT user_id, trade_seq, strftime(exit_ts, '%Y-%m-%d') AS day,
         CAST(round(pnl * 1e6) AS BIGINT) AS pnl_u
  FROM closed
),
g AS (
  SELECT user_id, day, trade_seq, pnl_u,
         count(*) OVER wrl - 1 AS prior_trades,
         sum(pnl_u) OVER wrl - pnl_u AS prior_pnl_u
  FROM r
  WINDOW wrl AS (PARTITION BY user_id, day ORDER BY trade_seq
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
b AS (
  SELECT *,
         (prior_trades >= {RISK_MAX_DAILY_TRADES}
          OR prior_pnl_u <= {int(-RISK_MAX_DAILY_LOSS * 1e6)}) AS blocked
  FROM g
)
SELECT user_id, day, count(*) AS n_trades,
       CAST(sum(pnl_u) AS BIGINT) / 1000000.0 AS daily_pnl,
       CAST(sum(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
       min(CASE WHEN blocked THEN trade_seq END) AS first_blocked_seq
FROM b GROUP BY user_id, day
"""


QUERIES = {
    "trend_hysteresis": Query(q_trend_hysteresis, SQL_TREND_HYSTERESIS),
    "position_ledger": Query(q_position_ledger, SQL_POSITION_LEDGER),
    "ledger_drawdown": Query(q_ledger_drawdown, SQL_LEDGER_DRAWDOWN),
    "wp_calibration": Query(q_wp_calibration, _wp_calibration_sql()),
    "live_pipeline_ledger": Query(q_live_pipeline_ledger, _live_pipeline_sql()),
    "live_pipeline_summary": Query(q_live_pipeline_summary, _live_summary_sql()),
    "equity_compounding": Query(
        q_equity_compounding, _equity_compounding_sql()
    ),
    "risk_limits": Query(q_risk_limits, SQL_RISK_LIMITS),
    "ledger_daily_summary": Query(q_ledger_daily_summary, SQL_LEDGER_DAILY_SUMMARY),
    "ledger_exit_stats": Query(q_ledger_exit_stats, SQL_LEDGER_EXIT_STATS),
}
