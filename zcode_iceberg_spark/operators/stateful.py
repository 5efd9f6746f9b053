"""Stateful ordered-fold operators (SURVEY G16, H6): trend hysteresis
and the position lifecycle FSM.

These are the two reference computations that are genuinely
order-sensitive and stateful — irreducible to window/agg expressions
(SURVEY §4 "needs custom work"):

- Hysteresis (reference data_manager.py:1051-1067,1155-1170): a
  pending label must be observed `confirm_k` consecutive times before
  the confirmed label flips.
- Position FSM (reference strategy.py:334-443,575-933): one position
  per key; flat → open on entry signal → exit on TP/SL/time-stop;
  deterministic fills at the triggering row's price; ledger rows out.

One step, two drivers. Each operator is ONE pure per-key transition
``step(key, pdfs, prior) -> (rows, new_state)`` (``_hysteresis_step``,
``_position_step``), and the batch and streaming modes differ only in
the driver that runs it:

- batch: ``_keyed_batch`` — ``applyInPandas`` per key, one call over
  the key's whole history with ``prior=None`` (Arrow-batched,
  vectorized I/O, sequential core — the loop IS the semantics). Spark
  distributes across keys: at 100 TB with millions of keys this
  parallelizes perfectly; the per-key group must fit in executor
  memory, which holds because decision rows per key are bounded (the
  same assumption the reference's deques make). A step with an
  end-of-data action takes a ``final`` flag, which only batch callers
  set (the FSM's EOD close);
- streaming: ``streaming/pipeline.py:_keyed_fold`` —
  ``applyInPandasWithState``, one call per key and micro-batch, with
  the carried state being (confirmed, pending, count) / the
  ``FSM_STATE_SCHEMA`` row.
"""

from __future__ import annotations

from functools import partial

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

HYST_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("raw_label", T.StringType()),
        T.StructField("confirmed_label", T.StringType()),
        T.StructField("pending_count", T.IntegerType()),
    ]
)


def _hysteresis_fold(
    labels: pd.Series,
    confirm_k: int,
    confirmed: str = "RANGE",
    pending: str | None = None,
    count: int = 0,
) -> tuple[list[str], list[int], tuple[str, str | None, int]]:
    """Sequential hysteresis transition — the kernel of
    ``_hysteresis_step``. Takes the carried state and returns per-row
    outputs plus the final state.

    r13 vectorization (guide §4.2): the row loop is now a loop over
    RUNS of identical raw labels (maximal streaks), because the
    transition is fully determined per run: a run equal to the
    confirmed label resets pending; a differing run counts up from
    its carried offset and flips the confirmed label at count ==
    confirm_k, after which the rest of the run emits count 0. Row
    outputs within a run are filled with numpy slices, so per-row
    Python work disappears while the emitted (label, count) sequence
    and the final carried state are identical by case analysis —
    pinned by the hysteresis split-invariance seeds and the
    batch<->stream agreement tests.

    Contract: ``confirm_k >= 1`` (a flip needs at least the confirming
    row itself); anything smaller raises ``ValueError`` instead of
    wrapping the run slice."""
    import numpy as np

    if confirm_k < 1:
        raise ValueError(f"hysteresis confirm_k must be >= 1, got {confirm_k}")
    arr = np.asarray(labels, dtype=object)
    n = len(arr)
    if n == 0:
        return [], [], (confirmed, pending, count)
    out_lab = np.empty(n, dtype=object)
    out_cnt = np.zeros(n, dtype=np.int64)
    starts = np.concatenate(
        ([0], np.flatnonzero(arr[1:] != arr[:-1]) + 1, [n])
    )
    for s, e in zip(starts[:-1], starts[1:]):
        raw = arr[s]
        if raw == confirmed:
            pending, count = None, 0
            out_lab[s:e] = confirmed
            # counts already 0
            continue
        c0 = count if raw == pending else 0
        flip = confirm_k - c0  # 1-based offset within the run
        if flip <= e - s:
            f = s + flip - 1  # index of the confirming row
            out_lab[s:f] = confirmed
            out_cnt[s:f] = np.arange(c0 + 1, c0 + flip)
            confirmed, pending, count = raw, None, 0
            out_lab[f:e] = confirmed
            # counts from the confirming row on are 0
        else:
            out_lab[s:e] = confirmed
            out_cnt[s:e] = np.arange(c0 + 1, c0 + (e - s) + 1)
            pending, count = raw, c0 + (e - s)
    return (
        out_lab.tolist(),
        out_cnt.tolist(),
        (confirmed, pending, count),
    )


def _concat_rows(pdfs) -> pd.DataFrame | None:
    """A key's rows from every Arrow chunk of one call, in arrival
    order, or None when the call delivered no rows."""
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        return None
    return chunks[0] if len(chunks) == 1 else pd.concat(chunks)


def _ordered_rows(pdfs, order=("ts", "event_id")) -> pd.DataFrame | None:
    """``_concat_rows`` in event order. Concatenates every chunk BEFORE
    sorting (chunk boundaries do not respect event order); the stable
    sort keeps arrival order on ties."""
    rows = _concat_rows(pdfs)
    if rows is None:
        return None
    return rows.sort_values(list(order), kind="mergesort")


def _rows_frame(rows, cols) -> pd.DataFrame:
    """A step's ``rows`` — a DataFrame, a list of row dicts or tuples,
    or one row dict — as one frame in ``cols`` order."""
    if isinstance(rows, dict):
        rows = [rows]
    return pd.DataFrame(rows, columns=cols)


def _fanout(df: DataFrame, key: str) -> DataFrame:
    """Explicit hash-repartition before a Python fold stage.

    AQE coalesces the small upstream shuffle to a handful of partitions
    (observed: 3 at sf0.1), which then caps the parallelism of the
    Python applyInPandas stage — the most expensive stage in the plan.
    A user-specified repartition with an explicit partition count is
    exempt from AQE coalescing, so the fold keeps full-core fan-out."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)


def _keyed_batch(df: DataFrame, key: str, step, out_schema) -> DataFrame:
    """The batch driver of a keyed step: group ``df`` by ``key`` and run
    ``step(key_tuple, [pdf], None)`` once over each key's whole history;
    the rows become one frame exactly as in ``_keyed_fold``."""
    cols = out_schema.fieldNames()

    def fn(k, pdf):
        rows, _ = step(k, [pdf], None)
        return _rows_frame(rows, cols)

    return _fanout(df, key).groupBy(key).applyInPandas(fn, out_schema)


def _hysteresis_step(
    key, pdfs, prior, confirm_k: int = 2, label_col: str = "raw_label"
):
    """Per-key k-confirmation fold: carried (confirmed, pending, count),
    pending "" = none. Emits the ``HYST_SCHEMA`` columns (the stream
    keeps all but ``pending_count``)."""
    confirmed, pending, count = prior if prior is not None else ("RANGE", "", 0)
    rows = _ordered_rows(pdfs)
    if rows is None:
        return [], (confirmed, pending, count)
    labs, cnts, (confirmed, pending, count) = _hysteresis_fold(
        rows[label_col], confirm_k, confirmed, pending or None, count
    )
    out = pd.DataFrame(
        {
            "user_id": rows["user_id"].values,
            "event_id": rows["event_id"].values,
            "raw_label": rows[label_col].values,
            "confirmed_label": labs,
            "pending_count": cnts,
        }
    )
    return out, (confirmed, pending or "", count)


def hysteresis(df: DataFrame, label_col: str, confirm_k: int = 2) -> DataFrame:
    """G16: per-key label stream with k-confirmation flips.

    Input needs (user_id, ts, event_id, label_col); output one row per
    input row with the confirmed label and pending counter.
    """
    step = partial(_hysteresis_step, confirm_k=confirm_k, label_col=label_col)
    return _keyed_batch(df, "user_id", step, HYST_SCHEMA)


LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("trade_seq", T.IntegerType()),
        T.StructField("side", T.StringType()),
        T.StructField("entry_ts", T.TimestampType()),
        T.StructField("exit_ts", T.TimestampType()),
        T.StructField("entry_price", T.DoubleType()),
        T.StructField("exit_price", T.DoubleType()),
        T.StructField("qty", T.DoubleType()),
        T.StructField("pnl", T.DoubleType()),
        T.StructField("roi", T.DoubleType()),
        T.StructField("exit_reason", T.StringType()),
        T.StructField("hold_secs", T.DoubleType()),
    ]
)

# THE position policy of every FSM in the engine: the batch and stream
# operators, the fused live step and the recursive-CTE oracles
FSM_POLICY = dict(
    z_entry=1.5, tp_pct=0.01, sl_pct=0.01, max_hold_secs=86400.0,
    margin=50.0, leverage=25.0,
)

FSM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.IntegerType()),
        T.StructField("qty", T.DoubleType()),  # -1.0 = not yet sized
        T.StructField("side", T.StringType()),  # "" = flat
        T.StructField("entry_ts_us", T.LongType()),
        T.StructField("entry_price", T.DoubleType()),
    ]
)


def _fsm_step(
    pdf: pd.DataFrame,
    st: dict,
    *,
    z_entry: float,
    tp_pct: float,
    sl_pct: float,
    max_hold_secs: float,
    margin: float,
    leverage: float,
    final: bool = False,
) -> list[tuple]:
    """One FSM pass over time-ordered rows, mutating carried state —
    the kernel of ``_position_step``. ``st`` keys: uid, seq, qty (sized
    from the first observed price), pos (open position dict or None).
    ``final`` marks the key's last rows: a position still open after
    them closes at the last row with reason EOD (batch only — a stream
    keeps it open awaiting more data).

    r13 vectorization (guide §4.2): the original row-at-a-time
    ``itertuples`` walk cost ~0.6 ms/row of pure-Python work and was
    the registry's largest Python-stage bill (~10 entries; profiled:
    the FSM stage's task time was ~10x its JVM CPU — executors
    waiting on Python). The walk is per-TRADE now: while flat, jump
    to the next entry candidate via searchsorted over the
    precomputed |z| >= z_entry index; while open, find the exit as
    the first row of the remaining slice whose TP/SL/TIME predicate
    fires (one vectorized compare per trade; slices never overlap,
    so total work is O(n) in numpy). Transition semantics are
    IDENTICAL by construction: entries are only checked while flat
    (from the row after an exit), exits only from the row after the
    entry, reason priority TP > SL > TIME evaluated at the firing
    row. Every closed trade, EOD included, is built by ``close``:
    held = exact integer ns difference / 1e9, the correctly rounded
    quotient the oracle's µs difference / 1e6 also gives (pandas'
    ``Timedelta.total_seconds()`` can differ from it in the last ulp,
    which no 6-decimal output sees). Pinned by the FSM split-invariance
    seeds, the batch<->stream agreement tests, and the hash oracles of
    the whole ledger family.

    Contract: every ``ts`` is a real timestamp — a NaT row raises
    ``ValueError`` (it has no holding time; the tick loaders drop null
    ``ts`` before any decision is formed)."""
    import numpy as np

    rows: list[tuple] = []
    uid = st["uid"]
    n = len(pdf)
    if n == 0:
        return rows
    px = pdf["price"].to_numpy(dtype=np.float64)
    z = pdf["z"].to_numpy(dtype=np.float64)
    ts64 = pdf["ts"].to_numpy(dtype="datetime64[ns]")
    if np.isnat(ts64).any():
        raise ValueError(f"position FSM: NaT ts in the rows of key {uid}")
    ts_ns = ts64.astype(np.int64)
    ts_col = pdf["ts"]
    if st["qty"] is None:
        st["qty"] = round(margin * leverage / max(float(px[0]), 1e-9), 6)
    qty = st["qty"]

    def close(pos, k, reason):
        direction = 1.0 if pos["side"] == "LONG" else -1.0
        ep = pos["entry_price"]
        held = (ts_ns[k] - pd.Timestamp(pos["entry_ts"]).value) / 1e9
        pnl = (float(px[k]) - ep) * direction * qty
        st["seq"] += 1
        rows.append(
            (uid, st["seq"], pos["side"], pos["entry_ts"], ts_col.iloc[k],
             ep, float(px[k]), qty, pnl, pnl / margin, reason, float(held))
        )

    with np.errstate(invalid="ignore"):
        cand = np.flatnonzero(np.abs(z) >= z_entry)
    pos = st["pos"]
    i = 0
    while i < n:
        if pos is None:
            k = int(np.searchsorted(cand, i))
            if k == len(cand):
                break
            j = int(cand[k])
            pos = {
                "side": "LONG" if z[j] > 0 else "SHORT",
                "entry_ts": ts_col.iloc[j],
                "entry_price": float(px[j]),
            }
            i = j + 1
        else:
            direction = 1.0 if pos["side"] == "LONG" else -1.0
            ep = pos["entry_price"]
            e_ns = pd.Timestamp(pos["entry_ts"]).value
            with np.errstate(invalid="ignore"):
                change = (px[i:] - ep) / ep * direction
                held = (ts_ns[i:] - e_ns) / 1e9
                hit = (
                    (change >= tp_pct)
                    | (change <= -sl_pct)
                    | (held >= max_hold_secs)
                )
            if not hit.any():
                i = n
                break
            off = int(np.argmax(hit))
            k = i + off
            ch = float(change[off])
            if ch >= tp_pct:
                reason = "TP"
            elif ch <= -sl_pct:
                reason = "SL"
            else:
                reason = "TIME"
            close(pos, k, reason)
            pos = None
            i = k + 1
    if final and pos is not None:
        close(pos, n - 1, "EOD")
        pos = None
    st["pos"] = pos
    return rows


def _fsm_unpack(uid: int, carry) -> dict:
    """Stored FSM carry ``(seq, qty, side, entry_ts_us, entry_price)``
    (qty -1.0 = not yet sized, side "" = flat; None for a new key) →
    the ``st`` dict ``_fsm_step`` mutates."""
    if carry is None:
        return {"uid": uid, "seq": 0, "qty": None, "pos": None}
    seq, qty, side, ets_us, epx = carry
    pos = (
        None
        if side == ""
        else {
            "side": side,
            "entry_ts": pd.Timestamp(ets_us * 1000),
            "entry_price": epx,
        }
    )
    return {"uid": uid, "seq": seq, "qty": None if qty < 0 else qty, "pos": pos}


def _fsm_pack(st: dict) -> tuple:
    """``_fsm_unpack``'s inverse: the ``st`` dict → the stored carry."""
    pos = st["pos"]
    return (
        int(st["seq"]),
        -1.0 if st["qty"] is None else float(st["qty"]),
        pos["side"] if pos else "",
        int(pd.Timestamp(pos["entry_ts"]).value // 1000) if pos else 0,
        float(pos["entry_price"]) if pos else 0.0,
    )


def _position_step(key, pdfs, prior, final: bool = False):
    """Per-key position FSM over the ``FSM_STATE_SCHEMA`` tuple under
    ``FSM_POLICY``; ``final`` closes a still-open position as EOD."""
    st = _fsm_unpack(int(key[0]), prior)
    rows = _ordered_rows(pdfs)
    out = [] if rows is None else _fsm_step(rows, st, final=final, **FSM_POLICY)
    return out, _fsm_pack(st)


def position_fsm(decisions: DataFrame) -> DataFrame:
    """H6: one-position-per-key lifecycle over a decision stream.

    Input: (user_id, ts, event_id, price, z). Entry when flat and
    |z| ≥ z_entry (LONG if z>0 else SHORT) — filled at that row's
    price (deterministic fill, replacing the reference's live order
    I/O, SURVEY §7). Exit on TP/SL (±pct from entry, regime-free
    simplification of G12) or time-stop, all under ``FSM_POLICY``.
    Emits one ledger row per closed trade; a still-open position at
    end-of-data is closed at the last price with reason EOD (so batch
    output is total).
    """
    step = partial(_position_step, final=True)
    return _keyed_batch(decisions, "user_id", step, LEDGER_SCHEMA)


# --- exact micro-unit ledger arithmetic -----------------------------------
#
# Ledger rollups sum path-dependent doubles; with the dyadic prices the
# generator emits, those sums routinely land EXACTLY on a 6th-decimal
# half boundary, where double summation order (Spark partial aggs vs a
# sequential oracle) decides the rounded digit. So the rollups quantize
# each value to integer micro-units FIRST — `round(x * 1e6)` rounds the
# identical IEEE double with identical half-away-from-zero tie handling
# in Spark and DuckDB, giving bit-identical BIGINTs — and every sum,
# extreme, and mean downstream is exact integer arithmetic, independent
# of partitioning. Means use round-half-away integer division (the
# truncating DIV is applied to non-negative numerators only, where it
# equals floor on every engine).


def _micro(col: str) -> str:
    return f"sum(CAST(round({col} * 1e6) AS BIGINT))"


def micro(col: str) -> F.Column:
    """Column-level micro-unit quantization — the single spelling of
    the rounding rule for row-wise use (e.g. windowed running sums);
    the aggregate helpers below embed the same expression."""
    return F.expr(f"CAST(round(({col}) * 1e6) AS BIGINT)")


def sum_micro_exact(col: str, pred: str = "true") -> F.Column:
    """Exact micro-quantized sum of ``col`` over rows passing ``pred``,
    back in units (aggregate expression)."""
    guarded = f"CASE WHEN {pred} THEN {col} ELSE 0.0 END"
    return F.expr(_micro(guarded)) / F.lit(1e6)


def avg_micro_exact(col: str) -> F.Column:
    """Exact micro-quantized mean of ``col`` in units, rounded
    half-away-from-zero at the 6th decimal (aggregate expression)."""
    s, n = _micro(col), "count(1)"
    return (
        F.expr(
            f"CASE WHEN {s} >= 0 THEN (2 * {s} + {n}) DIV (2 * {n}) "
            f"ELSE -((2 * -({s}) + {n}) DIV (2 * {n})) END"
        )
        / F.lit(1e6)
    )


def ledger_daily_summary(ledger: DataFrame) -> DataFrame:
    """E13 over the FSM ledger: per-day win/loss stats, profit factor,
    average hold (reference zscore_excel_logger.py:345-407). All money
    and duration aggregates are computed in exact micro-units (see
    module note above) so the 6-decimal outputs are deterministic."""
    day = F.date_format("exit_ts", "yyyy-MM-dd").alias("day")
    micro_round = F.expr("CAST(round(pnl * 1e6) AS BIGINT)") / F.lit(1e6)
    g = ledger.groupBy(day).agg(
        F.count(F.lit(1)).alias("n_trades"),
        F.sum(F.when(F.col("pnl") > 0, 1).otherwise(0)).alias("n_wins"),
        F.sum(F.when(F.col("pnl") <= 0, 1).otherwise(0)).alias("n_losses"),
        sum_micro_exact("pnl").alias("total_pnl"),
        F.max(micro_round).alias("max_win"),
        F.min(micro_round).alias("max_loss"),
        sum_micro_exact("pnl", "pnl > 0").alias("gross_profit"),
        F.abs(sum_micro_exact("pnl", "pnl < 0")).alias("gross_loss"),
        avg_micro_exact("hold_secs").alias("avg_hold_secs"),
    )
    return g.withColumns(
        {
            "win_rate": F.round(F.col("n_wins") / F.col("n_trades"), 6),
            "profit_factor": F.round(
                F.when(
                    F.col("gross_loss") > 0, F.col("gross_profit") / F.col("gross_loss")
                ).otherwise(F.lit(None)),
                6,
            ),
        }
    )
