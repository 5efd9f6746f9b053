"""Micro-batch split-invariance property tests for EVERY carried-state
streaming kernel (VERDICT r10 #3): chaining a kernel over arbitrary
cuts of one ordered input, threading the carried state, must equal the
one-shot fold — the exact contract applyInPandasWithState relies on.
The z kernel (tests/test_zscore_kernel.py) is the template; it needed
a tie-group holdback because its batch twin is a value-inclusive RANGE
frame. The kernels here are per-row folds over the TOTAL (ts,
event_id) order (their batch twins use ROWS frames or per-row walks),
so they must be invariant WITHOUT holdback — these tests pin that.

Audit map (r10 #3) — every stateful streaming kernel and where its
invariance is proven:

- _zscore_step + live FSM fusion — RANGE-frame twin, holdback fix:
  tests/test_zscore_kernel.py (+ mid-tie-split Spark fixture); the
  fused live step (_live_step, the per-key transition of
  live_decisions_fsm_stream) — HERE, chained with its packed state
  tuple and a final timed-out flush;
- _hysteresis_fold, _fsm_step, iceberg_refill_step, funnel_step,
  transitions_step, cusum_step, gap_fill_step (data path),
  holt_step_dec — HERE, pure pandas, 3 seeds × 100 examples each;
- staleness_stream — state is (max ts_us, count): commutative
  aggregates, invariant by algebra; timer path is absence-driven
  (no batch analog) — Spark-level tests in test_streaming.py;
- passage_dedup_step / bloom_ingest_step / cms_ingest_step /
  ann_index_step / scd2_step — DataFrame-level epoch folds keyed on
  content hashes (min-pkey / set-union / counter-merge: order-free
  algebra), pinned by the epoch-replay + agreement tests
  (test_streaming.py, test_scd2.py, test_ann_stream.py);
- holt_stream_step — consumes watermark-FINALIZED bars (group
  completion is the upstream window aggregation's job), per-bar
  recursion pinned here via holt_step_dec.
"""

from __future__ import annotations

import math
from decimal import Decimal

import pandas as pd
import pytest
from hypothesis import given, seed, settings, strategies as st

from zcode_iceberg_spark.operators.stateful import _fsm_step, _hysteresis_fold
from zcode_iceberg_spark.operators.timeseries import holt_step_dec
from zcode_iceberg_spark.streaming.pipeline import (
    LIVE_STATE_SCHEMA,
    _live_step,
    cusum_step,
    funnel_step,
    gap_fill_step,
    iceberg_refill_step,
    transitions_step,
)

SEED_MATRIX = [0, 1717, 20260816]

seed_matrix = pytest.mark.parametrize("hseed", SEED_MATRIX)


def _cuts(data, n):
    """Draw 0..4 arbitrary cut points over a length-n sequence."""
    k = data.draw(st.integers(min_value=0, max_value=4))
    cuts = sorted(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=n), min_size=k, max_size=k
            )
        )
    )
    return [0, *cuts, n]


# ---------------------------------------------------------- hysteresis

labels = st.lists(
    st.sampled_from(["UP", "DOWN", "RANGE"]), min_size=1, max_size=150
)


@seed_matrix
def test_hysteresis_split_invariance(hseed):
    @seed(hseed)
    @settings(max_examples=100, deadline=None, database=None)
    @given(labels, st.integers(min_value=1, max_value=4), st.data())
    def prop(seq, k, data):
        one_lab, one_cnt, one_state = _hysteresis_fold(pd.Series(seq), k)
        state = ("RANGE", None, 0)
        got_lab, got_cnt = [], []
        bounds = _cuts(data, len(seq))
        for a, b in zip(bounds, bounds[1:]):
            labs, cnts, state = _hysteresis_fold(
                pd.Series(seq[a:b]), k, *state
            )
            got_lab.extend(labs)
            got_cnt.extend(cnts)
        assert got_lab == one_lab and got_cnt == one_cnt
        assert state == one_state

    prop()


# ----------------------------------------------------------------- FSM

FSM_PARAMS = dict(
    z_entry=1.5, tp_pct=0.01, sl_pct=0.01, max_hold_secs=3600.0,
    margin=50.0, leverage=25.0,
)

fsm_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=7200),  # seconds (ties possible)
        st.floats(min_value=50.0, max_value=150.0, allow_nan=False),
        st.floats(min_value=-3.0, max_value=3.0, allow_nan=False),
    ),
    min_size=1,
    max_size=100,
)


def _fsm_pdf(rows):
    return pd.DataFrame(
        {
            "ts": pd.to_datetime([r[0] for r in rows], unit="s"),
            "event_id": range(len(rows)),
            "price": [r[1] for r in rows],
            "z": [r[2] for r in rows],
        }
    )


@seed_matrix
def test_fsm_split_invariance(hseed):
    @seed(hseed)
    @settings(max_examples=100, deadline=None, database=None)
    @given(fsm_rows, st.data())
    def prop(raw, data):
        rows = sorted(raw)  # the total (ts, event_id-by-position) order
        one_st = {"uid": 1, "seq": 0, "qty": None, "pos": None}
        one = _fsm_step(_fsm_pdf(rows), one_st, **FSM_PARAMS)
        chained_st = {"uid": 1, "seq": 0, "qty": None, "pos": None}
        chained = []
        bounds = _cuts(data, len(rows))
        for a, b in zip(bounds, bounds[1:]):
            chained.extend(
                _fsm_step(_fsm_pdf(rows)[a:b], chained_st, **FSM_PARAMS)
            )
        assert chained == one
        assert chained_st == one_st

    prop()


# ------------------------------------------------ fused live operator

live_ticks = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=900),  # seconds: forces ties
        st.floats(min_value=97.0, max_value=103.0, allow_nan=False),
        st.floats(min_value=0.01, max_value=50.0, allow_nan=False),
        st.booleans(),  # is_buy
        st.booleans(),  # entry_signal
    ),
    min_size=40,  # past the z kernel's 30-row minimum population
    max_size=100,
)

_PY_TYPE = {
    "LongType": int, "IntegerType": int, "DoubleType": float,
    "StringType": str, "BooleanType": bool,
}


def _conforms(state, schema):
    """Arity and field order of a carried tuple against its state
    schema: every value has the Python type its field stores."""
    assert len(state) == len(schema.fields)
    for v, f in zip(state, schema.fields):
        t = f.dataType
        if type(t).__name__ == "ArrayType":
            want = _PY_TYPE[type(t.elementType).__name__]
            assert isinstance(v, list), f.name
            assert all(type(x) is want for x in v), f.name
        else:
            assert type(v) is _PY_TYPE[type(t).__name__], f.name


@seed_matrix
def test_live_step_split_invariance(hseed):
    """Chaining the fused live step over arbitrary micro-batch cuts —
    including cuts inside a same-ts group — and a final timed-out flush
    closes the same trades as one call on all rows plus the flush, and
    every carried tuple matches LIVE_STATE_SCHEMA."""
    key = (7,)
    n_trades = 0

    def run(pdf, bounds):
        state, ledger = None, []
        for a, b in zip(bounds, bounds[1:]):
            rows, state = _live_step(key, [pdf[a:b]], state)
            _conforms(state, LIVE_STATE_SCHEMA)
            ledger.extend(rows)
        rows, state = _live_step(key, [], state, timed_out=True)
        _conforms(state, LIVE_STATE_SCHEMA)
        assert state[LIVE_STATE_SCHEMA.fieldNames().index("pend_ts_us")] == []
        return ledger + rows, state

    @seed(hseed)
    @settings(max_examples=100, deadline=None, database=None)
    @given(live_ticks, st.data())
    def prop(raw, data):
        nonlocal n_trades
        rows = sorted((t, i, *rest) for i, (t, *rest) in enumerate(raw))
        pdf = pd.DataFrame(
            {
                "user_id": key[0],
                "ts": pd.to_datetime([r[0] for r in rows], unit="s"),
                "event_id": [r[1] for r in rows],
                "price": [r[2] for r in rows],
                "qty": [r[3] for r in rows],
                "is_buy": [r[4] for r in rows],
                "entry_signal": [r[5] for r in rows],
            }
        )
        one, one_state = run(pdf, [0, len(rows)])
        chained, state = run(pdf, _cuts(data, len(rows)))
        assert chained == one
        assert state == one_state
        n_trades += len(one)

    prop()
    assert n_trades > 0  # the property is not vacuous


# ------------------------------------------------------- iceberg refill

ice_qtys = st.lists(
    st.floats(min_value=0.01, max_value=99.0, allow_nan=False),
    min_size=1,
    max_size=120,
)


@seed_matrix
def test_iceberg_refill_split_invariance(hseed):
    key = (7, "bid", 101)

    @seed(hseed)
    @settings(max_examples=100, deadline=None, database=None)
    @given(ice_qtys, st.data())
    def prop(qtys, data):
        pdf = pd.DataFrame({"event_id": range(len(qtys)), "qty": qtys})
        one_row, one_state = iceberg_refill_step(key, [pdf], None)
        state, row = None, None
        bounds = _cuts(data, len(qtys))
        for a, b in zip(bounds, bounds[1:]):
            if a == b:
                continue  # a key with no rows is never invoked
            row, state = iceberg_refill_step(key, [pdf[a:b]], state)
        # the final cumulative row and state must match one-shot
        # (mid-stream rows are the live partial view, by design)
        assert row == one_row
        assert state == one_state

    prop()


# --------------------------------------------------------------- funnel

funnel_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10**7),  # ts_us
        st.sampled_from(["view", "click", "purchase", "other"]),
    ),
    min_size=1,
    max_size=100,
)


@seed_matrix
def test_funnel_split_invariance(hseed):
    @seed(hseed)
    @settings(max_examples=100, deadline=None, database=None)
    @given(funnel_rows, st.data())
    def prop(raw, data):
        rows = sorted(
            (us, i, typ) for i, (us, typ) in enumerate(raw)
        )  # total (ts_us, event_id) order
        pdf = pd.DataFrame(
            {
                "ts_us": [r[0] for r in rows],
                "event_id": [r[1] for r in rows],
                "event_type": [r[2] for r in rows],
            }
        )
        one_row, one_state = funnel_step((1,), [pdf], None)
        state, row = None, None
        bounds = _cuts(data, len(rows))
        for a, b in zip(bounds, bounds[1:]):
            if a == b:
                continue
            row, state = funnel_step((1,), [pdf[a:b]], state)
        assert row == one_row
        assert state == one_state

    prop()


# ---------------------------------------------------------- transitions

@seed_matrix
def test_transitions_split_invariance(hseed):
    @seed(hseed)
    @settings(max_examples=100, deadline=None, database=None)
    @given(funnel_rows, st.data())
    def prop(raw, data):
        rows = sorted((us, i, typ) for i, (us, typ) in enumerate(raw))
        pdf = pd.DataFrame(
            {
                "ts_us": [r[0] for r in rows],
                "event_id": [r[1] for r in rows],
                "event_type": [r[2] for r in rows],
            }
        )
        one_out, one_state = transitions_step((1,), [pdf], None)
        state, chained = None, []
        bounds = _cuts(data, len(rows))
        for a, b in zip(bounds, bounds[1:]):
            out, state = transitions_step((1,), [pdf[a:b]], state)
            chained.extend(out)
        assert chained == one_out
        assert state == one_state

    prop()


# ---------------------------------------------------------------- CUSUM

cusum_xs = st.lists(
    st.floats(min_value=-4.0, max_value=4.0, allow_nan=False),
    min_size=1,
    max_size=120,
)


@seed_matrix
def test_cusum_split_invariance(hseed):
    @seed(hseed)
    @settings(max_examples=100, deadline=None, database=None)
    @given(cusum_xs, st.data())
    def prop(xs, data):
        pdf = pd.DataFrame(
            {
                "ts_us": range(len(xs)),
                "event_id": range(len(xs)),
                "x": xs,
            }
        )
        one_out, one_state = cusum_step((1,), [pdf], None, k=0.5, h=4.0)
        state, chained = None, []
        bounds = _cuts(data, len(xs))
        for a, b in zip(bounds, bounds[1:]):
            out, state = cusum_step((1,), [pdf[a:b]], state, k=0.5, h=4.0)
            chained.extend(out)
        assert chained == one_out
        assert state == one_state

    prop()


# ------------------------------------------------------------- gap fill

gap_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=50 * 3600),  # seconds span
        st.floats(min_value=1.0, max_value=99.0, allow_nan=False),
        st.floats(min_value=0.01, max_value=9.0, allow_nan=False),
    ),
    min_size=1,
    max_size=100,
)


@seed_matrix
def test_gap_fill_split_invariance(hseed):
    """Data-driven path only: the pending bucket is gap_fill's OWN
    holdback (it finalizes when a later bucket arrives), so cuts inside
    a bucket — the bucket analog of the z tie group — must not change
    the emitted bar sequence. The timer path is absence-driven and has
    no one-shot analog (Spark-level tests cover it)."""

    @seed(hseed)
    @settings(max_examples=100, deadline=None, database=None)
    @given(gap_rows, st.data())
    def prop(raw, data):
        rows = sorted((s * 1_000_000, i, p, q) for i, (s, p, q) in enumerate(raw))
        pdf = pd.DataFrame(
            {
                "ts_us": [r[0] for r in rows],
                "event_id": [r[1] for r in rows],
                "price": [r[2] for r in rows],
                "qty": [r[3] for r in rows],
            }
        )
        one_out, one_state = gap_fill_step((1,), [pdf], None)
        state, chained = None, []
        bounds = _cuts(data, len(rows))
        for a, b in zip(bounds, bounds[1:]):
            out, state = gap_fill_step((1,), [pdf[a:b]], state)
            chained.extend(out)
        nn = lambda t: tuple(
            "nan" if isinstance(v, float) and math.isnan(v) else v for v in t
        )  # last_close starts as the NaN sentinel; nan != nan in tuples
        assert chained == one_out
        assert nn(state) == nn(one_state)

    prop()


# --------------------------------------------------------- Holt per-bar

holt_closes = st.lists(
    st.floats(min_value=1.0, max_value=999.0, allow_nan=False),
    min_size=1,
    max_size=80,
)


@seed_matrix
def test_holt_fold_split_invariance(hseed):
    """The live Holt fold carries (level, trend) as exact decimal
    strings; replaying the bar sequence in arbitrary chunks through
    holt_step_dec must be bit-identical to one pass (the string
    round-trip through the state table must not perturb it)."""

    @seed(hseed)
    @settings(max_examples=100, deadline=None, database=None)
    @given(holt_closes, st.data())
    def prop(closes, data):
        lvl = trd = None
        one = []
        for c in closes:
            lvl, trd, fitted = holt_step_dec(lvl, trd, Decimal(repr(c)))
            one.append((str(lvl), str(trd), str(fitted)))
        lvl_s = trd_s = None
        chained = []
        bounds = _cuts(data, len(closes))
        for a, b in zip(bounds, bounds[1:]):
            # state rides as strings, exactly like the persisted table
            lvl = Decimal(lvl_s) if lvl_s is not None else None
            trd = Decimal(trd_s) if trd_s is not None else None
            for c in closes[a:b]:
                lvl, trd, fitted = holt_step_dec(lvl, trd, Decimal(repr(c)))
                chained.append((str(lvl), str(trd), str(fitted)))
            if lvl is not None:
                lvl_s, trd_s = str(lvl), str(trd)
        assert chained == one

    prop()
