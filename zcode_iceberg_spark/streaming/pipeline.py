"""Structured Streaming mode (SURVEY H1-H8): the batch operators
re-expressed as streaming queries over the same event schema.

Mirrors the reference's core design duality — REST warmup (batch) and
WebSocket stream share one code path (reference data_manager.py:
191-196 seeds the same deques the stream appends to; SURVEY §3.2).
Here the parquet fixtures replay as a file-source stream and the SAME
aggregation expressions run under watermarks:

- watermark 120 s = the reference's retention slack beyond the max
  window (data_manager.py:626-629 keeps +120 s before evicting);
- tumbling/sliding windows via ``F.window`` (H1/H2);
- stateful hysteresis via ``applyInPandasWithState`` carrying
  (confirmed, pending, count) per key — the SAME step as the batch
  operator (operators/stateful.py:_hysteresis_step), so batch and
  streaming provably agree;
- ``Trigger.AvailableNow`` drains the fixture then stops (test mode);
  in production the same queries run continuously (H7 cadence is the
  trigger interval).

Scale: streaming state is per-key-and-window in the state store;
watermarks bound it. File source → Kafka source is a one-line swap
(same schema contract).

Keyed-fold contract. Every stateful stream here is one pure per-key
transition ``step(key, pdfs, prior) -> (rows, new_state)`` run by
``_keyed_fold``, the only place that touches GroupState. The hysteresis
and position steps also have a batch driver,
``operators/stateful.py:_keyed_batch``, which calls the same step once
per key with ``prior=None`` over the key's whole history; a step with
an end-of-data action takes a ``final`` flag that only batch callers
set (the FSM's EOD close). Both drivers build the output frame with
``_rows_frame``.

- ordering: a key's micro-batch rows can span several Arrow chunks,
  and chunk boundaries do not respect event order, so every
  order-dependent step concatenates ALL chunks before sorting
  (``_ordered_rows``) — by (ts, event_id) unless its batch twin
  orders otherwise; a tie-holdback step (z, live) hands the
  concatenated chunks unsorted (``_concat_rows``) to
  ``_tie_holdback``, whose sort over pending + new rows is its only
  one;
- state: ``prior`` is the stored tuple in the ``*_STATE_SCHEMA`` field
  order (None for a new key); the new state is written BEFORE the
  output frame is yielded, so correctness never depends on the engine
  draining the generator; a ``None`` new state removes the key;
- timers: a fold given ``deadline`` runs under EventTimeTimeout, its
  step also receives ``timed_out`` and ``watermark_ms``, and the timer
  is re-armed on every call at ``max(deadline(new_state), watermark +
  1)`` — Spark rejects a timestamp at or behind the watermark, and a
  past deadline (a late straggler, a held-back tie group) then fires
  at the next watermark advance.
"""

from __future__ import annotations

from functools import partial

import pandas as pd

from pyspark.errors import AnalysisException

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from zcode_iceberg_spark.operators.stateful import (
    FSM_STATE_SCHEMA,
    LEDGER_SCHEMA,
    _concat_rows,
    _hysteresis_step,
    _ordered_rows,
    _position_step,
    _rows_frame,
)
from zcode_iceberg_spark.sources.tables import normalize_ts, ts_micros

# Current driver layout: ts is parquet timestamp[us] tz-naive → NTZ.
# stream_events sniffs the real on-disk schema (footer-only batch read)
# so the stream survives the same layout drift the batch loader does.
EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

WATERMARK = "120 seconds"


def spark_round(v: float, quantum: str = "1e-6") -> float:
    """Mirror Spark's round() on DOUBLE: HALF_UP on the SHORTEST
    decimal repr (BigDecimal.valueOf ~ repr), not the exact binary
    expansion — without this, a value like 2.0000005 (binary
    ...49999...) rounds down in plain Python and up in Spark. Shared
    by every stateful kernel that must emit Spark-identical rounded
    values (refill, CUSUM).."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(v)).quantize(Decimal(quantum), ROUND_HALF_UP))


def _sniffed_parquet_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """readStream with the schema sniffed from the directory's parquet
    footers (a metadata-only batch read) — shared by every event
    stream so layout-drift handling lives in ONE place."""
    try:
        schema = spark.read.parquet(src_dir).schema
    except AnalysisException:
        # Empty dir at stream-definition time: fall back to the CURRENT
        # driver layout (NTZ). This fallback pins that one layout — if
        # the first files then land as int64-nanos, the NTZ read schema
        # misreads them; re-create the stream once files exist to
        # re-sniff. Only the no-files AnalysisException is absorbed so
        # real read failures still surface.
        schema = EVENT_SCHEMA
    return _file_stream(spark, src_dir, schema)


def _file_stream(
    spark: SparkSession, src_dir: str, schema, fmt: str = "parquet"
) -> DataFrame:
    """THE file-source stream: one file per micro-batch, so arrival
    order is epoch order (the append-ingest contract every stream here
    relies on)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format(fmt)
        .load(src_dir)
    )


def _drain_epochs(df: DataFrame, step, checkpoint: str, *args):
    """THE foreachBatch drain: run ``step(batch_df, epoch_id, *args)``
    over everything available now under ``checkpoint``. Returns the
    started StreamingQuery."""
    return (
        df.writeStream.foreachBatch(lambda b, e: step(b, e, *args))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _tick_stream_shape(ev: DataFrame) -> DataFrame:
    """The transport-agnostic normalization tail every event source
    funnels through (field selection, JSON qty, validity filter,
    watermark) — ONE boundary, so swapping the transport (parquet
    files, Kafka, socket replay) never touches an operator. The
    validity filter is the batch loader's: price > 0, qty > 0 and
    ts IS NOT NULL (a NaT tick has no event time; the watermark does
    not drop it inside foreachBatch, and the stateful kernels reject
    it).

    Same ``from_json`` parse as the batch loader (sources/tables.py
    ``events_ticks``, r12): one-field-schema Jackson parse binds the
    double directly — ~35% cheaper per scan than ``get_json_object``
    + cast, and batch/stream agreement tests pin the twins to
    identical values."""
    from pyspark.sql import types as T

    qty = F.from_json(
        "props", T.StructType([T.StructField("k", T.DoubleType())])
    )["k"]
    return (
        ev.select(
            "event_id",
            "ts",
            "user_id",
            "event_type",
            F.col("value").alias("price"),
            qty.alias("qty"),
            F.col("event_type").isin("click", "view", "signup").alias("is_buy"),
        )
        .filter(
            (F.col("price") > 0)
            & F.col("ts").isNotNull()
            & F.col("qty").isNotNull()
            & (F.col("qty") > 0)
        )
        .withWatermark("ts", WATERMARK)
    )


def stream_events(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-source stream of event rows, normalized exactly like the
    batch loader (sources/tables.py:normalize_ts): any on-disk ts layout
    → TIMESTAMP, JSON qty, validity filter — one schema for batch and
    stream (schema sniffing: see _sniffed_parquet_stream; reference
    analog: defensive feed ingest, data_manager.py:272-285)."""
    raw = _sniffed_parquet_stream(spark, src_dir)
    return _tick_stream_shape(normalize_ts(raw))


# ------------------------------------------------- Kafka transport seam
# The reference's live transport is a socket feed
# (futures_websocket.py:69-109); the production Spark analog is a
# Kafka topic. The engine's seam is the WIRE SCHEMA, not the broker:
# everything below consumes the exact column contract
# spark.readStream.format("kafka").load() produces, so going live is
# a one-line source swap — no operator, no normalization, no watermark
# changes (VERDICT r9 #9).

# the value-payload contract: one event per Kafka record, JSON-encoded
KAFKA_EVENT_JSON_SCHEMA = (
    "event_id LONG, ts STRING, user_id LONG, event_type STRING, "
    "value DOUBLE, props STRING"
)
# ISO timestamp with microseconds, UTC session — the explicit encoding
# the producer contract pins (a real feed declares its own; only this
# one parse line would change)
KAFKA_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"

# format("kafka")'s fixed wire schema (minus the broker): what the
# file-source emulation below must present so the decoder is tested
# against the REAL production contract
KAFKA_WIRE_SCHEMA = (
    "key BINARY, value STRING, topic STRING, partition INT, "
    "offset LONG, timestamp TIMESTAMP, timestampType INT"
)


def decode_kafka_events(wire: DataFrame) -> DataFrame:
    """Kafka-wire records → the SAME normalized tick stream
    ``stream_events`` produces: cast value bytes to string, from_json
    against the producer contract, parse event time, then the shared
    ``_tick_stream_shape`` tail (malformed payloads → from_json NULLs
    → dropped by the validity filter, the defensive-ingest behavior
    of reference data_manager.py:272-285). Works identically on a
    real ``format("kafka")`` source and the file emulation."""
    ev = (
        wire.select(
            F.from_json(
                F.col("value").cast("string"), KAFKA_EVENT_JSON_SCHEMA
            ).alias("e")
        )
        .select("e.*")
        .withColumn("ts", F.to_timestamp("ts", KAFKA_TS_FMT))
    )
    return _tick_stream_shape(ev)


def kafka_wire_file_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-source emulation of the Kafka wire: JSONL files whose rows
    carry the format("kafka") columns (value = the JSON event payload).
    The sandbox has no broker; this keeps the decoder and everything
    downstream tested against the exact wire contract, so production
    is `spark.readStream.format("kafka").option("subscribe", ...)
    .load()` in place of this call — nothing else moves."""
    return _file_stream(spark, src_dir, KAFKA_WIRE_SCHEMA, "json")


def stream_events_kafka(spark: SparkSession, src_dir: str) -> DataFrame:
    """``stream_events``' Kafka-transport twin: same output schema,
    same watermark, same validity semantics — proven by the
    stream≡stream agreement test (tests/test_streaming.py)."""
    return decode_kafka_events(kafka_wire_file_stream(spark, src_dir))


def windowed_delta_stream(ticks: DataFrame, window: str = "10 minutes") -> DataFrame:
    """E3 streaming twin: sliding taker-delta per key (H1)."""
    return (
        ticks.groupBy("user_id", F.window("ts", window, "5 minutes").alias("w"))
        .agg(
            F.sum(F.when(F.col("is_buy"), F.col("qty")).otherwise(0.0)).alias(
                "buy_vol"
            ),
            F.sum(F.when(~F.col("is_buy"), F.col("qty")).otherwise(0.0)).alias(
                "sell_vol"
            ),
        )
        .select(
            "user_id",
            F.col("w.start").alias("win_start"),
            "buy_vol",
            "sell_vol",
            (F.col("buy_vol") - F.col("sell_vol")).alias("delta"),
        )
    )


def tumbling_ohlc_stream(ticks: DataFrame, minutes: int = 60) -> DataFrame:
    """E8/H2 streaming twin: tumbling OHLCV bars with deterministic
    open/close (min_by/max_by on (ts, event_id))."""
    tie = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ticks.groupBy("user_id", F.window("ts", f"{minutes} minutes").alias("w"))
        .agg(
            F.min_by("price", tie).alias("open"),
            F.max("price").alias("high"),
            F.min("price").alias("low"),
            F.max_by("price", tie).alias("close"),
            F.sum("qty").alias("volume"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .select(
            "user_id", F.col("w.start").alias("bar_ts"),
            "open", "high", "low", "close", "volume", "n_ticks",
        )
    )


def _keyed_fold(
    df: DataFrame, keys, step, out_schema, state_schema, deadline=None
) -> DataFrame:
    """THE GroupState plumbing of every stateful stream (contract in the
    module docstring): group ``df`` by ``keys`` and fold each key's
    micro-batches through ``step``. ``rows`` may be a DataFrame, a list
    of row dicts or tuples, or one row dict; it is emitted as one frame
    in ``out_schema`` column order (nothing is emitted for no rows)."""
    cols = out_schema.fieldNames()

    def fn(key, pdfs, state):
        prior = state.get if state.exists else None
        if deadline is None:
            rows, new_state = step(key, pdfs, prior)
        else:
            wm = state.getCurrentWatermarkMs()
            rows, new_state = step(
                key, pdfs, prior, timed_out=state.hasTimedOut, watermark_ms=wm
            )
        if new_state is None:
            state.remove()
        else:
            state.update(new_state)
            at = deadline(new_state) if deadline is not None else None
            if at is not None:
                state.setTimeoutTimestamp(max(at, wm + 1))
        out = _rows_frame(rows, cols)
        if len(out):
            yield out

    timeout = (
        GroupStateTimeout.NoTimeout
        if deadline is None
        else GroupStateTimeout.EventTimeTimeout
    )
    return df.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "append", timeout
    )


HYST_STATE_SCHEMA = T.StructType(
    [
        T.StructField("confirmed", T.StringType()),
        T.StructField("pending", T.StringType()),
        T.StructField("count", T.IntegerType()),
    ]
)

HYST_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("raw_label", T.StringType()),
        T.StructField("confirmed_label", T.StringType()),
    ]
)


def hysteresis_stream(labeled: DataFrame, confirm_k: int = 2) -> DataFrame:
    """G16/H5 streaming twin: k-confirmation trend flips with carried
    GroupState. Input: ticks with a ``raw_label`` column (the
    thresholds are applied upstream, where the labels are made)."""
    return _keyed_fold(
        labeled,
        ["user_id"],
        partial(_hysteresis_step, confirm_k=confirm_k),
        HYST_OUT_SCHEMA,
        HYST_STATE_SCHEMA,
    )


ICE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("prev_qty", T.DoubleType()),  # NaN sentinel = none yet
        T.StructField("n_events", T.LongType()),
        T.StructField("n_refills", T.LongType()),
        T.StructField("refill_u", T.LongType()),  # exact micro-units
        T.StructField("max_qty", T.DoubleType()),
    ]
)

ICE_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("side", T.StringType()),
        T.StructField("lvl", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_refills", T.LongType()),
        T.StructField("refill_qty", T.DoubleType()),
        T.StructField("max_qty", T.DoubleType()),
        T.StructField("iceberg", T.BooleanType()),
    ]
)


def iceberg_refill_step(
    key: tuple, pdfs, state_tuple: tuple | None
) -> tuple[dict, tuple]:
    """The per-(key, side, lvl) refill fold shared by the streaming twin
    and its state-carry tests: consume batch rows in event order,
    return (cumulative output row, new state). Micro-unit rounding goes
    through Decimal(repr(x)) HALF_UP — the shortest-decimal route
    Spark's ``round`` takes (BigDecimal.valueOf), so the stream agrees
    with the batch query on every value."""
    import math

    if state_tuple is not None:
        prev, n, nr, ru, mx = state_tuple
        prev = None if math.isnan(prev) else prev
    else:
        prev, n, nr, ru, mx = None, 0, 0, 0, float("-inf")
    # the batch twin orders a level's rows by event_id alone
    rows = _ordered_rows(pdfs, ["event_id"])
    if rows is not None:
        for q in rows["qty"]:
            q = float(q)
            n += 1
            if q > mx:
                mx = q
            if prev is not None and q > prev:
                nr += 1
                ru += int(spark_round((q - prev) * 1e6, "1"))
            prev = q
    mx6 = spark_round(mx)
    row = {
        "user_id": key[0],
        "side": key[1],
        "lvl": key[2],
        "n_events": n,
        "n_refills": nr,
        "refill_qty": ru / 1e6,
        "max_qty": mx6,
        "iceberg": nr >= 2,
    }
    new_state = (prev if prev is not None else float("nan"), n, nr, ru, mx)
    return row, new_state


def iceberg_refill_stream(ticks: DataFrame) -> DataFrame:
    """Streaming twin of ``q_iceberg_refill`` (the namesake hidden-order
    detector): carried GroupState per (key, side, level) holds the last
    seen quantity plus cumulative counters, and every micro-batch emits
    the updated per-level row — the live view of which levels keep
    replenishing. State is 5 scalars per touched level; at scale it is
    bounded by the touched price grid per key (and a production feed
    would expire idle levels via timeouts)."""
    lv = ticks.select(
        "user_id",
        F.when(F.col("is_buy"), F.lit("bid")).otherwise(F.lit("ask")).alias("side"),
        F.floor("price").cast("bigint").alias("lvl"),
        "qty",
        "event_id",
    )
    return _keyed_fold(
        lv,
        ["user_id", "side", "lvl"],
        iceberg_refill_step,
        ICE_OUT_SCHEMA,
        ICE_STATE_SCHEMA,
    )


DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def quality_filter_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """Streaming twin of the batch quality classifier
    (suite/llm.py:q_quality_classifier), via the SAME kernel
    (operators/text.py:quality_filter): the hashed-linear-model score
    is a pure stateless projection, so the model-based quality filter
    streams for free — no state store, no watermark, per-row cost
    identical to the batch pass. This is the ingest-time shape: a
    feed scores-and-routes documents in the same micro-batch that
    lands them (compose with sources/sinks.py:route_by_flag to
    split keep/drop into separate tables on the boolean ``keep``
    column; route_quarantine is the _corrupt_record variant and does
    not apply here)."""
    from zcode_iceberg_spark.operators import text as tx

    raw = _file_stream(spark, src_dir, DOC_SCHEMA)
    return tx.quality_filter(raw)


def dedup_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """Streaming exact dedup of an arriving document feed: first-seen
    row per content hash via ``dropDuplicates`` keyed state — the
    canonical Structured Streaming dedup, and the streaming twin of
    the batch ``dedup_exact``/``dedup_incremental`` pair (state =
    the historical hash set those queries anti-join against).

    Scale note: keyed state here is one 16-byte md5 per distinct doc
    and grows without bound; a production feed with an event-time
    column bounds it with ``dropDuplicatesWithinWatermark`` (the
    fixture documents carry no timestamp, so the unbounded form is
    the honest mapping)."""
    raw = _file_stream(spark, src_dir, DOC_SCHEMA)
    return raw.select(
        "doc_id", "source", F.md5("text").alias("content_hash")
    ).dropDuplicates(["content_hash"])


def passage_dedup_stream(
    spark: SparkSession,
    src_dir: str,
    ledger_dir: str,
    out_dir: str,
    checkpoint: str,
    width: int = 8,
):
    """Streaming twin of the batch passage-level dedup
    (suite/llm.py:q_passage_dedup), in the incremental append-batch
    shape of ``dedup_incremental``: per micro-batch, the arriving
    docs' passage hashes (shared kernel:
    operators/text.py:passage_hashes) anti-join a persistent
    passage-hash LEDGER (first-seen set from all prior batches) plus a
    within-batch first-seen groupBy; per-doc rollups append to
    ``out_dir`` and the batch's novel hashes append to the ledger.

    Semantics: a passage is dup iff an equal hash was seen in an
    earlier batch OR at a smaller pkey within its own batch — equal to
    the batch query's global min-pkey rule whenever files arrive in
    pkey order (the append-ingest contract; agreement-tested in
    tests/test_streaming.py).

    Scale shape: everything keys on the 16-byte phash — the ledger is
    a compacted hash table (never text), the anti-join and first-seen
    groupBy hash-partition uniformly, and per-doc rollups are partial
    aggs. foreachBatch is at-least-once on crash replay, so both sinks
    write per-epoch subdirectories with overwrite — a replayed epoch
    rewrites its own partition instead of appending duplicates, making
    the pipeline effectively exactly-once under the checkpoint.
    Returns the started StreamingQuery."""
    raw = _file_stream(spark, src_dir, DOC_SCHEMA)
    return _drain_epochs(
        raw, passage_dedup_step, checkpoint, ledger_dir, out_dir, width
    )


def passage_dedup_step(
    batch_df: DataFrame,
    epoch_id: int,
    ledger_dir: str,
    out_dir: str,
    width: int = 8,
) -> None:
    """One ``passage_dedup_stream`` epoch (module-level so tests can
    replay an epoch directly and pin the overwrite-idempotence claim).
    Only ledger partitions from EARLIER epochs count as prior — a
    replayed epoch must not see its own crashed first attempt's
    hashes, or every passage it introduced would flip to duplicate."""
    from zcode_iceberg_spark.operators.text import passage_hashes

    s = batch_df.sparkSession
    p = passage_hashes(batch_df, "doc_id", "text", width=width)
    try:
        seen = (
            s.read.parquet(ledger_dir)
            .filter(F.col("epoch") < epoch_id)
            .select("phash")
            .distinct()
        )
    except AnalysisException:  # first batch: empty ledger
        seen = s.createDataFrame([], "phash string")
    first_in_batch = p.groupBy("phash").agg(F.min("pkey").alias("first_key"))
    marked = (
        p.join(first_in_batch, "phash")
        .join(seen.withColumn("prior", F.lit(True)), "phash", "left")
        .select(
            "doc_id",
            (
                F.col("prior").isNotNull()
                | (F.col("pkey") != F.col("first_key"))
            ).alias("is_dup"),
        )
    )
    stats = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_passages"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias("n_dup"),
        F.round(
            1.0
            - F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("uniq_ratio"),
    )
    stats.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")
    novel = first_in_batch.join(seen, "phash", "left_anti").select("phash")
    novel.write.mode("overwrite").parquet(f"{ledger_dir}/epoch={epoch_id}")


def substring_dedup_stream(
    spark: SparkSession,
    src_dir: str,
    ledger_dir: str,
    out_dir: str,
    checkpoint: str,
):
    """Streaming twin of the persisted exact-substring dedup
    (suite/llm.py:q_substring_dedup_persisted), in the incremental
    append-batch shape of ``passage_dedup_stream``: per micro-batch,
    the arriving docs' stride-1 window hashes probe the persistent
    window-hash LEDGER (earlier epochs' hashes); a position is
    duplicated iff its hash was seen in an earlier batch OR occurs ≥2
    times within its own batch — exactly the batch probe's
    ledger-OR-within-batch rule, so each epoch's per-doc span rollup
    equals ``substring_dedup_against`` run at that ingest point
    (agreement-tested in tests/test_streaming.py).

    NOTE the contract difference from passage_dedup_stream: the
    whole-corpus batch query's rule is SYMMETRIC (later copies also
    mark earlier positions), which no append-only stream can know at
    emit time — the streaming semantics are the INGEST-TIME semantics,
    the same ones the persisted daily-ingest probe implements.

    Scale shape: everything keys on the 16-byte window hash; the
    ledger is a compacted hash table (never text); both sinks write
    per-epoch subdirectories with overwrite, so an at-least-once
    foreachBatch replay rewrites its own partition instead of
    double-appending (effectively exactly-once under the checkpoint).
    Returns the started StreamingQuery."""
    raw = _file_stream(spark, src_dir, DOC_SCHEMA)
    return _drain_epochs(raw, substring_dedup_step, checkpoint, ledger_dir, out_dir)


def substring_dedup_step(
    batch_df: DataFrame, epoch_id: int, ledger_dir: str, out_dir: str
) -> None:
    """One ``substring_dedup_stream`` epoch (module-level so tests can
    replay an epoch and pin overwrite-idempotence). Only ledger
    partitions from EARLIER epochs count as prior — a replayed epoch
    must not see its own crashed first attempt's hashes, or every
    window it introduced would flip to duplicate."""
    from zcode_iceberg_spark.suite.llm import (
        SUBSTR_L,
        _substr_rollup,
        _substr_windows,
    )

    s = batch_df.sparkSession
    pos = _substr_windows(batch_df, SUBSTR_L)
    try:
        seen = (
            s.read.parquet(ledger_dir)
            .filter(F.col("epoch") < epoch_id)
            .select("h")
            .distinct()
        )
    except AnalysisException:  # first batch: empty ledger
        seen = s.createDataFrame([], "h string")
    wh = Window.partitionBy("h")
    dup = (
        pos.withColumn("n_batch", F.count(F.lit(1)).over(wh))
        .join(seen.withColumn("prior", F.lit(True)), "h", "left")
        .filter(F.col("prior").isNotNull() | (F.col("n_batch") > 1))
        .select("doc_id", "i")
    )
    stats = _substr_rollup(batch_df, dup, SUBSTR_L)
    stats.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")
    novel = pos.select("h").distinct().join(seen, "h", "left_anti")
    novel.write.mode("overwrite").parquet(f"{ledger_dir}/epoch={epoch_id}")


def ledger_delete_stream(
    spark: SparkSession,
    req_dir: str,
    req_schema: str,
    ledger_dir: str,
    key: str,
    checkpoint: str,
):
    """Streaming TAKEDOWN QUEUE for the persisted-ingest-state family
    (the production shape of deletion: removal requests — DMCA, PII —
    arrive continuously, not as a nightly batch): each micro-batch of
    requests merges its keys into the ledger's tombstone sidecar via
    the same ``ledger_delete`` maintenance op the batch path uses.

    Replay discipline: foreachBatch is at-least-once on crash, and
    unlike the ingest streams this sink needs NO epoch bookkeeping —
    tombstones are a grow-only SET and ``ledger_delete`` merges by
    key, so replaying an epoch re-merges the identical keys and the
    sidecar is unchanged by algebra (the ``merge_bitwise_or``
    join-semilattice discipline, sources/sinks.py). Deletes take
    effect immediately for merge-on-read probes
    (``read_with_tombstones``) and are folded by the nightly
    ``fold_tombstones`` compaction. Returns the started
    StreamingQuery."""
    from zcode_iceberg_spark.sources.sinks import ledger_delete

    raw = _file_stream(spark, req_dir, req_schema)

    def step(batch_df: DataFrame, _epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ledger_delete(batch_df.sparkSession, ledger_dir, batch_df, key)

    return _drain_epochs(raw, step, checkpoint)


EMB_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


HOLT_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("bar_ts", T.TimestampType()),
        T.StructField("close", T.DoubleType()),
        T.StructField("level", T.DoubleType()),
        T.StructField("trend", T.DoubleType()),
        T.StructField("fitted", T.DoubleType()),
        T.StructField("level_s", T.StringType()),  # exact decimal carry
        T.StructField("trend_s", T.StringType()),
    ]
)


def holt_stream_step(
    batch_df: DataFrame, epoch_id: int, out_dir: str, state_dir: str
) -> None:
    """One epoch of the live Holt forecaster: fold the arriving
    FINALIZED bars per key through the exact-decimal kernel
    (operators/timeseries.py:holt_step_dec — bit-equal to the batch
    query's Spark-decimal fold), seeded from the persisted state
    table; append the epoch's trajectory rows and upsert the exact
    state (level/trend as decimal STRINGS — doubles would re-introduce
    the binary noise the decimal design removed).

    Replay discipline (at-least-once foreachBatch): bars at or before
    each key's persisted last_ts are SKIPPED, and the epoch's output
    partition is (over)written only when the fold produced rows — so
    a replay after a crash-before-state-merge rewrites identical rows,
    and a replay after a crash-after-state-merge leaves the original
    partition untouched instead of clobbering it with the
    empty re-fold (tests pin both)."""
    from decimal import ROUND_HALF_UP, Decimal
    from pathlib import Path as _Path

    import pandas as pd

    from zcode_iceberg_spark.operators.timeseries import holt_step_dec
    from zcode_iceberg_spark.sources.sinks import merge_upsert

    spark = batch_df.sparkSession
    have_state = _Path(state_dir).exists()
    if have_state:
        st = spark.read.parquet(state_dir)
    else:
        st = spark.createDataFrame(
            [],
            "user_id long, level_s string, trend_s string, last_ts timestamp",
        )
    joined = batch_df.select("user_id", "bar_ts", "close").join(
        F.broadcast(st), "user_id", "left"
    )
    q6 = Decimal("1E-6")

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bar_ts", kind="mergesort")
        lvl_s = pdf["level_s"].iloc[0]
        lvl = Decimal(lvl_s) if isinstance(lvl_s, str) else None
        trd = Decimal(pdf["trend_s"].iloc[0]) if lvl is not None else None
        last_ts = pdf["last_ts"].iloc[0]
        out = []
        for r in pdf.itertuples():
            if last_ts is not None and not pd.isna(last_ts):
                if r.bar_ts <= last_ts:
                    continue  # replayed / already-folded bar
            x = Decimal(repr(float(r.close)))
            lvl, trd, fitted = holt_step_dec(lvl, trd, x)
            out.append(
                {
                    "user_id": r.user_id,
                    "bar_ts": r.bar_ts,
                    "close": float(x.quantize(q6, rounding=ROUND_HALF_UP)),
                    "level": float(lvl.quantize(q6, rounding=ROUND_HALF_UP)),
                    "trend": float(trd.quantize(q6, rounding=ROUND_HALF_UP)),
                    "fitted": float(
                        fitted.quantize(q6, rounding=ROUND_HALF_UP)
                    ),
                    "level_s": str(lvl),
                    "trend_s": str(trd),
                }
            )
        return pd.DataFrame(
            out, columns=[f.name for f in HOLT_OUT_SCHEMA.fields]
        )

    res = joined.groupBy("user_id").applyInPandas(fold, HOLT_OUT_SCHEMA)
    res = res.localCheckpoint()  # fold once; outputs + state both read it
    if res.isEmpty():
        return  # fully-replayed epoch: leave the original partition be
    res.drop("level_s", "trend_s").write.mode("overwrite").parquet(
        f"{out_dir}/epoch={epoch_id}"
    )
    from pyspark.sql import Window as _W

    last = (
        res.withColumn(
            "rn",
            F.row_number().over(
                _W.partitionBy("user_id").orderBy(F.desc("bar_ts"))
            ),
        )
        .filter("rn = 1")
        .select(
            "user_id",
            "level_s",
            "trend_s",
            F.col("bar_ts").alias("last_ts"),
        )
    )
    if have_state:
        merge_upsert(spark, state_dir, last, "user_id")
    else:
        last.write.parquet(state_dir)


def holt_stream(
    spark: SparkSession, src_dir: str, out_dir: str, state_dir: str,
    checkpoint: str,
):
    """Streaming twin of the Holt forecaster (suite q_holt_forecast):
    watermark-finalized hourly bars flow through the exact-decimal
    level+trend fold with persisted per-key state — the live
    forecasting stage of the composed pipeline. Agreement with the
    batch query on every finalized bar is pinned in
    tests/test_streaming.py. Returns the started query."""
    bars = tumbling_ohlc_stream(stream_events(spark, src_dir))
    return _drain_epochs(bars, holt_stream_step, checkpoint, out_dir, state_dir)


def cms_ingest_step(batch_df: DataFrame, epoch_id: int, cells_dir: str) -> None:
    """One Count-Min ingest epoch: the arriving docs' D×W cell table
    lands in its OWN epoch subdirectory with overwrite. COUNT state is
    NOT replay-idempotent by algebra (counts add, unlike the Bloom
    byte table's OR) — exactly-once comes from the epoch-keyed
    overwrite discipline the row ledgers use: a replayed epoch
    rewrites its partition instead of double-counting. The reader
    folds all epochs cell-wise (suite/linkage.py:read_cms)."""
    from zcode_iceberg_spark.suite.linkage import _cms_tokens, cms_cells

    cells = cms_cells(_cms_tokens(batch_df))
    cells.write.mode("overwrite").parquet(f"{cells_dir}/epoch={epoch_id}")


def cms_ingest_stream(
    spark: SparkSession, src_dir: str, cells_dir: str, checkpoint: str
):
    """Streaming twin of the Count-Min sketch builder: each
    micro-batch appends its epoch's cell table; the merged sketch
    (cell-wise sum over epochs) equals the one-shot batch sketch for
    ANY batch split — counts add. Returns the started query."""
    raw = _file_stream(spark, src_dir, DOC_SCHEMA)
    return _drain_epochs(raw, cms_ingest_step, checkpoint, cells_dir)


def bloom_ingest_step(batch_df: DataFrame, epoch_id: int, bits_dir: str) -> None:
    """One Bloom-ingest epoch: OR-merge the arriving docs' byte table
    into the persisted bitset. Module-level so tests can replay an
    epoch directly. NO epoch bookkeeping: bitwise-OR is a
    join-semilattice, so an at-least-once replay re-ORs the same bits
    and the table is unchanged by ALGEBRA — contrast the epoch-keyed
    overwrite the row ledgers (passage_dedup_step, live ledger) need
    to stay exactly-once."""
    from pathlib import Path as _Path

    from zcode_iceberg_spark.sources.sinks import merge_bitwise_or
    from zcode_iceberg_spark.suite.linkage import bloom_byte_table

    tbl = bloom_byte_table(
        batch_df.select(F.md5("text").alias("content_hash"))
    )
    if _Path(bits_dir).exists():
        merge_bitwise_or(batch_df.sparkSession, bits_dir, tbl)
    else:
        tbl.write.parquet(bits_dir)


def bloom_ingest_stream(
    spark: SparkSession, src_dir: str, bits_dir: str, checkpoint: str
):
    """Streaming twin of the Bloom-state builder
    (suite/linkage.py:build_bloom_state): each micro-batch of arriving
    documents OR-merges its byte table into the persisted bitset via
    the SAME kernel (bloom_byte_table) the batch path uses. The
    resulting state is batch-identical regardless of how the corpus
    was split into batches (OR is associative+commutative) — the
    agreement test pins it — and crash replay is idempotent by
    algebra. Returns the started query."""
    raw = _file_stream(spark, src_dir, DOC_SCHEMA)
    return _drain_epochs(raw, bloom_ingest_step, checkpoint, bits_dir)


def ann_index_stream(
    spark: SparkSession,
    src_dir: str,
    cents_dir: str,
    index_dir: str,
    checkpoint: str,
):
    """Streaming twin of the persisted-IVF ingest
    (suite/llm.py:build_ivf_state): each arriving micro-batch of
    embeddings is assigned to its nearest persisted coarse centroid —
    one broadcast of the tiny centroid table through the SAME kernel
    the batch build runs (operators/similarity.py:ivf_cell_ranks) —
    and lands in the index as an epoch-keyed overwrite partition, so
    at-least-once foreachBatch is effectively exactly-once under the
    checkpoint (the route_quarantine/passage_dedup sink rule).
    Batch warmup and live stream share one code path, the A4
    warmup/stream duality (reference: data_manager.py:191-196)
    applied to vector ingest. Returns the started StreamingQuery."""
    raw = _file_stream(spark, src_dir, EMB_SCHEMA)
    return _drain_epochs(raw, ann_index_step, checkpoint, cents_dir, index_dir)


def ann_index_state(spark: SparkSession, index_dir: str) -> DataFrame:
    """Resolve the epoch-partitioned streamed IVF index to the live
    assignment view (vec_id, embedding, nrm, cell): latest epoch wins
    per vec_id (a replayed epoch overwrote its own partition, so this
    is belt-and-braces against a vec_id re-ingested across epochs) —
    the scd2_state resolver applied to the vector index. This is the
    frame the incremental ANN query path consumes."""
    raw = spark.read.parquet(index_dir)
    wv = Window.partitionBy("vec_id").orderBy(F.col("epoch").desc())
    return (
        raw.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "nrm", "cell")
    )


def ann_index_step(
    batch_df: DataFrame, epoch_id: int, cents_dir: str, index_dir: str
) -> None:
    """One ``ann_index_stream`` epoch (module-level so tests can
    replay an epoch directly and pin the overwrite-idempotence
    claim): assign the batch, write its index rows to the epoch's own
    partition."""
    from zcode_iceberg_spark.operators.similarity import ivf_cell_ranks, norm

    cents = batch_df.sparkSession.read.parquet(cents_dir)
    vecs = batch_df.select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("nrm")
    )
    assigned = (
        ivf_cell_ranks(vecs, cents)
        .filter(F.col("crank") == 1)
        .select("vec_id", "embedding", "nrm", "cell")
    )
    assigned.write.mode("overwrite").parquet(f"{index_dir}/epoch={epoch_id}")


def scd2_step(batch_df: DataFrame, epoch_id: int, table_dir: str) -> None:
    """One streaming SCD2-apply epoch (module-level so tests can
    replay an epoch and pin overwrite-idempotence, the passage-ledger
    discipline): the arriving micro-batch's attribute runs merge onto
    the persisted version table — a run continuing a key's open
    version rewrites THAT version's row (summed n_events, original
    start_ts/number), other runs append as new numbered versions.
    Epoch partitions overwrite on replay; reads resolve each
    (key, version) to its latest epoch, so a crashed epoch's rows are
    superseded, never double-counted. Only versions the batch TOUCHES
    are written — state I/O is proportional to arriving keys, and
    historical events are never rescanned (the same contract
    q_scd2_incremental proves against the batch-rebuild oracle)."""
    from zcode_iceberg_spark.suite.flow import (
        _scd2_open,
        _scd2_renumber,
        _scd2_runs,
    )

    s = batch_df.sparkSession
    ev = batch_df.select(
        "user_id", "ts", "event_id", F.col("event_type").alias("attr")
    )
    new_runs = _scd2_runs(ev)
    try:
        prior = s.read.parquet(table_dir).filter(F.col("epoch") < epoch_id)
        wv = Window.partitionBy("user_id", "version").orderBy(
            F.col("epoch").desc()
        )
        cur = (
            prior.withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .select("user_id", "version", "attr", "start_ts", "n_events")
        )
    except AnalysisException:  # first batch: empty state
        cur = s.createDataFrame(
            [],
            "user_id long, version bigint, attr string, "
            "start_ts timestamp, n_events bigint",
        )
    # shared renumber core (suite/flow.py:_scd2_renumber) — the stream
    # step differs from the batch apply only in HOW a merged run
    # lands: here the open version's row is REWRITTEN (latest epoch
    # wins at read), vs the batch apply's fragment-emit + merge agg
    br = _scd2_renumber(new_runs.join(_scd2_open(cur), "user_id", "left"))
    out = br.select(
        "user_id",
        F.col("new_version").alias("version"),
        "attr",
        F.when(F.col("is_cont"), F.col("open_start"))
        .otherwise(F.col("start_ts"))
        .alias("start_ts"),
        F.when(
            F.col("is_cont"), F.col("open_n") + F.col("n_events")
        )
        .otherwise(F.col("n_events"))
        .cast("bigint")
        .alias("n_events"),
    )
    out.write.mode("overwrite").parquet(f"{table_dir}/epoch={epoch_id}")


def scd2_state(spark: SparkSession, table_dir: str) -> DataFrame:
    """Resolve the epoch-partitioned SCD2 state to the live version
    table: per (key, version), the row from the latest epoch wins."""
    prior = spark.read.parquet(table_dir)
    wv = Window.partitionBy("user_id", "version").orderBy(
        F.col("epoch").desc()
    )
    return (
        prior.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("user_id", "version", "attr", "start_ts", "n_events")
    )


def scd2_versions_from_state(spark: SparkSession, table_dir: str) -> DataFrame:
    """Finalized view of the streamed state — same output schema as
    the batch q_scd2_versions (valid_from/valid_to strings, is_current)."""
    from zcode_iceberg_spark.suite.flow import _scd2_finalize

    return _scd2_finalize(scd2_state(spark, table_dir))


def scd2_stream(
    spark: SparkSession, src_dir: str, table_dir: str, checkpoint: str
):
    """Streaming twin of the SCD2 apply: each micro-batch of events
    merges onto the persisted version table via ``scd2_step``. CDC
    contract: per-key in-order arrival (file source replays
    time-split files oldest-first). Returns the started query."""
    # stream_events carries the SAME normalization/validity projection
    # as the batch loader (events_ticks), so the streamed version table
    # sees byte-identical inputs to the q_scd2_versions oracle
    ev = stream_events(spark, src_dir).select(
        "event_id", "ts", "user_id", "event_type"
    )
    return _drain_epochs(ev, scd2_step, checkpoint, table_dir)


def dedup_stream_bounded(spark: SparkSession, src_dir: str) -> DataFrame:
    """Bounded-state streaming dedup: ``dropDuplicatesWithinWatermark``
    keeps the first-seen row per event_id and EVICTS each key's state
    once the watermark passes its event time + delay — state is
    O(keys within one watermark window), not O(all history). This is
    the form that survives an unbounded feed at 100 TB; the unbounded
    ``dedup_stream`` hash-set form is the honest mapping only for the
    timestamp-less documents table. The contract: duplicates arriving
    within WATERMARK of the first occurrence are guaranteed dropped."""
    return stream_events(spark, src_dir).dropDuplicatesWithinWatermark(["event_id"])


def run_available_now(df: DataFrame, out_dir: str, checkpoint: str) -> None:
    """Drain the stream deterministically (test/batch-replay mode)."""
    q = (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


ZS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("win_ts", T.ArrayType(T.LongType())),
        T.StructField("win_sq", T.ArrayType(T.DoubleType())),
        T.StructField("ring", T.ArrayType(T.DoubleType())),
        # held-back trailing ts-group (see _tie_holdback): parallel
        # arrays of the raw input rows not yet provably complete
        T.StructField("pend_ts_us", T.ArrayType(T.LongType())),
        T.StructField("pend_eid", T.ArrayType(T.LongType())),
        T.StructField("pend_price", T.ArrayType(T.DoubleType())),
        T.StructField("pend_qty", T.ArrayType(T.DoubleType())),
        T.StructField("pend_buy", T.ArrayType(T.BooleanType())),
    ]
)
ZS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("z", T.DoubleType()),
    ]
)

ZS_WINDOW_SEC = 600
ZS_POP_ROWS = 50
ZS_MIN_POP = 30


def _tie_holdback(
    pend: pd.DataFrame, batch: pd.DataFrame
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """The micro-batch-split invariance guard for tie-group kernels
    (VERDICT r10 #1): the batch z definition is a VALUE-inclusive
    RANGE frame — every row of a same-ts group shares one delta that
    is only defined once the WHOLE group has arrived — so a streaming
    kernel must not evaluate a row while later same-ts rows could
    still be in flight. Combine the carried pending rows with the new
    micro-batch, restore total (ts, event_id) order, and hold back the
    trailing same-ts group; it is released either by a later batch
    whose rows advance ts past it, or by the event-time-timeout flush
    when the key goes quiet (under the engine's standing in-order
    per-key delivery assumption, a tie group never resumes after a
    batch in which its key delivered nothing).

    Column-agnostic (works for the z wrapper's 5-column frame and the
    fused live pipeline's 6-column gated frame); returns
    ``(complete_rows, new_pending)``."""
    pdf = pd.concat([pend, batch], ignore_index=True).sort_values(
        ["ts", "event_id"], kind="mergesort"
    )
    if not len(pdf):
        return pdf, pdf
    done = (pdf["ts"] < pdf["ts"].iloc[-1]).to_numpy()
    return pdf[done], pdf[~done]


def _holdback_release(
    pend: pd.DataFrame, batch: pd.DataFrame | None, timed_out: bool
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """One call's ``(ready, new_pending)`` for a tie-holdback fold:
    new rows go through ``_tie_holdback``; a timeout (the key sat out a
    watermark advance) releases the held group, which under in-order
    per-key delivery is complete; a call with neither keeps it held —
    the group may still be mid-flight."""
    if batch is not None:
        return _tie_holdback(pend, batch)
    if timed_out:
        return pend, pend.iloc[0:0]
    return pend.iloc[0:0], pend


def _release_deadline(state_schema):
    """Timer of a tie-holdback fold: while rows are held back, fire at
    the next watermark advance (-1 is always past, so ``_keyed_fold``
    clamps it to watermark + 1); no timer otherwise."""
    i = state_schema.fieldNames().index("pend_ts_us")
    return lambda st: -1 if len(st[i]) else None


def _zscore_step(
    pdf: pd.DataFrame,
    state: tuple[list, list, list],
    window_sec: int = ZS_WINDOW_SEC,
    pop_rows: int = ZS_POP_ROWS,
    min_pop: int = ZS_MIN_POP,
) -> tuple[list[float], tuple[list, list, list]]:
    """Per-key trailing delta-z kernel — the streaming twin of
    operators/flow.py:delta_zscore's window math, shared by
    ``zscore_stream`` and the fused live pipeline. Carried state:
    the trailing ``window_sec`` (ts_us, signed qty) buffer plus the
    last ``pop_rows`` deltas. ``pdf`` must be sorted by (ts, event_id)
    and carry ts/qty/is_buy; returns one z per row.

    Chaining contract (tie-group completeness): each call's ``pdf``
    must contain only COMPLETE same-ts groups — a group's delta is
    defined over the whole group, so feeding it a partial group emits
    z from a partial delta. The streaming wrappers guarantee this via
    ``_tie_holdback`` (the trailing ts-group rides in GroupState until
    ts strictly advances or the event-time timeout flushes it); under
    that guard the chained kernel is bit-exact with one-shot
    processing for ARBITRARY micro-batch cuts
    (tests/test_zscore_kernel.py::test_batch_split_invariance).

    Float discipline mirrors the batch plan exactly: the RANGE frame
    is value-inclusive (all same-ts rows share one delta, computed
    AFTER the whole ts-group enters the window), the delta is a fresh
    left-to-right sum per ts (Spark's sliding frames re-aggregate per
    row), avg = plain sum/n, and stddev_pop is Spark's Welford-style
    central-moment update — so stream z ≡ batch z at round-6 (pinned
    by tests/test_streaming.py)."""
    import math

    win_ts, win_sq, ring = list(state[0]), list(state[1]), list(state[2])
    zs: list[float] = []
    ts_us = (pdf["ts"].astype("int64") // 1000).to_numpy()
    sq = [
        float(q) if b else -float(q)
        for q, b in zip(pdf["qty"], pdf["is_buy"])
    ]
    i = 0
    n_rows = len(pdf)
    while i < n_rows:
        j = i
        while j < n_rows and ts_us[j] == ts_us[i]:
            j += 1
        # the whole ts-group enters before any of its deltas evaluate
        for k in range(i, j):
            win_ts.append(int(ts_us[k]))
            win_sq.append(sq[k])
        lo = int(ts_us[i]) - window_sec * 1_000_000
        drop = 0
        while drop < len(win_ts) and win_ts[drop] < lo:
            drop += 1
        if drop:
            win_ts = win_ts[drop:]
            win_sq = win_sq[drop:]
        delta = 0.0
        for v in win_sq:
            delta += v
        for _ in range(i, j):
            ring.append(delta)
            if len(ring) > pop_rows:
                ring = ring[-pop_rows:]
            n = len(ring)
            s = 0.0
            for v in ring:
                s += v
            mu = s / n
            mean = 0.0
            m2 = 0.0
            cnt = 0
            for v in ring:
                cnt += 1
                d = v - mean
                mean += d / cnt
                m2 += d * (v - mean)
            sigma = math.sqrt(m2 / n)
            zs.append((delta - mu) / sigma if n >= min_pop and sigma > 0 else 0.0)
        i = j
    return zs, (win_ts, win_sq, ring)


def _pend_unpack(p_ts, p_eid, p_px, p_qty, p_buy, p_sig=None) -> pd.DataFrame:
    """Carried pending arrays → the input-row frame _tie_holdback eats
    (ts reconstructed at exact µs precision — the round-trip through
    int64 µs is lossless for parquet timestamp[us] event time)."""
    cols = {
        "ts": pd.to_datetime(pd.Series(p_ts, dtype="int64") * 1000),
        "event_id": pd.Series(p_eid, dtype="int64"),
        "price": pd.Series(p_px, dtype="float64"),
        "qty": pd.Series(p_qty, dtype="float64"),
        "is_buy": pd.Series(p_buy, dtype="bool"),
    }
    if p_sig is not None:
        cols["entry_signal"] = pd.Series(p_sig, dtype="bool")
    return pd.DataFrame(cols)


def _pend_pack(pend: pd.DataFrame) -> tuple:
    """``_pend_unpack``'s inverse (the gate array only when ``pend``
    carries ``entry_signal``)."""
    packed = (
        [int(v) for v in pend["ts"].astype("int64") // 1000],
        [int(v) for v in pend["event_id"]],
        [float(v) for v in pend["price"]],
        [float(v) for v in pend["qty"]],
        [bool(v) for v in pend["is_buy"]],
    )
    if "entry_signal" in pend:
        packed += ([bool(v) for v in pend["entry_signal"]],)
    return packed


def _z_release(batch, zst, pend, timed_out):
    """The z half of a tie-holdback step: release the complete ts-groups
    of the carried pending rows plus ``batch`` (this call's rows,
    unsorted — ``_tie_holdback`` orders them) and z-score them. Returns
    ``(ready, zs, new_z_state, new_packed_pending)``."""
    ready, held = _holdback_release(_pend_unpack(*pend), batch, timed_out)
    zs, zst = _zscore_step(ready, zst)
    return ready, zs, zst, _pend_pack(held)


_ZS_COLS = ["ts", "event_id", "price", "qty", "is_buy"]


def _zscore_stream_step(key, pdfs, prior, timed_out=False, watermark_ms=-1):
    """Per-key ``zscore_stream`` transition over the ``ZS_STATE_SCHEMA``
    tuple: z-score the complete ts-groups ``_z_release`` lets through."""
    if prior is None:
        prior = [[]] * 8
    batch = _concat_rows(pdfs)
    ready, zs, zst, pend = _z_release(
        None if batch is None else batch[_ZS_COLS],
        prior[:3],
        prior[3:],
        timed_out,
    )
    out = pd.DataFrame(
        {
            "user_id": [int(key[0])] * len(ready),
            "ts": ready["ts"].values,
            "event_id": ready["event_id"].values,
            "price": ready["price"].values,
            "z": zs,
        }
    )
    return out, (*zst, *pend)


def zscore_stream(ticks: DataFrame) -> DataFrame:
    """E3+E4 streaming twin: the per-tick taker-delta z-score computed
    LIVE with carried GroupState (trailing time-window buffer + delta
    ring) — the feature battery stage of the composed live pipeline.
    State is bounded by window_sec of ticks + pop_rows doubles + one
    in-flight ts-group per key, the exact information content of the
    batch window frames.

    Tie-group discipline (VERDICT r10 #1): the trailing same-ts group
    of every micro-batch is held back in state (_tie_holdback) and
    released when ts strictly advances; a quiet key's held group is
    flushed by the event-time timeout once the watermark moves — so z
    is ALWAYS computed from a complete group delta, for arbitrary
    micro-batch cuts, matching the batch RANGE-frame definition."""
    return _keyed_fold(
        ticks.select("user_id", *_ZS_COLS),
        ["user_id"],
        _zscore_stream_step,
        ZS_OUT_SCHEMA,
        ZS_STATE_SCHEMA,
        deadline=_release_deadline(ZS_STATE_SCHEMA),
    )


# z window, FSM carry, held-back ts-group incl. the gate: the state
# store's persisted layout (pinned field by field in the tests)
LIVE_STATE_SCHEMA = T.StructType(
    ZS_STATE_SCHEMA.fields[:3]
    + FSM_STATE_SCHEMA.fields
    + ZS_STATE_SCHEMA.fields[3:]
    + [T.StructField("pend_sig", T.ArrayType(T.BooleanType()))]
)


_LIVE_COLS = [*_ZS_COLS, "entry_signal"]


def _live_step(key, pdfs, prior, timed_out=False, watermark_ms=-1):
    """Per-key ``live_decisions_fsm_stream`` transition over the
    ``LIVE_STATE_SCHEMA`` tuple: ``_z_release`` — the same tie-group
    holdback as ``zscore_stream``, so z AND the FSM walk only ever see
    complete ts-groups (the FSM consumes z, so a partial-group z would
    contaminate the decision sequence too) — then gated z →
    ``_position_step``."""
    if prior is None:
        zst, carry, pend = [[]] * 3, None, [[]] * 6
    else:
        zst, carry, pend = prior[:3], prior[3:8], prior[8:]
    batch = _concat_rows(pdfs)
    if batch is not None:
        batch = batch[_LIVE_COLS].assign(
            entry_signal=batch["entry_signal"].fillna(False)
        )
    ready, zs, zst, pend = _z_release(batch, zst, pend, timed_out)
    gate = ready["entry_signal"].to_numpy()
    dec = ready[["ts", "event_id", "price"]].assign(
        z=[z if g else 0.0 for z, g in zip(zs, gate)]
    )
    rows, carry = _position_step(key, [dec], carry)
    return rows, (*zst, *carry, *pend)


def live_decisions_fsm_stream(gated_ticks: DataFrame) -> DataFrame:
    """The composed live tick path as ONE stateful operator: per key
    and micro-batch, the z-score kernel (`_zscore_step`) runs first,
    the signal-score entry gate masks z (the ``entry_signal`` column,
    broadcast-joined upstream by ``live_tick_pipeline`` from the warmup
    score table, evaluated once at definition — a ``LocalTableScan``
    in every batch), and the SAME ``_position_step`` the batch
    ``position_fsm`` runs walks the decisions — feature battery → gate
    → FSM in one GroupState row, one shuffle. Emits closed-trade
    ledger rows as they happen.

    Fusing (rather than chaining two applyInPandasWithState stages)
    is also the scale-correct plan: both stages key on user_id, so a
    chain would re-shuffle the tick stream between them for nothing.
    """
    return _keyed_fold(
        gated_ticks,
        ["user_id"],
        _live_step,
        LEDGER_SCHEMA,
        LIVE_STATE_SCHEMA,
        deadline=_release_deadline(LIVE_STATE_SCHEMA),
    )


def live_tick_pipeline(
    spark: SparkSession,
    src_dir: str,
    sf_dir: str,
    out_dir: str,
    trigger_sec: float = 1.0,
    source=stream_events,
):
    """A1→A11 composed: THE reference product as one supervised
    streaming job (main.py:122-142 → strategy.py:334-443): normalized
    tick stream → stateful per-tick feature battery (trailing delta
    z) → warmup-frozen signal-score entry gate (q_signal_scores over
    the warmup corpus, evaluated once when the pipeline is defined and
    broadcast into the stream as a ``LocalTableScan`` in every batch,
    supervisor restarts included — the reference computes its score
    state from warmup-backfilled history the same way it trains its
    models there) → position FSM with carried
    GroupState → ledger sink (day-partitioned append, A6/A7) +
    daily-summary upsert (A8), one writeStream under the H7
    processing-time trigger. Returns (start_fn, ledger_dir,
    summary_dir): pass ``start_fn`` to lifecycle.supervise for the
    H9 crash/staleness lifecycle — restarts resume from the
    checkpoint, and foreachBatch replays are idempotent per epoch on
    BOTH sinks: the ledger lands as epoch-keyed overwrite partitions
    (day-partitioned inside, so readers still prune by day) and the
    summary is a per-day partition overwrite.

    Batch twin (hash-oracled registry entry): suite/stateful.py:
    q_live_pipeline_ledger — same gate, same kernels.

    ``source`` is the transport seam: any (spark, src_dir) → ticks
    builder with the _tick_stream_shape contract — the file source by
    default, ``stream_events_kafka`` for a Kafka-wire feed (the whole
    product downstream is transport-agnostic; proven by the Kafka
    end-to-end twin in tests/test_streaming.py)."""
    from zcode_iceberg_spark.sources.sinks import upsert_daily_partitions
    from zcode_iceberg_spark.suite.scoring import live_entry_gates

    ledger_dir = f"{out_dir}/ledger"
    summary_dir = f"{out_dir}/daily_summary"
    checkpoint = f"{out_dir}/checkpoint"
    # warmup phase: the per-key score table (k rows) — evaluated once,
    # here, and broadcast, exactly like the trained model blobs. A lazy
    # plan would re-run q_signal_scores in every micro-batch; an Arrow
    # table below spark.sql.execution.arrow.localRelationThreshold
    # becomes a LocalRelation (a list of Rows would become a LogicalRDD)
    gates = live_entry_gates(spark, sf_dir)
    gates = spark.createDataFrame(gates.toArrow(), gates.schema)
    gated = source(spark, src_dir).join(F.broadcast(gates), "user_id").select(
        "user_id", "ts", "event_id", "price", "qty", "is_buy", "entry_signal"
    )
    ledger = live_decisions_fsm_stream(gated)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        b = batch_df.withColumn(
            "day", F.date_format("exit_ts", "yyyy-MM-dd")
        ).persist()
        try:
            # the days this batch touched; none means an empty batch
            days = [r["day"] for r in b.select("day").distinct().collect()]
            if not days:
                return
            # epoch-keyed overwrite, day-partitioned inside: foreachBatch
            # is at-least-once, so a crash-replayed epoch REWRITES its own
            # batch_id partition instead of double-appending trades (the
            # route_quarantine/passage-ledger sink rule); day stays a
            # partition column so readers still prune by day
            b.write.mode("overwrite").partitionBy("day").parquet(
                f"{ledger_dir}/batch_id={epoch_id}"
            )
            # cumulative per-day rollup over everything landed so far,
            # upserted into ONLY the days this batch touched (A8)
            led = b.sparkSession.read.parquet(ledger_dir).filter(
                F.col("day").isin(days)
            )
            daily = led.groupBy("day").agg(
                F.count(F.lit(1)).alias("n_trades"),
                F.sum(F.when(F.col("pnl") > 0, 1).otherwise(0)).alias("n_wins"),
                F.sum(F.round(F.col("pnl") * 1e6).cast("bigint")).alias(
                    "pnl_micro"
                ),
            )
            upsert_daily_partitions(daily, summary_dir)
        finally:
            b.unpersist()

    def start():
        return (
            ledger.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", checkpoint)
            .trigger(processingTime=f"{trigger_sec} seconds")
            .start()
        )

    return start, ledger_dir, summary_dir


def position_fsm_stream(decisions: DataFrame) -> DataFrame:
    """H6 streaming twin: the position lifecycle FSM under
    ``applyInPandasWithState``, one state row per key carrying
    (trade_seq, sized qty, open position) across micro-batches —
    the SAME ``_position_step`` as the batch ``position_fsm``, so
    batch and stream provably agree on every CLOSED trade (the batch
    EOD close has no streaming analog: a stream never passes
    ``final``, so an open position simply stays in state awaiting
    more data).

    Input: streaming (user_id, ts, event_id, price, z). Output:
    ledger rows appended as trades close."""
    return _keyed_fold(
        decisions, ["user_id"], _position_step, LEDGER_SCHEMA, FSM_STATE_SCHEMA
    )


def range_join_stream(
    spark: SparkSession, src_dir: str, lookback_sec: int = 3600
) -> DataFrame:
    """D2 streaming twin: a STREAM-STREAM interval join — every
    purchase decision paired with the same user's trades from the
    trailing `lookback_sec` window, both sides live streams.

    The watermark + time-bound join condition is what makes this
    feasible at scale: the engine derives exactly how long each side's
    rows can still match a future row (trades: lookback + watermark;
    decisions: watermark) and EVICTS join state past that horizon —
    bounded state regardless of stream length. Inner-join matches emit
    as soon as both rows have arrived (no finalization wait).
    """
    decisions = stream_events(spark, src_dir).filter(
        F.col("event_type") == "purchase"
    ).select(
        "event_id", F.col("user_id").alias("d_user"), F.col("ts").alias("d_ts")
    )
    trades = stream_events(spark, src_dir).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        "qty",
        "is_buy",
    )
    cond = (
        (F.col("d_user") == F.col("t_user"))
        & (F.col("t_ts") <= F.col("d_ts"))
        & (F.col("t_ts") >= F.col("d_ts") - F.expr(f"INTERVAL {lookback_sec} SECONDS"))
    )
    return decisions.join(trades, cond, "inner")


def enriched_stream(spark: SparkSession, src_dir: str, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join (D5 × H-group): the live tick
    stream joined against the static customer dimension, broadcast
    per micro-batch — stateless (no watermark bookkeeping, nothing to
    evict), the standard way to attach slowly-changing dimensions to
    a stream: the dim is re-resolved each micro-batch, so a refreshed
    dimension table is picked up without restarting the query."""
    from zcode_iceberg_spark.sources.tables import load_table

    ticks = stream_events(spark, src_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").alias("nationkey"),
    )
    return ticks.join(F.broadcast(dim), "user_id", "left")


# ------------------------------------------------------ streaming funnel

def stream_events_raw(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-source stream of RAW event rows (all event types, no
    validity filter) — the input the funnel needs: `purchase`/`error`
    rows carry no qty payload but ARE funnel stages. Same footer-sniff
    schema handling (_sniffed_parquet_stream) and ts normalization as
    ``stream_events``."""
    raw = _sniffed_parquet_stream(spark, src_dir)
    return (
        normalize_ts(raw)
        .select("event_id", "ts", "user_id", "event_type")
        .withWatermark("ts", WATERMARK)
    )


FUNNEL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("t1_us", T.LongType()),  # -1 sentinel = not reached
        T.StructField("t2_us", T.LongType()),
        T.StructField("t3_us", T.LongType()),
        T.StructField("n_seen", T.LongType()),
    ]
)

FUNNEL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("stage_reached", T.LongType()),
        T.StructField("t1_us", T.LongType()),
        T.StructField("t2_us", T.LongType()),
        T.StructField("t3_us", T.LongType()),
        T.StructField("n_seen", T.LongType()),
    ]
)


def funnel_step(
    key: tuple,
    pdfs,
    state_tuple: tuple | None,
    stages: tuple[str, str, str] = ("view", "click", "purchase"),
    window_us: int = 6 * 3600 * 1_000_000,
) -> tuple[dict, tuple]:
    """Per-user funnel fold shared by the streaming twin and its
    state-carry tests: in event order, capture the FIRST stage-1
    event, then the first stage-2 event strictly after it within the
    window, then stage-3 likewise (exactly the batch
    `q_funnel_conversion` chain, suite/flow.py). Stage timestamps are
    monotone — once set they never move — so the fold is
    batch-boundary-invariant UNDER EVENT-TIME-ORDERED DELIVERY (the
    replay contract the agreement tests enforce). A cross-batch late
    arrival — legal inside the 120 s watermark — processes in arrival
    order and can miss a qualification the batch `lead` would count;
    that is the same at-arrival semantics the reference's live feed
    has, and the monotone stages bound the divergence to the one late
    transition."""
    t1, t2, t3, n = state_tuple if state_tuple is not None else (-1, -1, -1, 0)
    rows = _ordered_rows(pdfs, ["ts_us", "event_id"])
    if rows is not None:
        for typ, us in zip(rows["event_type"], rows["ts_us"]):
            us = int(us)
            n += 1
            if typ == stages[0]:
                if t1 < 0:
                    t1 = us
            elif typ == stages[1]:
                if t1 >= 0 and t2 < 0 and t1 < us <= t1 + window_us:
                    t2 = us
            elif typ == stages[2]:
                if t2 >= 0 and t3 < 0 and t2 < us <= t2 + window_us:
                    t3 = us
    stage = 3 if t3 >= 0 else 2 if t2 >= 0 else 1 if t1 >= 0 else 0
    row = {
        "user_id": key[0],
        "stage_reached": stage,
        "t1_us": t1,
        "t2_us": t2,
        "t3_us": t3,
        "n_seen": n,
    }
    return row, (t1, t2, t3, n)


def funnel_stream(events: DataFrame) -> DataFrame:
    """H-group streaming twin of `q_funnel_conversion`: carried
    GroupState per user holds the three stage timestamps; every
    micro-batch emits the user's current funnel position — the live
    conversion dashboard view. State is 4 longs per user, O(users)
    regardless of stream length (a production feed would expire
    long-idle users via a timeout)."""
    # single source of truth for stages and window: the batch query
    from zcode_iceberg_spark.suite.flow import FUNNEL_STAGES, FUNNEL_WINDOW_HOURS

    stages = tuple(FUNNEL_STAGES)
    window_us = FUNNEL_WINDOW_HOURS * 3600 * 1_000_000

    ev = events.select(
        "user_id",
        "event_id",
        "event_type",
        ts_micros().alias("ts_us"),
    )
    return _keyed_fold(
        ev,
        ["user_id"],
        partial(funnel_step, stages=stages, window_us=window_us),
        FUNNEL_OUT_SCHEMA,
        FUNNEL_STATE_SCHEMA,
    )


# ------------------------------------------- streaming event transitions

TRANS_STATE_SCHEMA = T.StructType(
    [T.StructField("last_type", T.StringType())]  # "" sentinel = none yet
)

TRANS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("from_type", T.StringType()),
        T.StructField("to_type", T.StringType()),
        T.StructField("event_id", T.LongType()),  # the 'to' event
    ]
)


def transitions_step(
    key: tuple, pdfs, state_tuple: tuple | None
) -> tuple[list[dict], tuple]:
    """Per-user transition fold shared by the streaming twin and its
    state-carry tests: in event order, emit one (from, to) pair per
    consecutive event, carrying the last seen type across batches —
    the streaming construction of the pairs `lead` builds in batch
    (q_event_transitions) — exactly equal under event-time-ordered
    delivery (the agreement tests' replay contract); cross-batch late
    arrivals inside the watermark pair up in arrival order instead
    (the reference's own live-feed semantics)."""
    last = state_tuple[0] if state_tuple is not None else ""
    out: list[dict] = []
    rows = _ordered_rows(pdfs, ["ts_us", "event_id"])
    if rows is not None:
        for typ, eid in zip(rows["event_type"], rows["event_id"]):
            if last:
                out.append(
                    {
                        "user_id": key[0],
                        "from_type": last,
                        "to_type": typ,
                        "event_id": int(eid),
                    }
                )
            last = typ
    return out, (last,)


def transitions_stream(events: DataFrame) -> DataFrame:
    """H-group streaming twin of `q_event_transitions`: GroupState per
    user carries only the last event type (one string — minimal
    state); each micro-batch appends the new transition pairs, and the
    live matrix is a downstream aggregation of the pair stream. The
    expensive part (the per-user ordering) stays exactly as cheap as
    the batch `lead` window."""
    ev = events.select(
        "user_id",
        "event_id",
        "event_type",
        ts_micros().alias("ts_us"),
    )
    return _keyed_fold(
        ev, ["user_id"], transitions_step, TRANS_OUT_SCHEMA, TRANS_STATE_SCHEMA
    )


# -------------------------------------------- event-time staleness monitor

STALE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)

STALE_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # 'live' | 'stale'
        T.StructField("last_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def _staleness_step(key, pdfs, prior, timed_out=False, watermark_ms=-1):
    """Per-key ``staleness_stream`` transition over the
    ``STALE_STATE_SCHEMA`` tuple: a timeout emits the `stale` alert and
    returns no state (the key is re-keyed by its next event); data
    refreshes (newest event time, count) and emits a `live` row. Both
    are commutative aggregates, so arrival order does not matter."""
    if timed_out:
        last_us, n = prior
        return {"user_id": key[0], "kind": "stale", "last_us": last_us,
                "n_events": n}, None
    last_us, n = prior if prior is not None else (-1, 0)
    for pdf in pdfs:
        if len(pdf):
            n += len(pdf)
            last_us = max(last_us, int(pdf["ts_us"].max()))
    return {"user_id": key[0], "kind": "live", "last_us": last_us,
            "n_events": n}, (last_us, n)


def staleness_stream(events: DataFrame, max_silence_sec: int = 300) -> DataFrame:
    """Stream-health watchdog on EVENT-TIME TIMERS (H9 made a real
    operator): every key carries (last event time, count) in
    GroupState and arms an event-time timeout {max_silence_sec}s past
    its newest event; when the WATERMARK passes that deadline with no
    new data, the state times out and the operator emits a `stale`
    alert row for the key — the reference's feed-staleness restart
    check (main.py:44, 20 s idle → resubscribe) as a first-class
    streaming query instead of driver-side plumbing.

    This is the one operator family that needs timers, not just
    carried state: output is DRIVEN BY ABSENCE of input. State is two
    longs per key; a fired timeout clears it (re-keyed on the next
    event), so state is O(currently-live keys). A late straggler whose
    deadline already trails the watermark is clamped by ``_keyed_fold`` to
    fire at the next watermark advance — immediately stale, the right
    semantics for it."""
    # keep the watermarked `ts` attribute in the projection — event-time
    # timeout requires the watermark column to survive to the stateful
    # operator (the fold itself reads only ts_us)
    ev = events.select("user_id", "ts", ts_micros().alias("ts_us"))
    return _keyed_fold(
        ev,
        ["user_id"],
        _staleness_step,
        STALE_OUT_SCHEMA,
        STALE_STATE_SCHEMA,
        deadline=lambda st: st[0] // 1000 + max_silence_sec * 1000,
    )


# --------------------------------------------- streaming gap-filled bars

GAPFILL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("pending_bucket", T.LongType()),  # -1 = none
        T.StructField("pending_close", T.DoubleType()),
        T.StructField("pending_vol", T.DoubleType()),
        T.StructField("pending_n", T.LongType()),
        T.StructField("last_close", T.DoubleType()),
        T.StructField("emitted_through", T.LongType()),  # -1 = nothing yet
    ]
)

GAPFILL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("bucket_us", T.LongType()),
        T.StructField("close_ff", T.DoubleType()),
        T.StructField("is_gap", T.BooleanType()),
        T.StructField("volume", T.DoubleType()),
        T.StructField("n_ticks", T.LongType()),
    ]
)

GAPFILL_BUCKET_US = 3600 * 1_000_000


def gap_fill_step(
    key: tuple,
    pdfs,
    state_tuple: tuple | None,
    bucket_us: int = GAPFILL_BUCKET_US,
    timed_out: bool = False,
    watermark_ms: int = -1,
) -> tuple[list[dict], tuple]:
    """Per-key continuous gap-fill fold shared by the streaming twin
    and its tests. Two finalization paths:

    - DATA-driven: an event in a LATER bucket finalizes the pending
      bucket (emit the real bar) and back-fills every silent bucket
      between as a gap row carrying the forward-filled close — under
      event-time-ordered delivery this reproduces exactly the batch
      `gap_fill` rows for every bucket up to the key's newest data.
    - TIMER-driven: when the event-time timeout fires (watermark passed
      the armed deadline with no data), the pending bucket finalizes
      and trailing gap heartbeats are emitted for every whole bucket
      the watermark has passed — the liveness half batch mode cannot
      express (output from ABSENCE of data).

    A late event into an already-finalized bucket is dropped (the
    at-arrival semantics of the other stateful twins)."""
    if state_tuple is not None:
        pb, pc, pv, pn, last_close, thru = state_tuple
    else:
        pb, pc, pv, pn, last_close, thru = -1, 0.0, 0.0, 0, float("nan"), -1
    out: list[dict] = []

    def emit(bucket, close, gap, vol, n):
        out.append(
            {
                "user_id": key[0],
                "bucket_us": int(bucket * bucket_us),
                "close_ff": float(close),
                "is_gap": bool(gap),
                "volume": float(vol),
                "n_ticks": int(n),
            }
        )

    def finalize_pending():
        nonlocal pb, pc, pv, pn, last_close, thru
        emit(pb, pc, False, pv, pn)
        last_close, thru = pc, pb
        pb, pc, pv, pn = -1, 0.0, 0.0, 0

    if timed_out:
        if pb >= 0:
            finalize_pending()
        if watermark_ms >= 0 and thru >= 0:
            wm_bucket = (watermark_ms * 1000) // bucket_us
            # heartbeat every fully-elapsed silent bucket
            for b in range(thru + 1, wm_bucket):
                emit(b, last_close, True, 0.0, 0)
                thru = b
        return out, (pb, pc, pv, pn, last_close, thru)

    rows = _ordered_rows(pdfs, ["ts_us", "event_id"])
    if rows is not None:
        for us, price, qty in zip(rows["ts_us"], rows["price"], rows["qty"]):
            b = int(us) // bucket_us
            if pb == -1:
                if thru == -1:
                    # first event ever for this key: the series STARTS
                    # here (batch spine starts at the key's min bar) —
                    # never back-fill toward the epoch
                    thru = b - 1
                if b <= thru:
                    continue  # late row into a finalized bucket: drop
                # back-fill silence between the last finalized bucket
                # and this one (the timer already emitted some of it)
                for hole in range(thru + 1, b):
                    emit(hole, last_close, True, 0.0, 0)
                    thru = hole
                pb, pc, pv, pn = b, float(price), float(qty), 1
            elif b == pb:
                pc, pv, pn = float(price), pv + float(qty), pn + 1
            elif b > pb:
                finalize_pending()
                for hole in range(thru + 1, b):
                    emit(hole, last_close, True, 0.0, 0)
                    thru = hole
                pb, pc, pv, pn = b, float(price), float(qty), 1
            # b < pb impossible under sorted input
    return out, (pb, pc, pv, pn, last_close, thru)


def gap_fill_stream(
    ticks: DataFrame, bucket_us: int = GAPFILL_BUCKET_US
) -> DataFrame:
    """E8+/H streaming twin of `operators/timeseries.gap_fill`: the
    continuous gap-filled bar stream (see gap_fill_step). State is six
    scalars per key; timers re-arm one bucket past the newest data, so
    a silent key keeps heart-beating gap bars as the watermark (driven
    by the rest of the stream) advances — the continuous-aggregate
    liveness a chart consumer needs."""
    ev = ticks.select(
        "user_id", "ts", "event_id", "price", "qty", ts_micros().alias("ts_us")
    )

    def deadline(st):
        # the pending bucket's end while one is open, else the end of
        # the NEXT whole bucket (so an idle key's timer fires exactly
        # once per elapsed heartbeat bucket, not on every micro-batch)
        pb, thru = st[0], st[5]
        if pb < 0 and thru < 0:
            return None
        return ((max(pb, thru + 1) + 1) * bucket_us) // 1000

    return _keyed_fold(
        ev,
        ["user_id"],
        partial(gap_fill_step, bucket_us=bucket_us),
        GAPFILL_OUT_SCHEMA,
        GAPFILL_STATE_SCHEMA,
        deadline=deadline,
    )


# ---------------------------------------------------- streaming CUSUM

CUSUM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("u_up", T.DoubleType()),
        T.StructField("u_up_min", T.DoubleType()),
        T.StructField("u_dn", T.DoubleType()),
        T.StructField("u_dn_max", T.DoubleType()),
    ]
)

CUSUM_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("s_up", T.DoubleType()),
        T.StructField("s_dn", T.DoubleType()),
        T.StructField("alarm_up", T.BooleanType()),
        T.StructField("alarm_dn", T.BooleanType()),
    ]
)


def cusum_step(
    key: tuple,
    pdfs,
    state_tuple: tuple | None,
    k: float | None = None,
    h: float | None = None,
) -> tuple[list[dict], tuple]:
    """Per-key CUSUM fold shared by the streaming twin and its tests:
    carries (ΣU⁺, min ΣU⁺, ΣU⁻, max ΣU⁻) — the four scalars the
    closed form S⁺ = U − min U needs — and emits one scored row per
    standardized return, identical to the batch `q_cusum_alarm`
    windows under event-time-ordered delivery."""
    if k is None or h is None:
        # single source of truth for the thresholds: the batch query
        from zcode_iceberg_spark.suite.flow import CUSUM_H, CUSUM_K

        k = CUSUM_K if k is None else k
        h = CUSUM_H if h is None else h
    if state_tuple is not None:
        u_up, u_up_min, u_dn, u_dn_max = state_tuple
    else:
        # Page's anchor: the extrema include U_0 = 0
        u_up, u_up_min, u_dn, u_dn_max = 0.0, 0.0, 0.0, 0.0
    out: list[dict] = []
    rows = _ordered_rows(pdfs, ["ts_us", "event_id"])
    if rows is not None:
        for x, eid in zip(rows["x"], rows["event_id"]):
            u_up += float(x) - k
            u_dn += float(x) + k
            u_up_min = min(u_up_min, u_up)
            u_dn_max = max(u_dn_max, u_dn)
            s_up = u_up - u_up_min
            s_dn = u_dn_max - u_dn
            out.append(
                {
                    "user_id": key[0],
                    "event_id": int(eid),
                    "s_up": spark_round(s_up),
                    "s_dn": spark_round(s_dn),
                    "alarm_up": s_up > h,
                    "alarm_dn": s_dn > h,
                }
            )
    return out, (u_up, u_up_min, u_dn, u_dn_max)


def cusum_stream(
    xs: DataFrame, k: float | None = None, h: float | None = None
) -> DataFrame:
    """Streaming twin of `q_cusum_alarm`'s scoring stage: input is the
    standardized-return stream (user_id, ts, event_id, x) — in
    production σ comes from the warmup batch exactly like the
    trained-model weights seam (H10); state is four floats per key."""
    ev = xs.select("user_id", "ts", "event_id", "x", ts_micros().alias("ts_us"))
    return _keyed_fold(
        ev,
        ["user_id"],
        partial(cusum_step, k=k, h=h),
        CUSUM_OUT_SCHEMA,
        CUSUM_STATE_SCHEMA,
    )
