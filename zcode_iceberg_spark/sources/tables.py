"""Parquet sources + ingest normalization (SURVEY.md A1-A4, B1-B3).

The reference ingests three market-data streams and a REST kline batch,
normalizing defensive dict-key fallbacks and dropping malformed rows
(reference: futures_websocket.py:69-109, data_manager.py:261-292,
501-530). Here the same roles are played by the driver's parquet tables
(TESTDATA.md): ``events`` stands in for the tick/trade stream
(ts→event time, value→price-like, props JSON→qty-like payload,
user_id→symbol-ish key), the TPC-H-ish star schema covers relational
coverage, and documents/embeddings cover the LLM-pipeline extensions.

Scale notes:
- Loads are plain ``spark.read.parquet`` so partition pruning, filter
  pushdown and column pruning all reach the scan.
- ``events.ts`` is nanosecond-precision parquet which Spark reads as
  LongType (session sets ``nanosAsLong``); we convert to TIMESTAMP via
  integer microsecond truncation — identical to DuckDB's ns→us cast so
  oracle comparisons agree (reference analog: epoch-ms → datetime at
  ingest, data_manager.py:510,792).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to session-zone TIMESTAMP no matter
    which physical layout the feed writes it in — the Spark analog of the
    reference's defensive ingest, which survives upstream format drift by
    normalizing every tick at the boundary (data_manager.py:272-285,
    futures_websocket.py:71-94). Handled layouts:

    - int64 nanoseconds (old driver layout, read as LongType under
      ``nanosAsLong``) → truncate to micros, ``timestamp_micros``;
    - parquet ``timestamp[us]`` tz-naive → Spark ``TIMESTAMP_NTZ`` →
      cast to TIMESTAMP (value-preserving: session timezone is UTC);
    - already TIMESTAMP → no-op.
    """
    dtype = dict(df.dtypes).get(col)
    if dtype in ("bigint", "long"):
        # exact floor(ns/1000) in integer arithmetic: double division
        # promotes the int64 nanosecond value past the 53-bit mantissa
        # (2026-era values truncate 1us off), and bare DIV truncates
        # toward zero, which is not floor for pre-1970 negatives — the
        # pmod subtraction makes the numerator an exact multiple first
        return df.withColumn(
            col,
            F.timestamp_micros(
                F.expr(f"CAST(({col} - pmod({col}, 1000)) DIV 1000 AS BIGINT)")
            ),
        )
    if dtype == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def ts_micros(col: str = "ts") -> Column:
    """Event time as epoch microseconds — the numeric order key of RANGE
    frames, bucket arithmetic and the streaming folds. The NTZ hop
    tolerates a TIMESTAMP_NTZ column that bypassed ``normalize_ts``
    (``unix_micros`` rejects NTZ; the session timezone is UTC, so the
    hop is value-preserving) while an un-normalized int64-nanos long
    still fails analysis loudly — a direct ``cast('timestamp')`` would
    silently read it as epoch SECONDS (far-future values, wrong
    windows)."""
    return F.unix_micros(F.col(col).cast("timestamp_ntz").cast("timestamp"))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table, normalizing ingest quirks.

    ``events.ts`` has shipped as int64 nanoseconds and as tz-naive
    ``timestamp[us]`` across driver versions; ``normalize_ts`` exposes a
    proper TIMESTAMP column either way so every downstream operator sees
    one event-time type.
    """
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_ts(df)
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def events_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → normalized tick-stream view (SURVEY B1-B3, G17).

    Mirrors the reference's trade-tick normalization: key fallbacks +
    validity filter dropping non-positive price/qty rows (reference:
    data_manager.py:501-530 drops ``price<=0 or qty<=0 or ts<=0``).

    Output schema: (event_id, ts, user_id, event_type, price, qty,
    is_buy) where price=value, qty is extracted from the JSON props
    payload (scalar JSON coverage, SURVEY G-group note), and is_buy is
    a deterministic side label standing in for ``!isBuyerMaker``.

    The JSON extraction + filter are Catalyst expressions: the filter
    on ``value`` is pushed to the parquet scan, and props parsing stays
    in whole-stage codegen.

    Parse choice (r12 measurement): ``from_json`` with a one-field
    schema beats ``get_json_object`` + string cast by ~35% per scan
    (0.53 s vs 0.81 s warm on the sf0.1 single-split file) because the
    Jackson parse binds the double directly instead of materializing
    the value as a string first — and the qty filter makes Catalyst
    evaluate the extraction up to 3× per row (twice in the Filter,
    once in the Project), so the per-call saving triples. Every ticks
    consumer pays this scan 1-5× per query, which makes it the widest
    single-expression lever in the registry (guide §4.1: prefer the
    cheapest JVM expression; §1.2: per-task work after plan shape).
    Value-equivalent to the oracle's ``json_extract_string`` + CAST on
    every driver corpus (props are uniformly ``{"k": <int>}`` —
    verified sf0.001/0.01/0.1, zero exceptions) and proven by the full
    oracle suite at sf0.001 + the driver-gate window at sf0.01.
    """
    from pyspark.sql import types as T

    ev = load_table(spark, sf_dir, "events")
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
    )


# DuckDB oracle twin of events_ticks, used as a CTE prefix by oracle SQL
# strings so Spark and DuckDB see byte-identical input relations.
EVENTS_TICKS_SQL = """
SELECT event_id,
       ts,
       user_id,
       event_type,
       value AS price,
       CAST(json_extract_string(props, '$.k') AS DOUBLE) AS qty,
       event_type IN ('click', 'view', 'signup') AS is_buy
FROM events
WHERE value > 0
  AND ts IS NOT NULL
  AND json_extract_string(props, '$.k') IS NOT NULL
  AND CAST(json_extract_string(props, '$.k') AS DOUBLE) > 0
"""
