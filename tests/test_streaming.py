"""Batch/stream agreement tests (SURVEY H1-H5): the streaming twins
must produce exactly the rows their batch counterparts produce, modulo
watermark finalization — windows still open at end-of-stream (within
the 120 s watermark of max event time) are legitimately unemitted in
append mode, so the batch side is filtered to finalized windows before
comparing.

The hysteresis agreement test replays the fixture as MULTIPLE files in
event-time order (mtime-ordered file source batches) so the GroupState
carry-over across micro-batches is actually exercised — a single-batch
drain would never touch the saved state.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile
import time
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from zcode_iceberg_spark.operators.stateful import hysteresis, micro
from zcode_iceberg_spark.sources.tables import events_ticks, load_table
from zcode_iceberg_spark.streaming.pipeline import (
    WATERMARK,
    hysteresis_stream,
    run_available_now,
    stream_events,
    tumbling_ohlc_stream,
    windowed_delta_stream,
)

def raw_label():
    # built lazily — column exprs need a live SparkContext
    return (
        F.when(F.col("qty") > 6.0, F.lit("UP"))
        .when(F.col("qty") < 3.0, F.lit("DOWN"))
        .otherwise(F.lit("RANGE"))
    )


@pytest.fixture()
def tmp():
    d = Path(tempfile.mkdtemp(prefix="zspark_stream_"))
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def raw_events_dir(spark, sf_dir):
    """events.parquet replayed as a 3-file directory, files split on
    event-time thirds with strictly increasing mtimes so the file
    source's oldest-first ordering replays event time."""
    d = Path(tempfile.mkdtemp(prefix="zspark_src_"))
    ev = load_table(spark, sf_dir, "events")
    # keep the raw on-disk ts layout: re-read without the ts
    # normalization — stream_events sniffs the real schema either way
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    qs = raw.approxQuantile("event_id", [0.33, 0.66], 0.0)
    bounds = [int(q) for q in qs]
    parts = [
        raw.filter(F.col("event_id") <= bounds[0]),
        raw.filter(
            (F.col("event_id") > bounds[0]) & (F.col("event_id") <= bounds[1])
        ),
        raw.filter(F.col("event_id") > bounds[1]),
    ]
    # event_id correlates with ts in the fixture; assert so the
    # time-ordered replay assumption is checked, not assumed
    assert ev.count() == sum(p.count() for p in parts)
    for i, p in enumerate(parts):
        sub = d / f"part{i}"
        p.coalesce(1).write.parquet(str(sub))
        f = next(sub.glob("*.parquet"))
        dst = d / f"{i:03d}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (time.time() + i, time.time() + i))
        shutil.rmtree(sub)
    yield str(d)
    shutil.rmtree(d, ignore_errors=True)


def _drain(spark, df, tmp, name):
    out, ckpt = str(tmp / f"{name}_out"), str(tmp / f"{name}_ckpt")
    run_available_now(df, out, ckpt)
    return spark.read.parquet(out)


def _finalized_cutoff(ticks):
    """Append mode emits a window once watermark passes its end; the
    final watermark is max(event time) - WATERMARK."""
    secs = int(WATERMARK.split()[0])
    hi = ticks.agg(F.max("ts")).collect()[0][0]
    return hi, secs


def test_stream_boundary_drops_null_ts_like_batch_loader(spark, sf_dir, tmp):
    """The stream's validity filter is the batch loader's, ts IS NOT
    NULL included, so a NaT tick never reaches a stateful kernel and
    both boundaries admit the same rows."""
    corpus = tmp / "nat"
    (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .orderBy("event_id")
        .limit(200)
        .withColumn("ts", F.when(F.col("event_id") % 3 != 0, F.col("ts")))
        .coalesce(1)
        .write.parquet(str(corpus / "events.parquet"))
    )
    got = _drain(
        spark, stream_events(spark, str(corpus / "events.parquet")), tmp, "nat"
    )
    want = {r["event_id"] for r in events_ticks(spark, str(corpus)).collect()}
    assert want  # some rows survive: the filter is not vacuous
    assert {r["event_id"] for r in got.collect()} == want
    assert got.filter(F.col("ts").isNull()).count() == 0


def test_windowed_delta_agreement(spark, sf_dir, raw_events_dir, tmp):
    st = windowed_delta_stream(stream_events(spark, raw_events_dir))
    got = _drain(spark, st, tmp, "delta").collect()

    ticks = events_ticks(spark, sf_dir)
    hi, secs = _finalized_cutoff(ticks)
    want = (
        windowed_delta_stream(ticks.withWatermark("ts", WATERMARK))
        .filter(
            F.col("win_start") + F.expr("INTERVAL 10 MINUTES")
            <= F.lit(hi) - F.expr(f"INTERVAL {secs} SECONDS")
        )
        .collect()
    )
    key = lambda r: (r["user_id"], r["win_start"])
    got_m = {key(r): (r["buy_vol"], r["sell_vol"], r["delta"]) for r in got}
    want_m = {key(r): (r["buy_vol"], r["sell_vol"], r["delta"]) for r in want}
    assert want_m  # nonempty: the fixture spans >> one window
    assert got_m == want_m


def test_session_window_stream_agreement(spark, sf_dir, raw_events_dir, tmp):
    """H9 streaming twin: `sessionize` (operators/flow.py) is the SAME
    expression batch and stream — merging session windows run
    incrementally under the watermark. A batch session is finalized
    (emitted in append mode) once the watermark passes its window end,
    which for session windows is last_event + gap."""
    from zcode_iceberg_spark.operators.flow import sessionize

    st = sessionize(stream_events(spark, raw_events_dir))
    got = _drain(spark, st, tmp, "sessions").collect()

    ticks = events_ticks(spark, sf_dir)
    hi, secs = _finalized_cutoff(ticks)
    want = (
        sessionize(ticks.withWatermark("ts", WATERMARK))
        .filter(
            F.col("session_end") + F.expr("INTERVAL 30 MINUTES")
            <= F.lit(hi) - F.expr(f"INTERVAL {secs} SECONDS")
        )
        .collect()
    )
    key = lambda r: (r["user_id"], r["session_start"])
    val = lambda r: (
        r["session_end"],
        r["n_events"],
        round(r["volume"], 6),
        round(r["buy_volume"], 6),
    )
    got_m = {key(r): val(r) for r in got}
    want_m = {key(r): val(r) for r in want}
    assert want_m  # nonempty: the fixture contains closed sessions
    assert got_m == want_m


def test_tumbling_ohlc_agreement(spark, sf_dir, raw_events_dir, tmp):
    st = tumbling_ohlc_stream(stream_events(spark, raw_events_dir))
    got = _drain(spark, st, tmp, "ohlc").collect()

    ticks = events_ticks(spark, sf_dir)
    hi, secs = _finalized_cutoff(ticks)
    want = (
        tumbling_ohlc_stream(ticks.withWatermark("ts", WATERMARK))
        .filter(
            F.col("bar_ts") + F.expr("INTERVAL 60 MINUTES")
            <= F.lit(hi) - F.expr(f"INTERVAL {secs} SECONDS")
        )
        .collect()
    )
    key = lambda r: (r["user_id"], r["bar_ts"])
    got_m = {key(r): (r["open"], r["high"], r["low"], r["close"]) for r in got}
    want_m = {key(r): (r["open"], r["high"], r["low"], r["close"]) for r in want}
    assert want_m
    assert got_m == want_m


def test_hysteresis_stream_agreement(spark, sf_dir, raw_events_dir, tmp):
    labeled = stream_events(spark, raw_events_dir).withColumn("raw_label", raw_label())
    got = _drain(spark, hysteresis_stream(labeled, confirm_k=2), tmp, "hyst")
    # the thresholds belong to the labelling, not to the fold: passing
    # them is an error, not a silently ignored argument
    with pytest.raises(TypeError):
        hysteresis_stream(labeled, confirm_k=2, z_up=1.0)

    ticks = events_ticks(spark, sf_dir).withColumn("raw_label", raw_label())
    want = hysteresis(ticks, "raw_label", confirm_k=2)

    key = lambda r: (r["user_id"], r["event_id"])
    got_m = {key(r): r["confirmed_label"] for r in got.collect()}
    want_m = {key(r): r["confirmed_label"] for r in want.collect()}
    # streaming appends every input row (no watermark holdback for
    # arbitrary-state output) → exact agreement, including across the
    # micro-batch boundaries where GroupState carried the fold
    assert len(got_m) == len(want_m) > 0
    assert got_m == want_m


def test_position_fsm_stream_agreement(spark, sf_dir, tmp):
    """Closed trades from the streaming FSM must equal the batch
    ledger minus its EOD close-outs, across micro-batch boundaries
    where GroupState carried an open position."""
    from pyspark.sql import types as T

    from zcode_iceberg_spark.operators.stateful import position_fsm
    from zcode_iceberg_spark.streaming.pipeline import position_fsm_stream
    from zcode_iceberg_spark.suite.stateful import _decisions

    dec = _decisions(spark, sf_dir).select(
        "user_id", "ts", "event_id", "price", "z"
    )
    src = tmp / "dec_src"
    src.mkdir()
    qs = dec.approxQuantile("event_id", [0.33, 0.66], 0.0)
    b0, b1 = int(qs[0]), int(qs[1])
    parts = [
        dec.filter(F.col("event_id") <= b0),
        dec.filter((F.col("event_id") > b0) & (F.col("event_id") <= b1)),
        dec.filter(F.col("event_id") > b1),
    ]
    for i, p in enumerate(parts):
        sub = tmp / f"dpart{i}"
        p.coalesce(1).write.parquet(str(sub))
        f = next(sub.glob("*.parquet"))
        dst = src / f"{i:03d}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (time.time() + i, time.time() + i))

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("price", T.DoubleType()),
            T.StructField("z", T.DoubleType()),
        ]
    )
    st = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    got = _drain(spark, position_fsm_stream(st), tmp, "fsm").collect()

    want = [
        r
        for r in position_fsm(dec).collect()
        if r["exit_reason"] != "EOD"
    ]
    key = lambda r: (r["user_id"], r["trade_seq"])
    gm = {key(r): (r["side"], r["entry_price"], r["exit_price"], r["exit_reason"]) for r in got}
    wm = {key(r): (r["side"], r["entry_price"], r["exit_price"], r["exit_reason"]) for r in want}
    assert len(gm) == len(wm) > 0
    assert gm == wm


@pytest.fixture(scope="module")
def raw_docs_dir(spark, sf_dir):
    """documents.parquet replayed as a 2-file directory (id-split,
    mtime-ordered) so the dedup state is exercised ACROSS micro-batches,
    not just within one."""
    d = Path(tempfile.mkdtemp(prefix="zspark_docs_"))
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mid = raw.agg(F.max("doc_id")).collect()[0][0] // 2
    parts = [raw.filter(F.col("doc_id") <= mid), raw.filter(F.col("doc_id") > mid)]
    for i, p in enumerate(parts):
        sub = d / f"part{i}"
        p.coalesce(1).write.parquet(str(sub))
        f = next(sub.glob("*.parquet"))
        dst = d / f"{i:03d}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (time.time() + i, time.time() + i))
        shutil.rmtree(sub)
    yield str(d)
    shutil.rmtree(d, ignore_errors=True)


def test_dedup_stream_agreement(spark, sf_dir, raw_docs_dir, tmp):
    """Streamed dropDuplicates keeps exactly one row per distinct
    content hash; the kept-hash SET (membership is deterministic even
    though which duplicate wins the race is not) must equal the batch
    dedup_exact hash set."""
    from zcode_iceberg_spark.streaming.pipeline import dedup_stream

    got = _drain(spark, dedup_stream(spark, raw_docs_dir), tmp, "dedup").collect()
    batch = (
        load_table(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("content_hash"))
        .count()
        .collect()
    )
    got_hashes = sorted(r["content_hash"] for r in got)
    want_hashes = sorted(r["content_hash"] for r in batch)
    assert len(got) == len(set(got_hashes))  # one keeper per hash
    assert got_hashes == want_hashes


def test_passage_dedup_stream_agreement(spark, sf_dir, raw_docs_dir, tmp):
    """Incremental passage dedup over an appended corpus must equal
    the one-shot batch query: raw_docs_dir replays documents as two
    id-ordered files (pkey order == arrival order, the append-ingest
    contract), so the stream's ledger-anti-join first-seen rule and
    the batch global min-pkey rule pick identical keepers."""
    from zcode_iceberg_spark.streaming.pipeline import passage_dedup_stream
    from zcode_iceberg_spark.suite.llm import q_passage_dedup

    out = f"{tmp}/pd_out"
    q = passage_dedup_stream(
        spark, raw_docs_dir, f"{tmp}/pd_ledger", out, f"{tmp}/pd_ck"
    )
    q.awaitTermination()
    got = {
        r["doc_id"]: (r["n_passages"], r["n_dup"], r["uniq_ratio"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r["doc_id"]: (r["n_passages"], r["n_dup"], r["uniq_ratio"])
        for r in q_passage_dedup(spark, sf_dir).collect()
    }
    assert got == want and got


def test_range_join_stream_agreement(spark, sf_dir, raw_events_dir, tmp):
    """D2 twin: the stream-stream interval join must produce exactly
    the batch inner-join pairs — inner matches emit eagerly (no
    watermark finalization), and the time-ordered replay means join
    state is never evicted before a matching row arrives. Compared as
    per-decision aggregates (pair multisets are large)."""
    from zcode_iceberg_spark.streaming.pipeline import range_join_stream

    st = range_join_stream(spark, raw_events_dir)
    got = (
        _drain(spark, st, tmp, "rjoin")
        .groupBy("event_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("qty"), 6).alias("vol"),
        )
        .collect()
    )

    t = events_ticks(spark, sf_dir)
    d = t.filter(F.col("event_type") == "purchase").select(
        "event_id", F.col("user_id").alias("d_user"), F.col("ts").alias("d_ts")
    )
    tr = t.select(
        F.col("user_id").alias("t_user"), F.col("ts").alias("t_ts"), "qty"
    )
    cond = (
        (F.col("d_user") == F.col("t_user"))
        & (F.col("t_ts") <= F.col("d_ts"))
        & (F.col("t_ts") >= F.col("d_ts") - F.expr("INTERVAL 3600 SECONDS"))
    )
    want = (
        d.join(tr, cond, "inner")
        .groupBy("event_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("qty"), 6).alias("vol"),
        )
        .collect()
    )
    got_m = {r["event_id"]: (r["n"], r["vol"]) for r in got}
    want_m = {r["event_id"]: (r["n"], r["vol"]) for r in want}
    assert want_m
    assert got_m == want_m


@pytest.fixture(scope="module")
def raw_dup_events_dir(spark, sf_dir):
    """events replayed as 3 time-ordered files WITH duplicates: every
    file contains its rows twice (in-batch dups), and each file also
    re-appends the previous file's final-60s rows (cross-batch dups
    that arrive one micro-batch later but within the 120s watermark —
    these only dedup if the keyed state survived the batch boundary
    and was not yet evicted)."""
    d = Path(tempfile.mkdtemp(prefix="zspark_dupsrc_"))
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    qs = raw.approxQuantile("event_id", [0.33, 0.66], 0.0)
    b = [int(q) for q in qs]
    parts = [
        raw.filter(F.col("event_id") <= b[0]),
        raw.filter((F.col("event_id") > b[0]) & (F.col("event_id") <= b[1])),
        raw.filter(F.col("event_id") > b[1]),
    ]
    for i, p in enumerate(parts):
        batch = p.union(p)
        if i > 0:
            prev = parts[i - 1]
            hi = prev.agg(F.max("ts")).collect()[0][0]
            # ts is int64-nanos or a datetime depending on fixture vintage
            lo = hi - (60 * 10**9 if isinstance(hi, int) else dt.timedelta(seconds=60))
            tail = prev.filter(F.col("ts") >= lo)
            assert tail.count() > 0
            batch = batch.union(tail)
        sub = d / f"part{i}"
        batch.coalesce(1).write.parquet(str(sub))
        f = next(sub.glob("*.parquet"))
        dst = d / f"{i:03d}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (time.time() + i, time.time() + i))
        shutil.rmtree(sub)
    yield str(d)
    shutil.rmtree(d, ignore_errors=True)


def test_dedup_stream_bounded_agreement(spark, sf_dir, raw_dup_events_dir, tmp):
    """dropDuplicatesWithinWatermark must collapse both the in-batch
    duplicates and the cross-batch within-watermark duplicates to one
    row per event_id — i.e. exactly the distinct ids of the clean
    table — while keeping only bounded (watermark-evicted) state."""
    from zcode_iceberg_spark.streaming.pipeline import dedup_stream_bounded

    got = _drain(
        spark, dedup_stream_bounded(spark, raw_dup_events_dir), tmp, "dedupb"
    ).collect()
    ids = [r["event_id"] for r in got]
    assert len(ids) == len(set(ids))  # no duplicate survived
    want = {
        r["event_id"] for r in events_ticks(spark, sf_dir).select("event_id").collect()
    }
    assert set(ids) == want


def test_enriched_stream_agreement(spark, sf_dir, raw_events_dir, tmp):
    """Stream-static joins are stateless — every streamed row carries
    the same dimension attributes the batch join attaches, with no
    finalization filter needed."""
    from zcode_iceberg_spark.streaming.pipeline import enriched_stream

    st = enriched_stream(spark, raw_events_dir, sf_dir)
    got = (
        _drain(spark, st, tmp, "enrich")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("qty"), 6).alias("vol"))
        .collect()
    )
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    want = (
        events_ticks(spark, sf_dir)
        .join(dim, "user_id", "left")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("qty"), 6).alias("vol"))
        .collect()
    )
    got_m = {r["segment"]: (r["n"], r["vol"]) for r in got}
    want_m = {r["segment"]: (r["n"], r["vol"]) for r in want}
    assert want_m and got_m == want_m


def test_checkpoint_kill_and_resume(spark, sf_dir, raw_events_dir, tmp):
    """H9 recovery contract (reference restarts stale streams,
    main.py:44,233-309): a query stopped after a partial drain and
    RESTARTED from the same checkpoint must produce exactly the rows
    of one uninterrupted run — watermark, window state, and the file
    source's processed-files log all recover from the checkpoint, and
    no finalized window is re-emitted or lost across the restart."""
    files = sorted(Path(raw_events_dir).glob("*.parquet"))
    assert len(files) == 3
    src = tmp / "resume_src"
    src.mkdir()
    out, ckpt = str(tmp / "resume_out"), str(tmp / "resume_ckpt")

    # phase 1: only the first file exists; drain and stop (the "kill")
    shutil.copy(files[0], src / files[0].name)
    run_available_now(
        windowed_delta_stream(stream_events(spark, str(src))), out, ckpt
    )

    # phase 2: the rest of the feed lands; restart from the SAME
    # checkpoint and drain again — state must carry, not reset
    for f in files[1:]:
        shutil.copy(f, src / f.name)
    run_available_now(
        windowed_delta_stream(stream_events(spark, str(src))), out, ckpt
    )
    got = spark.read.parquet(out).collect()

    # reference run: the same stream drained once, no interruption
    ref_out, ref_ckpt = str(tmp / "ref_out"), str(tmp / "ref_ckpt")
    run_available_now(
        windowed_delta_stream(stream_events(spark, raw_events_dir)),
        ref_out,
        ref_ckpt,
    )
    want = spark.read.parquet(ref_out).collect()

    key = lambda r: (r["user_id"], r["win_start"])
    got_m = {key(r): (r["buy_vol"], r["sell_vol"], r["delta"]) for r in got}
    want_m = {key(r): (r["buy_vol"], r["sell_vol"], r["delta"]) for r in want}
    assert len(got) == len(got_m)  # no duplicate emission across restart
    assert want_m
    assert got_m == want_m


def test_fsm_checkpoint_kill_and_resume(spark, sf_dir, tmp):
    """H6 × H9: applyInPandasWithState GroupState (open position, trade
    seq, sized qty) must survive a stop/restart from checkpoint — the
    resumed stream continues numbering and closing trades exactly as an
    uninterrupted run (the reference's restart path re-hydrates its
    position state the same way, main.py:233-309)."""
    from pyspark.sql import types as T

    from zcode_iceberg_spark.operators.stateful import position_fsm
    from zcode_iceberg_spark.streaming.pipeline import position_fsm_stream
    from zcode_iceberg_spark.suite.stateful import _decisions

    dec = _decisions(spark, sf_dir).select("user_id", "ts", "event_id", "price", "z")
    qs = dec.approxQuantile("event_id", [0.33, 0.66], 0.0)
    b0, b1 = int(qs[0]), int(qs[1])
    parts = [
        dec.filter(F.col("event_id") <= b0),
        dec.filter((F.col("event_id") > b0) & (F.col("event_id") <= b1)),
        dec.filter(F.col("event_id") > b1),
    ]
    files = []
    for i, p in enumerate(parts):
        sub = tmp / f"rpart{i}"
        p.coalesce(1).write.parquet(str(sub))
        f = next(sub.glob("*.parquet"))
        dst = tmp / f"{i:03d}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (time.time() + i, time.time() + i))
        files.append(dst)

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("price", T.DoubleType()),
            T.StructField("z", T.DoubleType()),
        ]
    )
    src = tmp / "fsm_resume_src"
    src.mkdir()
    out, ckpt = str(tmp / "fsm_resume_out"), str(tmp / "fsm_resume_ckpt")

    def drain():
        st = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        run_available_now(position_fsm_stream(st), out, ckpt)

    # phase 1: first file only, then "kill"
    shutil.copy(files[0], src / files[0].name)
    drain()
    # phase 2: rest of the feed, resume from the SAME checkpoint
    for f in files[1:]:
        shutil.copy(f, src / f.name)
    drain()
    got = spark.read.parquet(out).collect()

    # batch reference: closed trades of one uninterrupted run
    want = [r for r in position_fsm(dec).collect() if r["exit_reason"] != "EOD"]
    key = lambda r: (r["user_id"], r["trade_seq"])
    gm = {key(r): (r["side"], r["entry_price"], r["exit_price"], r["exit_reason"])
          for r in got}
    wm = {key(r): (r["side"], r["entry_price"], r["exit_price"], r["exit_reason"])
          for r in want}
    assert len(gm) == len(got)  # no duplicate (user, seq) across restart
    assert len(gm) == len(wm) > 0
    assert gm == wm


def test_passage_dedup_epoch_replay_idempotent(spark, sf_dir, raw_docs_dir, tmp):
    """foreachBatch is at-least-once on crash: replaying an epoch must
    leave the stats and ledger byte-identical (per-epoch overwrite
    partitions; a replayed epoch must also not see its own first
    attempt's ledger hashes as prior)."""
    from zcode_iceberg_spark.streaming.pipeline import passage_dedup_step
    from zcode_iceberg_spark.suite.llm import q_passage_dedup

    files = sorted(Path(raw_docs_dir).glob("*.parquet"))
    assert len(files) == 2
    out, led = f"{tmp}/rp_out", f"{tmp}/rp_ledger"
    for i, f in enumerate(files):
        passage_dedup_step(spark.read.parquet(str(f)), i, led, out)
    # crash-replay the LAST epoch: identical inputs, same epoch id
    passage_dedup_step(spark.read.parquet(str(files[1])), 1, led, out)
    got = {
        r["doc_id"]: (r["n_passages"], r["n_dup"], r["uniq_ratio"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r["doc_id"]: (r["n_passages"], r["n_dup"], r["uniq_ratio"])
        for r in q_passage_dedup(spark, sf_dir).collect()
    }
    assert got == want and got


@pytest.fixture()
def raw_docs_incr_dir(spark, sf_dir):
    """documents replayed as a 2-file directory split at the
    INCR_SPLIT_FRAC cut — the exact history/batch boundary the
    persisted-ingest queries use, so stream epoch 1 is the same 'new
    batch' the batch probe sees."""
    from zcode_iceberg_spark.suite.llm import INCR_SPLIT_FRAC

    d = Path(tempfile.mkdtemp(prefix="zspark_docs_incr_"))
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cut = int(INCR_SPLIT_FRAC * (raw.agg(F.max("doc_id")).collect()[0][0] + 1))
    parts = [
        raw.filter(F.col("doc_id") < cut),
        raw.filter(F.col("doc_id") >= cut),
    ]
    for i, p in enumerate(parts):
        sub = d / f"part{i}"
        p.coalesce(1).write.parquet(str(sub))
        f = next(sub.glob("*.parquet"))
        dst = d / f"{i:03d}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (time.time() + i, time.time() + i))
        shutil.rmtree(sub)
    yield str(d), cut
    shutil.rmtree(d, ignore_errors=True)


def test_substring_dedup_stream_agreement(spark, sf_dir, raw_docs_incr_dir, tmp):
    """Incremental exact-substring dedup over an appended corpus: the
    stream's epoch-1 rollup (new batch against the epoch-0 ledger +
    itself) must equal the batch persisted probe byte-for-byte, and
    epoch 0 must equal the whole-corpus query run on the historical
    half alone (no future knowledge — the ingest-time semantics)."""
    from zcode_iceberg_spark.streaming.pipeline import substring_dedup_stream
    from zcode_iceberg_spark.suite.llm import (
        q_substring_dedup,
        q_substring_dedup_persisted,
    )

    src, cut = raw_docs_incr_dir
    out = f"{tmp}/sd_out"
    q = substring_dedup_stream(
        spark, src, f"{tmp}/sd_ledger", out, f"{tmp}/sd_ck"
    )
    q.awaitTermination()
    key = lambda r: (r["n_chars"], r["n_spans"], r["dup_chars"], r["dup_frac"])
    got_new = {
        r["doc_id"]: key(r)
        for r in spark.read.parquet(f"{out}/epoch=1").collect()
    }
    want_new = {
        r["doc_id"]: key(r)
        for r in q_substring_dedup_persisted(spark, sf_dir).collect()
    }
    assert got_new == want_new and got_new

    # epoch 0 == whole-corpus query over a history-only corpus
    hist_corpus = str(tmp / "hist_corpus")
    spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < cut
    ).write.parquet(f"{hist_corpus}/documents.parquet")
    got_hist = {
        r["doc_id"]: key(r)
        for r in spark.read.parquet(f"{out}/epoch=0").collect()
    }
    want_hist = {
        r["doc_id"]: key(r)
        for r in q_substring_dedup(spark, hist_corpus).collect()
    }
    assert got_hist == want_hist and got_hist


def test_substring_dedup_epoch_replay_idempotent(
    spark, sf_dir, raw_docs_incr_dir, tmp
):
    """foreachBatch is at-least-once on crash: replaying an epoch must
    leave stats and ledger byte-identical (per-epoch overwrite; a
    replayed epoch must not see its own first attempt's hashes)."""
    from zcode_iceberg_spark.streaming.pipeline import substring_dedup_step
    from zcode_iceberg_spark.suite.llm import q_substring_dedup_persisted

    src, _cut = raw_docs_incr_dir
    files = sorted(Path(src).glob("*.parquet"))
    assert len(files) == 2
    out, led = f"{tmp}/sdr_out", f"{tmp}/sdr_ledger"
    for i, f in enumerate(files):
        substring_dedup_step(spark.read.parquet(str(f)), i, led, out)
    substring_dedup_step(spark.read.parquet(str(files[1])), 1, led, out)
    got = {
        r["doc_id"]: (r["n_spans"], r["dup_chars"])
        for r in spark.read.parquet(f"{out}/epoch=1").collect()
    }
    want = {
        r["doc_id"]: (r["n_spans"], r["dup_chars"])
        for r in q_substring_dedup_persisted(spark, sf_dir).collect()
    }
    assert got == want and got


def test_iceberg_refill_stream_matches_batch(spark, sf_dir):
    """The namesake detector's streaming twin: availableNow drain over
    the fixture equals the batch query on every level the batch
    reports (n_events >= 3), and the per-level fold carries state
    correctly across a batch split."""
    import shutil
    import tempfile
    from pathlib import Path

    import pandas as pd

    from zcode_iceberg_spark.streaming import (
        iceberg_refill_step,
        iceberg_refill_stream,
        run_available_now,
        stream_events,
    )
    from zcode_iceberg_spark.suite.orderbook import q_iceberg_refill

    expected = (
        q_iceberg_refill(spark, sf_dir)
        .toPandas()
        .sort_values(["user_id", "side", "lvl"])
        .reset_index(drop=True)
    )

    tmp = Path(tempfile.mkdtemp(prefix="zspark_ice_"))
    try:
        stream_src = tmp / "src"
        stream_src.mkdir()
        shutil.copy(
            str(Path(sf_dir) / "events.parquet"), stream_src / "events.parquet"
        )
        out = iceberg_refill_stream(stream_events(spark, str(stream_src)))
        run_available_now(out, str(tmp / "out"), str(tmp / "ckpt"))
        got_all = spark.read.parquet(str(tmp / "out")).toPandas()
        # latest emitted row per level (single batch here -> exactly one)
        got = (
            got_all[got_all["n_events"] >= 3]
            .sort_values(["user_id", "side", "lvl"])
            .reset_index(drop=True)
        )
        assert len(got) == len(expected) > 0
        merged = got.merge(
            expected, on=["user_id", "side", "lvl"], suffixes=("_s", "_b")
        )
        # key sets must be identical, not merely equal-cardinality
        assert len(merged) == len(expected)
        for col in ("n_events", "n_refills", "iceberg"):
            assert (merged[f"{col}_s"].values == merged[f"{col}_b"].values).all(), col
        for col in ("refill_qty", "max_qty"):
            assert (
                abs(merged[f"{col}_s"].values - merged[f"{col}_b"].values) < 1e-12
            ).all(), col
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # state-carry: folding a level's rows in two chunks equals one chunk
    rows = pd.DataFrame(
        {"event_id": [1, 2, 3, 4], "qty": [5.0, 2.0, 6.5, 1.0]}
    )
    one, _ = iceberg_refill_step(("u", "bid", 100), [rows], None)
    r1, st1 = iceberg_refill_step(("u", "bid", 100), [rows.iloc[:2]], None)
    two, _ = iceberg_refill_step(("u", "bid", 100), [rows.iloc[2:]], st1)
    assert one == two and one["n_refills"] == 1 and one["refill_qty"] == 4.5


def _chunk_order_case(name):
    """(step, key, one event-ordered frame) for every step that orders
    its rows through ``_ordered_rows`` or ``_tie_holdback``. Timestamps
    tie in pairs so the event_id tie-break is exercised too."""
    from functools import partial

    import pandas as pd

    from zcode_iceberg_spark.streaming import pipeline as pl

    ts_s = [0, 10, 10, 4000, 4000, 9000]
    base = pd.DataFrame(
        {
            "user_id": 7,
            "ts": pd.to_datetime(ts_s, unit="s"),
            "ts_us": [t * 1_000_000 for t in ts_s],
            "event_id": [1, 2, 3, 4, 5, 6],
        }
    )
    cols = {
        "iceberg_refill": (
            pl.iceberg_refill_step, ("u", "bid", 7),
            {"qty": [5.0, 2.0, 6.5, 1.0, 3.0, 0.5]},
        ),
        "funnel": (
            partial(pl.funnel_step, window_us=6 * 3600 * 1_000_000), (7,),
            {"event_type": ["view", "click", "view", "purchase", "click",
                            "purchase"]},
        ),
        "transitions": (
            pl.transitions_step, (7,),
            {"event_type": ["view", "click", "view", "purchase", "click",
                            "purchase"]},
        ),
        "cusum": (
            partial(pl.cusum_step, k=0.5, h=1.0), (7,),
            {"x": [1.5, -0.2, 2.0, -3.0, 0.7, 1.1]},
        ),
        "gap_fill": (
            pl.gap_fill_step, (7,),
            {"price": [10.0, 11.0, 12.0, 9.0, 9.5, 13.0],
             "qty": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]},
        ),
        "hysteresis": (
            partial(pl._hysteresis_step, confirm_k=2), (7,),
            {"raw_label": ["UP", "UP", "DOWN", "DOWN", "UP", "UP"]},
        ),
        "position": (
            pl._position_step, (7,),
            {"price": [100.0, 100.0, 100.5, 102.0, 99.0, 100.0],
             "z": [0.0, 2.0, 0.0, 0.0, -2.0, 0.0]},
        ),
        "zscore": (
            pl._zscore_stream_step, (7,),
            {"price": [10.0, 11.0, 12.0, 9.0, 9.5, 13.0],
             "qty": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
             "is_buy": [True, False, True, True, False, True]},
        ),
    }
    if name == "live":
        # past the z kernel's 30-row population: a buy burst at rows
        # 36-37 opens LONG, the +2% price at row 40 takes profit
        n = 48
        return pl._live_step, (7,), pd.DataFrame(
            {
                "user_id": 7,
                "ts": pd.to_datetime([i // 2 * 10 for i in range(n)], unit="s"),
                "event_id": range(1, n + 1),
                "price": [100.0] * 40 + [102.0] * 8,
                "qty": [50.0 if i in (36, 37) else 1.0 + i % 3 for i in range(n)],
                "is_buy": [i % 2 == 0 or i in (36, 37) for i in range(n)],
                "entry_signal": True,
            }
        )
    step, key, extra = cols[name]
    return step, key, base.assign(**extra)


@pytest.mark.parametrize(
    "name",
    ["iceberg_refill", "funnel", "transitions", "cusum", "gap_fill",
     "hysteresis", "position", "zscore", "live"],
)
def test_step_chunk_order_invariance(name):
    """Every ordered step must concat a key's Arrow chunks BEFORE
    sorting: chunk boundaries don't respect event order, so per-chunk
    folding would corrupt the carried state. Feeding the chunks
    reversed and interleaved must equal the single-chunk result."""
    import pandas as pd

    step, key, rows = _chunk_order_case(name)

    def run(chunks):
        out, state = step(key, chunks, None)
        if isinstance(out, pd.DataFrame):
            out = out.to_dict("records")
        return out, repr(state)  # repr: NaN state sentinels compare

    want = run([rows])
    assert want[0]  # every case emits rows
    # reversed chunk order: later event_ids arrive in the FIRST chunk
    assert run([rows.iloc[3:], rows.iloc[:3]]) == want
    # interleaved: odd rows then even rows
    assert run([rows.iloc[1::2], rows.iloc[0::2]]) == want


_PEND = [
    ("pend_ts_us", "array<bigint>"), ("pend_eid", "array<bigint>"),
    ("pend_price", "array<double>"), ("pend_qty", "array<double>"),
    ("pend_buy", "array<boolean>"),
]
_ZWIN = [
    ("win_ts", "array<bigint>"), ("win_sq", "array<double>"),
    ("ring", "array<double>"),
]
_FSM = [
    ("seq", "int"), ("qty", "double"), ("side", "string"),
    ("entry_ts_us", "bigint"), ("entry_price", "double"),
]


_STATE_LAYOUTS = {
    "HYST_STATE_SCHEMA":
        [("confirmed", "string"), ("pending", "string"), ("count", "int")],
    "FSM_STATE_SCHEMA": _FSM,
    "ZS_STATE_SCHEMA": _ZWIN + _PEND,
    "LIVE_STATE_SCHEMA": _ZWIN + _FSM + _PEND + [("pend_sig", "array<boolean>")],
}


@pytest.mark.parametrize("schema", list(_STATE_LAYOUTS))
def test_state_schema_layout_is_pinned(schema):
    """The state store persists a key's state tuple in its schema's
    field order, so a checkpoint only resumes under the same names and
    types in the same order. The step conformity checks compare tuples
    against whatever the schema is, so they would stay green under a
    reordered composition; this pins the persisted layout itself."""
    from zcode_iceberg_spark.streaming import pipeline as pl

    fields = getattr(pl, schema).fields
    want = _STATE_LAYOUTS[schema]
    assert [(f.name, f.dataType.simpleString()) for f in fields] == want
    assert all(f.nullable for f in fields)


class _FoldCapture:
    """Stands in for a streaming DataFrame: records the per-key
    function and timeout mode a stream hands to
    applyInPandasWithState, so ``_keyed_fold`` runs without
    Spark."""

    def select(self, *cols):
        return self

    def groupBy(self, *keys):
        return self

    def applyInPandasWithState(self, fn, out_schema, state_schema, mode, timeout):
        self.fn, self.timeout = fn, timeout
        return self


class _FakeState:
    """The GroupState surface ``_keyed_fold`` uses."""

    def __init__(self, value=None, timed_out=False, watermark_ms=0):
        self.value, self.hasTimedOut = value, timed_out
        self.watermark_ms, self.timer, self.removed = watermark_ms, None, False

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def getCurrentWatermarkMs(self):
        return self.watermark_ms

    def update(self, value):
        self.value = value

    def remove(self):
        self.value, self.removed = None, True

    def setTimeoutTimestamp(self, ms):
        self.timer = ms


def test_staleness_timer_contract(monkeypatch):
    """The staleness stream's timers without Spark: data arms the
    deadline max_silence_sec past the newest event; a straggler whose
    deadline already trails the watermark is clamped to watermark + 1;
    a timeout emits exactly one `stale` row and returns no state, so
    ``_keyed_fold`` removes the key and arms nothing."""
    from types import SimpleNamespace

    import pandas as pd

    from zcode_iceberg_spark.streaming import pipeline as pl

    monkeypatch.setattr(
        pl, "ts_micros", lambda col="ts": SimpleNamespace(alias=lambda n: n)
    )
    cap = pl.staleness_stream(_FoldCapture(), max_silence_sec=300)
    assert cap.timeout == "EventTimeTimeout"

    def ticks(*secs):
        return pd.DataFrame(
            {"user_id": 2, "ts_us": [s * 1_000_000 for s in secs]}
        )

    def call(state, *chunks):
        out = list(cap.fn((2,), iter(chunks), state))
        return pd.concat(out).to_dict("records") if out else []

    st = _FakeState(watermark_ms=0)
    rows = call(st, ticks(5), ticks(1))
    assert rows == [{"user_id": 2, "kind": "live", "last_us": 5_000_000,
                     "n_events": 2}]
    assert st.value == (5_000_000, 2) and st.timer == 5_000 + 300_000

    late = _FakeState((5_000_000, 2), watermark_ms=10_000_000)
    call(late, ticks(6))
    assert late.value == (6_000_000, 3) and late.timer == 10_000_001

    rows, new_state = pl._staleness_step((2,), [], (6_000_000, 3), timed_out=True)
    assert new_state is None
    fired = _FakeState((6_000_000, 3), timed_out=True, watermark_ms=20_000_000)
    assert call(fired) == [{"user_id": 2, "kind": "stale",
                            "last_us": 6_000_000, "n_events": 3}]
    assert fired.removed and fired.timer is None


def test_iceberg_refill_stream_tiny_arrow_batches(spark, sf_dir):
    """End-to-end chunk-spanning: force 16-row Arrow batches so real
    groups span multiple chunks inside applyInPandasWithState, and
    assert the stream still agrees with the batch query."""
    import shutil
    import tempfile
    from pathlib import Path

    from zcode_iceberg_spark.streaming import (
        iceberg_refill_stream,
        run_available_now,
        stream_events,
    )
    from zcode_iceberg_spark.suite.orderbook import q_iceberg_refill

    expected = (
        q_iceberg_refill(spark, sf_dir)
        .toPandas()
        .sort_values(["user_id", "side", "lvl"])
        .reset_index(drop=True)
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    tmp = Path(tempfile.mkdtemp(prefix="zspark_ice_tiny_"))
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
        stream_src = tmp / "src"
        stream_src.mkdir()
        shutil.copy(
            str(Path(sf_dir) / "events.parquet"), stream_src / "events.parquet"
        )
        out = iceberg_refill_stream(stream_events(spark, str(stream_src)))
        run_available_now(out, str(tmp / "out"), str(tmp / "ckpt"))
        got_all = spark.read.parquet(str(tmp / "out")).toPandas()
        got = (
            got_all[got_all["n_events"] >= 3]
            .sort_values(["user_id", "side", "lvl"])
            .reset_index(drop=True)
        )
        merged = got.merge(
            expected, on=["user_id", "side", "lvl"], suffixes=("_s", "_b")
        )
        assert len(merged) == len(expected) > 0
        assert (merged["n_refills_s"].values == merged["n_refills_b"].values).all()
        assert (
            abs(merged["refill_qty_s"].values - merged["refill_qty_b"].values)
            < 1e-12
        ).all()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
        shutil.rmtree(tmp, ignore_errors=True)


def test_funnel_stream_agreement(spark, sf_dir, raw_events_dir, tmp):
    """The per-user funnel fold over the 3-file time-ordered replay
    must land every user at the same stage as the batch funnel: the
    per-stage user counts equal q_funnel_conversion's n_users, across
    micro-batch boundaries where GroupState carried partial stage
    timestamps."""
    from zcode_iceberg_spark.streaming import funnel_stream, stream_events_raw
    from zcode_iceberg_spark.suite.flow import q_funnel_conversion

    got_all = _drain(
        spark, funnel_stream(stream_events_raw(spark, raw_events_dir)), tmp, "funnel"
    ).toPandas()
    # one row per (user, touching batch); stage timestamps are monotone
    # so the final snapshot is the row with the largest n_seen
    final = got_all.sort_values("n_seen").groupby("user_id").tail(1)
    got_counts = {
        k: int((final["stage_reached"] >= k).sum()) for k in (1, 2, 3)
    }
    want = {
        r["stage_idx"]: r["n_users"]
        for r in q_funnel_conversion(spark, sf_dir).collect()
    }
    assert got_counts == want and want[1] > want[3]


def test_funnel_step_state_carry():
    """Folding a user's events in two chunks equals one chunk, and a
    stage-2 event outside the window never qualifies."""
    import pandas as pd

    from zcode_iceberg_spark.streaming import funnel_step

    H = 3600 * 1_000_000
    rows = pd.DataFrame(
        {
            "event_type": ["view", "click", "purchase", "click", "purchase"],
            "ts_us": [0, 2 * H, 3 * H, 7 * H, 8 * H],
            "event_id": [1, 2, 3, 4, 5],
        }
    )
    one, _ = funnel_step((7,), [rows], None, window_us=6 * H)
    r1, st1 = funnel_step((7,), [rows.iloc[:2]], None, window_us=6 * H)
    two, _ = funnel_step((7,), [rows.iloc[2:]], st1, window_us=6 * H)
    assert two == one
    assert one["stage_reached"] == 3 and one["t2_us"] == 2 * H
    # same path with a 1h window: the click at +2h is out of window,
    # so nothing past stage 1 ever qualifies
    narrow, _ = funnel_step((7,), [rows], None, window_us=H)
    assert narrow["stage_reached"] == 1 and narrow["t2_us"] == -1


def test_transitions_stream_agreement(spark, sf_dir, raw_events_dir, tmp):
    """The streamed (from, to) pair stream, aggregated, equals the
    batch Markov matrix counts — across micro-batch boundaries where
    GroupState carried the last event type."""
    from zcode_iceberg_spark.streaming import stream_events_raw, transitions_stream
    from zcode_iceberg_spark.suite.flow import q_event_transitions

    got_pairs = _drain(
        spark,
        transitions_stream(stream_events_raw(spark, raw_events_dir)),
        tmp,
        "trans",
    )
    got = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in got_pairs.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    want = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in q_event_transitions(spark, sf_dir).collect()
    }
    assert got == want and len(want) > 5


def test_transitions_step_state_carry():
    """Two chunks equal one chunk; the cross-batch pair uses the
    carried last type."""
    import pandas as pd

    from zcode_iceberg_spark.streaming import transitions_step

    rows = pd.DataFrame(
        {
            "event_type": ["view", "click", "purchase"],
            "ts_us": [1, 2, 3],
            "event_id": [1, 2, 3],
        }
    )
    one, st_one = transitions_step((7,), [rows], None)
    r1, st1 = transitions_step((7,), [rows.iloc[:1]], None)
    r2, st2 = transitions_step((7,), [rows.iloc[1:]], st1)
    assert r1 + r2 == one and st2 == st_one
    assert one[0]["from_type"] == "view" and one[0]["to_type"] == "click"


def test_staleness_stream_event_time_timeout(spark, tmp):
    """A key that stops sending events gets a `stale` alert once the
    WATERMARK (driven by other keys' progress) passes its armed
    event-time deadline — output driven by ABSENCE of input, the
    behavior only timers can express. User 1 keeps emitting across
    all three files; user 2 stops after file 1 and must time out."""
    import datetime as dt
    import os
    import time as time_mod

    from zcode_iceberg_spark.streaming import staleness_stream, stream_events_raw

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def mk(rows):
        return spark.createDataFrame(
            [
                (i, t0 + dt.timedelta(seconds=s), u, "view", 1.0, '{"k":"1"}')
                for i, (u, s) in enumerate(rows)
            ],
            "event_id long, ts timestamp_ntz, user_id long, event_type string,"
            "value double, props string",
        )

    src = tmp / "stale_src"
    src.mkdir()
    batches = [
        # both users live
        [(1, 0), (1, 10), (2, 5)],
        # only user 1; event time advances 20 min -> watermark (minus
        # the 120 s slack) passes user 2's 5-min deadline
        [(1, 1200), (1, 1210)],
        # more progress so the fired timer's batch definitely runs
        [(1, 2400)],
    ]
    for i, rows in enumerate(batches):
        sub = tmp / f"spart{i}"
        mk(rows).coalesce(1).write.parquet(str(sub))
        f = next(sub.glob("*.parquet"))
        dst = src / f"{i:03d}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (time_mod.time() + i, time_mod.time() + i))

    out = _drain(
        spark,
        staleness_stream(stream_events_raw(spark, str(src)), max_silence_sec=300),
        tmp,
        "stale",
    )
    rows = out.collect()
    stale = [r for r in rows if r["kind"] == "stale"]
    live = [r for r in rows if r["kind"] == "live"]
    assert [r["user_id"] for r in stale] == [2]
    # the alert carries user 2's final observed state
    assert stale[0]["n_events"] == 1
    assert stale[0]["last_us"] == int(
        (t0 + dt.timedelta(seconds=5)).timestamp() * 1_000_000
    )  # ts is tz-naive UTC; unix_micros after the NTZ hop
    # user 1 stayed live through every batch, never timed out
    assert {r["user_id"] for r in live} >= {1}
    assert not [r for r in stale if r["user_id"] == 1]


def test_gap_fill_stream_agreement(spark, sf_dir, raw_events_dir, tmp):
    """Every (key, bucket) the batch gap fill produces whose bucket end
    the final watermark passed must appear in the streamed gap-fill
    output with identical close_ff/is_gap/volume/n_ticks — across
    micro-batch boundaries AND timer firings."""
    from zcode_iceberg_spark.operators.timeseries import gap_fill, ohlc_bars
    from zcode_iceberg_spark.streaming import gap_fill_stream

    got = {
        (r["user_id"], r["bucket_us"]): (
            r["close_ff"], r["is_gap"], r["volume"], r["n_ticks"]
        )
        for r in _drain(
            spark, gap_fill_stream(stream_events(spark, raw_events_dir)), tmp, "gf"
        ).collect()
    }
    import datetime as dt

    def utc_us(d):  # tz-naive fixture datetimes are UTC by session contract
        return int(d.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)

    ticks = events_ticks(spark, sf_dir)
    batch = gap_fill(ohlc_bars(ticks, minutes=60), minutes=60)
    hi, slack = _finalized_cutoff(ticks)
    wm_us = utc_us(hi) - slack * 1_000_000
    want = {
        (r["user_id"], utc_us(r["bar_ts"])): (
            r["close_ff"], r["is_gap"], r["volume"], r["n_ticks"]
        )
        for r in batch.collect()
    }
    # no spurious back-fill: per key, the stream's first bucket is the
    # batch spine's first bucket (regression: epoch back-fill flood)
    got_min = {}
    for (u, b) in got:
        got_min[u] = min(got_min.get(u, b), b)
    want_min = {}
    for (u, b) in want:
        want_min[u] = min(want_min.get(u, b), b)
    assert got_min == want_min
    checked = 0
    for (u, b), (c, g, v, n) in want.items():
        if b + 3600 * 1_000_000 >= wm_us:
            continue  # bucket not yet finalized by the watermark
        assert (u, b) in got, (u, b)
        gc, gg, gv, gn = got[(u, b)]
        assert gg == g and gn == n, (u, b, got[(u, b)], (c, g, v, n))
        assert abs(gc - c) < 1e-9 and abs(gv - v) < 1e-9, (u, b)
        checked += 1
    assert checked > 100


def test_gap_fill_step_kernel():
    """Back-fill, two-chunk carry, timer flush with trailing
    heartbeats, and late-row dropping."""
    import pandas as pd

    from zcode_iceberg_spark.streaming import gap_fill_step

    B = 100  # tiny bucket for readability
    def rows(*evs):
        return pd.DataFrame(
            {
                "ts_us": [e[0] for e in evs],
                "price": [e[1] for e in evs],
                "qty": [1.0] * len(evs),
                "event_id": list(range(len(evs))),
            }
        )

    # bucket 0 (close 11), silence through buckets 1-2, bucket 3 pending
    one, st = gap_fill_step(
        (7,), [rows((10, 10.0), (20, 11.0), (350, 12.0))], None, bucket_us=B
    )
    assert [(r["bucket_us"], r["close_ff"], r["is_gap"]) for r in one] == [
        (0, 11.0, False), (100, 11.0, True), (200, 11.0, True)
    ]
    # identical result when the same rows arrive in two chunks
    r1, s1 = gap_fill_step((7,), [rows((10, 10.0), (20, 11.0))], None, bucket_us=B)
    r2, s2 = gap_fill_step((7,), [rows((350, 12.0))], s1, bucket_us=B)
    assert r1 + r2 == one and s2 == st
    # timer: watermark at 600us finalizes pending bucket 3 and
    # heartbeats buckets 4-5 (6 not yet fully elapsed at wm=600? 600//100=6 -> 4,5)
    flushed, st2 = gap_fill_step(
        (7,), [], st, bucket_us=B, timed_out=True, watermark_ms=0
    )
    # watermark_ms=0 -> no heartbeat range; pending still finalizes
    assert [(r["bucket_us"], r["is_gap"]) for r in flushed] == [(300, False)]
    # a late row into finalized bucket 2 is dropped; bucket 5 opens
    late, st3 = gap_fill_step(
        (7,), [rows((250, 99.0), (510, 13.0))], st2, bucket_us=B
    )
    assert [(r["bucket_us"], r["close_ff"], r["is_gap"]) for r in late] == [
        (400, 12.0, True)
    ]
    assert st3[0] == 5 and st3[1] == 13.0
    # virgin key whose first event lands far from the epoch: nothing
    # is back-filled before it (regression: 1970 back-fill flood)
    first, stv = gap_fill_step((9,), [rows((5 * B + 3, 42.0))], None, bucket_us=B)
    assert first == [] and stv[0] == 5 and stv[5] == 4


def test_cusum_stream_agreement(spark, sf_dir, tmp):
    """The streamed CUSUM over a 3-file time-ordered replay of the
    standardized-return stream equals the batch q_cusum_alarm on every
    row — carried (ΣU, extrema) state across micro-batches."""
    import os
    import time as time_mod

    from pyspark.sql import types as T

    from zcode_iceberg_spark.streaming import cusum_stream
    from zcode_iceberg_spark.suite.flow import (
        CUSUM_H, CUSUM_K, q_cusum_alarm,
    )

    # standardized-return stream, built exactly like the batch query's
    # first two stages (the warmup-computed sigma seam)
    from pyspark.sql import Window

    t = events_ticks(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("price").over(w)
    ret = F.when(prev > 0, (F.col("price") - prev) / prev)
    r = t.select("user_id", "ts", "event_id", ret.alias("ret")).where(
        F.col("ret").isNotNull()
    )
    sig = r.groupBy("user_id").agg(F.round(F.stddev_pop("ret"), 9).alias("sigma"))
    xs = r.join(F.broadcast(sig), "user_id").where(F.col("sigma") > 0).select(
        "user_id", "ts", "event_id", (F.col("ret") / F.col("sigma")).alias("x")
    )

    src = tmp / "cusum_src"
    src.mkdir()
    qs = xs.approxQuantile("event_id", [0.33, 0.66], 0.0)
    b0, b1 = int(qs[0]), int(qs[1])
    parts = [
        xs.filter(F.col("event_id") <= b0),
        xs.filter((F.col("event_id") > b0) & (F.col("event_id") <= b1)),
        xs.filter(F.col("event_id") > b1),
    ]
    for i, p in enumerate(parts):
        sub = tmp / f"cpart{i}"
        p.coalesce(1).write.parquet(str(sub))
        f = next(sub.glob("*.parquet"))
        dst = src / f"{i:03d}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (time_mod.time() + i, time_mod.time() + i))

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("x", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", WATERMARK)
    )
    got = {
        (r["user_id"], r["event_id"]): (
            r["s_up"], r["s_dn"], r["alarm_up"], r["alarm_dn"]
        )
        for r in _drain(
            spark, cusum_stream(stream, k=CUSUM_K, h=CUSUM_H), tmp, "cusum"
        ).collect()
    }
    want = {
        (r["user_id"], r["event_id"]): (
            r["s_up"], r["s_dn"], r["alarm_up"], r["alarm_dn"]
        )
        for r in q_cusum_alarm(spark, sf_dir).collect()
    }
    assert len(got) == len(want) > 0
    for kk, (su, sd, au, ad) in want.items():
        gsu, gsd, gau, gad = got[kk]
        assert (gau, gad) == (au, ad), kk
        assert abs(gsu - su) < 2e-6 and abs(gsd - sd) < 2e-6, kk


def test_quality_filter_stream_agreement(spark, sf_dir, raw_docs_dir, tmp):
    """The stateless quality-filter stream must score every document
    identically to the batch classifier — same shared kernel
    (operators/text.py:quality_filter), so row-for-row equality in
    exact integer units, across micro-batch boundaries."""
    from zcode_iceberg_spark.operators import text as tx
    from zcode_iceberg_spark.streaming.pipeline import quality_filter_stream

    got = {
        r["doc_id"]: (r["n_feats"], r["wsum"], r["keep"])
        for r in _drain(spark, quality_filter_stream(spark, raw_docs_dir), tmp, "qf").collect()
    }
    want = {
        r["doc_id"]: (r["n_feats"], r["wsum"], r["keep"])
        for r in tx.quality_filter(load_table(spark, sf_dir, "documents")).collect()
    }
    assert got == want and got


def test_quality_route_by_flag_end_to_end(spark, sf_dir, raw_docs_dir, tmp):
    """The ingest-time score-and-route claim, executable: the scored
    quality stream routes through route_by_flag into keep/drop corpus
    tables in the same micro-batch, with full auditable rows on both
    sides; membership equals the batch classifier's keep flag."""
    from zcode_iceberg_spark.operators import text as tx
    from zcode_iceberg_spark.sources.sinks import route_by_flag
    from zcode_iceberg_spark.streaming.pipeline import quality_filter_stream

    keep_dir, drop_dir = f"{tmp}/q_keep", f"{tmp}/q_drop"
    route_by_flag(
        quality_filter_stream(spark, raw_docs_dir),
        keep_dir,
        drop_dir,
        f"{tmp}/q_ck",
    )
    kept = spark.read.parquet(keep_dir)
    dropped = spark.read.parquet(drop_dir)
    assert kept.filter(~F.col("keep")).count() == 0
    assert dropped.filter(F.col("keep")).count() == 0
    # full rows on both sides: wsum survives for re-scoring audits
    assert "wsum" in kept.columns and "wsum" in dropped.columns
    got_keep = {r["doc_id"] for r in kept.select("doc_id").collect()}
    got_drop = {r["doc_id"] for r in dropped.select("doc_id").collect()}
    batch = tx.quality_filter(load_table(spark, sf_dir, "documents")).collect()
    want_keep = {r["doc_id"] for r in batch if r["keep"]}
    want_drop = {r["doc_id"] for r in batch if not r["keep"]}
    assert got_keep == want_keep and got_drop == want_drop
    assert got_keep and got_drop  # both routes exercised


def test_zscore_stream_agreement(spark, sf_dir, raw_events_dir, tmp):
    """The live feature battery: per-tick delta z computed IN-STREAM
    with carried GroupState (trailing window buffer + delta ring) must
    equal the batch window-frame z at round-6 on every tick, across
    micro-batch boundaries where the buffers carried state."""
    from zcode_iceberg_spark.operators.flow import delta_zscore
    from zcode_iceberg_spark.streaming.pipeline import zscore_stream

    got = {
        (r["user_id"], r["event_id"]): round(r["z"], 6)
        for r in _drain(
            spark, zscore_stream(stream_events(spark, raw_events_dir)),
            tmp, "zs",
        ).collect()
    }
    want = {
        (r["user_id"], r["event_id"]): round(r["z"], 6)
        for r in delta_zscore(
            events_ticks(spark, sf_dir), window_sec=600, pop_rows=50,
            min_pop=30,
        ).select("user_id", "event_id", "z").collect()
    }
    assert len(got) == len(want) > 0
    diffs = {k for k in want if got[k] != want[k]}
    assert not diffs, f"{len(diffs)} z mismatches, e.g. {sorted(diffs)[:3]}"


def test_zscore_stream_agreement_mid_tie_group_split(spark, sf_dir, tmp):
    """VERDICT r10 #1 at the Spark level: the replay file boundary is
    placed DELIBERATELY inside a same-(user, ts) tie group (the sf0.001
    fixture has no natural ties — ts is bucketed to 60 s to force
    them), so the stream kernel sees a partial group at a micro-batch
    cut. The tie-group holdback must still reproduce the batch
    RANGE-frame z on every tick, and the event-time-timeout flush must
    deliver the final held group (row-count equality proves it)."""
    from zcode_iceberg_spark.operators.flow import delta_zscore
    from zcode_iceberg_spark.streaming.pipeline import zscore_stream

    bucket = F.timestamp_seconds(F.floor(F.unix_timestamp("ts") / 60) * 60)
    ev = load_table(spark, sf_dir, "events").withColumn("ts", bucket)
    pdf = (
        ev.toPandas()
        .sort_values(["ts", "event_id"], kind="mergesort")
        .reset_index(drop=True)
    )
    sizes = pdf.groupby(["user_id", "ts"])["event_id"].transform("size")
    tied = pdf.index[sizes >= 2]
    assert len(tied), "bucketing failed to create tie groups"
    # cut right after the first row of the first multi-row tie group:
    # that (user, ts) group now straddles the two replay files
    first = tied[0]
    key = (pdf.loc[first, "user_id"], pdf.loc[first, "ts"])
    cut = int(first) + 1
    straddles = lambda part: (
        ((part["user_id"] == key[0]) & (part["ts"] == key[1])).any()
    )
    assert straddles(pdf.iloc[:cut]) and straddles(pdf.iloc[cut:])

    d = Path(tempfile.mkdtemp(prefix="zspark_tiesrc_"))
    try:
        for i, part in enumerate((pdf.iloc[:cut], pdf.iloc[cut:])):
            sub = d / f"part{i}"
            spark.createDataFrame(part, schema=ev.schema).coalesce(
                1
            ).write.parquet(str(sub))
            f = next(sub.glob("*.parquet"))
            dst = d / f"{i:03d}.parquet"
            shutil.copy(f, dst)
            os.utime(dst, (time.time() + i, time.time() + i))
            shutil.rmtree(sub)

        got = {
            (r["user_id"], r["event_id"]): round(r["z"], 6)
            for r in _drain(
                spark, zscore_stream(stream_events(spark, str(d))),
                tmp, "zs_tie",
            ).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)
    want = {
        (r["user_id"], r["event_id"]): round(r["z"], 6)
        for r in delta_zscore(
            events_ticks(spark, sf_dir).withColumn("ts", bucket),
            window_sec=600, pop_rows=50, min_pop=30,
        ).select("user_id", "event_id", "z").collect()
    }
    assert len(got) == len(want) > 0  # timeout flush delivered the tail
    diffs = {k for k in want if got[k] != want[k]}
    assert not diffs, f"{len(diffs)} z mismatches, e.g. {sorted(diffs)[:3]}"


def test_zscore_stream_quiet_key_timeout_flush_mid_stream(spark, sf_dir, tmp):
    """The OTHER release path of the tie-group holdback: a key whose
    trailing ts-group was held at the end of batch 1 sits out batch 2
    entirely (its rows are absent from that time slice), so the
    event-time timeout — not a later data batch — must flush the held
    group, and the key's batch-3 rows must then continue from correct
    carried state. Constructed by REMOVING one user's middle-third
    rows from the corpus (the batch twin runs on the same thinned
    corpus, so stream ≡ batch must still hold row-for-row)."""
    from zcode_iceberg_spark.operators.flow import delta_zscore
    from zcode_iceberg_spark.streaming.pipeline import zscore_stream

    bucket = F.timestamp_seconds(F.floor(F.unix_timestamp("ts") / 60) * 60)
    ev = load_table(spark, sf_dir, "events").withColumn("ts", bucket)
    pdf = (
        ev.toPandas()
        .sort_values(["ts", "event_id"], kind="mergesort")
        .reset_index(drop=True)
    )
    t1, t2 = pdf["ts"].quantile([0.33, 0.66])
    thirds = [
        pdf[pdf["ts"] < t1],
        pdf[(pdf["ts"] >= t1) & (pdf["ts"] < t2)],
        pdf[pdf["ts"] >= t2],
    ]
    # a user present in thirds 1 and 3 AND in third 2 (so removing its
    # middle rows creates a REAL quiet gap, not a vacuous one)
    users = (
        set(thirds[0]["user_id"]) & set(thirds[1]["user_id"])
        & set(thirds[2]["user_id"])
    )
    assert users, "fixture lacks a user spanning all thirds"
    u = min(users)
    thinned_mid = thirds[1][thirds[1]["user_id"] != u]
    import pandas as _pd

    corpus_pdf = _pd.concat([thirds[0], thinned_mid, thirds[2]])
    parts = [thirds[0], thinned_mid, thirds[2]]

    d = Path(tempfile.mkdtemp(prefix="zspark_quietsrc_"))
    try:
        for i, part in enumerate(parts):
            sub = d / f"part{i}"
            spark.createDataFrame(part, schema=ev.schema).coalesce(
                1
            ).write.parquet(str(sub))
            f = next(sub.glob("*.parquet"))
            dst = d / f"{i:03d}.parquet"
            shutil.copy(f, dst)
            os.utime(dst, (time.time() + i, time.time() + i))
            shutil.rmtree(sub)

        got = {
            (r["user_id"], r["event_id"]): round(r["z"], 6)
            for r in _drain(
                spark, zscore_stream(stream_events(spark, str(d))),
                tmp, "zs_quiet",
            ).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)

    # batch twin over the SAME thinned corpus
    corpus = spark.createDataFrame(corpus_pdf, schema=ev.schema)
    ticks = corpus.select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        F.col("value").alias("price"),
        F.get_json_object("props", "$.k").cast("double").alias("qty"),
        F.col("event_type").isin("click", "view", "signup").alias("is_buy"),
    ).filter(
        (F.col("price") > 0)
        & F.col("ts").isNotNull()
        & F.col("qty").isNotNull()
        & (F.col("qty") > 0)
    )
    want = {
        (r["user_id"], r["event_id"]): round(r["z"], 6)
        for r in delta_zscore(
            ticks, window_sec=600, pop_rows=50, min_pop=30
        ).select("user_id", "event_id", "z").collect()
    }
    assert len(got) == len(want) > 0
    # the quiet user really has rows on both sides of its gap
    u_rows = [k for k in want if k[0] == u]
    assert len(u_rows) > 1
    diffs = {k for k in want if got[k] != want[k]}
    assert not diffs, f"{len(diffs)} z mismatches, e.g. {sorted(diffs)[:3]}"


def _live_trades(df):
    """(user_id, trade_seq) → closed-trade fields, both sides in the
    batch twin's quantization: prices round(6) by Spark, pnl in
    Spark-rounded micro-units (Python's round(pnl, 6) disagrees with
    that rule when pnl sits on a 1e-6 boundary)."""
    return {
        (r["user_id"], r["trade_seq"]): tuple(r[2:])
        for r in df.select(
            "user_id", "trade_seq", "side",
            F.round("entry_price", 6), F.round("exit_price", 6),
            "exit_reason", micro("pnl"),
        ).collect()
    }


def test_live_stream_broadcasts_frozen_gate_table(spark, sf_dir, tmp, capsys):
    """The warmup entry-gate table is evaluated once, when the live
    pipeline is defined: a micro-batch's broadcast side is a
    ``LocalTableScan`` and no batch scans the warmup tables (a lazy
    gate plan re-runs q_signal_scores over them in every batch)."""
    from zcode_iceberg_spark.streaming.pipeline import live_tick_pipeline

    src = tmp / "plan_src"
    spark.read.parquet(f"{sf_dir}/events.parquet").limit(200).coalesce(
        1
    ).write.parquet(str(src))
    start, _ledger_dir, _summary_dir = live_tick_pipeline(
        spark, str(src), sf_dir, str(tmp / "live_plan")
    )
    q = start()
    try:
        q.processAllAvailable()
        q.explain()  # the last micro-batch's physical plan
    finally:
        q.stop()
    plan = capsys.readouterr().out
    assert "BroadcastExchange" in plan
    bcast = plan.split("BroadcastExchange", 1)[1].splitlines()[1]
    assert bcast.strip().startswith("+- LocalTableScan [user_id"), plan
    assert "InMemoryTableScan" not in plan and sf_dir not in plan, plan


def test_live_pipeline_supervised_end_to_end(spark, sf_dir, raw_events_dir, tmp):
    """VERDICT r8 #2: the reference's full live tick path as ONE
    supervised streaming job — stream → in-stream feature battery →
    warmup-frozen signal-score gate → FSM → ledger + daily-summary
    sinks, processing-time trigger, run under lifecycle.supervise.
    Closed trades must equal the batch-composed twin
    (q_live_pipeline_ledger) minus its EOD close-outs, across
    micro-batch boundaries; the daily summary must equal the ledger's
    own rollup."""
    from zcode_iceberg_spark.streaming.lifecycle import supervise
    from zcode_iceberg_spark.streaming.pipeline import live_tick_pipeline
    from zcode_iceberg_spark.suite.stateful import q_live_pipeline_ledger

    start, ledger_dir, summary_dir = live_tick_pipeline(
        spark, raw_events_dir, sf_dir, str(tmp / "live"), trigger_sec=0.5
    )

    def until(q):
        data = [p for p in q.recentProgress if p["numInputRows"] > 0]
        idle = q.lastProgress is not None and (
            q.lastProgress["numInputRows"] == 0
        )
        return len(data) >= 3 and idle  # all 3 source files + drained

    report = supervise(start, until=until)
    assert report["completed"] is True
    assert report["failures"] == []

    got = _live_trades(spark.read.parquet(ledger_dir))
    want = _live_trades(
        q_live_pipeline_ledger(spark, sf_dir).filter(
            F.col("exit_reason") != "EOD"
        )
    )
    assert len(got) == len(want) > 0
    assert got == want

    # the gate really gates: some users trade in position_ledger but
    # not here (their entry_signal is closed)
    from zcode_iceberg_spark.suite.stateful import q_position_ledger

    ungated_users = {
        r["user_id"] for r in q_position_ledger(spark, sf_dir).collect()
    }
    gated_users = {u for (u, _) in want}
    assert gated_users < ungated_users  # strictly fewer

    # daily-summary sink: upserted rollup equals the ledger's own
    led = spark.read.parquet(ledger_dir)
    roll = {
        r["day"]: (r["n_trades"], r["n_wins"])
        for r in led.groupBy(
            F.date_format("exit_ts", "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_trades"),
            F.sum(F.when(F.col("pnl") > 0, 1).otherwise(0)).alias("n_wins"),
        )
        .collect()
    }
    summ = {
        # the day partition column reads back as DATE; the rollup keys
        # are strings — compare canonically
        str(r["day"]): (r["n_trades"], r["n_wins"])
        for r in spark.read.parquet(summary_dir).collect()
    }
    assert summ == roll and len(summ) > 0


def test_live_pipeline_restart_after_completion_is_idempotent(
    spark, sf_dir, raw_events_dir, tmp
):
    """Restarting the completed live pipeline on the same checkpoint
    (an operator rerun, or a supervisor restart after the feed went
    quiet) must leave both sinks byte-identical: no re-appended
    trades, no double-counted summary days — the epoch-keyed ledger
    overwrite contract."""
    from zcode_iceberg_spark.streaming.lifecycle import supervise
    from zcode_iceberg_spark.streaming.pipeline import live_tick_pipeline

    start, ledger_dir, summary_dir = live_tick_pipeline(
        spark, raw_events_dir, sf_dir, str(tmp / "live2"), trigger_sec=0.5
    )

    def until(q):
        data = [p for p in q.recentProgress if p["numInputRows"] > 0]
        idle = q.lastProgress is not None and (
            q.lastProgress["numInputRows"] == 0
        )
        return len(data) >= 3 and idle

    assert supervise(start, until=until)["completed"] is True
    snap = lambda d: sorted(
        tuple(r) for r in spark.read.parquet(d).collect()
    )
    led1, sum1 = snap(ledger_dir), snap(summary_dir)

    def until2(q):
        return q.lastProgress is not None and (
            q.lastProgress["numInputRows"] == 0
        )

    assert supervise(start, until=until2)["completed"] is True
    assert snap(ledger_dir) == led1
    assert snap(summary_dir) == sum1
    assert len(led1) > 0


def test_live_pipeline_crash_resume_preserves_state(
    spark, sf_dir, raw_events_dir, tmp, monkeypatch
):
    """H9 × H6 for the COMPOSED job: a crash inside the sink of the
    first trade-bearing epoch (after its ledger partition landed, so
    the replay truly re-delivers a written epoch) → supervise restarts
    riding the checkpoint; the fused GroupState (z buffers + open
    positions + trade numbering) must rehydrate so the final ledger
    still equals the batch twin exactly — no lost, duplicated, or
    renumbered trades."""
    import zcode_iceberg_spark.sources.sinks as sinks
    from zcode_iceberg_spark.streaming.lifecycle import supervise
    from zcode_iceberg_spark.streaming.pipeline import live_tick_pipeline
    from zcode_iceberg_spark.suite.stateful import q_live_pipeline_ledger

    real = sinks.upsert_daily_partitions
    crashed = {"done": False}

    def flaky(df, path, partition_col="day"):
        if not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected sink crash")
        return real(df, path, partition_col)

    monkeypatch.setattr(sinks, "upsert_daily_partitions", flaky)
    start, ledger_dir, summary_dir = live_tick_pipeline(
        spark, raw_events_dir, sf_dir, str(tmp / "live3"), trigger_sec=0.5
    )

    def until(q):
        # the post-restart query may hold FEWER than 3 pending files
        # (committed epochs are not re-delivered), so completion is
        # "processed something, now idle" — an idle batch only fires
        # once no source files are pending, and a pre-crash first
        # attempt can never look idle mid-feed
        data = [p for p in q.recentProgress if p["numInputRows"] > 0]
        idle = q.lastProgress is not None and (
            q.lastProgress["numInputRows"] == 0
        )
        return bool(data) and idle

    report = supervise(start, max_restarts=3, backoff_sec=0.1, until=until)
    assert report["completed"] is True
    assert report["restarts"] == 1
    assert any("injected sink crash" in f for f in report["failures"])

    got = _live_trades(spark.read.parquet(ledger_dir))
    want = _live_trades(
        q_live_pipeline_ledger(spark, sf_dir).filter(
            F.col("exit_reason") != "EOD"
        )
    )
    # exactly-once despite the replayed epoch (epoch-keyed overwrite)
    n_rows = spark.read.parquet(ledger_dir).count()
    assert n_rows == len(got)  # no duplicate (user, seq) rows on disk
    assert len(got) == len(want) > 0
    assert got == want


# --------------------------------------------------------- bloom ingest twin


def test_bloom_stream_state_equals_batch_build(spark, sf_dir, raw_docs_dir, tmp):
    """The streamed bitset must equal the one-shot batch byte table
    regardless of how the corpus was split into micro-batches —
    bitwise-OR is associative and commutative, and both paths run the
    SAME bloom_byte_table kernel."""
    from zcode_iceberg_spark.streaming.pipeline import bloom_ingest_stream
    from zcode_iceberg_spark.suite.linkage import (
        bloom_byte_table,
        bloom_table_fingerprint,
    )

    bits_dir = str(tmp / "bloom_bits")
    q = bloom_ingest_stream(spark, raw_docs_dir, bits_dir, str(tmp / "bloom_ck"))
    q.awaitTermination()
    streamed = bloom_table_fingerprint(spark.read.parquet(bits_dir))
    batch = bloom_table_fingerprint(
        bloom_byte_table(
            spark.read.parquet(f"{sf_dir}/documents.parquet").select(
                F.md5("text").alias("content_hash")
            )
        )
    )
    assert streamed == batch and streamed[0] > 0


def test_bloom_epoch_replay_is_idempotent_by_algebra(spark, sf_dir, tmp):
    """Replaying an epoch (at-least-once crash semantics) must leave
    the bitset byte-identical — no epoch bookkeeping involved, the
    OR-semilattice absorbs the replay."""
    from zcode_iceberg_spark.streaming.pipeline import bloom_ingest_step
    from zcode_iceberg_spark.suite.linkage import bloom_table_fingerprint

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mid = docs.agg(F.max("doc_id")).collect()[0][0] // 2
    b0 = docs.filter(F.col("doc_id") <= mid)
    b1 = docs.filter(F.col("doc_id") > mid)
    bits_dir = str(tmp / "bloom_replay_bits")
    bloom_ingest_step(b0, 0, bits_dir)
    bloom_ingest_step(b1, 1, bits_dir)
    before = bloom_table_fingerprint(spark.read.parquet(bits_dir))
    bloom_ingest_step(b1, 1, bits_dir)  # crash replay of epoch 1
    after = bloom_table_fingerprint(spark.read.parquet(bits_dir))
    assert before == after


def test_bloom_streamed_state_serves_the_query_path(spark, sf_dir, tmp):
    """Persisted-state replay-idempotence proven THROUGH the query:
    stream-ingest the historical half only, then probe the batch half
    against the streamed bitset — flags must equal the inline
    dedup_bloom query's."""
    from zcode_iceberg_spark.streaming.pipeline import bloom_ingest_step
    from zcode_iceberg_spark.suite import linkage

    hist, new, _ = linkage._bloom_split(spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hist_docs = docs.join(hist.select("doc_id"), "doc_id", "left_semi")
    mid = hist_docs.agg(F.max("doc_id")).collect()[0][0] // 2
    bits_dir = str(tmp / "bloom_query_bits")
    bloom_ingest_step(hist_docs.filter(F.col("doc_id") <= mid), 0, bits_dir)
    bloom_ingest_step(hist_docs.filter(F.col("doc_id") > mid), 1, bits_dir)
    via_stream = {
        (r.doc_id, r.bloom_candidate)
        for r in linkage.bloom_probe(
            new, spark.read.parquet(bits_dir)
        ).collect()
    }
    inline = {
        (r.doc_id, r.bloom_candidate)
        for r in linkage.QUERIES["dedup_bloom"].fn(spark, sf_dir).collect()
    }
    assert via_stream == inline and via_stream


def test_cms_stream_merged_equals_batch_sketch(spark, sf_dir, raw_docs_dir, tmp):
    """The cell-wise fold of the streamed per-epoch tables must equal
    the one-shot batch sketch for any batch split — counts add."""
    from zcode_iceberg_spark.streaming.pipeline import cms_ingest_stream
    from zcode_iceberg_spark.suite.linkage import (
        _cms_tokens,
        cms_cells,
        read_cms,
    )

    cells_dir = str(tmp / "cms_cells")
    q = cms_ingest_stream(spark, raw_docs_dir, cells_dir, str(tmp / "cms_ck"))
    q.awaitTermination()
    streamed = {
        (r.d, r.pos): r.cnt for r in read_cms(spark, cells_dir).collect()
    }
    batch = {
        (r.d, r.pos): r.cnt
        for r in cms_cells(
            _cms_tokens(spark.read.parquet(f"{sf_dir}/documents.parquet"))
        ).collect()
    }
    assert streamed == batch and batch


def test_cms_epoch_replay_overwrites_not_double_counts(spark, sf_dir, tmp):
    """COUNT state is not idempotent by algebra — exactly-once comes
    from the epoch-keyed overwrite: replaying an epoch leaves the
    merged sketch unchanged."""
    from zcode_iceberg_spark.streaming.pipeline import cms_ingest_step
    from zcode_iceberg_spark.suite.linkage import read_cms

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mid = docs.agg(F.max("doc_id")).collect()[0][0] // 2
    cells_dir = str(tmp / "cms_replay")
    cms_ingest_step(docs.filter(F.col("doc_id") <= mid), 0, cells_dir)
    cms_ingest_step(docs.filter(F.col("doc_id") > mid), 1, cells_dir)
    before = {(r.d, r.pos): r.cnt for r in read_cms(spark, cells_dir).collect()}
    cms_ingest_step(docs.filter(F.col("doc_id") > mid), 1, cells_dir)  # replay
    after = {(r.d, r.pos): r.cnt for r in read_cms(spark, cells_dir).collect()}
    assert before == after


# ----------------------------------------------------------- holt forecaster


def test_holt_stream_agrees_with_batch(spark, sf_dir, raw_events_dir, tmp):
    """Every watermark-finalized bar the stream folds must carry
    exactly the batch query's (level, trend, fitted) — the
    exact-decimal kernel is shared, so agreement is bit-level on the
    rounded outputs."""
    from zcode_iceberg_spark.streaming.pipeline import holt_stream
    from zcode_iceberg_spark.suite.timeseries import q_holt_forecast

    out, state = str(tmp / "holt_out"), str(tmp / "holt_state")
    q = holt_stream(spark, raw_events_dir, out, state, str(tmp / "holt_ck"))
    q.awaitTermination()
    got = {
        (r.user_id, r.bar_ts.strftime("%Y-%m-%d %H:%M:%S")): (
            r.close, r.level, r.trend, r.fitted
        )
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.user_id, r.bar_ts): (r.close, r.level, r.trend, r.fitted)
        for r in q_holt_forecast(spark, sf_dir).collect()
    }
    assert got, "stream produced no finalized bars"
    assert len(got) > len(want) // 2, "watermark should finalize most bars"
    for k, v in got.items():
        assert k in want, k
        assert v == want[k], (k, v, want[k])


def test_holt_stream_replay_safe_both_crash_windows(spark, sf_dir, tmp):
    """At-least-once discipline: replaying an epoch after EITHER crash
    window (before state merge: rewrites identical rows; after state
    merge: skips the write, original partition intact)."""
    import pyspark.sql.functions as F

    from zcode_iceberg_spark.operators.timeseries import ohlc_bars
    from zcode_iceberg_spark.sources.tables import events_ticks
    from zcode_iceberg_spark.streaming.pipeline import holt_stream_step

    bars = ohlc_bars(events_ticks(spark, sf_dir), minutes=60)
    mid = bars.agg(F.max("bar_ts")).collect()[0][0]
    b0 = bars.filter(F.col("bar_ts") < mid)
    b1 = bars.filter(F.col("bar_ts") >= mid)
    out, state = str(tmp / "hre_out"), str(tmp / "hre_state")
    holt_stream_step(b0, 0, out, state)
    snap0 = sorted(map(tuple, spark.read.parquet(out).collect()))
    state0 = sorted(map(tuple, spark.read.parquet(state).collect()))
    # crash-after-state-merge: replay epoch 0 — everything already
    # folded, the original partition must survive untouched
    holt_stream_step(b0, 0, out, state)
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == snap0
    assert sorted(map(tuple, spark.read.parquet(state).collect())) == state0
    # normal progress still works after the replay
    holt_stream_step(b1, 1, out, state)
    n_total = spark.read.parquet(out).count()
    assert n_total == len(snap0) + b1.count()


@pytest.fixture(scope="module")
def kafka_wire_dir(spark, sf_dir):
    """events.parquet serialized as Kafka WIRE records — 3 JSONL files
    carrying the exact column set format("kafka") produces (value =
    the JSON event payload per the pinned producer contract), split on
    event-time thirds with increasing mtimes like raw_events_dir."""
    from zcode_iceberg_spark.sources.tables import normalize_ts
    from zcode_iceberg_spark.streaming.pipeline import KAFKA_TS_FMT

    d = Path(tempfile.mkdtemp(prefix="zspark_kwire_"))
    raw = normalize_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    payload = F.to_json(
        F.struct(
            F.col("event_id"),
            F.date_format("ts", KAFKA_TS_FMT).alias("ts"),
            F.col("user_id"),
            F.col("event_type"),
            F.col("value"),
            F.col("props"),
        )
    )
    wire = raw.select(
        payload.alias("value"),
        F.lit("events").alias("topic"),
        F.lit(0).alias("partition"),
        F.col("event_id").alias("offset"),
    )
    qs = raw.approxQuantile("event_id", [0.33, 0.66], 0.0)
    b0, b1 = (int(q) for q in qs)
    parts = [
        wire.filter(F.col("offset") <= b0),
        wire.filter((F.col("offset") > b0) & (F.col("offset") <= b1)),
        wire.filter(F.col("offset") > b1),
    ]
    for i, p in enumerate(parts):
        sub = d / f"part{i}"
        p.coalesce(1).write.json(str(sub))
        f = next(Path(sub).glob("*.json"))
        dst = d / f"{i:03d}.json"
        shutil.copy(f, dst)
        os.utime(dst, (time.time() + i, time.time() + i))
        shutil.rmtree(sub)
    yield str(d)
    shutil.rmtree(d, ignore_errors=True)


def test_kafka_wire_stream_agreement(
    spark, sf_dir, tmp, raw_events_dir, kafka_wire_dir
):
    """A1-A3 production transport seam (VERDICT r9 #9): the SAME event
    feed serialized as Kafka wire records and decoded by
    stream_events_kafka yields row-for-row the ticks the parquet file
    source yields — so going live against a broker is a one-line
    source swap with every operator, filter, and watermark untouched."""
    from zcode_iceberg_spark.streaming.pipeline import stream_events_kafka

    got = _drain(
        spark, stream_events_kafka(spark, kafka_wire_dir), tmp, "kwire"
    ).collect()
    want = _drain(
        spark, stream_events(spark, raw_events_dir), tmp, "kfile"
    ).collect()
    key = lambda r: r["event_id"]
    cols = ("ts", "user_id", "event_type", "price", "qty", "is_buy")
    got_m = {key(r): tuple(r[c] for c in cols) for r in got}
    want_m = {key(r): tuple(r[c] for c in cols) for r in want}
    assert want_m and got_m == want_m


def test_live_pipeline_over_kafka_wire(spark, sf_dir, tmp, kafka_wire_dir):
    """The COMPOSED product over the Kafka transport: the full
    supervised live pipeline (feature battery → signal gate → FSM →
    idempotent sinks) fed by stream_events_kafka must close exactly
    the trades the hash-oracled batch twin closes (minus its EOD
    close-outs) — transport-agnosticism proven on the whole product,
    not just the tick normalization."""
    from zcode_iceberg_spark.streaming.lifecycle import supervise
    from zcode_iceberg_spark.streaming.pipeline import (
        live_tick_pipeline,
        stream_events_kafka,
    )
    from zcode_iceberg_spark.suite.stateful import q_live_pipeline_ledger

    start, ledger_dir, _summary_dir = live_tick_pipeline(
        spark,
        kafka_wire_dir,
        sf_dir,
        str(tmp / "live_kafka"),
        trigger_sec=0.5,
        source=stream_events_kafka,
    )

    def until(q):
        data = [p for p in q.recentProgress if p["numInputRows"] > 0]
        idle = q.lastProgress is not None and (
            q.lastProgress["numInputRows"] == 0
        )
        return len(data) >= 3 and idle

    report = supervise(start, until=until)
    assert report["completed"] is True
    assert report["failures"] == []

    got = _live_trades(spark.read.parquet(ledger_dir))
    want = _live_trades(
        q_live_pipeline_ledger(spark, sf_dir).filter(
            F.col("exit_reason") != "EOD"
        )
    )
    assert want and got == want
