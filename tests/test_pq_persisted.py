"""Persisted sample-trained PQ: the train-once/encode-incrementally story.

Pins the claims of suite/llm.py:q_ann_pq_persisted — the PQ member of
the persisted-ingest-state family: (1) codebooks train on the
deterministic HISTORICAL sample only and persist as a tiny model
table; the codes table is built/merged/compacted through the
maintenance layer and a replayed ingest day is a no-op; (2) the query
phase's plan contains NO training scan and no raw-history read — raw
embeddings are scanned once with the batch predicate pushed, history
arrives from the compacted codes table, and the ADC branch
column-prunes that table to the narrow (vec_id, codes) schema while
only the rerank branch reads the vectors; (3) the end result matches
the self-contained DuckDB oracle (test_oracle_suite covers the
registry entry on every run).
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from pyspark.sql import functions as F

from zcode_iceberg_spark.suite.llm import (
    PQ_K,
    PQ_M,
    PQ_SAMPLE_MOD,
    build_pq_state,
    pq_search_against,
)


def test_state_build_is_merge_idempotent(spark, sf_dir, tmp_path):
    state = str(tmp_path / "pq_state")
    books_dir, codes_dir, cut = build_pq_state(spark, sf_dir, state)

    books = spark.read.parquet(books_dir)
    assert set(books.columns) == {"s", "cid", "c"}
    # <= PQ_K per subspace: Lloyd can empty a cluster (degraded-budget
    # note in _pq_train_books); on the driver corpora all survive
    per_s = {r["s"]: r["n"] for r in books.groupBy("s").count()
             .withColumnRenamed("count", "n").collect()}
    assert set(per_s) == set(range(PQ_M))
    assert all(0 < n <= PQ_K for n in per_s.values())

    from zcode_iceberg_spark.sources.tables import load_table

    n_hist = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < cut)
        .count()
    )
    codes = spark.read.parquet(codes_dir)
    assert codes.count() == n_hist
    assert codes.select("vec_id").distinct().count() == n_hist
    assert {f"p{s}" for s in range(PQ_M)} <= set(codes.columns)

    # replaying day-1 (same codes, same keys) is a no-op merge
    from zcode_iceberg_spark.sources.sinks import merge_upsert
    from zcode_iceberg_spark.suite.llm import _pq_emb, _pq_enc_cols

    books_rows = spark.read.parquet(books_dir).collect()
    bks = [
        sorted((int(r["cid"]), list(r["c"])) for r in books_rows if r["s"] == s)
        for s in range(PQ_M)
    ]
    emb = _pq_emb(spark, sf_dir)
    day_cut = cut // 2
    day1 = emb.filter(
        (F.col("vec_id") >= day_cut) & (F.col("vec_id") < cut)
    ).select("vec_id", "e", *_pq_enc_cols(bks))
    raw_dir = f"{state}/codes_raw"
    before = sorted(
        (r["vec_id"], tuple(r[f"p{s}"] for s in range(PQ_M)))
        for r in spark.read.parquet(raw_dir).collect()
    )
    merge_upsert(spark, raw_dir, day1, "vec_id")
    spark.catalog.refreshByPath(raw_dir)
    after = sorted(
        (r["vec_id"], tuple(r[f"p{s}"] for s in range(PQ_M)))
        for r in spark.read.parquet(raw_dir).collect()
    )
    assert after == before


def test_books_trained_on_sample_only(spark, sf_dir, tmp_path):
    """The persisted codebooks must equal a retrain on exactly the
    historical sample — proving the training input is the sample, not
    the corpus."""
    from zcode_iceberg_spark.suite.llm import _pq_emb, _pq_train_books

    state = str(tmp_path / "pq_state_sample")
    books_dir, _codes_dir, cut = build_pq_state(spark, sf_dir, state)
    emb = _pq_emb(spark, sf_dir)
    sample = emb.filter(
        (F.col("vec_id") < cut) & (F.col("vec_id") % PQ_SAMPLE_MOD == 0)
    )
    expect = _pq_train_books(sample)
    rows = spark.read.parquet(books_dir).collect()
    got = [
        sorted((int(r["cid"]), list(r["c"])) for r in rows if r["s"] == s)
        for s in range(PQ_M)
    ]
    assert got == expect


def test_query_phase_never_retrains_or_rereads_history(
    spark, sf_dir, tmp_path
):
    state = str(tmp_path / "pq_state_plan")
    books_dir, codes_dir, cut = build_pq_state(spark, sf_dir, state)
    df = pq_search_against(spark, sf_dir, books_dir, codes_dir, cut)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    # raw embeddings: exactly ONE scan (the incoming batch, shared via
    # the persist barrier), carrying the pushed batch predicate — a
    # training or historical read would appear as a scan without it
    assert p.count("embeddings.parquet") == 1
    assert p.count("GreaterThanOrEqual(vec_id") == 1
    # history arrives from the compacted codes table, read TWICE with
    # column pruning splitting the branches: the ADC scan gets only
    # the narrow int codes ({PQ_M} ints/vector — the memory story),
    # the rerank scan only the vectors
    assert p.count("codes_compact") == 2
    schemas = re.findall(r"ReadSchema: (struct<[^\n]*)", p)
    narrow = [
        s for s in schemas if "p0:int" in s and ":array<double>" not in s
    ]
    wide = [
        s
        for s in schemas
        if "e:array<double>" in s and "p0:int" not in s
    ]
    assert narrow, schemas
    assert wide, schemas
    assert "CartesianProduct" not in p


# every builder a declared Query.state can run, as llm module attributes
STATE_BUILDERS = (
    "build_incremental_hash_table",
    "build_neardup_state",
    "build_substr_state",
    "build_ivf_state",
    "build_pq_state",
    "build_hash_state_deleted",
    "build_neardup_state_deleted",
    "build_substr_state_deleted",
    "build_ivf_state_deleted",
    "build_pq_state_deleted",
    "build_dsir_stats",
    "q_dedup_near",
)


def _stateful_entries() -> list:
    """Every entry declaring ``Query.state``; the full set costs ~85 s
    at sf0.001, so only the PQ probe stays in the default lane."""
    from zcode_iceberg_spark.suite import registry

    return [
        pytest.param(
            n, marks=() if n == "ann_pq_persisted" else pytest.mark.slow
        )
        for n, q in registry().items()
        if q.state is not None
    ]


@pytest.mark.parametrize("name", _stateful_entries())
def test_persisted_probe_memoizes_build(spark, sf_dir, monkeypatch, name):
    """VERDICT r9 #5 accounting contract, for every registry entry that
    declares ``Query.state``: once the declared state ran (the bench
    pre-warm), the probe builds NOTHING — production builds once and
    queries daily; re-paying the build per call masked probe
    regressions — and a second call returns identical rows from the
    same state."""
    import zcode_iceberg_spark.suite.llm as llm
    from zcode_iceberg_spark.suite import registry

    q = registry()[name]
    llm._SESSION_MEMO.clear()
    q.state(spark, sf_dir)
    calls: list[str] = []
    for b in STATE_BUILDERS:
        real = getattr(llm, b)

        def counting(*a, _b=b, _real=real, **k):
            calls.append(_b)
            return _real(*a, **k)

        monkeypatch.setattr(llm, b, counting)
    a = sorted(map(repr, q.fn(spark, sf_dir).collect()))
    b = sorted(map(repr, q.fn(spark, sf_dir).collect()))
    assert calls == [], f"probe re-ran builders {calls}"
    assert a == b and a
