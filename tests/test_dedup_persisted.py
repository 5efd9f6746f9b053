"""Persisted incremental dedup: the daily-ingest story end-to-end.

Pins the three claims of suite/llm.py:q_dedup_incremental_persisted:
(1) the historical hash table is built/merged/compacted through the
maintenance layer and re-ingest of a day is idempotent; (2) the batch
phase's plan reads the compacted hash table and scans documents ONCE,
with the batch predicate pushed to that scan — the historical raw text
is never rescanned; (3) the end result is identical to the
self-contained dedup_incremental (same oracle covers both).
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from zcode_iceberg_spark.suite.llm import (
    _two_day_ingest,
    build_incremental_hash_table,
    incremental_dedup_against,
    q_dedup_incremental,
    q_dedup_incremental_persisted,
)


def _rows(df):
    return sorted(
        (r["doc_id"], r["content_hash"], r["is_kept"]) for r in df.collect()
    )


def test_persisted_matches_selfcontained(spark, sf_dir):
    got = q_dedup_incremental_persisted(spark, sf_dir)
    want = q_dedup_incremental(spark, sf_dir)
    assert _rows(got) == _rows(want)


def test_two_day_ingest_is_first_seen_wins(spark, tmp_path):
    # cut 10: day 0 is ids < 5, day 1 ids 5..9, id 12 is the batch
    src = spark.createDataFrame(
        [(1, "a", "d0"), (2, "b", "d0"), (6, "a", "d1"), (7, "c", "d1"),
         (12, "e", "batch")],
        "doc_id BIGINT, k STRING, v STRING",
    )
    state = str(tmp_path / "ingest")

    def ingest() -> set:
        out = _two_day_ingest(spark, state, 10, "doc_id", "k", src.filter)
        assert out == f"{state}/compact"
        got = spark.read.parquet(out).select("doc_id", "k", "v")
        return {tuple(r) for r in got.collect()}

    want = {(1, "a", "d0"), (2, "b", "d0"), (7, "c", "d1")}
    assert ingest() == want  # "a" keeps its day-0 row, "c" is inserted
    assert ingest() == want  # a rebuild into the same dir starts clean


def test_state_build_is_merge_idempotent(spark, sf_dir, tmp_path):
    state = str(tmp_path / "hash_state")
    hash_dir, cut = build_incremental_hash_table(spark, sf_dir, state)
    table = spark.read.parquet(hash_dir)
    assert table.columns == ["content_hash", "first_doc_id", "n_docs"]
    # the table holds exactly the distinct historical hashes, keyed once
    from zcode_iceberg_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < cut)
    n_hist = d.select(F.md5("text")).distinct().count()
    assert table.count() == n_hist
    assert table.select("content_hash").distinct().count() == n_hist

    # re-merging day-1 (a replayed ingest) leaves the table unchanged:
    # every row it carries is already keyed in, so novel-set is empty
    from zcode_iceberg_spark.sources.sinks import merge_upsert

    day_cut = cut // 2
    day1 = (
        d.filter(F.col("doc_id") >= day_cut)
        .groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.min("doc_id").alias("first_doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )
    raw_dir = f"{state}/raw"
    before = sorted(r["content_hash"] for r in spark.read.parquet(raw_dir).collect())
    novel = day1.join(
        spark.read.parquet(raw_dir).select("content_hash"),
        "content_hash",
        "left_anti",
    )
    merge_upsert(spark, raw_dir, novel, "content_hash")
    spark.catalog.refreshByPath(raw_dir)
    after = sorted(r["content_hash"] for r in spark.read.parquet(raw_dir).collect())
    assert after == before


def test_batch_phase_never_rescans_raw_text(spark, sf_dir, tmp_path):
    state = str(tmp_path / "hash_state_plan")
    hash_dir, cut = build_incremental_hash_table(spark, sf_dir, state)
    df = incremental_dedup_against(spark, sf_dir, hash_dir, cut)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    # exactly ONE scan of the documents table — the incoming batch;
    # the historical side reads the compacted hash table instead
    assert p.count("documents.parquet") == 1
    assert "compact" in p
    # the batch predicate reaches that one scan as a pushed filter
    assert "GreaterThanOrEqual(doc_id" in p
    # and raw text never joins/shuffles: the only text reference is
    # the md5 projection directly above the scan (no second occurrence
    # in any Exchange's output)
    assert p.count("md5") >= 1


def test_scratch_writing_queries_are_rerun_idempotent(spark, sf_dir):
    """Queries that materialize scratch state (/tmp hash tables,
    format shards) must return identical results when re-run in the
    SAME session — the rebuild-from-scratch contract, plus proof that
    Spark's cached file listings don't poison the second run."""
    from zcode_iceberg_spark.suite import registry

    reg = registry()
    for name in (
        "dedup_incremental_persisted",
        "ann_ivf_incremental_persisted",
        "csv_roundtrip",
        "jsonl_roundtrip",
        "orc_roundtrip",
        "avro_roundtrip",
    ):
        a = sorted(map(str, reg[name].fn(spark, sf_dir).collect()))
        b = sorted(map(str, reg[name].fn(spark, sf_dir).collect()))
        assert a == b and a, name


def test_neardup_batch_phase_never_reshingles_history(spark, sf_dir, tmp_path):
    """The LSH twin of the single-scan claim: with the band/signature
    state prebuilt, the batch phase's plan scans documents ONCE (the
    incoming batch, predicate pushed) plus the two compacted state
    tables — historical text is never re-shingled."""
    from pyspark.sql import functions as F

    from zcode_iceberg_spark.operators import text as tx
    from zcode_iceberg_spark.sources.tables import load_table
    from zcode_iceberg_spark.suite.llm import build_neardup_state

    state = str(tmp_path / "lsh_state")
    bands_dir, sigs_dir, cut = build_neardup_state(spark, sf_dir, state)
    d = load_table(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") >= cut)
    sig_new = tx.minhash_signatures(new, "doc_id", "text")
    bands_new = sig_new.select(
        F.col("doc_id").alias("nid"),
        F.explode(tx.lsh_bands(F.col("sig"))).alias("b"),
    ).select("nid", "b.band_id", "b.bucket_key")
    hist_bands = spark.read.parquet(bands_dir)
    cand = bands_new.join(
        hist_bands.select(
            F.col("doc_id").alias("hid"), "band_id", "bucket_key"
        ),
        ["band_id", "bucket_key"],
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cand.explain("formatted")
    p = buf.getvalue()
    # minhash_signatures reads its input twice by design (shingle path
    # + sentinel id join) — the claim is that EVERY documents scan is
    # the batch (pushed doc_id >= cut); a historical-text scan would
    # appear as a documents scan WITHOUT the batch predicate
    n_scans = p.count("documents.parquet")
    assert n_scans >= 1
    assert p.count("GreaterThanOrEqual(doc_id") == n_scans
    assert "bands" in p  # the persisted band table feeds the join
    assert "CartesianProduct" not in p


def test_neardup_hist_cap_preserves_flags_on_dup_flood(spark, sf_dir, tmp_path):
    """The dup-flood guard: capping each bucket's historical side must
    bound candidates without changing any is_neardup verdict on an
    exact-copy flood (any retained family member scores 1.0)."""
    from pyspark.sql import functions as F

    from zcode_iceberg_spark.sources.tables import load_table
    from zcode_iceberg_spark.suite.llm import (
        build_neardup_state,
        incremental_neardup_against,
    )

    base = load_table(spark, sf_dir, "documents").limit(10)
    copies = spark.range(30).select(F.col("id").alias("cp"))
    # copy k of every family lands at k*1000 + base_id: families are
    # INTERLEAVED across the id range, so the 80/20 cut leaves every
    # new-batch doc with historical near-dup partners
    flood = (
        base.crossJoin(F.broadcast(copies))
        .select(
            (F.col("cp") * 1000 + F.col("doc_id")).alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
        )
    )
    corpus = str(tmp_path / "flood")
    flood.write.parquet(f"{corpus}/documents.parquet")

    state = str(tmp_path / "state")
    bands_dir, sigs_dir, cut = build_neardup_state(spark, corpus, state)
    exact = incremental_neardup_against(
        spark, corpus, bands_dir, sigs_dir, cut
    )
    capped = incremental_neardup_against(
        spark, corpus, bands_dir, sigs_dir, cut, hist_cap=4
    )
    ex = {r["doc_id"]: r for r in exact.collect()}
    cp = {r["doc_id"]: r for r in capped.collect()}
    assert set(ex) == set(cp)
    n_flagged = sum(1 for r in ex.values() if r["is_neardup"])
    assert n_flagged > 0  # the flood really floods
    for k in ex:
        assert cp[k]["is_neardup"] == ex[k]["is_neardup"], k
        assert cp[k]["n_candidates"] <= ex[k]["n_candidates"]
    # exact copies: capped members still score 1.0
    flagged = [k for k in ex if ex[k]["is_neardup"]]
    assert all(cp[k]["best_est"] == 1.0 for k in flagged if ex[k]["best_est"] == 1.0)


def test_substr_batch_phase_never_rescans_history_text(
    spark, sf_dir, tmp_path
):
    """The ExactSubstr member of the single-scan claim: with the
    window-hash ledger prebuilt, the probe plan scans documents ONCE
    (the incoming batch, doc_id predicate pushed) plus the compacted
    ledger — historical text is never re-windowed."""
    import contextlib as _ctx
    import io as _io

    from zcode_iceberg_spark.suite.llm import (
        build_substr_state,
        substring_dedup_against,
    )

    state = str(tmp_path / "substr_state")
    ledger_dir, cut = build_substr_state(spark, sf_dir, state)
    df = substring_dedup_against(spark, sf_dir, ledger_dir, cut)
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    n_scans = p.count("documents.parquet")
    assert n_scans >= 1
    # every documents scan is the batch: the pushed predicate count
    # equals the scan count (a historical-text scan would lack it)
    assert p.count("GreaterThanOrEqual(doc_id") == n_scans
    assert "ledger" in p  # the persisted window-hash table feeds the join
    assert "CartesianProduct" not in p


def test_substr_persisted_matches_whole_corpus_on_new_docs(spark, sf_dir):
    """History-aware equivalence, exact by algebra: a new position's
    whole-corpus rule (total occurrences > 1) decomposes as
    (old ≥ 1) OR (batch count > 1) — precisely the ledger-membership
    OR within-batch-count predicate the probe applies — so the
    persisted probe's new-doc rollup must equal the whole-corpus
    query's rows for those docs bit-for-bit."""
    from zcode_iceberg_spark.suite.llm import (
        q_substring_dedup,
        q_substring_dedup_persisted,
    )

    got = {
        r["doc_id"]: (r["n_spans"], r["dup_chars"], r["dup_frac"])
        for r in q_substring_dedup_persisted(spark, sf_dir).collect()
    }
    whole = {
        r["doc_id"]: (r["n_spans"], r["dup_chars"], r["dup_frac"])
        for r in q_substring_dedup(spark, sf_dir).collect()
        if r["doc_id"] in got
    }
    assert got == whole and got


def test_probe_state_memoized_and_build_entry_fresh(spark, sf_dir):
    """r12 accounting split: the persisted probes reuse ONE state build
    per (session, corpus) — a second call must not rewrite the state
    dir (production probes daily against an existing ledger; the bench
    prices the probe) — while the priced *_ledger_build entries build
    FRESH into build-scoped scratch, never touching the probes' state."""
    import os
    from pathlib import Path

    from zcode_iceberg_spark.suite.llm import (
        _build_scratch,
        q_dedup_ledger_build,
        q_neardup_incremental_persisted,
    )

    first = _rows(q_dedup_incremental_persisted(spark, sf_dir))
    state = Path(_build_scratch("zspark_hash_state_", sf_dir))
    assert state.exists()
    stamp = {p: os.stat(p).st_mtime_ns for p in state.rglob("*.parquet")}
    assert stamp
    again = _rows(q_dedup_incremental_persisted(spark, sf_dir))
    assert again == first
    assert {p: os.stat(p).st_mtime_ns for p in state.rglob("*.parquet")} == stamp

    # the build entry runs fresh and leaves the memoized state alone
    assert q_dedup_ledger_build(spark, sf_dir).count() > 0
    assert {p: os.stat(p).st_mtime_ns for p in state.rglob("*.parquet")} == stamp

    # the LSH twin memoizes the same way
    r1 = q_neardup_incremental_persisted(spark, sf_dir).count()
    lsh_state = Path(_build_scratch("zspark_hash_state_", sf_dir) + "_lsh")
    lsh_stamp = {
        p: os.stat(p).st_mtime_ns for p in lsh_state.rglob("*.parquet")
    }
    assert lsh_stamp
    assert q_neardup_incremental_persisted(spark, sf_dir).count() == r1
    assert {
        p: os.stat(p).st_mtime_ns for p in lsh_state.rglob("*.parquet")
    } == lsh_stamp
