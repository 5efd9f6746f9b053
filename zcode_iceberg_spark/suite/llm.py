"""LLM-data-pipeline suite: dedup (exact / MinHash+LSH / SimHash /
n-gram Jaccard), embedding similarity search (brute-force + LSH),
text analysis (language-ID, quality, token counts, fingerprint).

Driver-mandated first-class components (BASELINE north star). Every
query has a DuckDB oracle: the md5-based hashing and left-to-right
double folds are engine-identical (operators/text.py,
operators/similarity.py docstrings), so even MinHash signatures and
cosine ranks compare bit-stably. Oracle SQL is GENERATED from the same
Python constants as the Spark expressions — one source of truth.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zcode_iceberg_spark.operators import similarity as sim_ops
from zcode_iceberg_spark.operators import text as tx
from zcode_iceberg_spark.sources.tables import (
    EVENTS_TICKS_SQL,
    events_ticks,
    load_table,
)
from zcode_iceberg_spark.suite import Query


def _reuse(df: DataFrame) -> DataFrame:
    """Stage barrier for a frame consumed by 2+ downstream branches.

    persist(MEMORY_AND_DISK), NOT localCheckpoint: persisted blocks
    keep their lineage, so on a real cluster an executor loss
    recomputes the lost partitions instead of failing the job
    (localCheckpoint stores blocks unreplicated and truncates lineage
    — fine inside iterative fixpoints where unbounded plan growth is
    the greater evil, unrecoverable for a plain reuse barrier).
    Lazy like the rest of the plan: materializes on first action."""
    from pyspark import StorageLevel

    return df.persist(StorageLevel.MEMORY_AND_DISK)


# Build-once session state — learned models (BPE merges, IVF/PQ
# codebooks, the DSIR bucket table), persisted index dirs and cached
# frames — lives in ONE memo keyed by (applicationId, kind, key).
# applicationId is stable for the session's lifetime and never recycled
# the way id(spark) can be after a stop + GC (which would hand out
# DataFrames bound to a dead session); a fresh session rebuilds.
_SESSION_MEMO: dict[tuple, object] = {}


def _session_memo(spark: SparkSession, kind: str, key, make, live=None):
    """Get-or-``make()`` the session's ``kind`` artifact for ``key``;
    ``live(got)`` re-validates a hit (False → rebuild)."""
    k = (spark.sparkContext.applicationId, kind, key)
    got = _SESSION_MEMO.get(k)
    if got is None or (live is not None and not live(got)):
        got = make()
        _SESSION_MEMO[k] = got
    return got


def _paths_live(got: tuple) -> bool:
    """A memoized state tuple's paths still hold data. An entry can
    outlive its files (a same-pid rebuild rmtree'd them, or external
    /tmp cleanup) and stale paths would fail lazily at action time; an
    interrupted sweep can leave the DIRECTORY but delete its
    part-files, so existence alone isn't enough: require non-empty."""
    from pathlib import Path as _Path

    paths = [_Path(p) for p in got if isinstance(p, str)]
    return all(p.exists() and (not p.is_dir() or any(p.iterdir())) for p in paths)


P = tx.HASH_P
EMB_DIM = 64
TOPK = 5
NEARDUP_MIN_COS = 0.3

# Fixed-size query/audit panel (r10, from the sf1 replica pass): the
# retrieval queries and recall panels draw their QUERY set from
# vec_id % 100 == 0 — a constant corpus FRACTION, which makes every
# exact arm (brute top-k, recall ground truth, brute MMR pool) grow
# quadratically with the corpus (measured: ann_pq_recall 9.6× wall at
# 10× corpus). A recall audit needs a statistically sufficient panel,
# not a corpus share, so panel membership is additionally capped at a
# fixed absolute id = the sf0.1 id bound: every driver corpus (max
# vec_id 1999 at sf0.1, 499 below) is UNAFFECTED — all recorded hashes
# stand, re-gated 26/26 green — while past it the panel is FIXED at
# the sf0.1 panel (20 queries) and every exact arm goes linear in
# corpus size (measured on the 10× replica: embedding_topk
# 38.0 s → 4.3 s, ann_pq_recall 46.6 → 9.6 s).
# The SQL oracles interpolate the same constant via PANEL_PRED_SQL —
# one knob, both engines (hardcoding the literal in ~14 oracles would
# silently desynchronize the panels if the constant ever moved).
QUERY_PANEL_MAX_ID = 2_000

# the oracle-side twin of _panel_pred — keep the SPELLING stable: it is
# part of the recorded oracle text the driver hashes against
PANEL_PRED_SQL = f"vec_id % 100 = 0 AND vec_id < {QUERY_PANEL_MAX_ID}"


def _panel_pred():
    """The shared query-panel membership predicate (see
    QUERY_PANEL_MAX_ID / PANEL_PRED_SQL)."""
    return (F.col("vec_id") % 100 == 0) & (
        F.col("vec_id") < QUERY_PANEL_MAX_ID
    )

# ---------------------------------------------------------------- SQL helpers

WORD_HASH_SQL = (
    "(CAST(concat('0x', substr(md5({x}), 1, 15)) AS BIGINT) % 2147483647)"
)

TOKS_CTE = r"""
toks AS (
  SELECT doc_id, lang, source, text,
         regexp_split_to_array(lower(text), '\s+') AS w
  FROM documents
)"""

CHSH_CTE = r"""
chsh AS (
  SELECT doc_id, source,
         CASE WHEN length(text) >= 4
              THEN list_transform(
                     generate_series(1, length(text) - 3),
                     i -> substr(lower(text), i, 4))
              ELSE [] END AS s
  FROM documents
)"""

_HS = WORD_HASH_SQL.format(x="x")
HASHES_CTE = f"""
hs AS (
  SELECT doc_id, source, list_transform(s, x -> {_HS}) AS h FROM chsh
)"""

_SIG_COLS = ",\n         ".join(
    f"coalesce(list_min(list_transform(h, x -> ({a} * x + {b}) % {P})), {P}) AS s{j}"
    for j, (a, b) in enumerate(tx.MINHASH_COEF)
)
SIG_CTE = f"""
sig AS (
  SELECT doc_id, source,
         {_SIG_COLS}
  FROM hs
)"""


def _band_key_sql(alias: str, band: int) -> str:
    slots = [
        f"{alias}.s{band * tx.ROWS_PER_BAND + r}" for r in range(tx.ROWS_PER_BAND)
    ]
    return "concat_ws(',', " + ", ".join(f"CAST({s} AS VARCHAR)" for s in slots) + ")"


BANDS_CTE = (
    "bands AS (\n  "
    + "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {band} AS band_id, {_band_key_sql('sig', band)} AS bucket_key"
        " FROM sig"
        for band in range(tx.BANDS)
    )
    + "\n)"
)

_EST_JACCARD_SQL = (
    "("
    + " + ".join(
        f"CASE WHEN a.s{j} = b.s{j} THEN 1 ELSE 0 END" for j in range(tx.N_PERM)
    )
    + f") / {float(tx.N_PERM)!r}"
)

# embedding dot/norm folds — left-to-right double folds identical to
# F.aggregate(zip_with(...), 0.0, +)
def _dot_sql(a: str, b: str, dim: int = EMB_DIM) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, {dim}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), "
        "(acc, x) -> acc + x)"
    )


def _norm_sql(a: str, dim: int = EMB_DIM) -> str:
    return (
        f"sqrt(list_reduce(list_transform(generate_series(1, {dim}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)), "
        "(acc, x) -> acc + x))"
    )


def _cos_sql(a: str, b: str, dim: int = EMB_DIM) -> str:
    return (
        f"CASE WHEN {_norm_sql(a, dim)} > 0 AND {_norm_sql(b, dim)} > 0 "
        f"THEN {_dot_sql(a, b, dim)} / ({_norm_sql(a, dim)} * {_norm_sql(b, dim)}) "
        "ELSE 0.0 END"
    )


# ------------------------------------------------------------------- queries


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 content-hash groups, canonical keeper = min id
    (hash-groupBy — map-side partial agg makes this shuffle-light at
    any scale)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("content_hash")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("keep_id"),
        (F.count(F.lit(1)) - 1).alias("n_dropped"),
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS content_hash,
       count(*) AS n_docs,
       min(doc_id) AS keep_id,
       count(*) - 1 AS n_dropped
FROM documents GROUP BY md5(text)
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (16 perms over char-4-gram shingles),
    exploded to (doc_id, perm_id, sig) rows for typed comparison."""
    d = load_table(spark, sf_dir, "documents")
    sig = tx.minhash_signatures(d, "doc_id", "text")
    return sig.select(
        "doc_id", F.posexplode("sig").alias("perm_id", "sig_val")
    ).select("doc_id", F.col("perm_id").cast("int").alias("perm_id"), "sig_val")


SQL_MINHASH_SIGNATURES = f"""
WITH {CHSH_CTE},
{HASHES_CTE},
{SIG_CTE}
SELECT doc_id, perm_id, sig_val FROM (
  {" UNION ALL ".join(f"SELECT doc_id, {j} AS perm_id, s{j} AS sig_val FROM sig" for j in range(tx.N_PERM))}
)
"""


def q_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates: band the signatures
    ({tx.BANDS} bands × {tx.ROWS_PER_BAND} rows), join per
    (band, bucket), dedup pairs, and attach the signature-estimated
    Jaccard. The pair join is hash-partitioned by bucket key — the
    standard LSH scale layout (no all-pairs pass anywhere).
    """
    d = load_table(spark, sf_dir, "documents")
    # stage barrier: the signature table feeds the band explode AND
    # both sides of the post-dedup signature re-attach — materialize
    # it once instead of recomputing the shingle+hash fold three times
    sig = _reuse(tx.minhash_signatures(d, "doc_id", "text"))
    # the pair join carries ONLY ids — never the 64-int signature
    # arrays. A corpus with B-way duplicate families puts B members in
    # one bucket and the band join emits O(B²) match rows per bucket;
    # attaching est_jaccard AFTER the (doc1, doc2) dedup means (a) the
    # 64-element agreement fold runs once per CANDIDATE PAIR instead of
    # once per band match (up to {tx.BANDS}× fewer folds exactly on the
    # duplicate-heavy rows that explode), and (b) the band join's
    # shuffled input drops the ~520 B signature payload per row — the
    # arrays re-attach via two doc-count-sized equi-joins. Measured on
    # the SCALE.md 100× dup-flood smoke (1M docs, 100-way families,
    # 2.10e9 candidate pairs): 842 s → 775 s at a 24 GiB local JVM,
    # identical output; the shape's bigger payoff is on a real cluster
    # where the band-join shuffle is network, not local disk.
    bands = sig.select(
        "doc_id", F.explode(tx.lsh_bands(F.col("sig"))).alias("b")
    ).select("doc_id", F.col("b.band_id"), F.col("b.bucket_key"))
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bucket_key") == F.col("b.bucket_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc1"),
            F.col("b.doc_id").alias("doc2"),
        )
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )
    s1 = sig.select(F.col("doc_id").alias("doc1"), F.col("sig").alias("sig1"))
    s2 = sig.select(F.col("doc_id").alias("doc2"), F.col("sig").alias("sig2"))
    return (
        pairs.join(s1, "doc1")
        .join(s2, "doc2")
        .select(
            "doc1",
            "doc2",
            "n_bands",
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("sig1"),
                        F.col("sig2"),
                        lambda x, y: F.when(x == y, 1).otherwise(0),
                    ),
                    F.lit(0),
                    lambda acc, x: acc + x,
                )
                / F.lit(float(tx.N_PERM)),
                6,
            ).alias("est_jaccard"),
        )
    )


SQL_LSH_CANDIDATES = f"""
WITH {CHSH_CTE},
{HASHES_CTE},
{SIG_CTE},
{BANDS_CTE}
SELECT a.doc_id AS doc1, b.doc_id AS doc2,
       count(*) AS n_bands,
       round(max({_EST_JACCARD_SQL.replace('a.s', 'sa.s').replace('b.s', 'sb.s')}), 6)
         AS est_jaccard
FROM bands a
JOIN bands b ON a.band_id = b.band_id AND a.bucket_key = b.bucket_key
            AND a.doc_id < b.doc_id
JOIN sig sa ON sa.doc_id = a.doc_id
JOIN sig sb ON sb.doc_id = b.doc_id
GROUP BY a.doc_id, b.doc_id
"""


JACC_TRUE_MIN = 0.4  # exact char-4-gram Jaccard that counts as a true near-dup
RECALL_PANEL = 128  # fixed audit-panel size (hash-selected docs)


def _doc_gram_sets(d: DataFrame) -> DataFrame:
    """(doc_id, h: distinct hashed char-4-gram set, n: |set|) — the
    exact-Jaccard ground truth the LSH audits compare against (same
    hashing as the MinHash input, HASHES_CTE)."""
    lowered = d.select("doc_id", F.lower("text").alias("lt")).repartition(
        d.sparkSession.sparkContext.defaultParallelism
    )
    h = F.array_distinct(
        F.transform(
            tx.char_shingles(F.col("lt"), 4, prelowered=True),
            lambda s: tx.word_hash(s),
        )
    )
    return lowered.select("doc_id", h.alias("h")).withColumn("n", F.size("h"))


_HD_CTE = """hd AS (
  SELECT doc_id, list_distinct(h) AS h, len(list_distinct(h)) AS n FROM hs
)"""


def _exact_jacc(a_h, a_n, b_h, b_n):
    ni = F.size(F.array_intersect(a_h, b_h))
    return ni / (a_n + b_n - ni)


_EXACT_JACC_SQL = (
    "len(list_intersect({a}.h, {b}.h)) * 1.0 / "
    "({a}.n + {b}.n - len(list_intersect({a}.h, {b}.h)))"
)


def q_lsh_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH quality audit, precision side: every banded candidate pair
    re-scored with its EXACT char-4-gram Jaccard, rolled up per
    estimated-Jaccard decile — the monitoring view that tells a
    production dedup whether its banding threshold is paying for
    itself (what fraction of candidates at each signature-agreement
    level are real near-dups at {JACC_TRUE_MIN}).

    Scale shape: candidates are already bounded by the banding
    equi-join; the exact re-score joins the per-doc gram SETS onto
    those pairs only (O(candidates), the same stage-2 cost model as
    dedup_crosscheck), and the rollup is a 10-row aggregate. Mean
    exact Jaccard aggregates in integer micro-units (order-free)."""
    d = load_table(spark, sf_dir, "documents")
    cand = q_lsh_candidates(spark, sf_dir)
    # both pair sides consume the gram sets — materialize the 10M-md5
    # hashing pass ONCE (lazy persist; same stage-barrier rationale
    # as decontaminate's gram explode)
    hd = _reuse(_doc_gram_sets(d))
    a = hd.alias("ha")
    b = hd.alias("hb")
    scored = (
        cand.join(a, F.col("doc1") == F.col("ha.doc_id"))
        .join(b, F.col("doc2") == F.col("hb.doc_id"))
        .select(
            "est_jaccard",
            _exact_jacc(
                F.col("ha.h"), F.col("ha.n"), F.col("hb.h"), F.col("hb.n")
            ).alias("exact_j"),
        )
    )
    bucket = F.least(F.floor(F.col("est_jaccard") * 10), F.lit(9)).cast("bigint")
    ju = F.round(F.col("exact_j") * 1e6).cast("bigint")
    return (
        scored.select(bucket.alias("est_decile"), ju.alias("ju"))
        .groupBy("est_decile")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.sum("ju") / F.count(F.lit(1)) / 1e6, 6).alias("mean_exact_j"),
            F.sum(
                F.when(F.col("ju") >= int(JACC_TRUE_MIN * 1e6), 1).otherwise(0)
            ).alias("n_true"),
            F.round(
                F.sum(
                    F.when(F.col("ju") >= int(JACC_TRUE_MIN * 1e6), 1).otherwise(0)
                )
                / F.count(F.lit(1)),
                6,
            ).alias("precision"),
        )
    )


SQL_LSH_PRECISION = f"""
WITH {CHSH_CTE},
{HASHES_CTE},
{SIG_CTE},
{BANDS_CTE},
{_HD_CTE},
cand AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         round(max({_EST_JACCARD_SQL.replace('a.s', 'sa.s').replace('b.s', 'sb.s')}), 6)
           AS est_jaccard
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.bucket_key = b.bucket_key
              AND a.doc_id < b.doc_id
  JOIN sig sa ON sa.doc_id = a.doc_id
  JOIN sig sb ON sb.doc_id = b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
scored AS (
  SELECT least(CAST(floor(c.est_jaccard * 10) AS BIGINT), 9) AS est_decile,
         CAST(round({_EXACT_JACC_SQL.format(a='ha', b='hb')} * 1e6) AS BIGINT)
           AS ju
  FROM cand c
  JOIN hd ha ON ha.doc_id = c.doc1
  JOIN hd hb ON hb.doc_id = c.doc2
)
SELECT est_decile, count(*) AS n_pairs,
       round(CAST(sum(ju) AS BIGINT) / count(*) / 1e6, 6) AS mean_exact_j,
       CAST(sum(CASE WHEN ju >= {int(JACC_TRUE_MIN * 1e6)} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_true,
       round(sum(CASE WHEN ju >= {int(JACC_TRUE_MIN * 1e6)} THEN 1 ELSE 0 END)
             * 1.0 / count(*), 6) AS precision
FROM scored GROUP BY est_decile
"""


def _band_capture(bands: int, rpb: int):
    """OR over bands of per-band signature-slice equality between the
    paired docs' `s1`/`s2` signature arrays — the banding's own
    capture event for an arbitrary (bands × rows) layout over the
    same {tx.N_PERM} permutations."""
    captured = None
    for band in range(bands):
        eq = F.slice("s1", band * rpb + 1, rpb) == F.slice("s2", band * rpb + 1, rpb)
        captured = eq if captured is None else (captured | eq)
    return captured


def _recall_panel_ids(d: DataFrame) -> DataFrame:
    """Fixed audit panel = global top-{RECALL_PANEL} doc_ids by a salted
    hash (deterministic under any partitioning). orderBy + limit plans
    as TakeOrderedAndProject — per-partition heaps of K merged on the
    driver — NOT a single-partition row_number window, which would pull
    every doc_id through one task at corpus scale
    (tests/test_plans.py::test_lsh_recall_panel_pick_is_take_ordered).
    """
    return (
        d.select(
            "doc_id",
            tx.word_hash(
                F.concat(F.lit("panel:"), F.col("doc_id").cast("string"))
            ).alias("pk_hash"),
        )
        .orderBy("pk_hash", "doc_id")
        .limit(RECALL_PANEL)
        .select("doc_id")
    )


def q_lsh_recall(
    spark: SparkSession,
    sf_dir: str,
    bands: int = tx.BANDS,
    rpb: int = tx.ROWS_PER_BAND,
) -> DataFrame:
    """LSH quality audit, recall side: a FIXED {RECALL_PANEL}-doc panel
    (hash-selected — deterministic under any partitioning) is scored
    all-pairs with exact Jaccard; a true near-dup pair counts as
    CAPTURED iff some LSH band agrees (the banding's own capture
    event, computed from the signatures — no join to the candidate
    table needed). One summary row: panel truth vs capture.

    Scale shape: the quadratic part is confined to the fixed-size
    panel (the standard sampled-recall monitor for a production LSH
    layer — panel size is a knob, not a function of corpus size);
    signature band-key equality is an expression over the panel
    pairs.

    Reading the number: with {tx.N_PERM} perms in {tx.BANDS} bands ×
    {tx.ROWS_PER_BAND} rows, the banding S-curve crosses 50% capture
    at j ≈ (1/b)^(1/r) ≈ 0.71 — so the measured recall at the
    {JACC_TRUE_MIN} truth bar is EXPECTED to be low (the fixtures'
    moderate-similarity pairs sit below the curve) while the ≥0.8
    deciles capture near-perfectly (see q_lsh_precision). This audit
    is exactly how a production pipeline discovers it should re-band
    (e.g. 8×2 → threshold ≈ 0.35) when its duplication target moves
    down the similarity range."""
    d = load_table(spark, sf_dir, "documents")
    panel_ids = _recall_panel_ids(d)
    # filter to the panel BEFORE the O(corpus) hashing passes: panel
    # membership is a pure function of doc_id, and per-doc signatures /
    # gram sets don't depend on other docs, so stage-1 cost really is
    # confined to the fixed-size panel; persist both lazily since
    # each feeds two join sides (and the rebanded twin reuses the
    # query shape)
    panel_docs = d.join(F.broadcast(panel_ids), "doc_id")
    sig = _reuse(tx.minhash_signatures(panel_docs, "doc_id", "text"))
    hd = _reuse(_doc_gram_sets(panel_docs))
    left = hd.join(sig, "doc_id").select(
        F.col("doc_id").alias("d1"),
        F.col("h").alias("h1"),
        F.col("n").alias("n1"),
        F.col("sig").alias("s1"),
    )
    right = hd.join(sig, "doc_id").select(
        F.col("doc_id").alias("d2"),
        F.col("h").alias("h2"),
        F.col("n").alias("n2"),
        F.col("sig").alias("s2"),
    )
    # all-pairs over the FIXED-SIZE panel only — broadcast the right
    # side explicitly (a nested-loop join with a sub-MB build side);
    # without the hint the persisted relation's unknown pre-
    # materialization stats can demote this to a partition-cartesian
    pairs = left.join(F.broadcast(right), F.col("d1") < F.col("d2"))
    captured = _band_capture(bands, rpb)
    ju = F.round(
        _exact_jacc(F.col("h1"), F.col("n1"), F.col("h2"), F.col("n2")) * 1e6
    ).cast("bigint")
    scored = pairs.select(
        ju.alias("ju"), captured.alias("captured")
    )
    is_true = F.col("ju") >= int(JACC_TRUE_MIN * 1e6)
    return scored.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(is_true, 1).otherwise(0)).alias("n_true"),
        F.sum(F.when(is_true & F.col("captured"), 1).otherwise(0)).alias(
            "n_true_captured"
        ),
        F.round(
            F.sum(F.when(is_true & F.col("captured"), 1).otherwise(0))
            / F.greatest(F.sum(F.when(is_true, 1).otherwise(0)), F.lit(1)),
            6,
        ).alias("recall"),
        F.sum(F.when(~is_true & F.col("captured"), 1).otherwise(0)).alias(
            "n_false_alarm"
        ),
    )


def _band_eq_sql(band: int, rpb: int = tx.ROWS_PER_BAND) -> str:
    slots = range(band * rpb, band * rpb + rpb)
    return "(" + " AND ".join(f"sa.s{j} = sb.s{j}" for j in slots) + ")"


def _lsh_recall_sql(bands: int, rpb: int) -> str:
    return f"""
WITH {CHSH_CTE},
{HASHES_CTE},
{SIG_CTE},
{_HD_CTE},
panel AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           row_number() OVER (
             ORDER BY {WORD_HASH_SQL.format(x=chr(39) + 'panel:' + chr(39) + ' || CAST(doc_id AS VARCHAR)')},
                      doc_id) AS pk
    FROM documents
  ) WHERE pk <= {RECALL_PANEL}
),
scored AS (
  SELECT CAST(round({_EXACT_JACC_SQL.format(a='ha', b='hb')} * 1e6) AS BIGINT)
           AS ju,
         ({" OR ".join(_band_eq_sql(b, rpb) for b in range(bands))}) AS captured
  FROM hd ha JOIN hd hb ON ha.doc_id < hb.doc_id
  JOIN panel p1 ON p1.doc_id = ha.doc_id
  JOIN panel p2 ON p2.doc_id = hb.doc_id
  JOIN sig sa ON sa.doc_id = ha.doc_id
  JOIN sig sb ON sb.doc_id = hb.doc_id
)
SELECT count(*) AS n_pairs,
       CAST(sum(CASE WHEN ju >= {int(JACC_TRUE_MIN * 1e6)} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_true,
       CAST(sum(CASE WHEN ju >= {int(JACC_TRUE_MIN * 1e6)} AND captured
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_true_captured,
       round(sum(CASE WHEN ju >= {int(JACC_TRUE_MIN * 1e6)} AND captured
                      THEN 1 ELSE 0 END) * 1.0
             / greatest(sum(CASE WHEN ju >= {int(JACC_TRUE_MIN * 1e6)}
                                 THEN 1 ELSE 0 END), 1), 6) AS recall,
       CAST(sum(CASE WHEN ju < {int(JACC_TRUE_MIN * 1e6)} AND captured
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_false_alarm
FROM scored
"""


SQL_LSH_RECALL = _lsh_recall_sql(tx.BANDS, tx.ROWS_PER_BAND)
SQL_LSH_RECALL_REBANDED = _lsh_recall_sql(8, 2)


def q_lsh_recall_rebanded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The action the recall audit recommends, measured: the SAME 16
    permutations re-banded 8×2 moves the S-curve's 50%-capture point
    from j ≈ (1/4)^(1/4) ≈ 0.71 down to (1/8)^(1/2) ≈ 0.35 — below
    the {JACC_TRUE_MIN} truth bar — so panel recall should jump while
    false alarms rise (the classic precision/recall trade a re-banding
    buys). Same fixed panel, same truth, only the capture event
    changes; comparing this row with q_lsh_recall's IS the tuning
    decision."""
    return q_lsh_recall(spark, sf_dir, bands=8, rpb=2)


NEARDUP_EST_MIN = 0.5  # signature-agreement threshold for merging


def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup DEDUP over the LSH candidates: every doc
    maps to min(doc_id over {self} ∪ {candidates with est_jaccard ≥
    threshold}); is_kept marks the canonical survivor per cluster.

    This is single-pass "star" dedup — the scalable one-hop
    approximation of connected components (full CC iterates this
    min-propagation to fixpoint; one hop is the standard first-round
    choice because it's one groupBy + one join, no driver loop).
    Everything upstream (signatures, banding, bucket equi-join) is
    the same shuffle-bounded layout as `lsh_candidates`.
    """
    d = load_table(spark, sf_dir, "documents")
    pairs = q_lsh_candidates(spark, sf_dir).filter(
        F.col("est_jaccard") >= NEARDUP_EST_MIN
    )
    edges = pairs.select(
        F.col("doc1").alias("doc_id"), F.col("doc2").alias("nbr")
    ).union(pairs.select(F.col("doc2").alias("doc_id"), F.col("doc1").alias("nbr")))
    canon = edges.groupBy("doc_id").agg(F.min("nbr").alias("min_nbr"))
    out = d.select("doc_id").join(canon, "doc_id", "left")
    canonical = F.least(F.col("doc_id"), F.coalesce("min_nbr", F.col("doc_id")))
    return out.select(
        "doc_id",
        canonical.alias("canonical_id"),
        (F.col("doc_id") == canonical).alias("is_kept"),
    )


def near_canonical_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, canonical_id) near-dup star map as a shared,
    persisted, per-(session, corpus) artifact — the canonical-map
    analog of the PQ/IVF/DSIR memoized state (VERDICT r11 #4): a
    production pipeline computes the cluster map once per ingest day
    and every downstream composition (quality-keeper policy,
    cluster-safe splitting) JOINS it rather than re-running the full
    LSH candidate stage. The map build itself stays priced fresh by
    ``dedup_near``'s own registry entry (the full signatures → bands →
    candidate-join → star-merge pipeline, every call)."""
    return _session_memo(
        spark,
        "near_canon",
        sf_dir,
        lambda: _reuse(
            q_dedup_near(spark, sf_dir).select("doc_id", "canonical_id")
        ),
    )


def _near_canon_state(spark: SparkSession, sf_dir: str) -> None:
    """``Query.state`` of the canonical-map consumers: the memoized map,
    materialized into its persisted blocks."""
    near_canonical_map(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()


# The LSH near-dup graph as oracle CTEs (shingles → minhash → bands →
# candidate pairs at estimated Jaccard ≥ NEARDUP_EST_MIN → both-way
# ``edges(doc_id, nbr)``), shared by the canonical-map, connected-
# component and PageRank oracles.
NEAR_EDGE_CTES = f"""{CHSH_CTE},
{HASHES_CTE},
{SIG_CTE},
{BANDS_CTE},
cand AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.bucket_key = b.bucket_key
              AND a.doc_id < b.doc_id
  JOIN sig sa ON sa.doc_id = a.doc_id
  JOIN sig sb ON sb.doc_id = b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING round(max({_EST_JACCARD_SQL.replace('a.s', 'sa.s').replace('b.s', 'sb.s')}), 6)
         >= {NEARDUP_EST_MIN}
),
edges AS (
  SELECT doc1 AS doc_id, doc2 AS nbr FROM cand
  UNION ALL
  SELECT doc2 AS doc_id, doc1 AS nbr FROM cand
)"""


SQL_DEDUP_NEAR = f"""
WITH {NEAR_EDGE_CTES},
canon AS (SELECT doc_id, min(nbr) AS min_nbr FROM edges GROUP BY doc_id)
SELECT d.doc_id,
       least(d.doc_id, coalesce(c.min_nbr, d.doc_id)) AS canonical_id,
       d.doc_id = least(d.doc_id, coalesce(c.min_nbr, d.doc_id)) AS is_kept
FROM documents d LEFT JOIN canon c ON d.doc_id = c.doc_id
"""


INCR_SPLIT_FRAC = 0.8  # docs below the id cut are the "historical" corpus
TAKEDOWN_MOD = 13  # historical ids divisible by this are taken down


def _incr_cut(df: DataFrame, id_col: str) -> int:
    """The history/batch split of every persisted-ingest query: ids
    below ``floor(INCR_SPLIT_FRAC · (max id + 1))`` are the historical
    corpus, the rest the incoming batch. One agg job."""
    return df.agg(
        F.floor(F.lit(INCR_SPLIT_FRAC) * (F.max(id_col) + 1)).cast("bigint")
    ).collect()[0][0]


def _cut_cte(
    id_col: str = "doc_id", table: str = "documents", head: str = "cut AS"
) -> str:
    """:func:`_incr_cut` as a one-row oracle CTE with column ``c``;
    ``head`` names it (the PQ oracles materialize theirs as ``cutt``)."""
    return f"""{head} (
  SELECT CAST(floor({INCR_SPLIT_FRAC} * (max({id_col}) + 1)) AS BIGINT) AS c
  FROM {table}
)"""


def _fresh_dir(path: str) -> None:
    """Remove a builder's state dir, so every build starts empty and
    the suite query stays deterministic whatever a prior run left."""
    import shutil as _shutil
    from pathlib import Path as _Path

    if _Path(path).exists():
        _shutil.rmtree(path)


def _two_day_ingest(
    spark: SparkSession,
    state_dir: str,
    cut: int,
    id_col: str,
    key: str,
    rows,
    raw: str = "raw",
    compact: str = "compact",
    model=None,
) -> str:
    """THE two-day ingest of every persisted row ledger (content
    hashes, substring windows, IVF assignments, PQ codes), end to end
    through the maintenance layer (sources/sinks.py):

    1. ``state_dir`` is cleared (:func:`_fresh_dir`), and ``model()``,
       when given, writes the builder's model table into it (the IVF
       centroids, the PQ codebooks) for ``rows`` to read;
    2. day 0: the older historical half, ``rows(id < cut // 2)``, is
       written as the initial ``{state_dir}/{raw}`` table;
    3. day 1: ``rows(cut // 2 <= id < cut)`` minus the ``key``s the
       table already holds is ``merge_upsert``ed in — first-seen-wins,
       the passage-ledger rule (append order gives day 0 the smaller
       ids); a replay of day 1 merges nothing new, so the table is
       unchanged (idempotent re-ingest);
    4. ``compact_parquet`` rewrites the accumulated files to target
       size into ``{state_dir}/{compact}`` — the nightly step that keeps
       years of daily merges from degenerating into a small-files swamp.

    ``rows(pred)`` gives the ledger rows of the ``id_col`` values
    ``pred`` selects. Returns the compacted dir. The sinks are looked up
    on their module at call time, so wrappers installed there see every
    call."""
    from zcode_iceberg_spark.sources import sinks

    _fresh_dir(state_dir)
    if model is not None:
        model()
    ids = F.col(id_col)
    day_cut = cut // 2
    raw_dir, compact_dir = f"{state_dir}/{raw}", f"{state_dir}/{compact}"
    rows(ids < day_cut).write.parquet(raw_dir)
    novel = rows((ids >= day_cut) & (ids < cut)).join(
        spark.read.parquet(raw_dir).select(key), key, "left_anti"
    )
    sinks.merge_upsert(spark, raw_dir, novel, key)
    sinks.compact_parquet(spark, raw_dir, compact_dir)
    return compact_dir


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (append-batch) dedup: the last {1-INCR_SPLIT_FRAC:.0%}
    of doc ids play the incoming batch, deduped against BOTH the
    historical corpus and itself — exactly the daily-ingest shape.

    Scale shape: content hashes only (16-byte md5, never full text)
    flow into a left anti join against the historical hash set plus a
    min-id groupBy within the batch. The anti join hash-partitions by
    content_hash; at 100 TB the historical side is a compacted hash
    table read, not a text scan."""
    d = load_table(spark, sf_dir, "documents")
    cut = _incr_cut(d, "doc_id")
    hashed = d.select("doc_id", F.md5("text").alias("content_hash"))
    old_hashes = hashed.filter(F.col("doc_id") < cut).select("content_hash")
    new = hashed.filter(F.col("doc_id") >= cut)
    vs_corpus = new.join(old_hashes, "content_hash", "left_anti")
    keeper = vs_corpus.groupBy("content_hash").agg(F.min("doc_id").alias("keep_id"))
    return (
        new.join(keeper.select("keep_id"), new.doc_id == keeper.keep_id, "left")
        .select(
            "doc_id",
            "content_hash",
            F.col("keep_id").isNotNull().alias("is_kept"),
        )
    )


SQL_DEDUP_INCREMENTAL = f"""
WITH {_cut_cte()},
hashed AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
new AS (SELECT h.* FROM hashed h, cut WHERE h.doc_id >= cut.c),
old AS (SELECT h.content_hash FROM hashed h, cut WHERE h.doc_id < cut.c),
keeper AS (
  SELECT min(doc_id) AS keep_id
  FROM new n
  WHERE NOT EXISTS (SELECT 1 FROM old o WHERE o.content_hash = n.content_hash)
  GROUP BY content_hash
)
SELECT n.doc_id, n.content_hash,
       k.keep_id IS NOT NULL AS is_kept
FROM new n LEFT JOIN keeper k ON n.doc_id = k.keep_id
"""


def sweep_dead_scratch(prefix: str) -> None:
    """Remove PID-suffixed scratch dirs (``<prefix>*_p<pid>``) whose
    owning process is gone — the PID keying isolates concurrent
    processes, this keeps repeated runs from accumulating corpus
    copies in the temp filesystem. Best-effort (races with a dying
    owner are harmless: its dir was garbage either way)."""
    import glob as _glob
    import os
    import re as _re
    import shutil as _shutil
    import tempfile

    for d in _glob.glob(f"{tempfile.gettempdir()}/{prefix}*_p[0-9]*"):
        m = _re.search(r"_p(\d+)$", d)
        if m and not os.path.exists(f"/proc/{m.group(1)}"):
            _shutil.rmtree(d, ignore_errors=True)


def _build_scratch(prefix: str, sf_dir: str) -> str:
    """THE scratch-dir recipe for every state a query writes
    (``<tmp>/<prefix><md5(corpus)[:10]>_p<pid>``): keyed to (corpus
    directory, process) because builders rmtree and rebuild their dir
    per run, so two CONCURRENT processes over the same corpus (a driver
    gate and a pytest run, say) must not share one directory — one
    would delete files mid-scan of the other. Dirs orphaned by dead
    processes are swept on the way. The priced *_build entries use a
    ``*_build_`` prefix distinct from the probes' ``*_state_`` one, so
    a fresh build never invalidates memoized probe state."""
    import hashlib as _hl
    import os as _os
    import tempfile as _tf

    sweep_dead_scratch(prefix)
    tag = _hl.md5(sf_dir.encode()).hexdigest()[:10]
    return f"{_tf.gettempdir()}/{prefix}{tag}_p{_os.getpid()}"


def build_incremental_hash_table(
    spark: SparkSession, sf_dir: str, state_dir: str
) -> tuple[str, int]:
    """Materialize the historical content-hash table the daily-ingest
    dedup story reads, through the maintenance layer instead of a
    per-run re-hash of the raw corpus: one row per content_hash
    (first_doc_id = min id, n_docs), ingested over two days by
    :func:`_two_day_ingest` into ``raw`` and compacted into ``compact``.

    Returns (compacted_dir, cut): queries dedup new batches against
    the COMPACTED table — 16-byte hashes only, the raw historical
    text is never rescanned."""
    d = load_table(spark, sf_dir, "documents")
    cut = _incr_cut(d, "doc_id")
    hashed = d.select("doc_id", F.md5("text").alias("content_hash"))

    def keyed(ids) -> DataFrame:
        return hashed.filter(ids).groupBy("content_hash").agg(
            F.min("doc_id").alias("first_doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )

    compact_dir = _two_day_ingest(
        spark, state_dir, cut, "doc_id", "content_hash", keyed
    )
    return compact_dir, cut


def incremental_dedup_against(
    spark: SparkSession, sf_dir: str, hash_dir: str, cut: int
) -> DataFrame:
    """The batch phase of persisted incremental dedup: hash ONLY the
    incoming batch (doc_id >= cut — the predicate pushes to the scan)
    and anti-join the persisted 16-byte hash table; within-batch dups
    resolve by min doc_id. The historical corpus contributes one
    compacted-parquet hash read and zero text bytes — the plan is
    asserted free of a second documents scan
    (tests/test_dedup_persisted.py)."""
    d = load_table(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") >= cut).select(
        "doc_id", F.md5("text").alias("content_hash")
    )
    prior = (
        spark.read.parquet(hash_dir)
        .select("content_hash")
        .withColumn("prior", F.lit(True))
    )
    # single pass over the batch: membership join + window-min share
    # one hash-partitioning on content_hash (a groupBy-and-rejoin
    # keeper would scan-and-hash the batch twice); is_kept = novel
    # hash AND first id within the batch
    w = Window.partitionBy("content_hash")
    return (
        new.join(prior, "content_hash", "left")
        .select(
            "doc_id",
            "content_hash",
            (
                F.col("prior").isNull()
                & (F.col("doc_id") == F.min("doc_id").over(w))
            ).alias("is_kept"),
        )
    )


def q_dedup_incremental_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_incremental`` with the historical side read from the
    PERSISTED hash table (built, merged, and compacted through the
    maintenance layer by :func:`build_incremental_hash_table`) — the
    executable form of the "compacted hash table read, not a text
    scan" claim. Same output contract and oracle as
    ``dedup_incremental``; what changes is where the historical
    hashes come from.

    The table build is memoized per (session, corpus) — r12, the
    VERDICT r11 #1/#3 accounting rule applied to the exact-hash member
    exactly as r11/r12 applied it to the substring/PQ/IVF/DSIR members:
    production builds the ledger once and probes it daily, so this
    entry prices the probe path; the build's own cost is priced fresh
    by ``dedup_ledger_build`` (hash-oracled set-exact digest)."""
    hash_dir, cut = _hash_ledger(spark, sf_dir)
    return incremental_dedup_against(spark, sf_dir, hash_dir, cut)


def build_neardup_state(
    spark: SparkSession, sf_dir: str, state_dir: str
) -> tuple[str, str, int]:
    """Materialize the NEAR-dup ingest state: the historical corpus's
    MinHash signature table and exploded (band_id, bucket_key) band
    table, written once and compacted through the maintenance layer —
    the LSH analog of :func:`build_incremental_hash_table`. A daily
    batch then finds its near-dups against history via one equi-join
    on the persisted band table: historical TEXT is never re-shingled.
    Returns (bands_dir, sigs_dir, cut). Rebuilt per call so the suite
    query stays deterministic."""
    from zcode_iceberg_spark.sources.sinks import compact_parquet

    _fresh_dir(state_dir)
    d = load_table(spark, sf_dir, "documents")
    cut = _incr_cut(d, "doc_id")
    hist = d.filter(F.col("doc_id") < cut)
    sig = _reuse(tx.minhash_signatures(hist, "doc_id", "text"))
    sig.write.parquet(f"{state_dir}/sigs_raw")
    (
        sig.select(
            "doc_id", F.explode(tx.lsh_bands(F.col("sig"))).alias("b")
        )
        .select("doc_id", "b.band_id", "b.bucket_key")
        .write.parquet(f"{state_dir}/bands_raw")
    )
    sig.unpersist()
    compact_parquet(spark, f"{state_dir}/bands_raw", f"{state_dir}/bands")
    compact_parquet(spark, f"{state_dir}/sigs_raw", f"{state_dir}/sigs")
    return f"{state_dir}/bands", f"{state_dir}/sigs", cut


def q_neardup_incremental_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest NEAR-dup screen against persisted LSH state: the
    incoming batch (doc_id ≥ cut) is shingled/minhashed ONCE, its
    bands equi-join the historical band table, and candidate pairs
    re-attach signatures from the persisted signature table for the
    estimated Jaccard — per new doc: how many historical near-dup
    candidates, the best signature-estimated Jaccard, and the
    keep/flag decision. The historical side contributes two compacted
    parquet reads and zero text bytes (plan-asserted alongside the
    exact-hash twin in tests/test_dedup_persisted.py).

    Band/signature state is memoized per (session, corpus) — r12, the
    same probe-vs-build accounting as the exact-hash member above; the
    LSH state build is priced fresh by ``neardup_ledger_build``."""
    bands_dir, sigs_dir, cut = _lsh_state(spark, sf_dir)
    return incremental_neardup_against(spark, sf_dir, bands_dir, sigs_dir, cut)


def incremental_neardup_against(
    spark: SparkSession,
    sf_dir: str,
    bands_dir: str,
    sigs_dir: str,
    cut: int,
    hist_cap: int | None = None,
) -> DataFrame:
    """The batch phase of persisted near-dup ingest (see
    :func:`q_neardup_incremental_persisted` for the full contract).

    ``hist_cap`` is the dup-flood guard: when set, each (band, bucket)
    keeps only the ``hist_cap`` SMALLEST-id historical members for
    candidate generation (deterministic, one window over the band
    table), bounding the band join at O(new × cap) instead of
    O(new × family) — the text analog of similarity.py's
    ``hot_block_slice``. For a doc with ≥1 true near-dup in a capped
    bucket the flag still fires (dup-family members score alike;
    exact-copy families identically), but ``best_est`` becomes
    best-of-capped — which is why the DEFAULT is None/exact and the
    cap is the documented scale switch (measured on the 100×
    dup-flood corpus: SCALE.md)."""
    d = load_table(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") >= cut)
    sig_new = _reuse(tx.minhash_signatures(new, "doc_id", "text"))
    bands_new = sig_new.select(
        F.col("doc_id").alias("nid"),
        F.explode(tx.lsh_bands(F.col("sig"))).alias("b"),
    ).select("nid", "b.band_id", "b.bucket_key")
    hist_bands = spark.read.parquet(bands_dir).select(
        F.col("doc_id").alias("hid"), "band_id", "bucket_key"
    )
    if hist_cap is not None:
        w = Window.partitionBy("band_id", "bucket_key").orderBy("hid")
        hist_bands = (
            hist_bands.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= hist_cap)
            .drop("__rk")
        )
    cand = (
        bands_new.join(hist_bands, ["band_id", "bucket_key"])
        .groupBy("nid", "hid")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )
    hist_sigs = spark.read.parquet(sigs_dir).select(
        F.col("doc_id").alias("hid"), F.col("sig").alias("hsig")
    )
    est = F.aggregate(
        F.zip_with(
            F.col("sig"), F.col("hsig"),
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(float(tx.N_PERM))
    scored = (
        cand.join(sig_new.select(F.col("doc_id").alias("nid"), "sig"), "nid")
        .join(hist_sigs, "hid")
        .select("nid", est.alias("est"))
    )
    per = scored.groupBy("nid").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.round(F.max("est"), 6).alias("best_est"),
    )
    return (
        new.select("doc_id")
        .join(per, new.doc_id == per.nid, "left")
        .select(
            "doc_id",
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            F.round(F.coalesce("best_est", F.lit(0.0)), 6).alias("best_est"),
            (
                F.coalesce("best_est", F.lit(0.0)) >= NEARDUP_EST_MIN
            ).alias("is_neardup"),
        )
    )


def q_dedup_ledger_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The historical content-hash table BUILD as its own priced,
    hash-oracled entry (r12 — the substring_ledger_build /
    dsir_stats_build accounting convention applied to the exact-hash
    member, completing VERDICT r11 #3 for the whole persisted-ingest
    family): fresh maintenance-layer build (day-0 keyed write, day-1
    novel merge_upsert, compaction) into a build-scoped scratch dir,
    digested from the PERSISTED table as one row per leading hex
    nibble — hash count, min/max hash, bit_xor of a 15-hex-digit
    slice (set-exact membership fingerprint), plus sum(n_docs) and
    sum(first_doc_id) so the merged VALUES are certified too, not
    just the key set."""
    state = _build_scratch("zspark_hash_build_", sf_dir)
    hash_dir, _cut = build_incremental_hash_table(spark, sf_dir, state)
    led = spark.read.parquet(hash_dir)
    return led.groupBy(F.substring("content_hash", 1, 1).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_hashes"),
        F.min("content_hash").alias("min_h"),
        F.max("content_hash").alias("max_h"),
        F.bit_xor(
            F.conv(F.substring("content_hash", 2, 15), 16, 10).cast("bigint")
        ).alias("xor_h"),
        F.sum("n_docs").cast("bigint").alias("sum_docs"),
        F.sum("first_doc_id").cast("bigint").alias("sum_first"),
    )


SQL_DEDUP_LEDGER_BUILD = f"""
WITH {_cut_cte()},
hashed AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
day0 AS (
  SELECT content_hash, min(doc_id) AS first_doc_id, count(*) AS n_docs
  FROM hashed, cut WHERE doc_id < cut.c // 2 GROUP BY 1
),
day1 AS (
  SELECT content_hash, min(doc_id) AS first_doc_id, count(*) AS n_docs
  FROM hashed, cut WHERE doc_id >= cut.c // 2 AND doc_id < cut.c GROUP BY 1
),
novel AS (
  SELECT d1.* FROM day1 d1
  WHERE NOT EXISTS (SELECT 1 FROM day0 d0
                    WHERE d0.content_hash = d1.content_hash)
),
led AS (SELECT * FROM day0 UNION ALL SELECT * FROM novel)
SELECT substr(content_hash, 1, 1) AS bucket,
       count(*) AS n_hashes,
       min(content_hash) AS min_h,
       max(content_hash) AS max_h,
       bit_xor(CAST(concat('0x', substr(content_hash, 2, 15)) AS BIGINT))
         AS xor_h,
       CAST(sum(n_docs) AS BIGINT) AS sum_docs,
       CAST(sum(first_doc_id) AS BIGINT) AS sum_first
FROM led GROUP BY 1
"""


def q_neardup_ledger_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH band-table BUILD as its own priced, hash-oracled entry
    (r12, completing the probe-vs-build split for the near-dup member):
    fresh signature + band state through the maintenance layer
    (build_neardup_state: minhash, band explode, compaction), digested
    from the PERSISTED band table per band_id — row count, distinct
    buckets, min/max bucket_key, and a set-exact bit_xor over
    md5(doc_id ':' bucket_key) row fingerprints. Every signature slot
    appears inside some band's bucket_key, so a green digest certifies
    the persisted signature VALUES transitively, not just band-table
    shape."""
    state = _build_scratch("zspark_lsh_build_", sf_dir)
    bands_dir, _sigs_dir, _cut = build_neardup_state(spark, sf_dir, state)
    bands = spark.read.parquet(bands_dir)
    row_h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.col("doc_id").cast("string"), F.col("bucket_key")
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    return bands.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("bucket_key").alias("n_buckets"),
        F.min("bucket_key").alias("min_bk"),
        F.max("bucket_key").alias("max_bk"),
        F.bit_xor(row_h).alias("xor_row"),
    )


SQL_NEARDUP_LEDGER_BUILD = f"""
WITH {CHSH_CTE},
{HASHES_CTE},
{SIG_CTE},
{BANDS_CTE},
{_cut_cte()},
hist AS (
  SELECT b.* FROM bands b, cut WHERE b.doc_id < cut.c
)
SELECT band_id,
       count(*) AS n_rows,
       count(DISTINCT bucket_key) AS n_buckets,
       min(bucket_key) AS min_bk,
       max(bucket_key) AS max_bk,
       bit_xor(CAST(concat('0x', substr(
         md5(concat(CAST(doc_id AS VARCHAR), ':', bucket_key)), 1, 15))
         AS BIGINT)) AS xor_row
FROM hist GROUP BY 1
"""


SQL_NEARDUP_INCREMENTAL = f"""
WITH {CHSH_CTE},
{HASHES_CTE},
{SIG_CTE},
{BANDS_CTE},
{_cut_cte()},
cand AS (
  SELECT a.doc_id AS nid, b.doc_id AS hid
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.bucket_key = b.bucket_key
  CROSS JOIN cut
  WHERE a.doc_id >= cut.c AND b.doc_id < cut.c
  GROUP BY a.doc_id, b.doc_id
),
scored AS (
  SELECT c.nid,
         {_EST_JACCARD_SQL.replace('a.s', 'sa.s').replace('b.s', 'sb.s')} AS est
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.nid
  JOIN sig sb ON sb.doc_id = c.hid
),
per AS (
  SELECT nid, count(*) AS n_candidates, round(max(est), 6) AS best_est
  FROM scored GROUP BY nid
)
SELECT d.doc_id,
       CAST(coalesce(p.n_candidates, 0) AS BIGINT) AS n_candidates,
       round(coalesce(p.best_est, 0.0), 6) AS best_est,
       coalesce(p.best_est, 0.0) >= {NEARDUP_EST_MIN} AS is_neardup
FROM documents d
CROSS JOIN cut
LEFT JOIN per p ON p.nid = d.doc_id
WHERE d.doc_id >= cut.c
"""


REP_TOK_MAX, REP_BIGRAM_MAX = 0.2, 0.18  # Gopher-style repetition caps


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals per doc (the Gopher-rule
    family): top-token fraction, distinct-token ratio, top-bigram
    fraction, and the resulting keep/drop flag.

    Shape: two explode → (doc, gram) groupBy → (doc) groupBy chains —
    all partial-agged, text itself never shuffles (only gram counts
    do). The token-array column is materialized BEFORE the explodes so
    the split runs once per doc, not once per element."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", tx.tokens(F.col("text")).alias("w")
    )
    uni = (
        d.select("doc_id", F.explode("w").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.max("n").alias("top_tok"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
    )
    bi = (
        d.select("doc_id", F.explode(tx.shingles(F.col("w"), 2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(F.sum("n").alias("n_bigrams"), F.max("n").alias("top_bigram"))
    )
    top_tok_frac = F.round(F.col("top_tok") / F.col("n_tokens"), 6)
    distinct_ratio = F.round(F.col("n_distinct") / F.col("n_tokens"), 6)
    bigram_frac = F.round(
        F.coalesce(F.col("top_bigram") / F.col("n_bigrams"), F.lit(0.0)), 6
    )
    return (
        uni.join(bi, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            top_tok_frac.alias("top_tok_frac"),
            distinct_ratio.alias("distinct_ratio"),
            bigram_frac.alias("top_bigram_frac"),
            (
                (top_tok_frac <= REP_TOK_MAX)
                & (bigram_frac <= REP_BIGRAM_MAX)
            ).alias("keep"),
        )
    )


SQL_DOC_REPETITION = f"""
WITH {TOKS_CTE},
uni AS (
  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens, max(n) AS top_tok,
         count(*) AS n_distinct
  FROM (SELECT doc_id, t.g, count(*) AS n
        FROM toks, unnest(w) AS t(g) GROUP BY doc_id, t.g)
  GROUP BY doc_id
),
bi AS (
  SELECT doc_id, sum(n) AS n_bigrams, max(n) AS top_bigram
  FROM (SELECT doc_id, g, count(*) AS n FROM (
          SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(w) - 1),
                                       i -> w[i] || ' ' || w[i + 1])) AS g
          FROM toks)
        GROUP BY doc_id, g)
  GROUP BY doc_id
)
SELECT u.doc_id, u.n_tokens,
       round(u.top_tok / CAST(u.n_tokens AS DOUBLE), 6) AS top_tok_frac,
       round(u.n_distinct / CAST(u.n_tokens AS DOUBLE), 6) AS distinct_ratio,
       round(coalesce(b.top_bigram / CAST(b.n_bigrams AS DOUBLE), 0.0), 6)
         AS top_bigram_frac,
       round(u.top_tok / CAST(u.n_tokens AS DOUBLE), 6) <= {REP_TOK_MAX}
         AND round(coalesce(b.top_bigram / CAST(b.n_bigrams AS DOUBLE), 0.0), 6)
             <= {REP_BIGRAM_MAX} AS keep
FROM uni u LEFT JOIN bi b ON u.doc_id = b.doc_id
"""


CC_MAX_ITERS = 12


def q_dedup_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full connected-components dedup clustering: iterative min-label
    propagation over the LSH candidate graph, run to FIXPOINT — the
    exact clustering that ``dedup_near``'s single hop approximates.

    Each iteration is one distributed join + groupBy (labels never
    leave the cluster; the driver sees only a 1-row convergence
    scalar), with ``localCheckpoint`` truncating lineage so plan size
    stays constant across iterations — the standard Spark shape for
    label propagation, plus per-round path compression (see loop
    comment) so rounds track ~log(diameter) instead of diameter; the
    loop exits at fixpoint long before {CC_MAX_ITERS}.

    Oracle: DuckDB computes min-over-transitive-closure with a
    recursive CTE — exact, so this iterative algorithm still gets a
    full value-hash check."""
    d = load_table(spark, sf_dir, "documents")
    pairs = q_lsh_candidates(spark, sf_dir).filter(
        F.col("est_jaccard") >= NEARDUP_EST_MIN
    )
    edges = (
        pairs.select(F.col("doc1").alias("doc_id"), F.col("doc2").alias("nbr"))
        .union(pairs.select(F.col("doc2").alias("doc_id"), F.col("doc1").alias("nbr")))
        .localCheckpoint()
    )
    # propagate ONLY over the candidate-graph vertex set — isolated
    # docs (the overwhelming majority of a 100 TB corpus) can never
    # change label, so they stay out of every iteration's join/agg and
    # re-enter once at the end as their own cluster
    labels = (
        edges.select("doc_id")
        .distinct()
        .select("doc_id", F.col("doc_id").alias("label"))
        .localCheckpoint()
    )
    prev_sum = None
    for _ in range(CC_MAX_ITERS):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("nbr"), F.col("label").alias("nbr_label")
                ),
                "nbr",
            )
            .groupBy("doc_id")
            .agg(F.min("nbr_label").alias("nbr_min"))
        )
        # deliberately NOT checkpointed: both sides of the compression
        # join consume `stepped`, so its subtree evaluates twice per
        # round (no subplan CSE) — but ReuseExchange still dedups the
        # shuffles below it, and a measured A/B showed materializing
        # here is a net LOSS at bench scale (7.5 s vs 5.3 s warm; the
        # subtree recompute is cheaper than the extra RDD write+sync)
        stepped = labels.join(nbr_min, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("label"), F.coalesce("nbr_min", F.col("label"))
            ).alias("label"),
        )
        # path compression: label[v] <- label[label[v]] — one extra
        # equi-join on the (small) vertex set halves chain lengths per
        # round, cutting rounds ~O(diameter) -> ~O(log diameter)
        # (measured at sf0.1: 8 -> 5 rounds, ~30% faster warm; the
        # fixpoint — each vertex's component min — is unchanged, and
        # every label is itself a vertex so the self-join always hits).
        parent = stepped.select(
            F.col("doc_id").alias("label"), F.col("label").alias("plabel")
        )
        # lazy checkpoint: the convergence-sum action below is what
        # materializes it, so each round runs ONE job, not two (an
        # eager checkpoint would compute the same joins twice per round)
        labels = (
            stepped.join(parent, "label", "left")
            .select("doc_id", F.coalesce("plabel", "label").alias("label"))
            .localCheckpoint(eager=False)
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return (
        d.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("label", F.col("doc_id")).alias("cluster_id"),
            (F.col("doc_id") == F.coalesce("label", F.col("doc_id"))).alias(
                "is_root"
            ),
        )
    )


def q_dedup_cc_twostar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by the ALTERNATING large-star/small-star
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — the upgrade path SCALE.md names for data-bound rounds
    at 100 TB, here executable and hash-checked against the SAME
    recursive-CTE oracle as ``dedup_cc``:

    - large-star: every node hooks its LARGER neighbors to the
      minimum of its closed neighborhood;
    - small-star: every node hooks its smaller neighbors (and itself)
      to that minimum;

    each operation is one symmetric groupBy-min + one equi-join over
    the current edge set — no per-node label table, and the edge set
    provably never grows, which is what makes the shape win when
    edges, not job overhead, dominate a round. Kernel:
    operators/graph.py:two_star_components (property-tested against a
    union-find reference on random graphs); isolated docs re-enter as
    their own cluster via the corpus join."""
    from zcode_iceberg_spark.operators.graph import two_star_components

    d = load_table(spark, sf_dir, "documents")
    pairs = q_lsh_candidates(spark, sf_dir).filter(
        F.col("est_jaccard") >= NEARDUP_EST_MIN
    )
    labels = two_star_components(
        pairs.select(F.col("doc1").alias("u"), F.col("doc2").alias("v")),
        max_iters=CC_MAX_ITERS,
    ).select(F.col("node").alias("doc_id"), "label")
    return (
        d.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("label", F.col("doc_id")).alias("cluster_id"),
            (F.col("doc_id") == F.coalesce("label", F.col("doc_id"))).alias(
                "is_root"
            ),
        )
    )


# CC transitive-closure CTE chain (shingles → minhash → bands → LSH
# candidate pairs → recursive reach), shared by the dedup_cc /
# dedup_cc_twostar oracle and the canonical-selection oracle below.
CC_REACH_CTES = f"""{NEAR_EDGE_CTES},
reach AS (
  SELECT doc_id, doc_id AS label FROM documents
  UNION
  SELECT e.doc_id, r.label
  FROM edges e JOIN reach r ON e.nbr = r.doc_id
)"""

SQL_DEDUP_CC = f"""
WITH RECURSIVE {CC_REACH_CTES}
SELECT doc_id, min(label) AS cluster_id,
       doc_id = min(label) AS is_root
FROM reach GROUP BY doc_id
"""


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection over near-dup clusters — the
    keeper-choice step real pipelines run AFTER clustering: within
    each connected component, keep the LONGEST member (n_chars),
    tiebreak lowest doc_id, instead of dedup_cc's min-id root. Output
    per doc: its cluster, the cluster's canonical doc, cluster size,
    and whether this doc is the keeper.

    Scale shape: the cluster frame from q_dedup_cc joins document
    lengths on doc_id, then ONE window family over cluster_id (the
    data is already cluster-keyed from the CC agg) computes the
    ordered first_value + count — no per-cluster collect, no second
    pass over text. Clusters are near-dup families (small by
    construction; the LSH dup-flood guard bounds them upstream), so
    the window partitions are tiny at any corpus size."""
    clusters = q_dedup_cc(spark, sf_dir).select("doc_id", "cluster_id")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = clusters.join(d, "doc_id")
    w = (
        Window.partitionBy("cluster_id")
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wp = Window.partitionBy("cluster_id")
    return j.select(
        "doc_id",
        "cluster_id",
        F.first("doc_id").over(w).alias("canonical_id"),
        F.count(F.lit(1)).over(wp).alias("cluster_size"),
        (F.col("doc_id") == F.first("doc_id").over(w)).alias("is_canonical"),
    )


SQL_DEDUP_CANONICAL = f"""
WITH RECURSIVE {CC_REACH_CTES},
cl AS (
  SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id
),
jj AS (
  SELECT c.doc_id, c.cluster_id, d.n_chars
  FROM cl c JOIN documents d USING (doc_id)
)
SELECT doc_id, cluster_id,
       first_value(doc_id) OVER w AS canonical_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       doc_id = first_value(doc_id) OVER w AS is_canonical
FROM jj
WINDOW w AS (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


WRS_K = 10  # weighted-reservoir sample size per language


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sampling without replacement (Efraimidis-
    Spirakis A-ES), k docs per language stratum with probability ∝
    token count — the exact-k companion to `quality_sample`'s
    Bernoulli thinning (exact-k is what a fixed eval-set budget
    needs).

    Scale shape: the exponential key r = -ln(u)/w is a pure
    map-side expression of a salted doc_id hash (reproducible under
    any partitioning/re-run — no RNG state), and per-stratum top-k
    plans as WindowGroupLimit: per-partition heaps, no global sort.
    One pass, one k-row-per-stratum result."""
    d = load_table(spark, sf_dir, "documents")
    w_tok = F.size(tx.tokens(F.col("text"))).cast("double")
    u = (
        tx.word_hash(F.concat(F.lit("wrs:"), F.col("doc_id").cast("string")))
        % 999999
        + 1
    ) / 1000000.0
    r = -F.log(u) / F.greatest(w_tok, F.lit(1.0))
    ranked = d.select(
        "doc_id",
        "lang",
        w_tok.cast("bigint").alias("w_tokens"),
        F.round(r, 9).alias("r"),
    ).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("lang").orderBy(F.col("r").asc(), F.col("doc_id"))
        ),
    )
    return (
        ranked.where(F.col("rk") <= WRS_K)
        .select(
            "lang",
            F.col("rk").cast("bigint").alias("rk"),
            "doc_id",
            "w_tokens",
            F.round("r", 6).alias("key"),
        )
    )


_WRS_U_SQL = (
    f"(({WORD_HASH_SQL.format(x=chr(39) + 'wrs:' + chr(39) + ' || CAST(doc_id AS VARCHAR)')})"
    " % 999999 + 1) / 1000000.0"
)

SQL_WEIGHTED_SAMPLE = f"""
WITH {TOKS_CTE},
keyed AS (
  SELECT doc_id, lang,
         CAST(len(w) AS BIGINT) AS w_tokens,
         round(-ln({_WRS_U_SQL}) / greatest(CAST(len(w) AS DOUBLE), 1.0), 9) AS r
  FROM toks
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY r, doc_id) AS rk
  FROM keyed
)
SELECT lang, rk, doc_id, w_tokens, round(r, 6) AS key
FROM ranked WHERE rk <= {WRS_K}
"""


PSI_EPS = 1e-6  # smoothing for empty buckets
PSI_SPLIT = 0.5  # first half of doc_ids = reference snapshot


def q_corpus_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: Population Stability Index of the
    token-length log2 histogram between the corpus's reference half
    (doc_id below the median cut) and current half — the check a
    continuously-ingesting pipeline runs per batch to catch a feed
    change before it poisons training mixes.

    Scale shape: one map-side projection into (half, bucket), one
    tiny two-level aggregate, shares and PSI contributions computed
    on the |buckets|-row result — the 100 TB cost is one scan."""
    d = load_table(spark, sf_dir, "documents")
    cut = d.agg(
        F.floor(F.lit(PSI_SPLIT) * (F.max("doc_id") + 1)).cast("bigint").alias("c")
    )
    n = F.size(tx.tokens(F.col("text"))).cast("bigint")
    bucket = F.floor(F.log2(F.greatest(n, F.lit(1)))).cast("bigint")
    halves = d.crossJoin(F.broadcast(cut)).select(
        F.when(F.col("doc_id") < F.col("c"), "ref").otherwise("cur").alias("half"),
        bucket.alias("log2_bucket"),
    )
    g = (
        halves.groupBy("log2_bucket")
        .agg(
            F.sum(F.when(F.col("half") == "ref", 1).otherwise(0)).alias("n_ref"),
            F.sum(F.when(F.col("half") == "cur", 1).otherwise(0)).alias("n_cur"),
        )
    )
    tot = Window.partitionBy()
    p_ref = F.col("n_ref") / F.sum("n_ref").over(tot) + PSI_EPS
    p_cur = F.col("n_cur") / F.sum("n_cur").over(tot) + PSI_EPS
    contrib = (p_cur - p_ref) * F.log(p_cur / p_ref)
    return g.select(
        "log2_bucket",
        "n_ref",
        "n_cur",
        F.round(p_ref, 6).alias("p_ref"),
        F.round(p_cur, 6).alias("p_cur"),
        F.round(contrib, 6).alias("psi_contrib"),
    )


SQL_CORPUS_DRIFT_PSI = f"""
WITH {TOKS_CTE},
cut AS (
  SELECT CAST(floor({PSI_SPLIT} * (max(doc_id) + 1)) AS BIGINT) AS c
  FROM documents
),
halves AS (
  SELECT CASE WHEN doc_id < cut.c THEN 'ref' ELSE 'cur' END AS half,
         CAST(floor(log2(greatest(len(w), 1))) AS BIGINT) AS log2_bucket
  FROM toks, cut
),
g AS (
  SELECT log2_bucket,
         CAST(sum(CASE WHEN half = 'ref' THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(sum(CASE WHEN half = 'cur' THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
  FROM halves GROUP BY log2_bucket
)
SELECT log2_bucket, n_ref, n_cur,
       round(n_ref / CAST(sum(n_ref) OVER () AS DOUBLE) + {PSI_EPS}, 6) AS p_ref,
       round(n_cur / CAST(sum(n_cur) OVER () AS DOUBLE) + {PSI_EPS}, 6) AS p_cur,
       round((n_cur / CAST(sum(n_cur) OVER () AS DOUBLE) + {PSI_EPS}
              - (n_ref / CAST(sum(n_ref) OVER () AS DOUBLE) + {PSI_EPS}))
             * ln((n_cur / CAST(sum(n_cur) OVER () AS DOUBLE) + {PSI_EPS})
                  / (n_ref / CAST(sum(n_ref) OVER () AS DOUBLE) + {PSI_EPS})), 6)
         AS psi_contrib
FROM g
"""


PR_ITERS = 3
PR_DAMP = 0.85


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank over the near-dup candidate graph — the
    centrality pass a corpus-curation pipeline runs to find template
    hubs (documents near-duplicating MANY others score high; the
    quality-signal complement of dedup, cf. Common Crawl's
    harmonic-centrality ranking).

    Scale shape: the classic Spark PageRank loop — per iteration ONE
    equi-join of the edge list with the rank state and one partial-agg
    groupBy of contributions; degree rides the rank state so no
    second join; lineage truncated per round (see SCALE.md). Vertices
    = candidate-graph members only (isolated docs score the floor by
    definition and never enter an iteration — same subgraph discipline
    as dedup_cc). {PR_ITERS} fixed iterations keep the oracle an
    unrolled-CTE replay, the kmeans precedent."""
    pairs = q_lsh_candidates(spark, sf_dir).filter(
        F.col("est_jaccard") >= NEARDUP_EST_MIN
    )
    edges = (
        pairs.select(F.col("doc1").alias("doc_id"), F.col("doc2").alias("nbr"))
        .union(pairs.select(F.col("doc2").alias("doc_id"), F.col("doc1").alias("nbr")))
        .localCheckpoint()
    )
    deg = edges.groupBy("doc_id").agg(F.count(F.lit(1)).alias("deg"))
    n = deg.count()  # driver scalar, same discipline as CC's fixpoint sum
    if n == 0:
        # empty candidate graph: the oracle returns 0 rows; mirror it
        # instead of dividing by zero below
        return deg.select("doc_id", "deg", F.lit(0.0).alias("centrality"))
    ranks = deg.withColumn("r", F.lit(1.0 / n))
    for _ in range(PR_ITERS):
        # contributions are quantized to exact 1e-12 integer units
        # (floor) and summed as BIGINTs: a float sum's value depends on
        # partial-agg accumulation order, and one boundary-sitting
        # vertex WILL flip its 6dp rounding under a different partition
        # layout (observed at sf0.001 under the driver's plain
        # session). floor of identical IEEE doubles is deterministic,
        # integer addition is order-free, and the 1e-12 grid is 6
        # orders below the output rounding.
        contrib = (
            edges.join(ranks, "doc_id")
            .select(
                F.col("nbr").alias("doc_id"),
                F.floor((F.col("r") / F.col("deg")) * F.lit(1e12)).alias("cu"),
            )
            .groupBy("doc_id")
            .agg(F.sum("cu").alias("su"))
        )
        ranks = (
            deg.join(contrib, "doc_id")
            .select(
                "doc_id",
                "deg",
                (
                    F.lit((1.0 - PR_DAMP) / n)
                    + F.lit(PR_DAMP) * (F.col("su") / F.lit(1e12))
                ).alias("r"),
            )
            .localCheckpoint(eager=False)
        )
    # normalize to mean 1 (relative centrality) for a scale-free output
    return ranks.select(
        "doc_id",
        "deg",
        F.round(F.col("r") * n, 6).alias("centrality"),
    )


def _pagerank_oracle() -> str:
    iters = []
    for k in range(1, PR_ITERS + 1):
        iters.append(f"""c{k} AS (
  SELECT e.nbr AS doc_id,
         CAST(sum(CAST(floor(s.r / s.deg * 1e12) AS BIGINT)) AS BIGINT) AS su
  FROM edges e JOIN p{k - 1} s USING (doc_id)
  GROUP BY e.nbr
),
p{k} AS (
  SELECT d.doc_id, d.deg,
         (1.0 - {PR_DAMP}) / nv.n + {PR_DAMP} * (c{k}.su / 1e12) AS r
  FROM deg d JOIN c{k} USING (doc_id), nv
)""")
    chain = ",\n".join(iters)
    return f"""
WITH {NEAR_EDGE_CTES},
deg AS (SELECT doc_id, count(*) AS deg FROM edges GROUP BY doc_id),
nv AS (SELECT count(*) AS n FROM deg),
p0 AS (SELECT doc_id, deg, 1.0 / nv.n AS r FROM deg, nv),
{chain}
SELECT p.doc_id, p.deg, round(p.r * nv.n, 6) AS centrality
FROM p{PR_ITERS} p, nv
"""


SQL_PAGERANK = _pagerank_oracle()


CROSSCHECK_COS = 0.9


def q_dedup_crosscheck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage near-dup verification: cheap text-LSH candidates
    (stage 1, sub-quadratic) re-scored with embedding cosine (stage 2,
    only on the candidate pairs — never all-pairs). ``agree`` marks
    pairs where the semantic signal confirms the lexical one.

    The scale property: stage-2 cost is O(|candidates|), and the
    embedding side joins in by id (hash join on vec_id), so the dense
    vectors are only ever shuffled for rows that survived banding."""
    pairs = q_lsh_candidates(spark, sf_dir).filter(
        F.col("est_jaccard") >= NEARDUP_EST_MIN
    )
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", sim_ops.norm(F.col("embedding")).alias("nrm")
    )
    a = e.alias("ea")
    b = e.alias("eb")
    cos = F.round(
        sim_ops.cosine_with_norms(
            F.col("ea.embedding"), F.col("eb.embedding"),
            F.col("ea.nrm"), F.col("eb.nrm"),
        ),
        6,
    )
    return (
        pairs.join(a, F.col("doc1") == F.col("ea.vec_id"))
        .join(b, F.col("doc2") == F.col("eb.vec_id"))
        .select(
            "doc1",
            "doc2",
            "est_jaccard",
            cos.alias("cos_sim"),
            (cos >= CROSSCHECK_COS).alias("agree"),
        )
    )


SQL_DEDUP_CROSSCHECK = f"""
WITH {CHSH_CTE},
{HASHES_CTE},
{SIG_CTE},
{BANDS_CTE},
cand AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         round(max({_EST_JACCARD_SQL.replace('a.s', 'sa.s').replace('b.s', 'sb.s')}), 6)
           AS est_jaccard
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.bucket_key = b.bucket_key
              AND a.doc_id < b.doc_id
  JOIN sig sa ON sa.doc_id = a.doc_id
  JOIN sig sb ON sb.doc_id = b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING round(max({_EST_JACCARD_SQL.replace('a.s', 'sa.s').replace('b.s', 'sb.s')}), 6)
         >= {NEARDUP_EST_MIN}
)
SELECT c.doc1, c.doc2, c.est_jaccard,
       round({_cos_sql('ea.embedding', 'eb.embedding')}, 6) AS cos_sim,
       round({_cos_sql('ea.embedding', 'eb.embedding')}, 6) >= {CROSSCHECK_COS}
         AS agree
FROM cand c
JOIN embeddings ea ON c.doc1 = ea.vec_id
JOIN embeddings eb ON c.doc2 = eb.vec_id
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint (16-bit) per document — order-independent
    integer bit-vote, expression-only on the Spark side."""
    d = load_table(spark, sf_dir, "documents")
    return tx.simhash(d, "doc_id", "text")


_TH = WORD_HASH_SQL.format(x="t")
SQL_SIMHASH = f"""
WITH {TOKS_CTE},
tok_ex AS (SELECT doc_id, unnest(w) AS t FROM toks),
th AS (SELECT doc_id, {_TH} AS h FROM tok_ex),
bits AS (
  SELECT doc_id, k,
         sum(CASE WHEN (h >> k) & 1 = 1 THEN 1 ELSE -1 END) AS bsum
  FROM th CROSS JOIN (SELECT unnest(generate_series(0, {tx.SIMHASH_BITS - 1})) AS k)
  GROUP BY doc_id, k
)
SELECT doc_id,
       CAST(sum(CASE WHEN bsum > 0 THEN (1 << k) ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard for same-source pairs with any
    overlap — explode distinct shingles, self-join on (source,
    shingle), count intersections (blocked all-pairs: the block key
    bounds the quadratic term)."""
    d = load_table(spark, sf_dir, "documents")
    # materialize the token array as a column BEFORE shingling: the
    # shingle lambda does 3 element_at's per output gram, and an
    # inlined split() would re-tokenize per gram (lambda bodies get no
    # cross-bound CSE). Repartition fans the CPU-bound pass out past
    # the input's (often single) file split.
    toked = d.select(
        "doc_id", "source", tx.tokens(F.col("text")).alias("w")
    ).repartition(spark.sparkContext.defaultParallelism)
    sh = toked.select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(tx.shingles(F.col("w"), 3))).alias("sh"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(F.broadcast(sa), F.col("doc1") == F.col("sa.doc_id"))
        .join(F.broadcast(sb), F.col("doc2") == F.col("sb.doc_id"))
        .select(
            "doc1",
            "doc2",
            "n_inter",
            F.round(
                F.col("n_inter")
                / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
    )


SQL_NGRAM_JACCARD = f"""
WITH {TOKS_CTE},
wsh AS (
  SELECT doc_id, source,
         CASE WHEN len(w) >= 3
              THEN list_transform(generate_series(1, len(w) - 2),
                     i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))
              ELSE [] END AS s
  FROM toks
),
dist AS (SELECT DISTINCT doc_id, source, unnest(s) AS sh FROM wsh),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM dist GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_inter
  FROM dist a JOIN dist b
    ON a.source = b.source AND a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc1, doc2, n_inter,
       round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON doc1 = sa.doc_id
JOIN sizes sb ON doc2 = sb.doc_id
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial hash of the 64-char prefix per doc + group
    size over the fingerprint (prefix-dup detector)."""
    d = load_table(spark, sf_dir, "documents")
    fp = d.select("doc_id", tx.fingerprint(F.col("text")).alias("fp"))
    w = Window.partitionBy("fp")
    return fp.select("doc_id", "fp", F.count(F.lit(1)).over(w).alias("n_same_prefix"))


SQL_DOC_FINGERPRINT = """
WITH fp AS (
  SELECT doc_id,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
                        list_transform(string_split(substr(text, 1, 64), ''),
                                       c -> CAST(ord(c) AS BIGINT))),
           (acc, c) -> (acc * 31 + c) % 2147483647) AS fp
  FROM documents
)
SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS n_same_prefix
FROM fp
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language-ID heuristic with deterministic
    priority-order tie-break; reports agreement with the labeled lang."""
    d = load_table(spark, sf_dir, "documents")
    toks = tx.tokens(F.col("text"))
    scores = tx.lang_scores(toks)
    pred = tx.lang_predict(scores)
    return d.select(
        "doc_id",
        "lang",
        *[scores[lang].alias(f"n_{lang}") for lang in tx.LANG_PRIORITY],
        pred.alias("lang_pred"),
        (pred == F.col("lang")).alias("lang_match"),
    )


def _stop_count_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in tx.STOPWORDS[lang])
    return f"len(list_filter(w, t -> t IN ({words})))"


_PRED_SQL = f"'{tx.LANG_PRIORITY[-1]}'"
for _lang in reversed(tx.LANG_PRIORITY[:-1]):
    _later = tx.LANG_PRIORITY[tx.LANG_PRIORITY.index(_lang) + 1 :]
    _cond = " AND ".join(f"n_{_lang} >= n_{l2}" for l2 in _later)
    _PRED_SQL = f"CASE WHEN {_cond} THEN '{_lang}' ELSE {_PRED_SQL} END"

SQL_LANG_ID = f"""
WITH {TOKS_CTE},
scored AS (
  SELECT doc_id, lang,
         {", ".join(f"{_stop_count_sql(lang)} AS n_{lang}" for lang in tx.LANG_PRIORITY)}
  FROM toks
)
SELECT doc_id, lang, {", ".join(f"n_{lang}" for lang in tx.LANG_PRIORITY)},
       {_PRED_SQL} AS lang_pred,
       ({_PRED_SQL}) = lang AS lang_match
FROM scored
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring battery: word stats + punctuation/stopword/
    uppercase ratios + fused [0,1] score."""
    d = load_table(spark, sf_dir, "documents")
    q = tx.quality_metrics(d)
    return q.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        F.round("avg_word_len", 6).alias("avg_word_len"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("upper_ratio", 6).alias("upper_ratio"),
        F.round("stop_ratio", 6).alias("stop_ratio"),
        F.round("quality", 6).alias("quality"),
    )


_EN_STOPS = ", ".join(f"'{w}'" for w in tx.STOPWORDS["en"])
SQL_TEXT_QUALITY = f"""
WITH {TOKS_CTE},
m AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(w) AS n_words,
         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
           AS n_punct,
         length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))
           AS n_upper,
         len(list_filter(w, t -> t IN ({_EN_STOPS}))) AS n_stop
  FROM toks
),
r AS (
  SELECT doc_id, n_words,
         CASE WHEN n_words > 0
              THEN CAST(n_chars AS DOUBLE) / n_words ELSE 0.0 END AS awl,
         CASE WHEN n_chars > 0
              THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END AS pr,
         CASE WHEN n_chars > 0
              THEN CAST(n_upper AS DOUBLE) / n_chars ELSE 0.0 END AS ur,
         CASE WHEN n_words > 0
              THEN CAST(n_stop AS DOUBLE) / n_words ELSE 0.0 END AS sr
  FROM m
)
SELECT doc_id, n_words,
       round(awl, 6) AS avg_word_len,
       round(pr, 6) AS punct_ratio,
       round(ur, 6) AS upper_ratio,
       round(sr, 6) AS stop_ratio,
       round(least(greatest(
         (CASE WHEN n_words BETWEEN 20 AND 1000 THEN 0.4 ELSE 0.0 END)
         + (CASE WHEN awl BETWEEN 3 AND 10 THEN 0.2 ELSE 0.0 END)
         + (CASE WHEN pr <= 0.1 THEN 0.2 ELSE 0.0 END)
         + (CASE WHEN sr >= 0.01 THEN 0.2 ELSE 0.0 END), 0.0), 1.0), 6)
         AS quality
FROM r
"""


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed linear quality classifier (Joulin et al.;
    the CCNet/LLaMA model-based quality-filter archetype): unigram +
    bigram features under the hashing trick, a fixed-size weight
    vector, mean-pooled logit, sigmoid probability, keep/drop flag.

    Scale shape: the scoring kernel is ENTIRELY map-side — feature
    construction, hashing, weight lookup, and the fold are expressions
    inside the scan's project; no key shuffle, no UDF, no model table
    to join (plan-asserted zero-Exchange on the kernel in
    tests/test_plans.py; this suite query adds only the one-file
    fixture's round-robin fan-out). At 100 TB a model-based quality
    filter must cost exactly one pass over the text — this is that
    shape. The weight vector here is md5-derived (deterministic,
    oracle-checkable); production swaps in trained weights via the
    broadcast seam proven by trend_classifier_weights.

    The keep decision compares the INTEGER weight sum to zero (exact;
    no float-threshold flakiness): sigmoid is monotone, so wsum >= 0
    iff prob >= 0.5."""
    d = load_table(spark, sf_dir, "documents")
    # fan out before the CPU-heavy per-feature hashing: the documents
    # table arrives as one file -> one split, and the md5 fold is the
    # bottleneck, not the scan (the minhash_signatures rule; measured
    # 8.0 -> 1.2 s at sf0.1). Values are per-row, so partitioning is
    # free to change.
    d = d.repartition(spark.sparkContext.defaultParallelism)
    base = tx.quality_filter(d).drop("keep")
    logit = F.when(
        F.col("n_feats") > 0,
        F.col("wsum") / (F.lit(1000.0) * F.col("n_feats")),
    ).otherwise(F.lit(0.0))
    # prob is derived from the ALREADY-ROUNDED logit and quantized to 4
    # decimals: JVM Math.exp and DuckDB's libm exp can differ by an ulp,
    # so a round-6 transcendental within 5e-7 of a boundary could flip
    # the hash gate — feeding both engines the identical rounded double
    # and widening the quantum makes a flip require an ulp landing
    # within 5e-5 of a boundary (ADVICE r7). The exact-integer columns
    # (n_feats, wsum, keep) carry the correctness weight.
    rlogit = F.round(logit, 6)
    return base.select(
        "doc_id",
        "n_feats",
        "wsum",
        rlogit.alias("logit"),
        F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(F.lit(-4.0) * rlogit)), 4
        ).alias("prob"),
        (F.col("wsum") >= 0).alias("keep"),
    )


_QCW_SQL = WORD_HASH_SQL.format(
    x=(
        "concat('qcw:', CAST(("
        + WORD_HASH_SQL.format(x="concat('qcb:', f)")
        + f") % {tx.QC_BUCKETS} AS VARCHAR))"
    )
)

SQL_QUALITY_CLASSIFIER = f"""
WITH {TOKS_CTE},
feats AS (
  -- coalesce(w, ['']) mirrors the Spark kernel's NULL-text guard
  -- (text.py:quality_filter): NULL text scores as the single empty
  -- token on BOTH engines instead of NULL-propagating on one
  SELECT doc_id,
         list_concat(coalesce(w, ['']), CASE WHEN len(w) >= 2
           THEN list_transform(generate_series(1, len(w) - 1),
                               i -> w[i] || '_' || w[i + 1])
           ELSE [] END) AS fs
  FROM toks
),
s AS (
  SELECT doc_id, CAST(len(fs) AS BIGINT) AS n_feats,
         CAST(coalesce(list_sum(list_transform(fs,
           f -> (({_QCW_SQL}) % 2001) - 1000)), 0) AS BIGINT) AS wsum
  FROM feats
),
lg AS (
  SELECT doc_id, n_feats, wsum,
         CASE WHEN n_feats > 0
              THEN wsum / (1000.0 * n_feats) ELSE 0.0 END AS logit
  FROM s
)
SELECT doc_id, n_feats, wsum,
       round(logit, 6) AS logit,
       round(1.0 / (1.0 + exp(-4.0 * round(logit, 6))), 4) AS prob,
       wsum >= 0 AS keep
FROM lg
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, alpha-only tokens, and a
    BPE-ish upper-bound estimate (chars/4 + word-boundary regex)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tx.tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_ws_tokens"),
        F.size(F.filter(toks, lambda t: t.rlike("^[a-z]+$")))
        .cast("bigint")
        .alias("n_alpha_tokens"),
        F.ceil(F.length("text") / 4).cast("bigint").alias("n_bpe_est"),
    )


SQL_TOKEN_COUNTS = f"""
WITH {TOKS_CTE}
SELECT doc_id,
       len(w) AS n_ws_tokens,
       len(list_filter(w, t -> regexp_matches(t, '^[a-z]+$')))
         AS n_alpha_tokens,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_bpe_est
FROM toks
"""


def q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length distribution in log2 buckets — the planning
    statistic behind sequence packing and context-length choice (how
    many docs fit a 2^k window; what share of tokens sit in the tail).
    One projection + one tiny groupBy: the histogram a 100 TB corpus
    profile pass produces map-side for near-free."""
    d = load_table(spark, sf_dir, "documents")
    n = F.size(tx.tokens(F.col("text"))).cast("bigint")
    bucket = F.floor(F.log2(F.greatest(n, F.lit(1)))).cast("bigint")
    g = d.select(bucket.alias("log2_bucket"), n.alias("n")).groupBy(
        "log2_bucket"
    )
    out = g.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("total_tokens"),
        F.min("n").alias("min_tokens"),
        F.max("n").alias("max_tokens"),
    )
    total = F.sum("total_tokens").over(Window.partitionBy())
    return out.withColumn(
        "token_share", F.round(F.col("total_tokens") / total, 6)
    )


SQL_TOKEN_HISTOGRAM = f"""
WITH {TOKS_CTE},
n AS (
  SELECT CAST(floor(log2(greatest(len(w), 1))) AS BIGINT) AS log2_bucket,
         CAST(len(w) AS BIGINT) AS n
  FROM toks
),
g AS (
  SELECT log2_bucket,
         count(*) AS n_docs,
         CAST(sum(n) AS BIGINT) AS total_tokens,
         min(n) AS min_tokens,
         max(n) AS max_tokens
  FROM n GROUP BY log2_bucket
)
SELECT log2_bucket, n_docs, total_tokens, min_tokens, max_tokens,
       round(total_tokens / CAST(sum(total_tokens) OVER () AS DOUBLE), 6)
         AS token_share
FROM g
"""


HH_SUPPORT = 0.01  # freqItems single-pass support threshold
HH_MIN_FRAC = 0.02  # report tokens above 2× the support (guarantee margin)


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter tokens via a one-pass frequent-items sketch
    (Karp/Misra-Gries family, `df.stat.freqItems`), audited against
    exact counts — the fixed-memory profile pass that finds dominant
    tokens/boilerplate markers without a full vocabulary aggregate.

    Scale shape: the sketch keeps O(1/support) counters PER PARTITION
    and merges them — one scan, no shuffle of token counts, state
    independent of vocabulary size (the 100 TB path when the exact
    vocab groupBy would itself be huge). The exact side here is the
    audit yardstick: the algorithm guarantees NO false negatives for
    items with frequency > support·N, so every reported token (at
    {HH_MIN_FRAC} ≥ 2× support) must appear among the sketch's
    candidates — `sketch_ok` pins that guarantee under the driver's
    session while the value hash stays deterministic."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tx.tokens(F.col("text"))).alias("token"))
    # sketch pass: bounded candidate superset (≤ 1/support items) —
    # freqItems is a LAZY 1-row aggregate (collect_frequent_items), so
    # it stays inside the returned plan as a broadcast instead of an
    # eager job at construction time (every q_* builder is lazy; the
    # bench attributes cost to execution, not construction)
    cand = toks.stat.freqItems(["token"], HH_SUPPORT)
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").alias("total"))
    hot = counts.crossJoin(F.broadcast(tot)).where(
        F.col("n") >= F.lit(HH_MIN_FRAC) * F.col("total")
    )
    return hot.crossJoin(F.broadcast(cand)).select(
        "token",
        "n",
        F.round(F.col("n") / F.col("total"), 6).alias("share"),
        F.array_contains(F.col("token_freqItems"), F.col("token")).alias(
            "sketch_ok"
        ),
    )


SQL_HEAVY_HITTERS = f"""
WITH {TOKS_CTE},
tk AS (SELECT unnest(w) AS token FROM toks),
c AS (SELECT token, count(*) AS n FROM tk GROUP BY token),
t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
SELECT token, n,
       round(n / CAST(total AS DOUBLE), 6) AS share,
       TRUE AS sketch_ok
FROM c, t WHERE n >= {HH_MIN_FRAC} * total
"""


# --------------------------------------------------------- BPE merge learning

BPE_N_MERGES = 6


def _bpe_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tx.tokens(F.col("text"))).alias("word"))
        .where(F.col("word").rlike("^[a-z]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


# the three BPE queries share one learned tokenizer: memoize per
# (session, fixture) so a full suite run pays the iterative learn ONCE
# instead of three times (~2.5 s each at sf0.1); the cached
# segmentation frame is localCheckpoint-backed, so reuse is a cheap
# re-read, not a recompute.
def _bpe_learned(spark: SparkSession, sf_dir: str):
    return _session_memo(
        spark,
        "bpe",
        sf_dir,
        lambda: tx.bpe_learn(_bpe_words(spark, sf_dir), BPE_N_MERGES),
    )


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer training: the first {BPE_N_MERGES} learned BPE merges
    over the corpus vocabulary (Sennrich et al. 2016) — iterative
    freq-weighted pair counting with a 1-row argmax collect per round
    (see operators/text.py:bpe_learn for the scale shape). Oracle:
    the same rounds unrolled as DuckDB CTEs, each round's fold
    replayed with `list_reduce`."""
    merges, _ = _bpe_learned(spark, sf_dir)
    return spark.createDataFrame(
        merges, "merge_round int, left_sym string, right_sym string, pair_count bigint"
    )


def q_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer application: every vocabulary word segmented by the
    {BPE_N_MERGES} learned merges (the `apply_merge` expression folds,
    distributed over the vocabulary — raw text is never re-touched)."""
    _, seg = _bpe_learned(spark, sf_dir)
    return seg.select(
        "word",
        "freq",
        F.size("syms").cast("bigint").alias("n_syms"),
        F.array_join("syms", " ").alias("syms_str"),
    )


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer application at corpus scale: per-source token budget
    under the learned BPE merges — whitespace words, BPE symbols, and
    the fertility ratio (symbols per word) every context-length /
    cost plan needs.

    Scale shape: the learned segmentation lives on the VOCABULARY
    (distinct words), which joins back onto the corpus token stream as
    a BROADCAST — the corpus side never shuffles; the rollup is a
    #sources-row partial agg. This is the standard trick that makes
    tokenizer application free at 100 TB: encode the vocab once, map
    the corpus through it."""
    _, seg = _bpe_learned(spark, sf_dir)
    vocab = seg.select("word", F.size("syms").cast("bigint").alias("n_syms"))
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(tx.tokens(F.col("text"))).alias("word")
    ).where(F.col("word").rlike("^[a-z]+$"))
    enc = toks.join(F.broadcast(vocab), "word")
    return enc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_syms").alias("n_bpe_tokens"),
        F.round(F.sum("n_syms") / F.count(F.lit(1)), 6).alias("syms_per_word"),
    )


def _bpe_oracle_encode() -> str:
    ctes = ",\n".join(_bpe_round_ctes(k) for k in range(1, BPE_N_MERGES + 1))
    return f"""WITH {_BPE_WORDS_CTES},
{ctes},
v AS (SELECT word, CAST(len(syms) AS BIGINT) AS n_syms
      FROM s{BPE_N_MERGES}),
tw AS (
  SELECT source, unnest(w) AS word FROM toks
),
tf AS (
  SELECT source, word FROM tw WHERE regexp_matches(word, '^[a-z]+$')
)
SELECT source, count(*) AS n_words,
       CAST(sum(v.n_syms) AS BIGINT) AS n_bpe_tokens,
       round(sum(v.n_syms) / CAST(count(*) AS DOUBLE), 6) AS syms_per_word
FROM tf JOIN v USING (word)
GROUP BY source
"""


_BPE_WORDS_CTES = f"""{TOKS_CTE},
words AS (
  SELECT token AS word, count(*) AS freq
  FROM (SELECT unnest(w) AS token FROM toks)
  WHERE regexp_matches(token, '^[a-z]+$')
  GROUP BY token
),
s0 AS (
  SELECT word, freq,
         list_transform(generate_series(1, length(word)),
                        i -> substr(word, i, 1)) AS syms
  FROM words
)"""


def _bpe_round_ctes(k: int) -> str:
    """Round k of the unrolled BPE oracle: pair counts over s{k-1},
    deterministic argmax b{k}, fold-applied segmentation s{k}. The
    LEFT JOIN ON TRUE + null guard keeps the chain total when a round
    finds no pair (mirrors bpe_learn's early stop)."""
    return f"""p{k} AS (
  SELECT z.pr.l AS l, z.pr.r AS r, CAST(sum(z.freq) AS BIGINT) AS c
  FROM (SELECT freq,
               unnest(list_transform(generate_series(1, len(syms) - 1),
                      i -> {{'l': syms[i], 'r': syms[i + 1]}})) AS pr
        FROM s{k - 1} WHERE len(syms) >= 2) z
  GROUP BY 1, 2
),
b{k} AS (SELECT l, r, c FROM p{k} ORDER BY c DESC, l, r LIMIT 1),
s{k} AS (
  SELECT s.word, s.freq,
         CASE WHEN b.l IS NULL OR len(s.syms) < 2 THEN s.syms
              ELSE list_reduce(list_transform(s.syms, x -> [x]),
                   (acc, x) -> CASE WHEN acc[-1] = b.l AND x[1] = b.r
                               THEN list_concat(acc[1:length(acc) - 1],
                                                [b.l || b.r])
                               ELSE list_concat(acc, x) END)
         END AS syms
  FROM s{k - 1} s LEFT JOIN b{k} b ON TRUE
)"""


def _bpe_oracle_merges() -> str:
    ctes = ",\n".join(_bpe_round_ctes(k) for k in range(1, BPE_N_MERGES + 1))
    rounds = "\n  UNION ALL\n  ".join(
        f"SELECT {k} AS merge_round, l AS left_sym, r AS right_sym,"
        f" c AS pair_count FROM b{k}"
        for k in range(1, BPE_N_MERGES + 1)
    )
    return f"WITH {_BPE_WORDS_CTES},\n{ctes}\nSELECT * FROM (\n  {rounds}\n)"


def _bpe_oracle_segment() -> str:
    ctes = ",\n".join(_bpe_round_ctes(k) for k in range(1, BPE_N_MERGES + 1))
    return f"""WITH {_BPE_WORDS_CTES},
{ctes}
SELECT word, freq, CAST(len(syms) AS BIGINT) AS n_syms,
       array_to_string(syms, ' ') AS syms_str
FROM s{BPE_N_MERGES}
"""


SQL_BPE_MERGES = _bpe_oracle_merges()
SQL_BPE_SEGMENT = _bpe_oracle_segment()
SQL_BPE_ENCODE = _bpe_oracle_encode()


VOCAB_K = 100


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building: corpus-wide token frequencies, top-{VOCAB_K}
    by (count DESC, token ASC).

    The scale shape: explode → hash-groupBy with map-side partial
    counts (vocabulary aggregation never moves raw text), then a
    DISTRIBUTED top-k — orderBy+limit plans as TakeOrderedAndProject
    (per-partition heaps + driver merge of k rows), NOT a global sort.
    The rank window runs on the k surviving rows only."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tx.tokens(F.col("text"))).alias("token")).filter(
        F.col("token").rlike("^[a-z]{2,}$")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.col("n").desc(), "token").limit(VOCAB_K)
    w = Window.orderBy(F.col("n").desc(), "token")
    return top.select(
        "token", "n", F.row_number().over(w).cast("bigint").alias("rank")
    )


SPLIT_TRAIN, SPLIT_VAL = 0.9, 0.95  # train/val/test = 90/5/5


def q_doc_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified train/val/test split + audit counts.

    Every doc gets a uniform-ish u ∈ [0,1) from the md5 of its id —
    pure projection, no shuffle, reproducible on any engine and stable
    under re-runs/backfills (the property that matters in a training
    pipeline: membership never depends on row order or partitioning).
    Output is the per-(lang, split) audit: doc count + u-range. The
    only shuffle is the final tiny groupBy on (lang, split)."""
    d = load_table(spark, sf_dir, "documents")
    u = (tx.word_hash(F.col("doc_id").cast("string")) % 1000000) / 1000000.0
    split = (
        F.when(u < SPLIT_TRAIN, "train")
        .when(u < SPLIT_VAL, "val")
        .otherwise("test")
    )
    return (
        d.select("lang", u.alias("u"), split.alias("split"))
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.min("u"), 6).alias("u_min"),
            F.round(F.max("u"), 6).alias("u_max"),
        )
    )


_U_SQL = f"(({WORD_HASH_SQL.format(x='CAST(doc_id AS VARCHAR)')}) % 1000000) / 1000000.0"

SQL_DOC_SPLIT = f"""
WITH assigned AS (
  SELECT lang, {_U_SQL} AS u,
         CASE WHEN {_U_SQL} < {SPLIT_TRAIN} THEN 'train'
              WHEN {_U_SQL} < {SPLIT_VAL} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT lang, split, count(*) AS n_docs,
       round(min(u), 6) AS u_min, round(max(u), 6) AS u_max
FROM assigned GROUP BY lang, split
"""


_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
_URL_RE = "https?://[A-Za-z0-9./_%-]+"
_IDISH_RE = "\\b(key|row|table)\\b"


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII / pattern scrub audit per source: docs containing emails or
    URLs and total match counts. Pure regexp_count projection (codegen,
    no Python) + a tiny groupBy — the scan shape a scrubbing pass over
    100 TB needs (the expensive regex work is map-side; only per-source
    counters shuffle). Patterns are RE2/Java-compatible so the DuckDB
    oracle runs them verbatim."""
    d = load_table(spark, sf_dir, "documents")
    emails = F.regexp_count("text", F.lit(_EMAIL_RE))
    urls = F.regexp_count("text", F.lit(_URL_RE))
    # id-like pattern fires on the synthetic corpus, keeping the regex
    # path's value-hash evidence non-degenerate
    idish = F.regexp_count("text", F.lit(_IDISH_RE))
    return (
        d.select("source", emails.alias("e"), urls.alias("u"), idish.alias("i"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("e") > 0).cast("bigint")).alias("docs_with_email"),
            F.sum((F.col("u") > 0).cast("bigint")).alias("docs_with_url"),
            F.sum("e").cast("bigint").alias("total_emails"),
            F.sum("u").cast("bigint").alias("total_urls"),
            F.sum("i").cast("bigint").alias("total_idish"),
        )
    )


SQL_PII_SCAN = f"""
WITH m AS (
  SELECT source,
         len(regexp_extract_all(text, '{_EMAIL_RE}')) AS e,
         len(regexp_extract_all(text, '{_URL_RE}')) AS u,
         len(regexp_extract_all(text, '{_IDISH_RE}')) AS i
  FROM documents
)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN e > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_email,
       CAST(sum(CASE WHEN u > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_url,
       CAST(sum(e) AS BIGINT) AS total_emails,
       CAST(sum(u) AS BIGINT) AS total_urls,
       CAST(sum(i) AS BIGINT) AS total_idish
FROM m GROUP BY source
"""


SQL_VOCAB_TOPK = f"""
WITH {TOKS_CTE},
tok AS (
  SELECT t.token
  FROM toks, unnest(w) AS t(token)
  WHERE regexp_matches(t.token, '^[a-z]{{2,}}$')
),
counts AS (SELECT token, count(*) AS n FROM tok GROUP BY token)
SELECT token, n, rank FROM (
  SELECT token, n,
         row_number() OVER (ORDER BY n DESC, token) AS rank
  FROM counts
) WHERE rank <= {VOCAB_K}
"""


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-{TOPK}: query set = vec_id % 100 == 0,
    broadcast against the full candidate scan (similarity.py)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(_panel_pred())
    return sim_ops.brute_force_topk(q, e, k=TOPK)


SQL_EMBEDDING_TOPK = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE {PANEL_PRED_SQL}
),
scored AS (
  SELECT q.qid, e.vec_id AS nid,
         round({_cos_sql('q.qe', 'e.embedding')}, 6) AS cos_sim
  FROM embeddings e CROSS JOIN q
  WHERE q.qid <> e.vec_id
)
SELECT qid, nid, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY cos_sim DESC, nid) AS rank
  FROM scored
) WHERE rank <= {TOPK}
"""


CORESET_K = 6


def q_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity coreset: k-center greedy (farthest-point traversal in
    cosine space) over the embedding corpus — k={CORESET_K} exemplars
    plus the coverage radius the selection achieved at each step
    (operators/similarity.py:k_center_greedy; one aggregate pass per
    round, quantized-integer coverage so the trajectory is
    deterministic). Oracle = the same greedy unrolled as materialized
    CTEs, so the hash checks every selection decision, not just the
    final set."""
    e = load_table(spark, sf_dir, "embeddings")
    picks = sim_ops.k_center_greedy(e, k=CORESET_K)
    return spark.createDataFrame(
        [(p["k"], p["center_id"], p["radius_micro"]) for p in picks],
        "k int, center_id long, radius_micro long",
    )


def _kcenter_sql(k: int) -> str:
    def cq(e: str, c: str) -> str:
        return f"CAST(round(({_cos_sql(e, c)}) * 1e6) AS BIGINT)"

    parts = [
        "c1 AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings "
        "ORDER BY vec_id LIMIT 1)",
        f"cov1 AS MATERIALIZED (SELECT e.vec_id, "
        f"{cq('e.embedding', 'c.embedding')} AS cover "
        f"FROM embeddings e CROSS JOIN c1 c)",
    ]
    for i in range(2, k + 1):
        parts.append(
            f"r{i} AS MATERIALIZED (SELECT min(cover) AS rad FROM cov{i - 1})"
        )
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT e.vec_id, e.embedding "
            f"FROM embeddings e JOIN cov{i - 1} v USING (vec_id) "
            f"CROSS JOIN r{i} WHERE v.cover = r{i}.rad "
            f"ORDER BY e.vec_id LIMIT 1)"
        )
        if i < k:
            parts.append(
                f"cov{i} AS MATERIALIZED (SELECT v.vec_id, "
                f"greatest(v.cover, {cq('e.embedding', 'c.embedding')}) "
                f"AS cover FROM cov{i - 1} v "
                f"JOIN embeddings e USING (vec_id) CROSS JOIN c{i} c)"
            )
    selects = [
        "SELECT 1 AS k, c1.vec_id AS center_id, "
        "CAST(NULL AS BIGINT) AS radius_micro FROM c1"
    ] + [
        f"SELECT {i} AS k, c{i}.vec_id AS center_id, r{i}.rad AS radius_micro "
        f"FROM c{i}, r{i}"
        for i in range(2, k + 1)
    ]
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


SQL_CORESET_KCENTER = _kcenter_sql(CORESET_K)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (scale path): 8 random-hyperplane sign bits →
    bucket id; neighbors searched only within the query's bucket.
    Approximate by construction — `embedding_topk` is the recall
    baseline."""
    e = load_table(spark, sf_dir, "embeddings")
    bucketed = e.select(
        "vec_id",
        "embedding",
        sim_ops.lsh_bucket(F.col("embedding"), EMB_DIM).alias("bucket"),
        sim_ops.norm(F.col("embedding")).alias("nrm"),
    )
    q = bucketed.filter(_panel_pred()).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("bucket").alias("qbucket"),
        F.col("nrm").alias("qnrm"),
    )
    pairs = bucketed.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("qid")),
    )
    scored = pairs.select(
        "qid",
        F.col("vec_id").alias("nid"),
        F.col("bucket").cast("bigint").alias("bucket"),
        F.round(
            sim_ops.cosine_with_norms(
                F.col("qe"), F.col("embedding"), F.col("qnrm"), F.col("nrm")
            ),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("nid"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= TOPK
    )


def _bucket_sql(emb: str, n_planes: int = sim_ops.N_PLANES) -> str:
    terms = []
    for j, weights in enumerate(sim_ops.plane_weights(EMB_DIM, n_planes)):
        warr = "[" + ", ".join(str(w) for w in weights) + "]"
        proj = (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(generate_series(1, {EMB_DIM}), "
            f"i -> CAST({emb}[i] AS DOUBLE) * ({warr})[i])), "
            "(acc, x) -> acc + x)"
        )
        terms.append(f"CASE WHEN {proj} > 0 THEN {2**j} ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


SQL_ANN_LSH = f"""
WITH bucketed AS (
  SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
  FROM embeddings
),
q AS (
  SELECT vec_id AS qid, embedding AS qe, bucket AS qbucket
  FROM bucketed WHERE {PANEL_PRED_SQL}
),
scored AS (
  SELECT q.qid, b.vec_id AS nid, CAST(b.bucket AS BIGINT) AS bucket,
         round({_cos_sql('q.qe', 'b.embedding')}, 6) AS cos_sim
  FROM bucketed b JOIN q ON b.bucket = q.qbucket AND b.vec_id <> q.qid
)
SELECT qid, nid, bucket, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY cos_sim DESC, nid) AS rank
  FROM scored
) WHERE rank <= {TOPK}
"""


RP_SHORTLIST = 10 * TOPK  # reduced-space candidates per query before rerank


def q_ann_rp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN by random-projection shortlist + exact rerank: project
    embeddings {EMB_DIM}→{sim_ops.RP_DIM} dims with a deterministic
    ±1 sign matrix (Achlioptas; operators/similarity.py:rp_project),
    shortlist the top {RP_SHORTLIST} per query by REDUCED cosine
    (half the per-pair ops), then rerank only the shortlist with the
    exact full-dimension cosine and keep top {TOPK} — the classic
    coarse-then-exact two-stage retrieval.

    The (dims, shortlist) operating point is MEASURED, not guessed
    (`ann_rp_recall`, the panel protocol that set the LSH re-band):
    on the sf0.01 panel this point reaches recall@{TOPK} = 0.68 —
    above both IVF probe settings (0.32 at the default nprobe, 0.48
    at nprobe=4) at half the per-pair scan cost; 16 dims or a 3×TOPK
    shortlist measured 0.28-0.48 and were rejected.

    Scale shape: the projection is a map-side expression on the
    embedding scan (the matrix is a pure function of indices — no
    model table, nothing broadcast); the pair scoring broadcasts the
    small query set against the candidate scan exactly like
    embedding_topk, but each pair costs RP_DIM ops — and the pair
    rows stay NARROW (qid, nid, score): the full vectors do NOT ride
    the shortlist shuffle. The exact {EMB_DIM}-dim rerank re-fetches
    vectors by id via a broadcast hash join of the tiny shortlist
    against the embedding scan (first cut carried the 64-dim vectors
    through every pair row and measured SLOWER than brute force at
    100× — 55.7 s vs 30.2 s; narrow rows + BHJ re-fetch fixed it).
    Approximate by construction; `embedding_topk` is the recall
    baseline (same query set)."""
    e = load_table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    # _reuse (persist) is load-bearing, not a cache nicety: without a
    # pipeline barrier CollapseProject merges this projection into the
    # per-PAIR window input, re-running the 32×{EMB_DIM} projection of
    # BOTH sides for every candidate pair — measured 50 s of the 55 s
    # first-cut total on the 100× corpus; with the barrier the
    # projection runs once per ROW and the same window takes ~2 s.
    red = _reuse(
        e.select(
            "vec_id",
            sim_ops.rp_project(F.col("embedding"), EMB_DIM).alias("rp"),
        ).withColumn("rnrm", sim_ops.norm(F.col("rp")))
    )
    q = red.filter(_panel_pred()).select(
        F.col("vec_id").alias("qid"),
        F.col("rp").alias("qrp"),
        F.col("rnrm").alias("qrnrm"),
    )
    pairs = red.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
    scored = pairs.select(
        "qid",
        F.col("vec_id").alias("nid"),
        F.round(
            sim_ops.cosine_with_norms(
                F.col("qrp"), F.col("rp"), F.col("qrnrm"), F.col("rnrm")
            ),
            6,
        ).alias("rp_cos"),
    )
    ws = Window.partitionBy("qid").orderBy(F.col("rp_cos").desc(), "nid")
    short = scored.withColumn("srank", F.row_number().over(ws)).filter(
        F.col("srank") <= RP_SHORTLIST
    ).select("qid", "nid", "rp_cos")
    qfull = e.filter(_panel_pred()).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    rer = (
        e.select(F.col("vec_id").alias("nid"), "embedding")
        .join(F.broadcast(short), "nid")
        .join(F.broadcast(qfull), "qid")
        .select(
            "qid",
            "nid",
            "rp_cos",
            F.round(
                sim_ops.cosine(F.col("qe"), F.col("embedding")), 6
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "nid")
    return rer.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= TOPK
    )


def _rp_sql(emb: str) -> str:
    exprs = []
    for weights in sim_ops.rp_matrix(EMB_DIM, sim_ops.RP_DIM):
        warr = "[" + ", ".join(str(w) for w in weights) + "]"
        exprs.append(
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(generate_series(1, {EMB_DIM}), "
            f"i -> CAST({emb}[i] AS DOUBLE) * ({warr})[i])), "
            "(acc, x) -> acc + x)"
        )
    return "[" + ", ".join(exprs) + "]"


SQL_ANN_RP = f"""
WITH red AS (
  SELECT vec_id, embedding, {_rp_sql('embedding')} AS rp FROM embeddings
),
q AS (
  SELECT vec_id AS qid, embedding AS qe, rp AS qrp
  FROM red WHERE {PANEL_PRED_SQL}
),
scored AS (
  SELECT q.qid, r.vec_id AS nid, r.embedding, q.qe,
         round({_cos_sql('q.qrp', 'r.rp', sim_ops.RP_DIM)}, 6) AS rp_cos
  FROM red r CROSS JOIN q WHERE r.vec_id <> q.qid
),
short AS (
  SELECT qid, nid, embedding, qe, rp_cos FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
                                 ORDER BY rp_cos DESC, nid) AS srank
    FROM scored
  ) WHERE srank <= {RP_SHORTLIST}
),
rer AS (
  SELECT qid, nid, rp_cos,
         round({_cos_sql('qe', 'embedding')}, 6) AS cos_sim
  FROM short
)
SELECT qid, nid, rp_cos, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY cos_sim DESC, nid) AS rank
  FROM rer
) WHERE rank <= {TOPK}
"""


NEARDUP_MAX_BLOCK = 50  # labels above this are LSH-sub-bucketed
NEARDUP_SLICE_BITS = 4  # 16 sub-buckets per hot label


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs with BOUNDED quadratic blocks.

    Block key = (label, sub) where sub = 0 for labels at or below
    NEARDUP_MAX_BLOCK rows (exact within-label pairing) and a
    NEARDUP_SLICE_BITS-bit hyperplane-LSH slice + 1 for hot labels —
    so one hot label can never force an unbounded n² block: it is
    split 2^bits ways, and near-identical vectors land in the same
    slice with high probability (sign-agreement ∝ 1 − θ/π per plane).
    At larger scale the slice widens (log2(block/MAX_BLOCK) bits);
    the recall trade on hot blocks is the standard LSH-banding one
    and `embedding_topk` stays the exact-recall baseline.

    The join stays a pure equi-join on the block key (shuffle hash
    partitioned by (label, sub)); the oracle replicates the same
    deterministic blocking, so this is hash-checked, not trusted.
    """
    base = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        "embedding",
        sim_ops.norm(F.col("embedding")).alias("nrm"),
    )
    # shared bounded-block rule (operators/similarity.py:hot_block_slice)
    e = sim_ops.hot_block_slice(
        base, "label", "embedding", EMB_DIM, NEARDUP_MAX_BLOCK, NEARDUP_SLICE_BITS
    )
    a = e.alias("a")
    b = e.alias("b")
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.sub") == F.col("b.sub"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    return pairs.select(
        F.col("a.vec_id").alias("id1"),
        F.col("b.vec_id").alias("id2"),
        F.col("a.label").alias("label"),
        F.round(
            sim_ops.cosine_with_norms(
                F.col("a.embedding"),
                F.col("b.embedding"),
                F.col("a.nrm"),
                F.col("b.nrm"),
            ),
            6,
        ).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= NEARDUP_MIN_COS)


SQL_EMBEDDING_NEARDUP = f"""
WITH counts AS (
  SELECT label, count(*) AS label_n FROM embeddings GROUP BY label
),
blocked AS (
  SELECT e.vec_id, e.label, e.embedding,
         CASE WHEN c.label_n > {NEARDUP_MAX_BLOCK}
              THEN {_bucket_sql('e.embedding', NEARDUP_SLICE_BITS)} + 1
              ELSE 0 END AS sub
  FROM embeddings e JOIN counts c ON e.label = c.label
),
pairs AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2, a.label AS label,
         round({_cos_sql('a.embedding', 'b.embedding')}, 6) AS cos_sim
  FROM blocked a JOIN blocked b
    ON a.label = b.label AND a.sub = b.sub AND a.vec_id < b.vec_id
)
SELECT id1, id2, label, cos_sim FROM pairs WHERE cos_sim >= {NEARDUP_MIN_COS}
"""


NLIST = 16  # IVF cells
NPROBE = 2  # cells probed per query
IVF_KM_ITERS = 2  # Lloyd rounds for the coarse-quantizer fit


def _l2_sql(e: str, c: str) -> str:
    """Squared-L2 between two double lists as a left-to-right fold —
    bit-identical to Spark's ``zip_with``+``aggregate`` spelling."""
    return (
        f"list_reduce(list_prepend(0.0, list_transform(generate_series(1, {EMB_DIM}), "
        f"i -> ({e}[i] - {c}[i]) * ({e}[i] - {c}[i]))), (acc, x) -> acc + x)"
    )


# Train-once memo for the coarse quantizer: a production IVF trains
# its centroids ONCE and every query/ingest day reuses the tiny model
# (build_ivf_state literally persists it; the committed LSTM blobs are
# the same pattern). Session-memoized under the caller-declared
# population key and holding only NLIST×dim driver floats; the fit is
# bit-deterministic, so a memo hit returns exactly what retraining
# would — the oracle retrains per query and still hash-matches.


def _ivf_cents(e: DataFrame, memo_key: tuple | None = None) -> DataFrame:
    """The Lloyd-TRAINED coarse-centroid head shared by every IVF path
    (plain/bounded probe, persisted build, streaming ingest, tests):
    seed = the NLIST lowest-vec_id embeddings, then IVF_KM_ITERS
    Lloyd rounds on squared L2 over double-cast vectors — the
    ``q_kmeans`` trainer composed with the IVF head (VERDICT r8 #5;
    a production IVF at NLIST≈√N wants the trained quantizer, and the
    recall panels price the difference). Per round one broadcast-assign
    scan + one vec_id-ordered-fold groupBy; only NLIST×dim doubles
    cross the driver, so the fit shape is unchanged at 100 TB. Returns
    (cell, ce, cnrm); ``e`` must carry (vec_id, embedding, nrm).

    Determinism: seeds collect exactly (doubles), member folds run in
    vec_id order, so the oracle's unrolled-Lloyd CTEs
    (``_ivf_cent_ctes``) reproduce every centroid bit-for-bit."""
    spark = e.sparkSession

    def fit() -> list:
        emb = e.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        ).localCheckpoint()  # every Lloyd round re-reads this frame
        return _lloyd_cents(emb, NLIST, IVF_KM_ITERS)

    cents = _session_memo(spark, "ivf_cents", memo_key, fit) if memo_key else fit()
    cdf = spark.createDataFrame(
        [(cid, vec) for cid, vec in cents], "cell int, ce array<double>"
    )
    return cdf.select("cell", "ce", sim_ops.norm(F.col("ce")).alias("cnrm"))


def _ivf_cent_ctes(where: str = "") -> str:
    """Unrolled-Lloyd CTE chain ending in ``cents(cell, ce)`` — the
    SQL twin of ``_ivf_cents`` (k=NLIST, IVF_KM_ITERS rounds, seeds =
    lowest vec_ids, vec_id-ordered member folds). ``where`` filters
    the TRAINING population (the persisted build trains on history
    only)."""
    w = f" WHERE {where}" if where else ""
    parts = [
        f"""iemb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings{w})""",
        f"""icent0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, e AS c
  FROM (SELECT vec_id, e FROM iemb ORDER BY vec_id LIMIT {NLIST}))""",
    ]
    for it in range(IVF_KM_ITERS):
        n = it + 1
        parts.append(f"""ia{n} AS (
  SELECT vec_id, e, cid, dist,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
  FROM (SELECT m.vec_id, m.e, c.cid, {_l2_sql('m.e', 'c.c')} AS dist
        FROM iemb m CROSS JOIN icent{it} c))""")
        parts.append(f"""icent{n} AS (
  SELECT cid, list_transform(generate_series(1, {EMB_DIM}), d ->
           list_reduce(list_prepend(0.0, list_transform(ms, e -> e[d])),
                       (acc, x) -> acc + x) / n) AS c
  FROM (SELECT cid, list(e ORDER BY vec_id) AS ms, count(*) AS n
        FROM ia{n} WHERE rk = 1 GROUP BY cid))""")
    parts.append(
        f"cents AS (SELECT cid AS cell, c AS ce FROM icent{IVF_KM_ITERS})"
    )
    return ",\n".join(parts)


def _ivf_probe_topk(pool: DataFrame, q_cells: DataFrame) -> DataFrame:
    """The probe tail shared by every IVF path: equi-join the
    candidate pool to the BROADCAST query panel on the block key
    (cell, plus sub when both sides carry one), score round-6 cosine,
    keep the deterministic top-{TOPK} per query. One spelling of the
    rank key and tie-break, so a determinism fix lands everywhere at
    once."""
    join_cols = [
        c for c in ("cell", "sub") if c in pool.columns and c in q_cells.columns
    ]
    pairs = pool.join(F.broadcast(q_cells), join_cols).filter(
        F.col("vec_id") != F.col("qid")
    )
    scored = pairs.select(
        "qid",
        F.col("vec_id").alias("nid"),
        F.col("cell").cast("int").alias("cell"),
        F.round(
            sim_ops.cosine_with_norms(
                F.col("qe"), F.col("embedding"), F.col("qnrm"), F.col("nrm")
            ),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("nid"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= TOPK
    )


def q_ann_ivf(
    spark: SparkSession, sf_dir: str, nprobe: int = NPROBE
) -> DataFrame:
    """IVF ANN (the second scale path besides LSH): assign every
    vector to its nearest of NLIST coarse centroids, probe the
    ``nprobe`` nearest cells per query, brute-force only inside them.

    Centroids are Lloyd-TRAINED (``_ivf_cents``: NLIST seeds →
    IVF_KM_ITERS k-means rounds — ``q_kmeans``'s kernel composed with
    the IVF head). The ENGINE part is the assign/probe dataflow,
    which is what scales: one broadcast of nlist·dim doubles, one
    map-side argmax per vector, then an equi-join on cell id — the
    fact table is never shuffled by anything bigger than its cell.
    Cell ranks use round-6 cosine so Spark/DuckDB float folds agree.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", sim_ops.norm(F.col("embedding")).alias("nrm")
    )
    ranked = sim_ops.ivf_cell_ranks(e, _ivf_cents(e, ("full", sf_dir)))
    v_cells = ranked.filter(F.col("crank") == 1).select(
        "vec_id", "embedding", "nrm", "cell"
    )
    q_cells = ranked.filter(
        (_panel_pred()) & (F.col("crank") <= nprobe)
    ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
        "cell",
    )
    return _ivf_probe_topk(v_cells, q_cells)


def _ann_ivf_base_ctes(nprobe: int) -> str:
    """CTE chain up to cell assignment: ``v_cells`` (every vector in
    its nearest cell) and ``q_cells`` (the query panel × its nprobe
    nearest cells) — shared by the plain, bounded, and recall
    oracles. Centroids = the unrolled Lloyd fit (``_ivf_cent_ctes``),
    matching the trained Spark head."""
    return f"""{_ivf_cent_ctes()},
scored_cells AS (
  SELECT e.vec_id, e.embedding, c.cell,
         round({_cos_sql('e.embedding', 'c.ce')}, 6) AS ccos
  FROM embeddings e CROSS JOIN cents c
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY ccos DESC, cell) AS crank
  FROM scored_cells
),
v_cells AS (SELECT vec_id, embedding, cell FROM ranked WHERE crank = 1),
q_cells AS (SELECT vec_id AS qid, embedding AS qe, cell FROM ranked
            WHERE {PANEL_PRED_SQL} AND crank <= {nprobe})"""


def _ann_ivf_ctes(nprobe: int) -> str:
    """The full IVF probe pipeline as a CTE chain ending in
    ``ivf_hits`` (qid, nid, cell, cos_sim ranked ≤ TOPK) — shared by
    the ANN query oracle and the recall-panel oracles."""
    return f"""{_ann_ivf_base_ctes(nprobe)},
ivf_scored AS (
  SELECT q.qid, v.vec_id AS nid, CAST(v.cell AS INTEGER) AS cell,
         round({_cos_sql('q.qe', 'v.embedding')}, 6) AS cos_sim
  FROM v_cells v JOIN q_cells q USING (cell)
  WHERE v.vec_id <> q.qid
),
ivf_hits AS (
  SELECT qid, nid, cell, cos_sim, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
                                 ORDER BY cos_sim DESC, nid) AS rank
    FROM ivf_scored
  ) WHERE rank <= {TOPK}
)"""


SQL_ANN_IVF = f"""
WITH {_ann_ivf_ctes(NPROBE)}
SELECT qid, nid, cell, cos_sim, rank FROM ivf_hits
"""


def _recall_vs_exact(
    spark: SparkSession, sf_dir: str, approx: DataFrame
) -> DataFrame:
    """Recall@{TOPK} of an approximate (qid, nid) hit set against the
    exact brute-force baseline (``embedding_topk``), per query vector.
    Scale shape: the verdict join is on (qid, nid) over ≤ TOPK rows
    per query, then one groupBy(qid) — the panel audit costs nothing
    beyond its two inputs."""
    exact = q_embedding_topk(spark, sf_dir).select("qid", "nid")
    hits = approx.select("qid", "nid").withColumn("hit", F.lit(True))
    return (
        exact.join(hits, ["qid", "nid"], "left")
        .groupBy("qid")
        .agg(F.sum(F.when(F.col("hit"), 1).otherwise(0)).alias("n_hits"))
        .select(
            "qid",
            "n_hits",
            F.round(F.col("n_hits") / F.lit(TOPK), 6).alias("recall"),
        )
    )


def q_ann_ivf_recall(
    spark: SparkSession, sf_dir: str, nprobe: int = NPROBE
) -> DataFrame:
    """Recall@{TOPK} of the IVF probe against the exact brute-force
    baseline — the vector-space twin of the ``lsh_recall`` tuning
    panel: comparing this row set across ``nprobe`` settings IS the
    probe-width decision (recall rises as more cells are searched;
    latency rises with the probed candidate mass). Same fixed query
    panel as both inputs."""
    return _recall_vs_exact(
        spark, sf_dir, q_ann_ivf(spark, sf_dir, nprobe=nprobe)
    )


ANN_RECALL_PROBE_WIDE = 4  # the candidate next notch for the nprobe dial


def q_ann_ivf_recall_probe4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same recall panel with nprobe={ANN_RECALL_PROBE_WIDE}:
    doubling the probed cells from {NPROBE} bounds how much recall the
    narrow setting leaves on the table — this row set vs
    ``ann_ivf_recall``'s is the tuning decision."""
    return q_ann_ivf_recall(spark, sf_dir, nprobe=ANN_RECALL_PROBE_WIDE)


def _ann_recall_sql(nprobe: int, ctes: str | None = None) -> str:
    """Recall-panel oracle over ANY probe pipeline: ``ctes`` is a CTE
    chain ending in ``ivf_hits`` (defaults to the plain probe's) —
    one spelling of the exact baseline and the recall SELECT for the
    plain and bounded panels alike."""
    return f"""
WITH {ctes or _ann_ivf_ctes(nprobe)},
q AS (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE {PANEL_PRED_SQL}
),
exact_scored AS (
  SELECT q.qid, e.vec_id AS nid,
         round({_cos_sql('q.qe', 'e.embedding')}, 6) AS cos_sim
  FROM embeddings e CROSS JOIN q
  WHERE q.qid <> e.vec_id
),
exact AS (
  SELECT qid, nid FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
                                 ORDER BY cos_sim DESC, nid) AS rank
    FROM exact_scored
  ) WHERE rank <= {TOPK}
)
SELECT e.qid,
       count(i.nid) AS n_hits,
       round(count(i.nid) / CAST({TOPK} AS DOUBLE), 6) AS recall
FROM exact e LEFT JOIN ivf_hits i ON e.qid = i.qid AND e.nid = i.nid
GROUP BY e.qid
"""


SQL_ANN_IVF_RECALL = _ann_recall_sql(NPROBE)
SQL_ANN_IVF_RECALL_PROBE4 = _ann_recall_sql(ANN_RECALL_PROBE_WIDE)


def q_ann_rp_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOPK} of the random-projection shortlist+rerank path
    against the exact brute-force baseline — the RP member of the
    recall-panel family (lsh_recall, ann_ivf_recall*): this measured
    row set is what justifies (or vetoes) the {sim_ops.RP_DIM}-dim /
    {RP_SHORTLIST}-candidate operating point, exactly as the re-band
    decision was made for LSH."""
    return _recall_vs_exact(spark, sf_dir, q_ann_rp(spark, sf_dir))


_RP_HITS_CTES = f"""red AS (
  SELECT vec_id, embedding, {_rp_sql('embedding')} AS rp FROM embeddings
),
rpq AS (
  SELECT vec_id AS qid, embedding AS qe, rp AS qrp
  FROM red WHERE {PANEL_PRED_SQL}
),
rp_scored AS (
  SELECT rpq.qid, r.vec_id AS nid, r.embedding, rpq.qe,
         round({_cos_sql('rpq.qrp', 'r.rp', sim_ops.RP_DIM)}, 6) AS rp_cos
  FROM red r CROSS JOIN rpq WHERE r.vec_id <> rpq.qid
),
rp_short AS (
  SELECT qid, nid, embedding, qe FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
                                 ORDER BY rp_cos DESC, nid) AS srank
    FROM rp_scored
  ) WHERE srank <= {RP_SHORTLIST}
),
ivf_hits AS (
  SELECT qid, nid FROM (
    SELECT qid, nid, row_number() OVER (
             PARTITION BY qid
             ORDER BY round({_cos_sql('qe', 'embedding')}, 6) DESC, nid
           ) AS rank
    FROM rp_short
  ) WHERE rank <= {TOPK}
)"""

SQL_ANN_RP_RECALL = _ann_recall_sql(0, ctes=_RP_HITS_CTES)


# ------------------------------------------------ scalar quantization ANN

SQ_LEVELS = 255  # 8-bit codes: ceil(log2(256)) = 8 bits per dimension
SQ_SHORTLIST = RP_SHORTLIST  # same budget as the RP path → comparable panels


def _sq8_stats(e: DataFrame) -> DataFrame:
    """One-row frame (mns: array<double>, mxs: array<double>) of
    per-dimension corpus min/max — a single map-side-partial aggregate
    pass (2·{EMB_DIM} scalar aggs), the entire 'training' of scalar
    quantization. min/max of floats is exact (no accumulation), so
    both engines derive bit-identical grids."""
    aggs = []
    for i in range(EMB_DIM):
        x = F.col("embedding").getItem(i).cast("double")
        aggs.append(F.min(x).alias(f"mn{i}"))
        aggs.append(F.max(x).alias(f"mx{i}"))
    return e.agg(*aggs).select(
        F.array(*[F.col(f"mn{i}") for i in range(EMB_DIM)]).alias("mns"),
        F.array(*[F.col(f"mx{i}") for i in range(EMB_DIM)]).alias("mxs"),
    )


def q_ann_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN by per-dimension scalar quantization (SQ8) + exact rerank —
    the remaining classic quantizer next to PQ/IVFADC: each dimension
    is affinely mapped to an 8-bit code against the corpus min/max
    grid, so the candidate table the search scans is 1 byte/dim
    (4× smaller than float32, 8× than float64) while queries stay
    full-precision (asymmetric scoring, like ADC). Constant dims
    (mx == mn) code to 0 and decode to mn.

    Scale shape: 'training' is ONE aggregate pass (per-dim min/max →
    a 1-row broadcast — no iterations, the cheapest quantizer there
    is); encoding rides the embedding scan map-side; scoring
    broadcasts the tiny query panel against the coded scan with the
    decode folded into the per-row expression (the `_reuse` barrier
    keeps CollapseProject from re-running the decode per PAIR — the
    measured ann_rp lesson); pair rows stay NARROW (qid, nid, score)
    and the exact rerank re-fetches vectors for the ≤{SQ_SHORTLIST}
    shortlist via broadcast hash join. Unlike PQ there is no codebook
    table to train or store — the model is 2·{EMB_DIM} doubles.
    `ann_sq8_recall` prices the quantization loss against the exact
    baseline on the shared panel: measured recall@{TOPK} = 1.00 at
    sf0.01 — 8 bits/dim is lossless at top-5 granularity on this
    corpus, vs PQ's 0.76 at 8× fewer code bits; the memory ladder is
    float32 4 B/dim → SQ8 1 B/dim → PQ 1 B per 8 dims, and this row
    pins where each rung stops being free."""
    e = load_table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    coded = _sq8_coded(e)
    q = e.filter(_panel_pred()).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        sim_ops.norm(F.col("embedding")).alias("qnrm"),
    )
    pairs = coded.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
    scored = pairs.select(
        "qid",
        F.col("vec_id").alias("nid"),
        F.round(
            sim_ops.cosine_with_norms(
                F.col("qe"), F.col("dqe"), F.col("qnrm"), F.col("dnrm")
            ),
            6,
        ).alias("sq_cos"),
    )
    return _sq8_rerank(e, scored)


def _sq8_coded(e: DataFrame) -> DataFrame:
    """The persisted-quality SQ8 candidate frame (vec_id, dqe, dnrm):
    min/max grid → 8-bit codes → decode, behind a `_reuse` barrier so
    the decode runs once per ROW — shared by the full-scan and
    IVF-probed paths."""
    stats = _sq8_stats(e)

    def code(x: Column, i: Column) -> Column:
        mn = F.element_at(F.col("mns"), i + 1)
        mx = F.element_at(F.col("mxs"), i + 1)
        return (
            F.when(
                mx > mn,
                F.round(
                    (x.cast("double") - mn) * F.lit(float(SQ_LEVELS)) / (mx - mn)
                ).cast("int"),
            )
            .otherwise(F.lit(0))
        )

    def dequant(c: Column, i: Column) -> Column:
        mn = F.element_at(F.col("mns"), i + 1)
        mx = F.element_at(F.col("mxs"), i + 1)
        return mn + c.cast("double") * (mx - mn) / F.lit(float(SQ_LEVELS))

    return _reuse(
        e.crossJoin(F.broadcast(stats))
        .select(
            "vec_id",
            F.transform(F.col("embedding"), code).alias("codes"),
            "mns",
            "mxs",
        )
        .select(
            "vec_id",
            F.transform(F.col("codes"), dequant).alias("dqe"),
        )
        .withColumn("dnrm", sim_ops.norm(F.col("dqe")))
    )


def _sq8_rerank(e: DataFrame, scored: DataFrame) -> DataFrame:
    """Shared SQ8 tail: shortlist by quantized cosine, exact-rerank by
    broadcast vector re-fetch, top-{TOPK} — one spelling of the rank
    keys for the full-scan and probed paths."""
    ws = Window.partitionBy("qid").orderBy(F.col("sq_cos").desc(), "nid")
    short = (
        scored.withColumn("srank", F.row_number().over(ws))
        .filter(F.col("srank") <= SQ_SHORTLIST)
        .select("qid", "nid", "sq_cos")
    )
    qfull = e.filter(_panel_pred()).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    rer = (
        e.select(F.col("vec_id").alias("nid"), "embedding")
        .join(F.broadcast(short), "nid")
        .join(F.broadcast(qfull), "qid")
        .select(
            "qid",
            "nid",
            "sq_cos",
            F.round(
                sim_ops.cosine(F.col("qe"), F.col("embedding")), 6
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "nid")
    return rer.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= TOPK
    )


_SQ8_BASE_CTES = f"""dims AS MATERIALIZED (
  SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS mn,
         max(CAST(embedding[i] AS DOUBLE)) AS mx
  FROM embeddings CROSS JOIN generate_series(1, {EMB_DIM}) AS t(i)
  GROUP BY i
),
stats AS MATERIALIZED (
  SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM dims
),
dq AS MATERIALIZED (
  SELECT vec_id,
         list_transform(generate_series(1, {EMB_DIM}), i ->
           mns[i] + CAST(
             CASE WHEN mxs[i] > mns[i]
                  THEN CAST(round((CAST(embedding[i] AS DOUBLE) - mns[i])
                                  * {float(SQ_LEVELS)} / (mxs[i] - mns[i]))
                       AS INT)
                  ELSE 0 END
           AS DOUBLE) * (mxs[i] - mns[i]) / {float(SQ_LEVELS)}) AS dqe
  FROM embeddings CROSS JOIN stats
),
sq_q AS (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE {PANEL_PRED_SQL}
),
sq_scored AS (
  SELECT sq_q.qid, d.vec_id AS nid,
         round({_cos_sql('sq_q.qe', 'd.dqe')}, 6) AS sq_cos
  FROM dq d CROSS JOIN sq_q WHERE d.vec_id <> sq_q.qid
),
sq_short AS (
  SELECT qid, nid, sq_cos FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
                                 ORDER BY sq_cos DESC, nid) AS srank
    FROM sq_scored
  ) WHERE srank <= {SQ_SHORTLIST}
),
sq_rer AS (
  SELECT s.qid, s.nid, s.sq_cos,
         round({_cos_sql('q2.qe', 'e.embedding')}, 6) AS cos_sim
  FROM sq_short s
  JOIN embeddings e ON e.vec_id = s.nid
  JOIN sq_q q2 ON q2.qid = s.qid
)"""

SQL_ANN_SQ8 = f"""
WITH {_SQ8_BASE_CTES}
SELECT qid, nid, sq_cos, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY cos_sim DESC, nid) AS rank
  FROM sq_rer
) WHERE rank <= {TOPK}
"""


def q_ann_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOPK} of the SQ8 shortlist+rerank path against the
    exact brute-force baseline — the SQ member of the recall-panel
    family. Comparing this row to ann_pq_recall prices 8 bits/dim
    (this path) against 1 byte/subvector-of-8 (PQ) on identical
    queries: measured at sf0.01 this panel reads 1.00 vs PQ's 0.76 —
    the 8× code-size gap buys back the full exact baseline here, the
    upper rung of the quantization ladder recorded in q_ann_sq8."""
    return _recall_vs_exact(spark, sf_dir, q_ann_sq8(spark, sf_dir))


_SQ8_HITS_CTES = (
    _SQ8_BASE_CTES
    + f""",
ivf_hits AS (
  SELECT qid, nid FROM (
    SELECT qid, nid, row_number() OVER (PARTITION BY qid
                                        ORDER BY cos_sim DESC, nid) AS rank
    FROM sq_rer
  ) WHERE rank <= {TOPK}
)"""
)

SQL_ANN_SQ8_RECALL = _ann_recall_sql(0, ctes=_SQ8_HITS_CTES)


# ------------------------------------------------- product quantization ANN

PQ_M = 8  # subspaces
PQ_SUBDIM = EMB_DIM // PQ_M  # dims per subspace
PQ_K = 8  # codes per subspace codebook
PQ_ITERS = 2  # Lloyd iterations per subspace
PQ_SHORTLIST = 10 * TOPK  # ADC candidates per query before exact rerank


def _pq_code_expr(sub: Column, book: list[tuple[int, list[float]]]) -> Column:
    """1-based POSITION (cid-sorted) of the nearest codeword to the
    subvector — squared-L2 argmin, first-min tie-break (= lowest cid,
    matching the oracle's (dist, cid) row_number). This is the
    EXPRESSION twin that defines the semantics; the hot paths run the
    decimal-exact vectorized mirror below (`_pq_mats` / `_pq_argmin` /
    `_pq_codes_udf` / `_pq_cid_udf`), kept because the zip_with+fold
    spelling is the 1:1 bridge to the oracle's SQL."""
    dists = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    sub,
                    F.array(*[F.lit(v) for v in c]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for _, c in book
        ]
    )
    return F.array_position(dists, F.array_min(dists)).cast("int")


def _pq_mats(books: list) -> list:
    """books as per-subspace float64 matrices (K_s x SUBDIM)."""
    import numpy as np

    return [
        np.asarray([c for _, c in book], dtype=np.float64) for book in books
    ]


def _pq_argmin(X, M):
    """0-based nearest-codeword index per row of X (n x SUBDIM)
    against codeword matrix M (K x SUBDIM) — bit-exact mirror of
    `_pq_code_expr`: the squared-L2 fold accumulates left-to-right
    over dimensions ((0.0 + t1) + t2 ...), each (a-b)*(a-b) and each
    add the same IEEE float64 op the zip_with+aggregate expression
    performs per row, vectorized ACROSS rows; np.argmin takes the
    first minimum (= array_position of array_min = lowest cid)."""
    import numpy as np

    acc = np.zeros((X.shape[0], M.shape[0]))
    for d in range(M.shape[1]):
        diff = X[:, d, None] - M[None, :, d]
        acc = acc + diff * diff
    return np.argmin(acc, axis=1)


def _pq_codes_udf(books: list):
    """Arrow-vectorized encode: full embedding -> array of the
    {PQ_M} 1-based codeword positions (one Python boundary crossing
    for all subspaces; guide §4.2). The JVM expression form cost
    ~5 ms/row interpreted — the codebook-literal trees are too large
    for useful codegen — which made ENCODE the PQ family's dominant
    stage; the kernel is numerically identical (`_pq_argmin`)."""
    import numpy as np
    import pandas as pd

    mats = _pq_mats(books)

    @F.pandas_udf("array<int>")
    def codes(e: pd.Series) -> pd.Series:
        if not len(e):
            return pd.Series([], dtype=object)
        E = np.stack(e.to_numpy())
        out = np.empty((E.shape[0], len(mats)), dtype=np.int32)
        for s, M in enumerate(mats):
            X = E[:, s * PQ_SUBDIM : (s + 1) * PQ_SUBDIM]
            out[:, s] = _pq_argmin(X, M) + 1
        return pd.Series(list(out))

    return codes


def _pq_cid_udf(books: list):
    """Arrow-vectorized training assignment on the posexploded
    (s, sub) frame: 0-based cid of the nearest codeword in subspace
    s's CURRENT codebook — replaces the per-row WHEN-chain of
    codebook-literal expressions each Lloyd iteration (same
    `_pq_argmin` arithmetic, so every centroid trajectory is
    unchanged)."""
    import numpy as np
    import pandas as pd

    mats = _pq_mats(books)

    @F.pandas_udf("int")
    def cid(s: pd.Series, sub: pd.Series) -> pd.Series:
        if not len(s):
            return pd.Series([], dtype="int32")
        sv = s.to_numpy()
        SUB = np.stack(sub.to_numpy())
        out = np.empty(len(sv), dtype=np.int32)
        for si, M in enumerate(mats):
            m = sv == si
            if m.any():
                out[m] = _pq_argmin(SUB[m], M)
        return pd.Series(out)

    return cid


def _pq_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The double-cast embeddings frame every PQ stage reads."""
    return (
        load_table(spark, sf_dir, "embeddings")
        # one file -> one split; fan out so the fold-heavy training
        # assignment, encode, and ADC stages use every core (values
        # are per-row / order-canonicalized, so partitioning is free)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        )
        .localCheckpoint()
    )


# train-once session memo, same contract as the IVF centroids: the
# codebook fit is bit-deterministic, PQ_M×PQ_K×PQ_SUBDIM driver floats,
# and a production PQ index trains its codebooks once (build_pq_state
# persists them) — per-session reuse returns exactly what retraining
# would, and the oracle retrains per query and still hash-matches


def _pq_train(spark: SparkSession, sf_dir: str):
    """Train the {PQ_M}×{PQ_K} product-quantization codebooks on the
    FULL corpus (the per-call, oracle-replayable shape — see
    `build_pq_state` for the sample-trained persisted production
    shape). Returns (emb, books)."""
    emb = _pq_emb(spark, sf_dir)
    return emb, _session_memo(
        spark, "pq_full", sf_dir, lambda: _pq_train_books(emb)
    )


def _pq_train_books(emb: DataFrame) -> list:
    """Lloyd-train the {PQ_M}×{PQ_K} codebooks over ``emb`` (Jégou
    et al., "Product quantization for nearest neighbor search"): an
    independent k-means per {PQ_SUBDIM}-dim subspace, on the kmeans
    determinism recipe (init = lowest vec_ids, member folds in vec_id
    order) so the oracle's unrolled CTEs reproduce every centroid
    bit-exactly. Returns books where books[s] = [(cid, centroid), ...]
    sorted by cid.

    Scale shape: all {PQ_M} subspaces train TOGETHER — per Lloyd
    iteration ONE job over a posexplode'd (vec_id, s, subvector)
    frame assigns every subvector against its own subspace's literal
    centroids and fold-averages members per (s, cid); only
    {PQ_M}×{PQ_K}×{PQ_SUBDIM} doubles return to the driver. (The
    per-subspace-sequential first cut cost 16 rounds × 2 jobs of pure
    scheduling overhead — ~30 s of the original 60 s train+build.)

    Degraded-budget note: Lloyd CAN empty a cluster (no subvector
    nearest to a codeword), in which case books[s] shrinks below
    {PQ_K}. Both engines then track the SAME surviving centroid set
    (Spark by sorted position, the oracle by surviving cid), so
    results still agree — the codebook budget silently degrades
    rather than the query failing. Not observed on the driver corpora
    (codebooks hash-verified at (8,8))."""
    seeds = sorted(
        emb.orderBy("vec_id").limit(PQ_K).collect(), key=lambda r: r["vec_id"]
    )
    books = [
        [
            (i, list(r["e"])[s * PQ_SUBDIM : (s + 1) * PQ_SUBDIM])
            for i, r in enumerate(seeds)
        ]
        for s in range(PQ_M)
    ]
    subs = emb.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.slice("e", s * PQ_SUBDIM + 1, PQ_SUBDIM)
                    for s in range(PQ_M)
                ]
            )
        ).alias("s", "sub"),
    )
    for _ in range(PQ_ITERS):
        # positions are cid-sorted indices; books stay dense (cid =
        # position - 1) as long as no cluster empties — see the
        # degraded-budget note in the docstring for the empty case.
        # Assignment runs the vectorized kernel (one ArrowEvalPython
        # over (s, sub)) instead of the former per-row WHEN-chain of
        # codebook-literal expressions — same `_pq_argmin` floats,
        # same centroid trajectory, fraction of the per-row cost.
        cid = _pq_cid_udf(books)(F.col("s"), F.col("sub"))
        members = (
            subs.withColumn("cid", cid)
            .groupBy("s", "cid")
            .agg(
                F.sort_array(F.collect_list(F.struct("vec_id", "sub"))).alias(
                    "ms"
                ),
                F.count(F.lit(1)).alias("n"),
            )
        )
        new_c = F.transform(
            F.sequence(F.lit(1), F.lit(PQ_SUBDIM)),
            lambda d: F.aggregate(
                F.col("ms"),
                F.lit(0.0),
                lambda acc, x: acc + F.element_at(x["sub"], d),
            )
            / F.col("n"),
        )
        rows = members.select("s", "cid", new_c.alias("c")).collect()
        books = [
            sorted(
                (int(r["cid"]), list(r["c"])) for r in rows if r["s"] == s
            )
            for s in range(PQ_M)
        ]
    return books


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN by product quantization with asymmetric distance + exact
    rerank (Jégou et al.'s IVFADC+R recipe, minus the IVF stage —
    compose with ann_ivf's cells for both): {PQ_M} independent
    {PQ_K}-code codebooks quantize each vector to {PQ_M} small ints;
    a query scores a candidate as the sum of {PQ_M} LOOKUPS into its
    per-query dot-product table — per-pair cost collapses from dim
    multiplies to {PQ_M} adds, and the codes table is {PQ_M} bytes
    per vector instead of {EMB_DIM} floats (the memory story that
    makes billion-vector search fit RAM). The ADC top-{PQ_SHORTLIST}
    shortlist is then reranked with the exact cosine.

    The operating point is MEASURED (panel protocol): raw ADC top-5
    recall on this corpus is 0.08-0.32 across (4,8)/(8,8)/(8,16)
    codebook grids — quantization error swamps within-cluster
    distinctions — while the 50-candidate shortlist + exact rerank at
    (8, 8) reaches recall@5 = 0.76, the best of the ANN family (IVF
    probe4 0.48, RP 0.68). `ann_pq_recall` keeps the panel
    executable.

    Scale shape: codebooks are k×subdim driver floats (broadcast as
    literals — the _km_assign layout); ENCODE is one map-side argmin
    projection per subspace, persisted so the pair join sees narrow
    (vec_id, codes) rows (the ann_rp CollapseProject lesson); the
    query-side LUT is queries × {PQ_M}×{PQ_K} dots, built once and
    broadcast; the rerank re-fetches full vectors for shortlist rows
    only, via a broadcast hash join against the embedding scan."""
    emb, books = _pq_train(spark, sf_dir)
    codes = _reuse(emb.select("vec_id", *_pq_enc_cols(books)))
    queries = emb.filter(_panel_pred())
    q = queries.select(
        F.col("vec_id").alias("qid"),
        *_pq_lut_cols(books),
        sim_ops.norm(F.col("e")).alias("qnrm"),
    )
    qfull = queries.select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    return _pq_topk(
        codes, q, qfull, emb.select(F.col("vec_id").alias("nid"), "e"), books
    )


def _pq_enc_cols(books: list) -> list:
    """Encode columns p0..p{PQ_M-1}: per subspace, position (1-based,
    cid-sorted) of the nearest codeword; first-min tie-break (= lowest
    cid, matching the oracle's (dist, cid) row_number). One shared
    vectorized-kernel call (`_pq_codes_udf`) feeds all {PQ_M} columns
    — the single Column instance is reused so the plan carries ONE
    ArrowEvalPython evaluation, projected {PQ_M} ways."""
    codes = _pq_codes_udf(books)(F.col("e"))
    return [
        F.element_at(codes, s + 1).alias(f"p{s}")
        for s in range(len(books))
    ]


def _pq_lut_cols(books: list) -> list:
    """Query-side LUT arrays l0..l{PQ_M-1}: dot of the query subvector
    with every codeword, cid-sorted."""
    lut_cols = []
    for s, book in enumerate(books):
        sub = F.slice("e", s * PQ_SUBDIM + 1, PQ_SUBDIM)
        lut_cols.append(
            F.array(
                *[
                    F.aggregate(
                        F.zip_with(
                            sub,
                            F.array(*[F.lit(v) for v in c]),
                            lambda a, b: a * b,
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    for _, c in book
                ]
            ).alias(f"l{s}")
        )
    return lut_cols


def _pq_topk(
    codes: DataFrame,
    q: DataFrame,
    qfull: DataFrame,
    rerank_src: DataFrame,
    books: list,
    shortlist: int = PQ_SHORTLIST,
) -> DataFrame:
    """ADC scoring + shortlist + exact rerank — the search shared by
    the per-call (`q_ann_pq`), persisted (`q_ann_pq_persisted`), and
    IVF-composed (`q_ann_ivfpq`) paths. Inputs: codes (vec_id, p0..),
    q (qid, l0.., qnrm), qfull (qid, qe), rerank_src (nid, e) — the
    full vectors only the shortlist rows ever touch. When BOTH codes
    and q carry a ``cell`` column the pair join becomes an equi-join
    on it (the IVFADC probe restriction — only probed cells' members
    are ADC-scored); otherwise every candidate is scored against the
    broadcast query panel."""
    # candidate-side reconstruction norm²: Σ_s |codeword(s, code_s)|²
    # — codeword norms are Python floats (same left-to-right fold the
    # oracle computes), looked up by code position map-side
    def _nsq(book):
        out = []
        for _, c in book:
            acc = 0.0
            for v in c:
                acc = acc + v * v
            out.append(acc)
        return out

    rsq = None
    for s, book in enumerate(books):
        term = F.element_at(
            F.array(*[F.lit(w) for w in _nsq(book)]), F.col(f"p{s}")
        )
        rsq = term if rsq is None else rsq + term
    num = None
    for s in range(PQ_M):
        term = F.element_at(F.col(f"l{s}"), F.col(f"p{s}"))
        num = term if num is None else num + term
    if "cell" in codes.columns and "cell" in q.columns:
        pairs = codes.join(F.broadcast(q), "cell").filter(
            F.col("vec_id") != F.col("qid")
        )
    else:
        pairs = codes.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
    scored = pairs.select(
        "qid",
        F.col("vec_id").alias("nid"),
        F.round(
            F.when(
                (F.col("qnrm") > 0) & (rsq > 0),
                num / (F.col("qnrm") * F.sqrt(rsq)),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("pq_cos"),
    )
    ws = Window.partitionBy("qid").orderBy(F.col("pq_cos").desc(), "nid")
    short = (
        scored.withColumn("srank", F.row_number().over(ws))
        .filter(F.col("srank") <= shortlist)
        .select("qid", "nid", "pq_cos")
    )
    rer = (
        rerank_src.join(F.broadcast(short), "nid")
        .join(F.broadcast(qfull), "qid")
        .select(
            "qid",
            "nid",
            "pq_cos",
            F.round(sim_ops.cosine(F.col("qe"), F.col("e")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), "nid")
    return rer.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= TOPK
    )


def q_ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOPK} of the PQ/ADC path against the exact brute-force
    baseline — the PQ member of the recall-panel family; this panel
    prices the {PQ_M}×{PQ_K} codebook budget the same way the nprobe
    and RP panels price theirs."""
    return _recall_vs_exact(spark, sf_dir, q_ann_pq(spark, sf_dir))


def _pq_sub_sql(e: str, s: int, i: str = "i") -> str:
    """DuckDB expr for element i (1-based within subspace s) of e."""
    return f"{e}[{s * PQ_SUBDIM} + {i}]"


def _pq_dist_sql(e: str, c: str, s: int) -> str:
    return (
        f"list_reduce(list_prepend(0.0, list_transform(generate_series(1, "
        f"{PQ_SUBDIM}), i -> ({_pq_sub_sql(e, s)} - {c}[i]) * "
        f"({_pq_sub_sql(e, s)} - {c}[i]))), (acc, x) -> acc + x)"
    )


def _pq_dot_sql(e: str, c: str, s: int) -> str:
    return (
        f"list_reduce(list_prepend(0.0, list_transform(generate_series(1, "
        f"{PQ_SUBDIM}), i -> {_pq_sub_sql(e, s)} * {c}[i])), "
        "(acc, x) -> acc + x)"
    )


def _pq_ctes(
    train_where: str = "TRUE",
    q_where: str | None = None,
    pool_where: str = "TRUE",
) -> str:
    """The unrolled PQ training/encode/LUT CTE chain, parameterized by
    the TRAINING-SAMPLE predicate (``train_where`` — TRUE for the
    per-call full-corpus shape, a sampled-history predicate for the
    persisted shape), the QUERY predicate (default: the shared query
    panel, PANEL_PRED_SQL), and the SEARCH-POOL predicate
    (``pool_where`` — TRUE normally; the delete oracle excludes
    taken-down historical vec_ids from the encode, which removes them
    from the candidate/shortlist/rerank chain downstream)."""
    if q_where is None:
        q_where = PANEL_PRED_SQL
    parts = [
        """emb AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings)""",
        f"""tr AS MATERIALIZED (
  SELECT vec_id, e FROM emb WHERE {train_where})""",
    ]
    for s in range(PQ_M):
        parts.append(
            f"""pc0_{s} AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
         list_transform(generate_series(1, {PQ_SUBDIM}),
                        i -> {_pq_sub_sql('e', s)}) AS c
  FROM (SELECT vec_id, e FROM tr ORDER BY vec_id LIMIT {PQ_K}))"""
        )
        for it in range(1, PQ_ITERS + 1):
            parts.append(
                f"""pa{it}_{s} AS MATERIALIZED (
  SELECT vec_id, e, cid, dist,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
  FROM (SELECT m.vec_id, m.e, c.cid, {_pq_dist_sql('m.e', 'c.c', s)} AS dist
        FROM tr m CROSS JOIN pc{it - 1}_{s} c))"""
            )
            parts.append(
                f"""pc{it}_{s} AS MATERIALIZED (
  SELECT cid, list_transform(generate_series(1, {PQ_SUBDIM}), d ->
           list_reduce(list_prepend(0.0, list_transform(ms, e ->
             {_pq_sub_sql('e', s, 'd')})), (acc, x) -> acc + x) / n) AS c
  FROM (SELECT cid, list(e ORDER BY vec_id) AS ms, count(*) AS n
        FROM pa{it}_{s} WHERE rk = 1 GROUP BY cid))"""
            )
        parts.append(
            f"""pa{PQ_ITERS + 1}_{s} AS MATERIALIZED (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
  FROM (SELECT m.vec_id, c.cid, {_pq_dist_sql('m.e', 'c.c', s)} AS dist
        FROM emb m CROSS JOIN pc{PQ_ITERS}_{s} c
        WHERE {pool_where}))"""
        )
        parts.append(
            f"codes_{s} AS MATERIALIZED (SELECT vec_id, cid AS k{s} "
            f"FROM pa{PQ_ITERS + 1}_{s} WHERE rk = 1)"
        )
        parts.append(
            f"""nsq_{s} AS MATERIALIZED (
  SELECT cid, list_reduce(list_prepend(0.0, list_transform(c, x -> x * x)),
                          (acc, x) -> acc + x) AS w
  FROM pc{PQ_ITERS}_{s})"""
        )
    # qq must precede the query-dependent LUTs
    parts.append(
        f"qq AS MATERIALIZED (SELECT vec_id AS qid, e AS qe FROM emb WHERE {q_where})"
    )
    for s in range(PQ_M):
        parts.append(
            f"""lut_{s} AS MATERIALIZED (
  SELECT qq.qid, c.cid, {_pq_dot_sql('qq.qe', 'c.c', s)} AS v
  FROM qq CROSS JOIN pc{PQ_ITERS}_{s} c)"""
        )
    return ",\n".join(parts)


_PQ_QNORM = (
    "sqrt(list_reduce(list_prepend(0.0, list_transform(qq.qe, x -> x * x)), "
    "(acc, x) -> acc + x))"
)

_PQ_CAND_CTE = f"""cand AS (
  SELECT c0.vec_id, {", ".join(f"c{s}.k{s}" for s in range(PQ_M))}
  FROM codes_0 c0
  {" ".join(f"JOIN codes_{s} c{s} ON c{s}.vec_id = c0.vec_id" for s in range(1, PQ_M))}
)"""

_PQ_ADC_CASE = f"""round(CASE WHEN {_PQ_QNORM} > 0
                    AND ({" + ".join(f"n{s}.w" for s in range(PQ_M))}) > 0
               THEN ({" + ".join(f"l{s}.v" for s in range(PQ_M))})
                    / ({_PQ_QNORM}
                       * sqrt({" + ".join(f"n{s}.w" for s in range(PQ_M))}))
               ELSE 0.0 END, 6)"""

_PQ_LUT_NSQ_JOINS = (
    " ".join(
        f"JOIN lut_{s} l{s} ON l{s}.qid = qq.qid AND l{s}.cid = d.k{s}"
        for s in range(PQ_M)
    )
    + "\n  "
    + " ".join(f"JOIN nsq_{s} n{s} ON n{s}.cid = d.k{s}" for s in range(PQ_M))
)

def _pq_short_cte(shortlist: int) -> str:
    """ADC shortlist CTE over a ``scored`` CTE (qid, nid, pq_cos)."""
    return f"""short AS (
  SELECT qid, nid, pq_cos FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
                                 ORDER BY pq_cos DESC, nid) AS srank
    FROM scored
  ) WHERE srank <= {shortlist}
)"""


def _pq_rerank_tail(shortlist: int = PQ_SHORTLIST) -> str:
    """Shortlist + exact-rerank tail over a ``scored`` CTE."""
    return f"""{_pq_short_cte(shortlist)}
SELECT qid, nid, pq_cos, cos_sim, rank FROM (
  SELECT s.qid, s.nid, s.pq_cos,
         round({_cos_sql('q2.qe', 'm.e')}, 6) AS cos_sim,
         row_number() OVER (PARTITION BY s.qid
           ORDER BY round({_cos_sql('q2.qe', 'm.e')}, 6) DESC, s.nid
         ) AS rank
  FROM short s
  JOIN emb m ON m.vec_id = s.nid
  JOIN qq q2 ON q2.qid = s.qid
) WHERE rank <= {TOPK}
"""


_PQ_SEARCH_TAIL = f"""
{_PQ_CAND_CTE},
scored AS (
  SELECT qq.qid, d.vec_id AS nid,
         {_PQ_ADC_CASE} AS pq_cos
  FROM cand d CROSS JOIN qq
  {_PQ_LUT_NSQ_JOINS}
  WHERE d.vec_id <> qq.qid
),
{_pq_rerank_tail()}"""

SQL_ANN_PQ = f"""
WITH {_pq_ctes()},
{_PQ_SEARCH_TAIL}"""

SQL_ANN_PQ_RECALL = _ann_recall_sql(
    0,
    ctes=_pq_ctes()
    + """,
pq_cand AS (
  SELECT c0.vec_id, """
    + ", ".join(f"c{s}.k{s}" for s in range(PQ_M))
    + """
  FROM codes_0 c0
  """
    + " ".join(
        f"JOIN codes_{s} c{s} ON c{s}.vec_id = c0.vec_id" for s in range(1, PQ_M)
    )
    + f"""
),
pq_scored AS (
  SELECT qq.qid, d.vec_id AS nid,
         round(CASE WHEN {_PQ_QNORM} > 0
                    AND ({" + ".join(f"n{s}.w" for s in range(PQ_M))}) > 0
               THEN ({" + ".join(f"l{s}.v" for s in range(PQ_M))})
                    / ({_PQ_QNORM}
                       * sqrt({" + ".join(f"n{s}.w" for s in range(PQ_M))}))
               ELSE 0.0 END, 6) AS pq_cos
  FROM pq_cand d CROSS JOIN qq
  {" ".join(f"JOIN lut_{s} l{s} ON l{s}.qid = qq.qid AND l{s}.cid = d.k{s}" for s in range(PQ_M))}
  {" ".join(f"JOIN nsq_{s} n{s} ON n{s}.cid = d.k{s}" for s in range(PQ_M))}
  WHERE d.vec_id <> qq.qid
),
pq_short AS (
  SELECT qid, nid FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
                                 ORDER BY pq_cos DESC, nid) AS srank
    FROM pq_scored
  ) WHERE srank <= {PQ_SHORTLIST}
),
ivf_hits AS (
  SELECT qid, nid FROM (
    SELECT s.qid, s.nid,
           row_number() OVER (PARTITION BY s.qid
             ORDER BY round({_cos_sql('q2.qe', 'm.e')}, 6) DESC, s.nid
           ) AS rank
    FROM pq_short s
    JOIN emb m ON m.vec_id = s.nid
    JOIN qq q2 ON q2.qid = s.qid
  ) WHERE rank <= {TOPK}
)""",
)


# ------------------------------------------- persisted sample-trained PQ

PQ_SAMPLE_MOD = 4  # train codebooks on every 4th historical vector
ANN_INCR_QMOD = 10  # denser probe set: the batch is 20% of the table


def build_pq_state(
    spark: SparkSession, sf_dir: str, state_dir: str
) -> tuple[str, str, int]:
    """Materialize the persisted PQ index — the production shape of
    `q_ann_pq` (train-once memoization, the reference's model-reuse
    capability data_manager.py:981-1003 applied to the driver's vector
    mandate), mirroring `build_ivf_state`'s layout. Codebooks train
    ONCE on a fixed-RATE deterministic sample of the HISTORICAL side
    (vec_id % {PQ_SAMPLE_MOD} == 0 below the cut — at 100 TB the sample
    is the ~1000-vectors-per-centroid SCALE.md budget; here a fixed
    modulus keeps the oracle replayable); history is then encoded
    against them (map-side argmin) as (vec_id, e, codes) rows, keyed by
    vec_id, and ingested over two days by :func:`_two_day_ingest` into
    ``codes_raw``/``codes_compact`` — the vector travels WITH its code
    row, so the exact rerank never re-reads raw history (the IVF
    assignment-table precedent). The books persist as a (s, cid,
    centroid) ``books`` table: the {PQ_M}×{PQ_K}×{PQ_SUBDIM}-double
    "model" every ingest day broadcasts.

    Returns (books_dir, codes_dir, cut)."""
    emb = _pq_emb(spark, sf_dir)
    cut = _incr_cut(emb, "vec_id")
    train = emb.filter(
        (F.col("vec_id") < cut) & (F.col("vec_id") % PQ_SAMPLE_MOD == 0)
    )
    books = _pq_train_books(train)

    def encoded(ids) -> DataFrame:
        return emb.filter(ids).select("vec_id", "e", *_pq_enc_cols(books))

    books_dir = f"{state_dir}/books"
    books_df = spark.createDataFrame(
        [(s, cid, c) for s, book in enumerate(books) for cid, c in book],
        "s INT, cid INT, c ARRAY<DOUBLE>",
    )
    codes_dir = _two_day_ingest(
        spark, state_dir, cut, "vec_id", "vec_id", encoded,
        "codes_raw", "codes_compact",
        model=lambda: books_df.write.parquet(books_dir),
    )
    return books_dir, codes_dir, cut


def pq_search_against(
    spark: SparkSession, sf_dir: str, books_dir: str, codes_dir: str, cut: int
) -> DataFrame:
    """The batch phase of persisted PQ search: NO training job and no
    raw-history read anywhere in this plan — the codebooks arrive as
    {PQ_M}×{PQ_K} driver rows from the persisted model table, raw
    embeddings are scanned only for the incoming batch (vec_id >= cut,
    pushed), and history enters solely through the compacted codes
    table. ADC scans only the NARROW (vec_id, p0..) columns of that
    table (column pruning — the 8-bytes-per-vector scan that makes
    billion-vector ADC cheap); the full vectors ride the same table
    but are fetched only for shortlist rows via the broadcast rerank
    join. Queries: batch vec_id % {ANN_INCR_QMOD} == 0; neighbors may
    come from history or the batch itself."""
    books_rows = spark.read.parquet(books_dir).collect()
    books = [
        sorted((int(r["cid"]), list(r["c"])) for r in books_rows if r["s"] == s)
        for s in range(PQ_M)
    ]
    batch = _reuse(
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") >= cut)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        )
    )
    batch_codes = batch.select("vec_id", "e", *_pq_enc_cols(books))
    # NOT _reuse'd: the two consumers must column-prune INTO the codes
    # parquet — ADC reads only (vec_id, p0..) = {PQ_M} ints/vector,
    # the rerank branch only (vec_id, e); a persist barrier would read
    # the full width once and serve both from cache, which is exactly
    # backwards at 100 TB (verified: ReadSchema splits narrow/wide
    # without the barrier, full-width with it)
    pool = spark.read.parquet(codes_dir).unionByName(batch_codes)
    codes_narrow = pool.select("vec_id", *[f"p{s}" for s in range(PQ_M)])
    queries = batch.filter(F.col("vec_id") % ANN_INCR_QMOD == 0)
    q = queries.select(
        F.col("vec_id").alias("qid"),
        *_pq_lut_cols(books),
        sim_ops.norm(F.col("e")).alias("qnrm"),
    )
    qfull = queries.select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"))
    return _pq_topk(
        codes_narrow,
        q,
        qfull,
        pool.select(F.col("vec_id").alias("nid"), "e"),
        books,
    )


def q_ann_pq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ann_pq`` re-cut as daily ingest against a PERSISTED
    sample-trained index: codebooks + historical codes are built,
    merged, and compacted through the maintenance layer once, then
    the incoming batch (the top {1-INCR_SPLIT_FRAC:.0%} of vec_ids)
    is encoded and searched without ever re-training or re-reading
    historical raw embeddings — the PQ member of the
    persisted-ingest-state family (exact hash table → LSH band table
    → IVF index → PQ codes). Kills the per-call training tax
    `q_ann_pq` pays by contract (85 s of its 100× smoke).

    The index build is memoized per (session, corpus) — production
    builds an index ONCE and queries it daily, so re-paying the build
    on every call both misrepresents the probe path's cost and masks
    probe regressions under build noise (VERDICT r9 #5). The build's
    own cost is priced by its own registry entry,
    ``ann_pq_index_build`` (fresh build + hash-oracled digest)."""
    books_dir, codes_dir, cut = _pq_index(spark, sf_dir)
    return pq_search_against(spark, sf_dir, books_dir, codes_dir, cut)


SQL_ANN_PQ_PERSISTED = f"""
WITH {_cut_cte("vec_id", "embeddings", "cutt AS MATERIALIZED")},
{_pq_ctes(
    train_where=(
        f"vec_id % {PQ_SAMPLE_MOD} = 0 AND vec_id < (SELECT c FROM cutt)"
    ),
    q_where=(
        f"vec_id % {ANN_INCR_QMOD} = 0 AND vec_id >= (SELECT c FROM cutt)"
    ),
)},
{_PQ_SEARCH_TAIL}"""


def q_ann_pq_persisted_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ann_pq_persisted`` probed AFTER a vec-id takedown on the
    persisted codes table — the last member of the deletion family
    (exact hash → LSH bands → substring windows → IVF assignments →
    PQ codes): tombstoned vectors contribute no code rows, so ADC
    never scores them and the shortlist fills from survivors. Probe
    path byte-identical to the non-deleted entry; the delete lives in
    the folded codes state."""
    books_dir, codes_dir, cut = _pq_index_del(spark, sf_dir)
    return pq_search_against(spark, sf_dir, books_dir, codes_dir, cut)


SQL_ANN_PQ_PERSISTED_DELETE = f"""
WITH {_cut_cte("vec_id", "embeddings", "cutt AS MATERIALIZED")},
{_pq_ctes(
    train_where=(
        f"vec_id % {PQ_SAMPLE_MOD} = 0 AND vec_id < (SELECT c FROM cutt)"
    ),
    q_where=(
        f"vec_id % {ANN_INCR_QMOD} = 0 AND vec_id >= (SELECT c FROM cutt)"
    ),
    pool_where=(
        f"NOT (m.vec_id < (SELECT c FROM cutt)"
        f" AND m.vec_id % {TAKEDOWN_MOD} = 0)"
    ),
)},
{_PQ_SEARCH_TAIL}"""


def q_ann_pq_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted PQ index BUILD as its own priced, hash-oracled
    entry (VERDICT r9 #5: split build from probe so the probe path's
    true cost is visible and regressions in either aren't masked by
    the other). Runs the REAL maintenance-layer build fresh
    (codebook Lloyd training on the sampled history, day-0 write,
    day-1 merge_upsert, compaction) into a build-scoped scratch dir,
    then reads back the PERSISTED artifacts and digests them: one row
    per (subspace, codeword position) with the historical member
    count, centroid L2 norm, and first centroid component. Positions
    (1-based, cid-sorted) rather than raw cids keep the digest
    surviving-set-aligned with the oracle even if Lloyd ever empties
    a cluster. A green hash certifies the trained codebooks AND the
    merged+compacted code table byte-for-byte at round-6 — the full
    build output, not just the search that consumes it."""
    state = _build_scratch("zspark_pq_build_", sf_dir)
    books_dir, codes_dir, _cut = build_pq_state(spark, sf_dir, state)
    wpos = Window.partitionBy("s").orderBy("cid")
    bk = (
        spark.read.parquet(books_dir)
        .withColumn("pos", F.row_number().over(wpos))
        .select(
            "s",
            "pos",
            F.round(
                F.sqrt(
                    F.aggregate(
                        F.transform("c", lambda x: x * x),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                ),
                6,
            ).alias("c_norm"),
            F.round(F.element_at("c", 1), 6).alias("c_first"),
        )
    )
    cnt = (
        spark.read.parquet(codes_dir)
        .select(
            F.posexplode(
                F.array(*[F.col(f"p{s}") for s in range(PQ_M)])
            ).alias("s", "pos")
        )
        .groupBy("s", "pos")
        .agg(F.count(F.lit(1)).alias("n_hist"))
    )
    return bk.join(cnt, ["s", "pos"], "left").select(
        "s",
        "pos",
        F.coalesce("n_hist", F.lit(0)).cast("bigint").alias("n_hist"),
        "c_norm",
        "c_first",
    )


def _pq_build_digest_sql() -> str:
    norm = (
        "round(sqrt(list_reduce(list_prepend(0.0, "
        "list_transform(c, x -> x * x)), (acc, x) -> acc + x)), 6)"
    )
    bdig = "\nUNION ALL\n".join(
        f"SELECT {s} AS s, CAST(row_number() OVER (ORDER BY cid) AS INT)"
        f" AS pos, {norm} AS c_norm, round(c[1], 6) AS c_first"
        f" FROM pc{PQ_ITERS}_{s}"
        for s in range(PQ_M)
    )
    hist = "\nUNION ALL\n".join(
        f"SELECT {s} AS s, b.pos, cs.vec_id FROM codes_{s} cs"
        f" JOIN (SELECT cid, CAST(row_number() OVER (ORDER BY cid) AS INT)"
        f" AS pos FROM pc{PQ_ITERS}_{s}) b ON b.cid = cs.k{s}"
        f" WHERE cs.vec_id < (SELECT c FROM cutt)"
        for s in range(PQ_M)
    )
    return f"""
WITH {_cut_cte("vec_id", "embeddings", "cutt AS MATERIALIZED")},
{_pq_ctes(
    train_where=(
        f"vec_id % {PQ_SAMPLE_MOD} = 0 AND vec_id < (SELECT c FROM cutt)"
    ),
    q_where="FALSE",
)},
bdig AS ({bdig}),
hist AS ({hist}),
hcnt AS (SELECT s, pos, count(*) AS n_hist FROM hist GROUP BY 1, 2)
SELECT d.s, d.pos, coalesce(h.n_hist, 0) AS n_hist, d.c_norm, d.c_first
FROM bdig d LEFT JOIN hcnt h ON h.s = d.s AND h.pos = d.pos
"""


SQL_ANN_PQ_INDEX_BUILD = _pq_build_digest_sql()


# ------------------------------------------------------- IVFADC (IVF × PQ)

IVFPQ_NPROBE = 8  # cells probed per query (recall ceiling = the probe's)
# in-probe ADC shortlist: 2× the full-scan PQ's — the probe restriction
# cuts which candidates exist, so the shortlist must keep a larger
# share of them for the exact rerank to see the survivors. MEASURED
# grid at sf0.01 (nprobe × shortlist → mean recall@5): (8,50) 0.60,
# (8,100) 0.76, (8,150) 0.76, (12,50) 0.68, (12,100) 0.76, (12,150)
# 0.84. Operating point (8,100): recall@5 = 0.76 — EQUAL to the
# full-ADC ann_pq — at 52% of its ADC pair count (1303 vs 2495 pairs
# on the panel); the wider shortlist costs 100-vs-50 rerank rows per
# query, not pair scans.
IVFPQ_SHORTLIST = 2 * PQ_SHORTLIST


def q_ann_ivfpq(
    spark: SparkSession, sf_dir: str, nprobe: int = IVFPQ_NPROBE
) -> DataFrame:
    """IVFADC (Jégou et al.'s actual recipe): coarse-quantize every
    vector to its IVF cell, ADC-score ONLY the probed cells' members
    per query (equi-join on cell — the probe restriction composes
    with PQ's cheap per-pair cost), then exact-rerank the ADC
    shortlist. `ann_pq` scans every candidate with cheap pairs;
    `ann_ivf` scans few candidates with full-width pairs; this does
    BOTH — the shape a billion-vector store actually runs.

    Encoding choice (documented): codes quantize the RAW subvectors,
    not the per-cell residuals — residual PQ needs the coarse
    centroid subtracted before encoding (and per-cell or shared
    residual codebooks); raw-subvector PQ shares one codebook set
    with `ann_pq`, keeps the oracle chain identical, and its recall
    is MEASURED on the same panel (`ann_ivfpq_recall`) so the
    operating point is priced, not assumed. nprobe={IVFPQ_NPROBE} of
    {NLIST} cells: the probed-candidate ceiling on this corpus's
    probe curve (0.24/0.32/0.48/0.76 at 1/2/4/8) matches PQ+rerank's
    0.76 — at production NLIST≈√N the same nprobe probes a ~1000×
    smaller corpus fraction.

    Scale shape: one broadcast of nlist·dim floats for assignment,
    codes ride their cell rows (the pair join shuffles nothing bigger
    than its cell), the LUT panel broadcasts, and full vectors are
    fetched only for shortlist rows."""
    emb, books = _pq_train(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", sim_ops.norm(F.col("embedding")).alias("nrm")
    )
    # the IVF assignment is the SHARED ARM of this query: both the
    # member-cell branch (crank == 1) and the query-probe branch
    # (crank <= nprobe) consume it, and without a reuse barrier the
    # physical plan computed the whole crossJoin+window subtree TWICE,
    # each with its own embeddings scan (r13 before-plan: two
    # identical BroadcastNestedLoopJoin+Window subtrees). A lazy
    # localCheckpoint makes it compute once (guide §2.4) — values
    # unchanged. localCheckpoint, NOT persist: a persisted
    # (parquet ⋈ literal-centroids) plan is canonically identical
    # across calls, so CacheManager would silently substitute one
    # bench sample's cache into the next — per-call accounting must
    # stay fresh. The projected frame is 3 narrow columns per vector.
    ranked = (
        sim_ops.ivf_cell_ranks(e, _ivf_cents(e, ("full", sf_dir)))
        .select("vec_id", "cell", "crank")
        .localCheckpoint(eager=False)
    )
    v_cells = ranked.filter(F.col("crank") == 1).select("vec_id", "cell")
    codes = _reuse(
        emb.select("vec_id", *_pq_enc_cols(books)).join(v_cells, "vec_id")
    )
    q_probe = ranked.filter(
        (_panel_pred()) & (F.col("crank") <= nprobe)
    ).select(F.col("vec_id").alias("qid"), "cell")
    queries = emb.filter(_panel_pred())
    q = queries.select(
        F.col("vec_id").alias("qid"),
        *_pq_lut_cols(books),
        sim_ops.norm(F.col("e")).alias("qnrm"),
    ).join(q_probe, "qid")
    qfull = queries.select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"))
    return _pq_topk(
        codes,
        q,
        qfull,
        emb.select(F.col("vec_id").alias("nid"), "e"),
        books,
        shortlist=IVFPQ_SHORTLIST,
    )


def q_ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOPK} of the IVFADC path against the exact brute-force
    baseline — the composed member of the recall-panel family. Read
    against `ann_pq_recall` (same codebooks, full ADC scan) it prices
    the probe restriction; against `ann_ivf_recall_probe4` it prices
    what ADC+rerank recovers inside wider probes."""
    return _recall_vs_exact(spark, sf_dir, q_ann_ivfpq(spark, sf_dir))


def _ivfpq_scored_cte(nprobe: int) -> str:
    """The ADC `scored` CTE with the IVF probe restriction: candidates
    reach the LUT lookups only through their cell's membership in the
    query's probe set."""
    return f"""scored AS (
  SELECT qq.qid, d.vec_id AS nid,
         {_PQ_ADC_CASE} AS pq_cos
  FROM cand d
  JOIN v_cells vc ON vc.vec_id = d.vec_id
  JOIN q_cells qc ON qc.cell = vc.cell
  JOIN qq ON qq.qid = qc.qid
  {_PQ_LUT_NSQ_JOINS}
  WHERE d.vec_id <> qq.qid
)"""


SQL_ANN_IVFPQ = f"""
WITH {_ann_ivf_base_ctes(IVFPQ_NPROBE)},
{_pq_ctes()},
{_PQ_CAND_CTE},
{_ivfpq_scored_cte(IVFPQ_NPROBE)},
{_pq_rerank_tail(IVFPQ_SHORTLIST)}"""

SQL_ANN_IVFPQ_RECALL = _ann_recall_sql(
    0,
    ctes=f"""{_ann_ivf_base_ctes(IVFPQ_NPROBE)},
{_pq_ctes()},
{_PQ_CAND_CTE},
{_ivfpq_scored_cte(IVFPQ_NPROBE)},
{_pq_short_cte(IVFPQ_SHORTLIST)},
ivf_hits AS (
  SELECT qid, nid FROM (
    SELECT s.qid, s.nid,
           row_number() OVER (PARTITION BY s.qid
             ORDER BY round({_cos_sql('q2.qe', 'm.e')}, 6) DESC, s.nid
           ) AS rank
    FROM short s
    JOIN emb m ON m.vec_id = s.nid
    JOIN qq q2 ON q2.qid = s.qid
  ) WHERE rank <= {TOPK}
)""",
)


# ----------------------------------------------------- IVF × SQ8 ANN

IVFSQ_NPROBE = IVFPQ_NPROBE  # same probe width → directly comparable


def q_ann_ivfsq(
    spark: SparkSession, sf_dir: str, nprobe: int = IVFSQ_NPROBE
) -> DataFrame:
    """IVF probe × SQ8 codes — the quantization matrix's other
    composition next to IVFADC: coarse-quantize to cells, score ONLY
    the probed cells' members against the 1-byte/dim decoded
    candidates, exact-rerank the shortlist. Against `ann_ivfpq` at
    the same probe width this is the memory/compute dial: SQ8 pairs
    cost full {EMB_DIM} ops on a 4×-smaller candidate table (and
    need NO codebook training — the model is 2·{EMB_DIM} doubles),
    PQ pairs cost {PQ_M} LUT adds on a 32×-smaller one. Because
    SQ8+rerank measured LOSSLESS on the full scan (`ann_sq8_recall`
    = 1.00), this path's recall equals the probe ceiling itself
    (measured 0.76 at nprobe={IVFSQ_NPROBE} — `ann_ivfsq_recall` vs
    `ann_ivf_recall_probe4`'s curve), i.e. the probe restriction is
    the ONLY loss, priced separately from quantization.

    Scale shape: one nlist·dim broadcast for assignment, the decoded
    candidates ride their cell rows behind the shared `_reuse`
    barrier, the pair join is an equi-join on cell against the
    broadcast probe panel, and full vectors are fetched only for
    ≤{SQ_SHORTLIST} shortlist rows per query."""
    e = load_table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    en = e.select(
        "vec_id", "embedding", sim_ops.norm(F.col("embedding")).alias("nrm")
    )
    ranked = sim_ops.ivf_cell_ranks(en, _ivf_cents(en, ("full", sf_dir)))
    v_cells = ranked.filter(F.col("crank") == 1).select("vec_id", "cell")
    coded = _sq8_coded(e).join(v_cells, "vec_id")
    q = (
        en.filter(_panel_pred())
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qe"),
            F.col("nrm").alias("qnrm"),
        )
        .join(
            ranked.filter(
                (_panel_pred()) & (F.col("crank") <= nprobe)
            ).select(F.col("vec_id").alias("qid"), "cell"),
            "qid",
        )
    )
    pairs = coded.join(F.broadcast(q), "cell").filter(
        F.col("vec_id") != F.col("qid")
    )
    scored = pairs.select(
        "qid",
        F.col("vec_id").alias("nid"),
        F.round(
            sim_ops.cosine_with_norms(
                F.col("qe"), F.col("dqe"), F.col("qnrm"), F.col("dnrm")
            ),
            6,
        ).alias("sq_cos"),
    )
    return _sq8_rerank(e, scored)


def q_ann_ivfsq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOPK} of the IVF×SQ8 path against the exact baseline.
    Read against `ann_ivfpq_recall` (same probe width): any gap
    between the two is pure quantization loss PQ's rerank failed to
    recover, and any gap to the plain probe curve is zero by the
    SQ8-lossless measurement."""
    return _recall_vs_exact(spark, sf_dir, q_ann_ivfsq(spark, sf_dir))


def _ivfsq_tail_ctes() -> str:
    """Probe-restricted SQ8 chain ending in ivfsq_rer — composes the IVF
    base CTEs (v_cells/q_cells) with the SQ8 decode CTEs (dq/sq_q)."""
    return f"""ivfsq_scored AS (
  SELECT qc.qid, d.vec_id AS nid,
         round({_cos_sql('qc.qe', 'd.dqe')}, 6) AS sq_cos
  FROM dq d
  JOIN v_cells vc ON vc.vec_id = d.vec_id
  JOIN q_cells qc ON qc.cell = vc.cell
  WHERE d.vec_id <> qc.qid
),
ivfsq_short AS (
  SELECT qid, nid, sq_cos FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
                                 ORDER BY sq_cos DESC, nid) AS srank
    FROM ivfsq_scored
  ) WHERE srank <= {SQ_SHORTLIST}
),
ivfsq_rer AS (
  SELECT s.qid, s.nid, s.sq_cos,
         round({_cos_sql('q2.qe', 'e.embedding')}, 6) AS cos_sim
  FROM ivfsq_short s
  JOIN embeddings e ON e.vec_id = s.nid
  JOIN sq_q q2 ON q2.qid = s.qid
)"""


SQL_ANN_IVFSQ = f"""
WITH {_ann_ivf_base_ctes(IVFSQ_NPROBE)},
{_SQ8_BASE_CTES},
{_ivfsq_tail_ctes()}
SELECT qid, nid, sq_cos, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY cos_sim DESC, nid) AS rank
  FROM ivfsq_rer
) WHERE rank <= {TOPK}
"""

SQL_ANN_IVFSQ_RECALL = _ann_recall_sql(
    0,
    ctes=f"""{_ann_ivf_base_ctes(IVFSQ_NPROBE)},
{_SQ8_BASE_CTES},
{_ivfsq_tail_ctes()},
ivf_hits AS (
  SELECT qid, nid FROM (
    SELECT qid, nid, row_number() OVER (PARTITION BY qid
                                        ORDER BY cos_sim DESC, nid) AS rank
    FROM ivfsq_rer
  ) WHERE rank <= {TOPK}
)""",
)


MMR_POOL = 10  # candidate pool per query (relevance top-N)
MMR_K = 4  # diversified picks per query
MMR_LAMBDA = 0.7  # relevance weight; (1-λ) penalizes similarity to picks


def _mmr_kernel(pdf):
    """The per-query MMR greedy walk, pure pandas — one group is one
    query's ≤{MMR_POOL}-row candidate pool, so the whole {MMR_K}-round
    trajectory is model-sized in-memory work. Arithmetic is spelled to
    match the oracle's unrolled CTEs bit-for-bit: sequential left-fold
    dot over double-cast floats (the F.aggregate/zip_with order),
    round-6 HALF_UP cosines and micro-unit HALF_UP quantization via
    Decimal-repr (== Spark's BigDecimal.valueOf on the shortest double
    repr — the lstm_bptt_micro discipline), zero-norm guard → 0.0,
    (score desc, nid asc) tie-break, identical double association:
    round 1 is (1e6·λ)·rel, later rounds 1e6·((λ·rel) − (1−λ)·msim)
    with 1−λ evaluated in-driver exactly as F.lit(1.0 - MMR_LAMBDA)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    lam = MMR_LAMBDA
    inv = 1.0 - MMR_LAMBDA
    q6 = Decimal("0.000001")
    q0 = Decimal("1")

    def rnd6(x: float) -> float:
        return float(Decimal(repr(x)).quantize(q6, rounding=ROUND_HALF_UP))

    def micro(x: float) -> int:
        return int(Decimal(repr(x)).quantize(q0, rounding=ROUND_HALF_UP))

    nids = pdf["nid"].tolist()
    rels = dict(zip(nids, (float(r) for r in pdf["rel"])))
    embs = {
        n: [float(x) for x in e] for n, e in zip(nids, pdf["embedding"])
    }

    def fold_dot(a: list, b: list) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    nrm = {n: math.sqrt(fold_dot(e, e)) for n, e in embs.items()}

    def cos6(a: int, b: int) -> float:
        na, nb = nrm[a], nrm[b]
        if na > 0 and nb > 0:
            return rnd6(fold_dot(embs[a], embs[b]) / (na * nb))
        return 0.0

    qid = int(pdf["qid"].iloc[0])
    picked: list[tuple] = []  # (qid, k, nid, mmr_micro)
    remaining = sorted(nids)
    for r in range(1, MMR_K + 1):
        if not remaining:
            break
        best = None
        for n in remaining:
            if r == 1:
                score = micro((1e6 * lam) * rels[n])
            else:
                msim = max(cos6(n, p[2]) for p in picked)
                score = micro(1e6 * ((lam * rels[n]) - (inv * msim)))
            if best is None or (score, -n) > (best[1], -best[0]):
                best = (n, score)
        picked.append((qid, r, best[0], best[1]))
        remaining.remove(best[0])
    return pd.DataFrame(picked, columns=["qid", "k", "nid", "mmr_micro"])


def _mmr_greedy(pool: DataFrame) -> DataFrame:
    """THE shared MMR greedy, as ONE applyInPandas stage over the
    (qid, nid, embedding, rel) candidate pool: every pick is
    per-query, the pool is ≤{MMR_POOL} rows per query, so the whole
    {MMR_K}-round trajectory is a model-sized in-memory walk per
    group (`_mmr_kernel`) — Arrow-batched, cost scales with
    queries × pool × {MMR_K}, never with corpus size. Replaces the
    r9-r11 {MMR_K}-round unrolled join DAG (VERDICT r11 #2: each round
    was a join + groupBy + window + persist = the registry's most
    scheduler-round-trip-intensive shape and its worst host-jitter
    amplifier — driver medians spread 8-19 s on identical code); one
    stage has nothing to amplify. Both the brute-pool (q_mmr_rerank)
    and ANN-pool (q_mmr_rerank_ann) variants run exactly this kernel —
    the MMR stage is source-agnostic by construction, not by
    docstring. Every greedy DECISION stays hash-checked by the
    unrolled-CTE oracle (_mmr_rounds_sql), which is unchanged."""
    return pool.groupBy("qid").applyInPandas(
        _mmr_kernel, "qid long, k int, nid long, mmr_micro long"
    )


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein):
    from each query's relevance top-{MMR_POOL} pool, greedily pick
    {MMR_K} results maximizing λ·rel − (1−λ)·max-sim-to-already-picked
    — the standard diversity pass retrieval stacks run AFTER ANN.
    Scores are micro-unit integers (round-6 cosines in, one quantize
    out) with (score desc, nid) tie-break, so the greedy trajectory is
    deterministic on both engines; the oracle unrolls each pick as a
    CTE (the k-center protocol), hash-checking every DECISION, not
    just the final set.

    The pool here is the brute-force exact top-{MMR_POOL} (the recall
    ceiling); q_mmr_rerank_ann runs the SAME greedy over an ANN
    shortlist pool, and q_mmr_ann_overlap measures the pick agreement
    between the two. Scale shape: see _mmr_greedy — the corpus is
    touched only by the one pool scan."""
    return _mmr_greedy(_mmr_pool_brute(_mmr_embeddings(spark, sf_dir)))


def _mmr_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE persisted embeddings scan every MMR pool builder
    consumes (VERDICT r9 #4): each arm reads it 2-3 times (probe side
    + broadcast query side + rerank re-fetch) and the overlap audit
    composes BOTH arms — without the barrier the parquet scan and the
    repartition exchange re-run once per consumer."""
    return _reuse(
        load_table(spark, sf_dir, "embeddings").repartition(
            spark.sparkContext.defaultParallelism
        )
    )


def _mmr_pool_brute(e: DataFrame) -> DataFrame:
    """Brute-force exact top-{MMR_POOL} relevance pool per query over
    a (shared, persisted) embeddings frame — the recall ceiling."""
    q = e.filter(_panel_pred()).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            "embedding",
            F.round(
                sim_ops.cosine(F.col("qe"), F.col("embedding")), 6
            ).alias("rel"),
        )
    )
    wr = Window.partitionBy("qid").orderBy(F.col("rel").desc(), "nid")
    return _reuse(
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= MMR_POOL)
        .drop("rn")
    )


def q_mmr_rerank_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR over an ANN pool — the composition a 100 TB retrieval stack
    actually runs: the candidate pool is the random-projection
    shortlist + exact rerank of q_ann_rp (the family's measured-best
    cheap path: recall@5 0.68 at half the brute per-pair cost), cut to
    the top-{MMR_POOL} by exact cosine, then diversified by the SAME
    _mmr_greedy DAG as q_mmr_rerank. Proves the "source-agnostic"
    claim executably: only the pool construction differs; every greedy
    decision is still hash-checked by the unrolled-CTE oracle.

    Scale shape inherits both components' recorded rules: narrow
    (qid, nid, score) shortlist rows with a broadcast-hash-join vector
    re-fetch (the ann_rp 55.7→20.1 s lesson), then greedy rounds that
    cost queries × pool, never corpus."""
    return _mmr_greedy(_mmr_pool_ann(_mmr_embeddings(spark, sf_dir)))


def _mmr_pool_ann(e: DataFrame) -> DataFrame:
    """RP-shortlist + exact-rerank top-{MMR_POOL} pool per query over
    a (shared, persisted) embeddings frame — the cheap scale path."""
    red = _reuse(
        e.select(
            "vec_id",
            sim_ops.rp_project(F.col("embedding"), EMB_DIM).alias("rp"),
        ).withColumn("rnrm", sim_ops.norm(F.col("rp")))
    )
    q = red.filter(_panel_pred()).select(
        F.col("vec_id").alias("qid"),
        F.col("rp").alias("qrp"),
        F.col("rnrm").alias("qrnrm"),
    )
    scored = red.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid",
        F.col("vec_id").alias("nid"),
        F.round(
            sim_ops.cosine_with_norms(
                F.col("qrp"), F.col("rp"), F.col("qrnrm"), F.col("rnrm")
            ),
            6,
        ).alias("rp_cos"),
    )
    ws = Window.partitionBy("qid").orderBy(F.col("rp_cos").desc(), "nid")
    short = (
        scored.withColumn("srank", F.row_number().over(ws))
        .filter(F.col("srank") <= RP_SHORTLIST)
        .select("qid", "nid")
    )
    qfull = e.filter(_panel_pred()).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    rer = (
        e.select(F.col("vec_id").alias("nid"), "embedding")
        .join(F.broadcast(short), "nid")
        .join(F.broadcast(qfull), "qid")
        .select(
            "qid",
            "nid",
            "embedding",
            F.round(
                sim_ops.cosine(F.col("qe"), F.col("embedding")), 6
            ).alias("rel"),
        )
    )
    wp = Window.partitionBy("qid").orderBy(F.col("rel").desc(), "nid")
    return _reuse(
        rer.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= MMR_POOL)
        .drop("rn")
    )


def q_mmr_ann_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pick agreement between brute-pool MMR and ANN-pool MMR, per
    query: n_overlap of the {MMR_K} diversified picks plus the
    micro-unit overlap ratio — the executable recall row for the
    mmr_rerank_ann composition (the ann_*_recall panel protocol,
    applied to the diversified FINAL picks rather than the raw
    shortlist, because MMR can legitimately diverge once one pool
    misses a pick that then changes the similarity penalty of every
    later round).

    Both arms are built over ONE shared persisted embeddings scan
    (_mmr_embeddings — VERDICT r9 #4: previously each arm re-read and
    re-repartitioned the parquet independently, ~5 redundant scans in
    the composed audit)."""
    e = _mmr_embeddings(spark, sf_dir)
    b = _mmr_greedy(_mmr_pool_brute(e)).select("qid", "nid")
    a = _mmr_greedy(_mmr_pool_ann(e)).select("qid", "nid")
    common = (
        b.join(a, ["qid", "nid"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    novl = F.coalesce(F.col("n_common"), F.lit(0)).cast("bigint")
    return (
        b.groupBy("qid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("k_picks"))
        .join(common, "qid", "left")
        .select(
            "qid",
            "k_picks",
            novl.alias("n_overlap"),
            F.round(F.lit(1e6) * novl / F.lit(MMR_K))
            .cast("bigint")
            .alias("overlap_micro"),
        )
    )


def _mmr_pool_brute_sql(p: str = "") -> list[str]:
    """CTE parts building ``{p}pool`` (qid, nid, embedding, rel) as
    the brute-force exact top-{MMR_POOL} per query."""
    return [
        f"""{p}qq AS (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE {PANEL_PRED_SQL}
),
{p}pool AS MATERIALIZED (
  SELECT qid, nid, embedding, rel FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
                                 ORDER BY rel DESC, nid) AS rn
    FROM (
      SELECT {p}qq.qid, e.vec_id AS nid, e.embedding,
             round({_cos_sql(f'{p}qq.qe', 'e.embedding')}, 6) AS rel
      FROM embeddings e CROSS JOIN {p}qq WHERE e.vec_id <> {p}qq.qid
    )
  ) WHERE rn <= {MMR_POOL}
)"""
    ]


def _mmr_pool_rp_sql(p: str = "") -> list[str]:
    """CTE parts building ``{p}pool`` from the q_ann_rp shortlist:
    reduced-cosine top-{RP_SHORTLIST}, exact-rerank, top-{MMR_POOL}.
    MATERIALIZED throughout — the 32-expression projection re-inlines
    exponentially otherwise (the PQ-oracle lesson)."""
    return [
        f"""{p}red AS MATERIALIZED (
  SELECT vec_id, embedding, {_rp_sql('embedding')} AS rp FROM embeddings
),
{p}q AS (
  SELECT vec_id AS qid, embedding AS qe, rp AS qrp
  FROM {p}red WHERE {PANEL_PRED_SQL}
),
{p}short AS MATERIALIZED (
  SELECT qid, nid, embedding, qe FROM (
    SELECT q.qid, r.vec_id AS nid, r.embedding, q.qe,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY round({_cos_sql('q.qrp', 'r.rp', sim_ops.RP_DIM)}, 6)
                      DESC, r.vec_id) AS srank
    FROM {p}red r CROSS JOIN {p}q q WHERE r.vec_id <> q.qid
  ) WHERE srank <= {RP_SHORTLIST}
),
{p}pool AS MATERIALIZED (
  SELECT qid, nid, embedding, rel FROM (
    SELECT qid, nid, embedding, rel,
           row_number() OVER (PARTITION BY qid
                              ORDER BY rel DESC, nid) AS rn
    FROM (
      SELECT qid, nid, embedding,
             round({_cos_sql('qe', 'embedding')}, 6) AS rel
      FROM {p}short
    )
  ) WHERE rn <= {MMR_POOL}
)"""
    ]


def _mmr_rounds_sql(p: str = "") -> list[str]:
    """The unrolled greedy rounds over ``{p}pool``, ending in
    ``{p}picks`` (qid, k, nid, mmr_micro) — the SQL twin of
    _mmr_greedy, shared by every MMR oracle."""
    lam, inv = MMR_LAMBDA, 1.0 - MMR_LAMBDA
    parts = [
        f"""{p}s1 AS (
  SELECT qid, nid, embedding, mmr_micro, 1 AS k FROM (
    SELECT qid, nid, embedding,
           CAST(round(1e6 * {lam} * rel) AS BIGINT) AS mmr_micro,
           row_number() OVER (PARTITION BY qid
             ORDER BY CAST(round(1e6 * {lam} * rel) AS BIGINT) DESC, nid
           ) AS rn
    FROM {p}pool
  ) WHERE rn = 1
),
{p}a1 AS (SELECT * FROM {p}s1)"""
    ]
    for r in range(2, MMR_K + 1):
        parts.append(
            f"""{p}m{r} AS (
  SELECT p.qid, p.nid,
         max(round({_cos_sql('p.embedding', 's.embedding')}, 6)) AS msim
  FROM {p}pool p JOIN {p}a{r - 1} s ON s.qid = p.qid
  GROUP BY p.qid, p.nid
),
{p}s{r} AS (
  SELECT qid, nid, embedding, mmr_micro, {r} AS k FROM (
    SELECT p.qid, p.nid, p.embedding,
           CAST(round(1e6 * ({lam} * p.rel - {inv} * m.msim)) AS BIGINT)
             AS mmr_micro,
           row_number() OVER (PARTITION BY p.qid
             ORDER BY CAST(round(1e6 * ({lam} * p.rel - {inv} * m.msim))
                           AS BIGINT) DESC, p.nid
           ) AS rn
    FROM {p}pool p JOIN {p}m{r} m ON p.qid = m.qid AND p.nid = m.nid
    WHERE NOT EXISTS (
      SELECT 1 FROM {p}a{r - 1} x WHERE x.qid = p.qid AND x.nid = p.nid
    )
  ) WHERE rn = 1
),
{p}a{r} AS (SELECT * FROM {p}a{r - 1} UNION ALL SELECT * FROM {p}s{r})"""
        )
    union = "\n  UNION ALL\n  ".join(
        f"SELECT qid, CAST(k AS INT) AS k, nid, mmr_micro FROM {p}s{r}"
        for r in range(1, MMR_K + 1)
    )
    parts.append(f"{p}picks AS (\n  {union}\n)")
    return parts


SQL_MMR_RERANK = (
    "WITH "
    + ",\n".join(_mmr_pool_brute_sql() + _mmr_rounds_sql())
    + "\nSELECT qid, k, nid, mmr_micro FROM picks"
)

SQL_MMR_RERANK_ANN = (
    "WITH "
    + ",\n".join(_mmr_pool_rp_sql() + _mmr_rounds_sql())
    + "\nSELECT qid, k, nid, mmr_micro FROM picks"
)

SQL_MMR_ANN_OVERLAP = (
    "WITH "
    + ",\n".join(
        _mmr_pool_brute_sql("b_")
        + _mmr_rounds_sql("b_")
        + _mmr_pool_rp_sql("n_")
        + _mmr_rounds_sql("n_")
    )
    + f""",
common AS (
  SELECT b.qid, count(*) AS n_common
  FROM b_picks b JOIN n_picks n ON n.qid = b.qid AND n.nid = b.nid
  GROUP BY b.qid
),
base AS (
  SELECT qid, CAST(count(*) AS BIGINT) AS k_picks FROM b_picks GROUP BY qid
)
SELECT base.qid, base.k_picks,
       CAST(coalesce(c.n_common, 0) AS BIGINT) AS n_overlap,
       CAST(round(1e6 * coalesce(c.n_common, 0) / {MMR_K}) AS BIGINT)
         AS overlap_micro
FROM base LEFT JOIN common c ON c.qid = base.qid"""
)


ANN_MAX_CELL = 32  # cells above this are LSH-sub-sliced before probing
ANN_SLICE_BITS = 2  # 4 sub-slices per hot cell


def q_ann_ivf_bounded(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int = NPROBE,
    max_cell: int = ANN_MAX_CELL,
    slice_bits: int = ANN_SLICE_BITS,
    cell_cap: int | None = None,
) -> DataFrame:
    """IVF probe with BOUNDED cells — the hot-partition guard for
    clustered embedding corpora (real embeddings cluster; one hot
    cell degenerates per-cell brute force back toward full brute
    force). Cells above {ANN_MAX_CELL} rows are split into
    2^{ANN_SLICE_BITS} hyperplane-LSH sub-slices via the SAME
    ``hot_block_slice`` rule that bounds ``embedding_neardup`` and
    ``semantic_dedup`` blocks — one spelling of the blocking rule
    across the engine. Both probe sides compute hotness from the
    CANDIDATE side's cell sizes (a broadcast #cells-row frame), so
    the pair join stays a pure equi-join on (cell, sub) and a hot
    cell's pair mass drops ~4× per extra slice bit. The recall cost
    on hot cells is the standard LSH-banding trade —
    ``ann_ivf_bounded_recall`` vs ``ann_ivf_recall`` measures it.

    The slice bounds WIDE hot cells (diverse vectors); it cannot
    split a DEGENERATE tight cluster — near-identical vectors share
    hyperplane signs by construction (sign-agreement ∝ 1 − θ/π, the
    very property that makes the slice right for near-dup grouping),
    so a 100× exact-ish flood keeps its pair mass (measured:
    SCALE.md "IVF hot-cell flood"). ``cell_cap`` is the guard for
    that regime — IVF list truncation, the vector twin of the
    near-dup ``hist_cap``: keep only the ``cell_cap`` smallest-id
    candidates per (cell, sub) block (one window over the vector
    table, never the pair stream). In a tight flood the retained
    candidates score ≈ identically to the dropped ones, so top-k
    QUALITY survives while pair mass drops to queries × cap; on cold
    blocks a cap ≥ block size is a no-op. Off by default (the suite
    oracle checks the uncapped semantics)."""
    ranked, counts, vb = bounded_cell_blocks(
        spark, sf_dir, max_cell=max_cell, slice_bits=slice_bits
    )
    vb = vb.drop("cell_n")
    if cell_cap is not None:
        wcap = Window.partitionBy("cell", "sub").orderBy("vec_id")
        vb = (
            vb.withColumn("__rn", F.row_number().over(wcap))
            .filter(F.col("__rn") <= cell_cap)
            .drop("__rn")
        )
    q_cells = ranked.filter(
        (_panel_pred()) & (F.col("crank") <= nprobe)
    ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
        "cell",
    )
    # the query side slices by the CANDIDATE side's cell sizes — both
    # sides must agree on which cells are hot
    qb = sim_ops.hot_block_slice(
        q_cells, "cell", "qe", EMB_DIM, max_cell, slice_bits,
        counts=counts,
    )
    return _ivf_probe_topk(vb, qb)


def bounded_cell_blocks(
    spark: SparkSession,
    sf_dir: str,
    max_cell: int = ANN_MAX_CELL,
    slice_bits: int = ANN_SLICE_BITS,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The bounded probe's candidate-side pipeline, exposed so the
    bounding tests audit the PRODUCTION frames rather than a
    re-spelling: returns (ranked, counts, vb) where ``ranked`` is the
    per-vector cell ranking, ``counts`` the (cell, __block_n) hotness
    frame both join sides slice by, and ``vb`` the blocked candidates
    with ``cell_n`` retained for auditing."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", sim_ops.norm(F.col("embedding")).alias("nrm")
    )
    ranked = _ivf_assign(e, _ivf_cents(e, ("full", sf_dir)))
    v_cells = ranked.filter(F.col("crank") == 1).select(
        "vec_id", "embedding", "nrm", "cell"
    )
    counts = v_cells.groupBy("cell").agg(
        F.count(F.lit(1)).alias("__block_n")
    )
    vb = sim_ops.hot_block_slice(
        v_cells, "cell", "embedding", EMB_DIM, max_cell, slice_bits,
        count_col="cell_n", counts=counts,
    )
    return ranked, counts, vb


def q_ann_ivf_bounded_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall panel over the bounded probe: this row set vs
    ``ann_ivf_recall``'s prices the hot-cell guard in recall — the
    same panel-pair methodology as lsh_recall vs lsh_recall_rebanded."""
    return _recall_vs_exact(spark, sf_dir, q_ann_ivf_bounded(spark, sf_dir))


def _ann_bounded_ctes(nprobe: int) -> str:
    return f"""{_ann_ivf_base_ctes(nprobe)},
cell_counts AS (
  SELECT cell, count(*) AS cell_n FROM v_cells GROUP BY cell
),
vb AS (
  SELECT v.vec_id, v.embedding, v.cell,
         CASE WHEN coalesce(c.cell_n, 0) > {ANN_MAX_CELL}
              THEN {_bucket_sql('v.embedding', ANN_SLICE_BITS)} + 1
              ELSE 0 END AS sub
  FROM v_cells v LEFT JOIN cell_counts c USING (cell)
),
qb AS (
  SELECT q.qid, q.qe, q.cell,
         CASE WHEN coalesce(c.cell_n, 0) > {ANN_MAX_CELL}
              THEN {_bucket_sql('q.qe', ANN_SLICE_BITS)} + 1
              ELSE 0 END AS sub
  FROM q_cells q LEFT JOIN cell_counts c USING (cell)
),
ivf_scored AS (
  SELECT q.qid, v.vec_id AS nid, CAST(v.cell AS INTEGER) AS cell,
         round({_cos_sql('q.qe', 'v.embedding')}, 6) AS cos_sim
  FROM vb v JOIN qb q ON v.cell = q.cell AND v.sub = q.sub
  WHERE v.vec_id <> q.qid
),
ivf_hits AS (
  SELECT qid, nid, cell, cos_sim, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY qid
                                 ORDER BY cos_sim DESC, nid) AS rank
    FROM ivf_scored
  ) WHERE rank <= {TOPK}
)"""


SQL_ANN_IVF_BOUNDED = f"""
WITH {_ann_bounded_ctes(NPROBE)}
SELECT qid, nid, cell, cos_sim, rank FROM ivf_hits
"""

SQL_ANN_IVF_BOUNDED_RECALL = _ann_recall_sql(
    NPROBE, ctes=_ann_bounded_ctes(NPROBE)
)


def build_ivf_state(
    spark: SparkSession, sf_dir: str, state_dir: str
) -> tuple[str, str, int]:
    """Materialize the persisted IVF index the incremental-ANN story
    reads: the coarse-centroid table plus the historical cell
    assignments, written and maintained through the maintenance layer
    — the vector-index member of the persisted-ingest-state family
    (:func:`build_incremental_hash_table` = exact hashes,
    :func:`build_neardup_state` = LSH bands). Embed once, index
    incrementally: the Lloyd-trained NLIST coarse centroids
    (``_ivf_cents`` — the ``q_kmeans`` kernel) fit on vec_id < cut only,
    so later ingest days never retrain (the oracle trains on the same
    WHERE), and persist as ``cents`` — at 100 TB the tiny "model" every
    ingest day broadcasts. History is assigned to cells (the vector
    travels WITH its cell row so probes never re-read raw history),
    keyed by vec_id, and ingested over two days by
    :func:`_two_day_ingest` into ``assign_raw``/``assign_compact``.

    Returns (cents_dir, assign_dir, cut)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", sim_ops.norm(F.col("embedding")).alias("nrm")
    )
    cut = _incr_cut(e, "vec_id")
    cents = _ivf_cents(e.filter(F.col("vec_id") < cut), ("hist", sf_dir, cut))
    cents_dir = f"{state_dir}/cents"

    def assigned(ids) -> DataFrame:
        # assign against the persisted centroids: against the in-memory
        # frame a build took ~0.5 s longer (perfbench corpus, 4 cores);
        # the known schema skips a schema-inference job
        persisted = spark.read.schema(cents.schema).parquet(cents_dir)
        return _ivf_assign(e.filter(ids), persisted).filter(
            F.col("crank") == 1
        ).select("vec_id", "embedding", "nrm", "cell")

    assign_dir = _two_day_ingest(
        spark, state_dir, cut, "vec_id", "vec_id", assigned,
        "assign_raw", "assign_compact",
        model=lambda: cents.write.parquet(cents_dir),
    )
    return cents_dir, assign_dir, cut


# the shared assignment kernel lives with the other vector ops so the
# streaming ingest sink can run the identical expression
_ivf_assign = sim_ops.ivf_cell_ranks


def incremental_ann_against(
    spark: SparkSession,
    sf_dir: str,
    cents_dir: str,
    assign_dir: str,
    cut: int,
    hist_cap: int | None = None,
) -> DataFrame:
    """The batch phase of persisted incremental ANN: raw-embedding
    work touches ONLY the incoming batch (vec_id >= cut — pushed to
    the embeddings scan); the batch is assigned to cells with one
    broadcast of the persisted centroids, and its query vectors
    (vec_id % {ANN_INCR_QMOD} == 0) probe NPROBE cells against the
    UNION of the persisted historical assignments and the batch
    itself. Historical vectors arrive from the compacted assignment
    table — the raw embeddings table contributes exactly one filtered
    scan, plan-asserted in tests/test_ann_persisted.py.

    ``hist_cap`` is the ingest-side list-truncation guard (the same
    dial as the near-dup ``hist_cap`` and the bounded probe's
    ``cell_cap``): keep only the cap smallest-id HISTORICAL members
    per cell, bounding the probe at O(queries × (cap + batch)) when
    years of ingest have made a cell hot. One window over the
    assignment table, never the pair stream; off by default (the
    suite oracle checks exact semantics)."""
    cents = spark.read.parquet(cents_dir)
    new = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") >= cut)
        .select(
            "vec_id", "embedding", sim_ops.norm(F.col("embedding")).alias("nrm")
        )
    )
    ranked = _ivf_assign(new, cents)
    new_assign = ranked.filter(F.col("crank") == 1).select(
        "vec_id", "embedding", "nrm", "cell"
    )
    q_cells = ranked.filter(
        (F.col("vec_id") % ANN_INCR_QMOD == 0) & (F.col("crank") <= NPROBE)
    ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("nrm").alias("qnrm"),
        "cell",
    )
    hist = spark.read.parquet(assign_dir)
    if hist_cap is not None:
        wcap = Window.partitionBy("cell").orderBy("vec_id")
        hist = (
            hist.withColumn("__rn", F.row_number().over(wcap))
            .filter(F.col("__rn") <= hist_cap)
            .drop("__rn")
        )
    pool = hist.unionByName(new_assign)
    return _ivf_probe_topk(pool, q_cells)


def q_ann_ivf_incremental_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``ann_ivf`` re-cut as daily ingest against a PERSISTED index:
    centroids + historical cell assignments are built, merged, and
    compacted through the maintenance layer once, then the incoming
    batch (the top {1-INCR_SPLIT_FRAC:.0%} of vec_ids) is assigned
    and probed without ever re-reading historical raw embeddings —
    the vector-search member of the persisted-ingest-state family
    (exact hash table → LSH band table → IVF index). Queries are the
    batch's vec_id % {ANN_INCR_QMOD} == 0 vectors; neighbors may come
    from history or the batch itself.

    Build memoized per (session, corpus) — same accounting rationale
    as ``q_ann_pq_persisted``; the build is priced separately by
    ``ann_ivf_index_build``."""
    cents_dir, assign_dir, cut = _ivf_index(spark, sf_dir)
    return incremental_ann_against(spark, sf_dir, cents_dir, assign_dir, cut)


SQL_ANN_IVF_INCR = f"""
WITH {_cut_cte("vec_id", "embeddings")},
{_ivf_cent_ctes(where="vec_id < (SELECT c FROM cut)")},
scored_cells AS (
  SELECT e.vec_id, e.embedding, c.cell,
         round({_cos_sql('e.embedding', 'c.ce')}, 6) AS ccos
  FROM embeddings e CROSS JOIN cents c
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY ccos DESC, cell) AS crank
  FROM scored_cells
),
v_cells AS (SELECT vec_id, embedding, cell FROM ranked WHERE crank = 1),
q_cells AS (SELECT vec_id AS qid, embedding AS qe, cell
            FROM ranked, cut
            WHERE vec_id % {ANN_INCR_QMOD} = 0 AND vec_id >= cut.c
              AND crank <= {NPROBE}),
scored AS (
  SELECT q.qid, v.vec_id AS nid, CAST(v.cell AS INTEGER) AS cell,
         round({_cos_sql('q.qe', 'v.embedding')}, 6) AS cos_sim
  FROM v_cells v JOIN q_cells q USING (cell)
  WHERE v.vec_id <> q.qid
)
SELECT qid, nid, cell, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY cos_sim DESC, nid) AS rank
  FROM scored
) WHERE rank <= {TOPK}
"""


def q_ann_ivf_persisted_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ann_ivf_incremental_persisted`` probed AFTER a vec-id takedown
    on the persisted assignment table: tombstoned vectors contribute no
    cell rows, so a query whose nearest historical neighbors were taken
    down now fills its top-{TOPK} from the survivors — the
    vector-search member of the deletion family (exact hash → LSH
    bands → substring windows → IVF assignments). Probe path and
    output contract are byte-identical to the non-deleted entry; the
    delete lives entirely in the folded state."""
    cents_dir, assign_dir, cut = _ivf_index_del(spark, sf_dir)
    return incremental_ann_against(spark, sf_dir, cents_dir, assign_dir, cut)


SQL_ANN_IVF_PERSISTED_DELETE = f"""
WITH {_cut_cte("vec_id", "embeddings")},
{_ivf_cent_ctes(where="vec_id < (SELECT c FROM cut)")},
scored_cells AS (
  SELECT e.vec_id, e.embedding, c.cell,
         round({_cos_sql('e.embedding', 'c.ce')}, 6) AS ccos
  FROM embeddings e CROSS JOIN cents c
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY ccos DESC, cell) AS crank
  FROM scored_cells
),
v_cells AS (
  SELECT r.vec_id, r.embedding, r.cell FROM ranked r, cut
  WHERE r.crank = 1
    AND NOT (r.vec_id < cut.c AND r.vec_id % {TAKEDOWN_MOD} = 0)
),
q_cells AS (SELECT vec_id AS qid, embedding AS qe, cell
            FROM ranked, cut
            WHERE vec_id % {ANN_INCR_QMOD} = 0 AND vec_id >= cut.c
              AND crank <= {NPROBE}),
scored AS (
  SELECT q.qid, v.vec_id AS nid, CAST(v.cell AS INTEGER) AS cell,
         round({_cos_sql('q.qe', 'v.embedding')}, 6) AS cos_sim
  FROM v_cells v JOIN q_cells q USING (cell)
  WHERE v.vec_id <> q.qid
)
SELECT qid, nid, cell, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY cos_sim DESC, nid) AS rank
  FROM scored
) WHERE rank <= {TOPK}
"""


def q_ann_ivf_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted IVF index BUILD as its own priced, hash-oracled
    entry (VERDICT r9 #5, IVF member — see ``q_ann_pq_index_build``):
    fresh maintenance-layer build (history-trained Lloyd centroids,
    day-0 assignment write, day-1 merge_upsert, compaction) into a
    build-scoped scratch dir, digested from the PERSISTED artifacts
    as one row per cell: historical member count, centroid L2 norm,
    first centroid component."""
    state = _build_scratch("zspark_ivf_build_", sf_dir)
    cents_dir, assign_dir, _cut = build_ivf_state(spark, sf_dir, state)
    cents = spark.read.parquet(cents_dir).select(
        "cell",
        F.round(
            F.sqrt(
                F.aggregate(
                    F.transform("ce", lambda x: x * x),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
            6,
        ).alias("c_norm"),
        F.round(F.element_at("ce", 1), 6).alias("c_first"),
    )
    cnt = (
        spark.read.parquet(assign_dir)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_hist"))
    )
    return cents.join(cnt, "cell", "left").select(
        "cell",
        F.coalesce("n_hist", F.lit(0)).cast("bigint").alias("n_hist"),
        "c_norm",
        "c_first",
    )


SQL_ANN_IVF_INDEX_BUILD = f"""
WITH {_cut_cte("vec_id", "embeddings")},
{_ivf_cent_ctes(where="vec_id < (SELECT c FROM cut)")},
scored_cells AS (
  SELECT e.vec_id, c.cell,
         round({_cos_sql('e.embedding', 'c.ce')}, 6) AS ccos
  FROM embeddings e CROSS JOIN cents c
  WHERE e.vec_id < (SELECT c FROM cut)
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY ccos DESC, cell) AS crank
  FROM scored_cells
),
hcnt AS (
  SELECT cell, count(*) AS n_hist FROM ranked WHERE crank = 1 GROUP BY 1
)
SELECT c.cell,
       coalesce(h.n_hist, 0) AS n_hist,
       round(sqrt(list_reduce(list_prepend(0.0,
             list_transform(c.ce, x -> x * x)), (acc, x) -> acc + x)), 6)
         AS c_norm,
       round(c.ce[1], 6) AS c_first
FROM cents c LEFT JOIN hcnt h ON h.cell = c.cell
"""


# ---------------------------------------------------- domain mixture sampling

# ------------------------------------------------ DSIR importance scoring

DSIR_BUCKETS = 1024  # hashed n-gram feature space (Xie et al. use 10k)


def _dsir_gram_buckets(d: DataFrame) -> DataFrame:
    """(doc_id, lang, b): every unigram+bigram hashed into the
    {DSIR_BUCKETS}-bucket feature space — the shared input stream of
    the stats build and the scoring pass."""
    toks = tx.tokens(F.col("text"))
    grams = F.concat(toks, tx.shingles(toks, 2))
    return d.select("doc_id", "lang", F.explode(grams).alias("gram")).select(
        "doc_id",
        "lang",
        (tx.word_hash(F.col("gram")) % DSIR_BUCKETS).alias("b"),
    )


def build_dsir_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR importance model: raw and target hashed-gram bucket
    counts, estimated in ONE groupBy over the exploded gram stream
    (count + count_if share the map-side partial combine — the r10 #6
    fusion). Model-sized output ({DSIR_BUCKETS} rows) — safe to
    collect, broadcast, and memoize."""
    d = load_table(spark, sf_dir, "documents")
    return _reuse(_dsir_gram_buckets(d)).groupBy("b").agg(
        F.count(F.lit(1)).alias("raw_cnt"),
        F.count_if(F.col("lang") == DSIR_TARGET_LANG).alias("tgt_cnt"),
    )


def _dsir_model(spark: SparkSession, sf_dir: str) -> tuple:
    """The session's DSIR importance model as collected (rows, schema);
    building it also leaves the gram frame persisted for selection."""

    def make() -> tuple:
        fresh = build_dsir_stats(spark, sf_dir)
        return fresh.collect(), fresh.schema

    return _session_memo(spark, "dsir", sf_dir, make)


def q_dsir_stats_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR importance-model BUILD as its own priced, hash-oracled
    entry (the ann_*_index_build / substring_ledger_build convention,
    VERDICT r11 #3): one fresh estimation pass over the corpus, output
    = the full {DSIR_BUCKETS}-row bucket table itself (it IS
    model-sized, so the digest is the artifact). Splitting the build
    from ``dsir_select`` makes the selection entry price what
    production pays per selection run — a model lookup plus one scoring
    pass — instead of re-estimating the distributions every call."""
    d = load_table(spark, sf_dir, "documents")
    g = _dsir_gram_buckets(d)
    # a BUILD prices the real estimation pass: evict any cached copy of
    # the gram frame (CacheManager matches by plan, so unpersist on the
    # reconstructed plan uncaches the selection path's persisted frame
    # — it re-caches on its next action), and don't persist here
    g.unpersist()
    return g.groupBy("b").agg(
        F.count(F.lit(1)).cast("bigint").alias("raw_cnt"),
        F.count_if(F.col("lang") == DSIR_TARGET_LANG)
        .cast("bigint")
        .alias("tgt_cnt"),
    )


DSIR_TARGET_LANG = "en"  # the "target distribution" subcorpus


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every doc
    by the log importance ratio of a TARGET distribution (here the
    lang='{DSIR_TARGET_LANG}' subcorpus — in production, a trusted
    high-quality corpus) over the RAW distribution, both estimated
    as hashed n-gram (unigram+bigram) bucket frequencies with +1
    smoothing:  score(d) = Σ_grams ln p̂(b(g)) − ln q̂(b(g)).
    keep = score > 0 — "more target-like than raw". Complements the
    quality/temperature mixers: those reweight by per-doc or
    per-source labels; DSIR reweights by distributional similarity
    to a target corpus without any labels on the raw side.

    Scale shape (the paper's own recipe, Spark-ified): both
    distributions come from ONE {DSIR_BUCKETS}-row hash aggregate
    (count + count_if in a single groupBy, map-side partial combine)
    over one persisted exploded-gram frame — r11 fused what was two
    aggregations plus a bucket join; the per-bucket log-ratio table
    broadcasts; scoring is a map-side broadcast join + one doc-keyed
    hash agg. No all-pairs, no big-side shuffle beyond the per-doc
    sum.

    Determinism: per-bucket log-ratios quantize to integer
    micro-units from INTEGER counts with an identical expression
    spelling on both engines, and per-doc scores are exact integer
    sums — partition-order-free (the trend_probe_training
    discipline)."""
    d = load_table(spark, sf_dir, "documents")
    # the persisted gram frame: CacheManager plan-matches it with the
    # one ``build_dsir_stats`` materialized (bench pre-warm / first
    # call), so repeated selection runs read cached Arrow blocks
    # instead of re-tokenizing the corpus — the PQ/IVF probe
    # convention (VERDICT r11 #3)
    g = _reuse(_dsir_gram_buckets(d))
    # The {DSIR_BUCKETS}-row bucket-frequency table is the IMPORTANCE
    # MODEL (the artifact DSIR estimates once and reuses for every
    # selection pass) — memoized per (session, corpus) like the
    # PQ/IVF/substring state, and priced fresh by its own entry,
    # ``dsir_stats_build``. With the model in hand, selection is ONE
    # pass over the gram stream: broadcast-join the log-ratio table,
    # per-doc hash agg.
    stats = spark.createDataFrame(*_dsir_model(spark, sf_dir))
    tots = stats.agg(
        F.sum("raw_cnt").alias("raw_tot"),
        F.coalesce(F.sum("tgt_cnt"), F.lit(0)).alias("tgt_tot"),
    )
    nb = float(DSIR_BUCKETS)
    lnr = F.lit(1e6) * (
        F.log(
            (F.col("tgt_cnt") + F.lit(1.0)) / (F.col("tgt_tot") + F.lit(nb))
        )
        - F.log(
            (F.col("raw_cnt") + F.lit(1.0)) / (F.col("raw_tot") + F.lit(nb))
        )
    )
    lr = stats.crossJoin(F.broadcast(tots)).select(
        "b", F.round(lnr).cast("bigint").alias("lr_micro")
    )
    out = (
        g.join(F.broadcast(lr), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("lr_micro").alias("score_micro"),
        )
    )
    return out.select(
        "doc_id",
        "lang",
        "n_grams",
        "score_micro",
        (F.col("score_micro") > 0).alias("keep"),
    )


_DSIR_GH = WORD_HASH_SQL.format(x="gram")
SQL_DSIR_SELECT = f"""
WITH {TOKS_CTE},
grams AS (
  SELECT doc_id, lang,
         unnest(w || CASE WHEN len(w) >= 2
                  THEN list_transform(generate_series(1, len(w) - 1),
                                      i -> concat_ws(' ', w[i], w[i + 1]))
                  ELSE [] END) AS gram
  FROM toks
),
gb AS (SELECT doc_id, lang, {_DSIR_GH} % {DSIR_BUCKETS} AS b FROM grams),
stats AS (
  SELECT b, count(*) AS raw_cnt,
         count(*) FILTER (WHERE lang = '{DSIR_TARGET_LANG}') AS tgt_cnt
  FROM gb GROUP BY 1
),
tots AS (
  SELECT sum(raw_cnt) AS raw_tot, coalesce(sum(tgt_cnt), 0) AS tgt_tot
  FROM stats
),
lr AS (
  SELECT s.b,
         CAST(round(1e6 * (
           ln((s.tgt_cnt + 1.0) / (tots.tgt_tot + {DSIR_BUCKETS}.0))
           - ln((s.raw_cnt + 1.0) / (tots.raw_tot + {DSIR_BUCKETS}.0))
         )) AS BIGINT) AS lr_micro
  FROM stats s CROSS JOIN tots
)
SELECT g.doc_id, g.lang,
       count(*) AS n_grams,
       CAST(sum(l.lr_micro) AS BIGINT) AS score_micro,
       CAST(sum(l.lr_micro) AS BIGINT) > 0 AS keep
FROM gb g JOIN lr l USING (b)
GROUP BY 1, 2
"""

SQL_DSIR_STATS_BUILD = f"""
WITH {TOKS_CTE},
grams AS (
  SELECT doc_id, lang,
         unnest(w || CASE WHEN len(w) >= 2
                  THEN list_transform(generate_series(1, len(w) - 1),
                                      i -> concat_ws(' ', w[i], w[i + 1]))
                  ELSE [] END) AS gram
  FROM toks
),
gb AS (SELECT doc_id, lang, {_DSIR_GH} % {DSIR_BUCKETS} AS b FROM grams)
SELECT b, CAST(count(*) AS BIGINT) AS raw_cnt,
       CAST(count(*) FILTER (WHERE lang = '{DSIR_TARGET_LANG}') AS BIGINT)
         AS tgt_cnt
FROM gb GROUP BY 1
"""


MIX_BUDGET_FRAC = 0.5  # keep ~50% of corpus tokens, spread evenly per source


def _hash_u(col, salt: str):
    """Uniform-ish u ∈ [0,1) from a salted md5 of a key — the same
    order/partition-independent membership trick as q_doc_split."""
    return (
        tx.word_hash(F.concat(F.lit(salt), col.cast("string"))) % 1000000
    ) / 1000000.0


def _source_tokens(d: DataFrame) -> DataFrame:
    """(doc_id, source, tok) — the shared input frame of both mixing
    audits (uniform-budget and temperature-scaled)."""
    return d.select(
        "doc_id",
        "source",
        F.size(tx.tokens(F.col("text"))).cast("bigint").alias("tok"),
    )


def _kept_by_rate(toks: DataFrame, rates: DataFrame, salt: str) -> DataFrame:
    """Per-source (n_kept, kept_tokens) after the salted-hash keep
    decision u < rate — the membership step shared by both mixing
    audits; ``rates`` must expose (source, rate)."""
    return (
        toks.withColumn("u", _hash_u(F.col("doc_id"), salt))
        .join(F.broadcast(rates.select("source", "rate")), "source")
        .where(F.col("u") < F.col("rate"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.sum("tok").alias("kept_tokens"))
    )


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling to a per-source token budget (the
    mixture-reweighting pass of an LLM data pipeline, à la Pile/DoReMi
    uniform-domain variant): two passes —

    1. per-source token totals (map-side partial counts; only a
       #sources-row aggregate shuffles), global budget = corpus_tokens
       × {MIX_BUDGET_FRAC} split evenly across sources;
    2. Bernoulli keep with rate = min(1, budget/source_tokens) decided
       by a salted hash of doc_id — membership is reproducible under
       re-runs, backfills, and any partitioning, and the tiny rates
       table is BROADCAST back onto the corpus scan (no big-side
       shuffle at 100 TB; under-budget sources get rate 1 — upsampling
       is an epoch-count concern, not a filter's).

    Output = per-source audit: docs/tokens before, sampling rate,
    docs/tokens kept."""
    toks = _source_tokens(load_table(spark, sf_dir, "documents"))
    per_src = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("tok").alias("tok_total")
    )
    totals = per_src.agg(
        F.sum("tok_total").alias("corpus_tok"), F.count(F.lit(1)).alias("n_src")
    )
    rates = per_src.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        "tok_total",
        F.least(
            F.lit(1.0),
            (F.col("corpus_tok") * MIX_BUDGET_FRAC / F.col("n_src"))
            / F.col("tok_total"),
        ).alias("rate"),
    )
    kept = _kept_by_rate(toks, rates, "mix:")
    # both sides are #sources-row aggregates; hint the build side so the
    # audit join never falls back to a sort-merge of two tiny relations
    return rates.join(F.broadcast(kept), "source", "left").select(
        "source",
        "n_docs",
        "tok_total",
        F.round("rate", 6).alias("rate"),
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("kept_tokens", F.lit(0)).alias("kept_tokens"),
    )


_MIX_U_SQL = (
    f"(({WORD_HASH_SQL.format(x=chr(39) + 'mix:' + chr(39) + ' || CAST(doc_id AS VARCHAR)')})"
    " % 1000000) / 1000000.0"
)

SQL_DOMAIN_MIX = f"""
WITH tl AS (
  SELECT doc_id, source,
         CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT) AS tok,
         {_MIX_U_SQL} AS u
  FROM documents
),
per_src AS (
  SELECT source, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS tok_total
  FROM tl GROUP BY source
),
tot AS (
  SELECT CAST(sum(tok_total) AS BIGINT) AS corpus_tok, count(*) AS n_src
  FROM per_src
),
rates AS (
  SELECT source, n_docs, tok_total,
         least(1.0, (corpus_tok * {MIX_BUDGET_FRAC} / n_src) / tok_total) AS rate
  FROM per_src, tot
),
kept AS (
  SELECT t.source, count(*) AS n_kept, CAST(sum(t.tok) AS BIGINT) AS kept_tokens
  FROM tl t JOIN rates r USING (source)
  WHERE t.u < r.rate
  GROUP BY t.source
)
SELECT r.source, r.n_docs, r.tok_total, round(r.rate, 6) AS rate,
       coalesce(k.n_kept, 0) AS n_kept,
       coalesce(k.kept_tokens, 0) AS kept_tokens
FROM rates r LEFT JOIN kept k USING (source)
"""


# ------------------------------------------------------ split decontamination

DECON_N = 3  # word n-gram size
DECON_FLAG = 0.6  # contamination fraction that flags a test doc


MIX_TEMP = 2.0  # temperature for tau-scaled source shares


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (the multilingual-sampling
    standard, mT5/XLM-R style): target share of source s is
    p_s^(1/tau) / sum p^(1/tau) — tau > 1 flattens the distribution so
    small sources are upsampled relative to their natural share.
    Same two-pass shape as `q_domain_mix` (per-source totals →
    broadcast rates → hash-membership keep); the keep rate is
    quantized to 6 decimals BEFORE the membership comparison so the
    decision grid is engine-exact. Sources whose target exceeds their
    size report an epoch_factor > 1 (upsampling = repeat epochs, not a
    filter's job).

    Output = per-source audit: natural share, tau-scaled target share,
    sampling rate, epoch factor, docs/tokens kept."""
    toks = _source_tokens(load_table(spark, sf_dir, "documents"))
    per_src = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("tok").alias("tok_total")
    )
    totals = per_src.agg(F.sum("tok_total").alias("corpus_tok"))
    scaled = per_src.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        "tok_total",
        "corpus_tok",
        F.pow(F.col("tok_total") / F.col("corpus_tok"), 1.0 / MIX_TEMP).alias(
            "w"
        ),
    )
    wsum = scaled.agg(F.sum("w").alias("wsum"))
    rates = scaled.crossJoin(F.broadcast(wsum)).select(
        "source",
        "n_docs",
        "tok_total",
        (F.col("tok_total") / F.col("corpus_tok")).alias("share"),
        (F.col("w") / F.col("wsum")).alias("target_share"),
        F.round(
            F.least(
                F.lit(1.0),
                (F.col("w") / F.col("wsum"))
                * F.col("corpus_tok")
                * MIX_BUDGET_FRAC
                / F.col("tok_total"),
            ),
            6,
        ).alias("rate"),
        F.greatest(
            F.lit(1.0),
            (F.col("w") / F.col("wsum"))
            * F.col("corpus_tok")
            * MIX_BUDGET_FRAC
            / F.col("tok_total"),
        ).alias("epoch_factor"),
    )
    kept = _kept_by_rate(toks, rates, "tmix:")
    return rates.join(F.broadcast(kept), "source", "left").select(
        "source",
        "n_docs",
        "tok_total",
        F.round("share", 6).alias("share"),
        F.round("target_share", 6).alias("target_share"),
        "rate",
        F.round("epoch_factor", 6).alias("epoch_factor"),
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("kept_tokens", F.lit(0)).alias("kept_tokens"),
    )


_TMIX_U_SQL = (
    f"(({WORD_HASH_SQL.format(x=chr(39) + 'tmix:' + chr(39) + ' || CAST(doc_id AS VARCHAR)')})"
    " % 1000000) / 1000000.0"
)

SQL_TEMPERATURE_MIX = f"""
WITH toks2 AS (
  SELECT doc_id, source,
         CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT) AS tok
  FROM documents
),
per_src AS (
  SELECT source, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS tok_total
  FROM toks2 GROUP BY source
),
tot AS (SELECT CAST(sum(tok_total) AS BIGINT) AS corpus_tok FROM per_src),
scaled AS (
  SELECT source, n_docs, tok_total, corpus_tok,
         pow(CAST(tok_total AS DOUBLE) / corpus_tok, 1.0 / {MIX_TEMP}) AS w
  FROM per_src, tot
),
ws AS (SELECT sum(w) AS wsum FROM scaled),
rates AS (
  SELECT source, n_docs, tok_total,
         CAST(tok_total AS DOUBLE) / corpus_tok AS share,
         w / wsum AS target_share,
         round(least(1.0, (w / wsum) * corpus_tok * {MIX_BUDGET_FRAC}
                           / tok_total), 6) AS rate,
         greatest(1.0, (w / wsum) * corpus_tok * {MIX_BUDGET_FRAC}
                        / tok_total) AS epoch_factor
  FROM scaled, ws
),
kept AS (
  SELECT t.source, count(*) AS n_kept,
         CAST(sum(t.tok) AS BIGINT) AS kept_tokens
  FROM toks2 t JOIN rates r ON t.source = r.source
  WHERE {_TMIX_U_SQL} < r.rate
  GROUP BY t.source
)
SELECT r.source, r.n_docs, r.tok_total,
       round(r.share, 6) AS share,
       round(r.target_share, 6) AS target_share,
       r.rate,
       round(r.epoch_factor, 6) AS epoch_factor,
       coalesce(k.n_kept, 0) AS n_kept,
       coalesce(k.kept_tokens, 0) AS kept_tokens
FROM rates r LEFT JOIN kept k ON r.source = k.source
"""


QW_FRAC = 0.5  # target keep fraction of the corpus


def q_quality_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DOCUMENT quality-weighted sampling (the DCLM/quality-
    upweighting move): keep probability ∝ quality² , normalized so the
    expected keep fraction is QW_FRAC — high-quality docs survive at a
    higher rate instead of a hard threshold. Complements the
    per-source mixes: the weight here is a per-row function, the
    normalizer a single broadcast scalar, so the whole decision is
    map-side after one scalar aggregate. Rates are quantized to 6
    decimals before the salted-hash membership comparison
    (engine-exact grid).

    Output = per-quality-bucket audit: docs, kept, realized keep
    ratio, and the rate range applied in that bucket."""
    d = load_table(spark, sf_dir, "documents")
    q = tx.quality_metrics(d).select("doc_id", "quality")
    # γ=2 lets the weight be an exact integer (squared micro-quality),
    # so the corpus normalizer is an INTEGER sum — partition-order
    # independent, unlike a float avg(pow(...)) whose low bits would
    # vary with layout and sit under a rounded rate threshold
    qu = F.expr("CAST(round(quality * 1e6) AS BIGINT)")
    q2 = q.select("doc_id", "quality", (qu * qu).alias("w2"))
    norm = q2.agg(
        F.sum("w2").alias("s_w2"), F.count(F.lit(1)).alias("n_all")
    )
    rated = q2.crossJoin(F.broadcast(norm)).select(
        "doc_id",
        "quality",
        F.round(
            F.least(
                F.lit(1.0),
                QW_FRAC * F.col("w2") * F.col("n_all") / F.col("s_w2"),
            ),
            6,
        ).alias("rate"),
    )
    kept = rated.withColumn("u", _hash_u(F.col("doc_id"), "qmix:")).select(
        "doc_id",
        "quality",
        "rate",
        (F.col("u") < F.col("rate")).alias("keep"),
    )
    bucket = F.floor(F.col("quality") * 10).cast("int")
    return (
        kept.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
            F.round(
                F.sum(F.when(F.col("keep"), 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("keep_ratio"),
            F.min("rate").alias("min_rate"),
            F.max("rate").alias("max_rate"),
        )
    )


_QMIX_U_SQL = (
    f"(({WORD_HASH_SQL.format(x=chr(39) + 'qmix:' + chr(39) + ' || CAST(doc_id AS VARCHAR)')})"
    " % 1000000) / 1000000.0"
)

SQL_QUALITY_SAMPLE = f"""
WITH toksq AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
           AS n_punct,
         text
  FROM documents
),
qm AS (
  SELECT doc_id,
         least(greatest(
           (CASE WHEN len(w) BETWEEN 20 AND 1000 THEN 0.4 ELSE 0.0 END)
           + (CASE WHEN len(w) > 0 AND CAST(n_chars AS DOUBLE) / len(w)
                    BETWEEN 3 AND 10 THEN 0.2 ELSE 0.0 END)
           + (CASE WHEN n_chars > 0 AND CAST(n_punct AS DOUBLE) / n_chars
                    <= 0.1 THEN 0.2 ELSE 0.0 END)
           + (CASE WHEN len(w) > 0 AND
                    CAST(len(list_filter(w, t -> t IN ({_EN_STOPS})))
                         AS DOUBLE) / len(w)
                    >= 0.01 THEN 0.2 ELSE 0.0 END), 0.0), 1.0) AS quality
  FROM toksq
),
qm2 AS (
  SELECT doc_id, quality,
         CAST(round(quality * 1e6) AS BIGINT)
           * CAST(round(quality * 1e6) AS BIGINT) AS w2
  FROM qm
),
nq AS (SELECT CAST(sum(w2) AS BIGINT) AS s_w2, count(*) AS n_all FROM qm2),
rated AS (
  SELECT doc_id, quality,
         round(least(1.0, {QW_FRAC} * w2 * n_all / s_w2), 6) AS rate
  FROM qm2, nq
),
keptq AS (
  SELECT doc_id, quality, rate,
         ({_QMIX_U_SQL}) < rate AS keep
  FROM rated
)
SELECT CAST(floor(quality * 10) AS INTEGER) AS bucket,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(sum(CASE WHEN keep THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS keep_ratio,
       min(rate) AS min_rate,
       max(rate) AS max_rate
FROM keptq GROUP BY 1
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for every TEST-split document, the
    fraction of its distinct word {DECON_N}-grams that also appear
    anywhere in the TRAIN split (the n-gram-overlap check run before
    training to catch eval leakage).

    Scale shape: n-grams are HASHED to bigints map-side (raw text
    never shuffles); the train side collapses to distinct gram hashes
    via partial aggregation; the probe is a LEFT SEMI join on the hash
    — both sides shuffle-partitioned by gram, no row explosion beyond
    the gram lists themselves. Splits reuse q_doc_split's md5
    membership, so train/test here is exactly the split the pipeline
    would train on."""
    d = load_table(spark, sf_dir, "documents")
    # fan the CPU-heavy per-gram hashing out of the single input split,
    # and materialize the gram rows once — the train-distinct and
    # test-probe branches below would otherwise each re-run the explode
    # on one task (same rationale as minhash_signatures' fan-out)
    base = d.select(
        "doc_id",
        _hash_u(F.col("doc_id"), "").alias("u"),
        tx.tokens(F.col("text")).alias("w"),
    ).repartition(spark.sparkContext.defaultParallelism, "doc_id")
    grams = base.select(
        "doc_id",
        "u",
        F.explode(
            F.array_distinct(
                F.transform(
                    tx.shingles(F.col("w"), DECON_N), lambda s: tx.word_hash(s)
                )
            )
        ).alias("g"),
    )
    grams = _reuse(grams)
    train_g = grams.where(F.col("u") < SPLIT_TRAIN).select("g").distinct()
    test_g = grams.where(F.col("u") >= SPLIT_VAL).select("doc_id", "g")
    n_grams = test_g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    n_hit = (
        test_g.join(train_g, "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    frac = F.coalesce("n_hit", F.lit(0)) / F.col("n_grams")
    return n_grams.join(n_hit, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
        F.round(frac, 6).alias("contamination"),
        (frac >= DECON_FLAG).alias("flagged"),
    )


_GRAM_HASH_SQL = WORD_HASH_SQL.format(
    x=f"array_to_string(list_slice(w, i, i + {DECON_N - 1}), ' ')"
)

SQL_DECONTAMINATE = f"""
WITH {TOKS_CTE},
tu AS (
  SELECT doc_id, w, {_U_SQL} AS u FROM toks
),
grams AS (
  SELECT doc_id, u,
         unnest(list_distinct(list_transform(
           CASE WHEN len(w) >= {DECON_N}
                THEN generate_series(1, len(w) - {DECON_N - 1})
                ELSE [] END,
           i -> {_GRAM_HASH_SQL}))) AS g
  FROM tu
),
tr AS (SELECT DISTINCT g FROM grams WHERE u < {SPLIT_TRAIN}),
te AS (SELECT doc_id, g FROM grams WHERE u >= {SPLIT_VAL}),
ng AS (SELECT doc_id, count(*) AS n_grams FROM te GROUP BY doc_id),
hit AS (
  SELECT doc_id, count(*) AS n_hit FROM te
  WHERE g IN (SELECT g FROM tr)
  GROUP BY doc_id
)
SELECT ng.doc_id, ng.n_grams, coalesce(hit.n_hit, 0) AS n_hit,
       round(coalesce(hit.n_hit, 0) / ng.n_grams, 6) AS contamination,
       (coalesce(hit.n_hit, 0) / ng.n_grams) >= {DECON_FLAG} AS flagged
FROM ng LEFT JOIN hit USING (doc_id)
"""


HLL_RTOL = 0.15  # ≥ 5× the rsd of the default lgConfigK=12 HLL++ sketch


KLL_RTOL = 0.10  # value-space tolerance for the merged-sketch estimates


def q_daily_quantiles_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch RE-AGGREGATION (the KLL companion to
    `daily_uniques_rollup`): per-day KLL sketches of the traded price
    are materialized once, then MONTHLY p50/p95 come from folding the
    daily sketches with the binary `kll_sketch_merge_double` — the
    re-aggregation plain exact percentiles cannot do (a month's p95 is
    not a function of daily p95s). The fold runs over a per-month
    collect bounded by days-in-month (≤31 sketch blobs), the same
    bounded-collect budget as the sequence windows.

    Audit form: exact monthly percentiles plus flags that the merged
    estimates landed within {KLL_RTOL:.0%} of exact."""
    ev = events_ticks(spark, sf_dir)
    month = F.date_format("ts", "yyyy-MM")
    day = F.date_format("ts", "yyyy-MM-dd")
    daily = ev.select(month.alias("m"), day.alias("d"), "price").groupBy(
        "m", "d"
    ).agg(F.kll_sketch_agg_double("price").alias("sk"))
    # collect (day, sketch) and sort by day before folding: collect_list
    # order is partition-dependent and KLL merge is order-sensitive, so
    # an unsorted fold could flip est_p50/p95 across runs near the
    # tolerance boundary — the sort makes the merged estimate a pure
    # function of the data under any partitioning
    merged = daily.groupBy("m").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("d", "sk"))), lambda s: s["sk"]
        ).alias("sks"),
        F.count(F.lit(1)).alias("n_days"),
    )
    fold = F.aggregate(
        F.slice("sks", 2, F.greatest(F.size("sks") - 1, F.lit(0))),
        F.element_at("sks", 1),
        lambda acc, x: F.kll_sketch_merge_double(acc, x),
    )
    est = merged.select(
        "m",
        "n_days",
        F.kll_sketch_get_quantile_double(fold, F.lit(0.5)).alias("est_p50"),
        F.kll_sketch_get_quantile_double(fold, F.lit(0.95)).alias("est_p95"),
    )
    exact = ev.select(month.alias("m"), "price").groupBy("m").agg(
        F.percentile("price", F.lit(0.5)).alias("p50"),
        F.percentile("price", F.lit(0.95)).alias("p95"),
    )
    j = exact.join(est, "m")
    ok = lambda e, x: F.abs(F.col(e) - F.col(x)) <= F.lit(KLL_RTOL) * F.abs(
        F.col(x)
    )
    return j.select(
        F.col("m").alias("month"),
        "n_days",
        F.round("p50", 6).alias("p50"),
        F.round("p95", 6).alias("p95"),
        ok("est_p50", "p50").alias("kll_p50_ok"),
        ok("est_p95", "p95").alias("kll_p95_ok"),
    )


SQL_DAILY_QUANTILES_ROLLUP = f"""
WITH ticks AS ({EVENTS_TICKS_SQL})
SELECT strftime(ts, '%Y-%m') AS month,
       count(DISTINCT strftime(ts, '%Y-%m-%d')) AS n_days,
       round(quantile_cont(price, 0.5), 6) AS p50,
       round(quantile_cont(price, 0.95), 6) AS p95,
       TRUE AS kll_p50_ok,
       TRUE AS kll_p95_ok
FROM ticks GROUP BY strftime(ts, '%Y-%m')
"""


def q_daily_uniques_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch RE-AGGREGATION — the property that makes sketches the
    100 TB answer: per-day HLL sketches of distinct active users are
    built once (the shape a daily ETL materializes next to its
    aggregates), then the MONTLY distinct-user count comes from
    `hll_union_agg` over the stored sketches — no second pass over
    raw events, impossible with a plain count(distinct) which cannot
    be re-aggregated from daily results.

    Audit form (hash-deterministic): per month, the exact distinct
    count plus a flag that the sketch-merged estimate landed within
    {HLL_RTOL:.0%}; the naive sum of daily counts is included to show
    WHY re-aggregation needs sketches (it overcounts repeat users)."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd")
    month = F.date_format("ts", "yyyy-MM")
    daily = ev.select(month.alias("m"), day.alias("d"), "user_id").groupBy(
        "m", "d"
    ).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("daily_users"),
    )
    monthly = daily.groupBy("m").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
        F.sum("daily_users").alias("sum_daily_users"),
        F.count(F.lit(1)).alias("n_days"),
    )
    exact = ev.select(month.alias("m"), "user_id").groupBy("m").agg(
        F.count_distinct("user_id").alias("n_users")
    )
    j = exact.join(monthly, "m")
    return j.select(
        F.col("m").alias("month"),
        "n_days",
        "n_users",
        "sum_daily_users",
        (
            F.abs(F.col("est_users") - F.col("n_users"))
            <= F.lit(HLL_RTOL) * F.col("n_users")
        ).alias("hll_ok"),
    )


SQL_DAILY_UNIQUES_ROLLUP = """
WITH monthly AS (
  SELECT strftime(ts, '%Y-%m') AS month,
         count(DISTINCT strftime(ts, '%Y-%m-%d')) AS n_days,
         count(DISTINCT user_id) AS n_users
  FROM events GROUP BY strftime(ts, '%Y-%m')
),
daily AS (
  SELECT strftime(ts, '%Y-%m') AS month, strftime(ts, '%Y-%m-%d') AS d,
         count(DISTINCT user_id) AS daily_users
  FROM events GROUP BY 1, 2
),
sums AS (
  SELECT month, CAST(sum(daily_users) AS BIGINT) AS sum_daily_users
  FROM daily GROUP BY month
)
SELECT m.month, m.n_days, m.n_users, s.sum_daily_users, TRUE AS hll_ok
FROM monthly m JOIN sums s USING (month)
"""


def q_decon_overlap_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test n-gram overlap ESTIMATED by mergeable HLL sketches
    (inclusion–exclusion: |A∩B| = est(A) + est(B) − est(A∪B) with
    `hll_union` of the two per-side sketches) — the corpus-level
    contamination RATE a 100 TB pipeline can compute in one pass with
    O(2^lgK) state and NO join, complementing `decontaminate`'s exact
    per-document semi-join.

    Scale shape: gram hashing is map-side (same hashed-{DECON_N}-gram
    stream as decontaminate); the sketch side is a single partial-agg
    to ONE row — no shuffle proportional to data. The exact side (one
    groupBy on gram hash) is the audit yardstick: `hll_*_ok` flags pin
    that each live estimate landed within {HLL_RTOL:.0%} of exact
    (the sketch's rsd at lgK=12 is ~1.6%, so the margin absorbs the
    compounding in the inclusion–exclusion subtraction), keeping the
    value hash deterministic while forcing the sketches to actually
    run under the driver's session."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        _hash_u(F.col("doc_id"), "").alias("u"),
        tx.tokens(F.col("text")).alias("w"),
    )
    grams = base.select(
        "u",
        F.explode(
            F.transform(
                tx.shingles(F.col("w"), DECON_N), lambda s: tx.word_hash(s)
            )
        ).alias("g"),
    )
    is_tr = F.col("u") < SPLIT_TRAIN
    is_te = F.col("u") >= SPLIT_VAL
    memb = (
        grams.groupBy("g")
        .agg(
            F.max(F.when(is_tr, 1).otherwise(0)).alias("tr"),
            F.max(F.when(is_te, 1).otherwise(0)).alias("te"),
        )
    )
    # ONE aggregate over the distinct-gram frame computes the exact
    # counts AND the sketch estimates (r13, guide §2.4: the before-plan
    # carried TWO full Generate+md5 gram subtrees over
    # documents.parquet — one per arm). Feeding the sketches the
    # per-side DISTINCT gram sets is value-identical to feeding the
    # raw occurrence stream: an HLL sketch is a deterministic function
    # of its input SET (register updates are max-idempotent, sparse
    # coupons are a set), so every estimate — and therefore every
    # hash-checked hll_*_ok boolean — is unchanged, while the corpus
    # is exploded and hashed once instead of once per arm. The sketch
    # side keeps its mergeable one-row shape; it now rides the shuffle
    # the exact audit arm pays anyway.
    sk_tr = F.hll_sketch_agg(F.when(F.col("tr") == 1, F.col("g")))
    sk_te = F.hll_sketch_agg(F.when(F.col("te") == 1, F.col("g")))
    j = memb.agg(
        F.sum("tr").alias("n_train"),
        F.sum("te").alias("n_test"),
        F.sum(F.col("tr") * F.col("te")).alias("n_both"),
        F.hll_sketch_estimate(sk_tr).alias("est_train"),
        F.hll_sketch_estimate(sk_te).alias("est_test"),
        F.hll_sketch_estimate(F.hll_union(sk_tr, sk_te)).alias("est_union"),
    )
    n_union = F.col("n_train") + F.col("n_test") - F.col("n_both")
    ov_est = F.col("est_train") + F.col("est_test") - F.col("est_union")
    tol = F.lit(HLL_RTOL)
    return j.select(
        "n_train",
        "n_test",
        "n_both",
        F.round(F.col("n_both") / F.col("n_test"), 6).alias("test_containment"),
        (F.abs(F.col("est_train") - F.col("n_train")) <= tol * F.col("n_train"))
        .alias("hll_train_ok"),
        (F.abs(F.col("est_test") - F.col("n_test")) <= tol * F.col("n_test"))
        .alias("hll_test_ok"),
        (F.abs(ov_est - F.col("n_both")) <= tol * n_union).alias("hll_overlap_ok"),
    )


SQL_DECON_OVERLAP_HLL = f"""
WITH {TOKS_CTE},
tu AS (
  SELECT {_U_SQL} AS u, w FROM toks
),
grams AS (
  SELECT u,
         unnest(list_transform(
           CASE WHEN len(w) >= {DECON_N}
                THEN generate_series(1, len(w) - {DECON_N - 1})
                ELSE [] END,
           i -> {_GRAM_HASH_SQL})) AS g
  FROM tu
),
memb AS (
  SELECT g,
         max(CASE WHEN u < {SPLIT_TRAIN} THEN 1 ELSE 0 END) AS tr,
         max(CASE WHEN u >= {SPLIT_VAL} THEN 1 ELSE 0 END) AS te
  FROM grams GROUP BY g
)
SELECT CAST(sum(tr) AS BIGINT) AS n_train,
       CAST(sum(te) AS BIGINT) AS n_test,
       CAST(sum(tr * te) AS BIGINT) AS n_both,
       round(sum(tr * te) / CAST(sum(te) AS DOUBLE), 6) AS test_containment,
       TRUE AS hll_train_ok,
       TRUE AS hll_test_ok,
       TRUE AS hll_overlap_ok
FROM memb
"""


# ------------------------------------------------- source overlap via KMV

KMV_K = 128  # k-minimum-values sketch size; rsd ≈ 1/√(k−1) ≈ 8.9%


def q_source_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix estimated from K-minimum-values
    sketches — the corpus-mix planning question ("how much of source A
    already lives in source B?") answered with O(sources · {KMV_K})
    state instead of an all-pairs gram join. Element universe = hashed
    word-{DECON_N}-grams (the decontaminate stream); per source the
    sketch is its {KMV_K} smallest distinct gram hashes, |A| est =
    (k−1)·P/h₍ₖ₎ when the sketch is full (exact count when not), the
    pair-union sketch is the {KMV_K} smallest of the two sketches'
    union (Beyer et al.), and Jaccard comes from inclusion–exclusion.
    Every estimate is a pure function of order statistics of integer
    hashes, so the oracle replays it bit-exactly; exact n_a/n_b/
    n_both/jaccard columns sit beside the estimates as the audit
    yardstick (the decon_overlap_hll pattern).

    Scale shape: gram hashing + distinct is the one corpus-sized pass
    (hash agg on (source, gram)); the per-source top-{KMV_K} is a
    WindowGroupLimit (per-partition heaps, no global sort); everything
    after — pair frame, union sketches, estimates — touches only
    sources²·{KMV_K} rows. The exact-audit intersection join is the
    piece a 100 TB run drops (or samples): it is quadratic in DISTINCT
    grams shared across sources, while the sketch path never reads the
    corpus again."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select("source", tx.tokens(F.col("text")).alias("w"))
    grams = base.select(
        "source",
        F.explode(
            F.transform(
                tx.shingles(F.col("w"), DECON_N), lambda s: tx.word_hash(s)
            )
        ).alias("g"),
    )
    # _reuse barriers: dist fans out to counts/sketch/pairs/audit and sk
    # is read three times — without the persists the corpus-sized gram
    # distinct re-executes per consumer (observed: 28 parquet scans in
    # the unbarriered plan vs one distinct pass + cache reads with them)
    dist = _reuse(grams.distinct())
    counts = dist.groupBy("source").agg(F.count(F.lit(1)).alias("m"))
    wsk = Window.partitionBy("source").orderBy("g")
    sk = _reuse(
        dist.withColumn("rk", F.row_number().over(wsk))
        .filter(F.col("rk") <= KMV_K)
        .select("source", "g")
    )

    def kmv_est(msk: Column, kth: Column) -> Column:
        return F.when(
            msk < KMV_K, msk.cast("double")
        ).otherwise(F.lit(float(KMV_K - 1)) * F.lit(float(P)) / kth)

    est_src = sk.groupBy("source").agg(
        F.count(F.lit(1)).alias("msk"), F.max("g").alias("kth")
    ).select("source", kmv_est(F.col("msk"), F.col("kth")).alias("est"))

    srcs = dist.select("source").distinct()
    pairs = (
        srcs.alias("a")
        .join(srcs.alias("b"), F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
    )
    pv = (
        pairs.join(
            sk.select(F.col("source").alias("src_a"), "g"), "src_a"
        ).select("src_a", "src_b", "g")
        .union(
            pairs.join(
                sk.select(F.col("source").alias("src_b"), "g"), "src_b"
            ).select("src_a", "src_b", "g")
        )
        .distinct()
    )
    wu = Window.partitionBy("src_a", "src_b").orderBy("g")
    uest = (
        pv.withColumn("rk", F.row_number().over(wu))
        .filter(F.col("rk") <= KMV_K)
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("msk"), F.max("g").alias("kth"))
        .select(
            "src_a", "src_b", kmv_est(F.col("msk"), F.col("kth")).alias("est_u")
        )
    )
    # exact-audit intersection counts WITHOUT the self-join (r12): the
    # old dist⋈dist-on-g sort-merge self-join paid two sorted passes
    # over the corpus-distinct gram frame plus a join merge; grouping
    # by g and expanding ordered source pairs from the (≤|sources|,
    # here 20) per-gram set computes the identical n_both in ONE hash
    # agg + a bounded array expansion, with map-side partial agg
    # collapsing the pair counts before the final (src_a, src_b)
    # exchange (guide §2.3 aggregate-before-shuffle, §2.4 remove the
    # join's sort entirely). Interleaved same-session A/B at sf0.1:
    # 5.7 s → see OPTIMIZATION_r12.md; plan diff: SortMergeJoin and
    # its two Sorts gone, one Generate+HashAggregate instead.
    src_pairs = F.flatten(
        F.transform(
            "ss",
            lambda x, i: F.transform(
                F.slice(F.col("ss"), i + F.lit(2), F.size("ss")),
                lambda y: F.struct(x.alias("src_a"), y.alias("src_b")),
            ),
        )
    )
    inter = (
        dist.groupBy("g")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .select(F.explode(src_pairs).alias("p"))
        .groupBy(
            F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    out = (
        pairs.join(uest, ["src_a", "src_b"])
        .join(inter, ["src_a", "src_b"], "left")
        .join(
            est_src.select(
                F.col("source").alias("src_a"), F.col("est").alias("est_a")
            ),
            "src_a",
        )
        .join(
            est_src.select(
                F.col("source").alias("src_b"), F.col("est").alias("est_b")
            ),
            "src_b",
        )
        .join(
            counts.select(
                F.col("source").alias("src_a"), F.col("m").alias("n_a")
            ),
            "src_a",
        )
        .join(
            counts.select(
                F.col("source").alias("src_b"), F.col("m").alias("n_b")
            ),
            "src_b",
        )
        .withColumn("n_both", F.coalesce(F.col("n_both"), F.lit(0)))
    )
    n_union = F.col("n_a") + F.col("n_b") - F.col("n_both")
    est_inter = F.col("est_a") + F.col("est_b") - F.col("est_u")
    return out.select(
        "src_a",
        "src_b",
        F.round("est_a", 6).alias("est_a"),
        F.round("est_b", 6).alias("est_b"),
        F.round("est_u", 6).alias("est_union"),
        F.round(F.greatest(F.lit(0.0), est_inter / F.col("est_u")), 6).alias(
            "est_jaccard"
        ),
        "n_a",
        "n_b",
        "n_both",
        n_union.alias("n_union"),
        F.round(F.col("n_both") / n_union, 6).alias("exact_jaccard"),
    )


_KMV_EST_SQL = (
    f"CASE WHEN msk < {KMV_K} THEN CAST(msk AS DOUBLE) "
    f"ELSE {float(KMV_K - 1)!r} * {float(P)!r} / kth END"
)

SQL_SOURCE_OVERLAP_KMV = f"""
WITH {TOKS_CTE},
grams AS (
  SELECT DISTINCT source,
         unnest(list_transform(
           CASE WHEN len(w) >= {DECON_N}
                THEN generate_series(1, len(w) - {DECON_N - 1})
                ELSE [] END,
           i -> {_GRAM_HASH_SQL})) AS g
  FROM toks
),
counts AS (SELECT source, count(*) AS m FROM grams GROUP BY source),
sk AS (
  SELECT source, g FROM (
    SELECT source, g,
           row_number() OVER (PARTITION BY source ORDER BY g) AS rk
    FROM grams
  ) WHERE rk <= {KMV_K}
),
est_src AS (
  SELECT source, {_KMV_EST_SQL} AS est FROM (
    SELECT source, count(*) AS msk, max(g) AS kth FROM sk GROUP BY source
  )
),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b
  FROM (SELECT DISTINCT source FROM grams) a
  JOIN (SELECT DISTINCT source FROM grams) b ON a.source < b.source
),
pv AS (
  SELECT DISTINCT src_a, src_b, g FROM (
    SELECT p.src_a, p.src_b, s.g FROM pairs p JOIN sk s ON s.source = p.src_a
    UNION ALL
    SELECT p.src_a, p.src_b, s.g FROM pairs p JOIN sk s ON s.source = p.src_b
  )
),
uest AS (
  SELECT src_a, src_b, {_KMV_EST_SQL} AS est_u FROM (
    SELECT src_a, src_b, count(*) AS msk, max(g) AS kth FROM (
      SELECT src_a, src_b, g,
             row_number() OVER (PARTITION BY src_a, src_b ORDER BY g) AS rk
      FROM pv
    ) WHERE rk <= {KMV_K}
    GROUP BY src_a, src_b
  )
),
inter AS (
  SELECT x.source AS src_a, y.source AS src_b, count(*) AS n_both
  FROM grams x JOIN grams y ON x.g = y.g AND x.source < y.source
  GROUP BY x.source, y.source
)
SELECT p.src_a, p.src_b,
       round(ea.est, 6) AS est_a,
       round(eb.est, 6) AS est_b,
       round(u.est_u, 6) AS est_union,
       round(greatest(0.0, (ea.est + eb.est - u.est_u) / u.est_u), 6)
         AS est_jaccard,
       ca.m AS n_a,
       cb.m AS n_b,
       coalesce(i.n_both, 0) AS n_both,
       ca.m + cb.m - coalesce(i.n_both, 0) AS n_union,
       round(coalesce(i.n_both, 0)
             / CAST(ca.m + cb.m - coalesce(i.n_both, 0) AS DOUBLE), 6)
         AS exact_jaccard
FROM pairs p
JOIN uest u ON u.src_a = p.src_a AND u.src_b = p.src_b
LEFT JOIN inter i ON i.src_a = p.src_a AND i.src_b = p.src_b
JOIN est_src ea ON ea.source = p.src_a
JOIN est_src eb ON eb.source = p.src_b
JOIN counts ca ON ca.source = p.src_a
JOIN counts cb ON cb.source = p.src_b
"""


# ---------------------------------------------------- k-anonymity ladder

KANON_K = 10  # minimum anonymity-set size


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity generalization ladder (Samarati/Sweeney) over the
    corpus quasi-identifiers (lang, source): rows whose
    (lang, source) group is smaller than k={KANON_K} escalate to
    (lang, *); still-small groups escalate to (*, *); a final group
    under k is flagged suppressed — the release audit a training-data
    publisher runs before shipping per-document metadata. Output is
    one row per surviving anonymity set: generalization level,
    (possibly starred) quasi-identifiers, set size, and the ok flag.

    Scale shape: level-0 sizes are ONE hash aggregate on the QI pair;
    escalation is a broadcast join of the (small) under-k group list
    back onto the QI-pair aggregate — NOT onto the corpus: every
    later level re-aggregates the level's group rows (bounded by
    distinct QI combos, not documents), so the corpus is scanned
    once. Exact integer counts; no row-level data leaves the plan."""
    d = load_table(spark, sf_dir, "documents").select("lang", "source")
    c0 = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    ok0 = c0.filter(F.col("n") >= KANON_K).select(
        F.lit(0).alias("level"),
        "lang",
        "source",
        F.col("n").alias("n_rows"),
    )
    esc0 = c0.filter(F.col("n") < KANON_K)
    c1 = esc0.groupBy("lang").agg(F.sum("n").alias("n"))
    ok1 = c1.filter(F.col("n") >= KANON_K).select(
        F.lit(1).alias("level"),
        "lang",
        F.lit("*").alias("source"),
        F.col("n").cast("bigint").alias("n_rows"),
    )
    esc1 = c1.filter(F.col("n") < KANON_K)
    c2 = esc1.agg(F.coalesce(F.sum("n"), F.lit(0)).alias("n")).filter(
        F.col("n") > 0
    )
    lvl2 = c2.select(
        F.lit(2).alias("level"),
        F.lit("*").alias("lang"),
        F.lit("*").alias("source"),
        F.col("n").cast("bigint").alias("n_rows"),
    )
    out = ok0.unionAll(ok1).unionAll(lvl2)
    return out.select(
        "level", "lang", "source", "n_rows",
        (F.col("n_rows") >= KANON_K).alias("ok"),
    )


SQL_K_ANONYMITY = f"""
WITH c0 AS (
  SELECT lang, source, count(*) AS n FROM documents GROUP BY lang, source
),
ok0 AS (
  SELECT 0 AS level, lang, source, n AS n_rows FROM c0 WHERE n >= {KANON_K}
),
c1 AS (
  SELECT lang, CAST(sum(n) AS BIGINT) AS n FROM c0
  WHERE n < {KANON_K} GROUP BY lang
),
ok1 AS (
  SELECT 1 AS level, lang, '*' AS source, n AS n_rows
  FROM c1 WHERE n >= {KANON_K}
),
c2 AS (
  SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n FROM c1
  WHERE n < {KANON_K}
),
lvl2 AS (
  SELECT 2 AS level, '*' AS lang, '*' AS source, n AS n_rows
  FROM c2 WHERE n > 0
)
SELECT level, lang, source, n_rows, n_rows >= {KANON_K} AS ok
FROM (SELECT * FROM ok0 UNION ALL SELECT * FROM ok1
      UNION ALL SELECT * FROM lvl2)
"""


# -------------------------------------------------------- sequence packing

PACK_BUDGET = 256  # tokens per training sequence
PACK_SHARDS = 4  # independent packing lanes per source


def q_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: assign documents (in doc_id order) to
    fixed token-budget training sequences — bin advances when the next
    doc would overflow {PACK_BUDGET} tokens (oversized docs get their
    own bin). The batching step that turns a filtered corpus into
    fixed-length training examples.

    Packing is inherently sequential, so the scale shape BOUNDS the
    sequential extent instead of pretending it away: docs are sharded
    into {PACK_SHARDS} hash lanes per source and each (source, shard)
    lane packs independently — a collect_list + F.aggregate fold, pure
    JVM expression, one task per lane. At 100 TB you size the lane
    count so each lane's array stays bounded (e.g. per
    source × day × 2^k); output bins are keyed by (source, shard) so
    lane-local ids never collide. (An applyInPandas fold is the
    fallback if lanes must exceed expression-fold sizes.)"""
    d = load_table(spark, sf_dir, "documents")
    rows = d.select(
        "doc_id",
        "source",
        F.floor(_hash_u(F.col("doc_id"), "pack:") * PACK_SHARDS)
        .cast("int")
        .alias("shard"),
        F.size(tx.tokens(F.col("text"))).cast("bigint").alias("tok"),
    )
    return _pack_lanes(rows)


def _pack_lanes(rows: DataFrame) -> DataFrame:
    """The greedy per-lane packing fold over (doc_id, source, shard,
    tok) rows — shared by ``q_seq_packing`` (whole corpus) and
    ``q_training_export`` (surviving train split)."""
    lanes = rows.groupBy("source", "shard").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "tok"))).alias("xs")
    )
    out_t = "array<struct<doc_id:bigint,tok:bigint,bin_id:bigint>>"
    seed = F.struct(
        F.lit(0).cast("bigint").alias("acc"),
        F.lit(0).cast("bigint").alias("bin"),
        F.array().cast(out_t).alias("out"),
    )

    def step(s, x):
        overflow = ((s["acc"] + x["tok"]) > PACK_BUDGET) & (s["acc"] > 0)
        nbin = F.when(overflow, s["bin"] + 1).otherwise(s["bin"])
        nacc = F.when(overflow, x["tok"]).otherwise(s["acc"] + x["tok"])
        entry = F.struct(
            x["doc_id"].alias("doc_id"),
            x["tok"].alias("tok"),
            nbin.alias("bin_id"),
        )
        return F.struct(
            nacc.alias("acc"),
            nbin.alias("bin"),
            F.concat(s["out"], F.array(entry)).alias("out"),
        )

    packed = F.aggregate(F.col("xs"), seed, step, lambda s: s["out"])
    return lanes.select(
        "source", "shard", F.explode(packed).alias("p")
    ).select(
        F.col("p.doc_id").alias("doc_id"),
        "source",
        "shard",
        F.col("p.tok").alias("tok"),
        F.col("p.bin_id").alias("bin_id"),
    )


_PACK_U_SQL = (
    f"(({WORD_HASH_SQL.format(x=chr(39) + 'pack:' + chr(39) + ' || CAST(doc_id AS VARCHAR)')})"
    " % 1000000) / 1000000.0"
)

SQL_SEQ_PACKING = f"""
WITH RECURSIVE tl AS (
  SELECT doc_id, source,
         CAST(floor(({_PACK_U_SQL}) * {PACK_SHARDS}) AS INTEGER) AS shard,
         CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT) AS tok
  FROM documents
),
seq AS (
  SELECT *, row_number() OVER (PARTITION BY source, shard ORDER BY doc_id) AS rn
  FROM tl
),
rec AS (
  SELECT doc_id, source, shard, tok, rn,
         tok AS acc, CAST(0 AS BIGINT) AS bin_id
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT s.doc_id, s.source, s.shard, s.tok, s.rn,
         CASE WHEN r.acc + s.tok > {PACK_BUDGET} AND r.acc > 0
              THEN s.tok ELSE r.acc + s.tok END,
         CASE WHEN r.acc + s.tok > {PACK_BUDGET} AND r.acc > 0
              THEN r.bin_id + 1 ELSE r.bin_id END
  FROM rec r
  JOIN seq s ON s.source = r.source AND s.shard = r.shard AND s.rn = r.rn + 1
)
SELECT doc_id, source, shard, tok, bin_id FROM rec
"""


# ---------------------------------------------------------- document chunking

CHUNK_TOKENS = 32
CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for embedding/RAG indexing: fixed
    {CHUNK_TOKENS}-token windows every {CHUNK_STRIDE} tokens (8-token
    overlap), one output row per chunk with its token count and
    content hash. Pure expression — tokenize once as a projected
    column, then a stride `sequence` + `transform` + `explode`; the
    fan-out is bounded by ceil(len/stride) per doc and everything
    stays in whole-stage codegen (no Python, no shuffle before the
    explode)."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", tx.tokens(F.col("text")).alias("w"))
    starts = F.sequence(F.lit(1), F.size("w"), F.lit(CHUNK_STRIDE))
    chunk = lambda i: F.slice(F.col("w"), i, CHUNK_TOKENS)  # noqa: E731
    chunks = F.transform(
        starts,
        lambda i: F.struct(
            F.floor((i - 1) / CHUNK_STRIDE).cast("bigint").alias("chunk_id"),
            F.size(chunk(i)).cast("bigint").alias("n_tokens"),
            F.md5(F.concat_ws(" ", chunk(i))).alias("chunk_hash"),
        ),
    )
    return base.select("doc_id", F.explode(chunks).alias("c")).select(
        "doc_id", "c.chunk_id", "c.n_tokens", "c.chunk_hash"
    )


SQL_DOC_CHUNKS = f"""
WITH {TOKS_CTE}
SELECT doc_id,
       CAST(floor((i - 1) / {CHUNK_STRIDE}) AS BIGINT) AS chunk_id,
       CAST(len(list_slice(w, i, i + {CHUNK_TOKENS - 1})) AS BIGINT) AS n_tokens,
       md5(array_to_string(list_slice(w, i, i + {CHUNK_TOKENS - 1}), ' ')) AS chunk_hash
FROM toks, unnest(generate_series(1, len(w), {CHUNK_STRIDE})) AS t(i)
"""


# ------------------------------------------------------- stratified sampling

SAMPLE_K = 5


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sample: the {SAMPLE_K} lowest
    salted-hash documents per language — a "reservoir" whose
    membership is a pure function of doc_id, so it is identical under
    any partitioning, row order, re-run, or backfill (the property a
    100 TB eval-set draw needs). The per-group top-k plans as one
    window sort with the rank filter pushed down (WindowGroupLimit);
    nothing but (lang, k rows) survives."""
    d = load_table(spark, sf_dir, "documents")
    u = _hash_u(F.col("doc_id"), "sample:")
    w = Window.partitionBy("lang").orderBy("u", "doc_id")
    return (
        d.select("lang", "doc_id", u.alias("u"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= SAMPLE_K)
        .select(
            "lang",
            "doc_id",
            F.round("u", 6).alias("u"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


_SAMPLE_U_SQL = (
    f"(({WORD_HASH_SQL.format(x=chr(39) + 'sample:' + chr(39) + ' || CAST(doc_id AS VARCHAR)')})"
    " % 1000000) / 1000000.0"
)

SQL_STRATIFIED_SAMPLE = f"""
WITH su AS (
  SELECT lang, doc_id, {_SAMPLE_U_SQL} AS u FROM documents
)
SELECT lang, doc_id, round(u, 6) AS u, rank FROM (
  SELECT lang, doc_id, u,
         row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) AS rank
  FROM su
) WHERE rank <= {SAMPLE_K}
"""


# ----------------------------------------------------------------- TF-IDF

TFIDF_TOPK = 5


def q_tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TFIDF_TOPK} terms per document by smoothed TF-IDF
    (idf = ln((N+1)/(df+1)) + 1) — the keyword/feature-extraction pass
    of a corpus pipeline.

    Scale shape: term frequencies collapse map-side before their
    (doc, token) shuffle; document frequencies are a second partial
    agg over the tf table keyed by token — the result is
    vocabulary-sized, so it re-enters as a BROADCAST join (the corpus
    never shuffles for the idf lookup). The per-doc top-k rides one
    window sort with the rank filter pushed down (WindowGroupLimit)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tx.tokens(F.col("text"))).alias("token")
    ).filter(F.col("token").rlike("^[a-z]{2,}$"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf")
            * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + F.lit(1.0)),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TFIDF_TOPK)
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            F.round("tfidf", 6).alias("tfidf"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


SQL_TF_IDF = f"""
WITH {TOKS_CTE},
tok AS (
  SELECT doc_id, t.token
  FROM toks, unnest(w) AS t(token)
  WHERE regexp_matches(t.token, '^[a-z]{{2,}}$')
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
         tf.tf * (ln((n.n_docs + 1) / (dfreq.df + 1)) + 1.0) AS tfidf
  FROM tf JOIN dfreq USING (token), n
)
SELECT doc_id, token, tf, df, round(tfidf, 6) AS tfidf, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, token) AS rank
  FROM scored
) WHERE rank <= {TFIDF_TOPK}
"""


# ----------------------------------------------------- BM25 retrieval scoring

BM25_TERMS = ["join", "hash", "filter", "vector"]
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20


def _bm25_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared BM25 per-doc scorer (doc_id, score_u, n_terms) in
    integer nano-units — consumed by q_bm25_scores (head) and
    q_rrf_fusion (lexical ranking arm). Mechanical extraction; the
    plan/semantics are unchanged from q_bm25_scores' original body."""
    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = d.select(
        "doc_id", F.explode(tx.tokens(F.col("text"))).alias("token")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tf = (
        toks.filter(F.col("token").isin(*BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    stats = dl.agg(
        F.sum("dl").alias("total_dl"), F.count(F.lit(1)).alias("n_docs")
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + BM25_K1 * (
        1.0 - BM25_B
        + BM25_B * (F.col("dl") * F.col("n_docs") / F.col("total_dl"))
    )
    term = idf * F.col("tf") * (BM25_K1 + 1.0) / denom
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(stats))
        .withColumn("term_u", F.round(term * 1e9).cast("bigint"))
    )
    return scored.groupBy("doc_id").agg(
        F.sum("term_u").alias("score_u"),
        F.count(F.lit(1)).alias("n_terms"),
    )


def q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{BM25_TOPK} documents by Okapi BM25 against a fixed query
    term set — the retrieval-side scorer that pairs with the TF-IDF
    feature pass (a training-data pipeline uses exactly this shape to
    mine topical subsets from a corpus).

    Scale shape: the corpus fans out to full parallelism before the
    token explode (one-file inputs otherwise tokenize on a single
    task); term frequencies collapse map-side and only the
    query-term rows survive the filter (|Q| rows per doc, not the
    vocabulary); document frequencies and the (N, total_dl) corpus
    stats are tiny broadcasts; the per-doc score sum happens in
    integer nano-units (each term contribution quantized to 1e-9
    before the groupBy sum) so the result is partition-order-free
    (repo determinism rule — same trick as pagerank); the final top-k
    is a bounded TakeOrderedAndProject, never a global sort."""
    per_doc = _bm25_per_doc(spark, sf_dir)
    return (
        per_doc.orderBy(F.col("score_u").desc(), "doc_id")
        .limit(BM25_TOPK)
        .select(
            "doc_id",
            F.round(F.col("score_u") / 1e9, 6).alias("bm25"),
            "n_terms",
        )
    )


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)

_BM25_CORE_CTES = f"""{TOKS_CTE},
tok AS (SELECT doc_id, t.token FROM toks, unnest(w) AS t(token)),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
       WHERE token IN ({_BM25_TERMS_SQL}) GROUP BY doc_id, token),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
stats AS (SELECT CAST(sum(dl) AS BIGINT) AS total_dl, count(*) AS n_docs
          FROM dl),
scored AS (
  SELECT tf.doc_id,
         CAST(round(
           ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * tf * ({BM25_K1} + 1.0)
           / (tf + {BM25_K1} * (1.0 - {BM25_B}
              + {BM25_B} * (dl.dl * n_docs / total_dl))) * 1e9)
         AS BIGINT) AS term_u
  FROM tf JOIN dl ON tf.doc_id = dl.doc_id
  JOIN dfreq USING (token), stats
),
per_doc AS (
  SELECT doc_id, CAST(sum(term_u) AS BIGINT) AS score_u,
         count(*) AS n_terms
  FROM scored GROUP BY doc_id
)"""

SQL_BM25_SCORES = f"""
WITH {_BM25_CORE_CTES}
SELECT doc_id,
       round(score_u / 1e9, 6) AS bm25,
       n_terms
FROM per_doc
ORDER BY score_u DESC, doc_id LIMIT {BM25_TOPK}
"""


# -------------------------------------------- hybrid retrieval (RRF fusion)

RRF_K = 60  # the standard reciprocal-rank-fusion constant
RRF_POOL = 500  # candidates kept per ranker before fusion
RRF_TOPK = 10


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse a LEXICAL ranking (BM25 over the fixed
    query-term set) with a SEMANTIC ranking (cosine to a
    pseudo-relevance-feedback seed: the best BM25-scoring document
    that has an embedding) via reciprocal-rank fusion —
    rrf(d) = Σ_r 1/({RRF_K} + rank_r(d)) (Cormack et al.), the
    standard way production search combines keyword and vector
    arms without score calibration. Completes the retrieval stack:
    bm25_scores (lexical) + ann_* (vector) + mmr_rerank (diversity)
    now compose through one fusion head.

    Scale shape: each arm keeps only its top {RRF_POOL} candidates
    through a bounded TakeOrderedAndProject (ranks past the pool
    contribute < 1/{RRF_K + RRF_POOL} and are dropped — the
    documented cutoff, not a silent one); the fusion is a full outer
    join of two ≤{RRF_POOL}-row frames plus one bounded head. Ranks
    are positions over integer nano-unit scores (lexical) and
    6dp-rounded cosines (semantic), so both engines order
    identically."""
    # _reuse: lexpool feeds BOTH the lexical-rank branch and the
    # seed/semantic branch — without the barrier the full BM25 corpus
    # pipeline plans and executes twice (measured: 8 documents scans
    # vs the 4 of one bm25_scores pass; the source_overlap_kmv lesson)
    lexpool = _reuse(
        _bm25_per_doc(spark, sf_dir)
        .orderBy(F.col("score_u").desc(), "doc_id")
        .limit(RRF_POOL)
    )
    wl = Window.orderBy(F.col("score_u").desc(), "doc_id")
    lex = lexpool.select(
        "doc_id", F.row_number().over(wl).alias("r_lex")
    )
    e = load_table(spark, sf_dir, "embeddings")
    seed = (
        lexpool.join(e.select(F.col("vec_id").alias("doc_id")), "doc_id")
        .orderBy(F.col("score_u").desc(), "doc_id")
        .limit(1)
        .select(F.col("doc_id").alias("seed_id"))
    )
    qe = seed.join(
        e.select(F.col("vec_id").alias("seed_id"), F.col("embedding").alias("qe")),
        "seed_id",
    )
    semscored = e.crossJoin(F.broadcast(qe)).filter(
        F.col("vec_id") != F.col("seed_id")
    ).select(
        F.col("vec_id").alias("doc_id"),
        F.round(sim_ops.cosine(F.col("qe"), F.col("embedding")), 6).alias(
            "cs"
        ),
    )
    sempool = semscored.orderBy(F.col("cs").desc(), "doc_id").limit(RRF_POOL)
    ws = Window.orderBy(F.col("cs").desc(), "doc_id")
    sem = sempool.select("doc_id", F.row_number().over(ws).alias("r_sem"))
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        "r_lex",
        "r_sem",
        (
            F.coalesce(1.0 / (F.lit(RRF_K) + F.col("r_lex")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("r_sem")), F.lit(0.0))
        ).alias("rrf_raw"),
    )
    return (
        fused.orderBy(F.col("rrf_raw").desc(), "doc_id")
        .limit(RRF_TOPK)
        .select(
            "doc_id", "r_lex", "r_sem", F.round("rrf_raw", 6).alias("rrf")
        )
    )


SQL_RRF_FUSION = f"""
WITH {_BM25_CORE_CTES},
lexpool AS (
  SELECT doc_id, score_u FROM per_doc
  ORDER BY score_u DESC, doc_id LIMIT {RRF_POOL}
),
lex AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score_u DESC, doc_id) AS r_lex
  FROM lexpool
),
seed AS (
  SELECT l.doc_id AS seed_id FROM lexpool l
  JOIN embeddings e ON e.vec_id = l.doc_id
  ORDER BY l.score_u DESC, l.doc_id LIMIT 1
),
qe AS (
  SELECT e.embedding AS qe, s.seed_id FROM embeddings e
  JOIN seed s ON e.vec_id = s.seed_id
),
semscored AS (
  SELECT e.vec_id AS doc_id,
         round({_cos_sql('q.qe', 'e.embedding')}, 6) AS cs
  FROM embeddings e CROSS JOIN qe q
  WHERE e.vec_id <> q.seed_id
),
sempool AS (
  SELECT doc_id, cs FROM semscored ORDER BY cs DESC, doc_id LIMIT {RRF_POOL}
),
sem AS (
  SELECT doc_id, row_number() OVER (ORDER BY cs DESC, doc_id) AS r_sem
  FROM sempool
),
fused AS (
  SELECT coalesce(l.doc_id, s.doc_id) AS doc_id, l.r_lex, s.r_sem,
         coalesce(1.0 / ({RRF_K} + l.r_lex), 0.0)
           + coalesce(1.0 / ({RRF_K} + s.r_sem), 0.0) AS rrf_raw
  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
)
SELECT doc_id, r_lex, r_sem, round(rrf_raw, 6) AS rrf
FROM fused ORDER BY rrf_raw DESC, doc_id LIMIT {RRF_TOPK}
"""


# ------------------------------------------------- trigram language-model head

TRIGRAM_TOPK = 50


def q_trigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head of a count-based trigram language model: the
    {TRIGRAM_TOPK} most frequent trigrams with their conditional
    probability P(w3 | w1 w2) = c(w1w2w3) / Σ_w c(w1w2·w) — the
    statistic a corpus-quality pipeline uses to spot templated text
    and the building block of KN-style smoothing.

    Scale shape: trigram strings reuse the shingle kernel
    (operators/text.py:shingles — 1-indexed to mirror SQL list
    indexing, so both engines enumerate identical grams); the corpus
    is repartitioned to full parallelism BEFORE the explode so the
    CPU-heavy gram enumeration never runs on a one-file input's
    single task (the corpus_pipeline stage-barrier lesson, measured:
    single-task explode was 9 s at sf0.1 and linear at 10×); counts
    partial-aggregate map-side into a vocabulary-sized table; the
    context denominator is ONE window sum keyed by the (w1, w2)
    prefix (no second corpus pass); the conditional probability is an
    exact-integer ratio — deterministic under any partitioning; the
    head is a bounded TakeOrderedAndProject."""
    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    # project the token array as a REAL column before shingling:
    # expressions inside higher-order-function lambdas re-evaluate per
    # element (no CSE across lambda bounds), so an inlined
    # tokens(text) would re-split the whole document for every one of
    # its shingles — O(n_words · doc_len) per doc (the char_shingles
    # rule; measured here: 8.7 s -> 3.1 s warm at sf0.1)
    w = d.select(tx.tokens(F.col("text")).alias("w"))
    g3 = w.select(F.explode(tx.shingles(F.col("w"), 3)).alias("g3"))
    counts = g3.groupBy("g3").agg(F.count(F.lit(1)).alias("cnt"))
    ctx = F.substring_index("g3", " ", 2)
    probs = counts.withColumn(
        "ctx_total",
        F.sum("cnt").over(Window.partitionBy(ctx)),
    )
    return (
        probs.orderBy(F.col("cnt").desc(), "g3")
        .limit(TRIGRAM_TOPK)
        .select(
            "g3",
            "cnt",
            "ctx_total",
            F.round(F.col("cnt") / F.col("ctx_total"), 6).alias("cond_p"),
        )
    )


SQL_TRIGRAM_LM = f"""
WITH {TOKS_CTE},
g3 AS (
  SELECT unnest(list_transform(generate_series(1, len(w) - 2),
                               i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]))
           AS g3
  FROM toks
),
counts AS (SELECT g3, count(*) AS cnt FROM g3 GROUP BY g3),
probs AS (
  SELECT g3, cnt,
         CAST(sum(cnt) OVER (
           PARTITION BY array_to_string(string_split(g3, ' ')[1:2], ' ')
         ) AS BIGINT) AS ctx_total
  FROM counts
)
SELECT g3, cnt, ctx_total,
       round(cnt / CAST(ctx_total AS DOUBLE), 6) AS cond_p
FROM probs ORDER BY cnt DESC, g3 LIMIT {TRIGRAM_TOPK}
"""


PPL_KEEP_MAX = 45.0  # perplexity filter cut (CCNet-style keep rule)
_BO = 0.4  # stupid-backoff discount


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-based quality filter (the CCNet recipe): train a
    count trigram LM with stupid backoff on half the corpus (even
    doc_ids), score every held-out doc's trigram stream, keep docs
    whose perplexity clears the cut — templated/gibberish text scores
    high and drops.

    Scale shape: the three count tables are vocabulary-sized partial
    aggregates; scoring is an explode + FOUR hash equi-joins of the
    eval trigram stream against them (at 100 TB the gram keys would
    hash to fixed-width ints — same layout, narrower shuffle); every
    per-trigram log-prob quantizes to integer micro-units before the
    per-doc sum, so the scores are partition-order-free. N/V are two
    driver scalars. Backoff: P = c3/c2(prefix), else 0.4·c2(w2w3)/
    c1(w2), else 0.16·(c1(w3)+1)/(N+V)."""
    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    w = tx.tokens(F.col("text"))
    train = d.filter(F.col("doc_id") % 2 == 0).select(w.alias("w"))
    c3 = (
        train.select(F.explode(tx.shingles(F.col("w"), 3)).alias("g"))
        .groupBy("g").agg(F.count(F.lit(1)).alias("c3"))
    )
    # c2 feeds two join sides (prefix + backoff bigram) and c1 feeds
    # two joins plus the N/V collect — persist both so the train-half
    # tokenize+explode+aggregate runs once per table, not per consumer
    c2 = _reuse(
        train.select(F.explode(tx.shingles(F.col("w"), 2)).alias("g"))
        .groupBy("g").agg(F.count(F.lit(1)).alias("c2"))
    )
    c1 = _reuse(
        train.select(F.explode("w").alias("g"))
        .groupBy("g").agg(F.count(F.lit(1)).alias("c1"))
    )
    tot = c1.agg(
        F.sum("c1").alias("n"), F.count(F.lit(1)).alias("v")
    ).collect()[0]
    n_plus_v = int(tot["n"]) + int(tot["v"])

    ev = d.filter(F.col("doc_id") % 2 == 1).select("doc_id", w.alias("w"))
    idx = F.when(
        F.size("w") >= 3, F.sequence(F.lit(1), F.size("w") - 2)
    ).otherwise(F.array().cast("array<int>"))
    e = lambda off: F.element_at(F.col("w"), F.col("i") + off)  # noqa: E731
    tri = ev.select("doc_id", F.explode(idx).alias("i"), "w").select(
        "doc_id",
        F.concat_ws(" ", e(0), e(1), e(2)).alias("g3"),
        F.concat_ws(" ", e(0), e(1)).alias("g2p"),
        F.concat_ws(" ", e(1), e(2)).alias("g2b"),
        e(1).alias("w2"),
        e(2).alias("w3"),
    )
    j = (
        tri.join(c3.withColumnRenamed("g", "g3"), "g3", "left")
        .join(
            c2.select(F.col("g").alias("g2p"), F.col("c2").alias("c2p")),
            "g2p", "left",
        )
        .join(
            c2.select(F.col("g").alias("g2b"), F.col("c2").alias("c2b")),
            "g2b", "left",
        )
        .join(
            c1.select(F.col("g").alias("w2"), F.col("c1").alias("c1_2")),
            "w2", "left",
        )
        .join(
            c1.select(F.col("g").alias("w3"), F.col("c1").alias("c1_3")),
            "w3", "left",
        )
    )
    s = (
        F.when(F.col("c3").isNotNull(), F.col("c3") / F.col("c2p"))
        .when(
            F.col("c2b").isNotNull(),
            F.lit(_BO) * (F.col("c2b") / F.col("c1_2")),
        )
        .otherwise(
            F.lit(_BO * _BO)
            * ((F.coalesce("c1_3", F.lit(0)) + 1) / F.lit(n_plus_v))
        )
    )
    scored = j.select(
        "doc_id", F.round(F.log(s) * 1e6).cast("bigint").alias("lp")
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.sum("lp").alias("logp_micro"),
    )
    ppl = F.round(
        F.exp(-(F.col("logp_micro") / (F.lit(1e6) * F.col("n_trigrams")))), 6
    )
    return agg.select(
        "doc_id",
        "n_trigrams",
        "logp_micro",
        ppl.alias("ppl"),
        (ppl <= PPL_KEEP_MAX).alias("keep"),
    )


SQL_LM_PERPLEXITY = f"""
WITH {TOKS_CTE},
train AS MATERIALIZED (SELECT w FROM toks WHERE doc_id % 2 = 0),
c3 AS MATERIALIZED (
  SELECT g, count(*) AS c3 FROM (
    SELECT unnest(list_transform(generate_series(1, len(w) - 2),
                  i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS g
    FROM train) GROUP BY g
),
c2 AS MATERIALIZED (
  SELECT g, count(*) AS c2 FROM (
    SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                  i -> w[i] || ' ' || w[i + 1])) AS g
    FROM train) GROUP BY g
),
c1 AS MATERIALIZED (
  SELECT g, count(*) AS c1 FROM (
    SELECT unnest(w) AS g FROM train) GROUP BY g
),
nv AS MATERIALIZED (
  SELECT CAST(sum(c1) AS BIGINT) + count(*) AS n_plus_v FROM c1
),
tri AS (
  SELECT doc_id,
         w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS g3,
         w[i] || ' ' || w[i + 1] AS g2p,
         w[i + 1] || ' ' || w[i + 2] AS g2b,
         w[i + 1] AS w2, w[i + 2] AS w3
  FROM (SELECT doc_id, w,
               unnest(generate_series(1, len(w) - 2)) AS i
        FROM toks WHERE doc_id % 2 = 1)
),
scored AS (
  SELECT t.doc_id,
         CAST(round(ln(
           CASE WHEN x3.c3 IS NOT NULL THEN x3.c3 / p2.c2
                WHEN b2.c2 IS NOT NULL
                  THEN {_BO} * (b2.c2 / u2.c1)
                ELSE {_BO * _BO} *
                     ((coalesce(u3.c1, 0) + 1) / nv.n_plus_v)
           END) * 1e6) AS BIGINT) AS lp
  FROM tri t
  CROSS JOIN nv
  LEFT JOIN c3 x3 ON x3.g = t.g3
  LEFT JOIN c2 p2 ON p2.g = t.g2p
  LEFT JOIN c2 b2 ON b2.g = t.g2b
  LEFT JOIN c1 u2 ON u2.g = t.w2
  LEFT JOIN c1 u3 ON u3.g = t.w3
)
SELECT doc_id, count(*) AS n_trigrams,
       CAST(sum(lp) AS BIGINT) AS logp_micro,
       round(exp(-(CAST(sum(lp) AS DOUBLE) / (1e6 * count(*)))), 6) AS ppl,
       round(exp(-(CAST(sum(lp) AS DOUBLE) / (1e6 * count(*)))), 6)
         <= {PPL_KEEP_MAX} AS keep
FROM scored GROUP BY doc_id
"""


# ------------------------------------------------------------ k-means (Lloyd)

KM_K = 8
KM_ITERS = 2  # centroid updates; assignments = KM_ITERS + 1


def _km_assign(emb: DataFrame, cents: list[tuple[int, list[float]]]) -> DataFrame:
    """Assign every vector to its nearest centroid (squared L2,
    tie-break on cluster id). Centroids arrive as driver-side Python
    floats and are BROADCAST — the MLlib k-means layout: per iteration
    the big side is scanned once, only k×dim numbers move."""
    spark = emb.sparkSession
    cdf = spark.createDataFrame(
        [(cid, vec) for cid, vec in cents], "cid int, c array<double>"
    )
    dist = F.aggregate(
        F.zip_with(F.col("e"), F.col("c"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = emb.crossJoin(F.broadcast(cdf)).select(
        "vec_id", "e", "cid", dist.alias("dist")
    )
    rk = F.row_number().over(Window.partitionBy("vec_id").orderBy("dist", "cid"))
    return scored.withColumn("rk", rk).where(F.col("rk") == 1)


def _km_fit_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means fit + final assignment, shared by ``q_kmeans``
    and ``q_semantic_dedup``: per round one broadcast-join scan + one
    partial-aggregated groupBy; k×dim doubles return to the driver and
    go back out as the next round's broadcast. Nothing but the k-row
    centroid table ever leaves the executors, so the shape is
    unchanged at 100 TB. Returns (vec_id, e, cid, dist) with ``e``
    kept so downstream consumers can reuse the parsed vectors.

    Determinism (for the DuckDB oracle, which unrolls the same
    iterations as CTEs): centroid updates fold member vectors in
    vec_id order — left-to-right double folds are bit-identical on
    both engines, so nearest-centroid argmins agree exactly; floats
    are only rounded at the output edge."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
        )
        # materialize the parsed vectors ONCE: every Lloyd round (and
        # the final assignment) re-reads this frame, and re-scanning
        # parquet + re-casting per round costs more than the one
        # executor-local write (the standard iterative-ML input cache;
        # measured 7.0 -> 3.4 s cold at sf0.1)
        .localCheckpoint()
    )
    cents = _lloyd_cents(emb, KM_K, KM_ITERS)
    return _km_assign(emb, cents).select("vec_id", "e", "cid", "dist")


def _lloyd_cents(
    emb: DataFrame, k: int, iters: int
) -> list[tuple[int, list[float]]]:
    """The Lloyd centroid loop shared by ``q_kmeans``/``q_semantic_dedup``
    (k=KM_K) and the IVF coarse-quantizer head (k=NLIST): seeds = the
    k lowest-vec_id vectors, per round one broadcast-assign scan +
    one vec_id-ordered-fold groupBy. ``emb`` must carry
    (vec_id, e array<double>) and should be checkpointed by the
    caller — every round re-reads it."""
    seeds = sorted(
        emb.orderBy("vec_id").limit(k).collect(), key=lambda r: r["vec_id"]
    )
    cents = [(i, list(r["e"])) for i, r in enumerate(seeds)]
    dim = len(cents[0][1])
    for _ in range(iters):
        assign = _km_assign(emb, cents)
        members = assign.groupBy("cid").agg(
            F.sort_array(F.collect_list(F.struct("vec_id", "e"))).alias("ms"),
            F.count(F.lit(1)).alias("n"),
        )
        new_c = F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda d: F.aggregate(
                F.col("ms"),
                F.lit(0.0),
                lambda acc, x: acc + F.element_at(x["e"], d),
            )
            / F.col("n"),
        )
        rows = members.select("cid", new_c.alias("c")).collect()
        cents = sorted((r["cid"], list(r["c"])) for r in rows)
    return cents


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means clustering of the embedding corpus ({KM_K} clusters,
    {KM_ITERS} Lloyd iterations, deterministic init = the {KM_K}
    lowest vec_ids) — the coarse-quantizer trainer behind an IVF ANN
    index, and the canonical iterative algorithm on Spark (see
    `_km_fit_assign` for the per-round shape and determinism notes)."""
    return _km_fit_assign(spark, sf_dir).select(
        "vec_id",
        F.col("cid").alias("cluster"),
        F.round("dist", 6).alias("dist"),
    )


def _km_dist_sql(e: str, c: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0, list_transform(generate_series(1, {EMB_DIM}), "
        f"i -> ({e}[i] - {c}[i]) * ({e}[i] - {c}[i]))), (acc, x) -> acc + x)"
    )


def _km_assign_cte(n: int, cent: str) -> str:
    return f"""a{n} AS (
  SELECT vec_id, e, cid, dist,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
  FROM (SELECT m.vec_id, m.e, c.cid, {_km_dist_sql('m.e', 'c.c')} AS dist
        FROM emb m CROSS JOIN {cent} c))"""


def _km_cent_cte(n: int, prev_a: str) -> str:
    return f"""cent{n} AS (
  SELECT cid, list_transform(generate_series(1, {EMB_DIM}), d ->
           list_reduce(list_prepend(0.0, list_transform(ms, e -> e[d])),
                       (acc, x) -> acc + x) / n) AS c
  FROM (SELECT cid, list(e ORDER BY vec_id) AS ms, count(*) AS n
        FROM {prev_a} WHERE rk = 1 GROUP BY cid))"""


def _km_ctes() -> list[str]:
    """The unrolled-Lloyd CTE prefix shared by the kmeans and
    semantic-dedup oracles; final assignment lives in
    ``a{KM_ITERS + 1}`` (filter ``rk = 1``)."""
    parts = [
        """emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings)""",
        f"""cent0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, e AS c
  FROM (SELECT vec_id, e FROM emb ORDER BY vec_id LIMIT {KM_K}))""",
    ]
    for it in range(KM_ITERS):
        parts.append(_km_assign_cte(it + 1, f"cent{it}"))
        parts.append(_km_cent_cte(it + 1, f"a{it + 1}"))
    parts.append(_km_assign_cte(KM_ITERS + 1, f"cent{KM_ITERS}"))
    return parts


SQL_KMEANS = (
    "WITH "
    + ",\n".join(_km_ctes())
    + f"\nSELECT vec_id, cid AS cluster, round(dist, 6) AS dist"
    f" FROM a{KM_ITERS + 1} WHERE rk = 1"
)


# ------------------------------------------------- semantic dedup (SemDeDup)

# calibrated against the synthetic corpus: within-cluster cosine p99 is
# ~0.33 and the max ~0.51 (both SFs), so 0.35 flags the true top tail
# without degenerating to all-false or all-true
SEMDEDUP_MIN_COS = 0.35


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding corpus with k-means, then
    search for cosine near-duplicates ONLY within each cluster — the
    cluster assignment is the blocking key that turns an O(n²) corpus
    scan into bounded per-cluster blocks. Per the paper's keep rule,
    when two cluster-mates exceed the similarity threshold the vector
    FARTHER from the centroid is kept (it preserves diversity) and the
    closer one is marked duplicate; ties break on vec_id.

    Scale shape: k-means is the broadcast-per-round Lloyd loop
    (`_km_fit_assign`); at web scale k grows with n (SemDeDup uses
    ~100k clusters) so expected cluster size stays constant, and any
    straggler cluster above NEARDUP_MAX_BLOCK rows is additionally
    split into 2^NEARDUP_SLICE_BITS hyperplane-LSH slices — the same
    bounded-block guarantee `q_embedding_neardup` proves
    (tests/test_neardup_blocking.py). The pair search stays a pure
    equi-join on (cluster, sub): shuffle-partitioned, skew-capped,
    no cross join.
    """
    # the assignment subtree (broadcast-centroid cross + argmin window)
    # is read by counts, BOTH self-join sides, and the final left join —
    # checkpoint it once instead of recomputing it ~3x (same pattern as
    # the parsed-embedding cache inside _km_fit_assign)
    asgn = _km_fit_assign(spark, sf_dir).localCheckpoint()
    blocked = sim_ops.hot_block_slice(
        asgn, "cid", "e", EMB_DIM, NEARDUP_MAX_BLOCK, NEARDUP_SLICE_BITS
    ).withColumn("nrm", sim_ops.norm(F.col("e"))).select(
        "vec_id", "cid", "sub", "dist", "e", "nrm"
    )
    b = blocked.alias("b")
    p = blocked.alias("p")
    # "p precedes b" = p is kept over b: farther from centroid first,
    # vec_id as the deterministic tiebreak (raw dists compare exactly —
    # both engines produce bit-identical fold results)
    dups = (
        b.join(
            p,
            (F.col("b.cid") == F.col("p.cid"))
            & (F.col("b.sub") == F.col("p.sub"))
            & (
                (F.col("p.dist") > F.col("b.dist"))
                | (
                    (F.col("p.dist") == F.col("b.dist"))
                    & (F.col("p.vec_id") < F.col("b.vec_id"))
                )
            ),
        )
        .where(
            F.round(
                sim_ops.cosine_with_norms(
                    F.col("b.e"), F.col("p.e"), F.col("b.nrm"), F.col("p.nrm")
                ),
                6,
            )
            >= SEMDEDUP_MIN_COS
        )
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        asgn.join(dups, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cid").alias("cluster"),
            F.round("dist", 6).alias("dist"),
            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
        )
    )


SQL_SEMANTIC_DEDUP = (
    "WITH "
    + ",\n".join(_km_ctes())
    + f""",
asgn AS (
  SELECT vec_id, e, cid, dist FROM a{KM_ITERS + 1} WHERE rk = 1
),
counts AS (SELECT cid, count(*) AS cn FROM asgn GROUP BY cid),
blocked AS (
  SELECT a.vec_id, a.e, a.cid, a.dist,
         CASE WHEN c.cn > {NEARDUP_MAX_BLOCK}
              THEN {_bucket_sql('a.e', NEARDUP_SLICE_BITS)} + 1
              ELSE 0 END AS sub
  FROM asgn a JOIN counts c ON a.cid = c.cid
),
dups AS (
  SELECT DISTINCT b.vec_id
  FROM blocked b JOIN blocked p
    ON b.cid = p.cid AND b.sub = p.sub
   AND (p.dist > b.dist OR (p.dist = b.dist AND p.vec_id < b.vec_id))
  WHERE round({_cos_sql('b.e', 'p.e')}, 6) >= {SEMDEDUP_MIN_COS}
)
SELECT a.vec_id, a.cid AS cluster, round(a.dist, 6) AS dist,
       (d.vec_id IS NOT NULL) AS is_dup
FROM asgn a LEFT JOIN dups d ON a.vec_id = d.vec_id
"""
)


# ------------------------------------------------- corpus shuffle / sharding

N_SHARDS = 8
SHUFFLE_SALT = "epoch0"


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle + sharding — the
    between-epochs reshuffle every training-data pipeline needs: each
    doc gets a pseudorandom 60-bit key md5(salt ‖ doc_id), its shard is
    key mod N_SHARDS, and its position is the rank of (key, doc_id)
    within the shard. Changing SHUFFLE_SALT (e.g. per epoch) yields an
    independent permutation; the same salt reproduces it exactly on any
    engine or rerun — no RNG state to checkpoint.

    Scale shape: one narrow projection, one hash exchange on shard,
    one per-shard sort for the rank. No global sort and no driver
    state; at 100 TB the shard count grows with the corpus (target
    shard bytes held constant) so the per-shard sorts stay bounded and
    embarrassingly parallel — this is exactly the layout a sharded
    tfrecord/parquet training export wants to write."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    key = F.conv(
        F.substring(
            F.md5(F.concat_ws("-", F.lit(SHUFFLE_SALT), F.col("doc_id"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    shuf = d.select("doc_id", key.alias("skey"))
    w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    return (
        shuf.withColumn("shard", (F.col("skey") % N_SHARDS).cast("int"))
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "shard", "pos")
    )


SQL_CORPUS_SHUFFLE = f"""
WITH shuf AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(concat('{SHUFFLE_SALT}', '-',
                CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS skey
  FROM documents
)
SELECT doc_id, CAST(skey % {N_SHARDS} AS INTEGER) AS shard,
       CAST(row_number() OVER (PARTITION BY skey % {N_SHARDS}
                               ORDER BY skey, doc_id) AS INTEGER) AS pos
FROM shuf
"""


PASSAGE_W = 8  # words per passage window


def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (passage-level) dedup stats — the FineWeb-style
    granularity below whole-document dedup: split every doc into
    PASSAGE_W-word windows (map-side array expressions, no shuffle),
    md5 each, mark every passage whose hash first occurred at an
    earlier (doc_id, pidx), and roll up per doc.

    Scale shape: passage construction is expression-only; the dedup
    itself is one groupBy(phash) partial-agg min (first-seen key) +
    one equi-join back + one groupBy(doc_id) — hash-partitioned all
    the way, no window over the corpus, no skew key (md5 is uniform).
    """
    d = load_table(spark, sf_dir, "documents")
    p = tx.passage_hashes(d, "doc_id", "text", width=PASSAGE_W)
    first_seen = p.groupBy("phash").agg(F.min("pkey").alias("first_key"))
    marked = p.join(first_seen, "phash").select(
        "doc_id", (F.col("pkey") != F.col("first_key")).alias("is_dup")
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_passages"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias("n_dup"),
        F.round(
            1.0
            - F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("uniq_ratio"),
    )


# Shared oracle twin of operators/text.py:passage_hashes — interpolated
# into every passage-family oracle so the SQL side has ONE definition of
# passage construction, mirroring the shared Spark kernel (a change to
# width/pkey semantics edits exactly one string on each side).
PASSAGE_P_CTE = f"""base AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
p AS (
  SELECT doc_id, i.g AS pidx,
         md5(array_to_string(w[(i.g*{PASSAGE_W}+1):((i.g+1)*{PASSAGE_W})], ' ')) AS phash,
         doc_id * 1000000 + i.g AS pkey
  FROM base,
       unnest(generate_series(0, CAST(ceil(len(w) / {PASSAGE_W}.0) AS INT) - 1)) AS i(g)
  WHERE len(w) > 0
),
first_seen AS (
  SELECT phash, min(pkey) AS first_key FROM p GROUP BY phash
)"""

SQL_PASSAGE_DEDUP = f"""
WITH {PASSAGE_P_CTE}
SELECT p.doc_id,
       count(*) AS n_passages,
       CAST(sum(CASE WHEN p.pkey <> f.first_key THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       round(1.0 - sum(CASE WHEN p.pkey <> f.first_key THEN 1 ELSE 0 END)
                   / CAST(count(*) AS DOUBLE), 6) AS uniq_ratio
FROM p JOIN first_seen f ON p.phash = f.phash
GROUP BY p.doc_id
"""


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-SPAN extraction below passage granularity: contiguous
    runs of duplicate {PASSAGE_W}-word passages per doc, as
    (doc_id, span_idx, start/end passage + word offsets, length) — the
    RefinedWeb-style "cut the copied span, keep the rest" unit, one
    step finer than q_passage_dedup's per-doc ratios.

    Shape: the shared passage-hash kernel + the same first-seen
    groupBy/join, then gaps-and-islands per doc (pidx − row_number
    island key). Both windows partition by doc_id — per-doc bounded,
    never corpus-wide — so the plan is the passage-dedup plan plus two
    cheap per-doc windows."""
    d = load_table(spark, sf_dir, "documents")
    p = tx.passage_hashes(d, "doc_id", "text", width=PASSAGE_W)
    first_seen = p.groupBy("phash").agg(F.min("pkey").alias("first_key"))
    dup = (
        p.join(first_seen, "phash")
        .filter(F.col("pkey") != F.col("first_key"))
        .select("doc_id", "pidx")
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pidx")
    grp = (F.col("pidx") - F.row_number().over(wdoc)).alias("grp")
    spans = (
        dup.select("doc_id", "pidx", grp)
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pidx").alias("start_pidx"),
            F.max("pidx").alias("end_pidx"),
            F.count(F.lit(1)).alias("n_dup_passages"),
        )
    )
    wspan = Window.partitionBy("doc_id").orderBy("start_pidx")
    return spans.select(
        "doc_id",
        F.row_number().over(wspan).alias("span_idx"),
        "start_pidx",
        "end_pidx",
        "n_dup_passages",
        (F.col("start_pidx") * PASSAGE_W).alias("start_word"),
        ((F.col("end_pidx") + 1) * PASSAGE_W).alias("end_word_bound"),
    )


SQL_DUP_SPANS = f"""
WITH {PASSAGE_P_CTE},
dup AS (
  SELECT p.doc_id, p.pidx
  FROM p JOIN first_seen f ON p.phash = f.phash
  WHERE p.pkey <> f.first_key
),
islands AS (
  SELECT doc_id, pidx,
         pidx - row_number() OVER (PARTITION BY doc_id ORDER BY pidx) AS grp
  FROM dup
),
spans AS (
  SELECT doc_id, grp, min(pidx) AS start_pidx, max(pidx) AS end_pidx,
         count(*) AS n_dup_passages
  FROM islands GROUP BY doc_id, grp
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_pidx)
            AS BIGINT) AS span_idx,
       start_pidx, end_pidx, n_dup_passages,
       start_pidx * {PASSAGE_W} AS start_word,
       (end_pidx + 1) * {PASSAGE_W} AS end_word_bound
FROM spans
"""


# ------------------------------------------------ exact substring dedup

SUBSTR_L = 40  # minimum duplicated-substring length, in characters


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better", the ExactSubstr variant): a
    character position is duplicated iff the length-{SUBSTR_L} substring
    starting there occurs at ANY other position in the corpus (same or
    another doc); maximal runs of duplicated positions are merged into
    spans — the "cut the copied span" unit — and rolled up per doc as
    (n_spans, dup_chars, dup_frac). Finer than q_passage_dedup /
    q_dup_spans, which chunk at fixed {PASSAGE_W}-word passage
    boundaries and miss copies that straddle them; stride-1 character
    windows catch every exact repeat ≥ {SUBSTR_L} chars at its exact
    boundaries, which is what the suffix-array formulation computes.

    Scale shape (the Spark-native stand-in for the paper's suffix
    array): a suffix's membership in a duplicated group is decided by
    its first {SUBSTR_L} characters, so grouping the md5 of each
    length-{SUBSTR_L} window IS the prefix-bucketed suffix-group join —
    never all-pairs, never a global sort. The exploded frame is
    O(corpus chars) rows of 16-byte hashes (the one linear blowup the
    algorithm inherently needs); the hot-window set shrinks it to
    duplicated positions only, and both the island merge and the
    rollup window partition BY DOC — corpus-wide state never exceeds
    the per-hash counts. 10× replica smoke in SCALE.md pins the
    non-quadratic growth.

    Determinism: window identity is the exact substring (md5 on both
    engines — same function, same hex output, collision-identical by
    construction); spans are integer arithmetic; only dup_frac rounds."""
    L = SUBSTR_L
    d = load_table(spark, sf_dir, "documents")
    pos = _reuse(_substr_windows(d, L))
    hot = pos.groupBy("h").agg(F.count(F.lit(1)).alias("n")).filter(
        F.col("n") > 1
    )
    dup = pos.join(hot.select("h"), "h").select("doc_id", "i")
    return _substr_rollup(d, dup, L)


def _substr_windows(d: DataFrame, L: int) -> DataFrame:
    """(doc_id, i, h): the md5 of every stride-1 length-L character
    window — the suffix-prefix bucket key. Repartitions to full
    parallelism BEFORE the explode (the trigram_lm scale lesson,
    SCALE.md "Measured scale behavior": exploding off a one-file scan
    leaves ONE task enumerating the whole corpus — measured 51.9 s vs
    7.1 s cold at the 10× replica for this very query)."""
    par = d.sparkSession.sparkContext.defaultParallelism
    return (
        d.repartition(par, "doc_id")
        .filter(F.length("text") >= L)
        .select(
            "doc_id",
            F.explode(
                F.expr(f"sequence(1, length(text) - {L} + 1)")
            ).alias("i"),
            "text",
        )
        .select(
            "doc_id", "i", F.md5(F.expr(f"substring(text, i, {L})")).alias("h")
        )
    )


def _substr_rollup(docs: DataFrame, dup: DataFrame, L: int) -> DataFrame:
    """Duplicated positions → maximal spans → per-doc stats, shared by
    the full-corpus and persisted-ingest variants. Both windows
    partition BY DOC — never corpus-wide state."""
    wdoc = Window.partitionBy("doc_id").orderBy("i")
    # same-length intervals [i, i+L-1]: a new island starts when the
    # gap to the previous duplicated position exceeds L (no overlap,
    # not even touching)
    brk = F.when(
        F.coalesce(F.col("i") - F.lag("i").over(wdoc), F.lit(L + 1)) > L, 1
    ).otherwise(0)
    isl = dup.select(
        "doc_id",
        "i",
        F.sum(brk).over(
            wdoc.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("g"),
    )
    spans = isl.groupBy("doc_id", "g").agg(
        F.min("i").alias("s"), F.max("i").alias("e")
    )
    stats = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + F.lit(L)).alias("dup_chars"),
    )
    return (
        docs.select(
            "doc_id", F.length("text").cast("bigint").alias("n_chars")
        )
        .join(stats, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("dup_chars", F.lit(0))
            .cast("bigint")
            .alias("dup_chars"),
            F.round(
                F.coalesce("dup_chars", F.lit(0)) / F.col("n_chars"), 6
            ).alias("dup_frac"),
        )
    )


SQL_SUBSTRING_DEDUP = f"""
WITH pos AS (
  SELECT doc_id, i, md5(substr(text, i, {SUBSTR_L})) AS h
  FROM documents, LATERAL unnest(
    generate_series(1, length(text) - {SUBSTR_L} + 1)) AS u(i)
  WHERE length(text) >= {SUBSTR_L}
),
hot AS (SELECT h FROM pos GROUP BY 1 HAVING count(*) > 1),
dup AS (SELECT doc_id, i FROM pos JOIN hot USING (h)),
lagged AS (
  SELECT doc_id, i,
         lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev_i
  FROM dup
),
isl AS (
  SELECT doc_id, i,
         sum(CASE WHEN prev_i IS NULL OR i - prev_i > {SUBSTR_L}
                  THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY i) AS g
  FROM lagged
),
spans AS (SELECT doc_id, g, min(i) AS s, max(i) AS e FROM isl GROUP BY 1, 2),
stats AS (
  SELECT doc_id, count(*) AS n_spans,
         sum(e - s + {SUBSTR_L}) AS dup_chars
  FROM spans GROUP BY 1
)
SELECT d.doc_id,
       CAST(length(d.text) AS BIGINT) AS n_chars,
       CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(s.dup_chars, 0) AS BIGINT) AS dup_chars,
       round(coalesce(s.dup_chars, 0) / length(d.text), 6) AS dup_frac
FROM documents d LEFT JOIN stats s USING (doc_id)
"""


def build_substr_state(
    spark: SparkSession, sf_dir: str, state_dir: str
) -> tuple[str, int]:
    """Materialize the exact-substring WINDOW-HASH LEDGER the daily
    ingest story reads — the ExactSubstr member of the
    persisted-ingest-state family (exact hash table → LSH band table →
    IVF/PQ index → passage ledger → substring-window ledger): the
    distinct window hashes ``h`` of history, ingested over two days by
    :func:`_two_day_ingest` into ``raw`` and compacted into ``ledger``.

    Returns (ledger_dir, cut). The ledger holds 16-byte hashes only —
    at 100 TB it is the compacted corpus-windows hash table; a probe
    never re-reads historical TEXT."""
    d = load_table(spark, sf_dir, "documents")
    cut = _incr_cut(d, "doc_id")

    def hashes(ids) -> DataFrame:
        return _substr_windows(d.filter(ids), SUBSTR_L).select("h").distinct()

    ledger_dir = _two_day_ingest(
        spark, state_dir, cut, "doc_id", "h", hashes, compact="ledger"
    )
    return ledger_dir, cut


def substring_dedup_against(
    spark: SparkSession, sf_dir: str, ledger_dir: str, cut: int
) -> DataFrame:
    """The batch phase of persisted exact-substring dedup: window ONLY
    the incoming batch (doc_id >= cut — pushed to the documents scan);
    a new position is duplicated iff its window hash is in the
    persisted ledger OR occurs ≥2 times within the batch itself. One
    hash-partitioning on h serves both the within-batch count (window
    function) and the ledger membership join; the historical corpus
    contributes one compacted hash-ledger read and zero text bytes."""
    L = SUBSTR_L
    d = load_table(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") >= cut)
    pos = _substr_windows(new, L)
    prior = (
        spark.read.parquet(ledger_dir)
        .select("h")
        .withColumn("prior", F.lit(True))
    )
    wh = Window.partitionBy("h")
    dup = (
        pos.withColumn("n_batch", F.count(F.lit(1)).over(wh))
        .join(prior, "h", "left")
        .filter(F.col("prior").isNotNull() | (F.col("n_batch") > 1))
        .select("doc_id", "i")
    )
    return _substr_rollup(new, dup, L)


def q_substring_dedup_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``substring_dedup`` re-cut as daily ingest against the PERSISTED
    window-hash ledger: history is windowed once at build time (the
    ledger is built, merged, and compacted through the maintenance
    layer), then the incoming batch (the top {1-INCR_SPLIT_FRAC:.0%}
    of doc_ids) is windowed and probed without ever re-reading
    historical text — O(new batch × windows-per-doc) per day instead
    of O(corpus). Output = the per-doc span rollup for the NEW docs
    (history-aware: a new span is duplicated whether its copy lives in
    history or in the same batch).

    Build memoized per (session, corpus) — the PQ/IVF accounting
    rationale: production builds a ledger once and probes it daily,
    and the build's own cost is priced by its own entry,
    ``substring_ledger_build`` (fresh build + hash-oracled digest)."""
    ledger_dir, cut = _substr_ledger(spark, sf_dir)
    return substring_dedup_against(spark, sf_dir, ledger_dir, cut)


def q_substring_ledger_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The substring window-hash ledger BUILD as its own priced,
    hash-oracled entry (the ann_*_index_build pattern): fresh
    maintenance-layer build (day-0 write, day-1 novel merge_upsert,
    compaction) into a build-scoped scratch dir, digested from the
    PERSISTED ledger as one row per leading hex nibble: hash count,
    min/max hash, and the bit_xor of a 15-hex-digit slice — a
    set-exact fingerprint (count + xor certify the exact membership
    up to engineered collisions), so a green hash certifies the
    merged+compacted ledger content, not just its size."""
    state = _build_scratch("zspark_substr_build_", sf_dir)
    ledger_dir, _cut = build_substr_state(spark, sf_dir, state)
    led = spark.read.parquet(ledger_dir)
    return led.groupBy(F.substring("h", 1, 1).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_hashes"),
        F.min("h").alias("min_h"),
        F.max("h").alias("max_h"),
        F.bit_xor(
            F.conv(F.substring("h", 2, 15), 16, 10).cast("bigint")
        ).alias("xor_h"),
    )


def q_substring_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level DECONTAMINATION (the ExactSubstr dedup machinery
    pointed across the train/test boundary, Lee et al. 2022 §4.2 /
    the GPT-3-style 13-gram overlap scrub at character granularity):
    a TEST-side position is contaminated iff the length-{SUBSTR_L}
    window starting there occurs anywhere in the TRAIN corpus (the
    doc_id < cut side, the suite's standing ingest-split convention).
    Maximal contaminated runs merge into spans; per test doc the
    rollup reports span count, contaminated chars, the contamination
    fraction, and the keep verdict (zero contaminated chars) — finer
    than the exact/Bloom/HLL n-gram decontaminators, which miss
    overlaps that straddle token boundaries or differ in tokenization.

    Scale shape: identical to the persisted-substring probe — the
    train side collapses to a distinct 16-byte window-hash set (at
    100 TB: the compacted ledger substring_ledger_build prices), the
    test side is one pushed scan, and the contamination test is one
    semi-join on the hash. No within-batch rule here: only TRAIN
    occurrences contaminate (test-internal dups are dedup's job)."""
    L = SUBSTR_L
    d = load_table(spark, sf_dir, "documents")
    cut = _incr_cut(d, "doc_id")
    train_h = (
        _substr_windows(d.filter(F.col("doc_id") < cut), L)
        .select("h")
        .distinct()
    )
    test = d.filter(F.col("doc_id") >= cut)
    dup = (
        _substr_windows(test, L)
        .join(train_h, "h", "left_semi")
        .select("doc_id", "i")
    )
    return _substr_rollup(test, dup, L).select(
        "doc_id",
        "n_chars",
        F.col("n_spans").alias("n_contam_spans"),
        F.col("dup_chars").alias("contam_chars"),
        F.col("dup_frac").alias("contam_frac"),
        (F.col("dup_chars") == 0).alias("keep"),
    )


SQL_SUBSTRING_DECONTAMINATE = f"""
WITH {_cut_cte()},
pos AS (
  SELECT doc_id, i, md5(substr(text, i, {SUBSTR_L})) AS h
  FROM documents, LATERAL unnest(
    generate_series(1, length(text) - {SUBSTR_L} + 1)) AS u(i)
  WHERE length(text) >= {SUBSTR_L}
),
train_h AS (SELECT DISTINCT h FROM pos p, cut WHERE p.doc_id < cut.c),
dup AS (
  SELECT np.doc_id, np.i
  FROM pos np, cut
  WHERE np.doc_id >= cut.c
    AND EXISTS (SELECT 1 FROM train_h t WHERE t.h = np.h)
),
lagged AS (
  SELECT doc_id, i,
         lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev_i
  FROM dup
),
isl AS (
  SELECT doc_id, i,
         sum(CASE WHEN prev_i IS NULL OR i - prev_i > {SUBSTR_L}
                  THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY i) AS g
  FROM lagged
),
spans AS (SELECT doc_id, g, min(i) AS s, max(i) AS e FROM isl GROUP BY 1, 2),
stats AS (
  SELECT doc_id, count(*) AS n_spans,
         sum(e - s + {SUBSTR_L}) AS dup_chars
  FROM spans GROUP BY 1
)
SELECT d.doc_id,
       CAST(length(d.text) AS BIGINT) AS n_chars,
       CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_contam_spans,
       CAST(coalesce(s.dup_chars, 0) AS BIGINT) AS contam_chars,
       round(coalesce(s.dup_chars, 0) / length(d.text), 6) AS contam_frac,
       coalesce(s.dup_chars, 0) = 0 AS keep
FROM documents d CROSS JOIN cut LEFT JOIN stats s USING (doc_id)
WHERE d.doc_id >= cut.c
"""


SQL_SUBSTRING_LEDGER_BUILD = f"""
WITH {_cut_cte()},
pos AS (
  SELECT doc_id, i, md5(substr(text, i, {SUBSTR_L})) AS h
  FROM documents, LATERAL unnest(
    generate_series(1, length(text) - {SUBSTR_L} + 1)) AS u(i)
  WHERE length(text) >= {SUBSTR_L}
),
ledger AS (SELECT DISTINCT h FROM pos p, cut WHERE p.doc_id < cut.c)
SELECT substr(h, 1, 1) AS bucket,
       count(*) AS n_hashes,
       min(h) AS min_h,
       max(h) AS max_h,
       bit_xor(CAST(concat('0x', substr(h, 2, 15)) AS BIGINT)) AS xor_h
FROM ledger GROUP BY 1
"""


SQL_SUBSTRING_DEDUP_PERSISTED = f"""
WITH {_cut_cte()},
pos AS (
  SELECT doc_id, i, md5(substr(text, i, {SUBSTR_L})) AS h
  FROM documents, LATERAL unnest(
    generate_series(1, length(text) - {SUBSTR_L} + 1)) AS u(i)
  WHERE length(text) >= {SUBSTR_L}
),
newpos AS (SELECT p.* FROM pos p, cut WHERE p.doc_id >= cut.c),
ledger AS (SELECT DISTINCT h FROM pos p, cut WHERE p.doc_id < cut.c),
nb AS (SELECT h, count(*) AS n FROM newpos GROUP BY 1),
dup AS (
  SELECT np.doc_id, np.i
  FROM newpos np
  JOIN nb USING (h)
  LEFT JOIN ledger lg USING (h)
  WHERE lg.h IS NOT NULL OR nb.n > 1
),
lagged AS (
  SELECT doc_id, i,
         lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev_i
  FROM dup
),
isl AS (
  SELECT doc_id, i,
         sum(CASE WHEN prev_i IS NULL OR i - prev_i > {SUBSTR_L}
                  THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY i) AS g
  FROM lagged
),
spans AS (SELECT doc_id, g, min(i) AS s, max(i) AS e FROM isl GROUP BY 1, 2),
stats AS (
  SELECT doc_id, count(*) AS n_spans,
         sum(e - s + {SUBSTR_L}) AS dup_chars
  FROM spans GROUP BY 1
)
SELECT d.doc_id,
       CAST(length(d.text) AS BIGINT) AS n_chars,
       CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(s.dup_chars, 0) AS BIGINT) AS dup_chars,
       round(coalesce(s.dup_chars, 0) / length(d.text), 6) AS dup_frac
FROM documents d CROSS JOIN cut LEFT JOIN stats s USING (doc_id)
WHERE d.doc_id >= cut.c
"""


# ----------------------------- persisted-ledger deletion (takedown/PII)
# (TAKEDOWN_MOD is defined beside INCR_SPLIT_FRAC — the IVF delete
# oracle interpolates it before this section loads)


def _takedown_docs(d: DataFrame, cut: int, id_col: str = "doc_id") -> DataFrame:
    """The deterministic takedown set: historical rows (id < cut)
    whose id is divisible by {TAKEDOWN_MOD} — the suite's stand-in for
    an external removal-request feed (DMCA / PII deletion). ~8% of
    history, spread across the id range so tombstones hit every ledger
    bucket."""
    return d.filter(
        (F.col(id_col) < cut) & (F.col(id_col) % TAKEDOWN_MOD == 0)
    )


def _takedown(build: str, table: str, tomb_keys, ledgers=(0,)):
    """State builder AFTER a takedown: run the ``build`` builder (looked
    up by name at call time, so interceptions of it still fire), then
    ``ledger_delete`` the tombstone-key frame ``tomb_keys(taken)`` —
    ``taken`` = the ``table`` rows of :func:`_takedown_docs` below the
    build's cut — from each ``ledgers`` dir of the returned state and
    ``fold_tombstones`` it in the nightly compaction: probes read the
    folded state and pay no anti join. Returns the build's tuple."""

    def built(spark: SparkSession, sf_dir: str, state_dir: str) -> tuple:
        from zcode_iceberg_spark.sources.sinks import (
            fold_tombstones,
            ledger_delete,
        )

        got = globals()[build](spark, sf_dir, state_dir)
        id_col = "doc_id" if table == "documents" else "vec_id"
        taken = _takedown_docs(load_table(spark, sf_dir, table), got[-1], id_col)
        tomb = tomb_keys(taken)
        key = tomb.columns[0]
        for i in ledgers:
            ledger_delete(spark, got[i], tomb, key)
            fold_tombstones(spark, got[i], key)
        return got

    return built


# Exact-hash and substring ledgers purge CONTENT — PII must be forgotten
# wherever it occurs, so every copy's hash row goes, and windows shared
# with surviving docs are purged too (the conservative, looser-recall
# reading). LSH state deletes by doc id on the band AND signature
# tables, so a taken-down doc can never again seed or re-score a
# candidate. IVF / PQ delete by vec id on the assignment / codes table
# (PQ codes rows carry the full vectors, so the fold purges the raw
# embedding copies too); the centroid / codebook MODEL is deliberately
# NOT retrained — a takedown removes data, not the model (an aggregate
# artifact, not retrievable content), which refreshes at the next
# scheduled build: Iceberg-style delete now, re-optimize later.
build_hash_state_deleted = _takedown(
    "build_incremental_hash_table",
    "documents",
    lambda d: d.select(F.md5("text").alias("content_hash")),
)
build_neardup_state_deleted = _takedown(
    "build_neardup_state", "documents", lambda d: d.select("doc_id"), (0, 1)
)
build_substr_state_deleted = _takedown(
    "build_substr_state",
    "documents",
    lambda d: _substr_windows(d, SUBSTR_L).select("h").distinct(),
)
build_ivf_state_deleted = _takedown(
    "build_ivf_state", "embeddings", lambda e: e.select("vec_id"), (1,)
)
build_pq_state_deleted = _takedown(
    "build_pq_state", "embeddings", lambda e: e.select("vec_id"), (1,)
)


# ------------------------------------------------- persisted probe state
# Every build-once state a probe reads, declared ONCE: memo kind,
# builder (looked up by name at call time, so test and tracer
# interceptions of the module attribute fire), scratch dir. Probes call
# these accessors and their registry entries declare them as
# ``Query.state``, so the bench pre-warms exactly what the probes read.


def _persisted(kind: str, builder: str, prefix: str, suffix: str = ""):
    """Accessor for one persisted state: built once per (session,
    corpus) into ``_build_scratch(prefix) + suffix`` and re-validated
    on every hit (removed files force a rebuild)."""

    def state(spark: SparkSession, sf_dir: str) -> tuple:
        return _session_memo(
            spark,
            kind,
            sf_dir,
            lambda: globals()[builder](
                spark, sf_dir, _build_scratch(prefix, sf_dir) + suffix
            ),
            live=_paths_live,
        )

    return state


_HASH = "zspark_hash_state_"
_hash_ledger = _persisted("hash", "build_incremental_hash_table", _HASH)
_hash_ledger_del = _persisted("hash_del", "build_hash_state_deleted", _HASH, "_del")
_lsh_state = _persisted("lsh", "build_neardup_state", _HASH, "_lsh")
_lsh_state_del = _persisted(
    "lsh_del", "build_neardup_state_deleted", _HASH, "_lsh_del"
)
_substr_ledger = _persisted("substr", "build_substr_state", _HASH, "_substr")
_substr_ledger_del = _persisted(
    "substr_del", "build_substr_state_deleted", _HASH, "_substr_del"
)
_ivf_index = _persisted("ivf", "build_ivf_state", "zspark_ivf_state_")
_ivf_index_del = _persisted(
    "ivf_del", "build_ivf_state_deleted", "zspark_ivf_state_", "_del"
)
_pq_index = _persisted("pq", "build_pq_state", "zspark_pq_state_")
_pq_index_del = _persisted(
    "pq_del", "build_pq_state_deleted", "zspark_pq_state_", "_del"
)


def q_dedup_persisted_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_incremental_persisted`` probed AFTER a takedown: the
    {TAKEDOWN_MOD}-strided historical docs' content hashes are
    tombstoned (``ledger_delete``) and folded by compaction
    (``fold_tombstones``), so an incoming batch doc whose only match
    was purged content now reads as NOVEL (is_kept flips to true unless
    a within-batch copy precedes it) — removal requests must stop
    suppressing future ingests of unrelated look-alikes of forgotten
    content. State memoized per (session, corpus), the PQ/IVF
    accounting convention: production folds a takedown once and probes
    daily."""
    hash_dir, cut = _hash_ledger_del(spark, sf_dir)
    return incremental_dedup_against(spark, sf_dir, hash_dir, cut)


SQL_DEDUP_PERSISTED_DELETE = f"""
WITH {_cut_cte()},
hashed AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
new AS (SELECT h.* FROM hashed h, cut WHERE h.doc_id >= cut.c),
purged AS (
  SELECT DISTINCT h.content_hash FROM hashed h, cut
  WHERE h.doc_id < cut.c AND h.doc_id % {TAKEDOWN_MOD} = 0
),
old AS (
  SELECT h.content_hash FROM hashed h, cut
  WHERE h.doc_id < cut.c
    AND NOT EXISTS (SELECT 1 FROM purged p
                    WHERE p.content_hash = h.content_hash)
),
keeper AS (
  SELECT min(doc_id) AS keep_id
  FROM new n
  WHERE NOT EXISTS (SELECT 1 FROM old o WHERE o.content_hash = n.content_hash)
  GROUP BY content_hash
)
SELECT n.doc_id, n.content_hash,
       k.keep_id IS NOT NULL AS is_kept
FROM new n LEFT JOIN keeper k ON n.doc_id = k.keep_id
"""


def q_neardup_persisted_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``neardup_incremental_persisted`` probed AFTER a doc-id takedown
    on the persisted LSH state: tombstoned docs contribute no band
    rows, so they can't seed candidate pairs, and no signature rows, so
    nothing re-scores against them — a new doc whose only near-dups
    were taken down now reads clean (n_candidates drops, is_neardup may
    flip). Same output contract as the non-deleted probe; what changes
    is the folded state it reads."""
    bands_dir, sigs_dir, cut = _lsh_state_del(spark, sf_dir)
    return incremental_neardup_against(spark, sf_dir, bands_dir, sigs_dir, cut)


SQL_NEARDUP_PERSISTED_DELETE = f"""
WITH {CHSH_CTE},
{HASHES_CTE},
{SIG_CTE},
{BANDS_CTE},
{_cut_cte()},
cand AS (
  SELECT a.doc_id AS nid, b.doc_id AS hid
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.bucket_key = b.bucket_key
  CROSS JOIN cut
  WHERE a.doc_id >= cut.c AND b.doc_id < cut.c
    AND b.doc_id % {TAKEDOWN_MOD} != 0
  GROUP BY a.doc_id, b.doc_id
),
scored AS (
  SELECT c.nid,
         {_EST_JACCARD_SQL.replace('a.s', 'sa.s').replace('b.s', 'sb.s')} AS est
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.nid
  JOIN sig sb ON sb.doc_id = c.hid
),
per AS (
  SELECT nid, count(*) AS n_candidates, round(max(est), 6) AS best_est
  FROM scored GROUP BY nid
)
SELECT d.doc_id,
       CAST(coalesce(p.n_candidates, 0) AS BIGINT) AS n_candidates,
       round(coalesce(p.best_est, 0.0), 6) AS best_est,
       coalesce(p.best_est, 0.0) >= {NEARDUP_EST_MIN} AS is_neardup
FROM documents d
CROSS JOIN cut
LEFT JOIN per p ON p.nid = d.doc_id
WHERE d.doc_id >= cut.c
"""


def q_substring_persisted_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``substring_dedup_persisted`` probed AFTER a window-content
    takedown: the purged windows no longer mark new-batch positions as
    duplicated (unless the batch itself repeats them), so dup_frac for
    docs overlapping only forgotten content drops to the within-batch
    floor. The probe path is byte-identical to the non-deleted entry —
    the delete lives entirely in the folded ledger state."""
    ledger_dir, cut = _substr_ledger_del(spark, sf_dir)
    return substring_dedup_against(spark, sf_dir, ledger_dir, cut)


SQL_SUBSTRING_PERSISTED_DELETE = f"""
WITH {_cut_cte()},
pos AS (
  SELECT doc_id, i, md5(substr(text, i, {SUBSTR_L})) AS h
  FROM documents, LATERAL unnest(
    generate_series(1, length(text) - {SUBSTR_L} + 1)) AS u(i)
  WHERE length(text) >= {SUBSTR_L}
),
newpos AS (SELECT p.* FROM pos p, cut WHERE p.doc_id >= cut.c),
purged AS (
  SELECT DISTINCT p.h FROM pos p, cut
  WHERE p.doc_id < cut.c AND p.doc_id % {TAKEDOWN_MOD} = 0
),
ledger AS (
  SELECT DISTINCT p.h FROM pos p, cut
  WHERE p.doc_id < cut.c
    AND NOT EXISTS (SELECT 1 FROM purged pu WHERE pu.h = p.h)
),
nb AS (SELECT h, count(*) AS n FROM newpos GROUP BY 1),
dup AS (
  SELECT np.doc_id, np.i
  FROM newpos np
  JOIN nb USING (h)
  LEFT JOIN ledger lg USING (h)
  WHERE lg.h IS NOT NULL OR nb.n > 1
),
lagged AS (
  SELECT doc_id, i,
         lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS prev_i
  FROM dup
),
isl AS (
  SELECT doc_id, i,
         sum(CASE WHEN prev_i IS NULL OR i - prev_i > {SUBSTR_L}
                  THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY i) AS g
  FROM lagged
),
spans AS (SELECT doc_id, g, min(i) AS s, max(i) AS e FROM isl GROUP BY 1, 2),
stats AS (
  SELECT doc_id, count(*) AS n_spans,
         sum(e - s + {SUBSTR_L}) AS dup_chars
  FROM spans GROUP BY 1
)
SELECT d.doc_id,
       CAST(length(d.text) AS BIGINT) AS n_chars,
       CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(s.dup_chars, 0) AS BIGINT) AS dup_chars,
       round(coalesce(s.dup_chars, 0) / length(d.text), 6) AS dup_frac
FROM documents d CROSS JOIN cut LEFT JOIN stats s USING (doc_id)
WHERE d.doc_id >= cut.c
"""


PIPE_MIN_QUALITY = 0.8


def _surviving_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stages 1-3 of the training pipeline, shared by
    ``q_corpus_pipeline`` and ``q_training_export``: exact dedup
    (min-doc_id keeper per content hash) → expression-only quality
    gate → deterministic hash split. Returns
    (doc_id, text, source, n_words, quality, split), fully lazy."""
    d = load_table(spark, sf_dir, "documents")
    keepers = d.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    docs = d.join(keepers.select("doc_id"), "doc_id", "left_semi")
    good = tx.quality_metrics(docs).filter(
        F.col("quality") >= PIPE_MIN_QUALITY
    )
    u = _hash_u(F.col("doc_id"), "")
    return good.select(
        "doc_id",
        "text",
        "source",
        F.col("n_words").cast("bigint").alias("n_words"),
        "quality",
        F.when(u < SPLIT_TRAIN, "train")
        .when(u < SPLIT_VAL, "val")
        .otherwise("test")
        .alias("split"),
    )


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data pipeline as ONE composed DAG — the
    capstone query proving the stages compose: exact dedup → quality
    filter → deterministic split → train/test decontamination → final
    per-split audit (doc count, token total, mean quality).

    Each stage keeps its standalone scale shape (hash-groupBy dedup;
    expression-only quality + split; hashed-gram left-semi decon), and
    because every stage is a lazy DataFrame, Catalyst fuses the whole
    pipeline into one plan — filters from late stages push into early
    scans where legal, nothing materializes between stages.
    """
    sp = _surviving_split(spark, sf_dir).drop("source")
    # stage barrier: the branches below (train grams, test grams, gram
    # counts, final audit) would each re-run dedup+quality+tokenize —
    # materialize the surviving corpus once (the composed-pipeline
    # analog of writing the filtered corpus to a table between stages;
    # lazy, so it computes on first use). The repartition also fans the
    # CPU-heavy per-gram hashing out of the single input split
    # (documents arrives as one file → one task; same fan-out
    # rationale as minhash_signatures).
    sc = spark.sparkContext
    sp = _reuse(sp.repartition(sc.defaultParallelism, "doc_id"))
    # 4. decontamination: drop test docs sharing ≥ DECON_FLAG of their
    # distinct word 3-grams with the (surviving) train split
    # token array projected as a real column BEFORE shingling — an
    # inlined tokens(text) re-splits the document once per gram
    # inside the lambda (the char_shingles/trigram_lm rule)
    grams = sp.select(
        "doc_id", "split", tx.tokens(F.col("text")).alias("w")
    ).select(
        "doc_id",
        "split",
        F.explode(
            F.array_distinct(
                F.transform(
                    tx.shingles(F.col("w"), DECON_N),
                    lambda s: tx.word_hash(s),
                )
            )
        ).alias("g"),
    )
    grams = _reuse(grams)
    train_g = grams.filter(F.col("split") == "train").select("g").distinct()
    test_g = grams.filter(F.col("split") == "test")
    contaminated = (
        test_g.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_grams"))
        .join(
            test_g.join(train_g, "g", "left_semi")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_hit")),
            "doc_id",
            "left",
        )
        .filter(
            F.coalesce("n_hit", F.lit(0)) / F.col("n_grams") >= DECON_FLAG
        )
        .select("doc_id")
    )
    final = sp.join(contaminated, "doc_id", "left_anti")
    # 5. per-split audit
    return final.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("total_tokens"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
    )


# shared dedup → quality → split CTE prefix (corpus_pipeline and
# training_export both start from the same surviving corpus)
_PIPE_SP_CTES = f"""keepers AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
docs AS (
  SELECT d.* FROM documents d JOIN keepers k ON d.doc_id = k.doc_id
),
toks AS (
  SELECT doc_id, text, source, regexp_split_to_array(lower(text), '\\s+') AS w
  FROM docs
),
m AS (
  SELECT doc_id, text, source, w,
         length(text) AS n_chars,
         len(w) AS n_words,
         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
           AS n_punct,
         len(list_filter(w, t -> t IN ({_EN_STOPS}))) AS n_stop
  FROM toks
),
q AS (
  SELECT doc_id, text, source, w, n_words,
         least(greatest(
           (CASE WHEN n_words BETWEEN 20 AND 1000 THEN 0.4 ELSE 0.0 END)
           + (CASE WHEN n_words > 0 AND CAST(n_chars AS DOUBLE) / n_words
                    BETWEEN 3 AND 10 THEN 0.2 ELSE 0.0 END)
           + (CASE WHEN n_chars > 0 AND CAST(n_punct AS DOUBLE) / n_chars
                    <= 0.1 THEN 0.2 ELSE 0.0 END)
           + (CASE WHEN n_words > 0 AND CAST(n_stop AS DOUBLE) / n_words
                    >= 0.01 THEN 0.2 ELSE 0.0 END), 0.0), 1.0) AS quality
  FROM m
),
sp AS (
  SELECT doc_id, source, w, n_words, quality,
         CASE WHEN {_U_SQL} < {SPLIT_TRAIN} THEN 'train'
              WHEN {_U_SQL} < {SPLIT_VAL} THEN 'val'
              ELSE 'test' END AS split
  FROM q WHERE quality >= {PIPE_MIN_QUALITY}
)"""

SQL_CORPUS_PIPELINE = f"""
WITH {_PIPE_SP_CTES},
grams AS (
  SELECT doc_id, split,
         unnest(list_distinct(list_transform(
           CASE WHEN len(w) >= {DECON_N}
                THEN generate_series(1, len(w) - {DECON_N - 1})
                ELSE [] END,
           i -> {_GRAM_HASH_SQL}))) AS g
  FROM sp
),
tr AS (SELECT DISTINCT g FROM grams WHERE split = 'train'),
te AS (SELECT doc_id, g FROM grams WHERE split = 'test'),
ng AS (SELECT doc_id, count(*) AS n_grams FROM te GROUP BY doc_id),
hit AS (
  SELECT doc_id, count(*) AS n_hit FROM te
  WHERE g IN (SELECT g FROM tr) GROUP BY doc_id
),
contaminated AS (
  SELECT ng.doc_id FROM ng LEFT JOIN hit USING (doc_id)
  WHERE coalesce(hit.n_hit, 0) / ng.n_grams >= {DECON_FLAG}
)
SELECT split,
       count(*) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS total_tokens,
       round(avg(quality), 6) AS avg_quality
FROM sp
WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
GROUP BY split
"""


def q_training_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAST mile of the training pipeline: surviving train-split
    docs → greedy token-budget packing into sequences → deterministic
    shuffle of the packed bins into output shards — i.e. exactly what
    a sharded training-set writer materializes, with every stage
    reusing its standalone operator (`_surviving_split`, `_pack_lanes`,
    the corpus-shuffle key). One row per packed bin: its lane identity,
    doc/token totals, and the (export_shard, pos) write position.

    Scale shape: all stages compose lazily; the packing fold stays
    bounded per (source, lane) and the bin shuffle is a pure hash —
    the full export is dedup-shuffle + lane-fold + one 10-group-ish
    rank per shard, no global sort, no driver state."""
    train = _surviving_split(spark, sf_dir).filter(F.col("split") == "train")
    rows = train.select(
        "doc_id",
        "source",
        F.floor(_hash_u(F.col("doc_id"), "pack:") * PACK_SHARDS)
        .cast("int")
        .alias("shard"),
        F.col("n_words").alias("tok"),
    )
    bins = (
        _pack_lanes(rows)
        .groupBy("source", "shard", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("bin_tokens"),
        )
    )
    skey = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "-",
                    F.lit(SHUFFLE_SALT),
                    F.concat_ws("/", "source", "shard", "bin_id"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    keyed = bins.withColumn("skey", skey)
    w = Window.partitionBy(F.col("skey") % N_SHARDS).orderBy(
        "skey", "source", "shard", "bin_id"
    )
    return keyed.select(
        "source",
        F.col("shard").alias("lane"),
        "bin_id",
        "n_docs",
        "bin_tokens",
        (F.col("skey") % N_SHARDS).cast("int").alias("export_shard"),
        F.row_number().over(w).alias("pos"),
    )


SQL_TRAINING_EXPORT = f"""
WITH RECURSIVE {_PIPE_SP_CTES},
tl AS (
  SELECT doc_id, source,
         CAST(floor(({_PACK_U_SQL}) * {PACK_SHARDS}) AS INTEGER) AS shard,
         CAST(n_words AS BIGINT) AS tok
  FROM sp WHERE split = 'train'
),
pseq AS (
  SELECT *, row_number() OVER (PARTITION BY source, shard ORDER BY doc_id) AS rn
  FROM tl
),
rec AS (
  SELECT doc_id, source, shard, tok, rn,
         tok AS acc, CAST(0 AS BIGINT) AS bin_id
  FROM pseq WHERE rn = 1
  UNION ALL
  SELECT s.doc_id, s.source, s.shard, s.tok, s.rn,
         CASE WHEN r.acc + s.tok > {PACK_BUDGET} AND r.acc > 0
              THEN s.tok ELSE r.acc + s.tok END,
         CASE WHEN r.acc + s.tok > {PACK_BUDGET} AND r.acc > 0
              THEN r.bin_id + 1 ELSE r.bin_id END
  FROM rec r
  JOIN pseq s ON s.source = r.source AND s.shard = r.shard AND s.rn = r.rn + 1
),
bins AS (
  SELECT source, shard, bin_id,
         count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS bin_tokens
  FROM rec GROUP BY 1, 2, 3
),
keyed AS (
  SELECT *,
         CAST(concat('0x', substr(md5(concat('{SHUFFLE_SALT}', '-',
                concat_ws('/', source, CAST(shard AS VARCHAR),
                          CAST(bin_id AS VARCHAR)))), 1, 15)) AS BIGINT)
           AS skey
  FROM bins
)
SELECT source, shard AS lane, bin_id, n_docs, bin_tokens,
       CAST(skey % {N_SHARDS} AS INTEGER) AS export_shard,
       CAST(row_number() OVER (PARTITION BY skey % {N_SHARDS}
                               ORDER BY skey, source, shard, bin_id)
            AS INTEGER) AS pos
FROM keyed
"""


BOILERPLATE_DF = 2  # passages in >= this many docs are boilerplate


def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal at passage granularity: any 8-word passage
    appearing in >= {BOILERPLATE_DF} distinct documents is treated as
    boilerplate (shared header/footer/template text) and stripped; the
    document is reassembled from its surviving passages in order.

    Scale shape: passage DF is a partial-agg count-distinct on the
    uniform md5 key; the mark-join is a hash equi-join on that key; the
    rebuild groups by doc_id — three hash-partitioned stages, no
    corpus-wide window. tests/test_neardup_blocking.py proves passage
    reassembly is lossless, so what survives is exactly the original
    text minus the stripped spans.
    """
    d = load_table(spark, sf_dir, "documents")
    p = tx.passages(d, "doc_id", "text", width=PASSAGE_W).withColumn(
        "phash", F.md5("ptext")
    )
    df_count = p.groupBy("phash").agg(
        F.countDistinct("doc_id").alias("pdf")
    )
    marked = p.join(df_count, "phash")
    kept = marked.filter(F.col("pdf") < BOILERPLATE_DF)
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pidx", "ptext"))),
                lambda s: s.ptext,
            ),
            " ",
        ).alias("clean_text"),
    )
    totals = p.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_total"))
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_total",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        (F.col("n_total") - F.coalesce("n_kept", F.lit(0))).alias("n_stripped"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


SQL_BOILERPLATE_STRIP = f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
p AS (
  SELECT doc_id, i.g AS pidx,
         array_to_string(w[(i.g*{PASSAGE_W}+1):((i.g+1)*{PASSAGE_W})], ' ') AS ptext
  FROM base,
       unnest(generate_series(0, CAST(ceil(len(w) / {PASSAGE_W}.0) AS INT) - 1)) AS i(g)
  WHERE len(w) > 0
),
dfc AS (
  SELECT md5(ptext) AS phash, count(DISTINCT doc_id) AS pdf
  FROM p GROUP BY md5(ptext)
),
kept AS (
  SELECT p.doc_id, p.pidx, p.ptext
  FROM p JOIN dfc ON md5(p.ptext) = dfc.phash
  WHERE dfc.pdf < {BOILERPLATE_DF}
),
rebuilt AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(ptext, ' ' ORDER BY pidx) AS clean_text
  FROM kept GROUP BY doc_id
),
totals AS (SELECT doc_id, count(*) AS n_total FROM p GROUP BY doc_id)
SELECT t.doc_id, t.n_total,
       coalesce(r.n_kept, 0) AS n_kept,
       t.n_total - coalesce(r.n_kept, 0) AS n_stripped,
       coalesce(r.clean_text, '') AS clean_text
FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
"""


QUERIES = {
    "dedup_exact": Query(q_dedup_exact, SQL_DEDUP_EXACT),
    "passage_dedup": Query(q_passage_dedup, SQL_PASSAGE_DEDUP),
    "dup_spans": Query(q_dup_spans, SQL_DUP_SPANS),
    "substring_dedup": Query(q_substring_dedup, SQL_SUBSTRING_DEDUP),
    "substring_dedup_persisted": Query(
        q_substring_dedup_persisted, SQL_SUBSTRING_DEDUP_PERSISTED, state=_substr_ledger
    ),
    "substring_ledger_build": Query(
        q_substring_ledger_build, SQL_SUBSTRING_LEDGER_BUILD
    ),
    "substring_decontaminate": Query(
        q_substring_decontaminate, SQL_SUBSTRING_DECONTAMINATE
    ),
    "boilerplate_strip": Query(q_boilerplate_strip, SQL_BOILERPLATE_STRIP),
    "corpus_pipeline": Query(q_corpus_pipeline, SQL_CORPUS_PIPELINE),
    "training_export": Query(q_training_export, SQL_TRAINING_EXPORT),
    "minhash_signatures": Query(q_minhash_signatures, SQL_MINHASH_SIGNATURES),
    "lsh_candidates": Query(q_lsh_candidates, SQL_LSH_CANDIDATES),
    "lsh_precision": Query(q_lsh_precision, SQL_LSH_PRECISION),
    "lsh_recall": Query(q_lsh_recall, SQL_LSH_RECALL),
    "lsh_recall_rebanded": Query(q_lsh_recall_rebanded, SQL_LSH_RECALL_REBANDED),
    "dedup_near": Query(q_dedup_near, SQL_DEDUP_NEAR),
    "dedup_crosscheck": Query(q_dedup_crosscheck, SQL_DEDUP_CROSSCHECK),
    "simhash": Query(q_simhash, SQL_SIMHASH),
    "ngram_jaccard": Query(q_ngram_jaccard, SQL_NGRAM_JACCARD),
    "doc_fingerprint": Query(q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "lang_id": Query(q_lang_id, SQL_LANG_ID),
    "text_quality": Query(q_text_quality, SQL_TEXT_QUALITY),
    "quality_classifier": Query(q_quality_classifier, SQL_QUALITY_CLASSIFIER),
    "token_counts": Query(q_token_counts, SQL_TOKEN_COUNTS),
    "token_histogram": Query(q_token_histogram, SQL_TOKEN_HISTOGRAM),
    "heavy_hitters": Query(q_heavy_hitters, SQL_HEAVY_HITTERS),
    "bpe_merges": Query(q_bpe_merges, SQL_BPE_MERGES),
    "bpe_segment": Query(q_bpe_segment, SQL_BPE_SEGMENT),
    "bpe_encode": Query(q_bpe_encode, SQL_BPE_ENCODE),
    "vocab_topk": Query(q_vocab_topk, SQL_VOCAB_TOPK),
    "doc_split": Query(q_doc_split, SQL_DOC_SPLIT),
    "pii_scan": Query(q_pii_scan, SQL_PII_SCAN),
    "k_anonymity": Query(q_k_anonymity, SQL_K_ANONYMITY),
    "doc_repetition": Query(q_doc_repetition, SQL_DOC_REPETITION),
    "dedup_incremental": Query(q_dedup_incremental, SQL_DEDUP_INCREMENTAL),
    "dedup_incremental_persisted": Query(
        q_dedup_incremental_persisted, SQL_DEDUP_INCREMENTAL, state=_hash_ledger
    ),
    "neardup_incremental_persisted": Query(
        q_neardup_incremental_persisted, SQL_NEARDUP_INCREMENTAL, state=_lsh_state
    ),
    "dedup_ledger_build": Query(q_dedup_ledger_build, SQL_DEDUP_LEDGER_BUILD),
    "neardup_ledger_build": Query(
        q_neardup_ledger_build, SQL_NEARDUP_LEDGER_BUILD
    ),
    "dedup_persisted_delete": Query(
        q_dedup_persisted_delete, SQL_DEDUP_PERSISTED_DELETE, state=_hash_ledger_del
    ),
    "neardup_persisted_delete": Query(
        q_neardup_persisted_delete, SQL_NEARDUP_PERSISTED_DELETE, state=_lsh_state_del
    ),
    "substring_persisted_delete": Query(
        q_substring_persisted_delete,
        SQL_SUBSTRING_PERSISTED_DELETE,
        state=_substr_ledger_del,
    ),
    "domain_mix": Query(q_domain_mix, SQL_DOMAIN_MIX),
    "dsir_select": Query(q_dsir_select, SQL_DSIR_SELECT, state=_dsir_model),
    "dsir_stats_build": Query(q_dsir_stats_build, SQL_DSIR_STATS_BUILD),
    "temperature_mix": Query(q_temperature_mix, SQL_TEMPERATURE_MIX),
    "quality_sample": Query(q_quality_sample, SQL_QUALITY_SAMPLE),
    "decontaminate": Query(q_decontaminate, SQL_DECONTAMINATE),
    "decon_overlap_hll": Query(q_decon_overlap_hll, SQL_DECON_OVERLAP_HLL),
    "source_overlap_kmv": Query(q_source_overlap_kmv, SQL_SOURCE_OVERLAP_KMV),
    "daily_uniques_rollup": Query(q_daily_uniques_rollup, SQL_DAILY_UNIQUES_ROLLUP),
    "daily_quantiles_rollup": Query(
        q_daily_quantiles_rollup, SQL_DAILY_QUANTILES_ROLLUP
    ),
    "seq_packing": Query(q_seq_packing, SQL_SEQ_PACKING),
    "kmeans": Query(q_kmeans, SQL_KMEANS),
    "semantic_dedup": Query(q_semantic_dedup, SQL_SEMANTIC_DEDUP),
    "corpus_shuffle": Query(q_corpus_shuffle, SQL_CORPUS_SHUFFLE),
    "doc_chunks": Query(q_doc_chunks, SQL_DOC_CHUNKS),
    "tf_idf": Query(q_tf_idf, SQL_TF_IDF),
    "bm25_scores": Query(q_bm25_scores, SQL_BM25_SCORES),
    "rrf_fusion": Query(q_rrf_fusion, SQL_RRF_FUSION),
    "trigram_lm": Query(q_trigram_lm, SQL_TRIGRAM_LM),
    "lm_perplexity": Query(q_lm_perplexity, SQL_LM_PERPLEXITY),
    "stratified_sample": Query(q_stratified_sample, SQL_STRATIFIED_SAMPLE),
    "dedup_cc": Query(q_dedup_cc, SQL_DEDUP_CC),
    "dedup_cc_twostar": Query(q_dedup_cc_twostar, SQL_DEDUP_CC),
    "dedup_canonical": Query(q_dedup_canonical, SQL_DEDUP_CANONICAL),
    "pagerank": Query(q_pagerank, SQL_PAGERANK),
    "weighted_sample": Query(q_weighted_sample, SQL_WEIGHTED_SAMPLE),
    "corpus_drift_psi": Query(q_corpus_drift_psi, SQL_CORPUS_DRIFT_PSI),
    "embedding_topk": Query(q_embedding_topk, SQL_EMBEDDING_TOPK),
    "coreset_kcenter": Query(q_coreset_kcenter, SQL_CORESET_KCENTER),
    "ann_lsh": Query(q_ann_lsh, SQL_ANN_LSH),
    "ann_rp": Query(q_ann_rp, SQL_ANN_RP),
    "ann_rp_recall": Query(q_ann_rp_recall, SQL_ANN_RP_RECALL),
    "ann_sq8": Query(q_ann_sq8, SQL_ANN_SQ8),
    "ann_sq8_recall": Query(q_ann_sq8_recall, SQL_ANN_SQ8_RECALL),
    "ann_ivfsq": Query(q_ann_ivfsq, SQL_ANN_IVFSQ),
    "ann_ivfsq_recall": Query(q_ann_ivfsq_recall, SQL_ANN_IVFSQ_RECALL),
    "ann_pq": Query(q_ann_pq, SQL_ANN_PQ),
    "ann_pq_recall": Query(q_ann_pq_recall, SQL_ANN_PQ_RECALL),
    "ann_pq_persisted": Query(
        q_ann_pq_persisted, SQL_ANN_PQ_PERSISTED, state=_pq_index
    ),
    "ann_pq_index_build": Query(
        q_ann_pq_index_build, SQL_ANN_PQ_INDEX_BUILD
    ),
    "ann_ivf_index_build": Query(
        q_ann_ivf_index_build, SQL_ANN_IVF_INDEX_BUILD
    ),
    "ann_ivfpq": Query(q_ann_ivfpq, SQL_ANN_IVFPQ),
    "ann_ivfpq_recall": Query(q_ann_ivfpq_recall, SQL_ANN_IVFPQ_RECALL),
    "mmr_rerank": Query(q_mmr_rerank, SQL_MMR_RERANK),
    "mmr_rerank_ann": Query(q_mmr_rerank_ann, SQL_MMR_RERANK_ANN),
    "mmr_ann_overlap": Query(q_mmr_ann_overlap, SQL_MMR_ANN_OVERLAP),
    "ann_ivf": Query(q_ann_ivf, SQL_ANN_IVF),
    "ann_ivf_recall": Query(q_ann_ivf_recall, SQL_ANN_IVF_RECALL),
    "ann_ivf_recall_probe4": Query(
        q_ann_ivf_recall_probe4, SQL_ANN_IVF_RECALL_PROBE4
    ),
    "ann_ivf_bounded": Query(q_ann_ivf_bounded, SQL_ANN_IVF_BOUNDED),
    "ann_ivf_bounded_recall": Query(
        q_ann_ivf_bounded_recall, SQL_ANN_IVF_BOUNDED_RECALL
    ),
    "ann_ivf_incremental_persisted": Query(
        q_ann_ivf_incremental_persisted, SQL_ANN_IVF_INCR, state=_ivf_index
    ),
    "ann_ivf_persisted_delete": Query(
        q_ann_ivf_persisted_delete, SQL_ANN_IVF_PERSISTED_DELETE, state=_ivf_index_del
    ),
    "ann_pq_persisted_delete": Query(
        q_ann_pq_persisted_delete, SQL_ANN_PQ_PERSISTED_DELETE, state=_pq_index_del
    ),
    "embedding_neardup": Query(q_embedding_neardup, SQL_EMBEDDING_NEARDUP),
}
