"""Seeded input generator for the benchmark workloads.

DuckDB writes the ``events``, ``documents`` and ``embeddings`` tables in
the schema of the engine's sf0.1 inputs, single-threaded after
``setseed``, so one (seed, shape) always yields byte-identical tables.
Each generated directory is cached under ``.perfbench_cache/`` keyed by
workload, seed and shape, and carries a ``shape.json`` recording the
properties the engine's behaviour depends on.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

import duckdb

EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window dup"
).split()


def _connect(seed: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 1")
    # setseed takes a value in [-1, 1]; spread seeds over that range
    con.execute("SELECT setseed(?)", [((seed * 7919) % 20001 - 10000) / 10000.0])
    return con


def write_events(con, out: Path, n_ticks: int, keys: int, days: int) -> None:
    """Ticks with uniform keys and event times, exponential prices (mean
    50, like sf0.1) and a ``{"k": n}`` quantity payload; event_id follows
    event time, as in the engine's inputs."""
    con.execute(
        f"""
        CREATE OR REPLACE TABLE events AS
        WITH raw AS (
          SELECT random() AS u_t, random() AS u_k, random() AS u_e,
                 random() AS u_v, random() AS u_q
          FROM range({n_ticks})
        ), shaped AS (
          SELECT TIMESTAMP '2024-01-01'
                   + to_microseconds(CAST(floor(u_t * {days} * 86400e6) AS BIGINT))
                   AS ts,
                 CAST(floor(u_k * {keys}) AS BIGINT) AS user_id,
                 {EVENT_TYPES}[1 + CAST(floor(u_e * 5) AS INTEGER)] AS event_type,
                 round(-50.0 * ln(1.0 - u_v), 2) AS value,
                 '{{"k": ' || CAST(floor(u_q * 100) AS INTEGER) || '}}' AS props,
                 u_k
          FROM raw
        )
        SELECT CAST(row_number() OVER (ORDER BY ts, u_k) - 1 AS BIGINT) AS event_id,
               ts, user_id, event_type, value, props
        FROM shaped ORDER BY event_id
        """
    )
    con.execute(f"COPY events TO '{out}/events.parquet' (FORMAT parquet)")


def write_documents(
    con, out: Path, docs: int, dup_share: float, near_dup_share: float
) -> None:
    """Documents of 10-100 words over a small vocabulary. A ``dup_share``
    of them copy an earlier document exactly; a ``near_dup_share`` copy
    one with about a tenth of the words replaced."""
    con.execute(
        f"""
        CREATE OR REPLACE TABLE doc_meta AS
        SELECT CAST(range AS BIGINT) AS doc_id,
               10 + CAST(floor(random() * 91) AS INTEGER) AS n_words,
               random() AS u_kind, random() AS u_src, random() AS u_lang
        FROM range({docs})
        """
    )
    con.execute(
        f"""
        CREATE OR REPLACE TABLE doc_kind AS
        SELECT doc_id, n_words, u_lang,
               CASE WHEN doc_id = 0 THEN 'own'
                    WHEN u_kind < {dup_share} THEN 'dup'
                    WHEN u_kind < {dup_share + near_dup_share} THEN 'near'
                    ELSE 'own' END AS kind,
               CAST(floor(u_src * doc_id) AS BIGINT) AS src
        FROM doc_meta
        """
    )
    # words of every 'own' document (copies reference an own document:
    # a copy's source is re-pointed to its own source's source below)
    con.execute(
        f"""
        CREATE OR REPLACE TABLE words AS
        SELECT m.doc_id, CAST(w.range AS INTEGER) AS i,
               {VOCAB}[1 + CAST(floor(random() * {len(VOCAB)}) AS INTEGER)] AS w,
               random() AS u_swap,
               {VOCAB}[1 + CAST(floor(random() * {len(VOCAB)}) AS INTEGER)] AS w_alt
        FROM doc_kind m JOIN range(100) w ON w.range < m.n_words
        ORDER BY m.doc_id, i
        """
    )
    con.execute(
        """
        CREATE OR REPLACE TABLE root AS
        WITH RECURSIVE r(doc_id, root) AS (
          SELECT doc_id, doc_id FROM doc_kind WHERE kind = 'own'
          UNION ALL
          SELECT k.doc_id, r.root FROM doc_kind k JOIN r ON k.src = r.doc_id
          WHERE k.kind <> 'own'
        )
        SELECT doc_id, root FROM r
        """
    )
    con.execute(
        """
        CREATE OR REPLACE TABLE documents AS
        WITH txt AS (
          SELECT k.doc_id,
                 string_agg(
                   CASE WHEN k.kind = 'near' AND c.u_swap < 0.1 THEN c.w_alt
                        ELSE w.w END,
                   ' ' ORDER BY w.i) AS text
          FROM doc_kind k
          JOIN root r USING (doc_id)
          JOIN words w ON w.doc_id = r.root
          LEFT JOIN words c ON c.doc_id = k.doc_id AND c.i = w.i
          GROUP BY k.doc_id
        )
        SELECT o.doc_id, o.text,
               CASE WHEN k.u_lang < 0.41 THEN 'en'
                    WHEN k.u_lang < 0.5575 THEN 'de'
                    WHEN k.u_lang < 0.705 THEN 'fr'
                    WHEN k.u_lang < 0.8525 THEN 'es'
                    ELSE 'zh' END AS lang,
               'src' || CAST(o.doc_id % 20 AS VARCHAR) AS source,
               CAST(length(o.text) AS BIGINT) AS n_chars
        FROM txt o JOIN doc_kind k USING (doc_id)
        ORDER BY o.doc_id
        """
    )
    con.execute(f"COPY documents TO '{out}/documents.parquet' (FORMAT parquet)")


def write_embeddings(con, out: Path, vectors: int, dim: int, clusters: int) -> None:
    """Unit vectors scattered around ``clusters`` Gaussian centres;
    ``label`` is the generating cluster."""
    gauss = "sqrt(-2.0 * ln(1.0 - random())) * cos(2.0 * pi() * random())"
    con.execute(
        f"""
        CREATE OR REPLACE TABLE centres AS
        SELECT CAST(c.range AS INTEGER) AS label, CAST(j.range AS INTEGER) AS j,
               {gauss} AS x
        FROM range({clusters}) c, range({dim}) j ORDER BY label, j
        """
    )
    con.execute(
        f"""
        CREATE OR REPLACE TABLE vec_label AS
        SELECT CAST(range AS BIGINT) AS vec_id,
               CAST(floor(random() * {clusters}) AS INTEGER) AS label
        FROM range({vectors})
        """
    )
    con.execute(
        f"""
        CREATE OR REPLACE TABLE embeddings AS
        WITH comp AS (
          SELECT v.vec_id, v.label, c.j, c.x + 0.6 * {gauss} AS x
          FROM vec_label v JOIN centres c USING (label)
          ORDER BY v.vec_id, c.j
        ), nrm AS (
          SELECT vec_id, sqrt(sum(x * x)) AS n FROM comp GROUP BY vec_id
        )
        SELECT vec_id,
               list(CAST(x / n AS FLOAT) ORDER BY j) AS embedding,
               any_value(label) AS label
        FROM comp JOIN nrm USING (vec_id)
        GROUP BY vec_id ORDER BY vec_id
        """
    )
    con.execute(f"COPY embeddings TO '{out}/embeddings.parquet' (FORMAT parquet)")


def split_files(con, out: Path, n_files: int, ticks_per_file: int) -> None:
    """The live feed: the events history cut into event-time-ordered
    files of ``ticks_per_file`` rows each."""
    files = out / "files"
    files.mkdir()
    for i in range(n_files):
        lo, hi = i * ticks_per_file, (i + 1) * ticks_per_file
        con.execute(
            f"COPY (SELECT * FROM events WHERE event_id >= {lo} AND "
            f"event_id < {hi} ORDER BY event_id) "
            f"TO '{files}/{i:04d}.parquet' (FORMAT parquet)"
        )


def generate(workload: str, seed: int, shape: dict, cache_root: Path) -> Path:
    """Return the cached input directory for (workload, seed, shape),
    generating it first if needed."""
    key = hashlib.md5(json.dumps(shape, sort_keys=True).encode()).hexdigest()[:10]
    out = cache_root / f"{workload}-s{seed}-{key}"
    if (out / "shape.json").exists():
        return out
    tmp = cache_root / f".{out.name}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    con = _connect(seed)
    if workload == "live":
        n_ticks = shape["files"] * shape["ticks_per_file"]
        write_events(con, tmp, n_ticks, shape["keys"], shape["days"])
        split_files(con, tmp, shape["files"], shape["ticks_per_file"])
    else:
        write_documents(
            con, tmp, shape["docs"], shape["dup_share"], shape["near_dup_share"]
        )
        write_embeddings(
            con, tmp, shape["vectors"], shape["dim"], shape["clusters"]
        )
    con.close()
    (tmp / "shape.json").write_text(
        json.dumps({"workload": workload, "seed": seed, **shape}, sort_keys=True)
    )
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out
