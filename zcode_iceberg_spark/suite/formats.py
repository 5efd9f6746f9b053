"""Interchange-format round-trip suite: every corpus I/O module
(csvio, jsonl, orcio, avroio) driven end-to-end under the driver's
hash gate. Each query writes the documents table out through the
module's egress path, reads it back through the module's strict
ingest path, and aggregates a content checksum per (lang, source) —
the oracle computes the same rollup from the parquet table directly,
so a green row proves the format round-trip is LOSSLESS (any dropped
row, mangled text byte, or coerced type flips the order-free
``word_hash`` checksum).

Strictness: CSV/JSONL read FAILFAST (a corrupt line fails the query,
never a silent drop); ORC/Avro reads carry the declared schema and
fail loudly on shard drift. Scratch tables are rebuilt per run under
a corpus-keyed temp dir, so the queries stay deterministic whatever a
prior run left behind.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from zcode_iceberg_spark.operators.text import word_hash
from zcode_iceberg_spark.sources.tables import load_table
from zcode_iceberg_spark.suite import Query
from zcode_iceberg_spark.suite.llm import WORD_HASH_SQL, _build_scratch

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)
COLS = [f.name for f in DOC_SCHEMA.fields]
N_SHARDS = 4


def _scratch(sf_dir: str, fmt: str) -> str:
    # keyed to (corpus, format, PROCESS): each run rewrites the dir
    return _build_scratch(f"zspark_fmt_{fmt}_", sf_dir)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").select(*COLS)


def _rollup(df: DataFrame) -> DataFrame:
    """Order-free fidelity rollup: counts, char mass, and an integer
    text checksum that any mutation of any row perturbs."""
    return df.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(word_hash(F.col("text"))).alias("text_checksum"),
    )


def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → sharded CSV → strict (FAILFAST) text-scan read →
    rollup (sources/csvio.py end-to-end)."""
    from zcode_iceberg_spark.sources.csvio import read_csv, write_csv

    path = _scratch(sf_dir, "csv")
    write_csv(_docs(spark, sf_dir), path, n_shards=N_SHARDS)
    spark.catalog.refreshByPath(path)
    valid, _ = read_csv(spark, path, DOC_SCHEMA, strict=True)
    return _rollup(valid)


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → sharded JSONL → strict read → rollup
    (sources/jsonl.py end-to-end)."""
    from zcode_iceberg_spark.sources.jsonl import read_jsonl, write_jsonl

    path = _scratch(sf_dir, "jsonl")
    write_jsonl(_docs(spark, sf_dir), path, n_shards=N_SHARDS)
    spark.catalog.refreshByPath(path)
    valid, _ = read_jsonl(spark, path, DOC_SCHEMA, strict=True)
    return _rollup(valid)


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → sharded zlib ORC → declared-schema read → rollup
    (sources/orcio.py end-to-end)."""
    from zcode_iceberg_spark.sources.orcio import read_orc, write_orc

    path = _scratch(sf_dir, "orc")
    write_orc(_docs(spark, sf_dir), path, n_shards=N_SHARDS)
    spark.catalog.refreshByPath(path)
    return _rollup(read_orc(spark, path, DOC_SCHEMA))


def q_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → sharded deflate Avro containers → schema-checked
    decode → rollup (sources/avroio.py end-to-end: the pure-Python
    object-container codec through binaryFile + mapInPandas)."""
    from zcode_iceberg_spark.sources.avroio import read_avro, write_avro

    path = _scratch(sf_dir, "avro")
    write_avro(_docs(spark, sf_dir), path, n_shards=N_SHARDS)
    spark.catalog.refreshByPath(path)
    return _rollup(read_avro(spark, path, DOC_SCHEMA))


SQL_FMT_ROUNDTRIP = f"""
SELECT lang, source,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum({WORD_HASH_SQL.format(x='text')}) AS BIGINT) AS text_checksum
FROM documents
GROUP BY lang, source
"""

QUERIES = {
    "csv_roundtrip": Query(q_csv_roundtrip, SQL_FMT_ROUNDTRIP),
    "jsonl_roundtrip": Query(q_jsonl_roundtrip, SQL_FMT_ROUNDTRIP),
    "orc_roundtrip": Query(q_orc_roundtrip, SQL_FMT_ROUNDTRIP),
    "avro_roundtrip": Query(q_avro_roundtrip, SQL_FMT_ROUNDTRIP),
}
