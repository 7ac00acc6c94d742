"""Sharded corpus export — the sink-side counterpart of the q92 layout
audit. Writes a curated corpus as N self-contained parquet shards with
a reprocessing-stable assignment (the q50/q92 md5-bucket family: a doc
re-exported next month lands in the SAME shard without reading last
month's output), a per-shard manifest, and a verify.py reconciliation
(row counts + order-insensitive content fingerprint — the reference's
post-copy check, reference: client/SmartBulkCopy.cs:296-339, applied to
a parquet sink instead of a JDBC one).

Scale notes (100 TB):
- the only wide stage is ONE repartition keyed on the shard id; shard
  assignment is a row-local md5 expression, so the shuffle moves each
  row once. One file per shard holds because `repartition(n, "shard")`
  hash-partitions on the shard value, so ALL of a shard's rows colocate
  in a single shuffle partition — partitions are NOT 1:1 with shard ids
  (hash(shard) % n can put two shards in one partition and leave others
  empty), but no shard ever straddles two partitions.
- the manifest and reconciliation are partial-aggregate scans of the
  written output — no collect beyond the N-row manifest and the 1-row
  fingerprint.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from smartbulkcopy_spark.pipeline.text import N_SHARDS, hash_bucket_sql
from smartbulkcopy_spark.verify import TableCheck, check_copy


def shard_col(key: str = "doc_id", n_shards: int = N_SHARDS):
    """Deterministic shard id (md5-bucket family, q92's spelling)."""
    return F.expr(hash_bucket_sql("spark", key, n_shards)).cast("int")


def export_shards(
    df: DataFrame,
    out_dir: str,
    key: str = "doc_id",
    n_shards: int = N_SHARDS,
) -> None:
    """Write `df` as shard=K parquet directories, one file per shard."""
    (
        df.withColumn("shard", shard_col(key, n_shards))
        .repartition(n_shards, "shard")
        .write.partitionBy("shard")
        .mode("overwrite")
        .parquet(out_dir)
    )


def shard_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-shard (n_docs, total_chars) from the written output — the
    consumer-facing size table (q92's numbers, but measured on the sink
    rather than predicted from the source)."""
    return (
        spark.read.parquet(out_dir)
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
        )
        .orderBy("shard")
    )


def reconcile_export(
    source: DataFrame,
    spark: SparkSession,
    out_dir: str,
    key: str = "doc_id",
    n_shards: int = N_SHARDS,
) -> TableCheck:
    """The reference's post-copy gate on the shard sink: row counts and
    the order-insensitive content fingerprint must match between the
    source plan and the written shards (shard column dropped — it is
    derivable), and every written row must sit in the shard its key
    hashes to (misplacement count must be zero, checked as part of the
    fingerprint since a moved row changes no fingerprint — hence the
    explicit misplaced count below)."""
    written = spark.read.parquet(out_dir)
    misplaced = written.where(
        F.col("shard") != shard_col(key, n_shards)
    ).count()
    if misplaced:
        raise ValueError(f"{misplaced} rows in the wrong shard")
    return check_copy(source, written.drop("shard"), table=out_dir)


def export_shards_jsonl(
    df: DataFrame,
    out_dir: str,
    key: str = "doc_id",
    n_shards: int = N_SHARDS,
) -> None:
    """JSONL variant of the shard export — the interchange format the
    ingest side (`sources/jsonl.py`) reads, so an exported corpus
    roundtrips through the SAME declared-schema contract (doc_id + text
    required; `n_chars` is derived on read and therefore not written).
    Nulls are written explicitly (`ignoreNullFields=false`): a row
    violating the ingest contract then quarantines on re-read instead
    of silently vanishing from the line count."""
    (
        df.select("doc_id", "text", "lang", "source")
        .withColumn("shard", shard_col(key, n_shards))
        .repartition(n_shards, "shard")
        .write.partitionBy("shard")
        .option("ignoreNullFields", "false")
        .mode("overwrite")
        .json(out_dir)
    )


def reconcile_jsonl_export(
    source: DataFrame, spark: SparkSession, out_dir: str
) -> TableCheck:
    """Post-export gate on the JSONL sink: re-read through the ingest
    reader (same parse + clean rule as production consumption), demand
    ZERO quarantined lines, and fingerprint-compare against the source
    plan (n_chars re-derived by the reader)."""
    from smartbulkcopy_spark.sources.jsonl import read_documents_jsonl

    docs, rejects = read_documents_jsonl(spark, f"{out_dir}/shard=*")
    n_rej = rejects.count()
    if n_rej:
        raise ValueError(f"{n_rej} exported lines fail the ingest contract")
    return check_copy(
        source.select("doc_id", "text", "lang", "source", "n_chars"),
        docs,
        table=out_dir,
    )
