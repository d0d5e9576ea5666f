"""Corpus ingest (SURVEY §2 A1, D7; BASELINE.json:L15).

Reads the Iceberg-shaped ``source_files`` table — in this sandbox an
Iceberg-shaped Parquet layout (no Iceberg jar available; see
kgx/io/tableformat.py) — projects the 5 contract columns, and attaches the
two identity columns everything downstream keys on:

* ``content_sha = sha2(content, 256)``  — the per-row invariant column
  [BASELINE.json:L15 "content sha256 equality"],
* ``file_key    = sha2(repo || path, 256)`` — the partitioning key
  [BASELINE.json:L6 "explicit repartitioning on sha256(repo,path)"].

All expressions are JVM built-ins (whole-stage codegen; no Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kgx.io.tableformat import read_table

BASE_COLS = ["repo", "path", "commit", "lang", "content"]


def scan_source_files(spark: SparkSession, uri: str, fmt: str = "parquet") -> DataFrame:
    """Scan + project + attach identity columns.

    Keeping the projection minimal here lets Catalyst push column pruning
    into the parquet reader for every downstream plan.
    """
    df = read_table(spark, uri, fmt=fmt).select(*BASE_COLS)
    return with_file_identity(df)


_SEP = "\x1f"


def with_file_identity(df: DataFrame) -> DataFrame:
    """Attach ``content_sha`` and ``file_key``.

    ``file_key`` is ROW IDENTITY, not just a partitioning hint: the
    pipeline's latest-version window dedups on it, so two distinct
    (repo, path) pairs must never alias one key.  ``concat_ws`` with the
    ``\\x1f`` unit separator guarantees that only if neither field contains
    the separator itself — so rows that do are rejected at scan time
    (per-row ``raise_error``, a codegen'd string scan that costs nothing
    next to the content sha256) instead of silently dropping a file.
    Downstream expectation: at most one row per (file_key, commit); rows
    equal on both are true duplicates and either may be kept.
    """
    sep_clash = F.col("repo").contains(_SEP) | F.col("path").contains(_SEP)
    return df.withColumn("content_sha", F.sha2(F.col("content"), 256)).withColumn(
        "file_key",
        F.when(
            ~sep_clash, F.sha2(F.concat_ws(_SEP, "repo", "path"), 256)
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("file identity violated: repo/path contains the \\x1f separator: "),
                    F.col("repo"), F.lit(" :: "), F.col("path"),
                )
            )
        ),
    )


def latest_versions(df: DataFrame) -> DataFrame:
    """Keep the newest ``commit`` per (repo, path) — SURVEY §2 D7.

    The 5-column contract carries no timestamp, so "newest" is defined as
    the lexicographically greatest commit id; deterministic and agreed with
    the fixture generator.  Window row_number is the Spark idiom for an
    as-of/latest join (no native as-of in Spark).

    Scale note: called on an arbitrarily-partitioned table this plans a
    full shuffle of every column — including fat ``content``.  The
    pipeline (kgx.pipeline) applies the same window keyed on ``file_key``
    AFTER the mandated sha256(repo,path) repartition, where the exchange
    is already satisfied and the window is a partition-local sort.
    """
    w = Window.partitionBy("repo", "path").orderBy(F.col("commit").desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def repartition_corpus(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Explicit hash repartition on file_key (= sha256(repo,path)) so one
    file's rows land in one task and the detect UDF sees balanced batches
    [BASELINE.json:L6].

    ``num_partitions=None`` resolves to the session's
    ``spark.sql.shuffle.partitions`` — the corpus fan-out then follows the
    same setting as every other shuffle (sized to the host by
    kgx.session.get_spark, to the data by cluster callers).  The count is
    always passed explicitly, so the exchange stays a fixed-width
    REPARTITION_BY_NUM that adaptive execution never coalesces."""
    if num_partitions is None:
        num_partitions = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(num_partitions, "file_key")
