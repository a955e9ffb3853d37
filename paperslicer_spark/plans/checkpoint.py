"""Checkpoint/resume for the extraction job (north_rule).

Iceberg snapshot semantics are the cluster deployment story (DDL
below); this sandbox has no Iceberg jars (SURVEY.md §7.3.4), so the
same contract is implemented with partitioned Parquet + a manifest:

- work is split into deterministic **buckets** of ``conv_id``
  (``pmod(xxhash64(conv_id), n_buckets)``) — the unit of restart;
- each bucket is written with ``partitionBy('bucket')`` dynamic
  overwrite, so re-running a bucket is idempotent;
- a ``_manifest`` parquet holds one ``bucket, status, n_rows,
  n_buckets`` row per completed bucket, appended after the bucket's
  write; ``n_rows`` is observed on the written DataFrame
  (``DataFrame.observe``), not read back. Resume skips the buckets it
  lists, and refuses a manifest written under another bucket count
  (the same ids would name other conversations).

Iceberg DDL for clusters that have the runtime jar::

    -- INPUT layout that makes the fused record path a pure map
    -- (operators/extract.parse_turns_fused(conv_aligned=True)): every
    -- conversation lives in exactly one bucket file, rows pre-sorted
    CREATE TABLE transcripts (
      conv_id string, turn_idx int, role string, text string,
      tool string, ts timestamp)
    USING iceberg
    PARTITIONED BY (bucket(4096, conv_id))
    TBLPROPERTIES ('write.sort-order' = 'conv_id, turn_idx',
      -- FILE-SPLIT CAVEAT: bucketing puts a conversation in one bucket
      -- FILE, but Spark still splits files larger than
      -- spark.sql.files.maxPartitionBytes across tasks, which would
      -- split a conversation across partitions. Keep read splits at
      -- least as large as the largest bucket file (or size bucket
      -- files under maxPartitionBytes); verify a new layout once with
      -- operators/extract.check_conv_alignment(...) == 0.
      'read.split.target-size' = '536870912');

    CREATE TABLE sections (
      conv_id string, section_label string, is_canonical boolean,
      clean_text string, bucket int)
    USING iceberg PARTITIONED BY (bucket);
    -- resume: read .snapshots / .files metadata tables instead of the
    -- _manifest parquet; overwrite via REPLACE PARTITIONS.
"""

from __future__ import annotations

import os
from typing import Callable, List

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

MANIFEST_SCHEMA = "bucket int, status string, n_rows long, n_buckets int"


def with_bucket(df: DataFrame, n_buckets: int, key: str = "conv_id") -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int"))


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def completed_buckets(spark: SparkSession, out_dir: str,
                      n_buckets: int) -> List[int]:
    """Bucket ids the manifest lists as done. ``ValueError`` when one was
    written under another bucket count: its id names other conversations."""
    try:
        m = spark.read.schema(MANIFEST_SCHEMA).parquet(_manifest_path(out_dir))
    except AnalysisException:  # no manifest yet
        return []
    rows = m.where("status = 'done'").select("bucket", "n_buckets").collect()
    other = {r["n_buckets"] for r in rows} - {n_buckets}
    if other:
        raise ValueError(f"{out_dir}: manifest written with n_buckets in "
                         f"{other}, cannot resume with n_buckets={n_buckets}")
    return [r["bucket"] for r in rows]


def run_with_resume(
    spark: SparkSession,
    turns: DataFrame,
    out_dir: str,
    transform: Callable[[DataFrame], DataFrame],
    n_buckets: int = 16,
) -> dict:
    """Run ``transform`` bucket-by-bucket with resume.

    ``turns`` may be any relation with a ``conv_id`` column.
    Each bucket's output lands under ``data/bucket=<b>/`` (dynamic
    partition overwrite → idempotent); the manifest row is appended
    only after the bucket's write succeeds, so a crash mid-bucket
    re-runs just that bucket.

    Returns a summary dict (buckets run / skipped, rows written).
    """
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    data_dir = os.path.join(out_dir, "data")
    done = set(completed_buckets(spark, out_dir, n_buckets))
    bucketed = with_bucket(turns, n_buckets)
    ran, skipped, total_rows = [], [], 0
    for b in range(n_buckets):
        if b in done:
            skipped.append(b)
            continue
        part = bucketed.where(F.col("bucket") == b)
        out = transform(part.drop("bucket")).withColumn("bucket", F.lit(b))
        rows = Observation()
        out.observe(rows, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite").partitionBy("bucket").parquet(data_dir)
        n = rows.get["n"]
        total_rows += n
        manifest_row = spark.createDataFrame(
            [(b, "done", n, n_buckets)], MANIFEST_SCHEMA)
        manifest_row.write.mode("append").parquet(_manifest_path(out_dir))
        ran.append(b)
    return {"ran": ran, "skipped": skipped, "rows_written": total_rows,
            "n_buckets": n_buckets}
