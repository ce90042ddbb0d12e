"""Staged extraction DAG — plan shape, skew handling, metrics/lineage.

The job DAG (SURVEY.md §7.0), equivalent in role to the reference's
orchestrating driver ``convertPdfToSearchable`` (``src/lib/ocr/index.ts:27-173``)
but expressed as DataFrame stages:

    pages ──salted repartition──▶ extract (mapInArrow, narrow)
          ──▶ output table  +  per-partition metrics table

Shuffle inventory (what the 100 TB plan pays for):
  1. the explicit salted ``repartition`` — ONE shuffle, deliberately bought to
     break host-prefix skew before the expensive stage (AQE only rebalances
     shuffle *reads*; compute skew inside a UDF stage needs the explicit salt);
     skip it (``salt_partitions=0``) when the source is already well-bucketed.
  2. the metrics aggregation — a partial+final hash agg over ~P rows of
     counters; negligible (map-side combine reduces each partition to 1 row).
The extract stage itself is narrow: no shuffle at any scale.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.extract_doc import ExtractOptions
from ..operators.extract import extract_pages

#: regex host extraction — cheaper than parse_url (no java URL object),
#: Catalyst-foldable, and tolerant of junk urls (empty string on no match).
_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)"


def host_col(url=None):
    """Host prefix of a url (the skew axis per BASELINE.json north_rule)."""
    return F.regexp_extract(url if url is not None else F.col("url"), _HOST_RE, 1)


def salted_repartition(df: DataFrame, num_partitions: int,
                       salt_buckets: int | None = None) -> DataFrame:
    """Repartition on ``(host, salt)`` so one dominant host spreads over
    ``salt_buckets`` partitions instead of hot-spotting one task.

    ``salt = pmod(xxhash64(url), salt_buckets)`` is deterministic per url —
    re-runs place every document identically (required for resumability and
    for debugging at 10^12 rows).

    ``salt_buckets`` defaults to ``128 * num_partitions``: the (host, salt)
    key space must be much larger than the partition count, else distinct
    keys hash-lump into partitions unevenly (measured max/mean imbalance
    into 64 partitions: 1.98 with 16 salts, 1.20 with 512, 1.07 with 8192)
    and the straggler tail wastes cores in the final task wave.  Large salt
    counts cost nothing — the salt never materializes as a column.
    """
    if salt_buckets is None:
        salt_buckets = 128 * num_partitions
    return df.repartition(
        num_partitions,
        host_col(),
        F.pmod(F.xxhash64(F.col("url")), F.lit(salt_buckets)),
    )


@dataclass
class ExtractionResult:
    extracted: DataFrame   # one row per input document
    metrics: DataFrame     # one row per executor partition (lineage)


def partition_metrics(extracted: DataFrame, run_id: str) -> DataFrame:
    """Per-partition lineage + metrics (north_rule).  Aggregates the
    lineage columns every output row carries; map-side combine collapses
    each partition to a single row before the (tiny) final shuffle."""
    return extracted.groupBy("partition_id").agg(
        F.lit(run_id).alias("run_id"),
        F.count("*").alias("docs_in"),
        F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("docs_ok"),
        F.sum(F.when(~F.col("status").isin("ok", "empty"), 1).otherwise(0))
         .alias("docs_err"),
        F.sum("n_words").alias("words"),
        F.sum("n_bytes").alias("bytes_in"),
        F.sum(F.length("text")).alias("bytes_out"),
        F.sum("wall_us").alias("wall_us"),
        F.max("wall_us").alias("max_doc_wall_us"),
        # decoder silent-substitution count (MediaBox defaults, unresolvable
        # encodings): nonzero drift here means corpus quality is degrading
        # even while status='ok' rates look healthy
        F.sum("n_fallbacks").alias("fallbacks"),
    )


def run_extraction(
    pages: DataFrame,
    *,
    options: ExtractOptions | None = None,
    num_partitions: int | None = None,
    salt_buckets: int | None = None,
    run_id: str = "adhoc",
    recognizer_factory=None,
) -> ExtractionResult:
    """The full DAG: salt+repartition → extract → (output, metrics).
    ``recognizer_factory`` enables the OCR tier for image-only real-PDF
    pages (same init-once contract as ``extract_pages``)."""
    df = pages
    if num_partitions:
        df = salted_repartition(df, num_partitions, salt_buckets)
    extracted = extract_pages(df, options,
                              recognizer_factory=recognizer_factory)
    return ExtractionResult(extracted, partition_metrics(extracted, run_id))


def write_extraction(
    spark: SparkSession,
    pages: DataFrame,
    output_dir: str,
    *,
    options: ExtractOptions | None = None,
    num_partitions: int | None = None,
    salt_buckets: int | None = None,
    run_id: str = "adhoc",
    recognizer_factory=None,
) -> DataFrame:
    """Materialize the DAG once: extract → write data → derive the metrics
    table from a **read-back** of the written parquet (lineage columns are in
    every row), so the expensive extract stage is never recomputed for
    metrics.  Returns the read-back extracted DataFrame.

    Job-level counters ride the write action itself via ``df.observe``
    (the reference's progress/timing spans, SURVEY.md S9) — zero extra
    passes — and land in ``<output>/observed.json``."""
    import json
    import os

    from pyspark.sql import Observation

    res = run_extraction(pages, options=options, num_partitions=num_partitions,
                         salt_buckets=salt_buckets, run_id=run_id,
                         recognizer_factory=recognizer_factory)
    obs = Observation(f"extract-{run_id}")
    observed = res.extracted.observe(
        obs,
        F.count(F.lit(1)).alias("docs_in"),
        F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("docs_ok"),
        F.sum("n_words").alias("words"),
        F.sum("n_bytes").alias("bytes_in"),
        F.sum(F.length("text")).alias("bytes_out"),
        # decoder silent-substitution total — job-level twin of the
        # per-partition `fallbacks` metric (corpus-quality drift signal)
        F.sum("n_fallbacks").alias("fallbacks"),
    )
    observed.write.mode("overwrite").parquet(f"{output_dir}/data")
    if "://" not in output_dir:  # local fs only; object stores skip the json
        with open(os.path.join(output_dir, "observed.json"), "w") as f:
            json.dump({"run_id": run_id,
                       **{k: (int(v) if v is not None else 0)
                          for k, v in obs.get.items()}}, f)
    written = spark.read.parquet(f"{output_dir}/data")
    partition_metrics(written, run_id).write.mode("overwrite") \
        .parquet(f"{output_dir}/metrics")
    return written


#: Job-level session config for the extraction workload.  Values chosen for
#: executor memory safety with up-to-50MB binary payloads (F3 guard):
#: 64 rows/Arrow batch * 50 MB worst case ≈ 3.2 GB absolute ceiling, while
#: typical web pages (~100 KB) batch at ~6 MB; maxPartitionBytes keeps scan
#: splits at the parquet-row-group scale.
EXTRACTION_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "64",
    "spark.sql.files.maxPartitionBytes": "268435456",  # 256 MB scan splits
    "spark.sql.parquet.compression.codec": "zstd",
}


def build_session(app_name: str = "pdf-ocr-engine-spark", master: str | None = None,
                  shuffle_partitions: int | None = None) -> SparkSession:
    """Session factory applying :data:`EXTRACTION_CONF`.  ``master=None``
    defers to spark-submit (the production path: ``spark-submit --py-files
    pdf_ocr_engine_spark.zip scripts/run_extract.py``)."""
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    for k, v in EXTRACTION_CONF.items():
        b = b.config(k, v)
    if shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return b.getOrCreate()
