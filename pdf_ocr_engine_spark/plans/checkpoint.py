"""Resumable batch execution via per-bucket completion manifests.

north_rule: "resumable from checkpoint by skipping completed partition
manifests".  Spark has no batch-resume primitive, so the driver loop
implements it (SURVEY.md §4):

* every document belongs to a deterministic bucket
  ``pmod(xxhash64(url), n_buckets)`` — identical across runs and cluster
  sizes;
* buckets are processed in chunks; each chunk's output is appended under
  ``<out>/data/bucket=<i>/`` and, only after the write commits, a manifest
  JSON is written to ``<out>/_manifests/bucket_<i>.json`` (manifest-LAST
  ordering: a crash between data-write and manifest leaves the bucket
  unmanifested, so the re-run reprocesses it after clearing the orphan
  partition dir — never lost, never silently partial);
* a re-run lists manifests and skips completed buckets: they are never
  extracted or written.  The bucket filter is a ``DataFilter`` on a computed
  column, not a pushed scan filter, so every chunk still reads the whole
  input table and drops the other buckets' rows after the scan.

At 10^12 documents the manifest table is ``n_buckets`` tiny JSON files — list
it on the driver in O(n_buckets); data-file listing is never needed.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.extract_doc import ExtractOptions
from ..operators.extract import extract_pages

BUCKET_COL = "bucket"


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(F.col("url")), F.lit(n_buckets)).cast("int"))


def _manifest_dir(output_dir: str) -> str:
    return os.path.join(output_dir, "_manifests")


def completed_buckets(output_dir: str) -> set[int]:
    mdir = _manifest_dir(output_dir)
    if not os.path.isdir(mdir):
        return set()
    done = set()
    for name in os.listdir(mdir):
        if name.startswith("bucket_") and name.endswith(".json"):
            done.add(int(name[len("bucket_"):-len(".json")]))
    return done


@dataclass
class ResumeReport:
    processed_buckets: list[int]
    skipped_buckets: list[int]
    docs_written: int


def run_resumable(
    spark: SparkSession,
    pages: DataFrame,
    output_dir: str,
    *,
    n_buckets: int = 64,
    chunk_buckets: int = 16,
    options: ExtractOptions | None = None,
    run_id: str = "run",
    max_chunks: int | None = None,
    recognizer_factory=None,
) -> ResumeReport:
    """Process pending buckets in chunks; each chunk = write data, then
    manifests.  ``max_chunks`` exists for tests (simulated interruption)."""
    os.makedirs(_manifest_dir(output_dir), exist_ok=True)
    data_dir = os.path.join(output_dir, "data")

    done = completed_buckets(output_dir)
    pending = [b for b in range(n_buckets) if b not in done]

    # crash hygiene: a bucket dir without a manifest is an orphan from a
    # killed run — drop it so the append can't duplicate rows.
    if os.path.isdir(data_dir):
        for name in os.listdir(data_dir):
            if name.startswith(f"{BUCKET_COL}="):
                b = int(name.split("=", 1)[1])
                if b not in done:
                    shutil.rmtree(os.path.join(data_dir, name))

    bucketed = with_bucket(pages, n_buckets)
    processed: list[int] = []
    docs_written = 0

    for start in range(0, len(pending), chunk_buckets):
        if max_chunks is not None and start // chunk_buckets >= max_chunks:
            break
        chunk = pending[start:start + chunk_buckets]
        chunk_df = bucketed.where(F.col(BUCKET_COL).isin(chunk))
        extracted = extract_pages(chunk_df.drop(BUCKET_COL), options,
                                  recognizer_factory=recognizer_factory)
        out = with_bucket(extracted, n_buckets)
        out.write.mode("append").partitionBy(BUCKET_COL).parquet(data_dir)

        # commit point: manifests AFTER the data write succeeded.  Counts
        # come from a read-back of the written files (partition pruning keeps
        # the scan to this chunk) — never recompute the extract stage.  The
        # explicit schema keeps the read alive when a chunk wrote zero rows
        # for every bucket (only _SUCCESS on disk → inference would fail).
        counts = {r[BUCKET_COL]: r["n"] for r in
                  spark.read.schema(out.schema).parquet(data_dir)
                       .where(F.col(BUCKET_COL).isin(chunk))
                       .groupBy(BUCKET_COL).agg(F.count("*").alias("n"))
                       .collect()}
        for b in chunk:
            with open(os.path.join(_manifest_dir(output_dir),
                                   f"bucket_{b}.json"), "w") as f:
                json.dump({"bucket": b, "run_id": run_id,
                           "docs": counts.get(b, 0),
                           "committed_at": time.time()}, f)
        processed.extend(chunk)
        docs_written += sum(counts.values())

    return ResumeReport(processed, sorted(done), docs_written)
