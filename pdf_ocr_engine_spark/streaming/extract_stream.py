"""Structured Streaming front-end for the extraction pipeline.

The batch job satisfies the north_rule's resumability with partition
manifests (``plans/checkpoint.py``); this module is the *continuous-ingest*
variant for a landing zone that keeps receiving WARC-derived page files:

    pages files → readStream → extract (same Arrow-batched operator)
                → writeStream parquet sink, exactly-once via checkpoint

Design notes (Spark-first):

* the extraction operator is IDENTICAL to the batch one (``mapInArrow`` is
  streaming-compatible) — one code path, two drivers;
* exactly-once: the file source records consumed files and the parquet sink
  commits atomically per micro-batch into the checkpoint's write-ahead log —
  a killed job resumes without reprocessing or duplicating documents;
* ``Trigger.AvailableNow`` drains the backlog in bounded micro-batches and
  stops — the streaming analog of a resumable batch catch-up run;
* ``maxFilesPerTrigger`` bounds micro-batch size so executor memory holds
  at 50 MB-max payloads (F3 guard).

No event-time windowing is needed: extraction is per-row, so there are no
watermarks/state stores in this job (SURVEY.md §2.9 — the reference has no
temporal semantics either).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..core.extract_doc import ExtractOptions
from ..operators.extract import extract_pages
from ..sources.schemas import PAGES_SCHEMA

__all__ = ["PAGES_SCHEMA", "read_pages_stream", "extract_stream"]


def read_pages_stream(spark: SparkSession, input_dir: str,
                      max_files_per_trigger: int = 16) -> DataFrame:
    return (spark.readStream.schema(PAGES_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir))


def extract_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    options: ExtractOptions | None = None,
    available_now: bool = True,
    max_files_per_trigger: int = 16,
    recognizer_factory=None,
):
    """Start the streaming extraction; returns the ``StreamingQuery``.

    With ``available_now=True`` the query drains all currently-visible files
    and finishes (call ``.awaitTermination()``); with ``False`` it runs
    continuously on new files.  ``recognizer_factory`` enables the OCR tier
    for image-only real-PDF pages — same per-task init contract as the
    batch operator (the model builds once per task, never per microbatch
    row).
    """
    pages = read_pages_stream(spark, input_dir, max_files_per_trigger)
    extracted = extract_pages(pages, options,
                              recognizer_factory=recognizer_factory)
    writer = (extracted.writeStream
              .format("parquet")
              .option("path", output_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
