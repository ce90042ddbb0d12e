"""Arrow-batched extraction operator — the pipeline's hot stage.

``extract_pages(df)`` maps the Common-Crawl-style pages DataFrame
``(url, warc_ts, html, text, lang, ...)`` to the extracted-output DataFrame
with one ``mapInArrow`` in **iterator form**: per-task init happens once and
is amortized over all Arrow batches — the Spark analog of the reference's
singleton OCR worker reused across pages (``src/lib/ocr/index.ts:99-103``,
the "64x faster" design note in its README).  Every variant (the positioned
``spans`` column, the OCR gate of ``operators.ocr``) runs this one body.

Scale notes (100 TB / 1000-executor design):
* This is a **narrow** transformation — zero shuffle.  Parallelism is the
  input partitioning (see ``plans.pipeline.salted_repartition`` for skew).
* Column pruning: only ``url, warc_ts, html, lang`` are read; select them
  before calling so the parquet/Iceberg scan prunes the rest (``text`` in
  particular — it's an output column on the input schema).
* Arrow batch sizing: ``html`` blobs are up to 50 MB, so the job config caps
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` (see plans.pipeline).
* Error isolation: every failure mode is a status/error value — one poisoned
  document never fails a task (reference ``index.ts:158-164``).
* Lineage: every output row carries the executor partition id and per-doc
  wall-clock, from which per-partition metrics are aggregated map-side.
"""

from __future__ import annotations

import os
import time

from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..core.extract_doc import DEFAULT_OPTIONS, ExtractOptions, extract_document
from ..zipguard import install_zip_guard

#: Output schema — explicit, never inferred (SURVEY.md §1.3).
EXTRACTED_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType(), True),
    StructField("lang", StringType(), True),
    StructField("kind", StringType(), False),
    StructField("status", StringType(), False),
    StructField("error", StringType(), True),
    StructField("n_bytes", LongType(), False),
    StructField("n_pages", IntegerType(), False),
    StructField("n_words", IntegerType(), False),
    StructField("text", StringType(), True),
    # corpus-quality lineage: silent substitutions the decoder made for this
    # document (MediaBox defaults, unresolvable font encodings) — summed into
    # the per-partition metrics table so drift is observable at corpus scale
    StructField("n_fallbacks", IntegerType(), False),
    StructField("partition_id", IntegerType(), False),
    StructField("wall_us", LongType(), False),
])

#: One positioned word (image coords, reading order) — the reference's
#: ``CopyFriendlyWord`` (``builder.ts:4-8``); ``idx`` is the in-page reading
#: position.  Emitted only with ``options.emit_spans``.
SPAN_SCHEMA = StructType([
    StructField("page", IntegerType(), False),
    StructField("idx", IntegerType(), False),
    StructField("raw", StringType(), False),
    StructField("x0", DoubleType(), False),
    StructField("y0", DoubleType(), False),
    StructField("x1", DoubleType(), False),
    StructField("y1", DoubleType(), False),
])

EXTRACTED_SCHEMA_SPANS = StructType(
    list(EXTRACTED_SCHEMA) + [StructField("spans", ArrayType(SPAN_SCHEMA), True)])


def _load_hyphen_asset(opts: ExtractOptions, audit_path: str | None = None):
    """Executor-side S6 asset load — called exactly once per task at the
    UDF init point (and cached per worker process by ``assets``); returns
    None unless the options opted in.  ``audit_path`` is the driver-side
    ``SPARK_GRAFT_ASSET_AUDIT`` value captured into the UDF closure (the
    disk-read observability hook)."""
    if not (opts.fix_hyphenation and getattr(opts, "hyphen_asset", None)):
        return None
    from ..sources.assets import load_asset_words
    return load_asset_words(opts.hyphen_asset, audit_path)


def extract_pages(df: DataFrame, options: ExtractOptions | None = None,
                  recognizer_factory=None) -> DataFrame:
    """Sniff → guard → route → extract, one Arrow-batched pass, no shuffle.

    One ``mapInArrow`` (pyarrow RecordBatch in/out: no pandas Series
    materialization, and the ``warc_ts`` column passes through as the same
    Arrow array untouched).  With ``options.emit_spans`` the output gains a
    ``spans`` array column (:data:`SPAN_SCHEMA`) carrying the positioned
    word sequence per document, built in the same pass.

    ``recognizer_factory`` (zero-arg callable returning an ``image_bytes →
    words`` recognizer) turns on the OCR tier for image-only real-PDF
    pages — invoked ONCE per task at the init point, the Spark analog of
    the reference's singleton tesseract worker (``ocr.ts:20-48``).  Pass a
    factory, not a recognizer: model handles don't pickle; the closure
    ships the recipe and the executor builds the instance."""
    return _extract_pages(df, options or DEFAULT_OPTIONS, recognizer_factory)


def _recognizer_picker(recognizer_factory, ocr_gate):
    """Per-task recognizer hand-out: ``payload -> (recognizer, route)``.

    Ungated, the factory runs once at the task's init point and every
    document is offered the recognizer (route ``None``).  With
    ``ocr_gate`` (a ``payload -> bool`` predicate), only gated-in
    documents get it (route ``"ocr"``, else ``"text"``), and the factory
    runs when the task reaches its first such document, so a task of
    born-digital documents never builds a model."""
    if ocr_gate is None:
        recognizer = recognizer_factory() if recognizer_factory else None
        return lambda payload: (recognizer, None)
    built: list = []

    def pick(payload):
        if not ocr_gate(payload):
            return None, "text"
        if not built:
            built.append(recognizer_factory() if recognizer_factory
                         else None)
        return built[0], "ocr"
    return pick


def _extract_pages(df: DataFrame, opts: ExtractOptions,
                   recognizer_factory=None, ocr_gate=None) -> DataFrame:
    """:func:`extract_pages`, optionally gated per document (see
    :func:`_recognizer_picker`; ``operators.ocr`` passes its predicate)."""
    # captured driver-side: pre-forked python workers don't see driver env
    audit = os.environ.get("SPARK_GRAFT_ASSET_AUDIT")
    emit_spans = opts.emit_spans
    schema = EXTRACTED_SCHEMA_SPANS if emit_spans else EXTRACTED_SCHEMA
    if ocr_gate:
        # a gated pass records each decision in a trailing route column
        schema = StructType(list(schema)
                            + [StructField("route", StringType(), False)])

    def run(batches):
        install_zip_guard()
        import pyarrow as pa

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        # per-task init point (mirrors the reference's singleton worker):
        # executor assets (S6) load here, once, never in the batch loop —
        # and the OCR model (when enabled) initializes here too, or at the
        # first gated-in document
        hyphen_ex = _load_hyphen_asset(opts, audit)
        pick = _recognizer_picker(recognizer_factory, ocr_gate)
        if emit_spans:
            from pyspark.sql.pandas.types import to_arrow_type
            spans_type = to_arrow_type(
                EXTRACTED_SCHEMA_SPANS["spans"].dataType)
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            langs = b.column("lang").to_pylist() if "lang" in b.schema.names \
                else [None] * n
            payloads = b.column("html").to_pylist()
            cols: dict[str, list] = {k: [] for k in
                                     ("kind", "status", "error", "n_bytes",
                                      "n_pages", "n_words", "text",
                                      "n_fallbacks")}
            walls: list[int] = []
            routes: list[str | None] = []
            spans: list[list] = []
            for payload, lang in zip(payloads, langs):
                recognizer, route = pick(payload)
                t0 = time.perf_counter_ns()
                r = extract_document(payload, lang, opts, hyphen_ex,
                                     recognizer)
                walls.append((time.perf_counter_ns() - t0) // 1000)
                routes.append(route)
                for k in cols:
                    cols[k].append(r[k])
                if emit_spans:
                    # a document without spans gets an empty list, not null
                    spans.append(r.get("spans") or [])
            ts = (b.column("warc_ts") if "warc_ts" in b.schema.names
                  else pa.nulls(n, pa.timestamp("us")))
            spans_col = [pa.array(spans, spans_type)] if emit_spans else []
            route_col = [pa.array(routes, pa.string())] if ocr_gate else []
            yield pa.record_batch([
                b.column("url"), ts,
                pa.array(langs, pa.string()),
                pa.array(cols["kind"], pa.string()),
                pa.array(cols["status"], pa.string()),
                pa.array(cols["error"], pa.string()),
                pa.array(cols["n_bytes"], pa.int64()),
                pa.array(cols["n_pages"], pa.int32()),
                pa.array(cols["n_words"], pa.int32()),
                pa.array(cols["text"], pa.string()),
                pa.array(cols["n_fallbacks"], pa.int32()),
                pa.array([pid] * n, pa.int32()),
                pa.array(walls, pa.int64()),
                *spans_col,
                *route_col,
            ], names=schema.names)

    # column pruning: request only what the stage reads, so the scan's
    # ReadSchema shrinks to 4 columns even on wide input tables.
    wanted = [c for c in ("url", "warc_ts", "html", "lang") if c in df.columns]
    return df.select(*wanted).mapInArrow(run, schema)
