"""Arrow-batched extraction operator — the pipeline's hot stage.

``extract_pages(df)`` maps the Common-Crawl-style pages DataFrame
``(url, warc_ts, html, text, lang, ...)`` to the extracted-output DataFrame
with one ``mapInArrow`` in **iterator form**: per-task init happens once and
is amortized over all Arrow batches — the Spark analog of the reference's
singleton OCR worker reused across pages (``src/lib/ocr/index.ts:99-103``,
the "64x faster" design note in its README).

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
from collections.abc import Iterator
from typing import TYPE_CHECKING

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

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

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

    The text path runs ``mapInArrow`` (pyarrow RecordBatch in/out — measured
    ~30% faster than ``mapInPandas`` on binary-heavy rows: no pandas Series
    materialization, and the ``warc_ts`` column passes through as the same
    Arrow array untouched).  With ``options.emit_spans`` the output gains a
    ``spans`` array column (:data:`SPAN_SCHEMA`) carrying the positioned
    word sequence per document; that opt-in path stays on ``mapInPandas``
    for the nested-struct column assembly.

    ``recognizer_factory`` (zero-arg callable returning an ``image_bytes →
    words`` recognizer) turns on the OCR tier for image-only real-PDF
    pages — invoked ONCE per task at the init point, the Spark analog of
    the reference's singleton tesseract worker (``ocr.ts:20-48``).  Pass a
    factory, not a recognizer: model handles don't pickle; the closure
    ships the recipe and the executor builds the instance."""
    return _extract_pages(df, options or DEFAULT_OPTIONS, recognizer_factory)


def _extract_pages(df: DataFrame, opts: ExtractOptions, recognizer_factory,
                   ocr_gate=None) -> DataFrame:
    """:func:`extract_pages`, optionally gated per document (see
    :func:`_recognizer_picker`; ``operators.ocr`` passes its predicate)."""
    if not opts.emit_spans:
        return _extract_pages_arrow(df, opts, recognizer_factory, ocr_gate)
    return _extract_pages_pandas(df, opts, emit_spans=True,
                                 recognizer_factory=recognizer_factory,
                                 ocr_gate=ocr_gate)


def _with_route(schema: StructType) -> StructType:
    """``schema`` plus the trailing ``route`` column of a gated pass."""
    return StructType(list(schema)
                      + [StructField("route", StringType(), False)])


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


def _extract_pages_arrow(df: DataFrame, opts: ExtractOptions,
                         recognizer_factory=None,
                         ocr_gate=None) -> DataFrame:
    # captured driver-side: pre-forked python workers don't see driver env
    audit = os.environ.get("SPARK_GRAFT_ASSET_AUDIT")
    schema = _with_route(EXTRACTED_SCHEMA) if ocr_gate else EXTRACTED_SCHEMA

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
            for payload, lang in zip(payloads, langs):
                recognizer, route = pick(payload)
                t0 = time.perf_counter_ns()
                r = extract_document(payload, lang, opts, hyphen_ex,
                                     recognizer)
                walls.append((time.perf_counter_ns() - t0) // 1000)
                routes.append(route)
                for k in cols:
                    cols[k].append(r[k])
            ts = (b.column("warc_ts") if "warc_ts" in b.schema.names
                  else pa.nulls(n, pa.timestamp("us")))
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
                *route_col,
            ], names=schema.names)

    wanted = [c for c in ("url", "warc_ts", "html", "lang") if c in df.columns]
    return df.select(*wanted).mapInArrow(run, schema)


def _extract_pages_pandas(df: DataFrame, opts: ExtractOptions,
                          emit_spans: bool,
                          recognizer_factory=None,
                          ocr_gate=None) -> DataFrame:
    audit = os.environ.get("SPARK_GRAFT_ASSET_AUDIT")

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        install_zip_guard()
        import pandas as pd  # executor-side import

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        # per-task init point (mirrors the reference's singleton worker);
        # executor assets (S6) load here, and model-backed decoders
        # (the OCR recognizer included) initialize here, or at the first
        # gated-in document.
        hyphen_ex = _load_hyphen_asset(opts, audit)
        pick = _recognizer_picker(recognizer_factory, ocr_gate)
        for batch in batches:
            n = len(batch)
            if n == 0:
                continue
            urls = batch["url"].tolist()
            langs = batch["lang"].tolist() if "lang" in batch else [None] * n
            payloads = batch["html"].tolist()
            ts = (batch["warc_ts"] if "warc_ts" in batch
                  else pd.Series([pd.NaT] * n))

            cols: dict[str, list] = {k: [] for k in
                                     ("kind", "status", "error", "n_bytes",
                                      "n_pages", "n_words", "text",
                                      "n_fallbacks", "wall_us", "spans",
                                      "route")}
            for payload, lang in zip(payloads, langs):
                recognizer, route = pick(payload)
                t0 = time.perf_counter_ns()
                # no bytes() here: extract_document type-guards the payload
                # itself (errors-as-values even for mis-typed columns)
                r = extract_document(payload, lang, opts, hyphen_ex,
                                     recognizer)
                wall = (time.perf_counter_ns() - t0) // 1000
                cols["kind"].append(r["kind"])
                cols["status"].append(r["status"])
                cols["error"].append(r["error"])
                cols["n_bytes"].append(r["n_bytes"])
                cols["n_pages"].append(r["n_pages"])
                cols["n_words"].append(r["n_words"])
                cols["text"].append(r["text"])
                cols["n_fallbacks"].append(r["n_fallbacks"])
                cols["wall_us"].append(wall)
                cols["route"].append(route)
                if emit_spans:
                    cols["spans"].append(r.get("spans") or [])

            spans_col = {"spans": cols["spans"]} if emit_spans else {}
            route_col = {"route": cols["route"]} if ocr_gate else {}
            yield pd.DataFrame({
                "url": urls,
                "warc_ts": ts.reset_index(drop=True),
                "lang": langs,
                "kind": cols["kind"],
                "status": cols["status"],
                "error": cols["error"],
                "n_bytes": pd.Series(cols["n_bytes"], dtype="int64"),
                "n_pages": pd.Series(cols["n_pages"], dtype="int32"),
                "n_words": pd.Series(cols["n_words"], dtype="int32"),
                "text": cols["text"],
                "n_fallbacks": pd.Series(cols["n_fallbacks"], dtype="int32"),
                "partition_id": pd.Series([pid] * n, dtype="int32"),
                "wall_us": pd.Series(cols["wall_us"], dtype="int64"),
                **spans_col,
                **route_col,
            })

    # column pruning: request only what the stage reads, so the scan's
    # ReadSchema shrinks to 4 columns even on wide input tables.
    wanted = [c for c in ("url", "warc_ts", "html", "lang") if c in df.columns]
    schema = EXTRACTED_SCHEMA_SPANS if emit_spans else EXTRACTED_SCHEMA
    if ocr_gate:
        schema = _with_route(schema)
    return df.select(*wanted).mapInPandas(run, schema)
