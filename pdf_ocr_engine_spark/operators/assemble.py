"""Searchable-PDF assembly operator — the reference's U3 stage as a narrow
Arrow-batched transformation.

``assemble_searchable(df)`` maps the pages table ``(url, html, lang)`` to
``(url, status, n_pages, n_words, pdf)`` where ``pdf`` is a real PDF with an
invisible positioned text layer (``core/pdfwrite.py``), the analog of the
reference's ``buildSearchablePdf`` (``src/lib/ocr/builder.ts:124-204``)
driven per document instead of per request.  Same plan shape as extraction:
no shuffle, per-task init point, error-as-value statuses.

At 100 TB the output PDFs dominate storage; write them to their own table
partitioned like the input so the text table stays scan-friendly.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..core.extract_doc import DEFAULT_OPTIONS, ExtractOptions, sniff_document
from ..core.layout_fast import page_layout_fast
from ..core.pdfbin import decode_pdf_arrays
from ..core.pdfcrypt import EncryptedPdfError
from ..core.pdfwrite import build_searchable_pdf
from ..zipguard import install_zip_guard

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

ASSEMBLED_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("status", StringType(), False),
    StructField("error", StringType(), True),
    StructField("n_pages", IntegerType(), False),
    StructField("n_words", IntegerType(), False),
    StructField("pdf", BinaryType(), True),
])


def _assemble_one(payload: bytes | None, lang: str | None,
                  opts: ExtractOptions, preserve_images: bool = False,
                  recognizer=None) -> dict:
    sniff = sniff_document(payload, lang, opts)
    if sniff["status"] != "ok" or sniff["kind"] != "pdf":
        status = sniff["status"] if sniff["status"] != "ok" else "unsupported"
        err = sniff["error"] or "searchable assembly needs a PDF payload"
        return {"status": status, "error": err,
                "n_pages": 0, "n_words": 0, "pdf": None}
    try:
        doc = decode_pdf_arrays(payload)
        pages = doc["pages"]
        if doc["page_count"] == 0:
            return {"status": "no_pages", "error": "PDF has no pages",
                    "n_pages": 0, "n_words": 0, "pdf": None}
        if opts.max_pages and doc["page_count"] > opts.max_pages:
            return {"status": "too_many_pages",
                    "error": f"PDF has {doc['page_count']} pages",
                    "n_pages": doc["page_count"], "n_words": 0, "pdf": None}
        if preserve_images:
            return _overlay_one(payload, doc, recognizer)
        out_pages = []
        n_words = 0
        for p in pages:
            if p.get("has_text"):
                # page already searchable: copied with no new text layer
                # (builder.ts:146-147 left-join semantics)
                spans = []
            else:
                _text, nw, spans = page_layout_fast(
                    p["texts"], p["coords"], want_spans=True)
                n_words += nw
            out_pages.append({"width": p["width"], "height": p["height"],
                              "spans": spans})
        pdf = build_searchable_pdf(out_pages)
        return {"status": "ok", "error": None, "n_pages": len(out_pages),
                "n_words": n_words, "pdf": pdf}
    except EncryptedPdfError as exc:
        # same taxonomy as the extract path: password-protected documents
        # must count as 'encrypted' on EVERY route, or crawl stats diverge
        return {"status": "encrypted", "error": str(exc),
                "n_pages": 0, "n_words": 0, "pdf": None}
    except Exception as exc:  # noqa: BLE001 - per-doc error isolation
        return {"status": "decode_error",
                "error": f"{type(exc).__name__}: {exc}",
                "n_pages": 0, "n_words": 0, "pdf": None}


def _overlay_one(payload: bytes, doc: dict, recognizer) -> dict:
    """preserveImages mode (reference default, ``route.ts:73-77``): overlay
    the invisible layer onto the ORIGINAL bytes via incremental update
    (``core/pdfoverlay``) — images/vector art survive verbatim.  Pages with
    an existing text layer get no overlay (``builder.ts:146-147``); image-
    only pages get the recognizer's words (None → no layer)."""
    if doc.get("flavor") != "real":
        return {"status": "unsupported",
                "error": "preserveImages needs a genuine PDF original "
                         "(word-box containers carry no original pages)",
                "n_pages": 0, "n_words": 0, "pdf": None}
    from ..core.pdfoverlay import overlay_text_layer
    from ..core.pdfreal import extract_page_images

    pages = doc["pages"]
    page_spans: list[list] = []
    page_images = None
    n_words = 0
    for idx, p in enumerate(pages):
        if p.get("has_text") or recognizer is None:
            page_spans.append([])
            continue
        if page_images is None:
            page_images = extract_page_images(payload)
        from ..core.pdfscan import words_to_arrays

        words: list[tuple] = []
        imgs = (page_images[idx]["images"]
                if idx < len(page_images) else [])
        for img in imgs:
            words.extend(recognizer(img))
        texts, coords = words_to_arrays(words)
        _text, nw, spans = page_layout_fast(texts, coords, want_spans=True)
        n_words += nw
        page_spans.append(spans)
    try:
        pdf = overlay_text_layer(payload, page_spans)
    except ValueError as exc:
        return {"status": "overlay_unsupported", "error": str(exc),
                "n_pages": len(pages), "n_words": 0, "pdf": None}
    return {"status": "ok", "error": None, "n_pages": len(pages),
            "n_words": n_words, "pdf": pdf}


def assemble_searchable(df: DataFrame,
                        options: ExtractOptions | None = None,
                        preserve_images: bool = False,
                        recognizer_factory=None) -> DataFrame:
    """``preserve_images=True`` switches to the reference's default overlay
    mode (invisible layer appended to the ORIGINAL bytes — incremental
    update); ``recognizer_factory`` supplies the OCR for image-only pages,
    initialized once per task (same contract as ``extract_pages``)."""
    opts = options or DEFAULT_OPTIONS

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        install_zip_guard()
        import pandas as pd

        # per-task init point: the recognizer (model) builds once here
        recognizer = recognizer_factory() if recognizer_factory else None
        for batch in batches:
            n = len(batch)
            if n == 0:
                continue
            langs = batch["lang"].tolist() if "lang" in batch else [None] * n
            rows = [_assemble_one(bytes(p) if p is not None else None, lg,
                                  opts, preserve_images, recognizer)
                    for p, lg in zip(batch["html"].tolist(), langs)]
            yield pd.DataFrame({
                "url": batch["url"].tolist(),
                "status": [r["status"] for r in rows],
                "error": [r["error"] for r in rows],
                "n_pages": pd.Series([r["n_pages"] for r in rows],
                                     dtype="int32"),
                "n_words": pd.Series([r["n_words"] for r in rows],
                                     dtype="int32"),
                "pdf": [r["pdf"] for r in rows],
            })

    wanted = [c for c in ("url", "html", "lang") if c in df.columns]
    return df.select(*wanted).mapInPandas(run, ASSEMBLED_SCHEMA)
