"""Scanned/image-only OCR tier — recognizer plug point + F6 document gate.

The reference exists to convert *scanned* PDFs: detect pages with no real
text (``src/lib/ocr/extractor.ts:78-103`` ``detectPagesWithRealText``),
rasterize exactly those (``extractor.ts:12-37``), and run tesseract over
the pixels (``src/lib/ocr/ocr.ts:50-110``).  This module gives that flow
its Spark shape:

* :func:`deterministic_recognizer` — the sandbox recognizer: reads the
  ``FAKERAST`` page raster (``core/pdfscan.py``).  A real model swaps in
  by providing a different factory (e.g. ``lambda: TesseractWorker(...)``)
  — the factory runs at most ONCE per task, never in the batch loop (the
  reference's singleton worker, ``ocr.ts:20-48``; its README's "64x
  faster" note is exactly this).
* :func:`extract_with_ocr` — the F6 gate inside the one extract pass
  (the same ``mapInArrow`` body as ``extract_pages``, spans included):
  each document is tested with the cheap :func:`_doc_needs_ocr` probe
  (the reference's skip predicate, ``index.ts:94-97``) and only gated-in
  documents are offered the recognizer.  A ``route`` column records the
  decision.
* :func:`with_needs_ocr` — the same probe as a standalone pass appending
  a boolean ``needs_ocr`` column (routing diagnostics, and the probe
  prefix the benchmark's trace times).

Why in-stage: every pass over the pages ships each payload across the
JVM↔Python boundary.  A plan-level split (probe pass, persisted probe,
two filtered extract branches, union) pays that crossing twice per
document plus a cached copy of every payload; the in-stage gate pays it
once, with the same rows (measured in CHANGES.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import BooleanType, StructField, StructType

from ..core.extract_doc import DEFAULT_OPTIONS, ExtractOptions
from ..zipguard import install_zip_guard
from .extract import _extract_pages

__all__ = [
    "deterministic_recognizer",
    "extract_with_ocr",
    "with_needs_ocr",
]


def _decode_inverts(dec) -> bool:
    """True iff a /Decode array remaps every component to the inverted
    range: [1 0] for one component, [1 0 1 0 1 0] for RGB (ISO 32000
    8.9.5.2 — one [Dmin Dmax] pair per component)."""
    if not dec:
        return False
    try:
        vals = tuple(float(v) for v in dec)
    except (TypeError, ValueError):
        return False
    return (len(vals) >= 2 and len(vals) % 2 == 0
            and vals == (1.0, 0.0) * (len(vals) // 2))


def deterministic_recognizer():
    """Factory → the sandbox's deterministic recognizer.  Same signature a
    real model adapter implements: ``image dict → [(text, x0, y0, x1,
    y1)]`` in top-origin image coords, raising ``ValueError`` on
    undecodable pixels (mapped to ``status='decode_error'``).  The image
    dict is one entry of :func:`core.pdfreal.extract_page_images` —
    ``data`` (decoded stream bytes) plus the XObject's declared ``width``
    / ``height`` / ``colorspace`` / ``bpc``, everything needed to
    interpret raw samples (a real OCR model needs exactly the same).

    Dispatches on the pixel container:

    * ``FAKERAST`` header → the struct-packed word-record container
      (``core/pdfscan.decode_page_raster``) — the "pixels" of this repo's
      own scanned fixtures;
    * **DCTDecode** image XObjects (``filter == 'DCTDecode'`` from
      ``decoded_image``, or raw JPEG magic) → baseline JPEG decode via
      the pure-stdlib codec (``core/jpegcodec``), luma plane into the
      same pixel OCR — the dominant raster format real scanners embed;
    * **CCITTFaxDecode** image XObjects → Group 4 decode via the
      pure-stdlib T.6 codec (``core/ccittcodec``; /K, /Columns, /Rows,
      /EncodedByteAlign honoured from the DecodeParms carried on the
      image dict) — the dominant 1-bit fax/TIFF-style scan encoding;
    * **JPXDecode** image XObjects → JPEG 2000 decode via the
      pure-stdlib T.800 codec (``core/jpxcodec``: JP2 box wrapper or raw
      codestream, reversible 5/3 or lossy 9/7 wavelet with scalar
      quantization, tiled images, EBCOT Tier-1 over the shared MQ
      coder; RCT/ICT color decodes to BT.601 luma) — the archive/ebook
      scanner format;
    * **JBIG2Decode** image XObjects → embedded-stream decode via the
      pure-stdlib T.88 codec (``core/jbig2codec``: MQ arithmetic coder,
      generic regions, symbol-dictionary + text regions — the
      dictionary-coded arrangement real scanner output uses — with the
      ``/JBIG2Globals`` prefix stream resolved from the DecodeParms) —
      the modern scanner/optimizer codec;
    * 8-bit ``/DeviceGray`` raster of declared size → real pixel OCR
      (``core/rasterfont.recognize_gray``: projection segmentation +
      5×7 template classification) — genuine grayscale page images, as a
      foreign scanner would embed;
    * anything else → ``ValueError`` (undecodable pixels).
    """
    from ..core.ccittcodec import CcittError, decode_g3, decode_g4
    from ..core.jbig2codec import Jbig2Error, decode_jbig2_embedded
    from ..core.jpegcodec import JpegError, decode_jpeg_gray
    from ..core.jpxcodec import JpxError, decode_jpx_gray
    from ..core.pdfscan import RASTER_MAGIC, decode_page_raster
    from ..core.rasterfont import recognize_gray

    def recognize(image: dict):
        data = image["data"]
        if data[:8] == RASTER_MAGIC:
            _w, _h, words = decode_page_raster(data)
            return words
        # /Decode [1 0] (per component) remaps samples to the inverted
        # range (inverted B/W scans carry it); default is identity.
        # Computed up front so every codec branch honours it, except
        # JPXDecode: ISO 32000-1 Table 89 and pdf.js ignore /Decode there.
        inverted = _decode_inverts(image.get("decode"))
        if image.get("filter") == "DCTDecode" or data[:2] == b"\xFF\xD8":
            try:
                gray = decode_jpeg_gray(data)
            except JpegError as exc:
                raise ValueError(
                    f"undecodable JPEG page image: {exc}") from exc
            if inverted:
                gray = 255 - gray
            gh, gw = gray.shape
            return recognize_gray(gw, gh, gray.tobytes())
        if image.get("filter") == "CCITTFaxDecode":
            parms = image.get("decode_parms") or {}
            k = parms.get("K", 0)
            if not isinstance(k, (int, float)):
                raise ValueError(f"unsupported CCITT K={k!r}")
            cols = parms.get("Columns", 1728)
            rows = parms.get("Rows", image.get("height"))
            try:
                if k < 0:  # G4 / pure MMR
                    gray = decode_g4(
                        data, int(cols),
                        int(rows) if rows is not None else None,
                        encoded_byte_align=bool(
                            parms.get("EncodedByteAlign", False)))
                else:      # G3: K=0 pure 1-D, K>0 mixed (T.4)
                    gray = decode_g3(
                        data, int(cols),
                        int(rows) if rows is not None else None,
                        k=int(k),
                        encoded_byte_align=bool(
                            parms.get("EncodedByteAlign", False)))
            except CcittError as exc:
                raise ValueError(
                    f"undecodable CCITT page image: {exc}") from exc
            # /BlackIs1 and /Decode [1 0] each flip black/white; both
            # together cancel (a renderer composes them) — XOR.
            if bool(parms.get("BlackIs1")) != inverted:
                gray = 255 - gray  # 1 bits are black: inverted semantics
            gh, gw = gray.shape
            return recognize_gray(gw, gh, gray.tobytes())
        if image.get("filter") == "JPXDecode":
            try:
                gray = decode_jpx_gray(data)
            except JpxError as exc:
                raise ValueError(
                    f"undecodable JPEG 2000 page image: {exc}") from exc
            gh, gw = gray.shape
            return recognize_gray(gw, gh, gray.tobytes())
        if image.get("filter") == "JBIG2Decode":
            parms = image.get("decode_parms") or {}
            glob = parms.get("JBIG2Globals")
            try:
                gray = decode_jbig2_embedded(
                    data,
                    globals_data=glob if isinstance(glob, bytes) else None,
                    width=image.get("width"),
                    height=image.get("height"))
            except Jbig2Error as exc:
                raise ValueError(
                    f"undecodable JBIG2 page image: {exc}") from exc
            if inverted:
                gray = 255 - gray
            gh, gw = gray.shape
            return recognize_gray(gw, gh, gray.tobytes())
        w, h = image.get("width"), image.get("height")
        if (image.get("colorspace") == "DeviceRGB"
                and image.get("bpc") == 8
                and w and h and len(data) == w * h * 3):
            # color page scan: ITU-R BT.601 integer luma, then the same
            # grayscale OCR (color carries no extra text information)
            import numpy as np

            rgb = np.frombuffer(data, np.uint8).reshape(h, w, 3) \
                .astype(np.uint32)
            gray = ((77 * rgb[..., 0] + 150 * rgb[..., 1]
                     + 29 * rgb[..., 2] + 128) >> 8).astype(np.uint8)
            if inverted:
                gray = 255 - gray
            return recognize_gray(w, h, gray.tobytes())
        if (image.get("colorspace") == "DeviceGray"
                and image.get("bpc") == 8
                and w and h and len(data) == w * h):
            if inverted:
                data = bytes(255 - b for b in data)
            return recognize_gray(w, h, data)
        if (image.get("bpc") == 1
                and image.get("colorspace") in ("DeviceGray", None)
                and w and h and len(data) == ((w + 7) // 8) * h):
            # raw packed 1-bit rows (simple B/W scans with no image
            # codec; PDF DeviceGray: sample 0 = black, 1 = white, rows
            # padded to byte boundaries per ISO 32000 8.9.3)
            import numpy as np

            bits = np.unpackbits(
                np.frombuffer(data, np.uint8)
                .reshape(h, (w + 7) // 8), axis=1)[:, :w]
            if inverted:
                bits = 1 - bits
            gray = np.where(bits, 255, 0).astype(np.uint8)
            return recognize_gray(w, h, gray.tobytes())
        raise ValueError(
            f"undecodable page image ({image.get('colorspace')}, "
            f"{image.get('bpc')} bpc, {len(data)} bytes for "
            f"{w}x{h})")

    return recognize


def _doc_needs_ocr(payload) -> bool:
    """True iff the payload is a real-flavor PDF some of whose pages lack a
    text layer — the document-level F6 predicate (page-level skipping
    happens again inside the extract stage).  Uses the CHEAP detector
    (``detect_pages_text``: content-stream scan, no font loading, no
    word-box building) — a probe false-positive only offers a document
    the recognizer, and the full parser still extracts it correctly; it
    can never lose text."""
    from ..core.pdfbin import sniff_kind
    from ..core.pdfreal import detect_pages_text, is_real_pdf

    if payload is None:
        return False
    data = bytes(payload)
    if sniff_kind(data) != "pdf" or not is_real_pdf(data):
        return False
    try:
        flags = detect_pages_text(data)
    except Exception:  # noqa: BLE001 - undecodable: text branch owns errors
        return False
    return bool(flags) and not all(flags)


def with_needs_ocr(df: DataFrame) -> DataFrame:
    """Append the boolean ``needs_ocr`` routing column — one narrow
    ``mapInArrow`` pass (zero shuffle; binary payload passes through as
    the same Arrow buffer, never copied through pandas)."""
    out_schema = StructType(
        [f for f in df.schema.fields]
        + [StructField("needs_ocr", BooleanType(), False)])

    def run(batches):
        install_zip_guard()
        import pyarrow as pa

        for b in batches:
            flags = [_doc_needs_ocr(v)
                     for v in b.column("html").to_pylist()]
            yield pa.record_batch(
                list(b.columns) + [pa.array(flags, pa.bool_())],
                names=list(b.schema.names) + ["needs_ocr"])

    return df.mapInArrow(run, out_schema)


def extract_with_ocr(
    df: DataFrame,
    options: ExtractOptions | None = None,
    recognizer_factory=deterministic_recognizer,
    cache_probe: bool = False,
) -> DataFrame:
    """The routed extraction pass (F6 per document, one stage)::

        pages ─ extract ─┬─ ¬needs_ocr(doc) → extract_document(doc)
                         └─ needs_ocr(doc)  → extract_document(doc, rec)
                         → rows (+ ``route`` lineage column)

    One narrow ``mapInArrow``, with or without ``emit_spans``: the
    :func:`operators.extract.extract_pages` body, with the recognizer
    offered only to documents :func:`_doc_needs_ocr` flags — so statuses,
    guards, spans, and lineage columns match :func:`extract_pages`.  The
    factory runs once per task, at the task's first flagged document; a
    task holding only born-digital documents never builds a model.  The
    ``route`` column (``"ocr"`` / ``"text"``) records each decision (gate
    evidence the oracle value-checks); ``wall_us`` still times
    ``extract_document`` alone, not the probe.

    ``cache_probe`` is ignored: there is no separate probe to persist any
    more.  It stays in the signature only for the benchmark harness
    (``perfbench``), which still passes it.
    """
    del cache_probe
    return _extract_pages(df, options or DEFAULT_OPTIONS, recognizer_factory,
                          ocr_gate=_doc_needs_ocr)
