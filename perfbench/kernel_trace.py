"""Kernel-side layer breakdown: self time of each layer's public function,
measured single-threaded in the benchmark process on a seeded sample of a
workload's own payloads.

Functions are wrapped from outside the program (module attributes are
swapped for timing wrappers and restored afterwards).  A wrapper records
its inclusive time, passes it to the enclosing wrapper as child time, and
books ``inclusive - children`` as its own self time, so nested layers
(parse inside decode, codec decode inside the recognizer) are not counted
twice.  Time spent in no wrapped function is reported as
``bench.kernel_other_us``.
"""

from __future__ import annotations

import random
import time
from collections import defaultdict
from contextlib import contextmanager

from perfbench.corpus import EXACT_KINDS, same_output

#: document kind -> parse_us bucket for genuine PDFs
PARSE_GROUP = {"plain": "plain", "cid": "truetype", "symbolic": "truetype",
               "rc4": "encrypted", "aes": "encrypted"}
FALLBACK_REASONS = ("mediabox_fallback", "cropbox_fallback",
                    "encoding_fallback")

#: (module, attribute, metric) — metric ``None`` is resolved per document
TARGETS = (
    ("core.extract_doc", "sniff_document", "core.pdfbin.sniff_us"),
    ("core.extract_doc", "decode_pdf_arrays", None),
    ("core.extract_doc", "page_layout_fast", "core.layout_fast.layout_us"),
    ("core.extract_doc", "extract_main_text", "core.html_extract.extract_us"),
    ("core.extract_doc", "detect_html_charset", "core.extract_doc.charset_us"),
    ("core.pdfreal", "parse_real_pdf", None),
    ("core.pdfreal", "detect_pages_text", "core.pdfreal.probe_us"),
    ("core.pdfreal", "extract_page_images", "core.pdfreal.images_us"),
    ("core.jpegcodec", "decode_jpeg_gray", "core.jpegcodec.decode_us"),
    ("core.ccittcodec", "decode_g3", "core.ccittcodec.decode_us"),
    ("core.ccittcodec", "decode_g4", "core.ccittcodec.decode_us"),
    ("core.jbig2codec", "decode_jbig2_embedded", "core.jbig2codec.decode_us"),
    ("core.jpxcodec", "decode_jpx_gray", "core.jpxcodec.decode_us"),
    ("core.rasterfont", "recognize_gray", "core.rasterfont.recognize_us"),
)

#: every per-call metric this module reports (absent layers report 0)
LAYER_METRICS = tuple(sorted(
    {m for _, _, m in TARGETS if m}
    | {"core.pdfbin.decode_us", "operators.ocr.recognize_us"}
    | {f"core.pdfreal.parse_us.{g}"
       for g in ("plain", "truetype", "encrypted", "scanned")}))
OTHER = "bench.kernel_other_us"
#: timed runs per sampled document, plain and wrapped (the fastest counts)
REPS = 2


def _parse_metric(kind: str) -> str:
    return f"core.pdfreal.parse_us.{PARSE_GROUP.get(kind, 'scanned')}"


class SelfTimer:
    """Self time and call count per metric for one document of ``kind``."""

    def __init__(self, kind: str) -> None:
        self.kind = kind
        self.self_ns: dict[str, int] = defaultdict(int)
        self.calls: dict[str, int] = defaultdict(int)
        self.fallbacks: dict[str, int] = dict.fromkeys(FALLBACK_REASONS, 0)
        self._stack: list[int] = []

    def wrap(self, fn, metric: str | None, attr: str):
        def timed(*args, **kwargs):
            name = metric
            if name is None:
                # decode_pdf_arrays decodes WBOX itself and hands genuine
                # PDFs to parse_real_pdf: book its self time to that parse
                name = (_parse_metric(self.kind)
                        if attr == "parse_real_pdf"
                        or self.kind not in EXACT_KINDS
                        else "core.pdfbin.decode_us")
            self._stack.append(0)
            t0 = time.perf_counter_ns()
            try:
                out = fn(*args, **kwargs)
            finally:
                dt = time.perf_counter_ns() - t0
                child = self._stack.pop()
                if self._stack:
                    self._stack[-1] += dt
                self.self_ns[name] += dt - child
                self.calls[name] += 1
            if attr == "parse_real_pdf":
                for reason, n in (out.get("counters") or {}).items():
                    self.fallbacks[reason] = self.fallbacks.get(reason, 0) + n
            return out
        return timed


@contextmanager
def patched(timer: SelfTimer):
    import importlib

    saved = []
    try:
        for mod_name, attr, metric in TARGETS:
            mod = importlib.import_module(f"pdf_ocr_engine_spark.{mod_name}")
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))
            setattr(mod, attr, timer.wrap(fn, metric, attr))
        yield
    finally:
        for mod, attr, fn in reversed(saved):
            setattr(mod, attr, fn)


def stratified_sample(golden: dict, per_kind: int, seed: int) -> list[str]:
    """Up to ``per_kind`` urls of every document kind, chosen by seed."""
    by_kind: dict[str, list[str]] = defaultdict(list)
    for url, (_s, _t, kind) in sorted(golden.items()):
        by_kind[kind].append(url)
    rng = random.Random(seed)
    out: list[str] = []
    for kind in sorted(by_kind):
        urls = by_kind[kind]
        out.extend(rng.sample(urls, min(per_kind, len(urls))))
    return out


def _doc_runner(route_ocr: bool, wrap=lambda fn: fn):
    """Per-document kernel call of the workload's Spark stage: the routed
    OCR plan probes first and plugs the recognizer in for image-only
    documents; the other plans call ``extract_document`` alone."""
    from pdf_ocr_engine_spark.core.extract_doc import extract_document
    from pdf_ocr_engine_spark.operators import ocr

    recognizer = wrap(ocr.deterministic_recognizer()) if route_ocr else None

    def run(payload, lang):
        if route_ocr and ocr._doc_needs_ocr(payload):
            return extract_document(payload, lang, recognizer=recognizer)
        return extract_document(payload, lang)
    return run


def kernel_breakdown(golden: dict, payloads: dict, urls: list[str],
                     route_ocr: bool) -> tuple[dict[str, float], int, int]:
    """Per-layer µs per call, corpus-weighted, plus ``(attempted, failed)``
    of the sampled documents against their goldens.

    Each sampled document runs once to warm, then ``REPS`` times plain and
    ``REPS`` times wrapped; the fastest plain run gives its kernel time and
    the fastest wrapped run its layer split, which keeps a stall from
    another tenant out of both.  A sampled document of kind ``k`` stands
    for ``n_k / s_k`` corpus documents, so ``core.extract_doc.doc_us`` is
    the expected kernel time of one corpus document and the layer parts
    (self time per corpus document) must sum to it.
    """
    n_kind: dict[str, int] = defaultdict(int)
    for _s, _t, kind in golden.values():
        n_kind[kind] += 1
    s_kind: dict[str, int] = defaultdict(int)
    for u in urls:
        s_kind[golden[u][2]] += 1
    weight = {k: n_kind[k] / s_kind[k] for k in s_kind}

    attempted = failed = 0

    def timed(run, url) -> int:
        nonlocal attempted, failed
        t0 = time.perf_counter_ns()
        r = run(*payloads[url])
        dt = time.perf_counter_ns() - t0
        attempted += 1
        failed += not same_output(golden[url], r["status"], r["text"])
        return dt

    plain = _doc_runner(route_ocr)
    for u in urls:
        timed(plain, u)
    doc_ns = traced_ns = 0.0
    self_ns: dict[str, float] = defaultdict(float)
    calls: dict[str, float] = defaultdict(float)
    fallbacks = dict.fromkeys(FALLBACK_REASONS, 0)
    for u in urls:
        w = weight[golden[u][2]]
        doc_ns += w * min(timed(plain, u) for _ in range(REPS))
        best = None
        for _ in range(REPS):
            timer = SelfTimer(golden[u][2])
            with patched(timer):
                # built inside the patch: the recognizer binds its codecs
                # at construction time
                run = _doc_runner(route_ocr, lambda fn, t=timer: t.wrap(
                    fn, "operators.ocr.recognize_us", "recognize"))
                dt = timed(run, u)
            if best is None or dt < best[0]:
                best = (dt, timer)
        traced_ns += w * best[0]
        for m, v in best[1].self_ns.items():
            self_ns[m] += w * v
            calls[m] += w * best[1].calls[m]
        for reason, n in best[1].fallbacks.items():
            fallbacks[reason] = fallbacks.get(reason, 0) + n

    n_docs = len(golden)
    out = {m: (self_ns[m] / calls[m] / 1e3 if calls[m] else 0.0)
           for m in LAYER_METRICS}
    parts_ns = sum(self_ns[m] for m in LAYER_METRICS)
    out["core.extract_doc.doc_us"] = doc_ns / n_docs / 1e3
    out[OTHER] = max(traced_ns - parts_ns, 0.0) / n_docs / 1e3
    out["bench.kernel_parts_over_doc"] = parts_ns / doc_ns if doc_ns else 0.0
    for reason, n in fallbacks.items():
        out[f"core.pdfreal.fallbacks.{reason}"] = float(n)
    return out, attempted, failed
