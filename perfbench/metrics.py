"""Metric names, units and better-directions, and the result line.

``BENCHMARK.json`` lists the same tables; ``test_perfbench.py`` keeps the
two in step.  ``peak_rss_mb`` sums the proportional resident set (PSS) of
the process tree, so pages shared after a fork count once (see
``procstat.tree_rss_bytes``); it is the peak of each timed pass, median
over the passes.  Every ``*_us`` kernel metric is µs per call
of that function (per document, per page for layout, per image for
codecs), weighted to the workload's corpus mix; layers a workload does not
reach report 0.
"""

from __future__ import annotations

import json

END_TO_END = {
    "docs_per_s": ("docs/s", "higher"),
    "cpu_s_per_kdoc": ("s/kdoc", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "setup_s": ("s", "lower"),
}

_SPARK = {
    "sources.scan_s": ("s", "lower"),
    "sources.scan_tasks": ("count", "higher"),
    "sources.input_mb": ("MB", "lower"),
    "plans.pipeline.shuffle_s": ("s", "lower"),
    "plans.pipeline.shuffle_write_mb": ("MB", "lower"),
    "plans.pipeline.partition_skew": ("ratio", "lower"),
    "plans.pipeline.core_busy_frac": ("fraction", "higher"),
    "operators.extract.stage_s": ("s", "lower"),
    "operators.extract.tasks": ("count", "lower"),
    "operators.extract.run_s": ("s", "lower"),
    "operators.extract.kernel_s": ("s", "lower"),
    "operators.extract.handoff_s": ("s", "lower"),
    "operators.extract.task_max_over_median": ("ratio", "lower"),
    "operators.extract.doc_p50_us": ("us", "lower"),
    "operators.extract.doc_p99_us": ("us", "lower"),
    "plans.pipeline.write_s": ("s", "lower"),
    "sources.sinks.output_mb": ("MB", "lower"),
    "operators.ocr.probe_s": ("s", "lower"),
    "operators.ocr.ocr_routed_frac": ("fraction", "lower"),
    "operators.ocr.kernel_s.text": ("s", "lower"),
    "operators.ocr.kernel_s.ocr": ("s", "lower"),
    "plans.checkpoint.scan_amplification": ("ratio", "lower"),
    "plans.checkpoint.chunks": ("count", "lower"),
    "plans.checkpoint.leg1_s": ("s", "lower"),
    "plans.checkpoint.leg2_s": ("s", "lower"),
    "plans.checkpoint.rerun_docs_frac": ("fraction", "lower"),
}

_KERNEL = {
    "core.extract_doc.doc_us": ("us", "lower"),
    "core.pdfbin.sniff_us": ("us", "lower"),
    "core.pdfbin.decode_us": ("us", "lower"),
    "core.pdfreal.parse_us.plain": ("us", "lower"),
    "core.pdfreal.parse_us.truetype": ("us", "lower"),
    "core.pdfreal.parse_us.encrypted": ("us", "lower"),
    "core.pdfreal.parse_us.scanned": ("us", "lower"),
    "core.pdfreal.fallbacks.mediabox_fallback": ("count", "lower"),
    "core.pdfreal.fallbacks.cropbox_fallback": ("count", "lower"),
    "core.pdfreal.fallbacks.encoding_fallback": ("count", "lower"),
    "core.pdfreal.images_us": ("us", "lower"),
    "core.jpegcodec.decode_us": ("us", "lower"),
    "core.ccittcodec.decode_us": ("us", "lower"),
    "core.jbig2codec.decode_us": ("us", "lower"),
    "core.jpxcodec.decode_us": ("us", "lower"),
    "core.rasterfont.recognize_us": ("us", "lower"),
    "operators.ocr.recognize_us": ("us", "lower"),
    "core.pdfreal.probe_us": ("us", "lower"),
    "core.layout_fast.layout_us": ("us", "lower"),
    "core.html_extract.extract_us": ("us", "lower"),
    "core.extract_doc.charset_us": ("us", "lower"),
    "bench.kernel_other_us": ("us", "lower"),
}

_BENCH = {
    "bench.traced_docs_per_s": ("docs/s", "higher"),
    "bench.tracing_overhead_docs_per_s": ("docs/s", "higher"),
    "bench.spark_parts_over_stage_run": ("ratio", "higher"),
    "bench.kernel_parts_over_doc": ("ratio", "higher"),
}

PER_LAYER = {**_SPARK, **_KERNEL, **_BENCH}


def result_line(correct: bool, attempted: int, failed: int,
                values: dict[str, float], trace: bool) -> str:
    """The benchmark's last stdout line: every metric of the run's kind."""
    table = PER_LAYER if trace else END_TO_END
    missing = sorted(set(table) - set(values))
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {name: {"value": float(values[name]), "unit": unit}
                    for name, (unit, _better) in table.items()},
    })


def parse_result(stdout: str) -> dict:
    """Inverse of :func:`result_line` on a run's whole standard output."""
    last = stdout.strip().splitlines()[-1]
    out = json.loads(last)
    if set(out) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"unexpected result keys: {sorted(out)}")
    return out
