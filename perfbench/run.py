#!/usr/bin/env python3
"""Extraction benchmark: seeded, golden-checked workloads through the
production entry points at ``local[k]``.

    python3 perfbench/run.py --workload fixture_mix --seed 1 --seconds 8 \
        --trace 0

Run from the repository root.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics of ``metrics.END_TO_END``, with ``--trace 1`` the
per-layer breakdown of ``metrics.PER_LAYER``.  The line before it is a
JSON context record (sample counts, per-iteration walls, the mismatch rate,
``bench.host_calibration`` probes).

A run: generate the input for ``(workload, seed, size)`` unless cached
(not timed), then ``SETUPS`` times: build the session and start the Python
worker pool from a fresh JVM (``setup_s`` is the median), run warm-up
passes, and repeat the workload's production call until its share of
``--seconds`` of timed work and at least ``MIN_PASSES`` passes have run,
verifying every output url against its golden after each pass.
``docs_per_s`` is the median pass, ``peak_rss_mb`` the median of the
passes' peaks; CPU and RSS cover the whole process tree (driver, JVM,
Python workers).  Passes from two JVMs average over the run-to-run
variation of one JVM's compiled code and over a longer span of the host's
load.

The traced run (``--trace 1``) also runs prefix jobs of the plan, each in
its own job group and forced with a ``noop`` sink, and the production
call's write steps alone; it reads their stage metrics from the driver
UI's REST API, and times each kernel layer's public functions on a seeded
sample of the workload's own payloads (``kernel_trace``).  All files go under ``_build/perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "_build", "perfbench")
#: task slots.  One vCPU of a 4-vCPU host is left to the driver JVM's JIT
#: and GC threads, the Python driver and the memory sampler: at local[4]
#: the same host ran scanned_ocr 11% slower and with a docs_per_s spread
#: (interquartile range over median, ten seeds) of 0.24 against 0.13.
K = min(3, len(os.sched_getaffinity(0)))
PARTITIONS = 2 * K
#: cold sessions per run; each launches a JVM, 7-18 s on a 4-vCPU host, so
#: set-up is already the larger part of a run
SETUPS = 2
#: timed passes each session makes at least; inputs are sized so that a
#: pass takes one to four seconds on a 4-vCPU host
MIN_PASSES = 3
#: rounds of the traced prefix jobs, full call and write tail (the fastest
#: run of each counts)
PREFIX_REPS = 3

#: warm-up passes of each session run until this much time has passed:
#: later passes keep speeding up for a few seconds (JIT, Python worker
#: caches)
WARM_SECONDS = 4.0

#: input size, plan mode and kernel-sample size per document kind.  The
#: fixture_mix traced run also times the resumable write path
#: (``plans.checkpoint``) on the same input.  scanned_ocr's 128 documents
#: hold every codec slice but the two that recur once per 256 (JPX with
#: precincts, JBIG2 with custom Huffman tables); at 256 documents its
#: docs_per_s spread 10-16% over five seeds (interquartile range over
#: median, 4-vCPU host) with the partition placement of the few costly
#: JPX/JPEG documents, against 3% at 128.
WORKLOADS = {
    "fixture_mix": dict(n_docs=3000, mode="write", per_kind=80,
                        checkpoint=True),
    "scanned_ocr": dict(n_docs=128, mode="ocr", per_kind=3,
                        checkpoint=False),
}
#: resume plan: buckets, buckets per chunk, chunks before the interruption
RESUME_BUCKETS, RESUME_CHUNK, RESUME_LEG1_CHUNKS = 64, 16, 2


def _confine_to_checkout() -> None:
    """Every file Spark, the JVM and the workers write lands in WORK."""
    import tempfile

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # keeps the launcher JVM (spark-submit's first step) and the driver JVM
    # from writing hsperfdata files to the system temp dir
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.sql.warehouse.dir={WORK}/warehouse",
        "--conf spark.ui.showConsoleProgress=false",
        f'--driver-java-options "{java_opts}"', "pyspark-shell"])
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)


def _setup_session(i: int):
    """Session build plus the Python worker-pool warm-up job (bench.py's,
    with one task per core)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from pdf_ocr_engine_spark.plans.pipeline import build_session

    t0 = time.perf_counter()
    spark = build_session(f"perfbench-{i}", master=f"local[{K}]",
                          shuffle_partitions=max(K, 8))
    spark.sparkContext.setLogLevel("ERROR")

    @F.pandas_udf(LongType())
    def _one(x):
        return x * 0 + 1

    spark.range(0, K, 1, K).select(_one("id").alias("o")) \
        .agg(F.sum("o")).collect()
    return spark, time.perf_counter() - t0


def _stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for every process below this
    one to end (the Python daemon and workers outlive the JVM briefly and
    are then no longer our descendants, so they are tracked by pid)."""
    from pyspark import SparkContext

    from perfbench.procstat import descendants

    tree = descendants()[1:]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def running(timeout_s: float) -> list[int]:
        deadline = time.monotonic() + timeout_s
        while True:
            alive = [p for p in tree if os.path.exists(f"/proc/{p}")]
            if not alive or time.monotonic() > deadline:
                return alive
            time.sleep(0.1)

    for pid in running(30):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    running(30)


class Workload:
    """One workload's production call on its generated input."""

    def __init__(self, spark, name: str, input_dir: str) -> None:
        self.spark = spark
        self.spec = WORKLOADS[name]
        self.pages_path = os.path.join(input_dir, "pages.parquet")

    def pages(self):
        from pdf_ocr_engine_spark.sources.sinks import read_pages

        return read_pages(self.spark, self.pages_path)

    def run(self, out_dir: str) -> float:
        """The workload's production call, run to commit in ``out_dir``;
        returns its wall time."""
        from pdf_ocr_engine_spark.plans.pipeline import (
            salted_repartition,
            write_extraction,
        )

        t0 = time.perf_counter()
        if self.spec["mode"] == "write":
            write_extraction(self.spark, self.pages(), out_dir,
                             num_partitions=PARTITIONS, run_id="perfbench")
        else:
            from pdf_ocr_engine_spark.operators.ocr import extract_with_ocr
            from pdf_ocr_engine_spark.plans.cache import release_tracked
            from pdf_ocr_engine_spark.sources.sinks import write_output

            write_output(extract_with_ocr(
                salted_repartition(self.pages(), PARTITIONS),
                cache_probe=True), os.path.join(out_dir, "data"))
            release_tracked()
        return time.perf_counter() - t0

    def write_tail(self, rows_dir: str, out_dir: str) -> None:
        """The production call's write steps alone, on the rows it
        committed under ``rows_dir``: ``write_extraction``'s data write,
        read-back and partition metrics, or ``write_output``."""
        from pdf_ocr_engine_spark.plans.pipeline import partition_metrics
        from pdf_ocr_engine_spark.sources.sinks import write_output

        rows = self.spark.read.parquet(os.path.join(rows_dir, "data"))
        data = os.path.join(out_dir, "data")
        if self.spec["mode"] == "write":
            rows.write.mode("overwrite").parquet(data)
            partition_metrics(self.spark.read.parquet(data), "perfbench") \
                .write.mode("overwrite").parquet(
                    os.path.join(out_dir, "metrics"))
        else:
            write_output(rows, data)

    def resume(self, out_dir: str, group: str) -> list[tuple]:
        """``scripts/run_extract.py --resume``'s pair: salted repartition
        then ``run_resumable``, interrupted after ``RESUME_LEG1_CHUNKS``
        chunks and rerun to completion.  Leg ``i`` runs in job group
        ``<group>-leg<i>``; returns ``(wall_s, docs_written, buckets)``
        per leg."""
        from pdf_ocr_engine_spark.plans.checkpoint import run_resumable
        from pdf_ocr_engine_spark.plans.pipeline import salted_repartition

        sc = self.spark.sparkContext
        pages = salted_repartition(self.pages(), PARTITIONS)
        legs = []
        for leg, max_chunks in enumerate((RESUME_LEG1_CHUNKS, None), 1):
            sc.setJobGroup(f"{group}-leg{leg}", group)
            t0 = time.perf_counter()
            rep = run_resumable(self.spark, pages, out_dir,
                                n_buckets=RESUME_BUCKETS,
                                chunk_buckets=RESUME_CHUNK,
                                run_id=f"perfbench-leg{leg}",
                                max_chunks=max_chunks)
            legs.append((time.perf_counter() - t0, rep.docs_written,
                         len(rep.processed_buckets)))
        sc.setLocalProperty("spark.jobGroup.id", None)
        return legs


class Tally:
    """Attempted / failed urls over every output the run checked."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.separator_only = 0

    def check(self, golden: dict, out_dir: str) -> dict:
        """Verify the output committed under ``out_dir``; returns its
        columns."""
        import pyarrow.parquet as pq

        from perfbench.corpus import count_mismatches

        out = pq.read_table(os.path.join(out_dir, "data"), columns=[
            "url", "status", "text", "wall_us", "partition_id"]).to_pydict()
        bad, inexact = count_mismatches(
            golden, zip(out["url"], out["status"], out["text"]))
        self.attempted += len(golden)
        self.failed += bad
        self.separator_only += inexact
        return out


def _fresh(name: str) -> str:
    path = os.path.join(WORK, "out", name)
    shutil.rmtree(path, ignore_errors=True)
    return path


def measure(wl: Workload, golden: dict, seconds: float, tally: Tally,
            sampler) -> dict:
    """Warm up, then repeat the production call until ``seconds`` of timed
    work and ``MIN_PASSES`` passes ran: per-pass walls, rates and memory
    peaks, and the CPU seconds and documents of all passes."""
    from perfbench.procstat import tree_cpu_s

    warm_s = 0.0
    while warm_s < WARM_SECONDS:
        out_dir = _fresh("warm")
        warm_s += wl.run(out_dir)
        tally.check(golden, out_dir)
        shutil.rmtree(out_dir)
    walls, rates, peaks = [], [], []
    cpu_s = 0.0
    docs = 0
    while sum(walls) < seconds or len(walls) < MIN_PASSES:
        out_dir = _fresh(f"timed{len(walls)}")
        c0 = tree_cpu_s()
        sampler.start()
        wall = wl.run(out_dir)
        peaks.append(sampler.stop())
        cpu_s += tree_cpu_s() - c0
        n_out = len(tally.check(golden, out_dir)["url"])
        shutil.rmtree(out_dir)
        walls.append(wall)
        rates.append(n_out / wall)
        docs += n_out
    return {"walls": walls, "rates": rates, "peaks": peaks, "cpu_s": cpu_s,
            "docs": docs}


def trace_layers(wl: Workload, golden: dict, input_dir: str, seed: int,
                 untraced: dict, tally: Tally) -> tuple[dict, bool]:
    """Per-layer metrics (Spark prefix jobs plus the kernel sample), and
    whether a Spark part came out negative."""
    import pyarrow.parquet as pq

    from perfbench import corpus, kernel_trace
    from perfbench.metrics import PER_LAYER
    from perfbench.sparkui import SparkUi, totals
    from pdf_ocr_engine_spark.operators.ocr import (
        extract_with_ocr,
        with_needs_ocr,
    )
    from pdf_ocr_engine_spark.plans.cache import release_tracked
    from pdf_ocr_engine_spark.plans.pipeline import (
        run_extraction,
        salted_repartition,
    )

    spark = wl.spark
    sc = spark.sparkContext
    ui = SparkUi(spark)
    mode = wl.spec["mode"]
    n_docs = len(golden)
    m = dict.fromkeys(PER_LAYER, 0.0)

    def noop(build):
        """Action forcing a fresh plan prefix ``build()`` to a noop sink."""
        def action(_rep):
            build().write.format("noop").mode("overwrite").save()
        return action

    full_dirs = [_fresh(f"traced{rep}") for rep in range(PREFIX_REPS)]
    tail_dirs = [_fresh(f"write_tail{rep}") for rep in range(PREFIX_REPS)]

    def full_call(rep: int) -> str:
        wl.run(full_dirs[rep])
        return full_dirs[rep]

    repart = lambda: salted_repartition(wl.pages(), PARTITIONS)  # noqa: E731
    # no observe() on the extract prefix: it cost ~7% of the scanned_ocr
    # prefix's wall, enough to turn the write part negative; the kernel
    # figures come from the full call's committed rows instead
    actions = {"scan": noop(wl.pages), "repartition": noop(repart)}
    if mode == "ocr":
        actions["probe"] = noop(lambda: with_needs_ocr(repart()))
        actions["extract"] = noop(
            lambda: extract_with_ocr(repart(), cache_probe=True))
    else:
        actions["extract"] = noop(lambda: run_extraction(
            wl.pages(), num_partitions=PARTITIONS).extracted)
    actions["full"] = full_call
    actions["write_tail"] = lambda rep: wl.write_tail(full_dirs[rep],
                                                      tail_dirs[rep])
    # round-robin, so every part and the full call see the same warm-up
    # (later passes keep getting faster); each is then its fastest run
    runs: dict[str, list] = {name: [] for name in actions}
    for rep in range(PREFIX_REPS):
        for name, action in actions.items():
            group = f"{name}-{rep}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            result = action(rep)
            wall = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            release_tracked()
            runs[name].append((wall, group, result))
    # walls and stage detail from each one's fastest run; task run time,
    # which a busy host inflates unevenly across rounds, as the median
    best, run_of = {}, {}
    for name, tried in runs.items():
        stages = {group: ui.group_stages(group) for _w, group, _r in tried}
        wall, group, result = min(tried, key=lambda r: r[0])
        best[name] = (wall, stages[group], result)
        run_of[name] = statistics.median(
            totals(st)["run_s"] for st in stages.values())
    before_run = run_of.get("probe", run_of["repartition"])
    scan_wall, scan_st, _ = best["scan"]
    rep_wall, rep_st, _ = best["repartition"]
    before_wall = best.get("probe", best["repartition"])[0]
    m["operators.ocr.probe_s"] = before_wall - rep_wall
    ext_wall, ext_st, _ = best["extract"]
    full_wall, full_st, full_dir = best["full"]
    out = {d: tally.check(golden, d) for d in full_dirs}[full_dir]
    if mode == "ocr":
        routed = pq.read_table(os.path.join(full_dir, "data"),
                               columns=["route", "wall_us"]).to_pydict()
    for d in full_dirs + tail_dirs:
        shutil.rmtree(d)

    scan_t, rep_t, full_t = totals(scan_st), totals(rep_st), totals(full_st)
    m["sources.scan_s"] = scan_wall
    m["sources.scan_tasks"] = scan_t["tasks"]
    # the stage inputBytes counter misses the parquet page reads (it shows
    # the footer only), so the input size comes from the file itself
    m["sources.input_mb"] = os.path.getsize(wl.pages_path) / 1e6
    m["plans.pipeline.shuffle_s"] = rep_wall - scan_wall
    m["plans.pipeline.shuffle_write_mb"] = rep_t["shuffle_write_bytes"] / 1e6
    per_part: dict[int, int] = {}
    for pid in out["partition_id"]:
        per_part[pid] = per_part.get(pid, 0) + 1
    m["plans.pipeline.partition_skew"] = (
        max(per_part.values()) / statistics.mean(per_part.values()))
    m["plans.pipeline.core_busy_frac"] = run_of["full"] / (full_wall * K)
    m["operators.extract.stage_s"] = ext_wall - before_wall
    run_s = run_of["extract"] - before_run
    kernel_s = sum(out["wall_us"]) / 1e6
    m["operators.extract.run_s"] = run_s
    m["operators.extract.kernel_s"] = kernel_s
    m["operators.extract.handoff_s"] = run_s - kernel_s
    busiest = max(ext_st, key=lambda s: s["executorRunTime"])
    m["operators.extract.tasks"] = busiest["numTasks"]
    durations = ui.task_durations_ms(busiest)
    m["operators.extract.task_max_over_median"] = (
        max(durations) / statistics.median(durations))
    doc_us = sorted(out["wall_us"])
    m["operators.extract.doc_p50_us"] = doc_us[len(doc_us) // 2]
    m["operators.extract.doc_p99_us"] = doc_us[int(len(doc_us) * 0.99)]
    m["plans.pipeline.write_s"] = full_wall - ext_wall
    m["sources.sinks.output_mb"] = full_t["output_bytes"] / 1e6
    if mode == "ocr":
        text_s = sum(us for route, us in zip(routed["route"],
                                             routed["wall_us"])
                     if route == "text") / 1e6
        m["operators.ocr.ocr_routed_frac"] = (
            routed["route"].count("ocr") / len(routed["route"]))
        m["operators.ocr.kernel_s.text"] = text_s
        m["operators.ocr.kernel_s.ocr"] = kernel_s - text_s
    if wl.spec["checkpoint"]:
        resume_dir = _fresh("resume")
        legs = wl.resume(resume_dir, "resume")
        tally.check(golden, resume_dir)
        shutil.rmtree(resume_dir)
        resume_t = totals([s for leg in (1, 2)
                           for s in ui.group_stages(f"resume-leg{leg}")])
        # input rows read by every scan of both legs (each chunk's
        # manifest read-back of its own output adds about 1.0 in total)
        m["plans.checkpoint.scan_amplification"] = (
            resume_t["input_records"] / scan_t["input_records"])
        m["plans.checkpoint.chunks"] = sum(
            -(-buckets // RESUME_CHUNK) for _w, _d, buckets in legs)
        m["plans.checkpoint.leg1_s"] = legs[0][0]
        m["plans.checkpoint.leg2_s"] = legs[1][0]
        m["plans.checkpoint.rerun_docs_frac"] = legs[1][1] / n_docs

    m["bench.traced_docs_per_s"] = len(out["url"]) / full_wall
    m["bench.tracing_overhead_docs_per_s"] = (
        m["bench.traced_docs_per_s"] - untraced["docs_per_s"])
    # the parts in task run time: prefix deltas up to the extract stage,
    # and the write steps run on their own (write_tail), against the
    # stages of the full production call
    run_parts = [run_of["scan"], run_of["repartition"] - run_of["scan"],
                 before_run - run_of["repartition"], run_s,
                 run_of["write_tail"]]
    m["bench.spark_parts_over_stage_run"] = sum(run_parts) / run_of["full"]
    wall_parts = [m["sources.scan_s"], m["plans.pipeline.shuffle_s"],
                  m["operators.ocr.probe_s"], m["operators.extract.stage_s"],
                  m["plans.pipeline.write_s"]]
    negative = min(run_parts + wall_parts) < 0

    payloads = corpus.load_payloads(input_dir)
    urls = kernel_trace.stratified_sample(golden, wl.spec["per_kind"], seed)
    kernel, attempted, failed = kernel_trace.kernel_breakdown(
        golden, payloads, urls, route_ocr=(mode == "ocr"))
    tally.attempted += attempted
    tally.failed += failed
    m.update(kernel)
    return m, negative


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pdf_ocr_engine_spark",
                                       "__init__.py")):
        print(f"perfbench: no pdf_ocr_engine_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    _confine_to_checkout()

    from bench import host_calibration
    from perfbench import corpus
    from perfbench.metrics import result_line
    from perfbench.procstat import RssSampler

    input_dir = corpus.materialize(args.workload, args.seed,
                                   WORKLOADS[args.workload]["n_docs"], WORK,
                                   workers=K)
    golden = corpus.load_golden(input_dir)
    calib = host_calibration()
    tally = Tally()
    setups: list[float] = []
    sessions: list[dict] = []
    spark = None
    with RssSampler() as sampler:
        try:
            for i in range(SETUPS):
                if spark is not None:
                    # each sample pays the JVM launch, as a real run does
                    _stop_spark(spark)
                    spark = None
                spark, dt = _setup_session(i)
                setups.append(dt)
                wl = Workload(spark, args.workload, input_dir)
                sessions.append(measure(wl, golden, args.seconds / SETUPS,
                                        tally, sampler))
            walls = [w for t in sessions for w in t["walls"]]
            values = {
                "docs_per_s": statistics.median(
                    r for t in sessions for r in t["rates"]),
                "cpu_s_per_kdoc": sum(t["cpu_s"] for t in sessions) / sum(
                    t["docs"] for t in sessions) * 1000.0,
                "peak_rss_mb": statistics.median(
                    p for t in sessions for p in t["peaks"]) / 1e6,
                "setup_s": statistics.median(setups)}
            if args.trace:
                values, negative_part = trace_layers(
                    wl, golden, input_dir, args.seed, values, tally)
        finally:
            if spark is not None:
                _stop_spark(spark)
    context = {
        "workload": args.workload, "seed": args.seed, "k": K,
        "n_docs": len(golden), "passes": len(walls),
        "pass_walls_s": [round(w, 4) for w in walls],
        "setup_samples_s": [round(s, 4) for s in setups],
        "mismatch_rate": tally.failed / tally.attempted,
        "separator_only_diffs": tally.separator_only,
        "calib": calib,
    }
    if args.trace:
        context["parts_sum_within_15pct"] = {
            "spark": (not negative_part and abs(
                values["bench.spark_parts_over_stage_run"] - 1) <= 0.15),
            "kernel": abs(values["bench.kernel_parts_over_doc"] - 1) <= 0.15}
    print(json.dumps(context))
    print(result_line(tally.failed == 0, tally.attempted, tally.failed,
                      values, bool(args.trace)))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    raise SystemExit(main())
