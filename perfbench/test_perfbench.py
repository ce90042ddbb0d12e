"""Tests of the benchmark itself (no Spark session):

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import corpus, kernel_trace, metrics, procstat  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)


@pytest.fixture(scope="module")
def extracted(tmp_path_factory):
    """Golden plus the program's own output for two small corpora."""
    work = str(tmp_path_factory.mktemp("work"))
    out = {}
    for name, n, route_ocr in (("fixture_mix", 40, False),
                               ("scanned_ocr", 16, True)):
        d = corpus.materialize(name, 3, n, work)
        golden = corpus.load_golden(d)
        payloads = corpus.load_payloads(d)
        run = kernel_trace._doc_runner(route_ocr)
        rows = []
        for url, (payload, lang) in payloads.items():
            r = run(payload, lang)
            rows.append((url, r["status"], r["text"]))
        out[name] = (golden, rows)
    return out


def test_program_output_matches_golden(extracted):
    for golden, rows in extracted.values():
        assert corpus.count_mismatches(golden, rows)[0] == 0


def test_altered_row_is_a_mismatch(extracted):
    for golden, rows in extracted.values():
        url, status, text = next(r for r in rows if r[2])
        others = [r for r in rows if r[0] != url]
        altered = others + [(url, status, text + "x")]
        assert corpus.count_mismatches(golden, altered)[0] == 1
        restatused = others + [(url, "empty", text)]
        assert corpus.count_mismatches(golden, restatused)[0] == 1


def test_duplicated_missing_and_unknown_urls_count(extracted):
    golden, rows = extracted["fixture_mix"]
    assert corpus.count_mismatches(golden, rows + rows[:1])[0] == 1
    assert corpus.count_mismatches(golden, rows[1:])[0] == 1
    stray = ("https://nowhere.example/x", "ok", "t")
    assert corpus.count_mismatches(golden, rows + [stray])[0] == 1


def test_genuine_pdf_separator_kind_is_not_a_mismatch(extracted):
    golden, rows = extracted["scanned_ocr"]
    url, status, text = next(r for r in rows if " " in r[2])
    others = [r for r in rows if r[0] != url]
    tabbed = others + [(url, status, text.replace(" ", "\t", 1))]
    assert corpus.count_mismatches(golden, tabbed) == (0, 1)
    first = text.split()[0]
    swapped = others + [(url, status, text.replace(first, first + "s", 1))]
    assert corpus.count_mismatches(golden, swapped)[0] == 1
    repaged = others + [(url, status, text.replace("\n", "\f", 1))]
    assert corpus.count_mismatches(golden, repaged)[0] == 1


def test_corpus_is_a_function_of_the_seed(tmp_path):
    a = corpus.load_golden(corpus.materialize("scanned_ocr", 5, 16,
                                              str(tmp_path / "a")))
    b = corpus.load_golden(corpus.materialize("scanned_ocr", 5, 16,
                                              str(tmp_path / "b")))
    c = corpus.load_golden(corpus.materialize("scanned_ocr", 6, 16,
                                              str(tmp_path / "a")))
    assert a == b
    assert a != c


def test_parser_recovers_every_metric_name_and_unit():
    for trace, key in ((False, "end_to_end"), (True, "per_layer")):
        table = metrics.PER_LAYER if trace else metrics.END_TO_END
        values = {name: float(i) + 0.5 for i, name in enumerate(table)}
        stdout = "context line\n" + metrics.result_line(
            True, 10, 0, values, trace) + "\n"
        parsed = metrics.parse_result(stdout)
        got = {n: (m["unit"], m["value"])
               for n, m in parsed["metrics"].items()}
        want = {m["name"]: m["unit"] for m in BENCHMARK[key]}
        assert {n: u for n, (u, _v) in got.items()} == want
        assert all(got[n][1] == values[n] for n in values)
        assert parsed["attempted"] == 10 and parsed["failed"] == 0


def test_result_line_refuses_a_missing_metric():
    values = dict.fromkeys(metrics.END_TO_END, 1.0)
    del values["setup_s"]
    with pytest.raises(KeyError):
        metrics.result_line(True, 1, 0, values, trace=False)


def test_benchmark_json_matches_the_code():
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(WORKLOADS)
    for key, table in (("end_to_end", metrics.END_TO_END),
                       ("per_layer", metrics.PER_LAYER)):
        assert {m["name"]: (m["unit"], m["better"])
                for m in BENCHMARK[key]} == table
    with open(os.path.join(HERE, "predictions.json")) as f:
        pred = json.load(f)
    assert set(pred["predictions"]) == set(metrics.PER_LAYER)
    for p in pred["predictions"].values():
        assert set(p["moves"]) <= set(metrics.END_TO_END)
        assert set(p["workloads"]) <= set(WORKLOADS)
    assert set(pred["legacy_bench_fields"]) == set(WORKLOADS)


def test_kernel_layers_are_all_reported():
    assert set(kernel_trace.LAYER_METRICS) <= set(metrics.PER_LAYER)


def test_self_time_excludes_nested_layers():
    timer = kernel_trace.SelfTimer("plain")
    inner = timer.wrap(lambda: time.sleep(0.05), "inner", "inner")
    outer = timer.wrap(lambda: inner(), "outer", "outer")
    outer()
    assert timer.self_ns["inner"] >= 45e6
    assert timer.self_ns["outer"] < 20e6
    assert timer.calls == {"inner": 1, "outer": 1}


def test_process_tree_counters_see_children():
    child = subprocess.Popen([sys.executable, "-c",
                              "import time; time.sleep(5)"])
    try:
        deadline = time.monotonic() + 5
        while child.pid not in procstat.descendants():
            assert time.monotonic() < deadline
            time.sleep(0.05)
        # too young to count yet, then counted
        assert procstat.tree_rss_bytes(child.pid) == 0
        time.sleep(procstat.MIN_AGE_S + 0.2)
        assert procstat.tree_rss_bytes(child.pid) > 0
        assert procstat.tree_rss_bytes() > procstat.tree_rss_bytes(child.pid)
        assert procstat.tree_cpu_s() > 0
    finally:
        child.kill()
        child.wait()


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        BENCHMARK["command"] + ["--workload", "fixture_mix", "--seed", "1",
                                "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
