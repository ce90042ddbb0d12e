"""The worker-side zip-directory guard (``zipguard.install_zip_guard``).

PySpark's worker calls ``importlib.invalidate_caches()`` before every task,
and on CPython 3.11 that re-reads the central directory of every zip on the
path.  The guard keeps a re-read only for archives that changed on disk.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from pdf_ocr_engine_spark.zipguard import install_zip_guard


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in files.items():
            zf.writestr(name, src)


@pytest.fixture
def fresh_guard(monkeypatch):
    """Start from the unguarded method and count directory reads per
    archive; both patches are undone after the test."""
    cls = zipimport.zipimporter
    original = getattr(cls.invalidate_caches, "zip_guard_original",
                       cls.invalidate_caches)
    monkeypatch.setattr(cls, "invalidate_caches", original)
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "zg_mods.zip")
    _write_zip(archive, {"zg_top.py": "VALUE = 1\n",
                         "zg_pkg/__init__.py": "",
                         "zg_pkg/alpha.py": "VALUE = 2\n"})
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in [m for m in sys.modules if m.startswith(("zg_top", "zg_pkg"))]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]


def test_unchanged_archive_is_not_reread(fresh_guard, zip_on_path):
    import zg_pkg.alpha  # noqa: F401 - adds a second importer on the zip
    import zg_top  # noqa: F401

    install_zip_guard()
    install_zip_guard()  # idempotent: no second wrapper
    assert not hasattr(zipimport.zipimporter.invalidate_caches
                       .zip_guard_original, "zip_guard_original")
    fresh_guard.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert fresh_guard == []


def test_rewritten_archive_is_reread_by_every_importer(fresh_guard,
                                                       zip_on_path):
    import zg_pkg.alpha  # noqa: F401
    import zg_top  # noqa: F401

    sharing = [k for k, v in sys.path_importer_cache.items()
               if isinstance(v, zipimport.zipimporter)
               and v.archive == zip_on_path]
    assert len(sharing) == 2  # the archive root and its zg_pkg/ prefix

    install_zip_guard()
    importlib.invalidate_caches()
    fresh_guard.clear()
    _write_zip(zip_on_path, {"zg_top.py": "VALUE = 1\n",
                             "zg_new.py": "VALUE = 3\n",
                             "zg_pkg/__init__.py": "",
                             "zg_pkg/alpha.py": "VALUE = 2\n",
                             "zg_pkg/beta.py": "VALUE = 4\n"})
    importlib.invalidate_caches()
    # each importer holds its own directory copy, so each re-reads
    assert fresh_guard.count(zip_on_path) == 2

    import zg_new
    import zg_pkg.beta
    assert (zg_new.VALUE, zg_pkg.beta.VALUE) == (3, 4)

    fresh_guard.clear()
    importlib.invalidate_caches()
    assert fresh_guard == []


@pytest.mark.spark
def test_reused_workers_stop_rereading_zip_directories(spark):
    """12 one-row ``mapInArrow`` tasks: after its first task, a reused
    Python worker reads no zip directory at the per-task invalidation."""

    def run(batches):
        install_zip_guard()
        import os
        import zipimport

        import pyarrow as pa

        read = zipimport._read_directory
        first = not hasattr(read, "calls")
        if first:  # this worker's first task: count from here on
            def counting(archive, _read=read):
                counting.calls += 1
                return _read(archive)

            counting.calls = 0
            zipimport._read_directory = read = counting
        for b in batches:
            n = b.num_rows
            yield pa.record_batch(
                [pa.array([os.getpid()] * n, pa.int64()),
                 pa.array([read.calls] * n, pa.int64()),
                 pa.array([first] * n, pa.bool_())],
                names=["pid", "reads", "first"])

    rows = spark.range(0, 12, 1, 12) \
        .mapInArrow(run, "pid long, reads long, first boolean").collect()
    assert len(rows) == 12
    later = [r for r in rows if not r.first]
    assert later, "no Python worker ran a second task"
    assert {(r.pid, r.reads) for r in later} \
        == {(r.pid, 0) for r in later}
