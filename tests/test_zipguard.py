"""The worker-side ``zipimporter.invalidate_caches`` guard (``_zipguard``):
an unchanged archive is not re-read, a rewritten one is, the driver keeps
the stdlib method, and a Spark worker's later tasks read no archive."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import wordspell_spark
from wordspell_spark import _zipguard


def _counting_reads(monkeypatch, archive):
    """Calls of ``zipimport._read_directory`` on ``archive``, from now on."""
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda path: (reads.append(path) if path == archive else None) or real(path))
    return reads


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_unchanged_archive_is_not_reread_and_rewritten_one_is(tmp_path, monkeypatch, request):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["m1"])
    monkeypatch.syspath_prepend(archive)
    request.addfinalizer(lambda: [sys.modules.pop(name, None) for name in ("m1", "m2")])
    assert importlib.import_module("m1").NAME == "m1"

    cls = zipimport.zipimporter
    monkeypatch.setattr(cls, "invalidate_caches", _zipguard.lazy_invalidate_caches(cls.invalidate_caches))
    reads = _counting_reads(monkeypatch, archive)
    importlib.invalidate_caches()  # the guard's first call reads once and stamps
    assert len(reads) == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == 1

    _write_zip(archive, ["m1", "m2"])
    importlib.invalidate_caches()
    assert len(reads) == 2
    assert importlib.import_module("m2").NAME == "m2"
    importlib.invalidate_caches()
    assert len(reads) == 2


def test_driver_keeps_stdlib_invalidate_caches():
    assert "pyspark.taskcontext" not in sys.modules or sys.modules["pyspark.taskcontext"].TaskContext.get() is None
    importlib.reload(wordspell_spark)
    method = zipimport.zipimporter.invalidate_caches
    assert (method.__module__, method.__qualname__) == ("zipimport", "zipimporter.invalidate_caches")


def test_worker_second_task_reads_no_archive(spark):
    def reads_in_worker(batches):
        """One row: this worker's pid and the archive directory reads of one
        ``importlib.invalidate_caches()`` after importing the library."""
        import pyarrow as pa

        import wordspell_spark  # noqa: F401 — installs the guard in this worker

        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or real(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "reads": [len(reads)]})

    # idle workers are reused first-in first-out, so run one-task jobs
    # until a worker comes round again: its second task reads nothing
    df = spark.range(1, numPartitions=1)
    seen = {}
    for _ in range(16):
        row = df.mapInArrow(reads_in_worker, "pid long, reads long").collect()[0]
        if row.pid in seen:
            assert row.reads == 0, (seen, row)
            return
        seen[row.pid] = row.reads
    pytest.fail(f"no worker ran twice in 16 one-task jobs: {seen}")
