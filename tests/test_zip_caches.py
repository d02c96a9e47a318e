"""Importing the package makes ``importlib.invalidate_caches()`` re-read a
zip archive's directory only when the archive changed.  Every task on a
reused Python worker calls it, and the worker's ``sys.path`` holds
``pyspark.zip`` and the spark-core jar."""

from __future__ import annotations

import importlib
import sys
import uuid
import zipfile
import zipimport

import pytest

import docling_service_spark  # noqa: F401  (lands the patch in this process)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython 3.12 re-reads zip directories lazily")


def _count_reads(monkeypatch) -> list:
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_zip(path, module: str, body: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{module}.py", body)


def test_only_a_changed_zip_is_re_read(tmp_path, monkeypatch):
    module = f"zmod_{uuid.uuid4().hex}"
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, module, "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, module, raising=False)
    assert importlib.import_module(module).VALUE == 1
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)
    importlib.invalidate_caches()  # the importer's first read under the patch

    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads == []  # unchanged archive: no directory read at all

    _write_zip(archive, module, "VALUE = 2  # rewritten, and longer\n")
    importlib.invalidate_caches()
    assert reads == [archive]
    del sys.modules[module]
    assert importlib.import_module(module).VALUE == 2

    del sys.modules[module]
    (tmp_path / "mods.zip").unlink()
    importlib.invalidate_caches()  # stat fails: the stdlib path, which must not raise
    assert archive not in zipimport._zip_directory_cache
    assert importer._files == {}


def test_reused_python_workers_skip_the_zip_reread(spark):
    import pyarrow as pa

    schema = pa.schema([("pid", pa.int64()), ("reads", pa.int64())])

    def kernel(batches):
        import os
        import zipimport

        import docling_service_spark  # noqa: F401

        probe = getattr(zipimport, "_test_read_probe", None)
        if probe is None:  # first run on this worker: count from its next set-up on
            probe = zipimport._test_read_probe = {"reads": 0}
            real = zipimport._read_directory

            def counting(archive):
                probe["reads"] += 1
                return real(archive)

            zipimport._read_directory = counting
            reads = None
        else:
            reads = probe["reads"]
        probe["reads"] = 0
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{"pid": os.getpid(), "reads": reads}], schema=schema)

    def run():
        return spark.range(0, 8, numPartitions=8).mapInArrow(kernel, "pid long, reads long").collect()

    run()  # warm-up: every worker it touches imports the package
    reused = [r for r in run() if r["reads"] is not None]
    assert reused, "no Python worker was reused"
    assert [r["reads"] for r in reused] == [0] * len(reused)
