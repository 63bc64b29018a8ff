"""Session-level behaviour: the worker daemon's lazy zip-directory
invalidation (``instructionspipe_spark/worker_daemon.py``)."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from instructionspipe_spark import worker_daemon

below_312 = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython 3.12+ invalidates zip directories lazily"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@below_312
def test_zip_invalidation_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"ips_zip_mod_a": "VALUE = 'a'\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches)
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    monkeypatch.syspath_prepend(archive)
    for name in ("ips_zip_mod_a", "ips_zip_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("ips_zip_mod_a").VALUE == "a"
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)

    reads: list[str] = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)

    def rereads() -> int:
        n = len(reads)
        importer.invalidate_caches()
        return reads[n:].count(archive)

    assert rereads() == 1  # no stamp yet: the stock method reads and stamps
    assert rereads() == 0
    assert rereads() == 0
    assert importer._files is zipimport._zip_directory_cache[archive]

    # A rewritten archive (a new module, so a new size) is read again once.
    _write_zip(archive, {"ips_zip_mod_a": "VALUE = 'a'\n", "ips_zip_mod_b": "VALUE = 'b'\n"})
    assert rereads() == 1
    assert rereads() == 0
    assert importlib.import_module("ips_zip_mod_b").VALUE == "b"

    # A deleted archive behaves as under the stock method: empty listing,
    # cache entry dropped, and a new archive at the same path is read.
    os.remove(archive)
    assert rereads() == 1
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache
    _write_zip(archive, {"ips_zip_mod_a": "VALUE = 'a'\n"})
    assert rereads() == 1
    assert "ips_zip_mod_a.py" in importer._files


def test_python_tasks_skip_unchanged_zip_rereads(spark):
    """get_spark selects the package daemon below 3.12, and a Python task's
    workers then re-read no unchanged zip on the worker path."""
    module = spark.sparkContext.getConf().get("spark.python.daemon.module")
    if sys.version_info >= (3, 12):
        assert module is None
        return
    assert module == "instructionspipe_spark.worker_daemon"

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        reads = [0]
        stock_read = zipimport._read_directory

        def counting_read(path):
            reads[0] += 1
            return stock_read(path)

        zipimport._read_directory = counting_read
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock_read
        zip_importers = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "module": [zipimport.zipimporter.invalidate_caches.__module__],
                "reads": [reads[0]],
                "zip_importers": [zip_importers],
            }
        )

    one_row = spark.range(1).coalesce(1)
    one_row.mapInPandas(lambda it: it, one_row.schema).collect()  # warm a worker
    [row] = one_row.mapInPandas(probe, "module string, reads int, zip_importers int").collect()
    assert row.zip_importers > 0, "no zip on the worker path: the probe shows nothing"
    assert row.module == "instructionspipe_spark.worker_daemon"
    assert row.reads == 0
