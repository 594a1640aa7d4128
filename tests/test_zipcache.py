"""Stamp-checked zip directory re-reads in Spark Python workers
(atsc_spark.zipcache).

Unit tests put a temporary zip on ``sys.path`` and count the archive
directory reads ``importlib.invalidate_caches()`` triggers; the Spark
test checks the hook from inside real, reused Python workers.
"""

import importlib
import logging
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from atsc_spark import zipcache


@pytest.fixture
def reads(monkeypatch):
    """Archive paths whose central directory was read, in call order."""
    seen = []
    original = zipimport._read_directory

    def counted(archive):
        seen.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return seen


@pytest.fixture
def in_task(monkeypatch):
    """Make this process look like a Spark Python worker mid-task; the
    original ``invalidate_caches`` is restored afterwards."""
    from pyspark import TaskContext

    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(TaskContext, "get", classmethod(lambda cls: object()))


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zc_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("zc_mod_a", "zc_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def _write_zip(path, modules):
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def test_unchanged_archive_is_not_reread(archive, in_task, reads):
    assert importlib.import_module("zc_mod_a").X == 1
    assert zipcache.install()
    assert zipcache.installed()
    n = reads.count(archive)  # install takes the one remaining re-read
    assert n >= 1
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads.count(archive) == n


def test_rewritten_archive_is_reread(archive, in_task, reads):
    importlib.import_module("zc_mod_a")
    assert zipcache.install()
    importlib.invalidate_caches()
    # a new module: the archive grows
    _write_zip(archive, {"zc_mod_a": "X = 1\n", "zc_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zc_mod_b").Y == 2
    # same size, replaced file: new contents must be served, not stale offsets
    _write_zip(archive, {"zc_mod_a": "X = 3\n", "zc_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    sys.modules.pop("zc_mod_a")
    assert importlib.import_module("zc_mod_a").X == 3
    n = reads.count(archive)
    importlib.invalidate_caches()
    assert reads.count(archive) == n


def test_python_313_is_left_alone(in_task, monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert not zipcache.install()
    assert not zipcache.installed()


def test_spark_driver_is_left_alone():
    # this pytest process is a Spark driver: no task context
    import atsc_spark  # noqa: F401 — the package import runs install()

    assert not zipcache.install()
    assert not zipcache.installed()


def test_unexpected_zipimport_shape_warns_once(in_task, monkeypatch, caplog):
    class NotAFunction:
        def __call__(self, importer):
            pass

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", NotAFunction())
    with caplog.at_level(logging.WARNING, logger=zipcache.__name__):
        assert not zipcache.install()
    assert len(caplog.records) == 1
    assert not zipcache.installed()


def test_workers_reread_no_archive_after_their_first_task(spark):
    """16 identity tasks on reused workers: every worker runs the hook,
    and once it has run an engine task no later task re-reads an
    archive (without the hook every task re-reads pyspark.zip and the
    spark-core jar once per zipimporter, ~16 directory reads)."""

    def probe(batches):
        import os
        import zipimport

        from pyspark import TaskContext

        from atsc_spark import zipcache

        if not hasattr(zipimport._read_directory, "calls"):
            # first engine task in this worker: start counting reads now
            original = zipimport._read_directory

            def counted(archive):
                counted.calls += 1
                return original(archive)

            counted.calls = 0
            zipimport._read_directory = counted
        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "pid": [os.getpid()],
                "part": [TaskContext.get().partitionId()],
                "installed": [zipcache.installed()],
                "reads": [zipimport._read_directory.calls],
            }
        )

    rows = (
        spark.range(0, 16, numPartitions=16)
        .mapInPandas(probe, "pid long, part int, installed boolean, reads long")
        .toPandas()
    )
    assert sorted(rows["part"]) == list(range(16))
    assert rows["installed"].all()
    assert rows.groupby("pid").size().max() >= 2  # workers were reused
    assert (rows["reads"] == 0).all()
