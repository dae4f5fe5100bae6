"""The engine's Python-worker daemon: zip archives on the worker's path are
re-read at a task's ``importlib.invalidate_caches()`` only when they
changed on disk."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from jobscrawler_spark import worker_daemon


@pytest.fixture
def daemon_zip(tmp_path, monkeypatch):
    """A zip on sys.path holding ``wd_mod_a``, the wrapper installed (and
    the stock ``invalidate_caches`` back after the test), and a count of
    the archive's directory reads."""
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("wd_mod_a.py", "VALUE = 'a'\n")
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(worker_daemon, "_read_stats", {})
    worker_daemon.install()
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == str(archive):
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, reads
    for name in ("wd_mod_a", "wd_mod_b"):
        sys.modules.pop(name, None)


def test_unchanged_archive_is_not_reread(daemon_zip):
    archive, reads = daemon_zip
    assert importlib.import_module("wd_mod_a").VALUE == "a"
    importlib.invalidate_caches()  # the first one reads: no stat known yet
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    importlib.import_module("wd_mod_a")


def test_rewritten_archive_is_reread(daemon_zip):
    archive, reads = daemon_zip
    importlib.import_module("wd_mod_a")
    importlib.invalidate_caches()
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("wd_mod_a.py", "VALUE = 'a'\n")
        z.writestr("wd_mod_b.py", "VALUE = 'b'\n")
    reads.clear()
    importlib.invalidate_caches()
    assert reads
    assert importlib.import_module("wd_mod_b").VALUE == "b"


def test_session_forks_workers_from_the_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "jobscrawler_spark.worker_daemon"

    def worker_wrapper(_):
        yield zipimport.zipimporter.invalidate_caches.__qualname__

    ran = spark.sparkContext.parallelize([0], 1).mapPartitions(worker_wrapper).collect()
    assert ran == [worker_daemon.invalidate_caches.__qualname__]
