"""Stat-checked zip-archive cache invalidation (``session._install_zip_stat_check``).

A PySpark worker calls ``importlib.invalidate_caches()`` at the start of
every task; on CPython < 3.13 each ``zipimporter`` re-reads its whole
archive directory there. Importing the package makes that re-read
happen only for an archive that changed, and the worker daemon
(``worker_daemon``) imports it and learns every archive's stamp before
it forks a worker. These tests count calls to
``zipimport._read_directory``; none of them times anything.
"""

import contextlib
import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest

from prefix_filter_spark import hashing, session

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zip cache invalidation is lazy on 3.13+"
)


@pytest.fixture
def count_reads(monkeypatch):
    """A counter of ``zipimport._read_directory`` calls from here on."""
    calls = []
    real = zipimport._read_directory

    def counting(path):
        calls.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """A uniquely named package ``<pkg>.sub`` in a zip on ``sys.path``;
    yields ``(archive, pkg, write)`` where ``write(names)`` rewrites the
    archive with those extra modules in ``pkg``."""
    pkg = f"zpkg_{uuid.uuid4().hex}"
    archive = str(tmp_path / "lib.zip")

    def write(names=()):
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr(f"{pkg}/__init__.py", "")
            z.writestr(f"{pkg}/sub/__init__.py", "VALUE = 1\n")
            for name in names:
                z.writestr(f"{pkg}/{name}.py", f"NAME = {name!r}\n")

    write()
    monkeypatch.syspath_prepend(archive)
    yield archive, pkg, write
    for name in [m for m in sys.modules if m == pkg or m.startswith(pkg + ".")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]


def test_unchanged_archive_is_not_reread(zip_pkg, count_reads):
    archive, pkg, _ = zip_pkg
    importlib.import_module(f"{pkg}.sub")
    importers = [
        f
        for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]
    assert len(importers) >= 2  # the archive root and one per package
    count_reads.clear()
    importlib.invalidate_caches()  # first sight of this archive: one read
    assert count_reads == [archive]
    count_reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert count_reads == []
    assert importlib.import_module(f"{pkg}.sub").VALUE == 1


def test_rewritten_archive_is_reread(zip_pkg, count_reads):
    archive, pkg, write = zip_pkg
    importlib.import_module(f"{pkg}.sub")
    importlib.invalidate_caches()
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module(f"{pkg}.fresh")
    write(["fresh"])
    count_reads.clear()
    importlib.invalidate_caches()
    # one read, shared by every importer of the archive
    assert count_reads == [archive]
    assert importlib.import_module(f"{pkg}.fresh").NAME == "fresh"


def test_same_size_rewrite_with_old_mtime_is_reread(zip_pkg, count_reads):
    """A rewrite in place that keeps the archive's size and mtime
    (``cp -p``, ``touch -r``) is still seen, through its ctime."""
    archive, pkg, write = zip_pkg
    write(["old_a"])
    importlib.import_module(f"{pkg}.sub")
    importlib.invalidate_caches()
    before = os.stat(archive)
    write(["new_b"])
    # carry the old mtime over; `utime` moves ctime to now, so repeat it
    # until a coarse clock has ticked past the old ctime
    os.utime(archive, ns=(before.st_atime_ns, before.st_mtime_ns))
    while os.stat(archive).st_ctime_ns == before.st_ctime_ns:
        os.utime(archive, ns=(before.st_atime_ns, before.st_mtime_ns))
    after = os.stat(archive)
    assert (after.st_ino, after.st_size, after.st_mtime_ns) == (
        before.st_ino, before.st_size, before.st_mtime_ns
    )
    count_reads.clear()
    importlib.invalidate_caches()
    assert count_reads == [archive]
    assert importlib.import_module(f"{pkg}.new_b").NAME == "new_b"


def test_missing_archive_is_dropped(zip_pkg, count_reads, tmp_path):
    archive, pkg, write = zip_pkg
    importlib.import_module(f"{pkg}.sub")
    write(["gone"])
    importlib.invalidate_caches()  # the last read lists `gone`
    (tmp_path / "lib.zip").unlink()
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module(f"{pkg}.gone")


def test_install_is_idempotent():
    patched = zipimport.zipimporter.invalidate_caches
    assert hasattr(patched, "_reads")
    session._install_zip_stat_check()
    importlib.reload(session)
    assert zipimport.zipimporter.invalidate_caches is patched


def test_reused_worker_skips_the_reread(spark):
    """In a real PySpark worker ``importlib.invalidate_caches()`` (as at
    every task start) reads no archive directory: the worker daemon
    learned each archive's stamp before it forked the worker. Without
    the patch each call reads one per zip importer, 16 on Spark 4.1.
    Runs the UDF twice, in a fresh or a reused worker alike."""

    def reads_on_invalidate(batches):
        import importlib
        import zipimport

        for pdf in batches:
            hashing.mix_with_seed(pdf["id"].to_numpy(), 7)
        calls = []
        real = zipimport._read_directory

        def counting(path):
            calls.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            first = len(calls)
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        importers = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        yield pd.DataFrame(
            {
                "first": [first],
                "second": [len(calls) - first],
                "importers": [importers],
            }
        )

    df = spark.range(1000).coalesce(1)
    schema = "first long, second long, importers long"
    runs = [df.mapInPandas(reads_on_invalidate, schema).collect()[0] for _ in range(2)]
    if runs[0].importers == 0:
        pytest.skip("the Python workers import nothing from a zip archive")
    assert [(r.first, r.second) for r in runs] == [(0, 0), (0, 0)]


@contextlib.contextmanager
def fresh_worker_pool(sc):
    """Python tasks started inside run in a new worker pool, with its
    own daemon: Spark keys its pools by the workers' environment."""
    sc.environment["PFS_TEST_WORKER_POOL"] = uuid.uuid4().hex
    try:
        yield
    finally:
        del sc.environment["PFS_TEST_WORKER_POOL"]


def first_task_reads():
    """A task function that yields, per task: whether it is its
    worker's first, whether the package is loaded, the archive reads of
    one ``invalidate_caches()`` and the worker's zip importers. Nested,
    so it is pickled by value and its worker imports nothing for it."""

    def probe(_):
        import importlib
        import sys
        import zipimport

        first = not hasattr(sys, "_pfs_test_seen")
        sys._pfs_test_seen = True
        calls = []
        real = zipimport._read_directory

        def counting(path):
            calls.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        importers = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        yield first, "prefix_filter_spark" in sys.modules, len(calls), importers

    return probe


def test_daemon_warms_plain_rdd_tasks(spark):
    """A PySpark-own task that imports nothing (a plain ``RDD.map``)
    finds the package loaded and reads no archive directory, also as
    the first task of a freshly forked worker."""
    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == session.DAEMON_MODULE
    with fresh_worker_pool(sc):
        runs = [
            sc.parallelize(range(2), 2).mapPartitions(first_task_reads()).collect()
            for _ in range(2)
        ]
    if not any(importers for run in runs for *_, importers in run):
        pytest.skip("the Python workers import nothing from a zip archive")
    assert all(first for first, *_ in runs[0])  # a new pool forks new workers
    assert {(loaded, reads) for run in runs for _, loaded, reads, _ in run} == {(True, 0)}


def test_zip_added_after_daemon_start_is_importable(spark, tmp_path):
    """The daemon learned the stamps of the archives it saw; a zip
    shipped with ``addPyFile`` later is still found by the next task."""
    sc = spark.sparkContext
    pkg = f"zadded_{uuid.uuid4().hex}"
    archive = str(tmp_path / f"{pkg}.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{pkg}/__init__.py", "VALUE = 7\n")

    def value(_):
        import importlib

        yield importlib.import_module(pkg).VALUE

    with fresh_worker_pool(sc):
        assert sc.parallelize([0], 1).mapPartitions(first_task_reads()).count() == 1
        sc.addPyFile(archive)
        assert sc.parallelize([0], 1).mapPartitions(value).collect() == [7]


def test_daemon_module_needs_an_importable_package(tmp_path, monkeypatch):
    """``get_spark`` names the warm daemon only when the workers can
    import the package: from the working directory, ``PYTHONPATH`` or
    site-packages. Starts no session."""
    parent = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.setattr(session.site, "getsitepackages", lambda: [str(tmp_path / "site")])
    monkeypatch.setattr(session.site, "getusersitepackages", lambda: str(tmp_path / "user"))
    assert not session._workers_import_package()
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path / "lib"), "", parent]))
    assert session._workers_import_package()
    monkeypatch.setenv("PYTHONPATH", str(tmp_path / "lib"))
    assert not session._workers_import_package()
    monkeypatch.setattr(session.site, "getsitepackages", lambda: [parent])
    assert session._workers_import_package()
    monkeypatch.setattr(session.site, "getsitepackages", lambda: [])
    monkeypatch.chdir(parent)
    assert session._workers_import_package()
