"""The stat-checked zip import-cache flush (plans/session.py).

PySpark flushes the import caches at the start of every Python task; on
CPython < 3.13 that re-reads every zip archive's central directory.  The
installed replacement re-reads an archive only when its stat changed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from bloomfilter_spark.plans import session

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13+ invalidate_caches reads no archive; nothing is installed",
)


def _write_zip(path: str, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip of one module on sys.path; yields (path, list of its reads)."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zc_first.py": "VALUE = 1\n"})
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(p):
        if p == path:
            reads.append(p)
        return real(p)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(path)
    yield path, reads
    for mod in ("zc_first", "zc_second"):
        sys.modules.pop(mod, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_package_import_installs_it_once():
    import bloomfilter_spark  # noqa: F401

    assert session.zip_cache_check_installed()
    installed = zipimport.zipimporter.invalidate_caches
    session.install_zip_cache_check()
    assert zipimport.zipimporter.invalidate_caches is installed


def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    import zc_first

    assert zc_first.VALUE == 1
    importlib.invalidate_caches()  # the first flush stamps the archive
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(archive):
    path, reads = archive
    import zc_first  # noqa: F401

    importlib.invalidate_caches()
    _write_zip(path, {"zc_first.py": "VALUE = 1\n", "zc_second.py": "VALUE = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads == [path]
    import zc_second

    assert zc_second.VALUE == 2


def test_workers_run_the_stat_checked_flush(spark):
    """A task whose function refers to library code imports the package on
    unpickling, which installs the check in the worker process."""
    import pyarrow as pa

    def report(batches):
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"installed": [session.zip_cache_check_installed()]}
        )

    got = spark.range(0, 4, numPartitions=4).mapInArrow(report, "installed boolean")
    assert [r.installed for r in got.collect()] == [True] * 4
