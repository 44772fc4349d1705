"""The Python worker daemon (``apitap_spark.worker_daemon``): a zip
importer re-reads its archive only when the archive changed, and the
session's Python workers run under it."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from apitap_spark import worker_daemon


@pytest.fixture
def counted_reads(monkeypatch):
    """Patch the daemon's ``invalidate_caches`` in for this test and count
    ``zipimport._read_directory`` calls per archive."""
    reads: dict[str, int] = {}
    read = zipimport._read_directory

    def counting(archive):
        reads[archive] = reads.get(archive, 0) + 1
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    return reads


def _zip(path, **modules):
    with zipfile.ZipFile(path, "a") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_unchanged_archive_is_not_reread(tmp_path, counted_reads):
    path = str(tmp_path / "lib.zip")
    _zip(path, zd_same="X = 1\n")
    imp = zipimport.zipimporter(path)
    assert counted_reads == {path: 1}  # the constructor's read
    for _ in range(3):
        imp.invalidate_caches()
    # the first call stamps the archive (one read), the rest read nothing
    assert counted_reads == {path: 2}
    assert imp.find_spec("zd_same") is not None


def test_rewritten_archive_is_reread_and_its_new_module_imports(
    tmp_path, counted_reads, monkeypatch
):
    path = str(tmp_path / "lib.zip")
    _zip(path, zd_first="X = 1\n")
    monkeypatch.syspath_prepend(path)
    for name in ("zd_first", "zd_added"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    try:
        assert importlib.import_module("zd_first").X == 1
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        before = counted_reads[path]
        _zip(path, zd_added="Y = 2\n")  # appended: the size changes
        importlib.invalidate_caches()
        assert counted_reads[path] == before + 1
        assert importlib.import_module("zd_added").Y == 2
    finally:
        sys.path_importer_cache.pop(path, None)


def test_session_workers_run_under_the_daemon(spark):
    def probe(_):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__module__

    got = spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect()
    assert set(got) == {"apitap_spark.worker_daemon"}
