"""The package's Python worker daemon (ts2g2_spark/pydaemon.py): workers
run its stat-keyed `zipimporter.invalidate_caches`, which still picks up a
rewritten archive and skips re-reading an unchanged one."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa

from ts2g2_spark import pydaemon


def test_workers_run_the_package_daemon(spark):
    def report(batches):
        for _ in batches:
            pass
        fn = zipimport.zipimporter.invalidate_caches
        yield pa.RecordBatch.from_pydict(
            {"fn": [f"{fn.__module__}.{fn.__qualname__}"]})

    got = {r.fn for r in spark.range(4).mapInArrow(report, "fn string")
           .collect()}
    assert got == {"ts2g2_spark.pydaemon.invalidate_caches"}


def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path,
                                                          monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zd_first.py", "X = 1\n")
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pydaemon.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    for name in ("zd_first", "zd_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    try:
        assert importlib.import_module("zd_first").X == 1
        importlib.invalidate_caches()  # records the archive's stat

        st = os.stat(archive)
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zd_first.py", "X = 1\n")
            z.writestr("zd_second.py", "Y = 2\n")
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        assert os.stat(archive).st_size != st.st_size
        del reads[:]
        importlib.invalidate_caches()
        assert len(reads) == 1
        assert importlib.import_module("zd_second").Y == 2

        importlib.invalidate_caches()
        assert len(reads) == 1  # unchanged archive: not read again
    finally:
        for name in ("zd_first", "zd_second"):
            sys.modules.pop(name, None)
        zipimport._zip_directory_cache.pop(archive, None)
        sys.path_importer_cache.pop(archive, None)
