"""Python worker daemon for `session.get_spark` sessions.

Run by Spark as `python -m ts2g2_spark.pydaemon` (the session's
`spark.python.daemon.module`): it installs a stat-keyed
`zipimport.zipimporter.invalidate_caches`, then runs `pyspark.daemon`'s
manager.  Workers fork from this process, so every task runs with it.

Why: pyspark's worker calls `importlib.invalidate_caches()` at the start of
every task (`worker_util.setup_spark_files`).  On CPython < 3.13 the stock
`zipimporter.invalidate_caches` re-reads the archive's whole central
directory, once for every package directory already imported from it, so a
worker that has imported pyspark's sql/pandas/arrow subpackages from
`pyspark.zip` (1328 entries, ~10 ms a read) re-reads it a dozen times or
more per task: 110-175 ms before the UDF starts (4-core Xeon VM, CPython
3.11.7, pyspark 4.1.2).  The replacement re-reads an archive only when
its `(st_mtime_ns, st_size)` differs from the last read, or when it was
never read through here; a zip rewritten in place is still re-read.

Importing this module changes nothing; `install()` does.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) when invalidate_caches last read it
_read_at: dict[str, tuple[int, int]] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """`zipimporter.invalidate_caches` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _stock_invalidate_caches(self)
        return
    key = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_at.get(self.archive) == key:
        # another importer of this archive may have re-read it since this
        # one last looked (CPython < 3.13 keeps a per-importer reference)
        self._files = files
        return
    _stock_invalidate_caches(self)
    _read_at[self.archive] = key


def install() -> None:
    """Patch `zipimport.zipimporter` for this process and the processes it
    forks, and read each archive imported from so far once now, so forked
    workers start with its stat recorded."""
    import importlib

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


def main() -> None:
    import pyspark.daemon

    install()
    pyspark.daemon.manager()


if __name__ == "__main__":
    # `python -m` runs this file as __main__; take the functions from the
    # importable module so workers report ts2g2_spark.pydaemon's.
    from ts2g2_spark.pydaemon import main as _main

    _main()
