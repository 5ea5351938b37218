"""Python worker daemon of the sessions ``session.get_spark`` builds.

Spark starts it as ``python -m striot_spark.pydaemon`` in place of
``pyspark.daemon`` (``spark.python.daemon.module``). It changes one rule
and then runs the stock daemon: a ``zipimporter`` re-reads its archive's
directory on ``invalidate_caches()`` only when the archive's
``(st_mtime_ns, st_size)`` differs from the last read. Every Python UDF
task ends its set-up with ``importlib.invalidate_caches()``, and the
stock rule has each of the worker's zipimporters re-parse the whole
pyspark.zip directory, every task.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive -> ((st_mtime_ns, st_size) before the read, the directory read)
_last_read: dict[str, tuple[tuple[int, int], dict]] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive's directory if the file changed since the
    last read; otherwise reuse that read."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _stock_invalidate_caches(self)
        return
    sig = (st.st_mtime_ns, st.st_size)
    last = _last_read.get(self.archive)
    if last is not None and last[0] == sig:
        self._files = last[1]
        return
    _stock_invalidate_caches(self)
    if self._files:
        _last_read[self.archive] = (sig, self._files)


def install() -> None:
    """Apply the rule, and read each archive on the path once now, so
    that workers forked after this call start with the reads."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    from pyspark import daemon

    # install from the importable copy, so that workers see the rule
    # under this module's name rather than ``__main__``
    from striot_spark.pydaemon import install as _install

    _install()
    daemon.manager()
