"""Cut the fixed cost a PySpark Python worker pays per process and between tasks.

Between any two tasks a reused worker runs ``gc.collect()``
(``pyspark.daemon``) and then ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). The first walks every object
that numpy, pandas and pyarrow allocated at import. On CPython 3.11 the
second makes every cached ``zipimporter`` re-read its archive's whole
directory. A worker holds one per package it imported from ``pyspark.zip``,
16 of them over ~1,300 entries.
Measured on a 4-core x86 VM, a no-op task costs ~0.25 CPU-s, so a 64-task
stage costs ~4 s. This is most of a small crawl round's commit, because the
seen-filter fold runs one Python task per bucket.

:func:`tune` makes a zip importer re-read its archive only when the file's
mtime or size changed, and moves the objects alive at that point, the
imported libraries included, to the collector's permanent generation
(``gc.freeze``), so the per-task collection only walks what later tasks
allocate. It runs once per process and does nothing outside a PySpark
worker or daemon.

In a session that ``session.get_spark`` built, it runs once, in the
package's daemon (:data:`DAEMON_MODULE`), before the daemon forks its
first worker: every worker then starts with the libraries imported and the
patch and the freeze in place. The call in the package's ``__init__`` is the
fallback for sessions that ``get_spark`` did not build, whose workers fork
from the stock ``pyspark.daemon``: there it runs when the engine's first UDF
in a worker imports the package. In a preloaded worker it is a no-op.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

#: the preloading worker daemon that ``session.get_spark`` selects
DAEMON_MODULE = "ethereum_raw_data_crawler_spark.daemon"
_WORKER_MAINS = ("pyspark.daemon", "pyspark.worker", DAEMON_MODULE)
#: :data:`DAEMON_MODULE` in the package daemon and every worker it forks
forked_from: str | None = None


def _in_pyspark_worker() -> bool:
    spec = getattr(sys.modules.get("__main__"), "__spec__", None)
    return getattr(spec, "name", None) in _WORKER_MAINS


def _invalidate_if_changed(self, _reread=zipimport.zipimporter.invalidate_caches):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or getattr(self, "_stat_stamp", None) != stamp:
        _reread(self)
        self._stat_stamp = stamp


def tune() -> None:
    """Apply both fixes if this process is a PySpark worker; once per process."""
    if not _in_pyspark_worker() or getattr(zipimport.zipimporter, "_tuned", False):
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    zipimport.zipimporter._tuned = True
    import numpy  # noqa: F401  the engine's UDFs all run on these
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    gc.freeze()
