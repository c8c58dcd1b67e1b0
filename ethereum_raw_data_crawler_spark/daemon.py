"""The PySpark worker daemon of sessions that ``session.get_spark`` builds.

``pyspark.daemon`` forks one Python worker per concurrent task, and the
stock daemon has imported neither numpy, pandas and pyarrow nor this
package. So every worker imports them on its own: with ``pyspark.worker``
that costs a fresh process about 0.8 CPU-s and 96 MB resident (4-core x86
VM, Python 3.11). This module imports them once, applies
:func:`pyworker.tune` (the zip importer patch and ``gc.freeze``), and then
runs the stock daemon loop. Every forked worker starts warm, and the pages
it shares with the daemon count once in the process tree's proportional
set size.

Only imports run before the fork: pyarrow compute and pandas operations
start thread pools, which a forked child does not inherit.

Spark starts it as ``python -m ethereum_raw_data_crawler_spark.daemon``
(``spark.python.daemon.module``), so the directory that holds the package
must be on the executor's Python path (``get_spark`` sets
``spark.executorEnv.PYTHONPATH``).
"""

import numpy  # noqa: F401  the engine's UDFs all run on these
import pandas  # noqa: F401
import pyarrow  # noqa: F401
import pyspark.worker  # noqa: F401
from pyspark import daemon

from ethereum_raw_data_crawler_spark import pyworker
from ethereum_raw_data_crawler_spark.plans import rounds  # noqa: F401  every UDF module

if __name__ == "__main__":
    pyworker.forked_from = pyworker.DAEMON_MODULE
    pyworker.tune()
    daemon.manager()
