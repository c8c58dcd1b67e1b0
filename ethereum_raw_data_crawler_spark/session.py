"""SparkSession factory.

Local-mode defaults tuned per the bench host (single JVM, up to 32
threads, 128 GiB), with the driver heap capped by the host's memory; on
a real cluster the same code runs unchanged under
``spark-submit --py-files`` — nothing here assumes local mode except the
defaults. AQE stays ON (runtime coalescing + skew-join splitting is part
of the scale story, SURVEY.md §4.2).

Why the less obvious confs are set:

* ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true`` —
  Spark 4.1 defaults it to false, which keeps AQE from coalescing the
  shuffles inside a cached plan: a small round's cached discover frames
  then keep every one of the ``spark.sql.shuffle.partitions`` partitions
  (24+ near-empty tasks per stage that reads them). Explicit
  ``repartition(n)`` / ``repartitionByRange(n)`` exchanges are never
  coalesced, so code that needs a partition count asks for one.
* ``spark.sql.codegen.cache.maxEntries=1000`` — a crawl round compiles
  about 135 distinct generated classes; at the default 100 the cache
  evicts them before the next round, which then pays 0.5–0.9 s of driver
  compile again. 1000 holds several rounds' worth.
* ``spark.python.daemon.module=ethereum_raw_data_crawler_spark.daemon`` —
  Python workers fork from a daemon that has already imported numpy,
  pandas, pyarrow and the engine's UDF modules, and frozen them out of the
  collector (daemon.py). With the stock daemon each worker imported them
  on its own: after ``CrawlEngine.create`` on the bulk-pop benchmark
  inputs (4 cores) the process tree held 2 daemons and 12 workers with a
  Python PSS of 846 MB.
* ``spark.executorEnv.PYTHONPATH`` = the directory that holds the package —
  Spark starts that daemon with ``python -m`` before any task has shipped
  a ``--py-files`` archive, so the package must be importable from the
  executor's own Python path. Local mode would find it anyway (the JVM
  runs from the driver's working directory), but ``local-cluster``
  executor JVMs run from their own work directories. On a real cluster
  the package must be installed (or on that path) on every executor.
  Sessions built elsewhere (a harness's, a notebook's) keep the stock
  daemon; the package's import hook tunes their workers (pyworker.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ethereum_raw_data_crawler_spark.pyworker import DAEMON_MODULE


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``min(48g, 60% of physical memory)``: local mode runs every task in
    the driver JVM, whose heap grows towards this cap, so a cap above what
    the host has gets the JVM killed by the kernel OOM killer instead of
    garbage-collected (48g suits the 128 GiB bench host; 60% leaves the
    rest for off-heap JVM memory and the Python workers). Falls back to
    48g where ``meminfo`` cannot be read."""
    try:
        with open(meminfo) as fh:
            kib = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "48g"
    return f"{min(48 << 10, int(kib * 0.6) >> 10)}m"


def get_spark(
    cores: int | None = None,
    app_name: str = "crawl-frontier",
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    if shuffle_partitions is None:
        # 3x cores smooths straggler tails on wide stages (measured: every
        # parallelism level of the 5M-round bench gained ~20-45% over
        # width == cores; AQE coalescing absorbs the extra partitions on
        # small stages)
        shuffle_partitions = max(3 * cores, 24)
    # SPARK_GRAFT_MASTER overrides the master URL — used by the scaling
    # harness to run local-cluster[N, C, M] (N real executor JVMs on one
    # box: separate heaps, separate GC, separate Python worker pools),
    # the honest single-machine proxy for an N-executor cluster. `cores`
    # then only sizes the shuffle width.
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode = driver-only: the heap hosts every cache and shuffle
        # buffer; an undersized heap turns into GC thrash that flattens
        # multi-core scaling (measured: 2.2x -> 1.4x at 32 cores on 8g)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config(
            "spark.executor.memory", os.environ.get("SPARK_EXECUTOR_MEM", "8g")
        )  # only meaningful under local-cluster / a real cluster manager
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.python.daemon.module", DAEMON_MODULE)
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
    )
    # single-node shuffle files on tmpfs: local-mode shuffles through one
    # shared disk otherwise, which serializes multi-core runs (a real
    # cluster's shuffle IO scales per-executor; tmpfs is the honest proxy)
    shm = os.environ.get("SPARK_LOCAL_DIRS")
    if shm is None and os.path.isdir("/dev/shm"):
        shm = "/dev/shm/spark-local"
        os.makedirs(shm, exist_ok=True)
    if shm:
        builder = builder.config("spark.local.dir", shm)
    # SPARK_GRAFT_CONF="key=value;key=value" — deploy-time conf overrides
    # (the local-mode stand-in for spark-submit --conf); applied before
    # `extra` so programmatic callers win
    env_conf = os.environ.get("SPARK_GRAFT_CONF", "")
    for pair in filter(None, env_conf.split(";")):
        k, _, v = pair.partition("=")
        builder = builder.config(k.strip(), v.strip())
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # ERROR: the engine intentionally uses small bounded global windows
    # (popped batch numbering), whose WindowExec warnings would drown logs
    spark.sparkContext.setLogLevel("ERROR")
    return spark
