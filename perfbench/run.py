"""Crawl-frontier benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload bulk-pop --seed 1 --seconds 20 --trace 0

Runs from the repository root and writes only under ``.bench_work/``.
Inputs and oracle digests are made per (workload, seed) by ``golden.py``
in a child process before Spark starts, and cached. Load is one process
on Spark ``local[<cpus>]`` with one driver issuing one round at a time
(a closed loop with one client).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is a separate
run with the Spark event log on, the Bloom probe and store counters
taken at every round, and prints the per-layer metrics. The last line
of stdout is always ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("bulk-pop", "deep-crawl")
#: cached (workload, seed) input sets kept on disk
CACHE_KEEP = 8
#: pages timed by the direct single-thread ``extract_page`` calls
EXTRACT_SAMPLE = 2000


def _box_conf(trace: bool) -> dict[str, str]:
    """Session settings sized to this machine: driver heap a quarter of
    physical memory (1..8 GiB). Shuffle and spill files go on disk under
    the work dir (``_isolate``); a tmpfs would take memory the heap needs."""
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    heap_gb = max(1, min(8, mem_kb // (4 << 20)))
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.driver.memory": f"{heap_gb}g",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # no hsperfdata file in /tmp
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "true",
            }
        )
    return conf


def _isolate() -> None:
    """Keep every file the run writes under the work dir, and keep
    deploy-time engine overrides out of the measurement."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    for d in ("tmp", "spark-local", "eventlog"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
        os.makedirs(os.path.join(WORK, d))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # get_spark puts spark.local.dir here instead of on /dev/shm
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE])


def prepare(workload: str, seed: int) -> str:
    """Inputs + golden digests for (workload, seed), made in a child
    process on first use and cached."""
    cache = os.path.join(WORK, "cache")
    with open(os.path.join(HERE, "golden.py"), "rb") as fh:
        shape = hashlib.md5(fh.read()).hexdigest()[:8]  # sizes live there
    out = os.path.join(cache, f"{workload}-{seed}-{shape}")
    if not os.path.exists(os.path.join(out, "golden.json")):
        os.makedirs(cache, exist_ok=True)
        old = sorted(
            (os.path.join(cache, d) for d in os.listdir(cache)),
            key=os.path.getmtime,
        )
        for d in old[: max(0, len(old) - CACHE_KEEP + 1)]:
            shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "golden.py"), workload, str(seed), out],
            check=True,
            stdout=sys.stderr,
        )
    os.utime(out)
    return out


def start_spark(trace: bool):
    from ethereum_raw_data_crawler_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    return get_spark(cores=cores, app_name="perfbench", extra=_box_conf(trace))


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until it and its Python
    workers are gone."""
    from pyspark import SparkContext

    from procstat import tree

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
    deadline = time.time() + 60
    while len(tree()) > 1 and time.time() < deadline:
        time.sleep(0.2)


def extract_us_per_page(inputs: str) -> float:
    """Median of three single-thread passes of ``extract_page`` over a
    fixed sample of the corpus html, in microseconds per page."""
    import pyarrow.dataset as ds

    from ethereum_raw_data_crawler_spark.functions.extract import extract_page
    from ethereum_raw_data_crawler_spark.functions.urls import canonicalize_url

    pages = ds.dataset(os.path.join(inputs, "pages.parquet"), format="parquet")
    t = pages.head(EXTRACT_SAMPLE, columns=["url", "html"])
    docs = [
        (h, canonicalize_url(u))
        for h, u in zip(t.column("html").to_pylist(), t.column("url").to_pylist())
    ]
    passes = []
    for _ in range(3):
        t0 = time.perf_counter()
        for html, base in docs:
            extract_page(html, base)
        passes.append((time.perf_counter() - t0) / len(docs) * 1e6)
    return statistics.median(passes)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the program under test must be importable from the checkout root;
    # without it the run fails here, before any work or output
    sys.path[:0] = [ROOT, HERE]
    import ethereum_raw_data_crawler_spark.plans.rounds  # noqa: F401

    _isolate()
    inputs = prepare(args.workload, args.seed)
    with open(os.path.join(inputs, "golden.json")) as fh:
        gold = json.load(fh)

    import crawl
    import layers
    from procstat import Sampler

    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace = bool(args.trace)
    with Sampler(0.1 if trace else 0.25) as sampler:
        t0 = time.time()
        spark = start_spark(trace)
        session_s = time.time() - t0
        tracer = crawl.Tracer(spark) if trace else None
        try:
            if tracer:
                tracer.install()
            result = crawl.run(
                spark, args.workload, inputs, gold, work, args.seconds, tracer
            )
        finally:
            if tracer:
                tracer.uninstall()
            stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)

    if not result.rounds:
        metrics = {}
    elif trace:
        metrics = layers.per_layer(
            result,
            session_s,
            sampler,
            os.path.join(WORK, "eventlog"),
            extract_us_per_page(inputs),
        )
        layers.write_trace(result, os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"))
    else:
        metrics = crawl.end_to_end(result, session_s, sampler.peak_rss)
    units = layers.units()
    print(
        json.dumps(
            {
                "correct": result.failed == 0 and bool(result.rounds),
                "attempted": max(result.attempted, 1),
                "failed": result.failed if result.attempted else 1,
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
