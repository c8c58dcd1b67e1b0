"""Seeded inputs and oracle digests for one (workload, seed).

Run in its own process before Spark starts (the oracle is single-threaded
and memory-hungry at bench sizes):

    python3 perfbench/golden.py <workload> <seed> <out_dir>

writes the workload's input tables as parquet plus ``golden.json``: for
every round prefix ``r`` the order-insensitive digests of the crawl trace
with the per-URL extracted text, and of the seen set, that
``plans/oracle.py`` produces after ``r`` rounds, and its per-round
lineage counters.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from ethereum_raw_data_crawler_spark.config import CrawlConfig  # noqa: E402
from ethereum_raw_data_crawler_spark.plans.oracle import run_oracle  # noqa: E402
from ethereum_raw_data_crawler_spark.sources import synth, xlgen  # noqa: E402

#: workload shapes; every size is fixed here so a seed fully names the input
BULK_PAGES = 101_000
BULK_HOSTS = 1_000
DEEP_SCALE = synth.Scale(hosts=500, pages_per_host=60)
DEEP_ROUNDS = 1  # rounds per deep-crawl leg
DEEP_BATCH = 50_000
DEEP_POLITENESS_X = 10

TABLES = ("pages", "seeds", "robots", "politeness", "fetch_failures")
COUNTERS = ("popped", "fetched", "errors", "discovered", "deduped", "robots_filtered")


def crawl_config(workload: str) -> CrawlConfig:
    if workload == "bulk-pop":
        return CrawlConfig(batch_size=BULK_PAGES, max_rounds=1)
    return CrawlConfig(
        batch_size=DEEP_BATCH, priority_cap=4, max_rounds=DEEP_ROUNDS
    )


def row_digest(values) -> int:
    """60-bit digest of one row; Spark computes the same value with
    ``conv(substr(md5(concat_ws(chr(31), ...)), 1, 15), 16, 10)``."""
    s = "\x1f".join(str(v) for v in values)
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def table_digest(rows) -> list[int]:
    """[row count, sum of row digests] — order-insensitive."""
    n = total = 0
    for r in rows:
        n += 1
        total += row_digest(r)
    return [n, total]


def _bulk_part(part: int, parts: int, seed: int, path: str) -> None:
    ids = np.array_split(np.arange(BULK_PAGES, dtype=np.int64), parts)[part]
    write_parquet(xlgen.gen_partition(ids, BULK_PAGES, BULK_HOSTS, seed), path)


def _bulk_inputs(seed: int, out: str) -> dict[str, pd.DataFrame]:
    """The xlgen bench corpus: content is a pure function of the page id,
    so generating it here, without Spark, equals ``xlgen.generate``. One
    child process per cpu writes one part of ``pages.parquet/``."""
    pages_dir = os.path.join(out, "pages.parquet")
    os.makedirs(pages_dir, exist_ok=True)
    parts = len(os.sched_getaffinity(0))
    children = [
        subprocess.Popen(
            [sys.executable, __file__, "--part", str(i), str(parts), str(seed),
             os.path.join(pages_dir, f"part-{i:03d}.parquet")]
        )
        for i in range(parts)
    ]
    if any([c.wait() for c in children]):  # wait for every child first
        raise RuntimeError("bulk-pop corpus generation failed")
    ids = np.arange(BULK_PAGES, dtype=np.int64)
    hosts = [f"host{h}.example" for h in range(1, BULK_HOSTS + 1)]
    return {
        "pages": pd.read_parquet(pages_dir),
        # the frontier is seeded with the whole universe (bench.py shape)
        "seeds": pd.DataFrame(
            {
                "url": [
                    f"https://host{i % BULK_HOSTS + 1}.example/p/{i // BULK_HOSTS}"
                    for i in ids
                ],
                "priority": np.zeros(BULK_PAGES, dtype=np.int32),
            }
        ),
        "robots": pd.DataFrame(
            {"host": hosts, "allowed": True, "disallow_prefix": None}
        ),
        # budget = batch: one round pops the universe
        "politeness": pd.DataFrame(
            {"host": hosts, "budget_per_round": np.int32(BULK_PAGES)}
        ),
    }


def _deep_inputs(seed: int) -> dict[str, pd.DataFrame]:
    tabs = synth.gen_all(DEEP_SCALE, seed)
    tabs["politeness"]["budget_per_round"] *= DEEP_POLITENESS_X
    return tabs


def make_inputs(workload: str, seed: int, out: str) -> dict[str, pd.DataFrame]:
    """Input tables; every one not yet under ``out`` is written there."""
    tabs = _bulk_inputs(seed, out) if workload == "bulk-pop" else _deep_inputs(seed)
    for name, pdf in tabs.items():
        path = os.path.join(out, f"{name}.parquet")
        if not os.path.exists(path):
            write_parquet(pdf, path)
    return tabs


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    # Spark cannot read TIMESTAMP(NANOS) parquet: coerce ns -> us
    fields = [
        f.with_type(pa.timestamp("us", tz=f.type.tz))
        if pa.types.is_timestamp(f.type)
        else f
        for f in table.schema
    ]
    pq.write_table(table.cast(pa.schema(fields)), path)


def golden(workload: str, tabs: dict[str, pd.DataFrame]) -> dict:
    cfg = crawl_config(workload)
    res = run_oracle(
        tabs["pages"],
        tabs["seeds"],
        tabs["robots"],
        tabs["politeness"],
        tabs.get("fetch_failures"),
        cfg,
    )
    # the trace is (fetch_round, fetch_seq, url) of pages_out plus the host
    # of the url, so one digest over pages_out covers trace and text
    prefixes = {}
    for r in range(1, res.rounds_run + 1):
        prefixes[str(r)] = {
            "trace_text": table_digest(
                (p["fetch_round"], p["fetch_seq"], p["url"], p["text"])
                for p in res.pages_out
                if p["fetch_round"] <= r
            ),
            "seen": table_digest(
                (h, c, s) for h, (c, s) in res.seen.items() if s <= r
            ),
        }
    return {
        "rounds": {
            str(m["round"]): {k: m[k] for k in COUNTERS} for m in res.metrics
        },
        "prefixes": prefixes,
    }


def main() -> None:
    if sys.argv[1] == "--part":
        part, parts, seed = map(int, sys.argv[2:5])
        _bulk_part(part, parts, seed, sys.argv[5])
        return
    workload, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    os.makedirs(out, exist_ok=True)
    tabs = make_inputs(workload, seed, out)
    gold = golden(workload, tabs)
    tmp = os.path.join(out, ".golden.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(gold, fh)
    os.replace(tmp, os.path.join(out, "golden.json"))


if __name__ == "__main__":
    main()
