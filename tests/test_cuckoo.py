"""Stores created with the cuckoo seen filter, which the engine no longer
builds (``"seen_filter": "cuckoo"`` in their ``config.json``, a
``cuckoo/`` directory and no ``bloom/`` meta): resume ignores the key and
rebuilds the Bloom from ``seen``."""

import json
import shutil

from ethereum_raw_data_crawler_spark.config import CrawlConfig
from ethereum_raw_data_crawler_spark.plans.oracle import run_oracle
from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine


def as_cuckoo_store(root):
    """Rewrite the store at ``root`` into a cuckoo store's on-disk shape."""
    shutil.rmtree(root / "bloom")
    (root / "cuckoo").mkdir()  # the old kernel's directory is never read
    saved = json.loads((root / "config.json").read_text())
    saved["seen_filter"] = "cuckoo"
    (root / "config.json").write_text(json.dumps(saved))


def test_engine_cuckoo_trace_equals_oracle(spark, t1_tables, tmp_path):
    """Resume of a cuckoo store rebuilds the Bloom from ``seen``, and the
    rest of the crawl's trace and seen set equal the oracle's."""
    tabs = t1_tables
    relaxed = tabs["politeness"].copy()
    relaxed["budget_per_round"] = 50
    cfg = CrawlConfig(batch_size=400)
    res = run_oracle(
        tabs["pages"], tabs["seeds"], tabs["robots"], relaxed,
        tabs["fetch_failures"], cfg,
    )
    root = tmp_path / "store"
    CrawlEngine.create(
        spark,
        str(root),
        spark.createDataFrame(tabs["pages"]),
        spark.createDataFrame(tabs["seeds"]),
        spark.createDataFrame(tabs["robots"]),
        spark.createDataFrame(relaxed),
        spark.createDataFrame(tabs["fetch_failures"]),
        cfg,
    ).run(max_rounds=2)
    as_cuckoo_store(root)

    resumed = CrawlEngine.resume(spark, str(root))
    seen = resumed.seen()
    assert resumed._bloom.round == resumed.store.round == 2
    assert resumed._bloom.n_added_total == seen.count() > 0
    new_def, _ = resumed._bloom.probe_split(seen.select("url_hash"), "url_hash", spark)
    assert new_def.count() == 0
    resumed.run()
    trace = [
        (r["round"], r["seq"], r["url_canon"], r["host"])
        for r in resumed.read_trace().orderBy("round", "seq").collect()
    ]
    assert trace == res.trace
    eseen = {
        (r["url_hash"], r["url_canon"], r["first_seen_round"])
        for r in resumed.seen().collect()
    }
    assert eseen == {(h, c, rnd) for h, (c, rnd) in res.seen.items()}
