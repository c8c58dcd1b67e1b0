"""Oracle-equivalence tests (SURVEY.md §5.2 items 1-2): the Spark engine's
crawl trace, seen set, extracted text, and final frontier state must match
the pure-Python reference scheduler EXACTLY under the same seed list and
politeness budget — the north_rule equality criteria."""

import pandas as pd
import pytest

from ethereum_raw_data_crawler_spark import gates
from ethereum_raw_data_crawler_spark.config import CrawlConfig
from ethereum_raw_data_crawler_spark.plans.oracle import run_oracle
from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine
from ethereum_raw_data_crawler_spark.schemas import PAGES_OUT


def _mk_engine(spark, tmp_path, tabs, cfg, politeness=None, failures="fixture", **kw):
    return CrawlEngine.create(
        spark,
        str(tmp_path / "store"),
        spark.createDataFrame(tabs["pages"]),
        spark.createDataFrame(tabs["seeds"]),
        spark.createDataFrame(tabs["robots"]),
        spark.createDataFrame(politeness if politeness is not None else tabs["politeness"]),
        spark.createDataFrame(tabs["fetch_failures"])
        if isinstance(failures, str) and failures == "fixture"
        else (spark.createDataFrame(failures) if failures is not None else None),
        cfg,
        **kw,
    )


def _engine_trace(eng):
    return [
        (r["round"], r["seq"], r["url_canon"], r["host"])
        for r in eng.read_trace().orderBy("round", "seq").collect()
    ]


def test_full_crawl_equivalence_relaxed_budget(spark, t1_tables, tmp_path):
    """Full frontier exhaustion at t1 with a relaxed politeness budget
    (fewer, larger rounds): trace + seen + per-url text bytes + final
    frontier all equal."""
    tabs = t1_tables
    relaxed = tabs["politeness"].copy()
    relaxed["budget_per_round"] = 50
    cfg = CrawlConfig(batch_size=400)
    res = run_oracle(
        tabs["pages"], tabs["seeds"], tabs["robots"], relaxed,
        tabs["fetch_failures"], cfg,
    )
    eng = _mk_engine(spark, tmp_path, tabs, cfg, politeness=relaxed)
    eng.run()

    assert _engine_trace(eng) == res.trace
    eseen = {
        (r["url_hash"], r["url_canon"], r["first_seen_round"])
        for r in eng.seen().collect()
    }
    assert eseen == {(h, c, rnd) for h, (c, rnd) in res.seen.items()}
    # byte-identical extracted text per url (input_hint per-row invariant)
    epages = {
        r["url"]: (r["text"].encode(), r["fetch_round"], r["fetch_seq"])
        for r in eng.store.read(spark, "pages_out", PAGES_OUT).collect()
    }
    opages = {
        p["url"]: (p["text"].encode(), p["fetch_round"], p["fetch_seq"])
        for p in res.pages_out
    }
    assert epages == opages
    efro = {
        r["url_canon"]: (r["status"], r["retry_count"], r["skip_until"])
        for r in eng.frontier().collect()
    }
    assert efro == {
        c: (r.status, r.retry_count, r.skip_until) for c, r in res.frontier.items()
    }


@pytest.fixture(params=["default", "all-large"])
def gate_side(request, monkeypatch, spark):
    """``all-large`` puts every crawl-path size gate on its large side
    (each ``gates.*_MAX`` -> 0). Size-based broadcast is off too, so the
    joins a gate leaves unhinted (the MOR delete join) really shuffle."""
    if request.param == "default":
        yield request.param
        return
    for name in dir(gates):
        if name.endswith("_MAX"):
            monkeypatch.setattr(gates, name, 0)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield request.param
    finally:
        spark.conf.set(key, prev)


def test_prefix_equivalence_fixture_politeness(spark, t1_tables, tmp_path, gate_side):
    """First 6 rounds under the FIXTURE politeness budgets (2 for hot
    hosts / 5 otherwise) + failure injection: trace prefix and per-round
    lineage counters equal — on the default side of every size gate and
    on the large side of all of them (range-sort pop, shuffled-hash fetch
    join, lazy hits, distributed fetch_seq numbering and delete keys,
    shuffled MOR delete join, bucket-aligned seen-filter probe)."""
    tabs = t1_tables
    cfg = CrawlConfig(batch_size=50)
    res = run_oracle(
        tabs["pages"], tabs["seeds"], tabs["robots"], tabs["politeness"],
        tabs["fetch_failures"], cfg,
    )
    # compact_every=2: MOR compaction must be equality-invariant mid-crawl
    eng = _mk_engine(spark, tmp_path, tabs, cfg, compact_every=2)
    stats = eng.run(max_rounds=6)
    otrace = [t for t in res.trace if t[0] <= 6]
    assert _engine_trace(eng) == otrace
    om = {m["round"]: m for m in res.metrics}
    for s in stats:
        for k in ("popped", "fetched", "errors", "discovered", "deduped",
                  "robots_filtered"):
            assert s[k] == om[s["round"]][k], (s["round"], k, s, om[s["round"]])
    # the error-only branches (fetch_seq numbering, failed backoff) ran
    assert any(s["errors"] for s in stats)
    want_probe = "aligned" if gate_side == "all-large" else "broadcast"
    assert eng._bloom.last_probe_mode == want_probe


def test_retry_skip_equivalence(spark, t1_tables, tmp_path):
    """The failedBlocks/skippedBlocks machine (reference:
    scheduler_service.go:324-357): a URL failing attempts 1-3 must skip
    then recover identically in both paths."""
    tabs = t1_tables
    seeds = pd.DataFrame(
        {"url": ["https://host9.example/p/0", "https://host10.example/p/0"],
         "priority": [0, 0]}
    ).astype({"priority": "int32"})
    failures = pd.DataFrame(
        {"url_canon": ["https://host9.example/p/0"], "fail_attempts": [[1, 2, 3]]}
    )
    cfg = CrawlConfig(batch_size=5, max_retries=3, skip_rounds=2, priority_cap=0)
    tabs = dict(tabs, seeds=seeds)
    res = run_oracle(
        tabs["pages"], seeds, tabs["robots"], tabs["politeness"], failures, cfg
    )
    eng = _mk_engine(spark, tmp_path, tabs, cfg, failures=failures)
    eng.run()
    assert _engine_trace(eng) == res.trace
    efro = {
        r["url_canon"]: (r["status"], r["retry_count"], r["skip_until"])
        for r in eng.frontier().collect()
    }
    assert efro == {
        c: (r.status, r.retry_count, r.skip_until) for c, r in res.frontier.items()
    }
    # the injected URL really did fail 3x, skip, then recover in round 5
    assert efro["https://host9.example/p/0"] == ("fetched", 3, 5)


def test_error_class_backoff_equivalence(spark, t1_tables, tmp_path):
    """Per-error-class backoff (reference: isRetryableError + class
    schedules, ethereum_service.go:100-124,594-624): rate_limit backs off
    quadratically per failure, non_retryable dies immediately, the default
    class keeps the linear machine — all three in ONE crawl, Spark
    trace/frontier equal to the oracle."""
    tabs = t1_tables
    seeds = pd.DataFrame(
        {
            "url": [
                "https://host7.example/p/0",
                "https://host8.example/p/0",
                "https://host9.example/p/0",
                "https://host10.example/p/0",
            ],
            "priority": [0, 0, 0, 0],
        }
    ).astype({"priority": "int32"})
    failures = pd.DataFrame(
        {
            "url_canon": [
                "https://host8.example/p/0",
                "https://host9.example/p/0",
                "https://host10.example/p/0",
            ],
            "fail_attempts": [[1, 2, 3], [1, 2], [1]],
            "error_class": [None, "rate_limit", "non_retryable"],
        }
    )
    cfg = CrawlConfig(batch_size=5, max_retries=3, skip_rounds=2, priority_cap=0)
    tabs = dict(tabs, seeds=seeds)
    res = run_oracle(
        tabs["pages"], seeds, tabs["robots"], tabs["politeness"], failures, cfg
    )
    eng = _mk_engine(spark, tmp_path, tabs, cfg, failures=failures)
    eng.run()
    assert _engine_trace(eng) == res.trace
    efro = {
        r["url_canon"]: (r["status"], r["retry_count"], r["skip_until"])
        for r in eng.frontier().collect()
    }
    assert efro == {
        c: (r.status, r.retry_count, r.skip_until) for c, r in res.frontier.items()
    }
    # the schedules really diverged:
    # default: fail r1,r2,r3 -> skip to 5 -> fetched r5 with rc=3
    assert efro["https://host8.example/p/0"] == ("fetched", 3, 5)
    # rate_limit: fail r1 (skip->2), fail r2 (skip->6) -> fetched r6, rc=2
    assert efro["https://host9.example/p/0"] == ("fetched", 2, 6)
    # non_retryable: one failure, dead immediately (no retry budget burned)
    assert efro["https://host10.example/p/0"] == ("failed", 1, None)


def test_resume_from_snapshot(spark, t1_tables, tmp_path):
    """Kill-between-rounds resume (reference: initializeStartingBlock,
    crawler_service.go:199-226): run 3 rounds, reopen the store from disk,
    finish the crawl — identical final state to an uninterrupted run."""
    tabs = t1_tables
    relaxed = tabs["politeness"].copy()
    relaxed["budget_per_round"] = 50
    cfg = CrawlConfig(batch_size=400)
    res = run_oracle(
        tabs["pages"], tabs["seeds"], tabs["robots"], relaxed,
        tabs["fetch_failures"], cfg,
    )
    eng = _mk_engine(spark, tmp_path, tabs, cfg, politeness=relaxed)
    eng.run(max_rounds=2)
    del eng  # "crash": only the committed snapshots survive

    resumed = CrawlEngine.resume(spark, str(tmp_path / "store"))
    assert resumed.store.round == 2
    resumed.run()
    assert _engine_trace(resumed) == res.trace
    eseen = {r["url_hash"] for r in resumed.seen().collect()}
    assert eseen == set(res.seen)


def test_resume_rebuilds_bloom_from_seen(spark, t1_tables, tmp_path):
    """Resume with the persisted Bloom bitmaps deleted must rebuild from
    the seen table (a Spark job) and stay exactly equivalent (the
    prefilter is correctness-neutral by construction)."""
    import glob
    import os
    import shutil

    tabs = t1_tables
    relaxed = tabs["politeness"].copy()
    relaxed["budget_per_round"] = 50
    cfg = CrawlConfig(batch_size=400)
    res = run_oracle(
        tabs["pages"], tabs["seeds"], tabs["robots"], relaxed,
        tabs["fetch_failures"], cfg,
    )
    eng = _mk_engine(spark, tmp_path, tabs, cfg, politeness=relaxed)
    eng.run(max_rounds=2)
    del eng
    for f in glob.glob(str(tmp_path / "store" / "bloom-*.npz")):
        os.remove(f)
    shutil.rmtree(tmp_path / "store" / "bloom", ignore_errors=True)
    resumed = CrawlEngine.resume(spark, str(tmp_path / "store"))
    resumed.run()
    assert _engine_trace(resumed) == res.trace


def test_determinism_across_parallelism(spark, t1_tables, tmp_path):
    """local[8] (session fixture) vs local[2]-equivalent shuffle width:
    same trace (SURVEY.md §7 known-hard #1). Parallelism is varied via
    shuffle partitions + input repartition rather than restarting the JVM."""
    tabs = t1_tables
    relaxed = tabs["politeness"].copy()
    relaxed["budget_per_round"] = 50
    cfg = CrawlConfig(batch_size=400)
    traces = []
    for i, width in enumerate((2, 8)):
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
        try:
            eng = CrawlEngine.create(
                spark,
                str(tmp_path / f"store{i}"),
                spark.createDataFrame(tabs["pages"]).repartition(width),
                spark.createDataFrame(tabs["seeds"]).repartition(width),
                spark.createDataFrame(tabs["robots"]),
                spark.createDataFrame(relaxed),
                spark.createDataFrame(tabs["fetch_failures"]),
                cfg,
            )
            eng.run(max_rounds=3)
            traces.append(_engine_trace(eng))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "8")
    assert traces[0] == traces[1]
    assert len(traces[0]) > 0
