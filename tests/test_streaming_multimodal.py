"""Streaming ingest mode + multimodal plumbing tests."""

import json
import os

import pandas as pd
import pytest

from ethereum_raw_data_crawler_spark.config import CrawlConfig
from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine


def test_streaming_ingest_pushes_seeds_and_crawls(spark, t1_tables, tmp_path):
    """Pushed URLs flow through the same pipeline as batch seeds; dupes
    in the stream collapse via the seen-set (reference: websocket push ->
    shared processBlock; NATS MsgId dedup window)."""
    from ethereum_raw_data_crawler_spark.streaming.realtime import (
        run_streaming_ingest,
    )

    tabs = t1_tables
    relaxed = tabs["politeness"].copy()
    relaxed["budget_per_round"] = 50
    eng = CrawlEngine.create(
        spark,
        str(tmp_path / "store"),
        spark.createDataFrame(tabs["pages"]),
        spark.createDataFrame(
            pd.DataFrame({"url": ["https://host1.example/p/0"], "priority": [0]})
        ),
        spark.createDataFrame(tabs["robots"]),
        spark.createDataFrame(relaxed),
        None,
        CrawlConfig(batch_size=100, priority_cap=0),  # no outlink expansion
    )
    eng.run(max_rounds=1)
    base_seen = {r["url_canon"] for r in eng.seen().collect()}

    stream_dir = str(tmp_path / "stream")
    os.makedirs(stream_dir)
    batch = [
        {"url": "https://host2.example/p/0", "priority": 0,
         "event_ts": "2025-01-01T00:00:00Z"},
        {"url": "HTTPS://host2.example/p/0", "priority": 0,  # dup variant
         "event_ts": "2025-01-01T00:00:01Z"},
        {"url": "https://host3.example/p/0", "priority": 0,
         "event_ts": "2025-01-01T00:00:02Z"},
        {"url": "https://host1.example/p/0", "priority": 0,  # already seen
         "event_ts": "2025-01-01T00:00:03Z"},
    ]
    with open(os.path.join(stream_dir, "batch1.json"), "w") as fh:
        for row in batch:
            fh.write(json.dumps(row) + "\n")

    stats = run_streaming_ingest(spark, eng, stream_dir, rounds_per_batch=2)
    assert stats and stats[0]["fetched"] >= 2
    seen = {r["url_canon"] for r in eng.seen().collect()}
    new = seen - base_seen
    assert new == {"https://host2.example/p/0", "https://host3.example/p/0"}
    trace_urls = {r["url_canon"] for r in eng.read_trace().collect()}
    assert "https://host2.example/p/0" in trace_urls
    assert "https://host3.example/p/0" in trace_urls


def test_hybrid_dispatch_falls_back_and_recovers(spark, t1_tables, tmp_path):
    """Hybrid mode arbitration (reference: scheduler_service.go:112-133,
    199-263): realtime while pushes arrive, polling fallback over the
    frontier backlog when the push source stalls, realtime again on
    recovery — with no replayed and no lost pushes across transitions."""
    from ethereum_raw_data_crawler_spark.streaming.realtime import run_hybrid

    tabs = t1_tables
    relaxed = tabs["politeness"].copy()
    relaxed["budget_per_round"] = 50
    # two batch seeds = polling backlog (batch_size=1 keeps one pending)
    eng = CrawlEngine.create(
        spark,
        str(tmp_path / "store"),
        spark.createDataFrame(tabs["pages"]),
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "url": [
                        "https://host1.example/p/0",
                        "https://host1.example/p/1",
                    ],
                    "priority": [0, 0],
                }
            )
        ),
        spark.createDataFrame(tabs["robots"]),
        spark.createDataFrame(relaxed),
        None,
        # batch_size=2: the tick-0 realtime round drains both host1 seeds
        # (they sort before the pushed host2 URL), leaving the push as the
        # tick-1 polling backlog
        CrawlConfig(batch_size=2, priority_cap=0),  # no outlink expansion
    )
    stream_dir = str(tmp_path / "stream")
    os.makedirs(stream_dir)

    def push(name: str, url: str) -> None:
        with open(os.path.join(stream_dir, name), "w") as fh:
            fh.write(
                json.dumps(
                    {"url": url, "priority": 0,
                     "event_ts": "2025-01-01T00:00:00Z"}
                )
                + "\n"
            )

    def on_tick(t: int) -> None:
        if t == 0:
            push("b0.json", "https://host2.example/p/0")
        elif t == 2:  # source recovers after the tick-1 stall
            push("b2.json", "https://host3.example/p/0")

    log = run_hybrid(spark, eng, stream_dir, ticks=3, on_tick=on_tick)
    assert [e["mode"] for e in log] == ["realtime", "polling", "realtime"]
    # rounds are contiguous across mode switches (one shared machine)
    rounds = [r for e in log for r in e["rounds"]]
    assert rounds == sorted(rounds) and len(set(rounds)) == len(rounds)
    # every push was crawled exactly once; the polling tick drained backlog
    trace = [
        (r["round"], r["url_canon"]) for r in eng.read_trace().collect()
    ]
    urls = [u for _, u in trace]
    assert urls.count("https://host2.example/p/0") == 1
    assert urls.count("https://host3.example/p/0") == 1
    assert len(urls) == len(set(urls))


def test_hybrid_backoff_tick_expires_skip_windows(spark, t1_tables, tmp_path):
    """A tick where every pending row is skip-blocked must not report
    'polling' for an empty round — but it MUST still commit a round,
    because rounds are the logical clock that expires skip_until. The
    dispatch log calls these ticks out as mode 'backoff'; once the window
    expires, polling resumes and the retry succeeds."""
    from ethereum_raw_data_crawler_spark.streaming.realtime import run_hybrid

    tabs = t1_tables
    relaxed = tabs["politeness"].copy()
    relaxed["budget_per_round"] = 50
    failures = pd.DataFrame(
        {
            "url_canon": ["https://host1.example/p/0"],
            "fail_attempts": [[1]],  # attempt 1 fails, attempt 2 succeeds
            "error_class": [None],
        }
    )
    eng = CrawlEngine.create(
        spark,
        str(tmp_path / "store"),
        spark.createDataFrame(tabs["pages"]),
        spark.createDataFrame(
            pd.DataFrame({"url": ["https://host1.example/p/0"], "priority": [0]})
        ),
        spark.createDataFrame(tabs["robots"]),
        spark.createDataFrame(relaxed),
        spark.createDataFrame(failures),
        # max_retries=1: the single failure opens a skip window
        # [round+1, round+skip_rounds] immediately
        CrawlConfig(batch_size=10, priority_cap=0, max_retries=1, skip_rounds=2),
    )
    eng.run(max_rounds=1)  # round 1: pop -> fail -> skip_until = 3
    stream_dir = str(tmp_path / "stream")
    os.makedirs(stream_dir)
    log = run_hybrid(spark, eng, stream_dir, ticks=3)
    assert [e["mode"] for e in log] == ["backoff", "polling", "idle"]
    # the backoff tick advanced the round clock without claiming work
    assert log[0]["rounds"] == [2] and log[1]["rounds"] == [3]
    trace = [r["url_canon"] for r in eng.read_trace().collect()]
    assert trace == ["https://host1.example/p/0"]  # retried exactly once


def test_multimodal_feature_plumbing(spark):
    from ethereum_raw_data_crawler_spark.functions.multimodal import (
        FEATURE_DIM,
        decode_media,
        extract_media_features,
        gen_media,
    )

    pdf = gen_media(100)
    media = spark.createDataFrame(pdf)
    feats = extract_media_features(media).collect()
    assert len(feats) == 100
    by_id = {r["media_id"]: r for r in feats}
    for _, row in pdf.iterrows():
        r = by_id[row["media_id"]]
        assert r["n_bytes"] == len(row["payload"])
        assert len(r["features"]) == FEATURE_DIM
        # deterministic: distributed result equals the pure function
        want = decode_media(row["payload"], row["kind"])
        assert [round(float(x), 6) for x in r["features"]] == [
            round(float(x), 6) for x in want
        ]
    # the real-decoder hook is an explicit stub
    with pytest.raises(NotImplementedError):
        decode_media(b"xx", "image", fake=False)
