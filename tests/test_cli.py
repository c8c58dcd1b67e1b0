"""CLI entrypoint tests (python -m ethereum_raw_data_crawler_spark)."""

import json
import os
import shutil

from ethereum_raw_data_crawler_spark.__main__ import main
from ethereum_raw_data_crawler_spark.functions.urls import canonicalize_url, url_hash64
from ethereum_raw_data_crawler_spark.sources import synth


def test_cli_crawl_resume_status(spark, tmp_path, capsys):
    corpus = str(tmp_path / "corpus")
    synth.write_corpus(corpus, synth.T1)
    store = str(tmp_path / "store")

    rc = main(
        [
            "crawl",
            "--store", store,
            "--pages", os.path.join(corpus, "pages.parquet"),
            "--seeds", os.path.join(corpus, "seeds.parquet"),
            "--robots", os.path.join(corpus, "robots.parquet"),
            "--politeness", os.path.join(corpus, "politeness.parquet"),
            "--rounds", "2",
            "--batch-size", "100",
        ]
    )
    assert rc == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert [s["round"] for s in lines] == [1, 2]
    assert lines[0]["fetched"] > 0

    rc = main(["resume", "--store", store, "--rounds", "1"])
    assert rc == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert [s["round"] for s in lines] == [3]

    rc = main(["status", "--store", store])
    assert rc == 0
    status = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert status["round"] == 3
    assert status["totals"]["fetched"] == status["frontier"].get("fetched", 0)
    assert status["seen"] >= status["totals"]["fetched"]


def test_cli_crawl_without_dims_defaults(spark, tmp_path, capsys):
    """robots/politeness omitted -> allow-all + default budget."""
    corpus = str(tmp_path / "corpus")
    synth.write_corpus(corpus, synth.T1)
    rc = main(
        [
            "crawl",
            "--store", str(tmp_path / "store2"),
            "--pages", os.path.join(corpus, "pages.parquet"),
            "--seeds", os.path.join(corpus, "seeds.parquet"),
            "--rounds", "1",
        ]
    )
    assert rc == 0
    line = json.loads(capsys.readouterr().out.strip().splitlines()[0])
    assert line["fetched"] > 0
    # the allow-all robots dim has one row per host, so the seeds' case and
    # port variants of a host each enter the frontier once
    from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine

    frontier = CrawlEngine.resume(spark, str(tmp_path / "store2")).frontier()
    assert frontier.count() == frontier.select("url_canon").distinct().count()


def test_cli_hybrid_dispatch(spark, tmp_path, capsys):
    """`hybrid` drives realtime consumption of a pushed batch, then falls
    back to polling over the backlog when the stream dir goes quiet."""
    corpus = str(tmp_path / "corpus")
    synth.write_corpus(corpus, synth.T1)
    store = str(tmp_path / "storeh")
    rc = main(
        [
            "crawl",
            "--store", store,
            "--pages", os.path.join(corpus, "pages.parquet"),
            "--seeds", os.path.join(corpus, "seeds.parquet"),
            "--rounds", "1",
            "--batch-size", "20",
        ]
    )
    assert rc == 0
    capsys.readouterr()
    stream = str(tmp_path / "stream")
    os.makedirs(stream)
    with open(os.path.join(stream, "b0.json"), "w") as fh:
        fh.write(
            json.dumps(
                {"url": "https://host2.example/p/1", "priority": 0,
                 "event_ts": "2025-01-01T00:00:00Z"}
            )
            + "\n"
        )
    rc = main(["hybrid", "--store", store, "--stream-dir", stream, "--ticks", "2"])
    assert rc == 0
    log = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert [e["mode"] for e in log] == ["realtime", "polling"]
    assert all(e["rounds"] for e in log)


def test_cli_delete_health_egress(spark, tmp_path, capsys):
    corpus = str(tmp_path / "corpus")
    synth.write_corpus(corpus, synth.T1)
    store = str(tmp_path / "store3")
    egress = str(tmp_path / "egress3")
    rc = main(
        [
            "crawl",
            "--store", store,
            "--pages", os.path.join(corpus, "pages.parquet"),
            "--seeds", os.path.join(corpus, "seeds.parquet"),
            "--rounds", "1",
            "--egress-dir", egress,
        ]
    )
    assert rc == 0
    capsys.readouterr()
    assert os.path.exists(os.path.join(egress, "_round-1.done"))

    rc = main(["health", "--store", store])
    assert rc == 0
    rows = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert {r["component"] for r in rows} == {
        "store", "bloom", "fetch", "scheduler", "frontier"
    }

    # takedown one fetched page by exact url
    from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine
    from ethereum_raw_data_crawler_spark.schemas import PAGES_OUT

    eng = CrawlEngine.resume(spark, store)
    victim = eng.store.read(spark, "pages_out", PAGES_OUT).first()["url"]
    rc = main(["delete", "--store", store, "--where", f"url = '{victim}'"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["deleted"] == 1
    eng2 = CrawlEngine.resume(spark, store)
    urls = {r["url"] for r in eng2.store.read(spark, "pages_out", PAGES_OUT).collect()}
    assert victim not in urls


def test_cli_cuckoo_crawl_and_forget(spark, tmp_path, capsys):
    """The forget subcommand on a store crawled with the cuckoo seen filter
    (its config names ``cuckoo`` and it has no ``bloom/``): the seen row is
    deleted, the Bloom rebuilt from ``seen`` unlearns the key, and a
    re-discovery re-admits the URL."""
    corpus = str(tmp_path / "corpus")
    synth.write_corpus(corpus, synth.T1)
    store = str(tmp_path / "store_ck")
    rc = main(
        [
            "crawl",
            "--store", store,
            "--pages", os.path.join(corpus, "pages.parquet"),
            "--seeds", os.path.join(corpus, "seeds.parquet"),
            "--robots", os.path.join(corpus, "robots.parquet"),
            "--politeness", os.path.join(corpus, "politeness.parquet"),
            "--rounds", "2",
            "--batch-size", "100",
        ]
    )
    assert rc == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert lines[0]["fetched"] > 0
    shutil.rmtree(os.path.join(store, "bloom"))
    with open(os.path.join(store, "config.json")) as fh:
        saved = json.load(fh)
    saved["seen_filter"] = "cuckoo"
    with open(os.path.join(store, "config.json"), "w") as fh:
        json.dump(saved, fh)

    # pick a fetched URL out of the store and forget it via the CLI
    from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine
    from ethereum_raw_data_crawler_spark.schemas import PAGES_OUT

    eng = CrawlEngine.resume(spark, store)
    victim = (
        eng.store.read(spark, "pages_out", PAGES_OUT).select("url").first()["url"]
    )
    urls_file = str(tmp_path / "takedown.txt")
    with open(urls_file, "w") as fh:
        fh.write(victim + "\n")
    rc = main(["forget", "--store", store, "--urls", urls_file])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"forgotten": 1, "requested": 1}
    eng = CrawlEngine.resume(spark, store)
    key = url_hash64(canonicalize_url(victim))
    new_def, _ = eng._bloom.probe_split(
        spark.createDataFrame([(key,)], "url_hash long"), "url_hash", spark
    )
    assert new_def.count() == 1
    cands = spark.createDataFrame([(victim, 0)], "url string, priority int")
    assert eng.admit(cands, eng.store.round + 1)["discovered"] == 1
