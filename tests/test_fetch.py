"""The fetch's edge semantics: what a popped row becomes when its URL is in
the corpus, absent from it, listed as failing, or stored twice, and what
an empty pop reads. The oracle-equivalence suites compare the crawl order
and the extracted text; these pin the corpus columns and failure classes
that ``pages_out`` and the frontier's backoff carry."""

import dataclasses

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ethereum_raw_data_crawler_spark.config import CrawlConfig
from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine
from ethereum_raw_data_crawler_spark.schemas import PAGES_OUT

A1, A2, A3 = (f"https://a.example/p/{i}" for i in (1, 2, 3))
B1 = "https://b.example/p/1"  # in the corpus, listed as failing
MISSING = "https://c.example/missing"  # absent, listed as failing
GONE = "https://c.example/gone"  # absent, not listed


def _ts(s: str) -> pd.Timestamp:
    return pd.Timestamp(s, tz="UTC")


#: A3 is stored twice; timestamps carry microseconds, which Spark's
#: INT96 parquet encoding must bring back unchanged
PAGES = pd.DataFrame(
    [
        (A1, _ts("2025-01-02 03:04:05.123456"), b"<p>one <a href='/p/9'>x</a></p>", "en"),
        (A2, _ts("2024-12-31 23:59:59.000001"), b"<p>two</p>", "de"),
        (A3, _ts("2025-02-01 00:00:00"), b"<p>three, first copy</p>", "fr"),
        (A3, _ts("2025-02-02 00:00:00"), b"<p>three, second copy</p>", "it"),
        (B1, _ts("2025-03-01 12:00:00"), b"<p>b one</p>", "en"),
    ],
    columns=["url", "warc_ts", "html", "lang"],
)
FAILURES = pd.DataFrame(
    {
        "url_canon": [B1, MISSING],
        "fail_attempts": [[1], [1]],
        "error_class": ["non_retryable", "rate_limit"],
    }
)


@pytest.fixture
def eng(spark, tmp_path):
    seeds = pd.DataFrame({"url": [A1, A2, A3, B1, MISSING, GONE], "priority": 0})
    hosts = ["a.example", "b.example", "c.example"]
    return CrawlEngine.create(
        spark,
        str(tmp_path / "store"),
        spark.createDataFrame(PAGES),
        spark.createDataFrame(seeds).withColumn("priority", F.col("priority").cast("int")),
        spark.createDataFrame(
            pd.DataFrame({"host": hosts, "allowed": True, "disallow_prefix": None}),
            "host string, allowed boolean, disallow_prefix string",
        ),
        spark.createDataFrame(
            pd.DataFrame({"host": hosts, "budget_per_round": 10}),
            "host string, budget_per_round int",
        ),
        spark.createDataFrame(FAILURES),
        CrawlConfig(batch_size=50),
        n_buckets=4,
    )


def _corpus_rows(url: str) -> list[tuple]:
    rows = PAGES[PAGES["url"] == url]
    return sorted(
        (ts.value // 1000, html, lang)
        for ts, html, lang in zip(rows["warc_ts"], rows["html"], rows["lang"])
    )


def test_fetch_edges_match_the_corpus_join(eng):
    pop = eng._pop(1)
    assert pop.n == 6
    fetch = eng._fetch(pop)
    fetched: dict[str, list] = {}
    for r in fetch.fetched.select(
        "url_canon", F.unix_micros("warc_ts").alias("us"), "html", "lang"
    ).collect():
        fetched.setdefault(r["url_canon"], []).append((r["us"], bytes(r["html"]), r["lang"]))
    # a url stored twice fetches once per copy, as an inner join does
    assert {u: sorted(v) for u, v in fetched.items()} == {
        u: _corpus_rows(u) for u in (A1, A2, A3)
    }
    assert fetch.n_fetched == 4
    failed = {r["url_canon"]: r["error_class"] for r in fetch.failed.collect()}
    # a listed failure in the corpus keeps its class; a miss has none, even
    # when fetch_failures lists it
    assert failed == {B1: "non_retryable", MISSING: None, GONE: None}
    eng._drain_scratch()


def test_pages_out_carries_the_corpus_columns(spark, eng):
    eng.run_round(1)
    out = eng.store.read(spark, "pages_out", PAGES_OUT)
    got: dict[str, list] = {}
    for r in out.select("url", F.unix_micros("warc_ts").alias("us"), "html", "lang").collect():
        got.setdefault(r["url"], []).append((r["us"], bytes(r["html"]), r["lang"]))
    assert {u: sorted(v) for u, v in got.items()} == {
        u: _corpus_rows(u) for u in (A1, A2, A3)
    }


def test_empty_pop_reads_no_file(eng):
    """An empty pop runs the fetch plan over no rows: with every corpus
    file deleted, it still fetches nothing and fails nothing."""
    import os

    for paths in eng.store.partition_files("corpus").values():
        for path in paths:
            os.remove(path)
    pop = eng._pop(1)
    empty = dataclasses.replace(pop, rows=pop.rows.limit(0), n=0, keys=pop.keys.iloc[:0])
    fetch = eng._fetch(empty)
    assert (fetch.n_fetched, fetch.n_errors) == (0, 0)
    assert fetch.fetched.count() == 0 and fetch.failed.count() == 0
    assert "MapInArrow" in fetch.fetched._jdf.queryExecution().executedPlan().toString()
    eng._drain_scratch()


def test_fetch_buckets_joins_hits_in_bounded_batches(spark, tmp_path):
    """The Python side alone, with a batch bound of 2 rows: every popped
    row comes out once per corpus copy (or once as a miss), in batches of
    at most 2, and only found, unfailed rows are parsed."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from ethereum_raw_data_crawler_spark.functions.extract import extract_page
    from ethereum_raw_data_crawler_spark.functions.spark_udfs import (
        FETCH_ADDS,
        fetch_buckets,
    )

    urls = [f"https://a.example/p/{i}" for i in range(6)]
    stored = {0: urls[:4] + [urls[1]], 1: urls[4:]}  # urls[1] twice
    files = {}
    for b, us in stored.items():
        path = str(tmp_path / f"bucket={b}.parquet")
        pq.write_table(
            pa.table(
                {
                    "url_canon": us,
                    "warc_ts": pa.array([1_700_000_000_000_000] * len(us), pa.timestamp("us")),
                    "html": [f"<p>{u}</p>".encode() for u in us],
                    "lang": ["en"] * len(us),
                }
            ),
            path,
            use_deprecated_int96_timestamps=True,  # as Spark writes them
        )
        files[str(b)] = [path]
    missing = "https://a.example/missing"
    popped = pa.table(
        {
            "url_canon": urls + [missing],
            "url_hash": [0, 0, 0, 0, 1, 1, 3],  # pmod 2: buckets 0, 0, ..., 1
            "fetch_failed": [False, False, True, False, False, False, False],
        }
    )
    spark_schema = T.StructType(
        [
            T.StructField("url_canon", T.StringType()),
            T.StructField("url_hash", T.LongType()),
            T.StructField("fetch_failed", T.BooleanType()),
        ]
        + T.StructType.fromDDL(FETCH_ADDS).fields
    )
    schema = to_arrow_schema(spark_schema)
    out = list(fetch_buckets(iter(popped.to_batches(3)), files, 2, schema, 2))
    assert all(b.num_rows <= 2 and b.schema == schema for b in out)
    rows = pa.Table.from_batches(out).to_pylist()
    assert sorted(r["url_canon"] for r in rows) == sorted(urls + [urls[1], missing])
    for r in rows:
        found = r["url_canon"] != missing
        assert r["found"] == found
        if not found or r["fetch_failed"]:
            assert r["ext"] is None
        else:
            text, links = extract_page(r["html"], r["url_canon"])
            assert r["ext"] == {"text": text, "links": links}
        if found:
            assert r["warc_ts"].timestamp() == 1_700_000_000
