"""Publish-after-commit egress: per-page events appear only for committed
rounds, match pages_out exactly, and redeliver after a crash between
commit and publish (at-least-once — reference: NATS publish-after-save,
nats_client.go:165-263, crawler_service.go:592-607)."""

import os

from ethereum_raw_data_crawler_spark.config import CrawlConfig
from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine
from ethereum_raw_data_crawler_spark.schemas import PAGES_OUT
from ethereum_raw_data_crawler_spark.sources.egress import EgressWriter


def _mk(spark, tabs, tmp_path, **kw):
    relaxed = tabs["politeness"].copy()
    relaxed["budget_per_round"] = 50
    return CrawlEngine.create(
        spark,
        str(tmp_path / "store"),
        spark.createDataFrame(tabs["pages"]),
        spark.createDataFrame(tabs["seeds"]),
        spark.createDataFrame(tabs["robots"]),
        spark.createDataFrame(relaxed),
        spark.createDataFrame(tabs["fetch_failures"]),
        CrawlConfig(batch_size=400),
        **kw,
    )


def test_events_match_pages_and_ordering(spark, t1_tables, tmp_path):
    egress = str(tmp_path / "egress")
    eng = _mk(spark, t1_tables, tmp_path, egress_dir=egress)
    eng.run(max_rounds=2)
    ev = {
        (r["url"], r["fetch_round"], r["fetch_seq"])
        for r in eng._egress.read_events(spark).collect()
    }
    pg = {
        (r["url"], r["fetch_round"], r["fetch_seq"])
        for r in eng.store.read(spark, "pages_out", PAGES_OUT).collect()
    }
    assert ev == pg and len(ev) > 0
    # markers exist for every committed round
    assert eng._egress.emitted(1) and eng._egress.emitted(2)


def test_crash_between_commit_and_publish_redelivers(spark, t1_tables, tmp_path):
    egress = str(tmp_path / "egress")
    eng = _mk(spark, t1_tables, tmp_path, egress_dir=egress)
    eng.run(max_rounds=2)
    # simulate a crash after round 2's commit but before its publish
    os.remove(os.path.join(egress, "_round-2.done"))
    import shutil

    shutil.rmtree(os.path.join(egress, "round-2"))
    del eng
    resumed = CrawlEngine.resume(spark, str(tmp_path / "store"))
    assert resumed._egress.emitted(2)  # catch_up re-published it
    ev = {
        (r["url"], r["fetch_round"], r["fetch_seq"])
        for r in resumed._egress.read_events(spark).collect()
    }
    pg = {
        (r["url"], r["fetch_round"], r["fetch_seq"])
        for r in resumed.store.read(spark, "pages_out", PAGES_OUT).collect()
    }
    assert ev == pg


def test_uncommitted_rounds_never_published(spark, t1_tables, tmp_path):
    """The writer derives events from the committed manifest only: a round
    staged but not committed is invisible to it."""
    egress = str(tmp_path / "egress")
    eng = _mk(spark, t1_tables, tmp_path, egress_dir=egress)
    eng.run(max_rounds=1)
    w = EgressWriter(egress)
    rounds = {f["seq"] for f in eng.store.manifest()["tables"]["pages_out"]["fragments"]}
    assert rounds == {1}
    evr = {r["fetch_round"] for r in w.read_events(spark).collect()}
    assert evr == {1}


def test_stream_consumer_tails_events(spark, t1_tables, tmp_path):
    egress = str(tmp_path / "egress")
    eng = _mk(spark, t1_tables, tmp_path, egress_dir=egress)
    eng.run(max_rounds=1)
    out = []
    q = (
        eng._egress.read_stream(spark)
        .writeStream.foreachBatch(lambda df, eid: out.append(df.count()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sum(out) == eng.store.read(spark, "pages_out", PAGES_OUT).count()


def test_emit_round_count_matches_rows_one_job(spark, t1_tables, tmp_path):
    """emit_round's return value comes from the fragment footers (no
    second projection job) and must equal the actual event rows; a
    re-emit (redelivery) is idempotent for a consumer that dedups on the
    (fetch_round, fetch_seq) key — the at-least-once contract."""
    egress = str(tmp_path / "egress")
    eng = _mk(spark, t1_tables, tmp_path, egress_dir=egress)
    eng.run(max_rounds=2)
    w = eng._egress
    n = w.emit_round(spark, eng.store, 2)  # redeliver round 2
    ev = w.read_events(spark)
    assert n == ev.where("fetch_round = 2").count()
    # consumer-side idempotence: after redelivery, the keyed event set is
    # unchanged and (fetch_round, fetch_seq) is still unique
    keyed = ev.groupBy("fetch_round", "fetch_seq").count()
    assert keyed.where("count > 1").count() == 0
    pg = {
        (r["fetch_round"], r["fetch_seq"])
        for r in eng.store.read(spark, "pages_out", PAGES_OUT).collect()
    }
    got = {(r["fetch_round"], r["fetch_seq"]) for r in ev.collect()}
    assert got == pg
