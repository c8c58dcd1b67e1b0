"""Tests of the benchmark's own machinery on a t1-sized crawl.

    python3 -m pytest perfbench -q

Run on their own: the session they start must own the event log.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import crawl  # noqa: E402
import eventlog  # noqa: E402
import golden  # noqa: E402
import layers  # noqa: E402
from procstat import Sampler  # noqa: E402


def _declared() -> dict[str, dict[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {
        kind: {m["name"]: m["unit"] for m in bench[kind]}
        for kind in ("end_to_end", "per_layer")
    }


@pytest.fixture(scope="module")
def t1_run(tmp_path_factory):
    """A deep-crawl leg on the t1 corpus, traced, with the
    Spark event log on; the session is stopped so the log is complete."""
    from ethereum_raw_data_crawler_spark.session import get_spark
    from ethereum_raw_data_crawler_spark.sources import synth

    from run import stop_spark

    tmp = tmp_path_factory.mktemp("t1")
    os.environ.setdefault("SPARK_LOCAL_DIRS", str(tmp / "spark-local"))
    inputs, events = tmp / "inputs", tmp / "events"
    inputs.mkdir()
    events.mkdir()
    tabs = synth.gen_all(synth.T1, 3)
    tabs["politeness"]["budget_per_round"] *= golden.DEEP_POLITENESS_X
    for name, pdf in tabs.items():
        golden.write_parquet(pdf, str(inputs / f"{name}.parquet"))
    gold = golden.golden("deep-crawl", tabs)

    with Sampler(0.05) as sampler:
        spark = get_spark(
            cores=2,
            app_name="perfbench-test",
            extra={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{events}",
                "spark.eventLog.compress": "false",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        tracer = crawl.Tracer(spark)
        tracer.install()
        try:
            run = crawl.run(
                spark, "deep-crawl", str(inputs), gold, str(tmp / "work"), 0, tracer
            )
        finally:
            tracer.uninstall()
            stop_spark(spark)
    return run, sampler, str(events)


def test_t1_leg_matches_oracle(t1_run):
    run, _sampler, _events = t1_run
    assert run.attempted == golden.DEEP_ROUNDS
    assert run.failed == 0
    assert [r.rnd for r in run.rounds] == list(range(1, golden.DEEP_ROUNDS + 1))


def test_every_job_lands_in_exactly_one_phase(t1_run):
    run, _sampler, events = t1_run
    jobs = eventlog.read_jobs(events)
    assert jobs, "event log holds no jobs"
    claimed: dict[int, str] = {}
    for r in run.rounds:
        intervals = r.intervals()
        # phases tile the round: contiguous, inside it, and sum to its wall
        assert intervals[0][1] == r.t0
        assert all(a[2] == b[1] for a, b in zip(intervals, intervals[1:]))
        assert intervals[-1][2] <= r.t1 + 1e-3
        total = sum(b - a for _n, a, b in intervals) + r.unattributed_s()
        assert total == pytest.approx(r.wall_s)
        by_phase = eventlog.attribute(jobs, intervals, exclude_description=crawl.PROBE)
        for phase, js in by_phase.items():
            if phase in ("outside", "excluded"):
                continue
            for j in js:
                assert j.job_id not in claimed, (j.job_id, claimed[j.job_id], phase)
                claimed[j.job_id] = f"r{r.rnd}:{phase}"
    inside_rounds = [
        j
        for j in jobs
        if j.description != crawl.PROBE
        and any(r.t0 <= j.submit_ms / 1e3 < r.t1 for r in run.rounds)
    ]
    assert inside_rounds
    # every non-probe job submitted during a round is owned by one phase
    assert {j.job_id for j in inside_rounds} == set(claimed)
    # the tracer's own counting jobs ran and were kept out
    assert any(j.description == crawl.PROBE for j in jobs)


def test_printed_metrics_are_declared(t1_run):
    run, sampler, events = t1_run
    declared = _declared()
    per_layer = layers.per_layer(run, 1.0, sampler, events, 1.0)
    assert set(per_layer) == set(declared["per_layer"])
    e2e = crawl.end_to_end(run, 1.0, sampler.peak_rss)
    assert set(e2e) == set(declared["end_to_end"])
    units = layers.units()
    for kind in declared.values():
        for name, unit in kind.items():
            assert units[name] == unit, name
    assert all(v > 0 for v in e2e.values())
    assert per_layer["rounds.jobs"] > 0
    assert per_layer["fetch.python_sent_mb"] > 0
    assert per_layer["seen.candidates"] > 0


def test_digest_twins_agree():
    """The Spark-side digest equals the oracle-side one on the same rows."""
    from ethereum_raw_data_crawler_spark.session import get_spark

    rows = [(1, 0, "https://a.example/", "a.example"), (1, 1, "https://b.example/é", "")]
    spark = get_spark(cores=1, app_name="perfbench-digest")
    df = spark.createDataFrame(rows, "round int, seq long, url_canon string, host string")
    assert crawl.digest(df, ["round", "seq", "url_canon", "host"]) == golden.table_digest(rows)
