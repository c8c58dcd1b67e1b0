"""Drive the crawl engine through its public API for one benchmark run.

A run is a sequence of legs. A leg gets a fresh store at round 0, runs
``run_round`` for rounds 1..R (each timed outside the engine, so commit,
egress and compaction are inside the wall), then checks the store
against the oracle digests. Legs repeat until ``seconds`` have passed
since the first round started.

- bulk-pop: ``CrawlEngine.create`` once; every leg resumes a byte copy of
  that round-0 store and runs the one round that pops the whole universe.
- deep-crawl: every leg is its own ``CrawlEngine.create`` (egress on)
  followed by the first discovering round.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import pyarrow.dataset as ds
from pyspark.sql import functions as F

from ethereum_raw_data_crawler_spark.operators.bloom import PartitionedBloom
from ethereum_raw_data_crawler_spark.plans.rounds import CrawlEngine
from ethereum_raw_data_crawler_spark.schemas import PAGES_OUT

import golden
from procstat import tree_cpu_s

#: job description of the benchmark's own counting jobs (excluded from folds)
PROBE = "perfbench-probe"
#: top-level phases of ``run_round``'s ``phases_ms``, in execution order
PHASES = ("precompact", "pop", "fetch", "discover", "commit", "egress", "compact")


@dataclass
class Round:
    leg: int
    rnd: int
    t0: float
    t1: float
    cpu_s: float
    stats: dict
    ok: bool = True
    layer: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0

    def intervals(self) -> list[tuple[str, float, float]]:
        """(phase, start, end) in epoch seconds: the round start measured
        here plus the engine's ``phases_ms`` in execution order."""
        out, t = [], self.t0
        for name in PHASES:
            if name in self.stats["phases_ms"]:
                d = self.stats["phases_ms"][name] / 1e3
                out.append((name, t, t + d))
                t += d
        return out

    def probe_s(self) -> float:
        return sum(b - a for a, b in self.layer.get("probe_spans", []))

    def unattributed_s(self) -> float:
        return self.wall_s - sum(b - a for _n, a, b in self.intervals())


@dataclass
class Run:
    create_spans: list[tuple[float, float]] = field(default_factory=list)
    rounds: list[Round] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0

    @property
    def create_s(self) -> float:
        return statistics.median(b - a for a, b in self.create_spans)


def _dir_bytes(path: str, since: float = 0.0) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                st = os.stat(os.path.join(root, f))
            except OSError:
                continue
            if st.st_mtime >= since:
                total += st.st_size
    return total


class Tracer:
    """Per-round layer counters, taken at the engine's public boundaries.

    Its Spark jobs run under the ``PROBE`` job description so the event
    log fold can leave them out; their wall time is recorded as
    ``probe_s``, the part of a traced round that tracing added."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.engine: CrawlEngine | None = None
        self.egress_dir: str | None = None
        self.bloom: PartitionedBloom | None = None
        self.active = False
        self.cur: dict = {}
        self._orig = {}

    def _probe_jobs(self, fn):
        sc = self.spark.sparkContext
        t = time.time()
        sc.setJobDescription(PROBE)
        try:
            return fn()
        finally:
            sc.setJobDescription(None)
            if self.active:
                self.cur.setdefault("probe_spans", []).append((t, time.time()))

    def install(self) -> None:
        tracer = self
        self._orig = {
            "probe_split": PartitionedBloom.probe_split,
            "add_keys": PartitionedBloom.add_keys,
        }
        probe_split, add_keys = self._orig["probe_split"], self._orig["add_keys"]

        def traced_probe_split(bloom, df, key_col, spark, scratch=None):
            tracer.bloom = bloom
            out = probe_split(bloom, df, key_col, spark, scratch=scratch)
            if tracer.active:
                tracer._count_seen(probe_split, bloom, df, key_col, spark)
            return out

        def traced_add_keys(bloom, keys_df, key_col, rnd):
            tracer.bloom = bloom
            before, t = bloom.n_added_total, time.time()
            out = add_keys(bloom, keys_df, key_col, rnd)
            if tracer.active:
                c = tracer.cur
                c["bloom.add_keys_s"] = c.get("bloom.add_keys_s", 0.0) + time.time() - t
                c["bloom.keys_added"] = (
                    c.get("bloom.keys_added", 0) + bloom.n_added_total - before
                )
            return out

        PartitionedBloom.probe_split = traced_probe_split
        PartitionedBloom.add_keys = traced_add_keys

    def uninstall(self) -> None:
        for name, fn in self._orig.items():
            setattr(PartitionedBloom, name, fn)

    def _count_seen(self, probe_split, bloom, df, key_col, spark) -> None:
        """Seen-set counts at the Bloom probe boundary, from a second,
        independent probe (its own cache), so the round's frames stay as
        the engine left them."""

        def count():
            own: list = []
            _new, maybe = probe_split(bloom, df, key_col, spark, scratch=own)
            by_flag = dict(own[0].groupBy("_maybe_seen").count().collect())
            seen = self.engine.seen().select(key_col)
            fp = maybe.join(seen, key_col, "left_anti").count()
            for f in own:
                f.unpersist()
            return by_flag.get(False, 0), by_flag.get(True, 0), fp

        n_new, n_maybe, fp = self._probe_jobs(count)
        c = self.cur
        c["seen.candidates"] = c.get("seen.candidates", 0) + n_new + n_maybe
        c["seen.maybe"] = c.get("seen.maybe", 0) + n_maybe
        c["seen.false_pos"] = c.get("seen.false_pos", 0) + fp

    def before_round(self, eng: CrawlEngine, rnd: int, egress_dir: str | None) -> None:
        self.engine, self.egress_dir = eng, egress_dir
        self.cur = {}
        self.cur["priority_pop.eligible_rows"] = self._probe_jobs(
            lambda: eng.eligible_count(rnd)
        )
        self.cur["_t0"] = time.time()
        self.active = True

    def after_round(self, eng: CrawlEngine, rnd: int, stats: dict) -> dict:
        self.active = False
        c = self.cur
        store = eng.store
        man = store.manifest()
        written = _dir_bytes(os.path.join(store.root, "data"), since=c.pop("_t0"))
        pages_frag = [
            f for f in man["tables"]["pages_out"]["fragments"] if f["seq"] == rnd
        ]
        pages_bytes = sum(
            _dir_bytes(os.path.join(store.root, f["dir"])) for f in pages_frag
        )
        fr = man["tables"]["frontier"]
        base = store.fragment_rows(fr["fragments"])
        manifest_path = os.path.join(store.root, f"manifest-{man['version']:06d}.json")
        egress = _egress_rows(self.egress_dir, rnd) if self.egress_dir else 0
        bloom = self.bloom
        phases = stats["phases_ms"]
        c.update(
            {
                "priority_pop.popped_rows": stats["popped"],
                "bloom.bytes": bloom.total_bits // 8 if bloom is not None else 0,
                "tablestore.commit_pages_s": phases.get("commit_pages", 0) / 1e3,
                "tablestore.commit_seen_s": phases.get("commit_seen", 0) / 1e3,
                "tablestore.commit_frontier_s": phases.get("commit_frontier", 0) / 1e3,
                "tablestore.bytes_written_mb": written / (1 << 20),
                "tablestore.write_amp": written / pages_bytes if pages_bytes else 0.0,
                "tablestore.manifest_kb": os.path.getsize(manifest_path) / 1024,
                "tablestore.fragments": sum(
                    len(t["fragments"]) + len(t["deletes"])
                    for t in man["tables"].values()
                ),
                "tablestore.delete_debt": store.fragment_rows(fr["deletes"]) / base
                if base
                else 0.0,
                "egress.events": egress,
            }
        )
        return c


def digest(df, cols: list[str]) -> list[int]:
    """Spark-side twin of ``golden.table_digest``."""
    s = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols])
    d = F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("decimal(38,0)")
    r = df.select(d.alias("d")).agg(F.count("*"), F.sum("d")).first()
    return [int(r[0]), int(r[1] or 0)]


def _egress_rows(egress_dir: str, rnd: int) -> int:
    out = os.path.join(egress_dir, f"round-{rnd}")
    return ds.dataset(out, format="parquet").count_rows() if os.path.isdir(out) else 0


def check_store(
    spark, eng: CrawlEngine, gold: dict, rnd: int, egress_dir: str | None
) -> list[str]:
    """Mismatches between the store after ``rnd`` rounds and the oracle."""
    want = gold["prefixes"][str(rnd)]
    got = {
        "trace_text": digest(
            eng.store.read(spark, "pages_out", PAGES_OUT),
            ["fetch_round", "fetch_seq", "url", "text"],
        ),
        "seen": digest(eng.seen(), ["url_hash", "url_canon", "first_seen_round"]),
    }
    bad = [f"{k}: {got[k]} != {want[k]}" for k in want if got[k] != want[k]]
    if egress_dir is not None:
        for r in range(1, rnd + 1):
            n = _egress_rows(egress_dir, r)
            if n != gold["rounds"][str(r)]["fetched"]:
                bad.append(f"egress round {r}: {n} events")
    return bad


def _frames(spark, inputs: str) -> dict:
    return {
        name: spark.read.parquet(os.path.join(inputs, f"{name}.parquet"))
        if os.path.exists(os.path.join(inputs, f"{name}.parquet"))
        else None
        for name in golden.TABLES
    }


def run(
    spark,
    workload: str,
    inputs: str,
    gold: dict,
    work: str,
    seconds: float,
    tracer: Tracer | None = None,
) -> Run:
    cfg = golden.crawl_config(workload)
    n_rounds = 1 if workload == "bulk-pop" else golden.DEEP_ROUNDS
    tabs = _frames(spark, inputs)
    args = (
        tabs["pages"],
        tabs["seeds"],
        tabs["robots"],
        tabs["politeness"],
        tabs["fetch_failures"],
        cfg,
    )
    out = Run()

    def create(root: str, **kw) -> CrawlEngine:
        t = time.time()
        eng = CrawlEngine.create(spark, root, *args, **kw)
        out.create_spans.append((t, time.time()))
        return eng

    pristine = os.path.join(work, "round0")
    if workload == "bulk-pop":
        create(pristine, n_buckets=64, prune_pop=False)
    window = None
    leg = 0
    while window is None or time.time() - window < seconds:
        leg += 1
        root = os.path.join(work, f"leg{leg}")
        if workload == "bulk-pop":
            egress_dir = None
            shutil.copytree(pristine, root)
            eng = CrawlEngine.resume(spark, root)
        else:
            egress_dir = os.path.join(root, "egress")
            eng = create(root, egress_dir=egress_dir)
        window = window or time.time()
        leg_rounds: list[Round] = []
        for rnd in range(1, n_rounds + 1):
            out.attempted += 1
            if tracer is not None:
                tracer.before_round(eng, rnd, egress_dir)
            c0, t0 = tree_cpu_s(), time.time()
            try:
                stats = eng.run_round(rnd)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                out.failed += 1
                return out
            t1 = time.time()
            r = Round(leg, rnd, t0, t1, tree_cpu_s() - c0, stats)
            if tracer is not None:
                r.layer = dict(tracer.after_round(eng, rnd, stats))
            want = gold["rounds"][str(rnd)]
            r.ok = all(stats[k] == v for k, v in want.items())
            if not r.ok:
                print(f"[perfbench] round {rnd} counters {stats} != {want}", file=sys.stderr)
            leg_rounds.append(r)
        bad = check_store(spark, eng, gold, n_rounds, egress_dir)
        if bad:
            print(f"[perfbench] leg {leg} oracle mismatch: {bad}", file=sys.stderr)
        for r in leg_rounds:
            r.ok = r.ok and not bad
            out.failed += not r.ok
        out.rounds.extend(leg_rounds)
        shutil.rmtree(root, ignore_errors=True)
    return out


def end_to_end(run_: Run, session_s: float, peak_rss: int) -> dict[str, float]:
    walls = [r.wall_s for r in run_.rounds]
    fetched = sum(r.stats["fetched"] for r in run_.rounds)
    cpu = sum(r.cpu_s for r in run_.rounds)
    return {
        "urls_per_s": fetched / sum(walls),
        "round_s": statistics.median(walls),
        "cpu_s_per_kurl": cpu / fetched * 1e3,
        "setup_s": session_s + run_.create_s,
        "peak_rss_gb": peak_rss / (1 << 30),
    }
