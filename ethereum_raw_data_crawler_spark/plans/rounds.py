"""The Spark crawl engine: bounded partition-parallel batch rounds.

One round = one declarative DataFrame DAG per sink (SURVEY.md §3.1
"Spark recast" of the reference's polling round, reference:
internal/application/service/crawler_service.go:229-370):

    read frontier snapshot
      -> eligibility filter (retry/skip gate, scheduler_service.go:291-303)
      -> per-host politeness budget + (priority, host, discovery_ts, url)
         priority pop               (crawler_service.go:251-307 recast)
      -> fetch = popped rows moved to their corpus buckets, joined there
         (GetBlockByNumber, ethereum_service.go:142-185 recast; failure
         injection stands in for RPC errors)
      -> extract text + outlinks    (convertBlock, ethereum_service.go:421-456)
      -> discovery: canonicalize -> robots gate -> Bloom + anti-join dedup
         -> new frontier rows       (dedup-before-write, mongodb.go:86-92)
      -> one atomic snapshot commit of pages/seen/trace/metrics + frontier
         upsert                     (publish-after-save, crawler_service.go:592-607)

Resume = open the store and continue from ``manifest.round + 1``
(initializeStartingBlock, crawler_service.go:199-226): a kill between or
during rounds never corrupts state because a round's writes are invisible
until its single manifest swap.

Determinism under parallelism (SURVEY.md §7 known-hard #1): every
sequence the oracle defines is derived from explicit total orders
(sorted-before-seq), never from partition iteration order, so local[2]
and local[32] produce identical traces.
"""

from __future__ import annotations

import json
import math
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf
from pyspark.sql.pandas.types import to_arrow_schema

from ethereum_raw_data_crawler_spark import gates
from ethereum_raw_data_crawler_spark.config import CrawlConfig
from ethereum_raw_data_crawler_spark.deploy import ship_package
from ethereum_raw_data_crawler_spark.functions.spark_udfs import (
    FETCH_ADDS,
    canonicalize_udf,
    fetch_buckets,
    with_host_and_path,
)
from ethereum_raw_data_crawler_spark.functions.urls import (
    CANON_VERSION,
    canonicalize_url,
    url_hash64,
)
from ethereum_raw_data_crawler_spark.operators.bloom import (
    PartitionedBloom,
    bloom_size,
)
from ethereum_raw_data_crawler_spark.operators.linkrank import pagerank
from ethereum_raw_data_crawler_spark.operators.priority_pop import (
    assign_global_seq,
    pop_batch,
    pop_cap,
)
from ethereum_raw_data_crawler_spark.schemas import (
    FETCH_FAILURES,
    FRONTIER,
    HEALTH,
    HOST_EDGES,
    METRICS,
    PAGES_OUT,
    POLITENESS,
    ROBOTS,
    SEEN,
    STATUS_FAILED,
    STATUS_FETCHED,
    STATUS_PENDING,
)
from ethereum_raw_data_crawler_spark.sources.egress import EgressWriter
from ethereum_raw_data_crawler_spark.sources.tablestore import (
    SnapshotStore,
    empty_frame,
)

_TABLES = {
    "corpus": "append",
    "robots": "append",
    "politeness": "append",
    "fetch_failures": "append",
    "pages_out": "append",
    "seen": "append",
    "metrics": "append",
    "health": "append",
    "host_edges": "append",
    "frontier": "mor",
}


class _PhaseClock:
    """Wall-clock milliseconds per round phase. ``lap`` closes the phase
    that ran since the previous lap, so the laps tile the round (the
    benchmark attributes Spark jobs to phases by these intervals);
    ``span`` times a step inside a phase without closing it."""

    def __init__(self) -> None:
        self.ms: dict[str, int] = {}
        self.start = self._last = time.monotonic()

    def lap(self, name: str) -> None:
        now = time.monotonic()
        self.ms[name] = int((now - self._last) * 1000)
        self._last = now

    @contextmanager
    def span(self, name: str):
        t = time.monotonic()
        yield
        self.ms[name] = int((time.monotonic() - t) * 1000)

    def elapsed_ms(self) -> int:
        return int((time.monotonic() - self.start) * 1000)


def corpus_frame(pages: DataFrame, n_buckets: int) -> DataFrame:
    """The corpus table's rows: ``pages`` canonicalized ONCE and bucketed
    by url_hash for fetch-time partition pruning (the "fetch" of a batch
    reads only the buckets the batch hashes into, not the whole corpus)."""
    return (
        pages.withColumn("url_canon", canonicalize_udf("url"))
        .where(F.col("url_canon").isNotNull())
        .withColumn("url_hash", F.xxhash64("url_canon"))
        .withColumn("bucket", F.pmod(F.col("url_hash"), F.lit(n_buckets)).cast("int"))
        .select("url_canon", "url_hash", "bucket", "warc_ts", "html", "lang")
    )


def _refuse_duplicate_hosts(robots: DataFrame) -> None:
    """Refuse a robots dim that lists a host twice: discovery joins
    candidates to it on ``host``, so each such row would admit the
    candidate again and the URL would be popped and fetched twice (the
    oracle keeps one row per host). One aggregate over the input."""
    dup = (
        robots.where(F.col("host").isNotNull())
        .groupBy("host")
        .count()
        .where(F.col("count") > 1)
        .first()
    )
    if dup is not None:
        raise ValueError(
            f"robots lists host {dup['host']!r} {dup['count']} times; "
            f"give one row per host"
        )


# Phase records. A frame a phase caches is registered in the engine's
# scratch list, which the round drains (unpersists) when it ends.
@dataclass
class _Pop:
    rows: DataFrame  # popped frontier rows with a dense pop_seq
    n: int
    keys: pd.DataFrame | None  # popped url_canon, collected for small batches


@dataclass
class _Fetch:
    fetched: DataFrame  # fetched rows with their parse result ``ext``
    failed: DataFrame  # failed + missed rows: FRONTIER, error_class, pop_seq
    partition_counts: list  # (partition_id, fetched) rows of the fetch job
    n_fetched: int
    n_errors: int


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        store_root: str,
        cfg: CrawlConfig,
        n_buckets: int = 32,
        compact_every: int = 8,
        egress_dir: str | None = None,
        bloom_buckets: int = 64,
        compact_debt_frac: float = 0.15,
        track_host_graph: bool = False,
    ) -> None:
        ship_package(spark)
        self.spark = spark
        self.store = SnapshotStore(store_root)
        self.cfg = cfg
        self.n_buckets = n_buckets
        self.compact_every = compact_every
        self.bloom_buckets = bloom_buckets
        # health-ACTED threshold, RELATIVE: the frontier is compacted when
        # its accumulated delete set reaches this fraction of the base
        # fragment rows (both straight from parquet footers). Relative,
        # not absolute, because compaction cost is O(base rows): at a
        # 10^10-row frontier an absolute threshold of one batch's deletes
        # would rewrite the whole frontier EVERY round, while a fraction
        # amortizes the rewrite to O(batch / frac) rows per round. The
        # read path needs no trigger at all — SnapshotStore.read already
        # degrades gracefully past gates.DELETE_BROADCAST_MAX (shuffle join
        # instead of broadcast), so the only question is amortized rewrite
        # cost, which is what the fraction controls.
        self.compact_debt_frac: float = compact_debt_frac
        # when on, each round appends the (src_host, dst_host) link-graph
        # aggregate to the host_edges table inside the atomic commit —
        # the input to rescore_priorities. Off by default: it adds one
        # O(outlinks) map-side-combined aggregation per round that a
        # crawl which never rescores shouldn't pay.
        self.track_host_graph: bool = track_host_graph
        # the seen-set prefilter (operators/bloom.py), opened by create or
        # resume
        self._bloom: PartitionedBloom
        self._dims: dict[str, DataFrame] = {}
        self._scratch: list[DataFrame] = []
        self._egress = EgressWriter(egress_dir) if egress_dir else None

    # ------------------------------------------------------------------ setup
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        store_root: str,
        pages: DataFrame,
        seeds: DataFrame,
        robots: DataFrame,
        politeness: DataFrame,
        fetch_failures: DataFrame | None,
        cfg: CrawlConfig | None = None,
        **kw,
    ) -> "CrawlEngine":
        """Job init (reference: cmd/schedulers/main.go:112-175 OnStart):
        create tables, land the corpus + dims, seed the frontier (round 0)."""
        cfg = cfg or CrawlConfig()
        expected_keys = kw.pop("expected_keys", None)
        # accepted and ignored: Spark plans the pop's pre-prune
        # (operators/priority_pop.py), and bench.py still passes prune_pop
        kw.pop("prune_pop", None)
        auto_buckets = "bloom_buckets" not in kw
        _refuse_duplicate_hosts(robots)
        SnapshotStore.create(store_root, _TABLES)
        eng = cls(spark, store_root, cfg, **kw)
        if expected_keys is None:
            # design capacity of the seen-set: seeds × a discovery growth
            # allowance. Per-bucket growth absorbs overshoot; this only
            # sizes the STARTING bitmaps + bucket count.
            expected_keys = max(int(seeds.count()) * 16, 1 << 20)
        if auto_buckets:
            eng.bloom_buckets = PartitionedBloom.buckets_for(expected_keys)
        with open(os.path.join(store_root, "config.json"), "w") as fh:
            json.dump(
                {
                    "cfg": asdict(cfg),
                    "n_buckets": eng.n_buckets,
                    "compact_every": eng.compact_every,
                    "egress_dir": kw.get("egress_dir"),
                    "bloom_buckets": eng.bloom_buckets,
                    "compact_debt_frac": eng.compact_debt_frac,
                    "track_host_graph": eng.track_host_graph,
                    "canon_version": CANON_VERSION,
                },
                fh,
            )
        eng._bloom = PartitionedBloom.create(
            store_root, n_buckets=eng.bloom_buckets, expected_keys=expected_keys
        )
        txn = eng.store.transaction(-1)
        txn.append(
            "corpus", corpus_frame(pages, eng.n_buckets), partition_by=["bucket"]
        )
        txn.append(
            "robots",
            robots.select(
                "host",
                F.col("allowed").cast("boolean").alias("allowed"),
                F.col("disallow_prefix").cast("string").alias("disallow_prefix"),
            ),
        )
        txn.append(
            "politeness",
            politeness.select("host", F.col("budget_per_round").cast("int")),
        )
        if fetch_failures is None:
            fetch_failures = empty_frame(spark, FETCH_FAILURES)
        txn.append(
            "fetch_failures",
            fetch_failures.select(
                "url_canon",
                F.col("fail_attempts").cast("array<int>"),
                (
                    F.col("error_class").cast("string")
                    if "error_class" in fetch_failures.columns
                    else F.lit(None).cast("string")
                ).alias("error_class"),
            ),
        )
        txn.commit()
        eng._read_constants()
        # round-0 discovery of the seed list (reference: StartBlock
        # seeding, crawler_service.go:206-223)
        eng.admit(seeds.select("url", F.col("priority").cast("int")), 0)
        return eng

    @classmethod
    def resume(cls, spark: SparkSession, store_root: str) -> "CrawlEngine":
        """Reopen from the last committed snapshot (reference:
        initializeStartingBlock, crawler_service.go:199-226 — max processed
        + 1; here: manifest.round + 1, with the Bloom bitmap rebuilt or
        reloaded)."""
        with open(os.path.join(store_root, "config.json")) as fh:
            saved = json.load(fh)
        # the seen-set keys on the canonical string: resuming under
        # different canonicalization rules would re-admit previously-seen
        # urls (url_hash drift). A store without the stamp predates it and
        # is refused the same way (functions/urls.py:CANON_VERSION).
        saved_canon = saved.get("canon_version")
        if saved_canon != CANON_VERSION:
            raise RuntimeError(
                f"store was created under canonicalization rules "
                f"v{saved_canon} but this build implements "
                f"v{CANON_VERSION}; resuming would drift url_hash keys. "
                f"Re-crawl into a fresh store or run a migration that "
                f"re-canonicalizes frontier/seen/corpus url_canon columns."
            )
        # every key is the one create writes: a config missing one is from
        # a store older than the layout (history, health, host_edges) that
        # this engine reads, and fails here with a KeyError. A key create
        # no longer writes (the prefilter choice) is ignored.
        eng = cls(
            spark,
            store_root,
            CrawlConfig(**saved["cfg"]),
            n_buckets=saved["n_buckets"],
            compact_every=saved["compact_every"],
            egress_dir=saved["egress_dir"],
            bloom_buckets=saved["bloom_buckets"],
            compact_debt_frac=saved["compact_debt_frac"],
            track_host_graph=saved["track_host_graph"],
        )
        eng._read_constants()
        if eng._egress is not None:
            # publish-after-commit redelivery: any round committed before
            # the crash but never published goes out now (at-least-once)
            eng._egress.catch_up(spark, eng.store)
        bloom_rnd = PartitionedBloom.latest_round(store_root)
        if bloom_rnd is None:
            # bitmaps lost, or a store created with another prefilter or
            # none: rebuild from the seen table (correctness-neutral,
            # executor-side Spark job)
            eng._bloom = eng._bloom_rebuild_spark()
        else:
            eng._bloom = PartitionedBloom.load(store_root, bloom_rnd)
            if bloom_rnd < eng.store.round:
                # a crash between the manifest swap and the bloom meta
                # write leaves the bitmaps behind the table: catch up
                eng._fold_seen(eng.store.round)
        return eng

    # ------------------------------------------------------------ table reads
    def _dim(self, name: str, schema) -> DataFrame:
        if name not in self._dims:
            self._dims[name] = self.store.read(self.spark, name, schema).cache()
        return self._dims[name]

    def _read_constants(self) -> None:
        """What every round derives from tables only ``create`` writes,
        computed once when the engine opens instead of in each round: the
        corpus files of each bucket, which the fetch reads itself, and the
        pop's rank bound (operators/priority_pop.py::pop_cap, an aggregate
        over the politeness dim)."""
        self._corpus_files = self.store.partition_files("corpus")
        self._pop_cap = pop_cap(
            self._dim("politeness", POLITENESS),
            self.cfg.batch_size,
            self.cfg.default_budget,
        )

    def frontier(self) -> DataFrame:
        return self.store.read(self.spark, "frontier", FRONTIER)

    def host_edges(self) -> DataFrame:
        """Accumulated host-level link graph (empty for stores that never
        tracked it — the table is registered at create time either way)."""
        return self.store.read(self.spark, "host_edges", HOST_EDGES)

    def seen(self) -> DataFrame:
        return self.store.read(self.spark, "seen", SEEN)

    def health(self) -> DataFrame:
        """Per-(round, component) health gauges (reference: system_health
        collection, crawler_metrics.go:46-53)."""
        return self.store.read(self.spark, "health", HEALTH)

    def delete_pages(self, predicate: str) -> int:
        """Takedown/redaction: row-level DELETE FROM pages_out WHERE
        ``predicate`` (reference: DeleteBlock/DeleteTransactionsByBlockHash,
        block_repository_impl.go:264-268). Copy-on-write, fragment-pruned;
        older snapshots still show the pre-delete state (time travel)."""
        return self.store.delete_where(
            self.spark, "pages_out", PAGES_OUT, predicate, self.store.round
        )

    def forget_urls(self, urls: list[str]) -> int:
        """Unlearn URLs from the seen set — the takedown follow-up /
        content-expiry recrawl path. Deletes the ``seen`` rows (ground
        truth: the anti-join backstop immediately treats the URLs as
        unseen, so a re-discovery re-enters the frontier), then rebuilds
        the Bloom buckets the forgotten keys hash to from the remaining
        seen rows, each at its own size, so a re-discovery takes the
        zero-shuffle definitely-new path again (Bloom bits cannot be
        unset). A crash between the two leaves the filter
        over-approximating, which is still correct: the exact anti-join
        sees the deletion.

        Takedown lists are human-scale (bounded like the ≤200k
        driver-side delete-key path): keys are canonicalized and hashed
        driver-side with the SAME pinned pure functions the engine's
        UDFs use (functions/urls.py — xxh64 JVM-equivalence is
        pytest-pinned). Returns the number of seen rows deleted."""
        hashes = sorted(
            {
                url_hash64(c)
                for u in urls
                if (c := canonicalize_url(u)) is not None
            }
        )
        if not hashes:
            return 0
        pred = f"url_hash IN ({','.join(str(h) for h in hashes)})"
        n = self.store.delete_where(
            self.spark, "seen", SEEN, pred, self.store.round
        )
        if n:
            bloom = self._bloom
            bks = {h % bloom.n_buckets for h in hashes}
            bloom.rebuild_buckets(
                self.seen().select("url_hash"),
                "url_hash",
                self.store.round,
                {
                    b: {"n_bits": e["n_bits"], "k": e["k"]}
                    for b, e in bloom.buckets.items()
                    if b in bks
                },
            )
        return n

    def as_of(self, rnd: int, name: str, schema) -> DataFrame:
        """Time-travel read: table contents as committed at round ``rnd``
        (Iceberg snapshot-id reads — every round's manifest is retained).
        The audit/debug twin of resume: 'what did the frontier look like
        after round k?' without replaying anything."""
        v = self.store.version_for_round(rnd)
        return self.store.read(self.spark, name, schema, version=v)

    def read_trace(self) -> DataFrame:
        """The crawl trace (FIXTURES.md §7) is a projection of pages_out —
        (fetch_round, fetch_seq) ARE the trace order, so no separate table
        is written (one fewer sink per round)."""
        pages = self.store.read(self.spark, "pages_out", PAGES_OUT)
        return pages.select(
            F.col("fetch_round").alias("round"),
            F.col("fetch_seq").alias("seq"),
            F.col("url").alias("url_canon"),
            F.regexp_extract(F.col("url"), r"^https?://([^/]+)/", 1).alias("host"),
        )

    # ------------------------------------------------------------- discovery
    def _discover(
        self, candidates: DataFrame, rnd: int, seen: DataFrame
    ) -> tuple[DataFrame, dict]:
        """Candidates (url, priority) -> admitted frontier rows with dense
        discovery_ts. Implements the oracle's binding order: group by
        url_canon keeping min (priority, url), robots gate, seen dedup,
        seq by sorted url_canon.

        Annotate-then-aggregate: instead of filter-and-count per stage
        (one Spark job each), every drop reason becomes a flag column and
        ONE aggregation yields all lineage counters — the map-side-combine
        version of the reference's in-memory counters
        (crawler_service.go:910-921)."""
        cfg = self.cfg
        if "url_canon" not in candidates.columns:
            candidates = candidates.withColumn("url_canon", canonicalize_udf("url"))
        grouped = (
            candidates.where(F.col("url_canon").isNotNull())
            .groupBy("url_canon")
            .agg(
                F.min(F.struct("priority", "url")).alias("m"),
                F.count("*").alias("dups"),
            )
            .select(
                "url_canon",
                F.col("m.priority").alias("priority"),
                F.col("m.url").alias("url"),
                "dups",
            )
        )
        robots = self._dim("robots", ROBOTS)
        gated = (
            with_host_and_path(grouped)
            .join(F.broadcast(robots), "host", "left")
            .withColumn("pass_cap", F.col("priority") <= cfg.priority_cap)
            .withColumn(
                "pass_robots",
                (F.col("allowed").isNull() | F.col("allowed"))
                & (
                    F.col("disallow_prefix").isNull()
                    | ~F.col("path").startswith(F.col("disallow_prefix"))
                ),
            )
            .drop("allowed", "disallow_prefix", "path")
            .withColumn("url_hash", F.xxhash64("url_canon"))
        )
        # seen-membership flag: Bloom kills the definitely-new rows map-side;
        # only maybe-seen rows reach the exact join against the seen table.
        # Gated-out rows are probed too: every counter and the admitted
        # filter AND ``seen_hit`` with pass_cap & pass_robots, so their flag
        # is never read, and probing them spares a cached split of ``gated``
        seen_keys = seen.select("url_hash").withColumn("seen_hit", F.lit(True))
        new_def, maybe = self._bloom.probe_split(
            gated, "url_hash", self.spark, scratch=self._scratch
        )
        annotated = (
            new_def.withColumn("seen_hit", F.lit(False))
            .unionByName(
                maybe.join(seen_keys, "url_hash", "left").withColumn(
                    "seen_hit", F.coalesce(F.col("seen_hit"), F.lit(False))
                )
            )
            .cache()
        )
        self._scratch.append(annotated)

        stats_row = annotated.agg(
            F.coalesce(F.sum("dups"), F.lit(0)).alias("n_valid"),
            F.count("*").alias("n_groups"),
            F.coalesce(F.sum(F.col("pass_cap").cast("long")), F.lit(0)).alias(
                "n_capped"
            ),
            F.coalesce(
                F.sum((F.col("pass_cap") & F.col("pass_robots")).cast("long")),
                F.lit(0),
            ).alias("n_gated"),
            F.coalesce(
                F.sum(
                    (
                        F.col("pass_cap")
                        & F.col("pass_robots")
                        & ~F.col("seen_hit")
                    ).cast("long")
                ),
                F.lit(0),
            ).alias("n_admitted"),
        ).collect()[0]
        n_valid = int(stats_row["n_valid"])
        n_groups = int(stats_row["n_groups"])
        n_capped = int(stats_row["n_capped"])
        n_gated = int(stats_row["n_gated"])
        n_admitted = int(stats_row["n_admitted"])

        admitted = assign_global_seq(
            annotated.where(
                F.col("pass_cap") & F.col("pass_robots") & ~F.col("seen_hit")
            ).drop("pass_cap", "pass_robots", "seen_hit", "dups"),
            ["url_canon"],
            "seq",
            approx_count=n_admitted,
            scratch=self._scratch,
        )

        rows = admitted.select(
            "url",
            "url_canon",
            "url_hash",
            "host",
            "priority",
            F.timestamp_seconds(
                F.lit(cfg.round_unix(rnd) + cfg.discovery_offset_s) + F.col("seq")
            ).alias("discovery_ts"),
            F.lit(STATUS_PENDING).alias("status"),
            F.lit(0).cast("int").alias("retry_count"),
            F.lit(None).cast("int").alias("skip_until"),
            F.lit(rnd).cast("int").alias("round"),
            F.lit(None).cast("int").alias("partition_id"),
        ).cache()  # read by the frontier write and the seen append
        self._scratch.append(rows)
        stats = {
            "discovered": n_admitted,
            "robots_filtered": n_capped - n_gated,
            "deduped": (n_valid - n_groups)
            + (n_groups - n_capped)
            + (n_gated - n_admitted),
        }
        return rows, stats

    def _drain_scratch(self) -> None:
        for df in self._scratch:
            df.unpersist()
        self._scratch.clear()

    def admit(self, candidates: DataFrame, rnd: int) -> dict:
        """Discovery-only commit of ``candidates`` (url, priority) as round
        ``rnd``: the outlink path of a crawl round without the pop — the
        discover gates, then the new rows' frontier insert and seen append
        in one commit, then the filter fold. Round 0 seeds the frontier
        (``create``); realtime mode admits each pushed batch at
        ``store.round + 1`` (streaming/realtime.py). Already-seen
        candidates are dropped, so a re-push is a no-op. Returns the
        discovery counters."""
        rows, stats = self._discover(candidates, rnd, self.seen())
        txn = self.store.transaction(rnd)
        # insert-only upsert: an empty delete set writes no delete
        # fragment, so later reads never join one
        txn.upsert("frontier", "url_canon", rows, pd.DataFrame({"url_canon": []}))
        txn.append(
            "seen",
            rows.select(
                "url_hash",
                "url_canon",
                F.lit(rnd).cast("int").alias("first_seen_round"),
            ),
        )
        txn.commit()
        self._fold_seen(rnd)
        self._drain_scratch()
        return stats

    def _bloom_rebuild_spark(self) -> PartitionedBloom:
        """Rebuild the partitioned bitmaps from the seen table — one Spark
        job (repartition keys by bucket, each task writes its buckets'
        bitmap files); the driver only sees per-bucket stat rows. Sized
        from the actual seen cardinality (parquet footer row counts, no
        data read) with 2x headroom."""
        frags = self.store.manifest()["tables"]["seen"]["fragments"]
        pb = PartitionedBloom.create(
            self.store.root,
            n_buckets=self.bloom_buckets,
            expected_keys=2 * max(self.store.fragment_rows(frags), 1),
            rnd=self.store.round if frags else -1,
        )
        if frags:
            pb.add_keys(self.seen().select("url_hash"), "url_hash", self.store.round)
        return pb

    def _fold_seen(self, rnd: int) -> None:
        """Bring the seen filter up to committed round ``rnd``: OR every
        seen fragment committed after the filter's own round into the
        bucket bitmaps — the round's new fragment, or on resume every one
        a crash made it miss (never skip: a stale bitmap means false
        negatives = duplicates). A Spark job over the fragments' keys
        (executor-side file folds, only per-bucket counters reach the
        driver). Buckets past their design capacity (saturation -> FPR
        collapse) are rebuilt alone at their next size from the seen
        table."""
        frags = [
            f
            for f in self.store.manifest()["tables"]["seen"]["fragments"]
            if f["seq"] > self._bloom.round
        ]
        if not frags or self.store.fragment_rows(frags) == 0:
            # nothing discovered: keep the bloom meta's round in step with
            # the table (crash catch-up compares the two) without paying an
            # empty fold job
            self._bloom.commit(rnd)
            return
        keys = self.store._read_fragments(self.spark, frags, SEEN).select("url_hash")
        bloom = self._bloom
        saturated = bloom.add_keys(keys, "url_hash", rnd)
        if saturated:
            # each rebuilt bucket is sized for twice its key count
            bloom.rebuild_buckets(
                self.seen().select("url_hash"),
                "url_hash",
                rnd,
                {
                    b: bloom_size(2 * bloom.buckets[b]["n_added"], bloom.fpr)
                    for b in saturated
                },
            )

    # ------------------------------------------------------------- one round
    def run_round(self, rnd: int) -> dict:
        """One crawl round as one bounded batch (reference: the polling
        round pop -> fetch -> convert -> save -> publish,
        crawler_service.go:229-370). ``phases_ms`` holds each phase's wall
        time in execution order, and the phases tile the round;
        ``commit_*`` split the commit by sink. ``wall_ms`` is the whole
        round."""
        clock = _PhaseClock()
        self._precompact(rnd)
        clock.lap("precompact")
        pop = self._pop(rnd)
        clock.lap("pop")
        fetch = self._fetch(pop)
        clock.lap("fetch")

        # fetch_seq numbering is timed with discovery, so the fetch phase
        # is exactly the fetch+parse materialization
        pages = self._number_fetched(fetch)
        # ---- outlink discovery (links arrive canonical + per-doc deduped) --
        outlinks = pages.select(
            F.explode("ext.links").alias("url_canon"),
            (F.col("priority") + 1).cast("int").alias("priority"),
        ).withColumn("url", F.col("url_canon"))
        discovered, disc_stats = self._discover(outlinks, rnd, self.seen())
        clock.lap("discover")

        self._commit(rnd, pop, fetch, pages, discovered, disc_stats, clock)
        clock.lap("commit")
        if self._egress is not None:
            # strictly after the manifest swap (publish-after-save,
            # crawler_service.go:592-607): reads the COMMITTED snapshot
            self._egress.emit_round(self.spark, self.store, rnd)
            clock.lap("egress")

        # scheduled compaction only (rnd % compact_every). The
        # health-triggered compaction is handled lazily at the start of
        # the NEXT round (_precompact) so a crawl's final round — or a
        # benchmark's only round — never pays an O(frontier) rewrite
        # whose benefit nobody reads.
        if self.compact_every and rnd % self.compact_every == 0:
            self.store.compact(self.spark, "frontier", FRONTIER, rnd)
        clock.lap("compact")

        self._drain_scratch()
        return {
            "round": rnd,
            "popped": pop.n,
            "fetched": fetch.n_fetched,
            "errors": fetch.n_errors,
            **disc_stats,
            "wall_ms": clock.elapsed_ms(),
            "phases_ms": clock.ms,
        }

    def _precompact(self, rnd: int) -> None:
        """Health-ACTED recovery, applied LAZILY at the next round start
        (reference: performHealthCheck observes, the recovery acts on the
        next cycle, crawler_service.go:820-907): if the delete debt the
        previous round's gauge recorded is a sizable fraction of the base
        rows, rewrite the frontier NOW — the rewrite immediately pays for
        itself in this round's pop read, and a crawl that ENDED on a
        debt-heavy round never pays an O(frontier) rewrite it would never
        benefit from. The transaction commits under the LAST completed
        round so a crash between this compaction and this round's commit
        resumes at this round, not past it. Footer row counts only — no
        Spark job when the debt is below threshold."""
        t_frontier = self.store.manifest()["tables"]["frontier"]
        if t_frontier["deletes"]:
            base_rows = self.store.fragment_rows(t_frontier["fragments"])
            debt_rows = self.store.fragment_rows(t_frontier["deletes"])
            if base_rows and debt_rows >= self.compact_debt_frac * base_rows:
                self.store.compact(self.spark, "frontier", FRONTIER, rnd - 1)

    def _eligible(self, rnd: int) -> DataFrame:
        """Pending rows round ``rnd`` may pop: the retry/skip gate
        (scheduler_service.go:291-303)."""
        return self.frontier().where(
            (F.col("status") == STATUS_PENDING)
            & (F.col("skip_until").isNull() | (F.col("skip_until") <= F.lit(rnd)))
        )

    def _pop(self, rnd: int) -> _Pop:
        """Per-host politeness budgets + the (priority, host,
        discovery_ts, url) priority pop (crawler_service.go:251-307
        recast), counted in one job."""
        popped = pop_batch(
            self._eligible(rnd),
            self._dim("politeness", POLITENESS),
            self.cfg.batch_size,
            self.cfg.default_budget,
            scratch=self._scratch,
            cap=self._pop_cap,
        )
        if self.cfg.batch_size <= gates.DRIVER_COLLECT_MAX:
            # one job collects the popped keys: their count and the
            # commit's frontier delete keys
            keys = popped.select("url_canon").toPandas()
            return _Pop(popped, len(keys), keys)
        return _Pop(popped, popped.count(), None)

    def _fetch(self, pop: _Pop) -> _Fetch:
        """Fetch = a bucket-aligned corpus read + failure injection
        (GetBlockByNumber, ethereum_service.go:142-185 recast) and the
        parse (convertBlock, ethereum_service.go:421-456), materialized in
        one job: the slim popped rows move to the corpus's bucketing, and
        functions/spark_udfs.py::fetch_buckets reads, joins and parses each
        task's buckets, so the html is never shuffled. One plan at every
        batch size: ``gates.FETCH_TASK_ROWS`` rows per task, up to one task
        per bucket."""
        failures = self._dim("fetch_failures", FETCH_FAILURES)
        popped = (
            pop.rows.join(F.broadcast(failures), "url_canon", "left")
            .withColumn(
                "fetch_failed",
                F.coalesce(
                    F.array_contains("fail_attempts", F.col("retry_count") + 1),
                    F.lit(False),
                ),
            )
            .drop("fail_attempts", "partition_id")
        )
        B, conf = self.n_buckets, self.spark.conf
        width = int(conf.get("spark.sql.shuffle.partitions"))
        parts = max(1, min(-(-pop.n // gates.FETCH_TASK_ROWS), B, width))
        schema = T.StructType(popped.schema.fields + T.StructType.fromDDL(FETCH_ADDS).fields)
        out_arrow = to_arrow_schema(schema)
        files = self._corpus_files
        max_rows = int(conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        out = (
            popped.repartition(parts, F.pmod(F.col("url_hash"), F.lit(B)))
            .mapInArrow(
                lambda it: fetch_buckets(it, files, B, out_arrow, max_rows), schema
            )
            .withColumn("partition_id", F.spark_partition_id())
            .cache()
        )
        self._scratch.append(out)
        ok = F.col("found") & ~F.col("fetch_failed")
        fetched = out.where(ok)
        # error_class rides along for the class-specific backoff; misses
        # (URL absent from the corpus) have no class -> default. pop_seq
        # rides along for fetch_seq numbering.
        failed = out.where(~ok).select(
            *[f.name for f in FRONTIER.fields],
            F.when(F.col("found"), F.col("error_class")).alias("error_class"),
            "pop_seq",
        )
        # one job: materialize fetch+parse AND the per-partition lineage
        part_counts = (
            fetched.groupBy("partition_id").agg(F.count("*").alias("fetched")).collect()
        )
        n_fetched = int(sum(r["fetched"] for r in part_counts))
        return _Fetch(fetched, failed, part_counts, n_fetched, pop.n - n_fetched)

    def _number_fetched(self, fetch: _Fetch) -> DataFrame:
        """The fetched rows with ``seq`` = fetch_seq: the dense rank of
        pop_seq among fetched rows. pop_seq is already a dense
        0..n_popped-1 sequence, so the rank of a fetched row is pop_seq
        minus the number of FAILED rows popped before it:

        * no errors (the production common case): fetch_seq = pop_seq,
          zero extra jobs, zero driver bytes;
        * up to ``gates.ERROR_COLLECT_MAX`` errors: collect only the
          failed pop_seqs (bounded by the error count, not the batch) and
          subtract map-side via searchsorted — html never moves, the
          broadcast is tiny;
        * more errors: fully distributed two-pass numbering (one
          slim-column range sort, cached)."""
        fetched = fetch.fetched
        if not fetch.n_errors or not fetch.n_fetched:
            return fetched.withColumn("seq", F.col("pop_seq"))
        if fetch.n_errors <= gates.ERROR_COLLECT_MAX:
            failed_seqs = np.sort(
                fetch.failed.select("pop_seq")
                .toPandas()["pop_seq"]  # Arrow path: one slim int64 column
                .to_numpy(dtype=np.int64)
            )
            bc_seqs = self.spark.sparkContext.broadcast(failed_seqs)

            # scalar pandas UDF: ONLY pop_seq crosses the Arrow socket
            # (a mapInPandas here would ship html+text along for the ride)
            @pandas_udf("long")
            def _rank(p: pd.Series) -> pd.Series:
                pv = p.to_numpy(dtype=np.int64)
                return pd.Series(pv - np.searchsorted(bc_seqs.value, pv))

            return fetched.withColumn("seq", _rank("pop_seq"))
        return assign_global_seq(
            fetched,
            ["pop_seq"],
            "seq",
            approx_count=fetch.n_fetched,
            scratch=self._scratch,
        )

    def _frontier_delta(
        self, rnd: int, fetch: _Fetch, pages: DataFrame, discovered: DataFrame
    ) -> DataFrame:
        """Frontier bookkeeping (scheduler_service.go:324-357): the
        round's new frontier rows — fetched, failed/missed with their
        backoff, and discovered."""
        cfg = self.cfg
        fetched_upd = pages.select(
            "url",
            "url_canon",
            "url_hash",
            "host",
            "priority",
            "discovery_ts",
            F.lit(STATUS_FETCHED).alias("status"),
            "retry_count",
            F.col("skip_until").cast("int").alias("skip_until"),
            F.lit(rnd).cast("int").alias("round"),
            F.col("partition_id").cast("int").alias("partition_id"),
        )
        # zero-error rounds (the production common case, and provable here
        # from counts already in hand): the failed branch is empty, and
        # UNIONing it anyway would scan the fetch cache again to append no
        # rows.
        if not fetch.n_errors:
            return fetched_upd.unionByName(discovered)
        # class-specific backoff (reference: isRetryableError +
        # per-class schedules, ethereum_service.go:100-124,594-624):
        #   non_retryable -> failed immediately (no retry budget burned on
        #                    a 404/parse error that can never succeed);
        #   rate_limit    -> quadratic skip per failure, capped (attempt^2
        #                    seconds recast in rounds) — a 429-ing host
        #                    backs off harder each time;
        #   default       -> the linear machine (skip_rounds once past
        #                    max_retries), scheduler_service.go:324-357.
        new_rc = F.col("retry_count") + 1
        is_rl = F.col("error_class") == F.lit("rate_limit")
        is_nr = F.col("error_class") == F.lit("non_retryable")
        dead = is_nr | (new_rc >= cfg.hard_fail_retries)
        failed_upd = fetch.failed.select(
            "url",
            "url_canon",
            "url_hash",
            "host",
            "priority",
            "discovery_ts",
            F.when(dead, F.lit(STATUS_FAILED))
            .otherwise(F.lit(STATUS_PENDING))
            .alias("status"),
            new_rc.cast("int").alias("retry_count"),
            F.when(dead, F.col("skip_until"))
            .when(
                is_rl,
                F.lit(rnd)
                + F.least(new_rc * new_rc, F.lit(cfg.rate_limit_skip_cap)),
            )
            .when(new_rc >= cfg.max_retries, F.lit(rnd + cfg.skip_rounds))
            .otherwise(F.col("skip_until"))
            .cast("int")
            .alias("skip_until"),
            F.lit(rnd).cast("int").alias("round"),
            # lineage: partition_id = "the fetch-job partition that produced
            # this row's bytes". Failed/missed rows produced none — NULL,
            # like discovered rows.
            F.lit(None).cast("int").alias("partition_id"),
        )
        return fetched_upd.unionByName(failed_upd).unionByName(discovered)

    def _health_rows(
        self, rnd: int, n_popped: int, n_errors: int, n_discovered: int, wall_ms: int
    ) -> pd.DataFrame:
        """Component-health snapshot (reference: performHealthCheck,
        crawler_service.go:666-907) — gauges already in hand, no job."""
        err_frac = (n_errors / n_popped) if n_popped else 0.0
        sat = self._bloom.estimated_saturation()
        # frontier delete DEBT RATIO after this commit: (debt before + this
        # round's delete fragment) / (base rows after this commit), both
        # sides from parquet footers + counts already in hand — no job.
        # This gauge is ACTED on at the START of the next round
        # (_precompact): past compact_debt_frac the frontier is rewritten
        # before the next pop reads it. Relative, so a round's debt only
        # triggers an O(frontier) rewrite when it is actually worth
        # O(frontier) — never every round at production scale.
        tf = self.store.manifest()["tables"]["frontier"]
        debt_rows = self.store.fragment_rows(tf["deletes"]) + n_popped
        base_rows = self.store.fragment_rows(tf["fragments"]) + n_popped + n_discovered
        debt_ratio = (debt_rows / base_rows) if base_rows else 0.0
        rows = [
            (rnd, "store", True, float(self.store.manifest()["version"]), "manifest version"),
            (rnd, "bloom", sat < 0.5, float(sat), "bitmap saturation"),
            (rnd, "fetch", err_frac < 0.5, float(err_frac), "error fraction"),
            (rnd, "scheduler", True, float(wall_ms), "round wall ms"),
            (rnd, "frontier", debt_ratio < self.compact_debt_frac,
             float(debt_ratio), "frontier delete debt / base rows"),
        ]
        return pd.DataFrame(rows, columns=[f.name for f in HEALTH.fields])

    def _host_edges(self, pages: DataFrame, rnd: int) -> DataFrame:
        """Host-level link-graph delta for this round: O(outlinks) with
        map-side combine (host pairs repeat heavily within a partition),
        grouped down to ~|hosts|^epsilon rows before the shuffle. Only
        host + links are read back out of the cached parse — html never
        moves. Self-host edges carry no authority signal and are dropped
        (standard host-graph practice)."""
        return (
            pages.select(
                F.col("host").alias("src_host"),
                F.explode("ext.links").alias("dst"),
            )
            .withColumn("dst_host", F.regexp_extract("dst", r"^https?://([^/]+)/", 1))
            .where((F.col("dst_host") != "") & (F.col("dst_host") != F.col("src_host")))
            .groupBy("src_host", "dst_host")
            .agg(F.count(F.lit(1)).alias("n"))
            .select("src_host", "dst_host", "n", F.lit(rnd).cast("int").alias("round"))
        )

    def _commit(
        self,
        rnd: int,
        pop: _Pop,
        fetch: _Fetch,
        pages: DataFrame,
        discovered: DataFrame,
        disc_stats: dict,
        clock: _PhaseClock,
    ) -> None:
        """Single atomic commit (publish-after-save ordering,
        crawler_service.go:592-607): every sink is written eagerly, the
        manifest swap is last, then the seen delta folds into the filter.
        ``clock`` times each sink as ``commit_<sink>`` so a slow commit is
        attributable to a sink, not guessed at."""
        n_popped, n_fetched = pop.n, fetch.n_fetched
        n_discovered = disc_stats["discovered"]
        frontier_new = self._frontier_delta(rnd, fetch, pages, discovered)
        # small batches: the pop collected the delete keys (no Spark write
        # job); large ones keep them distributed
        delete_keys = pop.rows.select("url_canon") if pop.keys is None else pop.keys

        # ---- per-(round, partition) lineage metrics ------------------------
        # metrics.wall_ms and the scheduler health gauge are written by this
        # commit, so they cover the round up to here
        wall_ms = clock.elapsed_ms()
        metrics_rows = [
            (
                rnd,
                int(r["partition_id"]) if r["partition_id"] is not None else -1,
                0,
                int(r["fetched"]),
                0,
                0,
                0,
                0,
            )
            for r in fetch.partition_counts
        ]
        # round-level aggregates ride on partition_id = -1
        metrics_rows.append(
            (
                rnd,
                -1,
                n_popped,
                n_fetched,
                disc_stats["deduped"],
                disc_stats["robots_filtered"],
                fetch.n_errors,
                wall_ms,
            )
        )
        metrics_pdf = pd.DataFrame(
            metrics_rows, columns=[f.name for f in METRICS.fields]
        )
        health_pdf = self._health_rows(
            rnd, n_popped, fetch.n_errors, n_discovered, wall_ms
        )

        # cheap per-round deltas are O(batch_size); size their output files
        # accordingly. pages_out is NOT coalesced: its write stage computes
        # the text extraction, and narrowing it below the core count would
        # serialize the hottest stage of the round.
        pages_out = pages.select(
            F.col("url_canon").alias("url"),
            "warc_ts",
            "html",
            F.col("ext.text").alias("text"),
            "lang",
            F.lit(rnd).cast("int").alias("fetch_round"),
            F.col("seq").alias("fetch_seq"),
        )
        txn = self.store.transaction(rnd)
        with clock.span("commit_pages"):
            txn.append("pages_out", pages_out)
        if n_discovered:
            # a discovery-free round (fully-seeded production shape) skips
            # the empty fragment AND its write job
            new_seen = discovered.select(
                "url_hash", "url_canon", F.lit(rnd).cast("int").alias("first_seen_round")
            )
            with clock.span("commit_seen"):
                txn.append("seen", new_seen.coalesce(gates.output_files(n_discovered)))
        txn.append_pandas("metrics", metrics_pdf, METRICS)
        txn.append_pandas("health", health_pdf, HEALTH)
        if self.track_host_graph and n_fetched:
            edges = self._host_edges(pages, rnd)
            with clock.span("commit_host_graph"):
                txn.append("host_edges", edges.coalesce(gates.output_files(n_fetched)))
        with clock.span("commit_frontier"):
            txn.upsert(
                "frontier",
                "url_canon",
                frontier_new.coalesce(gates.output_files(n_popped + n_discovered)),
                delete_keys,
            )
        txn.commit()
        with clock.span("commit_bloom"):
            self._fold_seen(rnd)

    def cleanup_metrics(self, keep_last_rounds: int = 100) -> int:
        """Metrics retention (reference: CleanupOldMetrics,
        metrics_repository_impl.go:307-325): drop metrics fragments older
        than ``keep_last_rounds`` rounds. Fragment-granular (Iceberg
        expire-snapshots style), no row rewrite."""
        cutoff = self.store.round - keep_last_rounds
        return self.store.prune_fragments("metrics", cutoff, self.store.round)

    # -------------------------------------------------- link-authority rescore
    def rescore_priorities(
        self,
        top_frac: float = 0.10,
        damping: float = 0.85,
        iterations: int = 8,
        boost: int = 1,
    ) -> dict:
        """Re-prioritize pending frontier rows by crawl-discovered link
        authority: PageRank over the accumulated host_edges graph
        (operators/linkrank.py), then lower ``priority`` (= fetch sooner)
        by ``boost`` for pending URLs on the top ``top_frac`` of hosts.

        This is the COMPUTED version of the reference's static priority
        field (scheduler_service.go:251-307 pops by priority; here the
        priority itself is learned from the link graph the crawl built —
        CommonCrawl-style centrality-driven frontier scheduling).

        Maintenance op, run BETWEEN rounds; commits one frontier MOR
        upsert at round ``store.round + 1`` (its own snapshot — time
        travel across a rescore works like any other commit; the slot is
        consumed so the upsert's delete fragment can never collide with
        same-round data rows, whose MOR resolution is ``_seq >= del_seq``).

        Scale shape: the host graph is hosts², not URLs² — slim strings
        through pagerank's cached edge join; top-k selection is the same
        distributed two-pass numbering the large-k pop uses (never a
        single-partition window); the frontier update is one bounded MOR
        upsert, and only rows whose priority actually changes are
        rewritten. Determinism: float rank sums jitter at ~1e-15 across
        partitionings, so all ordering happens on parts-per-billion
        integers (the same discipline as the link_pagerank query oracle).
        """
        # unweighted host graph: one edge per distinct (src, dst) pair —
        # per-round fragments re-observe the same pair, distinct folds them
        edges = self.host_edges().select("src_host", "dst_host").distinct()
        ranks = pagerank(
            edges, "src_host", "dst_host", damping=damping, iterations=iterations
        )
        ranks = ranks.select(
            "node",
            (-F.round(F.col("rank") * 1e9).cast("long")).alias("neg_ppb"),
        )
        n_hosts = ranks.count()
        if n_hosts == 0:
            return {"hosts": 0, "top_k": 0, "boosted": 0, "round": None}
        k = max(1, int(math.ceil(top_frac * n_hosts)))
        top = (
            assign_global_seq(
                ranks,
                ["neg_ppb", "node"],
                "pos",
                approx_count=n_hosts,
                scratch=self._scratch,
            )
            .where(F.col("pos") < F.lit(k))
            .select(F.col("node").alias("host"))
        )
        if k <= gates.RESCORE_BROADCAST_MAX:
            top = F.broadcast(top)

        boosted = (
            self.frontier()
            .where((F.col("status") == STATUS_PENDING) & (F.col("priority") > 0))
            .join(top, "host")
            .withColumn(
                "priority",
                F.greatest(F.lit(0), F.col("priority") - F.lit(int(boost))).cast(
                    "int"
                ),
            )
            .select(*[f.name for f in FRONTIER.fields])
            .localCheckpoint(eager=True)  # one computation feeds count +
            # delete keys + new rows; checkpoint instead of cache so the
            # upsert's two write jobs can't race a lazy re-evaluation
        )
        n_boosted = boosted.count()
        rnd = self.store.round + 1
        if n_boosted:
            txn = self.store.transaction(rnd)
            txn.upsert(
                "frontier",
                "url_canon",
                boosted.coalesce(gates.output_files(n_boosted)),
                boosted.select("url_canon"),
            )
            txn.commit()
        self._drain_scratch()
        return {"hosts": n_hosts, "top_k": k, "boosted": n_boosted,
                "round": rnd if n_boosted else None}

    # ------------------------------------------------------------- the loop
    def pending_count(self) -> int:
        return self.frontier().where(F.col("status") == STATUS_PENDING).count()

    def eligible_count(self, rnd: int) -> int:
        """Pending rows that round ``rnd`` would actually pop — the
        pending count minus rows inside a retry-skip window
        (scheduler_service.go:291-303's eligibility gate)."""
        return self._eligible(rnd).count()

    def run(self, max_rounds: int | None = None) -> list[dict]:
        """Round loop (reference: crawlerWorker ticker, crawler_service.go:
        229-248 — a driver for-loop in batch mode). Stops when the frontier
        is exhausted."""
        out = []
        limit = max_rounds if max_rounds is not None else self.cfg.max_rounds
        rnd = self.store.round
        # pre-round exhaustion check, mirroring the oracle's break: a crawl
        # that ends by exhaustion must NOT execute (and commit) one extra
        # empty round. The exact pending count is only paid when the last
        # round could have exhausted the frontier — any round that
        # discovered new URLs leaves them pending, so it cannot have.
        may_be_exhausted = True  # unknown at (re)entry
        while rnd < limit:
            if may_be_exhausted and self.pending_count() == 0:
                break
            rnd += 1
            stats = self.run_round(rnd)
            out.append(stats)
            may_be_exhausted = stats["discovered"] == 0
        return out
