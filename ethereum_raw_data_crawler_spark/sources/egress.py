"""Publish-after-commit event egress: the per-page event stream for
downstream consumers.

The reference publishes one NATS message per saved transaction, strictly
AFTER the database save succeeds (reference:
internal/infrastructure/messaging/nats_client.go:165-263;
crawler_service.go:592-607 publish-only-after-save). The Spark recast
keeps exactly that ordering with at-least-once delivery:

  * events for round ``r`` are derived from the pages fragment that
    round's manifest swap just made visible — uncommitted data can never
    be published, because publishing READS the committed snapshot;
  * a ``_round-<r>.done`` marker is written after the event file; a crash
    between commit and publish leaves a committed round without a marker,
    and ``catch_up`` re-emits it on resume — the same at-least-once
    redelivery window a NATS publisher has between DB save and publish.

Consumers tail the directory as a Structured Streaming file source
(``spark.readStream.schema(EVENT).parquet(egress_dir)``) — the file-sink
analogue of a NATS subject."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ethereum_raw_data_crawler_spark import gates

EVENT = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("fetch_round", T.IntegerType(), False),
        T.StructField("fetch_seq", T.LongType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("lang", T.StringType(), False),
    ]
)


class EgressWriter:
    def __init__(self, egress_dir: str) -> None:
        self.egress_dir = egress_dir
        os.makedirs(egress_dir, exist_ok=True)

    def _marker(self, rnd: int) -> str:
        return os.path.join(self.egress_dir, f"_round-{rnd}.done")

    def emitted(self, rnd: int) -> bool:
        return os.path.exists(self._marker(rnd))

    def emit_round(self, spark: SparkSession, store, rnd: int) -> int:
        """Publish the page events of committed round ``rnd`` (idempotent:
        a second call overwrites the same directory and re-marks).

        ONE Spark job: the write itself. The event count comes from the
        fragment's parquet footers (events are a 1:1 projection of the
        fragment's rows — no second computation of the projection), and
        the file count is size-gated instead of ``coalesce(1)`` so a
        10^7-page round publishes through many tasks, not one."""
        from ethereum_raw_data_crawler_spark.schemas import PAGES_OUT

        frags = [
            f
            for f in store.manifest()["tables"]["pages_out"]["fragments"]
            if f["seq"] == rnd
        ]
        if not frags:
            open(self._marker(rnd), "w").close()
            return 0
        n = store.fragment_rows(frags)  # footers only, no job
        pages = store._read_fragments(spark, frags, PAGES_OUT)
        events = pages.select(
            "url", "fetch_round", "fetch_seq", "warc_ts", "lang"
        )
        out = os.path.join(self.egress_dir, f"round-{rnd}")
        nparts = gates.output_files(n, gates.EGRESS_FILE_ROWS)
        events.coalesce(nparts).write.mode("overwrite").parquet(out)
        open(self._marker(rnd), "w").close()
        return n

    def catch_up(self, spark: SparkSession, store) -> list[int]:
        """Re-emit committed rounds that have no marker (crash between
        commit and publish) — at-least-once redelivery on resume."""
        seqs = sorted(
            {
                f["seq"]
                for f in store.manifest()["tables"]["pages_out"]["fragments"]
            }
        )
        redone = []
        for rnd in seqs:
            if not self.emitted(rnd):
                self.emit_round(spark, store, rnd)
                redone.append(rnd)
        return redone

    def read_events(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(EVENT).parquet(
            os.path.join(self.egress_dir, "round-*")
        )

    def read_stream(
        self, spark: SparkSession, max_files_per_trigger: int | None = None
    ) -> DataFrame:
        """Structured Streaming tail of the event stream (the downstream
        consumer's entry point — the NATS subscription analogue)."""
        reader = spark.readStream.schema(EVENT).option(
            "pathGlobFilter", "*.parquet"
        )
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        return reader.parquet(os.path.join(self.egress_dir, "round-*"))
