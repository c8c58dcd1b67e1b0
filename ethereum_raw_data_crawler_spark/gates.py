"""Every size threshold on the crawl path, defined once.

A ``*_MAX`` gate picks one of two plans for the same result from a count
already in hand: at or below it the small (driver-side, broadcast or
cached) plan runs, above it the distributed one. A ``*_ROWS`` value is a
sizing divisor (rows per partition or per file), not a gate.

Callers read ``gates.X`` when they run, never ``from gates import X``, so
a test can put every gate on its large side at once by setting each
``*_MAX`` to 0. Each value carries its unit and a one-line justification
from ``BENCH/BASELINE.md`` (BASELINE) or ``OPTIMIZATION_r06.md``, or says
"unmeasured". Gates are row counts (the filter probe's is bytes); sizing
them by estimated bytes is open (ROADMAP item 2).
"""

from __future__ import annotations

#: rows popped: TakeOrdered pop (cached) + broadcast fetch join at or below.
#: BASELINE round-1 journal items 2 and 6: both were driver-bound above it.
SMALL_BATCH_MAX = 100_000

#: rows: one-partition row_number numbering; batch size: the pop collects
#: its keys (count, corpus buckets, frontier delete keys). Unmeasured.
DRIVER_COLLECT_MAX = 200_000

#: rows popped: the fetch join's hit set (html included) is cached at or below.
#: BASELINE rounds 3-4: uncaching took 20M 568.6 -> 420.3 s; 2M is unmeasured.
HITS_CACHE_MAX = 2_000_000

#: rows failed: fetch_seq subtracts collected failed pop_seqs. Unmeasured.
ERROR_COLLECT_MAX = 2_000_000

#: hosts: the rescore's top-k host list is broadcast. Unmeasured.
RESCORE_BROADCAST_MAX = 1_000_000

#: rows: a MOR read broadcasts its accumulated delete set. Unmeasured.
DELETE_BROADCAST_MAX = 1_000_000

#: bytes: the seen-filter probe broadcasts every bucket file. Unmeasured.
FILTER_BROADCAST_MAX = 64 << 20

#: rows per shuffled-hash build partition of the fetch join. BASELINE round 5:
#: 10M-row builds thrashed GC (~100 min vs 23 min); 1.5M is low hundreds of MB.
SHJ_BUILD_ROWS = 1_500_000

#: rows per file of a per-round delta (seen, host edges, upserts). Unmeasured.
DELTA_FILE_ROWS = 100_000

#: rows per egress event file. BASELINE round 5: 20M events publish in 2.2 s.
EGRESS_FILE_ROWS = 1_000_000

#: files per per-round write, at most. Unmeasured.
MAX_OUTPUT_FILES = 64


def shj_width(n_build_rows: int, conf_width: int) -> int:
    """Partition count for a shuffled-hash join exchange: at least the
    session's shuffle width (wide clusters keep their parallelism), but
    never fewer partitions than it takes to hold <= SHJ_BUILD_ROWS build
    rows each — the invariant that makes a hash build safe at any
    (batch size, cluster width) combination."""
    return max(conf_width, -(-n_build_rows // SHJ_BUILD_ROWS))


def output_files(n_rows: int, rows_per_file: int | None = None) -> int:
    """Files for an ``n_rows`` write: one per ``rows_per_file`` (default
    ``DELTA_FILE_ROWS``), at least 1 and at most ``MAX_OUTPUT_FILES``."""
    per = DELTA_FILE_ROWS if rows_per_file is None else rows_per_file
    return max(1, min(MAX_OUTPUT_FILES, n_rows // per + 1))
