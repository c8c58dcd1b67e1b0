"""Every size threshold on the crawl path, defined once.

A ``*_MAX`` gate picks one of two plans for the same result from a count
already in hand: at or below it the small (driver-side, broadcast or
cached) plan runs, above it the distributed one. A ``*_ROWS`` value is a
sizing divisor (rows per partition, task or file), not a gate. The fetch
has no gate: one plan at every batch size, sized by ``FETCH_TASK_ROWS``.

Callers read ``gates.X`` when they run, never ``from gates import X``, so
a test can put every gate on its large side at once by setting each
``*_MAX`` to 0. Each value carries its unit and a one-line justification
from ``BENCH/BASELINE.md`` (BASELINE) or ``OPTIMIZATION_r06.md``, or says
"unmeasured". Gates are row counts (the filter probe's is bytes); sizing
them by estimated bytes is open (ROADMAP item 4).
"""

from __future__ import annotations

#: rows popped: the pop is a cached TakeOrdered at or below, a distributed
#: range sort above. BASELINE round-1 journal item 2: driver-bound above it.
SMALL_BATCH_MAX = 100_000

#: rows: one-partition row_number numbering; batch size: the pop collects
#: its keys (count, frontier delete keys). Unmeasured.
DRIVER_COLLECT_MAX = 200_000

#: rows failed: fetch_seq subtracts collected failed pop_seqs. Unmeasured.
ERROR_COLLECT_MAX = 2_000_000

#: hosts: the rescore's top-k host list is broadcast. Unmeasured.
RESCORE_BROADCAST_MAX = 1_000_000

#: rows: a MOR read broadcasts its accumulated delete set. Unmeasured.
DELETE_BROADCAST_MAX = 1_000_000

#: bytes: the seen-filter probe broadcasts every bucket file. Unmeasured.
FILTER_BROADCAST_MAX = 64 << 20

#: popped rows per fetch task, up to one task per corpus bucket. perfbench,
#: 4 cores: 231 rows fetch in 1 task, 101k in 24 (fetch 6.7 -> 4.3 s against
#: the join it replaced); other values unmeasured.
FETCH_TASK_ROWS = 4096

#: rows per file of a per-round delta (seen, host edges, upserts). Unmeasured.
DELTA_FILE_ROWS = 100_000

#: rows per egress event file. BASELINE round 5: 20M events publish in 2.2 s.
EGRESS_FILE_ROWS = 1_000_000

#: files per per-round write, at most. Unmeasured.
MAX_OUTPUT_FILES = 64


def output_files(n_rows: int, rows_per_file: int | None = None) -> int:
    """Files for an ``n_rows`` write: one per ``rows_per_file`` (default
    ``DELTA_FILE_ROWS``), at least 1 and at most ``MAX_OUTPUT_FILES``."""
    per = DELTA_FILE_ROWS if rows_per_file is None else rows_per_file
    return max(1, min(MAX_OUTPUT_FILES, n_rows // per + 1))
