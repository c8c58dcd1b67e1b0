"""Metric names and units, and the per-layer metrics of a traced run.

Per-layer values are means per traced round, unless the name says
otherwise; a layer a workload does not exercise reads 0.
"""

from __future__ import annotations

import json
import statistics
import sys

import eventlog
from crawl import PHASES, PROBE

END_TO_END = {
    "urls_per_s": "1/s",
    "round_s": "s",
    "cpu_s_per_kurl": "s",
    "setup_s": "s",
    "peak_rss_gb": "GB",
}

#: Spark runtime counters folded per phase from the event log and /proc
PHASE_FIELDS = {
    "cpu_s": "s",
    "proc_cpu_s": "s",
    "gc_s": "s",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "python_sent_mb": "MB",
    "python_recv_mb": "MB",
    "jobs": "count",
}

#: counters the tracer records at the engine's boundaries, per round
COUNTERS = {
    "priority_pop.eligible_rows": "rows",
    "priority_pop.popped_rows": "rows",
    "bloom.add_keys_s": "s",
    "bloom.keys_added": "count",
    "bloom.bytes": "bytes",
    "tablestore.commit_pages_s": "s",
    "tablestore.commit_seen_s": "s",
    "tablestore.commit_frontier_s": "s",
    "tablestore.bytes_written_mb": "MB",
    "tablestore.write_amp": "ratio",
    "tablestore.manifest_kb": "KB",
    "tablestore.fragments": "count",
    "tablestore.delete_debt": "frac",
    "egress.events": "count",
}

PER_LAYER = {
    **{f"rounds.{p}_s": "s" for p in PHASES},
    "rounds.unattributed_s": "s",
    "rounds.wall_s": "s",
    "rounds.jobs": "count",
    "rounds.tasks": "count",
    "rounds.unattributed_jobs": "count",
    "rounds.samples": "count",
    "setup.session_s": "s",
    "setup.create_s": "s",
    **COUNTERS,
    "seen.candidates": "rows",
    "seen.maybe_frac": "frac",
    "seen.false_pos_frac": "frac",
    "extract.us_per_page": "us",
    **{f"{p}.{f}": u for p in PHASES for f, u in PHASE_FIELDS.items()},
    "trace.probe_s": "s",
    "trace.overhead_frac": "frac",
}


def units() -> dict[str, str]:
    return {**END_TO_END, **PER_LAYER}


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def per_layer(run, session_s: float, sampler, event_dir: str, extract_us: float) -> dict:
    rounds = run.rounds
    n = len(rounds)
    jobs = eventlog.read_jobs(event_dir)
    phase_tot = {p: dict.fromkeys(PHASE_FIELDS, 0.0) for p in PHASES}
    round_jobs = round_tasks = unattributed_jobs = 0
    for r in rounds:
        intervals = r.intervals()
        by_phase = eventlog.attribute(
            jobs, intervals + [("unattributed", r.t0, r.t1)], exclude_description=PROBE
        )
        for name, a, b in intervals:
            tot = eventlog.fold(by_phase.get(name, []))
            # tree CPU of the phase minus that of the tracer's own jobs
            tot["proc_cpu_s"] = sampler.cpu_between(a, b) - sum(
                sampler.cpu_between(max(a, s), min(b, e))
                for s, e in r.layer.get("probe_spans", [])
                if s < b and e > a
            )
            for f in PHASE_FIELDS:
                phase_tot[name][f] += tot[f]
        inside = [j for p in PHASES + ("unattributed",) for j in by_phase.get(p, [])]
        round_jobs += len(inside)
        round_tasks += eventlog.fold(inside)["tasks"]
        unattributed_jobs += len(by_phase.get("unattributed", []))

    c = {k: _mean(r.layer.get(k, 0) for r in rounds) for k in COUNTERS}
    cand = sum(r.layer.get("seen.candidates", 0) for r in rounds)
    maybe = sum(r.layer.get("seen.maybe", 0) for r in rounds)
    fp = sum(r.layer.get("seen.false_pos", 0) for r in rounds)
    probe = sum(r.probe_s() for r in rounds)
    wall = sum(r.wall_s for r in rounds)
    out = {
        **{
            f"rounds.{p}_s": _mean(r.stats["phases_ms"].get(p, 0) / 1e3 for r in rounds)
            for p in PHASES
        },
        "rounds.unattributed_s": _mean(r.unattributed_s() for r in rounds),
        "rounds.wall_s": statistics.median(r.wall_s for r in rounds),
        "rounds.jobs": round_jobs / n,
        "rounds.tasks": round_tasks / n,
        "rounds.unattributed_jobs": unattributed_jobs / n,
        "rounds.samples": n,
        "setup.session_s": session_s,
        "setup.create_s": run.create_s,
        **c,
        "seen.candidates": cand / n,
        "seen.maybe_frac": maybe / cand if cand else 0.0,
        "seen.false_pos_frac": fp / maybe if maybe else 0.0,
        "extract.us_per_page": extract_us,
        **{
            f"{p}.{f}": phase_tot[p][f] / n for p in PHASES for f in PHASE_FIELDS
        },
        "trace.probe_s": probe / n,
        "trace.overhead_frac": probe / (wall - probe) if wall > probe else 0.0,
    }
    _print_phase_table(out, rounds)
    return out


def _print_phase_table(m: dict, rounds) -> None:
    cols = tuple(PHASE_FIELDS)
    err = sys.stderr
    print(f"per-phase means over {len(rounds)} traced rounds", file=err)
    print(f"{'phase':<13}{'wall_s':>8}" + "".join(f"{c:>17}" for c in cols), file=err)
    for p in PHASES:
        print(
            f"{p:<13}{m[f'rounds.{p}_s']:>8.3f}"
            + "".join(f"{m[f'{p}.{c}']:>17.3f}" for c in cols),
            file=err,
        )
    print(f"{'unattributed':<13}{m['rounds.unattributed_s']:>8.3f}", file=err)
    total = sum(m[f"rounds.{p}_s"] for p in PHASES) + m["rounds.unattributed_s"]
    outside = _mean(r.wall_s for r in rounds)
    print(f"{'sum':<13}{total:>8.3f}  (outside-timed round mean {outside:.3f} s; "
          f"tracing probes {m['trace.probe_s']:.3f} s/round)", file=err)


def write_trace(run, path: str) -> None:
    """Spans of the traced run, written once at the end."""
    spans = [{"name": "create", "start": a, "end": b} for a, b in run.create_spans]
    for r in run.rounds:
        rid = f"leg{r.leg}/r{r.rnd}"
        spans.append({"name": "run_round", "id": rid, "start": r.t0, "end": r.t1})
        spans += [
            {"name": p, "parent": rid, "start": a, "end": b} for p, a, b in r.intervals()
        ]
        spans += [
            {"name": "probe", "parent": rid, "start": a, "end": b}
            for a, b in r.layer.get("probe_spans", [])
        ]
    with open(path, "w") as fh:
        json.dump({"spans": spans, "rounds": [r.layer | {"stats": r.stats} for r in run.rounds]}, fh)
