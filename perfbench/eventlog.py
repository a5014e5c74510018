"""Spark event-log parser: stages, jobs and task metrics attributed to
the benchmark's spans.

Attribution of one stage (or job), using the properties Spark logs with
it and its submission time:

1. its job group names a span: the stage belongs to that span, or to
   the innermost pool-less descendant whose interval holds the
   submission time (phase spans added after a call refine the call);
2. else its scheduler pool names a span (the pipeline runs each leg in
   its own pool from its own thread, where no job group is set): the
   latest-starting span of that pool whose interval holds the time;
3. else the innermost pool-less span whose interval holds the time.

A stage that matches no span is reported as unattributed.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

STAT_KEYS = ("jobs", "stages", "tasks", "core_s", "cpu_s", "gc_s",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


@dataclass
class Unit:
    """A job or a stage attempt as logged."""
    key: tuple
    submit_ms: float
    props: dict
    stats: dict = field(default_factory=lambda: dict.fromkeys(STAT_KEYS, 0))


def _task_stats(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return {
        "tasks": 1,
        "core_s": m.get("Executor Run Time", 0) / 1e3,
        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Disk Bytes Spilled", 0),
    }


def parse(lines) -> tuple[list[Unit], list[Unit]]:
    """(jobs, stage attempts) from event-log JSON lines."""
    jobs: list[Unit] = []
    stages: dict[tuple, Unit] = {}
    for line in lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            u = Unit(("job", ev["Job ID"]), ev.get("Submission Time", 0),
                     ev.get("Properties") or {})
            u.stats["jobs"] = 1
            jobs.append(u)
        elif kind == "SparkListenerStageSubmitted":
            si = ev["Stage Info"]
            key = (si["Stage ID"], si.get("Stage Attempt ID", 0))
            u = Unit(key, si.get("Submission Time", 0), ev.get("Properties") or {})
            u.stats["stages"] = 1
            stages[key] = u
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            u = stages.get(key)
            if u is None:  # task of a stage whose submission was not logged
                u = stages[key] = Unit(key, ev["Task Info"]["Launch Time"], {})
                u.stats["stages"] = 1
            for k, v in _task_stats(ev).items():
                u.stats[k] += v
    return jobs, list(stages.values())


def read_dir(path: Path) -> tuple[list[Unit], list[Unit]]:
    """Parse every event-log file under ``path`` (rolling logs are dirs)."""
    lines: list[str] = []
    for f in sorted(p for p in Path(path).rglob("*") if p.is_file()):
        lines.extend(f.read_text(errors="ignore").splitlines())
    return parse(lines)


def _contains(sp, t: float) -> bool:
    return sp.start_ms <= t <= sp.end_ms


def _owner(u: Unit, spans, by_id, children):
    group = u.props.get("spark.jobGroup.id")
    if group in by_id:
        sp = by_id[group]
        while True:
            inner = [c for c in children.get(sp.id, ())
                     if c.pool is None and _contains(c, u.submit_ms)]
            if not inner:
                return sp
            sp = max(inner, key=lambda c: c.start_ms)
    pool = u.props.get("spark.scheduler.pool")
    pooled = [s for s in spans if pool and s.pool == pool and _contains(s, u.submit_ms)]
    if pooled:
        return max(pooled, key=lambda s: s.start_ms)
    timed = [s for s in spans if s.pool is None and _contains(s, u.submit_ms)]
    if timed:
        return max(timed, key=lambda s: (s.start_ms, -s.end_ms))
    return None


def attribute(spans, jobs: list[Unit], stages: list[Unit]) -> tuple[dict, dict]:
    """({span id: direct stats}, unattributed stats)."""
    by_id = {s.id: s for s in spans}
    children: dict[str, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    per = {s.id: dict.fromkeys(STAT_KEYS, 0) for s in spans}
    lost = dict.fromkeys(STAT_KEYS, 0)
    for u in (*jobs, *stages):
        owner = _owner(u, spans, by_id, children)
        acc = per[owner.id] if owner is not None else lost
        for k, v in u.stats.items():
            acc[k] += v
    return per, lost


def inclusive(spans, direct: dict) -> dict:
    """Direct stats plus those of every descendant span."""
    out = {s.id: dict(direct[s.id]) for s in spans}
    by_id = {s.id: s for s in spans}
    for s in spans:
        p = s.parent
        while p is not None:
            for k, v in direct[s.id].items():
                out[p][k] += v
            p = by_id[p].parent
    return out


def self_time_s(span, spans) -> float:
    """Span duration minus the part of it its child spans cover."""
    ivs = sorted((max(c.start_ms, span.start_ms), min(c.end_ms, span.end_ms))
                 for c in spans if c.parent == span.id)
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in ivs:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (span.end_ms - span.start_ms - covered) / 1000.0
