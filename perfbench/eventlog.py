"""Spark event-log reader for the traced runs.

Attributes executor work to labels taken from each job's properties
(job group, streaming batch id). Two rules keep the sums honest:

* only successful, non-speculative task attempts count, so a retried or
  speculative copy of a task is not billed twice;
* labels are parsed with a bounded ``partition``, so a query or group
  name that itself contains ``:`` stays intact.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

BATCH_ID = "streaming.sql.batchId"
JOB_GROUP = "spark.jobGroup.id"
QUERY_ID = "sql.streaming.queryId"


@dataclass
class Usage:
    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    failed_or_speculative_attempts: int = 0

    def add(self, other: "Usage") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class EventLog:
    by_label: dict[str, Usage] = field(default_factory=dict)
    total: Usage = field(default_factory=Usage)
    # (submission time in epoch seconds, label) of every job, in log order
    job_starts: list[tuple[float, str | None]] = field(default_factory=list)

    def get(self, label: str) -> Usage:
        return self.by_label.get(label, Usage())


def log_paths(event_dir: str, app_id: str) -> list[str]:
    """The finished log of ``app_id``: a flat file, or Spark's rolled
    ``eventlog_v2_<app>/events_*`` parts."""
    v2 = os.path.join(event_dir, f"eventlog_v2_{app_id}")
    if os.path.isdir(v2):
        return [
            os.path.join(v2, p) for p in sorted(os.listdir(v2)) if p.startswith("events_")
        ]
    flat = os.path.join(event_dir, app_id)
    if not os.path.exists(flat):
        raise FileNotFoundError(f"no finished event log for {app_id} in {event_dir}")
    return [flat]


def _events(paths: list[str]) -> Iterator[dict]:
    for path in paths:
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def counts_toward_usage(task_end: dict) -> bool:
    info = task_end.get("Task Info") or {}
    reason = (task_end.get("Task End Reason") or {}).get("Reason")
    return (
        reason == "Success"
        and not info.get("Speculative", False)
        and not info.get("Failed", False)
        and not info.get("Killed", False)
    )


def read(
    event_dir: str, app_id: str, label_of: Callable[[dict], str | None]
) -> EventLog:
    """Sum task usage per label. ``label_of`` maps a job's properties to
    a label (or None: counted in ``total`` only)."""
    out = EventLog()
    stage_label: dict[int, str | None] = {}
    for ev in _events(log_paths(event_dir, app_id)):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            label = label_of(ev.get("Properties") or {})
            for s in ev.get("Stage IDs", []):
                stage_label[s] = label
            out.total.jobs += 1
            out.job_starts.append((ev.get("Submission Time", 0) / 1e3, label))
            if label is not None:
                out.by_label.setdefault(label, Usage()).jobs += 1
        elif kind == "SparkListenerTaskEnd":
            u = Usage()
            if not counts_toward_usage(ev):
                u.failed_or_speculative_attempts = 1
            else:
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                u.tasks = 1
                u.task_s = m.get("Executor Run Time", 0) / 1e3
                u.gc_s = m.get("JVM GC Time", 0) / 1e3
                u.shuffle_write_bytes = sw.get("Shuffle Bytes Written", 0)
                u.spill_bytes = m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
            out.total.add(u)
            label = stage_label.get(ev.get("Stage ID"))
            if label is not None:
                out.by_label.setdefault(label, Usage()).add(u)
    return out


def batch_label(query_id: str) -> Callable[[dict], str | None]:
    """Jobs of one streaming query carry its id and their micro-batch id
    as job properties; the label is ``batch:<id>``."""

    def label_of(props: dict) -> str | None:
        b = props.get(BATCH_ID)
        if b is None or props.get(QUERY_ID) != query_id:
            return None
        return f"batch:{b}"

    return label_of


def group_label(prefix: str) -> Callable[[dict], str | None]:
    """Jobs whose group id is ``<prefix>:<rest>``; the label is ``rest``
    verbatim, colons included."""

    def label_of(props: dict) -> str | None:
        grp = props.get(JOB_GROUP) or ""
        head, sep, rest = grp.partition(":")
        return rest if sep and head == prefix else None

    return label_of
