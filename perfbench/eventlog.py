"""Per-job-group totals from a Spark event log.

The traced run tags every span with ``SparkContext.setJobGroup`` and turns
on the event log uncompressed (``spark.eventLog.compress=false``: this
Python has no zstd module). After the context stops, :func:`parse`
folds the log into one :class:`GroupTotals` per job group:

- jobs and executed stages (a stage skipped because its shuffle output
  was reused emits no ``StageCompleted`` and is not counted);
- tasks, failed tasks, JVM GC time, shuffle bytes written, disk spill;
- the Python-worker SQL metrics: time to start, initialize and run
  Python workers, and the bytes sent to and returned from them.

Task events carry no job group, so they are mapped through the stage ids
each ``JobStart`` lists.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, fields

#: task accumulable name -> GroupTotals field it adds to
_ACCUMS = {
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "time to start Python workers": "py_start_init_ms",
    "time to initialize Python workers": "py_start_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_bytes_in",
    "data returned from Python workers": "py_bytes_out",
}


@dataclass
class GroupTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: int = 0
    py_start_init_ms: int = 0
    py_run_ms: int = 0
    py_bytes_in: int = 0
    py_bytes_out: int = 0

    def as_dict(self) -> dict[str, int]:
        return {f.name: getattr(self, f.name) for f in fields(self)}

    def __add__(self, other: "GroupTotals") -> "GroupTotals":
        return GroupTotals(**{k: v + getattr(other, k) for k, v in self.as_dict().items()})


def event_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir``: plain single-file logs and the
    rolling ``eventlog_v2_*/events_<n>_*`` layout, in write order."""
    rolled = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if rolled:
        return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(
        p for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not os.path.basename(p).startswith(".")
    )


def parse(paths: list[str]) -> dict[str, GroupTotals]:
    """Job group id -> totals. Jobs without a group are left out."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupTotals] = {}
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    out.setdefault(group, GroupTotals()).jobs += 1
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    group = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if group is not None:
                        out[group].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is not None:
                        _add_task(out[group], ev)
    return out


def _add_task(t: GroupTotals, ev: dict) -> None:
    t.tasks += 1
    if ev["Task End Reason"]["Reason"] != "Success":
        t.failed_tasks += 1
    for acc in ev["Task Info"].get("Accumulables", []):
        name = _ACCUMS.get(acc.get("Name"))
        if name is not None:
            setattr(t, name, getattr(t, name) + int(acc["Update"]))


def totals(groups: dict[str, GroupTotals], prefix: str) -> GroupTotals:
    """Sum over every group whose id starts with ``prefix``."""
    acc = GroupTotals()
    for gid, t in groups.items():
        if gid.startswith(prefix):
            acc = acc + t
    return acc
