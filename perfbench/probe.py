"""Counters read from outside the engine.

Nothing here asks the engine how it did: CPU and memory come from
``/proc``, round trips from a wrapper on py4j's socket send, Spark job,
stage and task counts from the status tracker, shuffle bytes from Spark's
own event log, and table layout from the public ``LakeTable`` API.
"""

from __future__ import annotations

import json
import os

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def cpu_seconds(pid: int) -> float:
    """User + system CPU of one process, from /proc/<pid>/stat."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM), in MiB."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def dir_bytes(root: str, name: str) -> int:
    """Bytes of the regular files under ``root`` inside directories called
    ``name``."""
    total = 0
    for d, _, files in os.walk(root):
        if name not in d.split(os.sep):
            continue
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


class Py4jCounter:
    """Counts py4j round trips by wrapping ``ClientServerConnection
    .send_command``. Only counts: the time inside a send includes whatever
    the JVM does before it answers, so it is not a transport cost."""

    def __init__(self):
        from py4j import clientserver

        self._cls = clientserver.ClientServerConnection
        self._orig = self._cls.send_command
        self.calls = 0

    def install(self) -> None:
        orig, counter = self._orig, self

        def send_command(conn, command):
            counter.calls += 1
            return orig(conn, command)

        self._cls.send_command = send_command

    def uninstall(self) -> None:
        self._cls.send_command = self._orig


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under job group ``group``."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            si = st.getStageInfo(s)
            if si is not None:
                stages += 1
                tasks += si.numTasks
    return len(jobs), stages, tasks


def shuffle_bytes_by_group(event_dir: str) -> dict[str, int]:
    """Shuffle bytes written per job group, parsed from the Spark event
    log(s) in ``event_dir`` (read after the session has stopped, so the
    log is flushed)."""
    stage_group: dict[int, str] = {}
    out: dict[str, int] = {}
    paths = sorted(
        os.path.join(d, n)
        for d, _, names in os.walk(event_dir)
        for n in names
        if n.startswith(("events_", "local-", "eventlog"))
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is not None:
                        for s in ev.get("Stage IDs", []):
                            stage_group[s] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    m = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics")
                    if g is not None and m:
                        out[g] = out.get(g, 0) + int(m.get("Shuffle Bytes Written", 0))
    return out


def merge_rows(table, after_version: int = -1) -> list[tuple[int, int]]:
    """(rows written, rows changed) of each of a table's MERGE commits
    after ``after_version``, from the public ``history()`` metrics."""
    out = []
    for h in table.history():
        if h["operation"] != "MERGE" or h["version"] <= after_version:
            continue
        m = h["metrics"] or {}
        out.append(
            (
                int(m.get("num_written_rows", 0)),
                sum(
                    int(m.get(k, 0))
                    for k in ("num_updated_rows", "num_deleted_rows", "num_inserted_rows")
                ),
            )
        )
    return out


def layout(table) -> tuple[int, int]:
    """(live data files, their bytes) of a table, from ``files()``."""
    files = table.files()
    return len(files), sum(os.path.getsize(f) for f in files)
