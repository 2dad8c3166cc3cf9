"""Process accounting from /proc and a reader for Spark's JSON event log.

* ``ProcTree`` -- CPU seconds and resident memory of the Spark JVM plus the
  processes under it (the PySpark daemon and its Python workers).  CPU is
  ``utime+stime+cutime+cstime`` summed over the live tree, so the time of a
  worker that has exited and been reaped is still counted, in its parent.
* ``RssSampler`` -- a thread that polls the tree's resident memory and keeps
  the peak.
* ``read_event_log`` -- parses the event-log directory that
  ``spark.eventLog.dir`` names (stdlib ``json`` only) into per-job records,
  each tagged with the ``perfbench.tag`` local property that was set when
  the action ran, and the Python call site PySpark stamped on it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    return raw[raw.rindex(")") + 2:].split()


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class ProcTree:
    def __init__(self, root_pid: int):
        self.root = root_pid

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit() and (st := _stat(int(name))) is not None:
                children.setdefault(int(st[1]), []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        ticks = 0
        for pid in self.pids():
            if (st := _stat(pid)) is not None:
                ticks += sum(int(x) for x in st[11:15])
        return ticks / _CLK

    def rss_mb(self) -> float:
        """RSS of the JVM plus its Python processes.  Other children are left
        out: the JVM spawns helpers with vfork, and until their exec they
        report the JVM's own RSS, which would count it twice."""
        pages = 0
        for pid in self.pids():
            st = _stat(pid)
            if st is not None and (pid == self.root or _comm(pid).startswith("python")):
                pages += int(st[21])
        return pages * _PAGE / (1 << 20)


class RssSampler:
    """Peak of ``ProcTree.rss_mb`` while running (use as a context manager)."""

    def __init__(self, tree: ProcTree, interval_s: float = 0.25):
        self.tree = tree
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, self.tree.rss_mb())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, self.tree.rss_mb())


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

STAGE_KEYS = ("task_cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
              "spill_disk_mb", "spill_mem_mb", "output_mb")


def _task_values(tm: dict) -> dict[str, float]:
    mb = 1 << 20
    sr = tm.get("Shuffle Read Metrics", {})
    return {
        "task_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "shuffle_write_mb": tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / mb,
        "shuffle_read_mb": (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / mb,
        "spill_disk_mb": tm.get("Disk Bytes Spilled", 0) / mb,
        "spill_mem_mb": tm.get("Memory Bytes Spilled", 0) / mb,
        "output_mb": tm.get("Output Metrics", {}).get("Bytes Written", 0) / mb,
    }


def read_event_log(log_dir: str) -> list[dict]:
    """One record per Spark job: ``{job_id, tag, call_site, stages: {id:
    {run_ms: [...], **STAGE_KEYS}}}``.  Stages are the ones that
    ran (skipped stages have no tasks and are left out)."""
    jobs: dict[tuple[str, int], dict] = {}
    stage_job: dict[tuple[str, int], dict] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))):
        app = os.path.basename(os.path.dirname(path))
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    infos = ev["Stage Infos"]
                    site = props.get("callSite.short") or max(infos, key=lambda s: s["Stage ID"])["Stage Name"]
                    job = {"app": app, "job_id": ev["Job ID"], "tag": props.get("perfbench.tag", ""),
                           "call_site": site, "stages": {}}
                    jobs[(app, ev["Job ID"])] = job
                    for sid in ev["Stage IDs"]:
                        stage_job[(app, sid)] = job
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get((app, ev["Stage ID"]))
                    tm = ev.get("Task Metrics")
                    if job is None or tm is None:
                        continue
                    st = job["stages"].setdefault(ev["Stage ID"], {"run_ms": [], **dict.fromkeys(STAGE_KEYS, 0.0)})
                    st["run_ms"].append(tm.get("Executor Run Time", 0))
                    for k, v in _task_values(tm).items():
                        st[k] += v
    return list(jobs.values())


def summarize(jobs: list[dict]) -> dict[str, float]:
    """Stage totals over ``jobs``, plus job/stage counts and the task skew
    (max / median task run time) of the widest stage."""
    out = dict.fromkeys(STAGE_KEYS, 0.0)
    stages = [st for j in jobs for st in j["stages"].values()]
    for st in stages:
        for k in STAGE_KEYS:
            out[k] += st[k]
    out["spark_jobs"] = float(len(jobs))
    out["spark_stages"] = float(len(stages))
    out["task_skew"] = 0.0
    if stages:
        widest = max(stages, key=lambda st: (len(st["run_ms"]), sum(st["run_ms"])))
        out["task_skew"] = max(widest["run_ms"]) / max(statistics.median(widest["run_ms"]), 1.0)
    return out


def by_call_site(jobs: list[dict]) -> dict[str, dict[str, float]]:
    """Stage totals per (tag, call site), for the human-readable table."""
    groups: dict[str, list[dict]] = {}
    for j in jobs:
        groups.setdefault(f"{j['tag']} | {j['call_site']}", []).append(j)
    return {k: summarize(v) for k, v in groups.items()}
