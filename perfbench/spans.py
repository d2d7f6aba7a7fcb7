"""Benchmark-side spans, Spark job attribution and the per-module ledger.

A span wraps one public engine call made by the benchmark: name
(``<module>.<function>``), start, end, parent and the run id shared by
every span of the run. Spans stay in memory and are written out once,
at the end of the run.

With tracing on, the span's id is also set as the Spark job group, so
``StatusTracker`` job counts land on spans, and the Spark event log
(switched on by the launcher, see ``run.py``) is parsed afterwards to
assign task time, shuffle bytes and spill to spans. Jobs started by a
streaming query run under the query's own job group; they are assigned
to the innermost span whose interval contains the job's submission.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
import uuid
from contextlib import contextmanager


class Tracer:
    """Records spans; ``cpus`` is the number of cores the run's Spark
    stages use in parallel (see ``adj`` below)."""

    def __init__(self, traced: bool, cpus: int):
        self.traced = traced
        self.cpus = cpus
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None  # set once a SparkContext exists

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "name": name, "parent": parent,
            "run_id": self.run_id, "t0": time.time(), **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        group = f"{self.run_id}:{rec['id']}"
        if self.traced and self.sc is not None:
            self.sc.setJobGroup(group, name)
        c0, st0 = tree_cpu_s(), _steal()
        p0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - p0
            rec["t1"] = rec["t0"] + rec["dur"]
            rec["cpu"] = tree_cpu_s() - c0
            st1 = _steal()
            rec["steal"] = (st1[0] - st0[0]) / max(st1[1] - st0[1], 1)
            # steal-corrected wall: while the host steals a share s of
            # each vCPU, a stage spread over `cpus` cores stalls whenever
            # any one of them is descheduled, so the call runs about
            # (1 + cpus * s) times longer than on an idle host
            rec["adj"] = rec["dur"] / (1.0 + self.cpus * rec["steal"])
            self._stack.pop()
            if self.traced and self.sc is not None:
                rec["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(group))
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.sc.setJobGroup(f"{self.run_id}:{parent}", self.spans[parent]["name"])

    # -- ledger ------------------------------------------------------------

    def self_times(self) -> None:
        """Self time = duration minus the union of child intervals."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            covered, end = 0.0, s["t0"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["t0"]):
                lo, hi = max(c["t0"], end), min(c["t1"], s["t1"])
                if hi > lo:
                    covered += hi - lo
                end = max(end, c["t1"])
            s["self"] = s["dur"] - covered

    def module_ledger(self, root_id: int) -> dict[str, float]:
        """Σ self time per module over the subtree under ``root_id``."""
        under = {root_id}
        out: dict[str, float] = {}
        for s in self.spans:  # parents precede children
            if s["parent"] in under:
                under.add(s["id"])
                mod = s["name"].split(".")[0]
                out[mod] = out.get(mod, 0.0) + s["self"]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def read_event_logs(log_dir: str) -> dict[int, dict]:
    """Parse every Spark event log in ``log_dir`` into per-job records:
    {job: {"group", "batch" (streaming micro-batch id or None), "submit",
    "end", "tasks", "task_s", "shuffle_write", "spill", "stage_rdds",
    "task_walls"}} (times in epoch seconds)."""
    jobs: dict[tuple, dict] = {}
    stage_job: dict[tuple, tuple] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        app = os.path.basename(path)
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    key = (app, ev["Job ID"])
                    props = ev.get("Properties") or {}
                    jobs[key] = {
                        "group": props.get("spark.jobGroup.id"),
                        "batch": props.get("streaming.sql.batchId"),
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None, "tasks": 0, "task_s": 0.0,
                        "shuffle_write": 0, "spill": 0, "stage_rdds": {},
                    }
                    for st in ev.get("Stage Infos", []):
                        stage_job[(app, st["Stage ID"])] = key
                        jobs[key]["stage_rdds"][st["Stage ID"]] = [
                            r.get("Scope", "") + " " + r.get("Name", "")
                            for r in st.get("RDD Info", [])
                        ]
                elif kind == "SparkListenerJobEnd":
                    key = (app, ev["Job ID"])
                    if key in jobs:
                        jobs[key]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    key = stage_job.get((app, ev["Stage ID"]))
                    m = ev.get("Task Metrics") or {}
                    if key is None or not m:
                        continue
                    j = jobs[key]
                    info = ev["Task Info"]
                    j["tasks"] += 1
                    j["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    j["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    j["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    j.setdefault("task_walls", {}).setdefault(ev["Stage ID"], []).append(
                        ((info["Finish Time"] - info["Launch Time"]) / 1000.0,
                         info["Finish Time"] / 1000.0))
    return {i: j for i, j in enumerate(sorted(jobs.values(), key=lambda j: j["submit"]))}


def assign_jobs(tracer: Tracer, jobs: dict[int, dict]) -> None:
    """Attach each job to its span: by job group when it is one of ours,
    else to the innermost span open at the job's submission."""
    by_id = {s["id"]: s for s in tracer.spans}
    for s in tracer.spans:
        s["ev_jobs"] = []
    for job in jobs.values():
        sid = None
        g = job["group"] or ""
        if g.startswith(tracer.run_id + ":"):
            sid = int(g.split(":")[1])
        else:
            best = None
            for s in tracer.spans:
                if s["t0"] <= job["submit"] <= s.get("t1", 0) and (
                    best is None or s["t0"] >= best["t0"]
                ):
                    best = s
            sid = best["id"] if best else None
        if sid is not None:
            by_id[sid]["ev_jobs"].append(job)


def subtree_jobs(tracer: Tracer, span_id: int) -> list[dict]:
    under = {span_id}
    out = []
    for s in tracer.spans:
        if s["id"] in under or s["parent"] in under:
            under.add(s["id"])
            out.extend(s.get("ev_jobs", []))
    return out


def _proc_tree() -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process tree (driver, JVM,
    Python workers); a vCPU's stolen time is not charged to it."""
    total = 0
    for p in _proc_tree():
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            continue
    return total / _TICK


def _steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


class RssSampler:
    """Peak resident memory of this process tree: the driver Python, the
    JVM it launched and the JVM's Python workers. The tree's summed RSS
    is sampled every 50 ms on a daemon thread; the peak sample is kept."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def start(self):
        self._t.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._t.join()
        self._sample()
        return self.peak_kb / 1024.0

    def _run(self):
        while not self._stop.wait(0.05):
            self._sample()

    def _sample(self):
        total = 0
        for p in _proc_tree():
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * _PAGE_KB
            except (OSError, IndexError, ValueError):
                continue
        self.peak_kb = max(self.peak_kb, total)
