"""Process-tree accounting from /proc and the fold of Spark's JSON event log.

Two independent sources of per-run numbers:

- ``ProcTree`` reads CPU time and resident memory of this process and every
  descendant (the driver JVM, its Python daemon and workers) straight from
  /proc, so end-to-end CPU and memory need no Spark cooperation at all.
- ``fold_eventlogs`` reads the uncompressed, non-rolling event logs that
  ``spark.eventLog.enabled`` wrote into one directory and sums task, stage,
  job and SQL-node metrics per *phase*.  A phase is the job description the benchmark sets with
  ``SparkContext.setJobDescription`` before each measured action.
"""

from __future__ import annotations

import json
import os
import threading
from collections import defaultdict

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces; everything after the last ')' is fixed-format
    return raw[raw.rindex(")") + 2:].split()


class ProcTree:
    """CPU seconds and summed RSS of a process and all of its descendants."""

    def __init__(self, root_pid: int | None = None):
        self.root = root_pid or os.getpid()

    def pids(self, include_root: bool = True) -> list[int]:
        children = defaultdict(list)
        for name in os.listdir("/proc"):
            if name.isdigit():
                f = _stat_fields(int(name))
                if f is not None:
                    children[int(f[1])].append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out if include_root else out[1:]

    def cpu_s(self) -> float:
        """utime+stime of the descendants, plus the time of descendants they
        already reaped (cutime+cstime), so exited Python workers still count.
        The root process itself is excluded: it only waits on the JVM."""
        ticks = 0
        for pid in self.pids(include_root=False):
            f = _stat_fields(pid)
            if f is not None:
                ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        return ticks / _CLK

    def rss_bytes(self) -> int:
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * _PAGE
            except OSError:
                pass
        return total


class PeakRss:
    """Background sampler of the tree's summed RSS; ``peak`` in bytes."""

    def __init__(self, tree: ProcTree, period_s: float = 0.05):
        self.tree, self.period = tree, period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.tree.rss_bytes())
            self._stop.wait(self.period)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self.tree.rss_bytes())


# ------------------------------------------------------------ event log

_TIMING_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def _walk(node: dict):
    yield node
    for child in node.get("children", ()):
        yield from _walk(child)


class Phase:
    """Counters of every job that ran under one job description."""

    def __init__(self) -> None:
        self.jobs = self.stages = 0
        self.tasks = self.task_failures = 0
        self.run_s = self.cpu_s = self.gc_s = self.sched_delay_s = 0.0
        self.spill_bytes = self.shuffle_write_bytes = 0
        self.shuffle_read_bytes = 0
        self.fetch_wait_s = 0.0
        self.input_bytes = self.output_bytes = self.output_records = 0
        self.exec_ids: set[int] = set()
        # accumulator id -> summed update (task-side and driver-side)
        self.acc: dict[int, float] = defaultdict(float)


class EventLog:
    """Folded event log: phases by job description, plus the SQL plan trees
    needed to name the accumulators that carry SQL-node metrics."""

    def __init__(self) -> None:
        self.phases: dict[str, Phase] = defaultdict(Phase)
        self.acc_meta: dict[int, tuple[str, str, str]] = {}
        self.plans: dict[int, dict] = {}
        # per plan node: metric name -> accumulator id
        self.node_metrics: list[dict[str, int]] = []

    # -- queries ---------------------------------------------------------
    def phase(self, name: str) -> Phase:
        return self.phases.get(name) or Phase()

    def sql_metric(self, name: str, metric: str, node_prefix: str = "") -> float:
        """Sum of one SQL metric over all nodes (optionally only nodes whose
        name starts with ``node_prefix``) in a phase; timings in seconds."""
        ph = self.phase(name)
        total = 0.0
        for acc_id, value in ph.acc.items():
            meta = self.acc_meta.get(acc_id)
            if meta and meta[1] == metric and meta[0].startswith(node_prefix):
                total += value * _TIMING_SCALE.get(meta[2], 1.0)
        return total

    def python_rows(self, name: str) -> float:
        """Rows out of the plan nodes that run Python workers (the nodes that
        carry a "data sent to Python workers" metric) in a phase."""
        ph = self.phase(name)
        seen, total = set(), 0.0
        for metrics in self.node_metrics:
            acc = metrics.get("number of output rows")
            if "data sent to Python workers" in metrics and acc not in seen:
                seen.add(acc)
                total += ph.acc.get(acc, 0.0)
        return total

    def probe_rows(self, name: str) -> tuple[float, float]:
        """(rows into, rows out of) the largest broadcast hash join of each
        SQL execution in a phase, summed over executions.  Rows in are read
        from the nearest metric-bearing node on the streamed (first) side."""
        ph = self.phase(name)

        def rows(node: dict) -> float | None:
            for m in node.get("metrics", ()):
                if m["name"] == "number of output rows":
                    return ph.acc.get(m["accumulatorId"], 0.0)
            return None

        rin = rout = 0.0
        for eid in ph.exec_ids:
            best = (0.0, 0.0)
            for node in _walk(self.plans.get(eid, {})):
                if not node.get("nodeName", "").startswith("BroadcastHashJoin"):
                    continue
                out = rows(node) or 0.0
                streamed = node["children"][0] if node.get("children") else {}
                fed = None
                for d in _walk(streamed):
                    fed = rows(d)
                    if fed is not None:
                        break
                if (fed or 0.0) > best[0]:
                    best = (fed or 0.0, out)
            rin += best[0]
            rout += best[1]
        return rin, rout

    # -- fold ------------------------------------------------------------
    def _plan(self, eid: int, plan: dict) -> None:
        self.plans[eid] = plan
        for node in _walk(plan):
            metrics = node.get("metrics", ())
            for m in metrics:
                self.acc_meta[m["accumulatorId"]] = (
                    node.get("nodeName", ""), m["name"], m.get("metricType", "sum")
                )
            self.node_metrics.append({m["name"]: m["accumulatorId"] for m in metrics})

    def add_file(self, path: str) -> "EventLog":
        stage_phase: dict[int, str] = {}
        exec_phase: dict[int, str] = {}
        driver_updates: list[tuple[int, int, float]] = []
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"].rsplit(".", 1)[-1]
                if kind in ("SparkListenerSQLExecutionStart",
                            "SparkListenerSQLAdaptiveExecutionUpdate"):
                    self._plan(e["executionId"], e["sparkPlanInfo"])
                elif kind == "SparkListenerDriverAccumUpdates":
                    driver_updates.extend(
                        (e["executionId"], a, float(v)) for a, v in e["accumUpdates"]
                    )
                elif kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    desc = props.get("spark.job.description", "")
                    ph = self.phases[desc]
                    ph.jobs += 1
                    for sid in e.get("Stage IDs", ()):
                        stage_phase[sid] = desc
                    if "spark.sql.execution.id" in props:
                        eid = int(props["spark.sql.execution.id"])
                        exec_phase[eid] = desc
                        ph.exec_ids.add(eid)
                elif kind == "SparkListenerStageCompleted":
                    sid = e["Stage Info"]["Stage ID"]
                    self.phases[stage_phase.get(sid, "")].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    self._task(self.phases[stage_phase.get(e["Stage ID"], "")], e)
        for eid, acc_id, value in driver_updates:
            self.phases[exec_phase.get(eid, "")].acc[acc_id] += value
        return self

    @staticmethod
    def _task(ph: Phase, e: dict) -> None:
        ph.tasks += 1
        if e.get("Task End Reason", {}).get("Reason") != "Success":
            ph.task_failures += 1
        info = e.get("Task Info") or {}
        for a in info.get("Accumulables", ()):
            upd = a.get("Update")
            if isinstance(upd, (int, float)) or (
                isinstance(upd, str) and upd.lstrip("-").isdigit()
            ):
                ph.acc[a["ID"]] += float(upd)
        tm = e.get("Task Metrics")
        if not tm:
            return
        run_ms = tm.get("Executor Run Time", 0)
        ph.run_s += run_ms / 1e3
        ph.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
        ph.gc_s += tm.get("JVM GC Time", 0) / 1e3
        ph.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get(
            "Disk Bytes Spilled", 0
        )
        sr = tm.get("Shuffle Read Metrics") or {}
        ph.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        ph.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1e3
        ph.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        ph.input_bytes += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
        om = tm.get("Output Metrics") or {}
        ph.output_bytes += om.get("Bytes Written", 0)
        ph.output_records += om.get("Records Written", 0)
        if "Launch Time" in info and "Finish Time" in info:
            wall = info["Finish Time"] - info["Launch Time"]
            busy = (
                run_ms
                + tm.get("Executor Deserialize Time", 0)
                + tm.get("Result Serialization Time", 0)
                + info.get("Getting Result Time", 0)
            )
            ph.sched_delay_s += max(0, wall - busy) / 1e3


def fold_eventlogs(directory: str) -> EventLog:
    log = EventLog()
    for name in sorted(os.listdir(directory)):
        if not name.startswith("."):
            log.add_file(os.path.join(directory, name))
    return log
