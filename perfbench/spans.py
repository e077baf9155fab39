"""Spans, Spark-metric extraction and the process-tree memory sampler.

A :class:`Tracer` records one span per layer boundary the benchmark's own
files cross (name, start, end, parent, pass id). While a span is open the
Spark local property ``perfbench.span`` names it, so every job, stage,
task and SQL execution it starts can be attributed to it afterwards from
Spark's uncompressed event log (:func:`read_event_logs`). The untraced
run uses :class:`NullTracer`, whose spans cost one ``with`` statement.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict

SPAN_PROP = "perfbench.span"
PASS_PROP = "perfbench.pass"


class NullTracer:
    enabled = False
    pass_id = None

    def __init__(self) -> None:
        self.spark = None

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def count(self, name: str, value: float, pass_id=None) -> None:
        pass

    def track(self, df) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self) -> None:
        super().__init__()
        self.spans: list[dict] = []
        self.counts: list[dict] = []
        self.tracked: list[tuple] = []
        self._stack: list[int] = []

    def _set_props(self) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        sc.setLocalProperty(SPAN_PROP, self.spans[self._stack[-1]]["name"]
                            if self._stack else None)
        sc.setLocalProperty(PASS_PROP, None if self.pass_id is None
                            else str(self.pass_id))

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "pass": self.pass_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self._set_props()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_props()

    def count(self, name: str, value: float, pass_id=None) -> None:
        self.counts.append({"name": name, "value": value,
                            "pass": self.pass_id if pass_id is None else pass_id})

    def track(self, df) -> None:
        """Remember a DataFrame the benchmark executed, for its Catalyst
        phase times (read after the action)."""
        self.tracked.append((self.pass_id, df))

    def phases(self) -> dict[int, dict[str, float]]:
        """Per pass: Catalyst analysis/optimization/planning ms summed over
        the DataFrames the benchmark itself executed."""
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for pid, df in self.tracked:
            phases = df._jdf.queryExecution().tracker().phases()
            it = phases.iterator()
            while it.hasNext():
                kv = it.next()
                out[pid][kv._1()] += float(kv._2().durationMs())
        return out

    def span_totals(self) -> dict[int, dict[str, float]]:
        """Per pass: total and self seconds of each span name. Self time is
        the span's duration minus the part its child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for i, s in enumerate(self.spans):
            d = s["end"] - s["start"]
            out[s["pass"]][s["name"]] += d
            out[s["pass"]][s["name"] + ".self"] += d - child[i]
        return out

    def dump(self) -> dict:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        return {"spans": [dict(s, start=s["start"] - t0, end=s["end"] - t0)
                          for s in self.spans],
                "counts": self.counts}


# ---------------------------------------------------------------------------
# event log


def _walk_plan(info: dict, acc: dict, scans: list) -> None:
    name = info.get("nodeName", "")
    for m in info.get("metrics", []):
        acc[m["accumulatorId"]] = (name, m["name"], m.get("metricType", ""))
    if name.startswith("Scan "):
        scans.append(info)
    for ch in info.get("children", []):
        _walk_plan(ch, acc, scans)


def read_event_logs(log_dir: str) -> dict:
    """Parse every event log under ``log_dir`` into per-(pass, span) sums.

    Returns ``{"stages": {(pass, span): {...}}, "sql": {(pass, span):
    {(node, metric): value}}, "scans": {(pass, span): [scan node infos]}}``.
    Stage rows sum task run/CPU/GC time, spill and shuffle-write metrics;
    SQL rows sum each plan node's metrics over the final (post-AQE) plan
    of every SQL execution the span started.
    """
    stage_key: dict[tuple, tuple] = {}
    exec_key: dict[tuple, tuple] = {}
    stages: dict[tuple, dict] = defaultdict(lambda: defaultdict(float))
    acc_meta: dict[tuple, tuple] = {}
    acc_vals: dict[tuple, float] = defaultdict(float)
    exec_plan: dict[tuple, dict] = {}
    driver_updates: list[tuple] = []
    paths = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
             if os.path.isfile(p)]
    for path in sorted(paths):
        app = os.path.basename(path)
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    key = (_int(props.get(PASS_PROP)), props.get(SPAN_PROP))
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_key.setdefault((app, int(eid)), key)
                    stages[key]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    sid = ev["Stage Info"]["Stage ID"]
                    stage_key[(app, sid)] = (_int(props.get(PASS_PROP)),
                                             props.get(SPAN_PROP))
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    key = stage_key.get((app, sid))
                    if key is not None:
                        stages[key]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    key = stage_key.get((app, ev["Stage ID"]))
                    tm = ev.get("Task Metrics") or {}
                    if key is not None and tm:
                        st = stages[key]
                        st["run_ms"] += tm.get("Executor Run Time", 0)
                        st["cpu_ns"] += tm.get("Executor CPU Time", 0)
                        st["gc_ms"] += tm.get("JVM GC Time", 0)
                        st["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                              + tm.get("Disk Bytes Spilled", 0))
                        sw = tm.get("Shuffle Write Metrics") or {}
                        st["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                        st["shuffle_records"] += sw.get("Shuffle Records Written", 0)
                        st["shuffle_write_ns"] += sw.get("Shuffle Write Time", 0)
                    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                        upd = a.get("Update")
                        if key is not None and (isinstance(upd, (int, float)) or (
                                isinstance(upd, str) and upd.lstrip("-").isdigit())):
                            acc_vals[(key, (app, a["ID"]))] += float(upd)
                elif kind.endswith("SparkListenerSQLExecutionStart") or \
                        kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    eid = ev["executionId"]
                    meta: dict = {}
                    scans: list = []
                    _walk_plan(ev["sparkPlanInfo"], meta, scans)
                    for aid, m in meta.items():
                        acc_meta[(app, aid)] = m
                    exec_plan[(app, eid)] = {"accs": set(meta), "scans": scans}
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    driver_updates.append((app, ev["executionId"],
                                           ev.get("accumUpdates", [])))
    for app, eid, updates in driver_updates:
        key = exec_key.get((app, eid))
        if key is not None:
            for aid, v in updates:
                acc_vals[(key, (app, aid))] += float(v)
    # an accumulator belongs to one plan node; a plan shared by several
    # executions (or re-posted by AQE) is counted once per span, with the
    # updates its tasks made in that span. Timings are reported in ms.
    accs: dict[tuple, set] = defaultdict(set)
    scans: dict[tuple, list] = defaultdict(list)
    for (app, eid), plan in exec_plan.items():
        key = exec_key.get((app, eid))
        if key is None:
            continue
        accs[key] |= {(app, a) for a in plan["accs"]}
        scans[key].extend(plan["scans"])
    sql: dict[tuple, dict] = defaultdict(lambda: defaultdict(float))
    for key, ids in accs.items():
        for aid in ids:
            node, metric, mtype = acc_meta[aid]
            v = acc_vals.get((key, aid), 0.0)
            sql[key][(node, metric)] += v / 1e6 if mtype == "nsTiming" else v
    return {"stages": stages, "sql": sql, "scans": scans}


def _int(v):
    return None if v in (None, "") else int(v)


# ---------------------------------------------------------------------------
# peak resident memory of the Spark process tree


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children_map()
    todo, out = list(kids.get(pid or os.getpid(), [])), []
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds, user plus system, used so far by this process and every
    process below it: the Spark JVM, the Python worker daemon and its
    workers. Each live process adds its own time and that of the children
    it has reaped, so a worker that has exited still counts. Time the
    hypervisor stole from the host's vCPUs is not in these counts."""
    t = os.times()
    total = t.user + t.system + t.children_user + t.children_system
    hz = os.sysconf("SC_CLK_TCK")
    for p in descendants():
        try:
            with open(f"/proc/{p}/stat", encoding="ascii", errors="replace") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15]) / hz
    return total


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until none of ``pids`` is alive (zombies count as gone);
    SIGKILL what is left at the deadline."""
    import signal

    def alive(p):
        try:
            with open(f"/proc/{p}/stat", encoding="ascii") as fh:
                return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        left = [p for p in pids if alive(p)]
        if not left:
            return
        time.sleep(0.05)
    for p in pids:
        if alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm", encoding="ascii", errors="replace") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def _hwm_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


class RssSampler:
    """Samples the Spark JVM ``root`` and the Python processes below it
    (the worker daemon and its workers) every ``period`` seconds. The peak
    is the sum, over every process seen, of its largest resident
    high-water mark: exact for the long-lived JVM and worker daemon, and
    it covers a short-lived worker when a sample saw it. Other children
    of the JVM are skipped: a helper it spawns shares the JVM's address
    space until it execs, and would count the JVM's memory twice."""

    def __init__(self, root: int, period: float = 1.0) -> None:
        self.root = root
        self.period = period
        self.peak_kb: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        pids = [p for p in descendants(self.root) if _comm(p).startswith("python")]
        for pid in [self.root] + pids:
            hwm = _hwm_kb(pid)
            if hwm is not None and hwm > self.peak_kb.get(pid, 0):
                self.peak_kb[pid] = hwm

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        if not self._stop.is_set():
            self._sample()
            self._stop.set()
            self._thread.join(timeout=5)
        return sum(self.peak_kb.values()) / 1024.0
