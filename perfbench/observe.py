"""Observation from outside the program, through public surfaces only.

- ``ProcTree``: CPU seconds and peak RSS of this process's descendants
  (the Spark JVM, the PySpark daemon and its Python workers), read from
  ``/proc``.
- ``Tracer``: spans around calls into the package's public functions.
  Each span tags the Spark jobs it starts (``SparkContext.addJobTag``),
  so the event log can be joined back to spans. Spans stay in memory
  until the run ends.
- ``progress_listener``: a ``StreamingQueryListener`` that keeps every
  ``StreamingQueryProgress`` of the run.
- ``read_event_log``, ``engine_counters``, ``sql_metric_totals``: join
  spans with the event log (jobs, stages, tasks and SQL-node metrics)
  into per-layer metrics.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict

LAYERS = ("session", "io", "pipeline", "plans", "streaming", "operators")
ENGINE = (
    "tasks", "stages", "executor_cpu_ms", "gc_ms", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "coalesced_partitions",
    "task_wait_ms", "driver_self_ms",
)
STREAM_PHASES = (
    "addBatch", "queryPlanning", "walCommit", "commitOffsets",
    "latestOffset", "getBatch",
)
_TICK = os.sysconf("SC_CLK_TCK")


class ProcTree:
    """CPU and memory of the benchmark process and everything it spawned."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def descendants(self) -> list[int]:
        kids = defaultdict(list)
        for d in glob.glob("/proc/[0-9]*/stat"):
            try:
                with open(d) as f:
                    s = f.read()
            except OSError:
                continue
            ppid = int(s[s.rindex(")") + 2 :].split()[1])
            kids[ppid].append(int(d.split("/")[2]))
        out, todo = [], [self.root]
        while todo:
            for k in kids.get(todo.pop(), []):
                out.append(k)
                todo.append(k)
        return out

    @staticmethod
    def _cpu(pid: int) -> float:
        """utime+stime of the process plus its reaped children, in s."""
        try:
            with open(f"/proc/{pid}/stat") as f:
                s = f.read()
        except OSError:
            return 0.0
        v = s[s.rindex(")") + 2 :].split()
        return sum(int(x) for x in v[11:15]) / _TICK

    def cpu_s(self) -> float:
        return sum(self._cpu(p) for p in [self.root, *self.descendants()])

    def peak_rss_mb(self) -> float:
        """Sum of VmHWM over the JVM and the Python workers."""
        kb = 0
        for p in self.descendants():
            try:
                with open(f"/proc/{p}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb += int(line.split()[1])
            except OSError:
                continue
        return kb / 1024

    def stop_all(self, timeout: float = 30.0) -> None:
        """SIGTERM every descendant, then wait until each has exited."""
        import signal

        pids = self.descendants()
        for p in pids:
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, signal.SIGTERM)
        deadline = time.time() + timeout
        while True:
            for p in pids:  # reap our own children
                with contextlib.suppress(ChildProcessError):
                    os.waitpid(p, os.WNOHANG)
            alive = [p for p in pids if _running(p)]
            if not alive:
                return
            if time.time() > deadline:
                for p in alive:
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(p, signal.SIGKILL)
                deadline = float("inf")
            time.sleep(0.05)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return False
    return s[s.rindex(")") + 2] != "Z"


class Tracer:
    """Spans around package calls. Disabled tracers cost one branch."""

    def __init__(self, sc=None, run_id: str = "", enabled: bool = False):
        self.sc, self.run_id, self.enabled = sc, run_id, enabled
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = f"bench-{self.run_id}-{len(self.spans)}"
        rec = {"id": sid, "name": name, "layer": name.split(".")[0],
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.addJobTag(sid)
        rec["start"] = time.time()
        try:
            yield
        finally:
            rec["end"] = time.time()
            self.sc.removeJobTag(sid)
            self._stack.pop()


def progress_listener():
    """A StreamingQueryListener that records every progress report."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self.terminated: set[str] = set()
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            # unused; in a traced run PySpark 4.1 cannot convert the start
            # event of a query started under job tags and logs the error
            pass

        def onQueryProgress(self, event):
            with self._lock:
                self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._lock:
                self.terminated.add(str(event.id))

        def wait_terminated(self, n: int, timeout: float = 30.0) -> None:
            """Listener events arrive asynchronously; wait for ``n``."""
            deadline = time.time() + timeout
            while len(self.terminated) < n and time.time() < deadline:
                time.sleep(0.02)

    return ProgressLog()


def _walk(plan: dict, into: dict) -> None:
    for m in plan.get("metrics", []):
        into[m["accumulatorId"]] = (plan["nodeName"], m["name"])
    for c in plan.get("children", []):
        _walk(c, into)


def read_event_log(log_dir: str) -> dict:
    """Parse the JSON-lines event log(s) under ``log_dir``."""
    jobs, stages, tasks, execs = {}, {}, [], {}
    accum_names: dict[int, tuple[str, str]] = {}
    driver_accum: list[tuple[int, int, int]] = []
    files = sorted(p for p in glob.glob(f"{log_dir}/**", recursive=True)
                   if os.path.isfile(p))
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    tags = props.get("spark.job.tags") or ""
                    jobs[e["Job ID"]] = {
                        "start": e["Submission Time"],
                        "stages": e["Stage IDs"],
                        "tags": [t for t in tags.split(",") if t],
                        "exec": props.get("spark.sql.execution.id"),
                    }
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["end"] = e["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    stages[info["Stage ID"]] = info.get("Submission Time")
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(e)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    execs[e["executionId"]] = {"start": e["time"],
                                               "root": e["sparkPlanInfo"]["nodeName"]}
                    _walk(e["sparkPlanInfo"], accum_names)
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    _walk(e["sparkPlanInfo"], accum_names)
                elif kind.endswith("SparkListenerSQLExecutionEnd"):
                    execs.setdefault(e["executionId"], {})["end"] = e["time"]
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for aid, v in e["accumUpdates"]:
                        driver_accum.append((e["executionId"], aid, v))
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "execs": execs,
            "accum_names": accum_names, "driver_accum": driver_accum}


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def sql_metric_totals(log: dict, exec_ids: set, names: dict[str, str],
                      node: str = "") -> dict[str, float]:
    """Sum SQL-node metrics (task updates plus driver-side updates) over
    the given executions. ``names`` maps a metric name as Spark shows it
    to the key it is reported under; ``node``, when given, keeps only the
    metrics of plan nodes whose name contains it."""
    out = dict.fromkeys(names.values(), 0.0)

    def key(aid):
        node_name, name = log["accum_names"].get(aid, ("", ""))
        return names.get(name) if node in node_name else None

    stage_exec = {}
    for j in log["jobs"].values():
        if j["exec"] is not None and int(j["exec"]) in exec_ids:
            for s in j["stages"]:
                stage_exec[s] = int(j["exec"])
    for t in log["tasks"]:
        if t["Stage ID"] not in stage_exec:
            continue
        for a in t["Task Info"].get("Accumulables", []):
            k = key(a["ID"])
            if k is not None and a.get("Update") is not None:
                out[k] += float(a["Update"])
    for ex, aid, v in log["driver_accum"]:
        k = key(aid)
        if k is not None and ex in exec_ids:
            out[k] += float(v)
    return out


def span_jobs(log: dict, spans: list[dict]) -> dict[str, list[int]]:
    """Attribute each job to the innermost span whose tag it carries."""
    depth = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        d, p = 0, s["parent"]
        while p in by_id:
            d, p = d + 1, by_id[p]["parent"]
        depth[s["id"]] = d
    out = defaultdict(list)
    for jid, j in log["jobs"].items():
        tags = [t for t in j["tags"] if t in depth]
        if tags:
            out[max(tags, key=depth.get)].append(jid)
    return out


def span_execs(log: dict, spans: list[dict]) -> set[int]:
    """SQL executions whose jobs these spans started."""
    sj = span_jobs(log, spans)
    return {int(log["jobs"][j]["exec"]) for s in spans for j in sj.get(s["id"], [])
            if log["jobs"][j]["exec"] is not None}


#: the plan node of a file write; its metrics count what lands on disk
WRITE_NODE = "InsertIntoHadoopFsRelation"


def write_execs(log: dict, execs: set[int]) -> set[int]:
    """The executions among ``execs`` whose root is a file write."""
    return {e for e in execs if WRITE_NODE in log["execs"].get(e, {}).get("root", "")}


def engine_counters(log: dict, spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per-layer engine counters over the jobs each layer's spans start."""
    sj = span_jobs(log, spans)
    stage_layer, exec_layer = {}, defaultdict(set)
    res = {layer: dict.fromkeys(ENGINE, 0.0) for layer in LAYERS}
    for s in spans:
        if s["layer"] not in res:
            continue
        r = res[s["layer"]]
        ivals = []
        for jid in sj.get(s["id"], []):
            j = log["jobs"][jid]
            ivals.append((j["start"], j.get("end", j["start"])))
            for st in j["stages"]:
                stage_layer[st] = s["layer"]
            if j["exec"] is not None:
                exec_layer[s["layer"]].add(int(j["exec"]))
        # only time this span's own jobs did not cover, minus child spans
        kids = [(c["start"] * 1000, c["end"] * 1000) for c in spans
                if c["parent"] == s["id"]]
        r["driver_self_ms"] += max(
            0.0,
            (s["end"] - s["start"]) * 1000 - _union_ms(ivals + kids),
        )
    seen_stages = defaultdict(set)
    for t in log["tasks"]:
        layer = stage_layer.get(t["Stage ID"])
        if layer is None:
            continue
        r, info, m = res[layer], t["Task Info"], t.get("Task Metrics") or {}
        seen_stages[layer].add(t["Stage ID"])
        r["tasks"] += 1
        r["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
        r["gc_ms"] += m.get("JVM GC Time", 0)
        r["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        rd = m.get("Shuffle Read Metrics") or {}
        r["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
            "Local Bytes Read", 0)
        r["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0)
        sub = log["stages"].get(t["Stage ID"])
        if sub is not None:
            r["task_wait_ms"] += max(0, info["Launch Time"] - sub)
    for layer, st in seen_stages.items():
        res[layer]["stages"] = len(st)
    for layer, ex in exec_layer.items():
        res[layer]["coalesced_partitions"] = sql_metric_totals(
            log, ex, {"number of coalesced partitions": "c"})["c"]
    return res
