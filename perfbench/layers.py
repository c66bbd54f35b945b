"""What the traced run records: spans around each call the benchmark makes
into a layer, and the counters Spark already keeps for the work a call
started. Everything is read from outside the engine, through Spark's
status tracker, its status stores and ``QueryExecution``.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans: name, start, end, parent and the id of the
    operation they belong to. Written as JSONL once the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._origin = time.perf_counter()
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter() - self._origin
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._origin
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span id -> its duration minus the time its children cover
        (children of one span run one after another, never overlap)."""
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def write_jsonl(self, path: str) -> None:
        own = self.self_times()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": own[s["id"]]}) + "\n")


def _num(text: str) -> int:
    """A count as the SQL status store formats it: ``'505,174'``."""
    return int(text.split("\n")[0].replace(",", "").split()[0])


_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")
_PARQUET_RELATION = re.compile(r"Relation \S*\[.*?\] parquet")


class SparkProbe:
    """Reads Spark's own bookkeeping for the work one call started.

    Jobs are attributed through a job group the benchmark sets per call;
    SQL executions through their ids, which only grow, so a closed loop
    with one call in flight owns every execution started during it.
    """

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = self.sc._gateway
        self._no_tasks = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def settle(self) -> None:
        """Wait until every event posted so far reached the status stores."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_stats(self, group: str) -> dict:
        """Totals over the stages of every job in ``group``."""
        tracker = self.sc.statusTracker()
        jobs = self.jobs(group)
        stage_ids = {s for j in jobs if (info := tracker.getJobInfo(j)) for s in info.stageIds}
        out = dict.fromkeys(
            ("stages", "tasks", "failed_tasks", "run_ms", "gc_ms", "input_bytes",
             "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"), 0)
        out["jobs"] = len(jobs)
        for sid in stage_ids:
            attempts = self._jsc.statusStore().stageData(
                sid, False, self._no_tasks, False, self._no_quantiles).iterator()
            while attempts.hasNext():
                d = attempts.next()
                if d.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += d.numCompleteTasks()
                out["failed_tasks"] += d.numFailedTasks()
                out["run_ms"] += d.executorRunTime()
                out["gc_ms"] += d.jvmGcTime()
                out["input_bytes"] += d.inputBytes()
                out["shuffle_write_bytes"] += d.shuffleWriteBytes()
                out["shuffle_read_bytes"] += d.shuffleReadBytes()
                out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
        return out

    def executions(self) -> int:
        return self._sql.executionsCount()

    def sql_rows(self, since: int) -> tuple[int, int]:
        """(rows output by all operators, rows fed to Python workers) over
        the SQL executions after the first ``since`` ones."""
        out_rows = py_rows = 0
        execs = self._sql.executionsList(since, self.executions() - since).iterator()
        while execs.hasNext():
            eid = execs.next().executionId()
            graph, values = self._sql.planGraph(eid), self._sql.executionMetrics(eid)
            rows, names, children = {}, {}, {}
            nodes = graph.allNodes().iterator()
            while nodes.hasNext():
                n = nodes.next()
                names[n.id()] = n.name()
                ms = n.metrics().iterator()
                while ms.hasNext():
                    m = ms.next()
                    v = values.get(m.accumulatorId())
                    if v.isDefined() and m.name() in ("number of output rows", "shuffle records written"):
                        rows[n.id()] = _num(v.get())
            edges = graph.edges().iterator()
            while edges.hasNext():
                e = edges.next()
                children.setdefault(e.toId(), []).append(e.fromId())

            def rows_into(nid: int) -> int:
                return sum(rows[c] if c in rows else rows_into(c) for c in children.get(nid, []))

            out_rows += sum(v for nid, v in rows.items() if names[nid] != "Exchange")
            py_rows += sum(rows_into(nid) for nid, name in names.items() if _PYTHON_NODE.search(name))
        return out_rows, py_rows

    @staticmethod
    def plan_phases(df) -> dict[str, int]:
        """Catalyst's own phase timings (ms), after forcing physical
        planning of ``df``."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        return {p: int(phases.get(p).get().durationMs()) if phases.contains(p) else 0
                for p in ("analysis", "optimization", "planning")}

    @staticmethod
    def parquet_relations(df) -> int:
        return len(_PARQUET_RELATION.findall(df._jdf.queryExecution().analyzed().toString()))

    def rdd_blocks(self) -> dict[int, int]:
        """Persisted RDD id -> bytes held in memory and on disk; the
        engine's lineage barriers are the RDDs it persists."""
        return {r.id(): r.memSize() + r.diskSize() for r in self._jsc.getRDDStorageInfo()}


def _proc_tree(root: int) -> list[int]:
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree += frontier
    return tree


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process and everything it started
    (the JVM and its Python workers), sampled from ``/proc``."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.peak_kb = 0
        self.seen: set[int] = set()
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            tree = _proc_tree(os.getpid())
            self.seen.update(tree)
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in tree))
            self._stop.wait(self._interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling and return the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024
