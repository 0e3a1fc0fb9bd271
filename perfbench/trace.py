"""Spans and Spark counters for the traced run, plus the RSS sampler.

A span times one call into an engine module from outside, and gives the
call its own Spark job group so every job, stage and task it launches
can be read back afterwards from the status tracker and the app status
store. Streaming queries run their micro-batches under their own job
group (the query's run id); a listener records those run ids so the
span that started the stream is charged for its batches too.
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

#: Stage-level counters summed over every stage attempt of a span's jobs.
STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "input_records": "inputRecords",
    "input_bytes": "inputBytes",
    "output_records": "outputRecords",
    "output_bytes": "outputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
}


class Span:
    def __init__(self, name: str, group: str):
        self.name = name
        self.group = group
        self.wall = 0.0
        self.job_ids: set[int] = set()
        self.sql_start = 0
        self.counters: dict[str, int] = {}


class Tracer:
    """Records spans (name, wall, Spark counters) in memory. Spans nest:
    a parent is charged for its children's jobs."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.spans: dict[str, list[Span]] = defaultdict(list)
        self._stack: list[Span] = []
        self._serial = 0
        self._streams: list[str] = []
        self._stage_defaults = tuple(
            getattr(self.store, f"stageData$default${i}")() for i in range(2, 6)
        )
        self._listen_streams()

    def _listen_streams(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        runs = self._streams

        class _Runs(StreamingQueryListener):
            def onQueryStarted(self, event):
                runs.append(str(event.runId))

            def onQueryProgress(self, event):
                pass

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Runs()
        self.spark.streams.addListener(self._listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self._listener)

    @contextmanager
    def span(self, name: str):
        self._serial += 1
        sp = Span(name, f"perfbench-{self._serial}")
        parent = self._stack[-1] if self._stack else None
        n_streams = len(self._streams)
        sp.sql_start = self.sql.executionsCount()
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.wall = time.perf_counter() - t0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            tracker = self.sc.statusTracker()
            for g in [sp.group, *self._streams[n_streams:]]:
                sp.job_ids.update(tracker.getJobIdsForGroup(g))
            sp.counters = self._stage_counters(sp.job_ids)
            if parent is not None:
                parent.job_ids |= sp.job_ids
            self.spans[name].append(sp)

    def _stage_counters(self, job_ids: set[int]) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(STAGE_FIELDS, 0)
        out["jobs"] = len(job_ids)
        out["stages"] = 0
        for sid in stage_ids:
            it = self.store.stageData(sid, *self._stage_defaults).iterator()
            while it.hasNext():
                st = it.next()
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                for key, attr in STAGE_FIELDS.items():
                    out[key] += int(getattr(st, attr)())
                for scan in self._scans(sid):
                    key = f"input_records.{scan}"
                    out[key] = out.get(key, 0) + int(st.inputRecords())
        return out

    def _scans(self, stage_id: int) -> set[str]:
        """Names of the scan operators ("Scan binaryFile", "Scan
        parquet", ...) in a stage's RDD operation graph: the sources
        whose records the stage's input counters count."""
        found: set[str] = set()
        todo = [self.store.operationGraphForStage(stage_id).rootCluster()]
        while todo:
            cluster = todo.pop()
            name = cluster.name().strip()
            if name.startswith("Scan "):
                found.add(name)
            it = cluster.childClusters().iterator()
            while it.hasNext():
                todo.append(it.next())
        return found

    def node_metrics(self, sp: Span, node_prefix: str) -> dict[str, int]:
        """Rows produced and files read by the plan nodes whose name
        starts with ``node_prefix`` (e.g. "Scan parquet"), summed over
        the SQL executions that ran the span's jobs — read from the SQL
        status store's plan graphs and metric values."""
        out = {"rows": 0, "files": 0}
        end = self.sql.executionsCount()
        if end <= sp.sql_start:
            return out
        it = self.sql.executionsList(sp.sql_start, end - sp.sql_start).iterator()
        while it.hasNext():
            ex = it.next()
            if not _keys(ex.jobs()) & sp.job_ids:
                continue
            values = _pairs(self.sql.executionMetrics(ex.executionId()))
            nodes = self.sql.planGraph(ex.executionId()).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                if not node.name().startswith(node_prefix):
                    continue
                ms = node.metrics().iterator()
                while ms.hasNext():
                    m = ms.next()
                    key = {"number of output rows": "rows", "number of files read": "files"}.get(m.name())
                    if key is not None:
                        out[key] += _count(values.get(int(m.accumulatorId())))
        return out

    def walls(self, name: str) -> list[float]:
        return [sp.wall for sp in self.spans.get(name, [])]


def _keys(scala_map) -> set[int]:
    out = set()
    it = scala_map.keysIterator()
    while it.hasNext():
        out.add(int(it.next()))
    return out


def _pairs(scala_map) -> dict[int, str]:
    out = {}
    it = scala_map.iterator()
    while it.hasNext():
        kv = it.next()
        out[int(kv._1())] = str(kv._2())
    return out


def _count(text: str | None) -> int:
    """A SQL sum-metric value as the status store renders it ("1,234");
    None when the node never ran."""
    if not text:
        return 0
    return int(text.split("\n")[-1].split(" ")[0].replace(",", ""))


class RssSampler:
    """Samples the resident set size of this process and all of its
    descendants (the JVM and its Python workers) every ``period``
    seconds; ``peak_mb`` is the largest simultaneous total seen."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def _run(self) -> None:
        me = os.getpid()
        page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        while not self._stop.is_set():
            procs = _procs()
            # rss (pages): field 24 of proc(5).
            total = sum(int(procs[p][21]) for p in _tree(me, procs)) * page_kb
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.period)


def _procs() -> dict[int, list[str]]:
    """The /proc/<pid>/stat fields of every process, from field 3 (state)
    on, keyed by pid."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                out[int(name)] = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            pass
    return out


def _tree(root: int, procs: dict[int, list[str]]) -> list[int]:
    """``root`` and its live descendants, linked by the parent pid in
    each process's stat. (The children file of /proc/<pid>/task/<tid>
    lists only what thread ``tid`` forked, and the JVM forks the Python
    worker daemon from an executor thread, not its main one.)"""
    children: dict[int, list[int]] = defaultdict(list)
    for pid, fields in procs.items():
        children[int(fields[1])].append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(pid)
            todo.extend(children[pid])
    return out


def cpu_seconds(*, jit: bool = True) -> float:
    """CPU time (user + system) spent so far by this process and all of
    its live descendants, including children they have reaped — the
    JVM, the Python worker daemon and its workers. Unlike wall time it
    does not grow when a shared host steals CPU from this machine.

    With ``jit=False`` the JVM's JIT compiler threads are left out:
    their background compiling is warm-up, not the work of the
    operation in flight. (run.py fixes the set of compiler threads, so
    none exits and takes its CPU out of the per-thread sums.)"""
    procs = _procs()
    tree = _tree(os.getpid(), procs)
    # utime, stime, cutime, cstime: fields 14-17 of proc(5).
    ticks = sum(sum(int(f) for f in procs[p][11:15]) for p in tree)
    if not jit:
        ticks -= sum(_compiler_ticks(p) for p in tree)
    return ticks / os.sysconf("SC_CLK_TCK")


def _compiler_ticks(pid: int) -> int:
    """utime + stime of the threads of ``pid`` that HotSpot names "C1
    CompilerThread<n>" / "C2 CompilerThread<n>"."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        name = raw[raw.index("(") + 1:raw.rindex(")")]
        if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            fields = raw.rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks
