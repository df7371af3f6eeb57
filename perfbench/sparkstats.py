"""Per-query numbers read from outside the program: Spark's status
store, a streaming-query listener, and the process table.

Everything here runs between timed regions.  Jobs are attributed to a
query by job id: the benchmark is a closed loop with one client, so the
jobs whose ids appear between two reads of the cursor belong to the
phase that ran between them, including jobs launched from the program's
own driver threads, which do not inherit the caller's job group.
"""

from __future__ import annotations

import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

# status-store fields summed per query; times in seconds, sizes in bytes
STAGE_FIELDS = (
    "stages",
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "output_bytes",
)


class JobCursor:
    """``advance()`` returns the ids of the jobs submitted since its
    previous call."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._bus = self._sc._jsc.sc().listenerBus()
        self._next = 0
        self.advance()

    def advance(self) -> list[int]:
        # the status store is fed asynchronously by the listener bus
        self._bus.waitUntilEmpty()
        tracker = self._sc.statusTracker()
        start = self._next
        # job ids are dense; look a few ids ahead so a gap cannot end
        # the scan early
        probe = start
        while probe < self._next + 4:
            if tracker.getJobInfo(probe) is not None:
                self._next = probe + 1
            probe += 1
        return list(range(start, self._next))


def stage_totals(spark, job_ids: list[int]) -> dict:
    """Sum the status-store metrics of every stage the jobs ran; a stage
    listed by several jobs counts once, and skipped stages not at all."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = dict.fromkeys(STAGE_FIELDS, 0)
    seen: set[int] = set()
    for job in job_ids:
        info = tracker.getJobInfo(job)
        if info is None:
            continue
        for sid in list(info.stageIds):
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["output_bytes"] += st.outputBytes()
    return out


def analysis_seconds(df) -> float:
    """Catalyst analysis time of the query's result plan."""
    phase = df._jdf.queryExecution().tracker().phases().get("analysis")
    return phase.get().durationMs() / 1e3 if phase.isDefined() else 0.0


def heap_committed_bytes(spark) -> int:
    """Heap the driver JVM has committed."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return mx.getMemoryMXBean().getHeapMemoryUsage().getCommitted()


class EpochListener(StreamingQueryListener):
    """Counts streaming micro-batches (epochs) and their trigger time."""

    def __init__(self) -> None:
        super().__init__()
        self.epochs = 0
        self.epoch_s = 0.0

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.epochs += 1
        self.epoch_s += event.progress.batchDuration / 1e3

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each shared page split
    among the processes that map it, so forked workers that share the
    daemon's pages are not counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class MemorySampler:
    """Samples the summed proportional set size of a process tree (the
    driver JVM and the Python workers it forks) on a background thread;
    ``peak`` is the highest sum seen."""

    interval_s = 0.1

    def __init__(self, root_pid: int) -> None:
        self._root = root_pid
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak = 0
        self.peak_root = 0
        self.max_processes = 0

    def _run(self) -> None:
        while not self._stop.is_set():
            tree = [self._root, *descendants(self._root)]
            pss = [_pss_bytes(p) for p in tree]
            self.peak = max(self.peak, sum(pss))
            self.peak_root = max(self.peak_root, pss[0])
            self.max_processes = max(self.max_processes, len(tree))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> MemorySampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` exists; returns those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _running(p)]
        if alive:
            time.sleep(0.1)
    return alive
