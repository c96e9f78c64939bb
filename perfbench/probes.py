"""Counters read from outside the engine for the traced run.

Everything here observes the program through public surfaces only:
Spark's status tracker and status store, the query execution's phase
tracker, `/proc`, and wrappers installed around `TxLog` methods for the
duration of a run. Nothing inside `hive_clone_spark` is changed.
"""

from __future__ import annotations

import os
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")

# StageData getter -> counter name; times are ms (run) and ns (cpu).
_STAGE_FIELDS = {
    "executorRunTime": "spark.executor_run_s",
    "executorCpuTime": "spark.executor_cpu_s",
    "shuffleReadBytes": "spark.shuffle_read_bytes",
    "shuffleWriteBytes": "spark.shuffle_write_bytes",
    "memoryBytesSpilled": "spark.spill_bytes",
    "diskBytesSpilled": "spark.spill_bytes",
    "inputBytes": "spark.input_bytes",
    "outputBytes": "spark.output_bytes",
}
_SCALE = {"executorRunTime": 1e-3, "executorCpuTime": 1e-9}


def _stat(pid: int) -> tuple[int, float, float] | None:
    """(ppid, own cpu s, reaped-children cpu s) from /proc/<pid>/stat."""
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    f = raw[raw.rindex(")") + 2:].split()
    # fields after the command: state ppid ... utime(11) stime(12) cutime(13) cstime(14)
    return int(f[1]), (int(f[11]) + int(f[12])) / _TICK, (int(f[13]) + int(f[14])) / _TICK


def descendants(root: int) -> list[int]:
    """Pids below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(int(d))) is not None:
            children.setdefault(st[0], []).append(int(d))
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def python_workers(jvm_pid: int) -> list[int]:
    """The JVM's `pyspark.daemon` and the workers it forked. Other
    children of the JVM (short shell commands) are left out: they exit
    and are reaped by the JVM, so their CPU would vanish between reads."""
    out = []
    for pid in descendants(jvm_pid):
        try:
            if b"pyspark" in Path(f"/proc/{pid}/cmdline").read_bytes():
                out.append(pid)
        except OSError:
            continue
    return out


def cpu_seconds(jvm_pid: int) -> dict[str, float]:
    """Cumulative CPU of the benchmark process, the JVM alone, and the
    JVM's Python workers (live ones plus those the daemon reaped)."""
    t = os.times()
    jvm = _stat(jvm_pid)
    workers = [s for p in python_workers(jvm_pid) if (s := _stat(p)) is not None]
    return {
        "proc.driver_cpu_s": t.user + t.system,
        "proc.jvm_cpu_s": jvm[1] if jvm else 0.0,
        "proc.py_worker_cpu_s": sum(s[1] + s[2] for s in workers),
    }


def peak_rss_mb(jvm_pid: int) -> float:
    """Summed VmHWM of the JVM and its live Python workers, in MB."""
    total_kb = 0
    for pid in [jvm_pid, *python_workers(jvm_pid)]:
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


class SparkProbe:
    """Per-entry Spark counters from a job group: jobs, stages, tasks and
    the status store's stage metrics, plus the final DataFrame's Catalyst
    phase times and unpartitioned windows."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def start(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def stop(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_counters(self, job_ids: list[int]) -> dict[str, float]:
        # the status store is fed by the listener bus; drain it so the
        # stages of jobs that just finished are in it
        self._jsc.listenerBus().waitUntilEmpty()
        tracker, store = self.sc.statusTracker(), self._jsc.statusStore()
        stage_ids = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(set(_STAGE_FIELDS.values()) | {"spark.stages", "spark.tasks"}, 0.0)
        for sid in stage_ids:
            data = store.lastStageAttempt(sid)
            if data.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += data.numCompleteTasks() + data.numFailedTasks()
            for getter, name in _STAGE_FIELDS.items():
                out[name] += getattr(data, getter)() * _SCALE.get(getter, 1)
        return out

    @staticmethod
    def catalyst(df) -> dict[str, float]:
        qe = df._jdf.queryExecution()
        phases = qe.tracker().phases()
        out = {f"catalyst.{p}_ms": 0.0 for p in ("analysis", "optimization", "planning")}
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            key = f"catalyst.{kv._1()}_ms"
            if key in out:
                out[key] += kv._2().durationMs()
        windows, todo = 0, [qe.optimizedPlan()]
        while todo:
            node = todo.pop()
            if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
                windows += 1
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
        out["plan.unpartitioned_windows"] = windows
        return out


class TxlogProbe:
    """Wraps `TxLog` entry points with spans and counters while installed.

    Time is charged only to the outermost `txlog.*` span, so a read that
    calls `scan_files` is not counted twice."""

    READS = ("read", "scan_files", "change_feed")
    STAGES = ("stage_data", "stage_data_partitioned")
    COUNTERS = ("txlog.commits", "txlog.commit_s", "txlog.conflicts",
                "txlog.stage_s", "txlog.read_s", "txlog.bytes_written")

    def __init__(self, tracer, add) -> None:
        from hive_clone_spark.sources import txlog

        self.txlog, self.tracer, self._charge = txlog, tracer, add
        self._saved: dict[str, object] = {}
        self._depth = 0

    def install(self) -> None:
        cls = self.txlog.TxLog
        for name in ("commit", *self.STAGES, *self.READS):
            self._saved[name] = getattr(cls, name)
            setattr(cls, name, self._wrap(name, self._saved[name]))

    def uninstall(self) -> None:
        for name, fn in self._saved.items():
            setattr(self.txlog.TxLog, name, fn)
        self._saved.clear()

    def _wrap(self, name: str, fn):
        probe = self
        metric = ("txlog.commit_s" if name == "commit" else
                  "txlog.stage_s" if name in self.STAGES else "txlog.read_s")

        def wrapper(tl, *args, **kwargs):
            probe._depth += 1
            try:
                with probe.tracer.span(f"txlog.{name}") as span:
                    result = fn(tl, *args, **kwargs)
            except probe.txlog.CommitConflictError:
                probe._charge("txlog.conflicts", 1)
                raise
            finally:
                probe._depth -= 1
                if probe._depth == 0:
                    probe._charge(metric, span.duration)
            if name == "commit":
                probe._charge("txlog.commits", 1)
            elif name in probe.STAGES:
                probe._charge("txlog.bytes_written",
                              sum((tl.root / a["file"]).stat().st_size for a in result))
            return result

        return wrapper
