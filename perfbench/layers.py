"""Layer probes, all taken from outside the program.

* ``StatusStore`` reads Spark's own status store (stages, jobs, task
  metrics); it needs no UI.
* ``proc_cpu`` splits process CPU seconds into the Python driver, the JVM
  and the JVM's Python workers, from ``/proc``.
* ``Wrappers`` times calls into public functions of the program by
  replacing the module attributes the program looks them up through.
* ``stop_spark`` ends the session and waits for the JVM and its workers.
"""

from __future__ import annotations

import functools
import os
import sys
import time

MB = float(1 << 20)
_CLK = os.sysconf("SC_CLK_TCK")


class StatusStore:
    """Incremental reader of the stages and jobs launched since the last
    call. Stage rows of the pass are taken from the in-memory status store
    after the listener bus has drained."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._jvm = sc._jvm
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self.stage_mark = -1
        self.job_mark = -1

    def _drain(self) -> None:
        try:
            self._sc.listenerBus().waitUntilEmpty()
        except Exception:  # not reachable on this Spark: give the bus a moment
            time.sleep(0.2)

    def new_stages(self, detail: bool) -> list[dict]:
        """Stages with an id above the mark that were not skipped. Without
        ``detail`` only the peak execution memory is read."""
        self._drain()
        rows = self._store.stageList(
            None, False, False, self._no_quantiles, self._jvm.java.util.ArrayList()
        )
        out = []
        top = self.stage_mark
        for i in range(rows.size()):
            s = rows.apply(i)
            sid = s.stageId()
            if sid <= self.stage_mark or str(s.status()) == "SKIPPED":
                continue
            top = max(top, sid)
            rec = {"id": sid, "peak_mem": s.peakExecutionMemory()}
            if detail:
                rec.update(
                    tasks=s.numTasks(),
                    run_ms=s.executorRunTime(),
                    cpu_ns=s.executorCpuTime(),
                    gc_ms=s.jvmGcTime(),
                    shuffle_write=s.shuffleWriteBytes(),
                    shuffle_read=s.shuffleReadBytes(),
                    spill=s.diskBytesSpilled(),
                    input=s.inputBytes(),
                    output=s.outputBytes(),
                )
            out.append(rec)
        self.stage_mark = top
        return out

    def new_jobs(self) -> list[dict]:
        """Jobs with an id above the mark: ``{"id", "group", "stages"}``."""
        self._drain()
        rows = self._store.jobsList(None)
        out = []
        top = self.job_mark
        for i in range(rows.size()):
            j = rows.apply(i)
            jid = j.jobId()
            if jid <= self.job_mark:
                continue
            top = max(top, jid)
            group = j.jobGroup()
            stages = j.stageIds()
            out.append(
                {
                    "id": jid,
                    "group": group.get() if group.isDefined() else None,
                    "stages": [stages.apply(k) for k in range(stages.size())],
                }
            )
        self.job_mark = top
        return out

    def persisted_rdds(self) -> int:
        return self._sc.getPersistentRDDs().size()

    def live_heap_mb(self) -> float:
        """JVM heap in use after a full collection."""
        rt = self._jvm.java.lang.Runtime.getRuntime()
        self._jvm.java.lang.System.gc()
        return (rt.totalMemory() - rt.freeMemory()) / MB


def _stat(pid: int):
    """``(ppid, own_s, reaped_children_s)`` of one process, or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    ppid = int(rest[1])
    own = (int(rest[11]) + int(rest[12])) / _CLK
    reaped = (int(rest[13]) + int(rest[14])) / _CLK
    return ppid, own, reaped


def _proc_table() -> dict[int, tuple]:
    """``_stat`` of every process, from one scan of /proc."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    return stats


def _descendants(stats: dict[int, tuple], root: int) -> list[int]:
    """Pids under ``root`` in a ``_proc_table``."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def proc_cpu(jvm_pid: int) -> dict[str, float]:
    """Cumulative CPU seconds of this driver process, of the JVM, and of
    every process under the JVM (the Python workers), including workers
    that already exited and were reaped by their parent."""
    stats = _proc_table()
    workers = sum(stats[pid][1] + stats[pid][2] for pid in _descendants(stats, jvm_pid))
    me = stats.get(os.getpid(), (0, 0.0, 0.0))
    jvm = stats.get(jvm_pid, (0, 0.0, 0.0))
    return {"driver": me[1], "jvm": jvm[1], "pyworker": workers}


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


class Wrappers:
    """Counts and times calls into program functions while active.

    ``probe`` functions (the ``sources.tables`` size probes) and ``bulk_put``
    count only the outermost call, so a probe that calls another probe is
    one call. ``one_compute_boundary`` is only counted (it is lazy), and so
    are lineage cuts: every ``DataFrame.localCheckpoint``, ``checkpoint``,
    ``persist`` and ``cache`` call, whether made directly or by the
    boundary."""

    PROBES = ("scan_raw_bytes", "scan_size_bytes", "spread", "spread_heavy")
    CUTS = ("localCheckpoint", "checkpoint", "persist", "cache")

    def __init__(self):
        self.counts = {"probe_calls": 0, "probe_s": 0.0, "boundary_calls": 0,
                       "cut_calls": 0, "bulk_put_calls": 0, "bulk_put_s": 0.0}
        self._depth = {"probe": 0, "bulk_put": 0}
        self._patched: list[tuple[object, str, object]] = []

    def _timed(self, layer: str, fn):
        counts, depth = self.counts, self._depth
        calls, secs = (("probe_calls", "probe_s") if layer == "probe"
                       else ("bulk_put_calls", "bulk_put_s"))

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if depth[layer]:
                return fn(*args, **kwargs)
            depth[layer] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                counts[secs] += time.perf_counter() - t0
                counts[calls] += 1
                depth[layer] -= 1

        return wrapper

    def _counted(self, name: str, fn):
        counts = self.counts

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            counts[name] += 1
            return fn(*args, **kwargs)

        return wrapper

    def __enter__(self):
        from pyspark.sql.classic.dataframe import DataFrame

        from gvcf_hbase_spark import session
        from gvcf_hbase_spark.plans import layout
        from gvcf_hbase_spark.sources import tables

        probes = [getattr(tables, name) for name in self.PROBES]
        replace = {id(fn): self._timed("probe", fn) for fn in probes}
        replace[id(session.one_compute_boundary)] = self._counted(
            "boundary_calls", session.one_compute_boundary)
        replace[id(layout.bulk_put)] = self._timed("bulk_put", layout.bulk_put)
        # Every module that bound one of these names at import time.
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("gvcf_hbase_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in replace:
                    setattr(mod, attr, replace[id(val)])
                    self._patched.append((mod, attr, val))
        for name in self.CUTS:
            fn = getattr(DataFrame, name)
            setattr(DataFrame, name, self._counted("cut_calls", fn))
            self._patched.append((DataFrame, name, fn))
        return self

    def __exit__(self, *exc):
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, close the gateway, and wait for the JVM and the
    processes under it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(_proc_table(), proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except Exception:
                proc.kill()
                proc.wait(timeout=timeout)
        deadline = time.monotonic() + timeout
        for pid in workers:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
