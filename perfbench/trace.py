"""Measurement from outside the program.

Untraced runs use only :class:`Clock` (op windows) and the process probes
(:func:`peak_rss_mb`, :func:`cache_state`). Traced runs add :class:`Tracer`:

- spans (name, start, end, parent, op) around calls into ``sources``,
  ``operators.txlog``, ``plans.*`` and ``streaming``, installed by wrapping
  the package's public functions and methods from here;
- a py4j call counter wrapped around the gateway client;
- Spark job and stage metrics read back from a local event log, which the
  launch configuration enables (see ``run.py``);
- a ``StreamingQueryListener`` for micro-batch progress.

Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import contextvars
import functools
import glob
import json
import os
import statistics
import threading
import time

_current = contextvars.ContextVar("perfbench_span", default=None)


class Clock:
    """Op windows on the wall clock: ``[(op_id, start_s, end_s)]``."""

    def __init__(self):
        self.windows: list[tuple[int, float, float]] = []
        self.op: int | None = None

    def run(self, op_id: int, fn):
        self.op = op_id
        t0 = time.time()
        try:
            return fn()
        finally:
            self.windows.append((op_id, t0, time.time()))
            self.op = None


class Tracer:
    def __init__(self, clock: Clock):
        self.clock = clock
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self.progress: list[dict] = []
        self.terminated = 0
        self._cond = threading.Condition()
        self._n = 0

    # ------------------------------------------------------------ spans
    def span(self, name: str, fn, *args, **kwargs):
        parent = _current.get()
        self._n += 1
        rec = {"id": self._n, "name": name, "parent": parent,
               "op": self.clock.op, "start": time.time()}
        token = _current.set(self._n)
        try:
            return fn(*args, **kwargs)
        finally:
            _current.reset(token)
            rec["end"] = time.time()
            self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, on_result=None):
        """Replace ``owner.attr`` with a spanned wrapper."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            out = self.span(name, orig, *args, **kwargs)
            if on_result is not None:
                on_result(self.spans[-1], args, out)
            return out

        setattr(owner, attr, wrapper)

    def install(self, spark):
        """Wrap the package calls the per-layer metrics attribute to."""
        from meteomatics_e2e_data_pipeline_spark.operators import txlog
        from meteomatics_e2e_data_pipeline_spark.plans import (
            runner, star_lakehouse)

        def commit_stats(rec, args, version):
            table, actions = args[0], args[1]
            adds = [a["add"] for a in actions if "add" in a]
            rec["files_added"] = len(adds)
            size = 0
            for a in adds:
                p = os.path.join(table.path, a["path"])
                if os.path.exists(p):
                    size += os.path.getsize(p)
            rec["bytes_added"] = size

        self.wrap(txlog.TxTable, "_commit", "operators.txlog.commit",
                  commit_stats)
        for m in ("read", "read_changes", "read_keys"):
            self.wrap(txlog.TxTable, m, "operators.txlog.read")
        self.wrap(txlog.TxTable, "optimize", "plans.star_lakehouse.optimize")
        self.wrap(star_lakehouse, "ingest_bronze_increment", "sources.stage")
        self.wrap(star_lakehouse, "maintain_weather_star",
                  "plans.star_lakehouse.fold")
        self.wrap(star_lakehouse, "maintain_city_daily_rollup",
                  "plans.star_lakehouse.rollup")
        for m in ("check_unique", "check_not_null"):
            self.wrap(runner, m, "plans.runner.checks")
        self._count_py4j(spark)
        self._listen(spark)

    # ------------------------------------------------------------ py4j
    def _count_py4j(self, spark):
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            if self.clock.op is not None:
                self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counted

    # ------------------------------------------------------------ streaming
    def _listen(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with tracer._cond:
                    tracer.progress.append({
                        "id": str(p.id), "batch": p.batchId,
                        "rows": p.numInputRows,
                        "duration_ms": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with tracer._cond:
                    tracer.terminated += 1
                    tracer._cond.notify_all()

        spark.streams.addListener(Listener())

    def wait_terminated(self, n: int, timeout_s: float = 10.0):
        """Block until ``n`` streaming queries reported termination, so
        every progress event of a finished pass has arrived."""
        with self._cond:
            self._cond.wait_for(lambda: self.terminated >= n, timeout_s)

    def dump(self, path: str):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------- spans → layers
def span_totals(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name inside ops, counting only the outermost span
    of each name so a nested call is not counted twice."""
    by_id = {s["id"]: s for s in spans}
    out: dict[str, float] = {}
    for s in spans:
        if s["op"] is None:
            continue
        p = s["parent"]
        nested = False
        while p is not None:
            if by_id[p]["name"] == s["name"]:
                nested = True
                break
            p = by_id[p]["parent"]
        if not nested:
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
    return out


# ---------------------------------------------------------------- event log
def read_event_log(log_dir: str, windows: list[tuple[int, float, float]]
                   ) -> dict[str, float]:
    """Job and stage totals for jobs submitted inside an op window.

    ``spark.exec_s`` is wall time during which at least one such job ran;
    ``plans.driver_s`` is the rest of the op windows (Python construction,
    py4j, Catalyst planning and driver-side log I/O)."""
    jobs, stages, job_stages = {}, {}, {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = (path, ev["Job ID"])
                    jobs[jid] = [ev["Submission Time"] / 1e3, None]
                    job_stages[jid] = ev.get("Stage IDs", [])
                elif kind == "SparkListenerJobEnd":
                    jid = (path, ev["Job ID"])
                    if jid in jobs:
                        jobs[jid][1] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    acc = {a["Name"]: a.get("Value", 0)
                           for a in info.get("Accumulables", [])}
                    stages[(path, info["Stage ID"])] = acc

    def in_window(t):
        return any(a <= t <= b for _, a, b in windows)

    picked = [(jid, s, e) for jid, (s, e) in jobs.items()
              if in_window(s) and e is not None]
    intervals = sorted((s, e) for _, s, e in picked)
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in intervals:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s

    def num(acc, key):
        try:
            return float(acc.get(key, 0) or 0)
        except (TypeError, ValueError):
            return 0.0

    n_stages, task_ms, sh_r, sh_w, spill = 0, 0.0, 0.0, 0.0, 0.0
    for jid, _, _ in picked:
        for sid in job_stages[jid]:
            acc = stages.get((jid[0], sid))
            if acc is None:  # skipped stage: its output was reused
                continue
            n_stages += 1
            task_ms += num(acc, "internal.metrics.executorRunTime")
            sh_r += (num(acc, "internal.metrics.shuffle.read.remoteBytesRead")
                     + num(acc, "internal.metrics.shuffle.read.localBytesRead"))
            sh_w += num(acc, "internal.metrics.shuffle.write.bytesWritten")
            spill += (num(acc, "internal.metrics.memoryBytesSpilled")
                      + num(acc, "internal.metrics.diskBytesSpilled"))
    op_s = sum(b - a for _, a, b in windows)
    return {"spark.jobs": len(picked), "spark.stages": n_stages,
            "spark.exec_s": busy, "plans.driver_s": max(op_s - busy, 0.0),
            "spark.task_s": task_ms / 1e3,
            "spark.shuffle_read_bytes": sh_r,
            "spark.shuffle_write_bytes": sh_w, "spark.spill_bytes": spill}


# ---------------------------------------------------------------- probes
def cache_state(spark) -> dict[str, float]:
    """Cached RDD blocks held right now (persisted frames, local
    checkpoints): entries, memory bytes, disk bytes."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    entries = mem = disk = 0
    for info in infos:
        if info.numCachedPartitions() > 0:
            entries += 1
            mem += info.memSize()
            disk += info.diskSize()
    return {"entries": entries, "mem_bytes": mem, "disk_bytes": disk}


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat, encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            children.setdefault(int(fields[1]), []).append(
                int(stat.split("/")[2]))
        except (OSError, IndexError, ValueError):
            continue
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cpu_ticks(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii",
                  errors="replace") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        # utime, stime, cutime, cstime (fields 14-17 of proc(5))
        return sum(int(x) for x in fields[11:15])
    except (OSError, IndexError, ValueError):
        return 0


def cpu_s(jvm_pid: int | None) -> dict[str, float]:
    """CPU seconds used so far by this driver process (``driver``), its
    JVM (``jvm``) and the JVM's Python workers (``workers``). Unlike wall
    time, CPU time leaves out the time a VM's host stole from its CPUs."""
    hz = os.sysconf("SC_CLK_TCK")
    out = {"driver": _cpu_ticks(os.getpid()) / hz, "jvm": 0.0,
           "workers": 0.0}
    if jvm_pid:
        out["jvm"] = _cpu_ticks(jvm_pid) / hz
        out["workers"] = sum(_cpu_ticks(p)
                             for p in _descendants(jvm_pid)) / hz
    return out


def cpu_delta(after: dict, before: dict) -> dict[str, float]:
    return {k: after[k] - before[k] for k in after}


def steal_s() -> float:
    """Seconds a VM's host has stolen from its CPUs so far, summed."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set of this driver process, its JVM and the JVM's
    Python workers, in MiB."""
    kb = _hwm_kb(os.getpid()) + _hwm_kb(jvm_pid)
    kb += sum(_hwm_kb(p) for p in _descendants(jvm_pid))
    return kb / 1024


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total


def p50(xs):
    return statistics.median(xs) if xs else 0.0
