"""Spans, engine counters and RSS for the benchmark, from outside the
program: nothing here changes a program file.

- :class:`Tracer` keeps spans ``(name, start, end, parent, run_id)``
  in memory. :meth:`Tracer.wrap` installs a span around a public
  function of the program through :func:`patch`, which replaces the
  function object wherever a module of the package holds a reference
  to it (``from x import f`` copies the reference, so patching the
  defining module alone would miss those callers).
- :class:`EngineLedger` reads Spark's status store (it works with
  ``spark.ui.enabled=false``) as JSON and sums the counters of the
  jobs and stages submitted within a span.
- :func:`make_stream_listener` records each micro-batch's addBatch
  and trigger times.
- :class:`RssSampler` samples the resident set of this process and
  all its descendants (the driver JVM and the Python workers), and
  :func:`tree_cpu_s` reads their CPU time.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

PACKAGE = "ursa_major_choir_etl_spark"


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing and
    wraps nothing."""

    def __init__(self, enabled: bool, run_id: str = ""):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.run_id = run_id
        self.overhead_s = 0.0  # time spent recording spans
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["end"] = time.time()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - t1

    def wrap(self, module, attr: str, name) -> None:
        """Put a span around ``module.attr``; ``name`` is a span name or
        a function of the call's (args, kwargs) returning one."""
        if not self.enabled:
            return

        def make(orig):
            @functools.wraps(orig)
            def wrapper(*args, **kwargs):
                span_name = name(args, kwargs) if callable(name) else name
                with self.span(span_name):
                    return orig(*args, **kwargs)

            return wrapper

        patch(module, attr, make)

    def children(self, idx: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == idx]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def patch(module, attr: str, make) -> None:
    """Replace ``module.attr`` by ``make(original)`` in the module and
    in every module of the package holding the same function object."""
    orig = getattr(module, attr)
    new = make(orig)
    for mod in list(sys.modules.values()):
        mod_name = getattr(mod, "__name__", "") or ""
        if mod is module or mod_name.startswith(PACKAGE):
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, new)


STAGE_FIELDS = {
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_bytes",
    "outputBytes": "output_bytes",
    "outputRecords": "output_rows",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "diskBytesSpilled": "spill_bytes",
    "numCompleteTasks": "tasks",
}


class EngineLedger:
    """Jobs and stages from the status store, read in bulk as JSON (one
    call into the JVM per read instead of one per field)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = jvm.com.fasterxml.jackson.module.scala
        self._mapper.registerModule(
            getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$")
        )
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._empty = jvm.java.util.ArrayList()
        self.jobs: dict[int, dict] = {}
        self.stages: dict[tuple[int, int], dict] = {}

    def poll(self) -> None:
        """Fold every finished job and stage into the ledger. Call it
        often enough that the store's retention limit is not reached
        between calls."""
        jobs = json.loads(
            self._mapper.writeValueAsString(self._store.jobsList(None))
        )
        for j in jobs:
            if j.get("submissionTime") is not None:
                self.jobs[j["jobId"]] = {
                    "t": j["submissionTime"] / 1000.0,
                    "status": j["status"],
                }
        stages = json.loads(
            self._mapper.writeValueAsString(
                self._store.stageList(
                    None, False, False, self._no_quantiles, self._empty
                )
            )
        )
        for s in stages:
            if s["status"] not in ("COMPLETE", "FAILED"):
                continue
            if s.get("submissionTime") is None:
                continue
            row = {"t": s["submissionTime"] / 1000.0, "stages": 1}
            for src, dst in STAGE_FIELDS.items():
                row[dst] = s.get(src) or 0
            self.stages[(s["stageId"], s["attemptId"])] = row

    def totals(self, start: float, end: float) -> dict:
        """Counters of the jobs and stages submitted in [start, end)."""
        out = {"jobs": sum(1 for j in self.jobs.values() if start <= j["t"] < end)}
        acc = {"stages": 0, **{v: 0 for v in STAGE_FIELDS.values()}}
        for s in self.stages.values():
            if start <= s["t"] < end:
                for k in acc:
                    acc[k] += s[k]
        out.update(acc)
        return out


def engine_metrics(tot: dict, wall_s: float, cores: int) -> dict:
    """The ``spark.*`` metrics of the counters of a ``wall_s`` interval;
    ``slot_idle_frac`` is the share of its task-slot time (wall time
    times cores) in which no task ran."""
    run_s = tot["executor_run_ms"] / 1000.0
    idle = 1.0 - run_s / (wall_s * cores) if wall_s > 0 else 0.0
    return {
        "jobs": tot["jobs"],
        "stages": tot["stages"],
        "tasks": tot["tasks"],
        "executor_run_s": run_s,
        "executor_cpu_s": tot["executor_cpu_ns"] / 1e9,
        "gc_s": tot["gc_ms"] / 1000.0,
        "input_bytes": tot["input_bytes"],
        "shuffle_read_bytes": tot["shuffle_read_bytes"],
        "shuffle_write_bytes": tot["shuffle_write_bytes"],
        "spill_bytes": tot["spill_bytes"],
        "slot_idle_frac": idle,
    }


def make_stream_listener():
    """A StreamingQueryListener recording each micro-batch's addBatch
    and triggerExecution durations (ms)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamListener(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            d = event.progress.durationMs
            with self._lock:
                self.batches.append({
                    "t": time.time(),
                    "rows": event.progress.numInputRows,
                    "add_batch_ms": d.get("addBatch", 0),
                    "trigger_ms": d.get("triggerExecution", 0),
                })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def snapshot(self) -> list[dict]:
            with self._lock:
                return list(self.batches)

    return StreamListener()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the ppid follows its ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used by ``root`` and its descendants,
    including children they have already reaped. Unlike wall time it
    does not count time the host gave to other machines."""
    kids = _children_map()
    tick = os.sysconf("SC_CLK_TCK")
    todo, total = [root], 0
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat(5)
        total += sum(int(x) for x in fields[11:15])
        todo.extend(kids.get(pid, []))
    return total / tick


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    except (OSError, IndexError, ValueError):
        return 0


def tree_rss_mb(root: int) -> float:
    kids = _children_map()
    todo, total = [root], 0
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, []))
    return total / 1024.0


class RssSampler:
    """Background thread sampling the process tree's RSS; ``peak_mb``
    is the largest sum seen since :meth:`start`."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self.interval_s)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
