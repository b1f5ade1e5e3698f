"""Per-layer tracing from outside the program.

- ``Tracer`` keeps spans in memory: one per query, with build, plan and
  execute children, and one per call into a wrapped public function.
- ``Instrumentation`` wraps the public functions of ``dataframes_spark.session``
  and of every module under ``operators``, ``functions`` and ``io``, and
  rebinds every name a ``from``-import already bound to one of them.
- ``Py4jCounter`` counts driver-to-JVM round trips.
- ``StageReader`` reads the jobs and stages of one job group from Spark's
  status store.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import operator
import pkgutil
import sys
import threading
import time

from metrics import exec_summary

PACKAGE = "dataframes_spark"
LAYER_PACKAGES = ("operators", "functions", "io")
SESSION_LAYER = "session"
ENTRY_MODULE = "__spark_entry__"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.query: str | None = None
        self._ids = itertools.count()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": next(self._ids),
            "parent": stack[-1]["id"] if stack else None,
            "query": self.query,
            "name": name,
            "layer": layer,
            "start": time.perf_counter(),
            "end": None,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.spans.append(rec)


class _Traced:
    """Callable stand-in for a module function that records a span per call."""

    def __init__(self, tracer: Tracer, layer: str, fn) -> None:
        functools.update_wrapper(self, fn)
        self._tracer, self._layer, self._fn = tracer, layer, fn

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._fn.__name__, self._layer):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        # a UDF closure that captured this stand-in ships the plain function
        return operator.getitem, ((self._fn,), 0)


def _layer_modules() -> list:
    """The session module and every importable module of the layer packages."""
    mods = [importlib.import_module(f"{PACKAGE}.{SESSION_LAYER}")]
    for pkg_name in LAYER_PACKAGES:
        pkg = importlib.import_module(f"{PACKAGE}.{pkg_name}")
        for info in pkgutil.iter_modules(pkg.__path__):
            try:
                mods.append(importlib.import_module(f"{pkg.__name__}.{info.name}"))
            except ImportError:
                continue  # optional dependency missing: nothing to trace there
    return mods


class Instrumentation:
    """Swaps traced stand-ins in for the layers' public functions."""

    def __init__(self, tracer: Tracer) -> None:
        wrapped: dict[int, tuple] = {}
        #: layer name (``session``, ``operators.sort``, ...) -> wrapped functions
        self.layers: dict[str, list[str]] = {}
        for mod in _layer_modules():
            layer = mod.__name__[len(PACKAGE) + 1 :]
            for name, obj in vars(mod).items():
                if (
                    inspect.isfunction(obj)
                    and obj.__module__ == mod.__name__
                    and not name.startswith("_")
                ):
                    wrapped[id(obj)] = (obj, _Traced(tracer, layer, obj))
                    self.layers.setdefault(layer, []).append(name)
        self._patches = []
        for mod_name, mod in sorted(sys.modules.items()):
            if mod is None or not (mod_name == ENTRY_MODULE or mod_name.startswith(PACKAGE)):
                continue
            for name, obj in list(vars(mod).items()):
                hit = wrapped.get(id(obj))
                if hit is not None and hit[0] is obj:
                    self._patches.append((mod, name, obj, hit[1]))

    def install(self) -> None:
        for mod, name, _, stand_in in self._patches:
            setattr(mod, name, stand_in)

    def uninstall(self) -> None:
        for mod, name, original, _ in self._patches:
            setattr(mod, name, original)


class Py4jCounter:
    """Counts commands the driver sends to the JVM while ``active``.
    Object-release messages are left out: garbage collection sends them at
    times unrelated to the work."""

    def __init__(self) -> None:
        from py4j import protocol
        from py4j.java_gateway import GatewayClient

        self.calls = 0
        self.active = False
        self._cls = GatewayClient
        self._original = GatewayClient.send_command
        self._release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
        counter, original = self, self._original

        def send_command(client, command, *args, **kwargs):
            if counter.active and not command.startswith(counter._release):
                counter.calls += 1
            return original(client, command, *args, **kwargs)

        self._counting = send_command

    def install(self) -> None:
        self._cls.send_command = self._counting

    def uninstall(self) -> None:
        self._cls.send_command = self._original


_MB = 1024.0 * 1024.0


class StageReader:
    """Jobs and stages of one job group, from the status store that Spark
    keeps even with the UI off."""

    def __init__(self, spark) -> None:
        jsc = spark._jsc.sc()
        self._tracker = spark.sparkContext.statusTracker()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()

    def query_metrics(self, group: str) -> dict:
        # the store is filled from the listener bus; let it catch up
        self._bus.waitUntilEmpty()
        jobs, stages, seen = [], [], set()
        for job_id in sorted(self._tracker.getJobIdsForGroup(group)):
            job = self._store.job(job_id)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                jobs.append((sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
            ids = job.stageIds()
            for i in range(ids.size()):
                stage_id = ids.apply(i)
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                record = self._stage(stage_id)
                if record is not None:
                    stages.append(record)
        return exec_summary(jobs, stages)

    def _stage(self, stage_id: int) -> dict | None:
        from py4j.protocol import Py4JJavaError

        try:
            sd = self._store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # evicted from the store, or never attempted
            return None
        if sd.status().toString() == "SKIPPED":
            return None
        return {
            "tasks": sd.numTasks(),
            "failed_tasks": sd.numFailedTasks(),
            "task_run_s": sd.executorRunTime() / 1e3,
            "task_cpu_s": sd.executorCpuTime() / 1e9,
            "gc_s": sd.jvmGcTime() / 1e3,
            "spill_mb": sd.diskBytesSpilled() / _MB,
            "shuffle_read_mb": sd.shuffleReadBytes() / _MB,
            "shuffle_write_mb": sd.shuffleWriteBytes() / _MB,
            "input_mb": sd.inputBytes() / _MB,
            "output_mb": sd.outputBytes() / _MB,
        }
