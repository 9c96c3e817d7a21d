"""Per-layer tracing for the perfbench traced run.

Two sources, both read outside the timed window:

- ``LayerTracer`` wraps every public function of the traced package
  modules (and every alias other modules imported) with a timer that
  also switches the Spark job group, so each job launched inside a call
  is attributed to the innermost traced layer. Times are inclusive: a
  ``kb`` call that runs ``operators.merge`` counts in both.
- ``spark_counters`` reads job / stage / task counters for a set of job
  groups from ``statusTracker`` and the in-process status store, after
  draining the listener bus.
"""

from __future__ import annotations

import functools
import inspect
import sys
import time
from collections import defaultdict

# per-layer metric prefix -> traced module
LAYERS = {
    "loaders.civic": "graphkb_spark.loaders.civic",
    "operators.merge": "graphkb_spark.operators.merge",
    "kb_io": "graphkb_spark.kb_io",
    "plans.filter_dsl": "graphkb_spark.plans.filter_dsl",
    "kb": "graphkb_spark.kb",
    "operators.graph": "graphkb_spark.operators.graph",
    "operators.dedup": "graphkb_spark.operators.dedup",
}


class LayerTracer:
    def __init__(self, sc):
        self.sc = sc
        self.stack: list[str] = []  # active job groups, innermost last
        self.base_group = ""
        self.groups: set[str] = set()
        self.time = defaultdict(float)  # (layer, fn) -> inclusive seconds
        self.calls = defaultdict(int)
        self._active = defaultdict(int)  # layer -> nesting depth
        self._saved: list[tuple[object, str, object]] = []

    # -- installation ----------------------------------------------------
    def install(self) -> None:
        originals = {}
        for layer, modname in LAYERS.items():
            mod = sys.modules.get(modname) or __import__(modname, fromlist=["_"])
            for name, obj in vars(mod).items():
                if (
                    not name.startswith("_")
                    and inspect.isfunction(obj)
                    and obj.__module__ == modname
                ):
                    originals[id(obj)] = (obj, self._wrap(layer, name, obj))
        targets = [
            m for n, m in list(sys.modules.items())
            if m is not None and n.startswith("graphkb_spark")
        ]
        for mod in targets:
            for name, obj in list(vars(mod).items()):
                hit = originals.get(id(obj))
                if hit is not None and hit[0] is obj:
                    self._saved.append((mod, name, obj))
                    setattr(mod, name, hit[1])

    def uninstall(self) -> None:
        for mod, name, obj in reversed(self._saved):
            setattr(mod, name, obj)
        self._saved.clear()

    def _wrap(self, layer: str, fn: str, obj):
        @functools.wraps(obj)
        def traced(*args, **kwargs):
            outer = self._active[layer] == 0
            self._active[layer] += 1
            group = f"{self.base_group}/{layer}"
            self._push(group)
            t0 = time.perf_counter()
            try:
                return obj(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                self._pop()
                self._active[layer] -= 1
                if outer:
                    self.time[(layer, fn)] += dt
                    self.calls[(layer, fn)] += 1

        return traced

    # -- job groups ------------------------------------------------------
    def begin(self, group: str) -> None:
        """Start a phase (an op's build or action) under ``group``."""
        self.base_group = group
        self.stack = []
        self._push(group)

    def _push(self, group: str) -> None:
        self.stack.append(group)
        self.groups.add(group)
        self.sc.setJobGroup(group, group)

    def _pop(self) -> None:
        self.stack.pop()
        if self.stack:
            self.sc.setJobGroup(self.stack[-1], self.stack[-1])


def drain_listener_bus(sc) -> None:
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def spark_counters(sc, groups, seen: set) -> dict:
    """Jobs, executed stages, tasks, executor run time, shuffle write,
    spill and output bytes per job group (call after draining the
    listener bus). A stage reused by a later job (its shuffle output
    already exists) is counted once: ``seen`` carries the stage ids
    counted so far."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {}
    for g in groups:
        c = defaultdict(float)
        for jid in tracker.getJobIdsForGroup(g):
            c["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # stage never submitted
                    continue
                if sid in seen or sd.status().toString() == "SKIPPED":
                    continue
                seen.add(sid)
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                c["failed_tasks"] += sd.numFailedTasks()
                c["run_ms"] += sd.executorRunTime()
                c["shuffle_write_b"] += sd.shuffleWriteBytes()
                c["spill_b"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                c["output_b"] += sd.outputBytes()
        out[g] = c
    return out
