"""Tracing for the benchmark's traced run, from outside the program.

Three sources, none of which changes the program's code:

- spans: the public functions of each layer module are replaced by
  timing wrappers before the query modules are imported, so their
  ``from X import f`` binds the wrapper. Each span records its layer,
  function, query id, parent span, start/end and the py4j commands sent
  while it was open. Spans stay in memory until the run writes them.
- py4j commands: the ``send_command`` hook of ``tools/count_py4j.py``,
  plus a second hook that counts py4j's garbage-collection messages
  apart. Those are sent whenever Python frees a JVM proxy, so their
  number varies from run to run; every other command repeats exactly at
  the same lap position, and spans count only those.
- the engine: Spark's own status stores (jobs, stages, SQL executions),
  read once after the laps and attributed by job group
  (``<query>#build`` / ``<query>#exec``) and by lap time window.
"""

from __future__ import annotations

import functools
import importlib
import importlib.util
import inspect
import json
import os
import re
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# layer name -> modules whose public functions are wrapped
LAYERS: dict[str, list[str]] = {
    "du": ["pyield_spark.du"],
    "functions": ["pyield_spark.functions.dates", "pyield_spark.functions.numbers"],
    "curves": ["pyield_spark.curves.interpolate", "pyield_spark.curves.forwards"],
    "bonds": [
        "pyield_spark.bonds.pricing",
        "pyield_spark.bonds.cashflows",
        "pyield_spark.bonds.bootstrap",
        "pyield_spark.bonds.vna",
        "pyield_spark.bonds.benchmark",
    ],
    "analytics": [
        "pyield_spark.analytics.futuro",
        "pyield_spark.analytics.leiloes_tpf",
        "pyield_spark.analytics.leiloes_bc",
        "pyield_spark.analytics.selic",
        "pyield_spark.analytics.total_return",
    ],
    "operators.asof": ["pyield_spark.operators.asof"],
    "operators.graph": ["pyield_spark.operators.graph"],
    "operators.pinning": ["pyield_spark.operators.pinning"],
    "operators.similarity": ["pyield_spark.operators.similarity"],
    "operators.dedup": ["pyield_spark.operators.dedup"],
    "operators.text": ["pyield_spark.operators.text"],
}
# single functions traced as their own layer
SINGLE: dict[str, tuple[str, str]] = {
    "queries.tables": ("pyield_spark.queries", "tables"),
    "calendar_br.df_cache_get": ("pyield_spark.calendar_br", "df_cache_get"),
}


def load_tool(name: str):
    """Import ``tools/<name>.py`` of this repository (not a package) once
    per process, keeping ``sys.path`` as it was."""
    key = f"_tool_{name}"
    if key not in sys.modules:
        spec = importlib.util.spec_from_file_location(
            key, os.path.join(ROOT, "tools", f"{name}.py")
        )
        mod = importlib.util.module_from_spec(spec)
        path = sys.path[:]
        try:
            spec.loader.exec_module(mod)
        finally:
            sys.path[:] = path
        sys.modules[key] = mod
    return sys.modules[key]


def py4j_counters() -> tuple[list[int], list[int]]:
    """(all py4j commands, garbage-collection ones) as one-element lists
    that grow as commands are sent; the hooks are installed once per
    process."""
    tool = load_tool("count_py4j")
    if not hasattr(tool, "GC"):
        tool.GC = [0]
        inner = tool.cs.ClientServerConnection.send_command

        def send(conn, command):
            if command.startswith("m\n"):  # py4j MEMORY_COMMAND_NAME
                tool.GC[0] += 1
            return inner(conn, command)

        tool.cs.ClientServerConnection.send_command = send
    return tool.COUNT, tool.GC


class Span:
    """One call into a layer: ``t0``/``t1`` in ``time.perf_counter``
    seconds, ``c0``/``c1`` the count of py4j commands other than
    garbage-collection messages at entry and exit."""

    __slots__ = ("id", "layer", "name", "query", "lap", "parent", "t0", "t1",
                 "c0", "c1", "extra")

    def __init__(self, id, layer, name, query, lap, parent, t0, t1=0.0, c0=0, c1=0):
        self.id, self.layer, self.name, self.query, self.lap = id, layer, name, query, lap
        self.parent, self.t0, self.t1, self.c0, self.c1 = parent, t0, t1, c0, c1
        self.extra: dict = {}

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.t0, s.t1))
    out = {}
    for s in spans:
        covered, end = 0.0, s.t0
        for a, b in sorted(kids.get(s.id, [])):
            a, b = max(a, end), min(b, s.t1)
            if b > a:
                covered += b - a
                end = b
        out[s.id] = (s.t1 - s.t0) - covered
    return out


def self_counts(spans: list[Span]) -> dict[int, int]:
    """Span id -> py4j commands sent while it was the innermost span."""
    child = {}
    for s in spans:
        if s.parent is not None:
            child[s.parent] = child.get(s.parent, 0) + (s.c1 - s.c0)
    return {s.id: (s.c1 - s.c0) - child.get(s.id, 0) for s in spans}


class Tracer:
    """Span recorder plus the wrappers that feed it.

    ``install`` must run before ``load_all()``; ``uninstall`` restores
    every original binding. ``enabled`` turns recording off without
    unwrapping, for the untraced comparison lap.
    """

    def __init__(self):
        self.py4j, self.py4j_gc = py4j_counters()
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.query, self.lap = "setup", -1
        self.enabled = True
        self.epoch = time.time() - time.perf_counter()
        self._patched: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------
    def open(self, layer: str, name: str) -> Span:
        parent = self.stack[-1].id if self.stack else None
        s = Span(len(self.spans), layer, name, self.query, self.lap, parent,
                 time.perf_counter(), c0=self.calls())
        self.spans.append(s)
        self.stack.append(s)
        return s

    def close(self, s: Span) -> None:
        s.t1, s.c1 = time.perf_counter(), self.calls()
        self.stack.pop()

    def calls(self) -> int:
        """py4j commands sent so far, garbage-collection messages excluded."""
        return self.py4j[0] - self.py4j_gc[0]

    def _wrap(self, layer: str, fn):
        name = f"{fn.__module__}.{fn.__qualname__}"
        sig = inspect.signature(fn)

        def call(s: Span, args, kwargs):
            if fn.__name__ == "df_cache_get":
                # a miss is a call whose builder ran
                bound = sig.bind(*args, **kwargs)
                builder = bound.arguments["builder"]
                s.extra["miss"] = 0

                def counted():
                    s.extra["miss"] = 1
                    return builder()

                bound.arguments["builder"] = counted
                return fn(*bound.args, **bound.kwargs)
            if fn.__name__ == "connected_components":
                bound = sig.bind(*args, **kwargs)
                if bound.arguments.get("stats") is None:
                    bound.arguments["stats"] = {}
                try:
                    return fn(*bound.args, **bound.kwargs)
                finally:
                    s.extra["rounds"] = bound.arguments["stats"].get("rounds", 0)
            return fn(*args, **kwargs)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            s = self.open(layer, name)
            try:
                return call(s, args, kwargs)
            finally:
                self.close(s)

        return wrapper

    # -- installation ------------------------------------------------
    def install(self) -> None:
        wrappers: dict[int, object] = {}
        for layer, mods in LAYERS.items():
            for modname in mods:
                mod = importlib.import_module(modname)
                for attr, fn in vars(mod).items():
                    if (not attr.startswith("_") and inspect.isfunction(fn)
                            and fn.__module__ == modname):
                        wrappers[id(fn)] = (fn, self._wrap(layer, fn))
        for layer, (modname, attr) in SINGLE.items():
            fn = getattr(importlib.import_module(modname), attr)
            wrappers[id(fn)] = (fn, self._wrap(layer, fn))
        # rebind in every loaded module of the package, so imports made
        # before installation see the wrappers too
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("pyield_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                hit = wrappers.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])
                    self._patched.append((mod, attr, val))

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()


# -- engine side: Spark's status stores ------------------------------
def read_stores(spark) -> dict:
    """Jobs, stages and SQL executions, as JSON from the status stores."""
    sc = spark.sparkContext
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala, "MODULE$"))
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(None, False, False,
                             sc._gateway.new_array(jvm.double, 0),
                             jvm.java.util.ArrayList())
    sql = spark._jsparkSession.sharedState().statusStore()
    return {
        "jobs": json.loads(mapper.writeValueAsString(store.jobsList(None))),
        "stages": json.loads(mapper.writeValueAsString(stages)),
        "executions": json.loads(mapper.writeValueAsString(sql.executionsList())),
    }


_NODE = re.compile(r"^[\s:|+-]*(?:\* )?([A-Za-z]\w*)(?: [^(\n]*)? \(\d+\)", re.M)


def plan_nodes(description: str) -> list[str]:
    """Node names of the executed plan in a formatted physical-plan
    description (the AQE final plan when there is one)."""
    tree = description.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return _NODE.findall(tree)


def _union_s(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


def engine_metrics(stores: dict, windows: list[tuple[float, float]]) -> dict:
    """Totals over the jobs started inside ``windows`` (epoch seconds)
    under a benchmark job group."""

    def inside(job):
        t = job.get("submissionTime")
        return t is not None and any(a * 1000 <= t <= b * 1000 for a, b in windows)

    jobs = [j for j in stores["jobs"]
            if inside(j) and "#" in (j.get("jobGroup") or "")]
    ids = {j["jobId"] for j in jobs}
    stage_ids = {sid for j in jobs for sid in j["stageIds"]}
    stages = [s for s in stores["stages"]
              if s["stageId"] in stage_ids and s["status"] != "SKIPPED"]
    execs = [e for e in stores["executions"]
             if any(int(k) in ids for k in e.get("jobs", {}))]
    nodes = [n for e in execs for n in plan_nodes(e.get("physicalPlanDescription", ""))]
    exec_jobs = [(j["submissionTime"], j.get("completionTime") or j["submissionTime"])
                 for j in jobs if j["jobGroup"].endswith("#exec")]
    return {
        "spark.exec_s": _union_s(exec_jobs),
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
        "spark.executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "spark.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
        "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "spark.spill_bytes": sum(s["diskBytesSpilled"] for s in stages),
        "spark.peak_exec_mem_bytes": max((s["peakExecutionMemory"] for s in stages),
                                         default=0),
        "spark.exchanges": sum(n in ("Exchange", "BroadcastExchange") for n in nodes),
        "spark.windows": sum(n == "Window" for n in nodes),
    }


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of process ``pid`` (VmHWM), in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
