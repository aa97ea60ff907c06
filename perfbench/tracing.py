"""Traced-run harness: spans around the calls into each layer's public
functions, py4j command counts, and per-invocation Spark counters.

Everything here lives in the benchmark; the library is not edited. The
wrappers are installed by rebinding module attributes, and they must be in
place before `registry.load_all()` imports the query modules, so that
`from gpu_mapreduce_spark.plans.iterate import fixpoint_observed` in a query
or operator module binds the wrapper. `install()` therefore imports the
layer modules leaf-first (a module's in-package imports before the module)
and wraps each right after its import.

`session.get_spark` and `registry.load_all` are timed by the worker, which
calls them once per process. Wrapped here: `sources` (`tables.table`,
`fixtures.derived`, `fixtures.edges_materialized`), `plans` (`iterate.*`,
`scratch.*`), `operators.<module>`, `streaming.pipeline`. `functions` only
builds column expressions; its work runs inside tasks and is not timed
separately.
"""

from __future__ import annotations

import ast
import functools
import importlib
import inspect
import json
import os
import time

PKG = "gpu_mapreduce_spark"
PKG_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), PKG)

# layer-module -> names to wrap (None: every public function it defines)
FIXED = {
    "sources.tables": ["table"],
    "sources.fixtures": ["derived", "edges_materialized"],
    "plans.iterate": ["fixpoint", "fixpoint_observed", "iterate_n"],
    "plans.scratch": ["sink_roundtrip"],
    "streaming.pipeline": None,
}


def _layer_modules() -> list[str]:
    ops = sorted(
        f"operators.{f[:-3]}"
        for f in os.listdir(os.path.join(PKG_DIR, "operators"))
        if f.endswith(".py") and f != "__init__.py"
    )
    return list(FIXED) + ops


def _local_deps(mod: str) -> set[str]:
    """In-package modules `mod` imports (relative to the package root)."""
    path = os.path.join(PKG_DIR, *mod.split(".")) + ".py"
    with open(path) as f:
        tree = ast.parse(f.read())
    deps = set()
    for node in ast.walk(tree):
        names = []
        if isinstance(node, ast.ImportFrom) and node.module:
            names = [node.module] + [f"{node.module}.{a.name}" for a in node.names]
        elif isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        for n in names:
            if n.startswith(PKG + "."):
                deps.add(n[len(PKG) + 1 :])
    return deps


def _leaf_first(mods: list[str]) -> list[str]:
    order, seen = [], set()

    def visit(m):
        if m in seen:
            return
        seen.add(m)
        for d in sorted(_local_deps(m) & set(mods)):
            visit(d)
        order.append(m)

    for m in mods:
        visit(m)
    return order


class Tracer:
    """Spans and counters of one traced worker process.

    `enabled` turns every wrapper into a pass-through, so one process can
    interleave traced and untraced passes and measure its own overhead."""

    def __init__(self) -> None:
        self.enabled = True
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.invocation: str | None = None
        self.py4j_calls = 0
        self.counting_py4j = False
        self.sc = None  # set once the session exists

    # -- wrapping ---------------------------------------------------------
    def install(self) -> None:
        import py4j.java_gateway as jg

        send = jg.GatewayClient.send_command
        tracer = self

        def counted(client, command, *a, **k):
            # reference releases ("m\nd\n") follow Python's GC, not the program
            if tracer.counting_py4j and not command.startswith("m\nd\n"):
                tracer.py4j_calls += 1
            return send(client, command, *a, **k)

        jg.GatewayClient.send_command = counted

        for mod in _leaf_first(_layer_modules()):
            m = importlib.import_module(f"{PKG}.{mod}")
            names = FIXED.get(mod) or [
                n
                for n, f in vars(m).items()
                if inspect.isfunction(f)
                and not n.startswith("_")
                and f.__module__ == m.__name__
            ]
            for n in names:
                setattr(m, n, self.wrap(mod, n, getattr(m, n)))

    def wrap(self, layer: str, name: str, fn):
        tracer = self
        special = {
            ("sources.fixtures", "derived"): self._derived,
            ("sources.fixtures", "edges_materialized"): self._edges,
        }.get((layer, name))

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled or tracer.invocation is None:
                return fn(*args, **kwargs)
            span = tracer._open(layer, name)
            try:
                if special is not None:
                    return special(span, fn, args, kwargs)
                out = fn(*args, **kwargs)
                if layer == "plans.iterate":
                    span["rounds"] = (
                        out[1] if isinstance(out, tuple) else _arg(fn, args, kwargs, "n")
                    )
                return out
            finally:
                tracer._close(span)

        return wrapper

    def _open(self, layer: str, name: str) -> dict:
        span = {
            "id": len(self.spans),
            "parent": self.stack[-1]["id"] if self.stack else None,
            "inv": self.invocation,
            "layer": layer,
            "fn": name,
            "job0": self.next_job_id(),
            "start": time.perf_counter(),
        }
        self.spans.append(span)
        self.stack.append(span)
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        span["jobs"] = self.next_job_id() - span.pop("job0")
        self.stack.pop()

    def _derived(self, span, fn, args, kwargs):
        def timed_builder(builder):
            def run():
                t = time.perf_counter()
                try:
                    return builder()
                finally:
                    span["build_s"] = time.perf_counter() - t

            return run

        args = list(args)
        if len(args) >= 4:
            args[3] = timed_builder(args[3])
        else:
            kwargs["builder"] = timed_builder(kwargs["builder"])
        out = fn(*args, **kwargs)
        span["hit"] = "build_s" not in span
        return out

    def _edges(self, span, fn, args, kwargs):
        from gpu_mapreduce_spark.sources import fixtures

        before = len(fixtures._EDGES_CACHE)
        t = time.perf_counter()
        out = fn(*args, **kwargs)
        if len(fixtures._EDGES_CACHE) != before:
            span["build_s"] = time.perf_counter() - t
        span["hit"] = "build_s" not in span
        return out

    # -- JVM-side counters (not counted as program py4j calls) ------------
    def _jvm(self, f):
        saved, self.counting_py4j = self.counting_py4j, False
        try:
            return f()
        finally:
            self.counting_py4j = saved

    def next_job_id(self) -> int:
        if self.sc is None:
            return 0
        return self._jvm(self._dag.nextJobId)

    def attach(self, sc) -> None:
        """Bind to the live SparkContext (after `get_spark`)."""
        self.sc = sc
        jsc = sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        jvm = sc._jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self._mapper = mapper
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def spark_counters(self, job_lo: int, job_hi: int) -> dict:
        """Jobs, stages, tasks and stage metrics of jobs [job_lo, job_hi)."""

        def read():
            self._bus.waitUntilEmpty()
            jobs = json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))
            jobs = [j for j in jobs if job_lo <= j["jobId"] < job_hi]
            ids = {s for j in jobs for s in j["stageIds"]}
            stages = json.loads(
                self._mapper.writeValueAsString(
                    self._store.stageList(None, False, False, self._no_quantiles, None)
                )
            )
            return jobs, [s for s in stages if s["stageId"] in ids and s["status"] != "SKIPPED"]

        jobs, stages = self._jvm(read)
        return {
            "jobs": job_hi - job_lo,
            "jobs_seen": len(jobs),
            "groups": sorted({j.get("jobGroup") or "" for j in jobs}),
            "stages": len(stages),
            "tasks": sum(s["numTasks"] for s in stages),
            "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / 2**20,
            "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / 2**20,
            "spill_mb": sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages
            )
            / 2**20,
        }


def _arg(fn, args, kwargs, name):
    try:
        return inspect.signature(fn).bind(*args, **kwargs).arguments[name]
    except (TypeError, KeyError):
        return None


def layer_totals(spans: list[dict]) -> dict[str, dict]:
    """Per layer: outermost calls, inclusive seconds (a call nested in a call
    of the same layer counts once), self seconds, jobs fired inside."""
    by_id = {s["id"]: s for s in spans}
    out: dict[str, dict] = {}
    child_s: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
    for s in spans:
        d = out.setdefault(s["layer"], {"calls": 0, "s": 0.0, "self_s": 0.0, "jobs": 0})
        dur = s["end"] - s["start"]
        d["self_s"] += dur - child_s.get(s["id"], 0.0)
        p, nested = s["parent"], False
        while p is not None:
            if by_id[p]["layer"] == s["layer"]:
                nested = True
                break
            p = by_id[p]["parent"]
        if not nested:
            d["calls"] += 1
            d["s"] += dur
            d["jobs"] += s["jobs"]
    return out
