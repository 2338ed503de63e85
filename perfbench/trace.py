"""Traced-run instrumentation, kept in the benchmark's own files.

* :class:`Tracer` records spans in memory: name, layer, start, end, parent
  link, the Py4J round trips made inside the span (a counting wrapper on
  ``GatewayClient.send_command``) and a Spark task census diffed over the
  span. Spans are written out once, when the run ends.
* Layer spans come from wrapping the functions an app module imported by
  name (``generate_training_data.create_sequence_data_with_att`` and so on),
  so the program itself is unchanged; :meth:`Tracer.uninstall` restores the
  originals for untraced passes.
* :class:`SparkCensus` reads the application status store and the codegen
  counters over the gateway. Both work with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time

import py4j.java_gateway as jg

_ORIG_SEND = jg.GatewayClient.send_command


class SparkCensus:
    """Cumulative task counters and per-pass stage/job census for one
    SparkContext, read from its status store."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._sc = spark._jsc.sc()
        self._store = self._sc.statusStore()
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala.__getattr__("MODULE$"))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._codegen_gen = getattr(
            jvm.org.apache.spark.sql.catalyst.expressions.codegen, "CodeGenerator$"
        ).__getattr__("MODULE$")

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _json(self, obj) -> list:
        return json.loads(self._mapper.writeValueAsString(obj))

    def totals(self) -> dict:
        """Cumulative executor totals (local mode: the one driver executor)."""
        self._drain()
        ex = self._json(self._store.executorList(True))
        return {
            "tasks": sum(e["totalTasks"] for e in ex),
            "failed_tasks": sum(e["failedTasks"] for e in ex),
            "task_s": sum(e["totalDuration"] for e in ex) / 1000.0,
            "gc_s": sum(e["totalGCTime"] for e in ex) / 1000.0,
            "scan_bytes": sum(e["totalInputBytes"] for e in ex),
            "shuffle_read_bytes": sum(e["totalShuffleRead"] for e in ex),
            "shuffle_write_bytes": sum(e["totalShuffleWrite"] for e in ex),
        }

    def codegen(self) -> dict:
        return {
            "compile_s": self._codegen_gen.compileTime() / 1e9,
            "classes": self._codegen.METRIC_COMPILATION_TIME().getCount(),
        }

    def mark(self) -> tuple[int, int]:
        """Highest job and stage ids so far."""
        self._drain()
        jobs = self._json(self._store.jobsList(None))
        stages = self._stages()
        return (
            max((j["jobId"] for j in jobs), default=-1),
            max((s["stageId"] for s in stages), default=-1),
        )

    def _stages(self) -> list:
        return self._json(
            self._store.stageList(None, False, False, self._no_quantiles, None)
        )

    def since(self, mark: tuple[int, int], t0: float, t1: float, cores: int) -> dict:
        """Jobs, stages and task totals of everything after ``mark``; busy
        ratio and driver gap over the wall interval ``[t0, t1]`` (epoch s)."""
        self._drain()
        jobs = [j for j in self._json(self._store.jobsList(None)) if j["jobId"] > mark[0]]
        stages = [s for s in self._stages() if s["stageId"] > mark[1]]
        run = [s for s in stages if s.get("firstTaskLaunchedTime")]
        task_s = sum(s["executorRunTime"] for s in run) / 1000.0
        wall = max(t1 - t0, 1e-9)
        # Union of the stages' [first task launch, completion] intervals,
        # clipped to the pass: the time at least one task was running.
        spans = sorted(
            (max(t0, s["firstTaskLaunchedTime"] / 1000.0),
             min(t1, (s.get("completionTime") or t1 * 1000.0) / 1000.0))
            for s in run
        )
        busy, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in spans:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    busy += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            busy += cur_hi - cur_lo
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["numTasks"] for s in run),
            "failed_tasks": sum(s["numFailedTasks"] for s in stages),
            "task_s": task_s,
            "task_cpu_s": sum(s["executorCpuTime"] for s in run) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in run) / 1000.0,
            "scan_bytes": sum(s["inputBytes"] for s in run),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in run),
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in run),
            "spill_bytes": sum(s["diskBytesSpilled"] for s in run),
            "busy_ratio": task_s / (wall * cores),
            "driver_gap_s": max(0.0, wall - busy),
        }


class Tracer:
    """Span recorder with a Py4J round-trip counter and per-span task
    census. Install it around traced passes only."""

    def __init__(self, census: SparkCensus):
        self.census = census
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._py4j = 0
        self._counting = False
        self._patched: list[tuple[object, str, object]] = []

    # -- Py4J counter ---------------------------------------------------------
    def _install_counter(self) -> None:
        tracer = self

        def counted(client, *a, **k):
            if tracer._counting:
                tracer._py4j += 1
            return _ORIG_SEND(client, *a, **k)

        jg.GatewayClient.send_command = counted
        self._counting = True

    def _uninstall_counter(self) -> None:
        jg.GatewayClient.send_command = _ORIG_SEND
        self._counting = False

    def _uncounted(self, fn):
        was, self._counting = self._counting, False
        try:
            return fn()
        finally:
            self._counting = was

    # -- spans ----------------------------------------------------------------
    def span(self, name: str, layer: str, pass_id: int, **attrs):
        return _Span(self, name, layer, pass_id, attrs)

    def wrap(self, module, attr: str, layer: str, pass_ref: list, on_exit=None) -> None:
        """Replace ``module.attr`` by a wrapper opening a span per call.
        ``pass_ref[0]`` holds the current pass id; ``on_exit(span, args,
        kwargs)`` may add attributes when the call returns."""
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(f"{layer}.{attr}", layer, pass_ref[0]) as sp:
                out = orig(*args, **kwargs)
            if on_exit is not None:
                on_exit(sp.record, args, kwargs)
            return out

        setattr(module, attr, traced)
        self._patched.append((module, attr, orig))

    def install(self) -> None:
        self._install_counter()

    def uninstall(self) -> None:
        self._uninstall_counter()
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp, sort_keys=True) + "\n")

    # -- aggregation ----------------------------------------------------------
    def layer_totals(self, pass_ids: list[int]) -> dict:
        """Per-layer calls, self seconds and self Py4J calls, averaged over
        the given passes. Self = own value minus that of direct children."""
        by_id = {sp["id"]: sp for sp in self.spans if sp["pass"] in pass_ids}
        child_s: dict[int, float] = {}
        child_rpc: dict[int, int] = {}
        for sp in by_id.values():
            p = sp["parent"]
            if p in by_id:
                child_s[p] = child_s.get(p, 0.0) + sp["t1"] - sp["t0"]
                child_rpc[p] = child_rpc.get(p, 0) + sp["py4j"]
        out: dict[str, dict] = {}
        n = max(1, len(pass_ids))
        for sp in by_id.values():
            agg = out.setdefault(sp["layer"], {"calls": 0, "self_s": 0.0, "py4j_calls": 0})
            agg["calls"] += 1 / n
            agg["self_s"] += (sp["t1"] - sp["t0"] - child_s.get(sp["id"], 0.0)) / n
            agg["py4j_calls"] += (sp["py4j"] - child_rpc.get(sp["id"], 0)) / n
        return out


class _Span:
    def __init__(self, tracer: Tracer, name: str, layer: str, pass_id: int, attrs: dict):
        self.tracer = tracer
        self.record = {
            "id": len(tracer.spans),
            "parent": tracer._stack[-1]["id"] if tracer._stack else None,
            "name": name,
            "layer": layer,
            "pass": pass_id,
            **attrs,
        }

    def __enter__(self):
        tr = self.tracer
        tr.spans.append(self.record)
        tr._stack.append(self.record)
        self._before = tr._uncounted(tr.census.totals)
        self._py4j0 = tr._py4j
        self.record["t0"] = time.time()
        return self

    def __exit__(self, *exc):
        tr = self.tracer
        self.record["t1"] = time.time()
        self.record["py4j"] = tr._py4j - self._py4j0
        after = tr._uncounted(tr.census.totals)
        self.record["census"] = {k: after[k] - self._before[k] for k in after}
        if exc[0] is not None:
            self.record["error"] = f"{exc[0].__name__}: {exc[1]}"[:300]
        tr._stack.pop()
        return False


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def dir_bytes_files(path: str) -> tuple[int, int]:
    """Bytes and data files (not checksums or markers) under ``path``."""
    total, files = 0, 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files
