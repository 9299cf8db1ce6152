"""Per-layer tracing, done entirely from the benchmark's side.

The package itself carries no tracing.  A ``Tracer`` wraps the calls
into each layer (parser, resolver, planner, engine registration) for the
length of a traced run, counts py4j call commands issued while a
statement compiles, tags Spark jobs with a job group per statement, and
at the end reads stage and SQL-node metrics from Spark's status stores.
Spans are kept in memory and written once, with the run's side file.

``NullTracer`` is what untraced runs use: every hook is a no-op, so the
end-to-end figures are measured with tracing off.
"""

from __future__ import annotations

import re
import statistics
import time
from contextlib import contextmanager, nullcontext

PER_LAYER = [
    ("parser.parse_ms", "ms"), ("resolver.resolve_ms", "ms"),
    ("planner.plan_ms", "ms"), ("planner.py4j_calls", "count"),
    ("planner.eager_jobs", "count"),
    ("catalyst.ms", "ms"), ("catalyst.optimized_plan_nodes", "count"),
    ("exec.ms", "ms"), ("exec.jobs", "count"), ("exec.tasks", "count"),
    ("exec.shuffle_read_bytes", "B"), ("exec.shuffle_write_bytes", "B"),
    ("exec.spill_bytes", "B"), ("exec.executor_run_ms", "ms"),
    ("exec.executor_cpu_ms", "ms"),
    ("llm_ops.ms", "ms"),
    ("llm_ops.python_rows", "count"), ("llm_ops.python_bytes_sent", "B"),
    ("llm_ops.python_bytes_received", "B"),
    ("streaming.add_batch_ms", "ms"), ("streaming.query_planning_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"), ("streaming.state_commit_ms", "ms"),
    ("streaming.state_rows", "count"),
    ("streaming.state_memory_bytes", "B"),
    ("streaming.batches", "count"), ("streaming.empty_batches", "count"),
    # the Python state operators report no bytes sent to their workers
    ("streaming.python_rows", "count"),
    ("streaming.python_bytes_received", "B"),
    ("engine.load_ms", "ms"),
]

# SQL plan nodes that run Python workers (Arrow/pandas UDFs, stateful
# pandas, mapInPandas ...).  Their rows and bytes count under
# ``streaming.python_*`` for stream operations (the Python state
# operators) and under ``llm_ops.python_*`` otherwise (the LLM
# operators' UDFs; no other batch path runs Python workers)
_PY_NODE = re.compile(r"Python|Pandas|Arrow", re.I)
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}


def parse_metric(text: str) -> float:
    """Spark's formatted SQL metric (``"1,234"``, ``"total (min, med,
    max ...)\\n12.3 KiB (...)"``) as a number, sizes in bytes."""
    line = text.strip().split("\n")[-1]
    m = re.match(r"\s*([0-9.,]+)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE.get(m.group(2), 1)


class NullTracer:
    def instrument(self) -> None:
        pass

    def reset(self) -> None:
        pass

    def op(self, key: str):
        return nullcontext()

    def span(self, layer: str):
        return nullcontext()

    def compiling(self, layer: str = "engine"):
        return nullcontext()

    def force_catalyst(self, df) -> None:
        pass

    def stream_run(self, query) -> None:
        pass


class Tracer(NullTracer):
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.ops: dict[int, dict] = {}     # op id -> statement record
        self.spans: list[tuple] = []       # (op, layer, start, end, self)
        self._next = 0                     # op ids never repeat in a run
        self._cur: dict | None = None
        self._stack: list[list] = []       # [layer, t0, child_time]
        self._counting = False
        self._py4j = 0
        self._stream_runs: dict[str, int] = {}   # runId -> op index
        self._load_ms: list[float] = []
        self._patched: list[tuple] = []
        self._patch_py4j()

    # ---- wrapping -------------------------------------------------------

    def _wrap(self, owner, attr: str, layer: str) -> None:
        fn = getattr(owner, attr)
        tracer = self

        def wrapped(*a, **kw):
            with tracer.span(layer):
                return fn(*a, **kw)
        self._patched.append((owner, attr, fn))
        setattr(owner, attr, wrapped)

    def _patch_py4j(self) -> None:
        import py4j.clientserver
        import py4j.java_gateway
        tracer = self
        for cls in (py4j.clientserver.ClientServerConnection,
                    py4j.java_gateway.GatewayConnection):
            fn = cls.send_command

            def send(conn, command, _fn=fn):
                # count call commands only: py4j also sends messages when
                # Python proxies are garbage-collected, and those arrive
                # at arbitrary points
                if tracer._counting and command.startswith("c\n"):
                    tracer._py4j += 1
                return _fn(conn, command)
            self._patched.append((cls, "send_command", fn))
            cls.send_command = send

    def reset(self) -> None:
        """Forget the warm-up: only timed operations are reported."""
        self.ops.clear()
        self.spans.clear()

    def instrument(self) -> None:
        """Wrap the layer entry points.  Class-level for the resolver and
        planner so every engine in the process is covered; the engine
        module's ``parse`` names for the parser."""
        import flink_dsl_spark.engine as engine_mod
        from flink_dsl_spark.planner import Planner
        from flink_dsl_spark.resolver import Resolver
        if any(o is Planner for o, _, _ in self._patched):
            return
        self._wrap(engine_mod, "parse", "parser")
        self._wrap(engine_mod, "parse_many", "parser")
        self._wrap(Resolver, "resolve", "resolver")
        self._wrap(Planner, "plan", "planner")

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # ---- spans ----------------------------------------------------------

    @contextmanager
    def span(self, layer: str):
        if any(s[0] == layer for s in self._stack):
            yield                          # re-entry: outer span owns it
            return
        frame = [layer, time.perf_counter(), 0.0]
        self._stack.append(frame)
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            dur = t1 - frame[1]
            if self._stack:
                self._stack[-1][2] += dur
            own = dur - frame[2]
            rec = self._cur
            if rec is not None:
                rec["layers"][layer] = rec["layers"].get(layer, 0.0) \
                    + own * 1000.0
                self.spans.append((rec["id"], layer,
                                   round(frame[1], 6), round(t1, 6),
                                   round(own * 1000.0, 3)))
            elif layer == "engine":
                self._load_ms.append(dur * 1000.0)

    @contextmanager
    def op(self, key: str):
        idx = self._next
        self._next += 1
        rec = {"id": idx, "key": key, "layers": {}, "py4j": 0,
               "group": f"perfbench-{idx}"}
        self.ops[idx] = rec
        self._cur = rec
        self.sc.setJobGroup(rec["group"] + "-c", key)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_ms"] = (time.perf_counter() - t0) * 1000.0
            self._cur = None
            self.sc.setJobGroup("perfbench-idle", "idle")

    @contextmanager
    def compiling(self, layer: str = "engine"):
        """Around the call that turns a statement into a DataFrame: counts
        py4j calls and attributes Spark jobs it starts as eager jobs.
        ``layer`` gets the call's self time (time not inside a parser,
        resolver or planner span): ``engine`` for statement dispatch,
        ``parser`` for X-DSL chains, ``llm_ops`` for LLM operators."""
        self._py4j = 0
        self._counting = True
        try:
            with self.span(layer):
                yield
        finally:
            self._counting = False
            rec = self._cur
            rec["py4j"] += self._py4j
            self.sc.setJobGroup(rec["group"] + "-x", rec["key"])

    def force_catalyst(self, df) -> None:
        """Run analysis, optimisation and physical planning now, so the
        action that follows times execution only."""
        with self.span("catalyst"):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
        self._cur["plan_nodes"] = \
            qe.optimizedPlan().treeString().count("\n")

    def stream_run(self, query) -> None:
        self._stream_runs[str(query.runId)] = self._cur["id"]
        self._cur["stream"] = True

    # ---- status-store readout ------------------------------------------

    def _jobs(self) -> dict[int, int]:
        """job id -> op index, from the job groups set per statement."""
        jobs = {}
        store = self.sc._jsc.sc().statusStore()
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            grp = j.jobGroup()
            g = grp.get() if grp.isDefined() else ""
            if g.startswith("perfbench-") and g != "perfbench-idle":
                idx, kind = g[len("perfbench-"):].split("-")
                idx, key = int(idx), "eager" if kind == "c" else "jobs"
            elif g in self._stream_runs:
                idx, key = self._stream_runs[g], "jobs"
            else:
                continue
            if idx not in self.ops:
                continue                   # a warm-up operation
            self.ops[idx][key] = self.ops[idx].get(key, 0) + 1
            jobs[j.jobId()] = idx
            sids = j.stageIds().iterator()
            while sids.hasNext():
                self._stage_op[sids.next()] = idx
        return jobs

    def _stages(self) -> None:
        gw = self.sc._gateway
        empty = gw.new_array(gw.jvm.double, 0)
        store = self.sc._jsc.sc().statusStore()
        it = store.stageList(None, False, False, empty, None).iterator()
        while it.hasNext():
            s = it.next()
            idx = self._stage_op.get(s.stageId())
            if idx is None:
                continue
            rec = self.ops[idx]
            for key, val in (
                    ("tasks", s.numCompleteTasks()),
                    ("shuffle_read", s.shuffleReadBytes()),
                    ("shuffle_write", s.shuffleWriteBytes()),
                    ("spill", s.memoryBytesSpilled() + s.diskBytesSpilled()),
                    ("run_ms", s.executorRunTime()),
                    ("cpu_ms", s.executorCpuTime() / 1e6)):
                rec[key] = rec.get(key, 0) + val

    def _python_nodes(self, jobs: dict[int, int]) -> None:
        store = self.spark._jsparkSession.sharedState().statusStore()
        it = store.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            jit = ex.jobs().keysIterator()
            idx = None
            while jit.hasNext():
                idx = jobs.get(jit.next())
                if idx is not None:
                    break
            if idx is None:
                continue
            eid = ex.executionId()
            values = store.executionMetrics(eid)
            graph = store.planGraph(eid)
            nodes = graph.allNodes().iterator()
            rec = self.ops[idx]
            pre = "stream_" if rec.get("stream") else ""
            while nodes.hasNext():
                node = nodes.next()
                if not _PY_NODE.search(node.name()):
                    continue
                ms = node.metrics().iterator()
                while ms.hasNext():
                    m = ms.next()
                    key = {"number of output rows": "py_rows",
                           "data sent to Python workers": "py_sent",
                           "data returned from Python workers":
                               "py_received"}.get(m.name())
                    if key is None or \
                            not values.contains(m.accumulatorId()):
                        continue
                    key = pre + key
                    rec[key] = rec.get(key, 0) + parse_metric(
                        values.apply(m.accumulatorId()))

    def finish(self, batches: list[dict]) -> dict:
        """Per-layer metrics: per-statement means (per micro-batch for
        ``streaming.*``), ``engine.load_ms`` as the median set-up load."""
        self._stage_op: dict[int, int] = {}
        jobs = self._jobs()
        self._stages()
        self._python_nodes(jobs)
        self.restore()
        ops = list(self.ops.values())
        n = max(1, len(ops))

        def mean(key, src=ops):
            return sum(o.get(key, 0.0) for o in src) / max(1, len(src))

        def per_batch(key):
            return sum(o.get(key, 0.0) for o in ops) / max(1, len(batches))

        def layer(name):
            return sum(o["layers"].get(name, 0.0) for o in ops) / n

        out = {
            "parser.parse_ms": layer("parser"),
            "resolver.resolve_ms": layer("resolver"),
            "planner.plan_ms": layer("planner"),
            "planner.py4j_calls": mean("py4j"),
            "planner.eager_jobs": mean("eager"),
            "catalyst.ms": layer("catalyst"),
            "catalyst.optimized_plan_nodes": mean("plan_nodes"),
            "exec.ms": layer("exec"),
            "exec.jobs": mean("jobs"), "exec.tasks": mean("tasks"),
            "exec.shuffle_read_bytes": mean("shuffle_read"),
            "exec.shuffle_write_bytes": mean("shuffle_write"),
            "exec.spill_bytes": mean("spill"),
            "exec.executor_run_ms": mean("run_ms"),
            "exec.executor_cpu_ms": mean("cpu_ms"),
            "llm_ops.ms": layer("llm_ops"),
            "llm_ops.python_rows": mean("py_rows"),
            "llm_ops.python_bytes_sent": mean("py_sent"),
            "llm_ops.python_bytes_received": mean("py_received"),
            "streaming.add_batch_ms": mean("addBatch", batches),
            "streaming.query_planning_ms": mean("queryPlanning", batches),
            "streaming.wal_commit_ms": mean("walCommit", batches),
            "streaming.state_commit_ms": mean("state_commit", batches),
            "streaming.state_rows": mean("state_rows", batches),
            "streaming.state_memory_bytes": mean("state_bytes", batches),
            # per stream run: equals the file count unless the source
            # splits or adds no-data batches
            "streaming.batches": len(batches) / n,
            "streaming.empty_batches":
                sum(1 for b in batches if b["rows"] == 0) / n,
            "streaming.python_rows": per_batch("stream_py_rows"),
            "streaming.python_bytes_received":
                per_batch("stream_py_received"),
            "engine.load_ms": (statistics.median(self._load_ms)
                               if self._load_ms else 0.0),
        }
        return out

    def coverage(self) -> dict:
        """How much of each statement's wall time its layer spans cover."""
        ratios = []
        for o in self.ops.values():
            covered = sum(o["layers"].values())
            if o.get("wall_ms"):
                ratios.append(covered / o["wall_ms"])
        inside = sum(1 for r in ratios if 0.9 <= r <= 1.1)
        return {"statements": len(ratios), "within_10pct": inside,
                "min_ratio": round(min(ratios), 4) if ratios else None,
                "max_ratio": round(max(ratios), 4) if ratios else None}

    def records(self) -> list[dict]:
        keep = ("key", "wall_ms", "layers", "py4j", "eager", "jobs",
                "tasks", "plan_nodes", "py_rows", "stream_py_rows")
        return [{k: (round(v, 3) if isinstance(v, float) else v)
                 for k, v in o.items() if k in keep}
                for o in self.ops.values()]
