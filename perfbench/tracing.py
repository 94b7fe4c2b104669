"""Spans and Spark status-store counters for the traced run.

Spans (name, start, end, parent, operation id) are kept in memory and
written out once, when the run ends. Counters come from the Spark
status store (``spark.ui.enabled=false`` keeps it), harvested after
every operation: the store only retains the latest 1,000 jobs and
stages, so totals read at the end of a run would undercount. JVM
garbage-collection time is read from the driver JVM's GC beans (in
local mode the executors live in that JVM).

With tracing off, :class:`Tracer` records nothing and every call is a
no-op, so the untraced run pays only for a few attribute lookups.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op = None
        if enabled:
            sc = spark.sparkContext
            self._store = sc._jsc.sc().statusStore()
            self._jvm = sc._jvm
            self._as_java = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
            self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
            self._seen_jobs: set[int] = set()
            self._seen_stages: set[tuple[int, int]] = set()
            self._gc_last = self._gc_total()
            self._codegen = sc._jvm.org.apache.spark.metrics.source \
                .CodegenMetrics.METRIC_COMPILATION_TIME()
            self._codegen_last = self._codegen.getCount()
            self._jit = sc._jvm.java.lang.management.ManagementFactory \
                .getCompilationMXBean()
            self._jit_last = self._jit.getTotalCompilationTime()
            self.harvest()  # everything before the first op is set-up

    # ----------------------------------------------------------- spans --
    def begin_op(self, op_id: str) -> None:
        self._op = op_id

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "op": self._op}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def span_ms(self, name: str, op_id: str | None = None) -> float:
        """Summed duration of the named spans (of one operation, when
        ``op_id`` is given), in milliseconds."""
        return sum(
            (s["end"] - s["start"]) * 1000.0 for s in self.spans
            if s["name"] == name and (op_id is None or s["op"] == op_id)
            and s["end"] is not None)

    def wrap(self, obj, attr: str, name: str) -> None:
        """Replace ``obj.attr`` with a function that runs the original
        inside a span -- how the benchmark times a public function that
        the program calls internally."""
        if not self.enabled:
            return
        orig = getattr(obj, attr)

        def wrapped(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(obj, attr, wrapped)

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    # -------------------------------------------------------- counters --
    def _gc_total(self) -> int:
        beans = self._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans)

    def harvest(self) -> dict:
        """Counters of every job and stage that finished since the last
        harvest: jobs, summed task run time, shuffle bytes read plus
        written; and the JVM's GC time, Spark's whole-stage codegen
        compilations (a generated class the codegen cache did not
        hold) and JIT compilation time since then."""
        if not self.enabled:
            return {}
        jobs = 0
        for j in self._as_java(self._store.jobsList(None)):
            jid = j.jobId()
            if jid not in self._seen_jobs and str(j.status()) != "RUNNING":
                self._seen_jobs.add(jid)
                jobs += 1
        task_ms = 0
        shuffle = 0
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        for s in self._as_java(stages):
            key = (s.stageId(), s.attemptId())
            if key in self._seen_stages or str(s.status()) in ("ACTIVE", "PENDING"):
                continue
            self._seen_stages.add(key)
            task_ms += s.executorRunTime()
            shuffle += s.shuffleReadBytes() + s.shuffleWriteBytes()
        gc = self._gc_total()
        gc_ms, self._gc_last = gc - self._gc_last, gc
        compiles = self._codegen.getCount()
        compiles, self._codegen_last = compiles - self._codegen_last, compiles
        jit = self._jit.getTotalCompilationTime()
        jit_ms, self._jit_last = jit - self._jit_last, jit
        return {"jobs": jobs, "task_ms": task_ms, "shuffle_bytes": shuffle,
                "gc_ms": gc_ms, "codegen_compiles": compiles, "jit_ms": jit_ms}


class StageClock:
    """Per-stage timings and counters of a chain the program runs
    inside one public call (``orchestrate.run_staged_pipeline``): the
    benchmark wraps each stage's builder (the call that returns the
    stage's DataFrame) and its landing (the call that writes it), and
    a stage ends when its landing returns. Its wall time runs from the
    end of the previous stage, so the stages of an operation add up to
    the operation; its counters are harvested from the status store
    at that moment. Landings called inside another landing belong to
    the outer one."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.ops: list[dict[str, dict]] = []
        self._depth = 0
        self._build: tuple[str, float] | None = None
        self._last = 0.0

    def begin_op(self) -> None:
        self.ops.append({})
        self.tracer.harvest()
        self._last = time.perf_counter()
        self._build = None

    def builder(self, obj, attr: str, stage: str) -> None:
        orig = getattr(obj, attr)

        def wrapped(*args, **kwargs):
            t = time.perf_counter()
            with self.tracer.span(f"build:{stage}"):
                out = orig(*args, **kwargs)
            self._build = (stage, (time.perf_counter() - t) * 1000.0)
            return out

        setattr(obj, attr, wrapped)

    def landing(self, obj, attr: str, stage: str | None = None) -> None:
        """``stage=None``: the landing of the latest builder's stage."""
        orig = getattr(obj, attr)

        def wrapped(*args, **kwargs):
            if self._depth:
                return orig(*args, **kwargs)
            name = stage or self._build[0]
            self._depth += 1
            try:
                with self.tracer.span(f"land:{name}"):
                    out = orig(*args, **kwargs)
            finally:
                self._depth -= 1
            end = time.perf_counter()
            build_ms = self._build[1] if self._build and self._build[0] == name else 0.0
            self.ops[-1][name] = {"build_ms": build_ms,
                                  "wall_ms": (end - self._last) * 1000.0,
                                  **self.tracer.harvest()}
            self._last = end
            self._build = None
            return out

        setattr(obj, attr, wrapped)
