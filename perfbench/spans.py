"""Spans and counters recorded from outside the program.

Tracing never edits ``hive_gateway_spark``: it replaces public callables
of its modules with timing wrappers, and only in a traced run. Modules
that bind a staging helper by name at import (``operators/dedup.py``,
``corpus.py``, ``similarity.py``) see the wrapper only if
``install_staging`` runs before ``registry.load_all()``; ``server.py``
binds ``packb``/``unpackb`` at import, so the server's own names are
patched, not the codec module's.

A span is (id, parent, op id, name, start, end, counters). Spans live in
memory and are written out when the run ends. Which ops are traced is
decided per op (``Tracer.begin_op``): the workloads alternate traced and
untraced ops inside one window, so the traced-minus-untraced difference
is the tracing overhead.
"""

from __future__ import annotations

import functools
import itertools
import statistics
import threading
import time
from collections import Counter, defaultdict

#: structural counts that must repeat exactly across runs of one seed.
STRUCTURAL = (
    "spark.jobs_per_op",
    "spark.stages_per_op",
    "spark.tasks_per_op",
    "py4j.build_calls",
)


class Tracer:
    def __init__(self):
        self.ops: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- span bookkeeping (per thread) ------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def active(self) -> bool:
        return bool(self._stack())

    def begin_op(self, kind: str, name: str, traced: bool) -> dict:
        """Open a root span for one op. Untraced ops keep only their total
        time (needed for the overhead estimate); traced ones collect child
        spans and counters."""
        op = {"id": next(self._ids), "kind": kind, "type": name,
              "traced": traced, "t0": time.monotonic(), "counts": Counter()}
        if traced:
            op["group"] = f"perfbench-{op['id']}"
            self._stack().append(op)
        self._local.op = op
        return op

    def end_op(self, op: dict) -> None:
        op["t1"] = time.monotonic()
        if op["traced"]:
            self._stack().pop()
        self._local.op = None
        with self._lock:
            self.ops.append(op)

    def current_op(self) -> dict | None:
        """The op running on this thread, traced or not."""
        return getattr(self._local, "op", None)

    def innermost(self) -> str | None:
        """Name of this thread's innermost open span (None at op level)."""
        st = self._stack()
        return st[-1].get("name") if st else None

    def span(self, name: str):
        return _Span(self, name)

    def count(self, key: str) -> None:
        """Add 1 to counter ``key`` on every open span of this thread."""
        for s in self._stack():
            s["counts"][key] += 1

    def wrap(self, name: str, fn, after=None):
        """``fn`` timed as span ``name`` inside traced ops; ``after(span,
        args, result)`` may attach counters. A call nested in a span of the
        same name (a builder calling another builder) opens no new span."""

        @functools.wraps(fn)
        def wrapper(*args, **kw):
            if not self.active() or self.innermost() == name:
                return fn(*args, **kw)
            with self.span(name) as s:
                out = fn(*args, **kw)
                if after is not None:
                    after(s, args, out)
                return out

        return wrapper

    # -- installation ------------------------------------------------------
    def install_py4j(self) -> None:
        """Count py4j round trips (every JVM call from this process)."""
        from py4j.java_gateway import GatewayClient

        orig = GatewayClient.send_command
        tracer = self

        def send_command(client, *args, **kw):
            if tracer.active():
                tracer.count("py4j")
            return orig(client, *args, **kw)

        GatewayClient.send_command = send_command

    def install_staging(self) -> None:
        """Wrap ``staging.stage/release/memo_frame``; call before
        ``registry.load_all()``."""
        from hive_gateway_spark import staging

        stage, release, memo_frame = staging.stage, staging.release, staging.memo_frame
        tracer = self

        @functools.wraps(stage)
        def stage_w(df, slot):
            if not tracer.active():
                return stage(df, slot)
            prev = staging._SLOTS.get(df.sparkSession, {}).get(slot)
            with tracer.span("staging.stage"):
                out = stage(df, slot)
            reused = prev is not None and out is prev[2]
            tracer.count("staging.stage_reuses" if reused else "staging.checkpoints")
            return out

        @functools.wraps(release)
        def release_w(obj):
            depth = getattr(tracer._local, "release_depth", 0)
            if depth == 0 and tracer.active():
                tracer.count("staging.releases")
            tracer._local.release_depth = depth + 1
            try:
                return release(obj)
            finally:
                tracer._local.release_depth = depth

        @functools.wraps(memo_frame)
        def memo_frame_w(spark, key, builder):
            if not tracer.active():
                return memo_frame(spark, key, builder)
            missed = []

            def build():
                missed.append(True)
                return builder()

            out = memo_frame(spark, key, build)
            tracer.count("staging.memo_misses" if missed else "staging.memo_hits")
            return out

        staging.stage, staging.release, staging.memo_frame = stage_w, release_w, memo_frame_w

    def wrap_queries(self) -> None:
        """Time every registered builder (``QUERIES[q](spark, sf)``) as
        ``operators.build``; call after ``registry.load_all()``."""
        from hive_gateway_spark import registry

        for name, fn in list(registry.QUERIES.items()):
            registry.QUERIES[name] = self.wrap("operators.build", fn)

    # -- summaries ---------------------------------------------------------
    def dump(self) -> list[dict]:
        def plain(s):
            return {k: (dict(v) if k == "counts" else v) for k, v in s.items()
                    if k != "children"}

        out = []
        for op in self.ops:
            out.append(plain(op))
            out.extend(plain(s) for s in op.get("children", ()))
        return out


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> dict:
        st = self.tracer._stack()
        parent = st[-1]
        self.rec = {"id": next(self.tracer._ids), "parent": parent["id"],
                    "op": st[0]["id"], "name": self.name,
                    "t0": time.monotonic(), "counts": Counter()}
        st[0].setdefault("children", []).append(self.rec)
        st.append(self.rec)
        return self.rec

    def __exit__(self, *exc) -> None:
        self.rec["t1"] = time.monotonic()
        self.tracer._stack().pop()


def self_times(op: dict) -> dict[str, float]:
    """Seconds of each span name in ``op`` not covered by its child spans."""
    spans = op.get("children", [])
    covered: dict[int, float] = defaultdict(float)
    for s in spans:
        covered[s["parent"]] += s["t1"] - s["t0"]
    out: dict[str, float] = defaultdict(float)
    out["op"] = op["t1"] - op["t0"] - covered[op["id"]]
    for s in spans:
        out[s["name"]] += s["t1"] - s["t0"] - covered[s["id"]]
    return out


def span_total(op: dict, name: str) -> float:
    return sum(s["t1"] - s["t0"] for s in op.get("children", []) if s["name"] == name)


def span_counts(op: dict, name: str) -> Counter:
    total: Counter = Counter()
    for s in op.get("children", []):
        if s["name"] == name:
            total.update(s["counts"])
    return total


def balanced(ops: list[dict], value) -> float:
    """Mean over op types of each type's mean ``value(op)``: a mix whose
    type counts drift between runs still gives the same weights."""
    by_type: dict[str, list[float]] = defaultdict(list)
    for op in ops:
        by_type[op["type"]].append(value(op))
    if not by_type:
        return 0.0
    return statistics.fmean(statistics.fmean(v) for v in by_type.values())


class StageMetrics:
    """Per-op Spark counts read from the status store after the window.

    ``statusTracker`` maps an op's job group to jobs and stages; the
    stage data (run time, CPU, GC, shuffle, spill) comes from
    ``SparkContext.statusStore().lastStageAttempt``. Both are reachable
    with the UI disabled."""

    FIELDS = {
        "executor_run_ms": lambda s: s.executorRunTime(),
        "executor_cpu_ms": lambda s: s.executorCpuTime() / 1e6,
        "jvm_gc_ms": lambda s: s.jvmGcTime(),
        "shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
        "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
        "spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
    }

    def __init__(self, spark):
        self.tracker = spark.sparkContext.statusTracker()
        self.store = spark.sparkContext._jsc.sc().statusStore()

    def read(self, op: dict) -> None:
        """Attach ``op["spark"]``; ``None`` when the status store no longer
        holds the op's jobs (retention limit), so it is left out."""
        jobs = self.tracker.getJobIdsForGroup(op["group"])
        n_jobs = len(jobs)
        stages = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is None:
                op["spark"] = None
                return
            stages.update(info.stageIds)
        out = Counter(jobs=n_jobs)
        for sid in stages:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - evicted from the store
                op["spark"] = None
                return
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            for k, f in self.FIELDS.items():
                out[k] += f(sd)
        op["spark"] = dict(out)
