"""The benchmark's two workloads, each aimed at one layer of
``hive_gateway_spark``, both on sf0.01 tables:

- ``serve_mix``: the msgpack-RPC gateway (``server.py`` and
  ``functions/msgpack_codec.py``) under 2 closed-loop clients;
- ``plan_build``: driver-side plan construction (``registry``,
  ``operators/*``, ``staging.py``), whole passes over
  construction-dominated queries.

Every workload returns end-to-end figures from untraced ops and, when a
``Tracer`` is given, per-layer figures from the traced ops of the same
window (traced and untraced ops alternate).
"""

from __future__ import annotations

import contextlib
import gc
import json
import os
import random
import statistics
import subprocess
import sys
import time
from collections import Counter

import spans as tr
import verify
from loadgen import TRACE_HEADER

#: construction-dominated at sf0.01; q_dedup_simhash assembles ~10k py4j
#: calls per build and runs no job while building.
PLAN_BUILD = ("q_dedup_simhash", "q_tpcds_q14", "q_tpcds_q59", "q_gopher_rules",
              "q_null_profile")
#: warm-up passes after the cold one. The first four passes after it run
#: 26, 21, 12 and 4% slower than the median pass of a window that starts
#: after four (median of 20 runs), later passes a few per cent a pass
#: faster; a window that opened after one warm-up pass sat on the steep
#: part, and its figures jumped between runs.
WARMUP_PASSES = 3
#: window length in whole passes, at least: with a window ended only by
#: the clock, the number of passes (and so of samples per type) varied
#: with the host's speed.
WINDOW_PASSES = 5
#: gateway report mix: 5 to 10,000 (the max_rows cap) rows per reply.
SERVE_QUERIES = ("q_text_lang_report", "q_tpch_q3", "q_agg_group",
                 "q_gateway_pipeline", "q_sessionize", "q_window_rate_limit")
#: a literal in [0, 20) keeps all five event types: always 5 rows.
SERVE_SQL = ("SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total "
             "FROM events WHERE value >= {lit} GROUP BY event_type")
CLIENTS = 2
#: window length in whole cycles per client: 2 x 7 x 8 = 112 requests, so
#: p90 rests on 100 or more requests (14 per type).
WINDOW_CYCLES = 7
#: warm-up, in cycles per client, after the cold requests. Latency still
#: falls about 5% a cycle after the third cycle and keeps falling through
#: the window; more cycles do not fit the benchmark's total run time. A
#: fixed count keeps set-up time and the heap figure (Spark's status store
#: keeps every job) from varying with a stop rule.
WARMUP_CYCLES = 3
#: round-robin over this many tokens per client keeps every token under
#: RATE_LIMIT (10 per 1 s) up to 10,000 requests/s per client, and the
#: 2,000 tokens stay below the limiter's 10,000-bucket prune size.
TOKENS_PER_CLIENT = 1000


def cpu_ticks() -> list[int]:
    """Machine-wide CPU ticks: user, nice, system, idle, iowait, irq,
    softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_share(t0: list[int], t1: list[int]) -> dict[str, float]:
    """Share of CPU time over an interval that was busy, idle or stolen by
    the hypervisor (steal shows a noisy host)."""
    d = [b - a for a, b in zip(t0, t1)]
    total = sum(d) or 1
    return {"busy": (total - d[3] - d[4] - d[7]) / total,
            "idle": (d[3] + d[4]) / total, "steal": d[7] / total}


def quantile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def latency_by_type(ops: list[dict]) -> dict[str, list[float]]:
    by_type: dict[str, list[float]] = {}
    for op in ops:
        by_type.setdefault(op["type"], []).append((op["t1"] - op["t0"]) * 1e3)
    return by_type


def latency_metrics(ops: list[dict]) -> dict:
    """p50/p90 per op type, averaged over types (a pooled percentile of a
    mix falls into the gaps between types)."""
    by_type = latency_by_type(ops)
    return {
        "p50_ms": statistics.fmean(quantile(v, 0.5) for v in by_type.values()),
        "p90_ms": statistics.fmean(quantile(v, 0.9) for v in by_type.values()),
    }


def type_summary(ops: list[dict]) -> dict[str, list[float]]:
    """Per op type: [count, p50 ms, p90 ms], for the run record."""
    return {k: [len(v), quantile(v, 0.5), quantile(v, 0.9)]
            for k, v in sorted(latency_by_type(ops).items())}


class Program:
    """The engine session the workload drives, with its set-up timed."""

    def __init__(self, sf_dir: str, tracer: tr.Tracer | None):
        self.sf_dir = sf_dir
        t = time.monotonic()
        from hive_gateway_spark import registry
        from hive_gateway_spark.session import TABLES, get_spark, load_tables

        self.registry, self.tables = registry, TABLES
        t1 = time.monotonic()
        self.spark = get_spark("perfbench")
        t2 = time.monotonic()
        load_tables(self.spark, sf_dir)
        t3 = time.monotonic()
        if tracer:
            tracer.install_py4j()
            tracer.install_staging()
        registry.load_all()
        if tracer:
            tracer.wrap_queries()
        self.timings = {"import_s": t1 - t, "session.start_s": t2 - t1,
                        "session.load_tables_s": t3 - t2}

    def set_group(self, op: dict) -> None:
        """Tag the jobs of a traced op (they run on this thread)."""
        if op["traced"]:
            self.spark.sparkContext.setJobGroup(op["group"], op["type"])

    def clear_group(self, op: dict) -> None:
        """Untag this thread, or the next untraced ops join the group."""
        if op["traced"]:
            self.spark.sparkContext._jsc.clearJobGroup()

    def jvm_live_mb(self) -> float:
        """JVM heap in use after explicit full collections: the least of
        four, 0.3 s apart, because Spark's ContextCleaner frees the blocks
        of collected RDDs and broadcasts only after a collection has found
        them. Read once every op has run (cold and warm-up) and before the
        window, so the figure does not grow with the number of ops a
        faster run fits into the window (Spark's status store keeps every
        job it ran)."""
        gc.collect()
        jvm = self.spark.sparkContext._jvm
        bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used = []
        for _ in range(4):
            jvm.java.lang.System.gc()
            used.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
            time.sleep(0.3)
        return min(used)

    def block_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    def close(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at EOF on stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


# -- plan_build -----------------------------------------------------------------

def run_plan_build(ctx: dict) -> dict:
    tracer = ctx["tracer"]
    book = tracer or tr.Tracer()  # untraced runs keep op timings only
    prog = Program(ctx["sf_dir"], tracer)
    spark, sf_dir, queries = prog.spark, ctx["sf_dir"], PLAN_BUILD
    rng = random.Random(f"{ctx['seed']}-plan_build")

    first_rows: dict[str, list] = {}

    def run_op(q: str, traced: bool, keep_rows: bool = False) -> None:
        op = book.begin_op("query", q, traced)
        try:
            prog.set_group(op)
            df = prog.registry.QUERIES[q](spark, sf_dir)
            with book.span("spark.exec") if traced else contextlib.nullcontext():
                if keep_rows:  # a cold rows-only query: later results must equal it
                    first_rows[q] = [list(r) for r in df.collect()]
                else:
                    df.write.format("noop").mode("overwrite").save()
        finally:
            prog.clear_group(op)
            book.end_op(op)

    def one_pass(traced: bool = False, cold: bool = False) -> None:
        for q in rng.sample(queries, len(queries)):
            run_op(q, traced, keep_rows=cold and q not in prog.registry.ORACLES)

    # cold: the first call of every op, traced so its build time is known
    one_pass(traced=tracer is not None, cold=True)
    cold_ops = list(book.ops)
    for _ in range(WARMUP_PASSES):
        one_pass()
    t = time.monotonic()
    jvm_mb = prog.jvm_live_mb()
    heap_read_s = time.monotonic() - t
    ticks = cpu_ticks()
    w0 = time.monotonic()
    pass_s: list[float] = []
    while True:
        # traced runs alternate untraced / traced passes, ending on a pair
        p0 = time.monotonic()
        one_pass(traced=tracer is not None and len(pass_s) % 2 == 1)
        pass_s.append(time.monotonic() - p0)
        passes = len(pass_s)
        if (passes >= WINDOW_PASSES and time.monotonic() - w0 >= ctx["seconds"]
                and (tracer is None or passes % 2 == 0)):
            break
    w1 = time.monotonic()
    cpu = cpu_share(ticks, cpu_ticks())
    window = [o for o in book.ops if o["t0"] >= w0]
    plain = [o for o in window if not o["traced"]]
    out = {
        "w0": w0, "w1": w1, "heap_read_s": heap_read_s,
        "metrics": {
            "ops_per_s": len(window) / (w1 - w0),
            **latency_metrics(plain),
            "jvm_live_mb": jvm_mb,
        },
        "window_ops": len(window), "pass_s": pass_s, "cpu": cpu,
        "by_type": type_summary(plain),
        # every op from the cold pass on; t0 is relative to the window start
        "latencies": [[o["type"], round(o["t0"] - w0, 4), round(o["t1"] - o["t0"], 4)]
                      for o in book.ops],
    }
    if tracer:
        out["layers"] = plan_layers(prog, cold_ops, window)
    failures = []
    for q in queries:
        err = check_query(prog, q, first_rows.get(q))
        if err:
            failures.append(f"{q}: {err}")
    out["attempted"] = len(window) + len(queries)
    out["failed"] = len(failures)
    out["errors"] = failures
    out["timings"] = prog.timings
    prog.close()
    return out


def check_query(prog: Program, q: str, first_rows) -> str | None:
    """Oracle queries: exact match with DuckDB. Rows-only queries:
    non-empty and equal to their own first (cold) result."""
    try:
        if first_rows is not None:
            if not first_rows:
                return "no rows"
            rows = prog.registry.QUERIES[q](prog.spark, prog.sf_dir).collect()
            return verify.rows_mismatch([list(r) for r in rows], first_rows)
        actual = prog.registry.QUERIES[q](prog.spark, prog.sf_dir).toPandas()
        expected = verify.duck_df(prog.registry.ORACLES[q], prog.sf_dir)
        return verify.frame_mismatch(actual, expected)
    except Exception as err:  # noqa: BLE001 - a crashing check is a failed op
        return f"{type(err).__name__}: {str(err)[:160]}"


def plan_layers(prog: Program, cold_ops: list, window: list) -> dict:
    traced = [o for o in window if o["traced"]]
    untraced = [o for o in window if not o["traced"]]
    layers = common_layers(prog, cold_ops, traced)
    # traced-minus-untraced: each query's traced mean against its untraced mean
    layers["trace.overhead_pct"] = 100 * (
        tr.balanced(traced, lambda o: o["t1"] - o["t0"])
        / tr.balanced(untraced, lambda o: o["t1"] - o["t0"]) - 1)
    return layers


def common_layers(prog: Program, cold_ops: list, traced: list) -> dict:
    stats = tr.StageMetrics(prog.spark)
    for op in traced:
        stats.read(op)
    sampled = [o for o in traced if o.get("spark") is not None]
    build = lambda o: tr.span_total(o, "operators.build")  # noqa: E731
    execs = lambda o: tr.span_total(o, "spark.exec")  # noqa: E731
    built = [o for o in traced if build(o) > 0]
    total_build = sum(build(o) for o in built)
    total_exec = sum(execs(o) for o in built)
    counts = lambda o: o["counts"]  # noqa: E731
    memo_hits = sum(counts(o)["staging.memo_hits"] for o in traced)
    memo_all = memo_hits + sum(counts(o)["staging.memo_misses"] for o in traced)
    per_op = lambda key: tr.balanced(traced, lambda o: counts(o)[key])  # noqa: E731
    spark_stat = lambda key: tr.balanced(sampled, lambda o: o["spark"].get(key, 0))  # noqa: E731
    names = {s["name"] for o in traced for s in o.get("children", [])} | {"op"}
    self_ms = {f"self.{n}_ms": 1e3 * tr.balanced(traced, lambda o: tr.self_times(o)[n])
               for n in sorted(names)}
    return {
        **self_ms,
        **{k: v for k, v in prog.timings.items() if k.startswith("session.")},
        "operators.build_ms": 1e3 * tr.balanced(built, build),
        "operators.build_share": total_build / (total_build + total_exec) if built else 0.0,
        "operators.cold_build_s": sum(build(o) for o in cold_ops),
        "py4j.build_calls": tr.balanced(
            built, lambda o: tr.span_counts(o, "operators.build")["py4j"]),
        "spark.exec_ms": 1e3 * tr.balanced(built, execs),
        "spark.jobs_per_op": spark_stat("jobs"),
        "spark.stages_per_op": spark_stat("stages"),
        "spark.tasks_per_op": spark_stat("tasks"),
        **{f"spark.{k}": spark_stat(k) for k in tr.StageMetrics.FIELDS},
        "py4j.exec_calls": tr.balanced(
            built, lambda o: tr.span_counts(o, "spark.exec")["py4j"]),
        "staging.memo_hits": per_op("staging.memo_hits"),
        "staging.memo_misses": per_op("staging.memo_misses"),
        "staging.memo_hit_ratio": memo_hits / memo_all if memo_all else 0.0,
        "staging.checkpoints": per_op("staging.checkpoints"),
        "staging.stage_reuses": per_op("staging.stage_reuses"),
        "staging.releases": per_op("staging.releases"),
        "staging.block_mb": prog.block_mb(),
        "spark.ops_sampled": len(sampled),
    }


# -- serve_mix ----------------------------------------------------------------

def start_loadgen(ctx: dict) -> subprocess.Popen:
    """Start the client process early: its imports overlap Spark start-up."""
    proc = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "loadgen.py")],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    mix = [["query", q, None] for q in SERVE_QUERIES]
    mix += [["sql", "exec", SERVE_SQL], ["catalog", "tables", None]]
    proc.stdin.write(json.dumps({
        "root": ctx["root"], "seed": ctx["seed"], "seconds": ctx["seconds"],
        "clients": CLIENTS, "mix": mix, "window_cycles": WINDOW_CYCLES,
        "warmup_cycles": WARMUP_CYCLES,
        "tokens_per_client": TOKENS_PER_CLIENT, "out_dir": ctx["work"],
        "trace": ctx["tracer"] is not None,
    }) + "\n")
    proc.stdin.flush()
    return proc


def install_server(tracer: tr.Tracer, prog: Program, gw, n_cold: int) -> None:
    """Spans around the gateway's public calls. The first ``n_cold``
    requests (the cold call of each type) are traced, then those the load
    generator marks: every other request of each type."""
    from pyspark.sql.classic.dataframe import DataFrame

    from hive_gateway_spark import server as srv

    def sized(span, args, out):
        span["counts"]["bytes"] += len(out)

    def compressed(span, args, out):
        span["counts"]["in"] += len(args[0])
        span["counts"]["out"] += len(out[0])

    srv.unpackb = tracer.wrap("server.decode", srv.unpackb)
    srv.classify_token = tracer.wrap("server.admit", srv.classify_token)
    srv.negotiate = tracer.wrap("server.compress", srv.negotiate, compressed)
    srv.packb = tracer.wrap("codec.packb", srv.packb, sized)
    gw.resolves = tracer.wrap("server.admit", gw.resolves)
    gw.limiter.allow = tracer.wrap("server.admit", gw.limiter.allow)

    dispatch = tracer.wrap("server.dispatch", gw.dispatch)
    spark = prog.spark

    def dispatch_grouped(mod, fun, arg):
        op = tracer.current_op()
        op["type"] = fun if mod == "query" else f"{mod}.{fun}"
        prog.set_group(op)
        try:
            return dispatch(mod, fun, arg)
        finally:
            prog.clear_group(op)

    gw.dispatch = dispatch_grouped

    # the action and ad-hoc SQL planning, when called by dispatch itself
    collect, sql = DataFrame.collect, spark.sql

    def collect_w(df):
        if tracer.innermost() != "server.dispatch":
            return collect(df)
        with tracer.span("spark.exec"):
            return collect(df)

    def sql_w(text, *args, **kw):
        if tracer.innermost() != "server.dispatch":
            return sql(text, *args, **kw)
        with tracer.span("operators.build"):
            return sql(text, *args, **kw)

    DataFrame.collect = collect_w
    spark.sql = sql_w

    handler = gw._httpd.RequestHandlerClass
    do_post = handler.do_POST
    seq = iter(range(1, 1 << 62))

    def do_post_w(self):
        traced = next(seq) <= n_cold or self.headers.get(TRACE_HEADER) == "1"
        op = tracer.begin_op("request", "-", traced)
        try:
            do_post(self)
        finally:
            tracer.end_op(op)

    handler.do_POST = do_post_w


def run_serve(ctx: dict) -> dict:
    tracer = ctx["tracer"]
    client = start_loadgen(ctx)
    try:
        return _serve(ctx, tracer, client)
    finally:
        if client.poll() is None:
            client.kill()
        client.wait()


def _serve(ctx: dict, tracer: tr.Tracer | None, client: subprocess.Popen) -> dict:
    prog = Program(ctx["sf_dir"], tracer)
    from hive_gateway_spark.functions.msgpack_codec import unpackb
    from hive_gateway_spark.server import GatewayServer, _plain

    gw = GatewayServer(prog.spark, ctx["sf_dir"], enable_sql=True)
    if tracer:
        install_server(tracer, prog, gw, n_cold=len(SERVE_QUERIES) + 2)
    gw.start()
    if json.loads(client.stdout.readline()).get("ready") is not True:
        raise RuntimeError("load generator did not start")
    client.stdin.write(json.dumps({"port": gw.port}) + "\n")
    client.stdin.flush()
    if json.loads(client.stdout.readline()).get("warm") is not True:
        raise RuntimeError("load generator stopped before its window")
    t = time.monotonic()
    jvm_mb = prog.jvm_live_mb()
    heap_read_s = time.monotonic() - t
    ticks = cpu_ticks()
    client.stdin.write("go\n")
    client.stdin.close()
    res = json.loads(client.stdout.readline())
    cpu = cpu_share(ticks, cpu_ticks())
    client.wait(timeout=60)
    w0, w1 = res["w0"], res["w1"]
    gw.stop()

    timed = [r for r in res["requests"] if r["in_window"]]
    errors = []
    # values of the first reply of each type against direct execution
    for typ, first in res["first"].items():
        with open(first["path"], "rb") as f:
            got = unpackb(f.read())
        if typ == "catalog.tables":
            err = None if got == {"tables": list(prog.tables)} else "table list differs"
        else:
            df = (prog.spark.sql(first["arg"]) if typ == "sql.exec"
                  else prog.registry.QUERIES[typ](prog.spark, ctx["sf_dir"]))
            want = [[_plain(v) for v in r] for r in df.limit(gw.max_rows).collect()]
            err = verify.rows_mismatch(got["rows"], want)
        if err:
            errors.append(f"{typ} values: {err}")
    out = {
        "w0": w0, "w1": w1, "heap_read_s": heap_read_s,
        "metrics": {
            "ops_per_s": res["ops_per_s"],
            **latency_metrics(timed),
            "jvm_live_mb": jvm_mb,
        },
        "window_ops": len(timed), "cpu": cpu,
        "by_type": type_summary(timed),
        "latencies": [[r["type"], round(r["t0"] - w0, 4), round(r["t1"] - r["t0"], 4)]
                      for r in timed],
        "cold_s": {c["type"]: c["s"] for c in res["cold"]},
        "warmup_cycle_s": res["warmup_cycle_s"],
        "attempted": res["sent"] + len(res["first"]),
        "failed": res["failed"] + len(errors),
        "errors": res["errors"] + errors,
        "timings": prog.timings,
    }
    if tracer:
        out["layers"] = serve_layers(prog, tracer, res, timed)
        out["layers"]["server.refused"] = sum(r["status"] == 429 for r in res["requests"])
    prog.close()
    return out


def serve_layers(prog: Program, tracer: tr.Tracer, res: dict, timed: list) -> dict:
    w0, w1 = res["w0"], res["w1"]
    handled = [o for o in tracer.ops if o["kind"] == "request" and w0 <= o["t0"] and o["t1"] <= w1]
    traced = [o for o in handled if o["traced"]]
    plain = [o for o in handled if not o["traced"]]
    cold = [o for o in tracer.ops if o["kind"] == "request" and o["t1"] < w0][:len(res["cold"])]
    layers = common_layers(prog, cold, traced)
    span_ms = lambda name: 1e3 * tr.balanced(  # noqa: E731
        traced, lambda o: tr.span_total(o, name))
    comp = sum((tr.span_counts(o, "server.compress") for o in traced), start=Counter())
    dur = lambda o: o["t1"] - o["t0"]  # noqa: E731
    layers.update({
        "server.decode_ms": span_ms("server.decode"),
        "server.admit_ms": span_ms("server.admit"),
        "server.dispatch_ms": span_ms("server.dispatch"),
        "server.rows_ms": 1e3 * tr.balanced(traced, lambda o: tr.self_times(o)["server.dispatch"]),
        "server.compress_ms": span_ms("server.compress"),
        "server.compress_ratio": comp["out"] / comp["in"] if comp["in"] else 0.0,
        "server.wait_ms": 1e3 * (
            statistics.fmean(r["t1"] - r["t0"] for r in timed)
            - statistics.fmean(dur(o) for o in handled)),
        "codec.packb_ms": span_ms("codec.packb"),
        "codec.response_bytes": tr.balanced(
            traced, lambda o: tr.span_counts(o, "codec.packb")["bytes"]),
        "trace.overhead_pct": 100 * (tr.balanced(traced, dur) / tr.balanced(plain, dur) - 1),
    })
    return layers
