#!/usr/bin/env python3
"""Benchmark for hive_gateway_spark: one workload, one seed, one run.

    python3 perfbench/run.py --workload serve_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its tables from the seed
under ``perfbench/.work/`` (removed at exit), pins ``SPARK_GRAFT_CPUS`` to
the machine's core count, measures one window of ``--seconds`` and checks
the program's outputs. Standard output ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
The line before it is the full record (run environment, timings, errors),
which is also written with every span to ``perfbench/.traces/``.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve_mix", "plan_build")


def pin_environment(work: str) -> dict:
    """Keep every file the run writes inside ``work``; pin the core count."""
    cpus = str(len(os.sched_getaffinity(0)))
    os.makedirs(os.path.join(work, "tmp"))
    env = {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "SPARK_SUBMIT_OPTS": " ".join(filter(None, [
            os.environ.get("SPARK_SUBMIT_OPTS"),
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-XX:-UsePerfData"])),
    }
    os.environ.update(env)
    return env


def run_environment(args, sf_dir: str, env: dict) -> dict:
    import pyspark

    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
        # unset: the program's own default heap
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY"),
        "spark": pyspark.__version__, "python": platform.python_version(),
        "sf_dir": os.path.relpath(sf_dir, ROOT), "loadavg_start": os.getloadavg(),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "hive_gateway_spark", "__init__.py")):
        print("perfbench: hive_gateway_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)  # metric names and units are declared there
    sys.path.insert(0, ROOT)
    import datagen
    import spans
    import workloads

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(work)
    sf_dir = os.path.join(work, f"sf{datagen.SF}")
    record = run_environment(args, sf_dir, env)
    t = time.monotonic()
    datagen.write(args.seed, sf_dir)
    record["input_gen_s"] = time.monotonic() - t
    # set-up is the program's: it starts once the inputs exist
    setup_t0 = time.monotonic()
    ctx = {"root": ROOT, "work": work, "sf_dir": sf_dir, "seed": args.seed,
           "seconds": args.seconds, "tracer": spans.Tracer() if args.trace else None}
    os.chdir(work)  # the Hive metastore and warehouse land in the work dir
    try:
        run = workloads.run_serve if args.workload == "serve_mix" else workloads.run_plan_build
        res = run(ctx)
    except Exception:  # noqa: BLE001 - report, then fail the run
        traceback.print_exc()
        return 1
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    # the heap read (full collections) sits between warm-up and window
    metrics = dict(res["metrics"], setup_s=res["w0"] - setup_t0 - res["heap_read_s"])
    record.update(
        loadavg_end=os.getloadavg(), total_s=time.monotonic() - T_START,
        window_s=res["w1"] - res["w0"], window_ops=res["window_ops"], window_cpu=res["cpu"],
        timings=res["timings"], by_type=res["by_type"], cold_s=res.get("cold_s"),
        warmup_cycle_s=res.get("warmup_cycle_s"), pass_s=res.get("pass_s"),
        latencies=res.get("latencies"),
        errors=res["errors"], end_to_end=metrics,
        layers=res.get("layers"))
    if args.trace:
        declared = spec["per_layer"]
        # a layer the workload never touches (server.* on plan_build) reads 0
        values = {m["name"]: 0.0 for m in declared} | res["layers"]
        write_trace(record, ctx["tracer"])
    else:
        declared, values = spec["end_to_end"], metrics
    out = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    correct = res["failed"] == 0
    print(json.dumps({"record": record}, default=float))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": out}))
    return 0 if correct else 1


def write_trace(record: dict, tracer) -> None:
    out_dir = os.path.join(HERE, ".traces")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{record['workload']}-seed{record['seed']}-{os.getpid()}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump({"record": record, "spans": tracer.dump()}, f, default=float)


if __name__ == "__main__":
    sys.exit(main())
