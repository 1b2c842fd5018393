#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process, one SparkSession on
``local[nproc]``, one closed-loop client. Set-up (session start, input
generation from ``--seed``, warm-up operations on warm-up-only inputs)
is timed as ``setup_s``; then operations run back to back on fresh
inputs for ``--seconds`` seconds of loop wall. Each operation's input is
generated just before it, outside its timed region, so no input pool
can run out. Outputs are checked outside the timed regions (see
workloads.py); a failed check counts as a failed operation.

The last stdout line is the result record. With ``--trace 0`` its
metrics are the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` they are the per-layer metrics, taken from a run in which
every second operation is traced, at least three of them (see
tracer.py). The line before it holds the run's details: traffic dimensions, pinned deployment
settings, per-operation samples and the workload's own metric names.

Exits non-zero without a result when the engine package is missing or
the run cannot complete.
"""

from __future__ import annotations

import argparse
import atexit
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

#: end-to-end metrics, in BENCHMARK.json order
E2E = ("setup_s", "op_p50_s", "items_per_s")

#: heap for the one local driver/executor JVM; the engine's 16g default
#: does not fit a 15 GiB box shared with other work
DRIVER_MEMORY = "4g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment() -> dict:
    """Deployment settings for this run, and a per-run temp root inside
    the checkout (sinks, checkpoints, Spark scratch, Python temp files),
    deleted at exit. Every other engine conf stays at its default."""
    tmp = tempfile.mkdtemp(prefix="run-", dir=_mkdir(os.path.join(ROOT, ".perfbench_tmp")))
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": _mkdir(os.path.join(tmp, "spark-local")),
        "SPARK_WAREHOUSE_DIR": _mkdir(os.path.join(tmp, "warehouse")),
        "TMPDIR": _mkdir(os.path.join(tmp, "tmp")),
        # the JVM's perf-data file would go to /tmp whatever its tmpdir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')} -XX:-UsePerfData",
    }
    os.environ.update(env)
    tempfile.tempdir = env["TMPDIR"]
    return {"tmp": tmp, **env}


def _mkdir(path: str) -> str:
    os.makedirs(path, exist_ok=True)
    return path


def _declared_metrics(trace: int) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args) -> dict:
    import tracer as tracing
    import workloads

    from backend_etl_spark import session

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    cls = workloads.WORKLOADS[args.workload]
    tracer = tracing.Tracer() if args.trace else None
    if tracer:
        tracer.install()

    t0 = time.perf_counter()
    spark = session.get_spark("perfbench")
    try:
        t_session = time.perf_counter()
        cores = spark.sparkContext.defaultParallelism
        if tracer:
            tracer.attach(spark, cores)
        wl = cls(spark, os.path.join(os.environ["TMPDIR"], "work"), args.seed)
        if tracer:
            wl.untimed = tracer.paused
        t_gen = time.perf_counter()
        wl.warmup()
        session.release_all_persistent(spark)
        t_ready = time.perf_counter()

        walls, items, errors, samples, entry_s = [], 0, [], [], []
        attempted = failed = 0
        loop0 = time.perf_counter()
        # a traced run traces every second operation, from the second
        # on, and compares each with the untraced ones next to it
        min_ops = tracing.MIN_OPS if tracer else cls.min_ops
        while attempted < min_ops or time.perf_counter() - loop0 < args.seconds:
            i = attempted
            attempted += 1
            traced = bool(tracer) and i % 2 == 1
            if tracer:
                tracer.begin_op(i, traced)
            try:
                res = wl.op(i)
            except Exception:
                failed += 1
                errors.append(traceback.format_exc(limit=4)[-600:])
                session.release_all_persistent(spark)
                continue
            finally:
                if traced:
                    tracer.end_op(i)
            if tracer:
                tracer.record_op(i, res, traced)
            session.release_all_persistent(spark)
            samples.append(round(res.wall_s, 4))
            if res.entries:
                entry_s.append({n: round(b + a, 3) for n, (b, a) in res.entries.items()})
            if res.errors:
                failed += 1
                errors += res.errors
                continue
            walls.append(res.wall_s)
            items += res.items
        final_errors = wl.final_check()
        if final_errors:
            failed = min(attempted, failed + 1)
            errors += final_errors
        loop_s = time.perf_counter() - loop0

        setup = {"session_s": t_session - t0, "gen_s": t_gen - t_session,
                 "warmup_s": t_ready - t_gen}
        e2e = {
            "setup_s": t_ready - t0,
            "op_p50_s": statistics.median(walls) if walls else 0.0,
            "items_per_s": items / sum(walls) if walls else 0.0,
        }
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cores": cores,
            "traffic": wl.traffic(),
            "setup": {k: round(v, 3) for k, v in setup.items()},
            "loop_s": round(loop_s, 3),
            "op_wall_s": samples,
            "op_entries_s": entry_s,
            "named_metrics": {n: round(e2e[k], 4) for n, k in wl.metric_names.items()},
            "errors": errors[:10],
        }
        metrics = tracer.metrics() if tracer else e2e
        if tracer:
            detail["spans"] = tracer.span_records()
        return {"attempted": attempted, "failed": failed, "metrics": metrics,
                "detail": detail}
    finally:
        stop_spark(spark)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and deletes its temp root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "backend_etl_spark")):
        print(f"perfbench: no engine package (backend_etl_spark/) under {ROOT}; "
              "run from the repository root", file=sys.stderr)
        return 2
    declared = _declared_metrics(args.trace)
    env = pin_environment()
    # scripts/ holds the iterative oracles the output checks use
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "scripts")]
    out = run(args)
    detail = out.pop("detail")
    detail["env"] = {k: v for k, v in env.items() if k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY")}
    values = out["metrics"]
    if args.trace:
        # a layer the workload never calls reads 0 calls and 0 s
        values = {n: values.get(n, 0.0) for n in declared}
    missing = sorted(set(declared) - set(values))
    if missing:
        print(f"perfbench: workload did not produce {missing}", file=sys.stderr)
        return 3
    metrics = {n: {"value": values[n], "unit": u} for n, u in declared.items()}
    if args.trace:
        detail["layers"] = {k: v for k, v in sorted(out["metrics"].items()) if k not in declared}
    print(json.dumps({"detail": detail}))
    result = {"correct": out["failed"] == 0, "attempted": out["attempted"],
              "failed": out["failed"], "metrics": metrics}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
