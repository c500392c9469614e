"""Benchmark command: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload ingest_cycle --seed 42 --seconds 10 --trace 0

Runs from the root of a checkout. Inputs are generated from ``--seed``;
the timed loop issues operations one after another until ``--seconds``
have elapsed (at least ``min_ops`` operations); outputs are checked
outside the timed operations. The last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its
per-layer metrics with ``--trace 1``. Spans and the full record go to
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.probes import (  # noqa: E402
    ProcessTree,
    RssSampler,
    Tracer,
    descendants,
    jvm_gc_seconds,
    process_start_epoch,
)

T_PROCESS = process_start_epoch()


def _args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _environment(work: str) -> None:
    """local[nproc] with SPARK_GRAFT_CPUS=nproc; every scratch file of
    Spark, the JVM, py4j and Python lands under ``work``."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=cpus,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )


def _stop(spark) -> None:
    """Stop Spark and the JVM, then wait for every child process."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def main() -> int:
    args = _args()
    if not os.path.isdir(os.path.join(ROOT, "dmi_ingestor_spark")):
        print("perfbench: dmi_ingestor_spark not found next to perfbench/", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)

    from perfbench import workloads

    tracer = Tracer(enabled=bool(args.trace))
    wl = workloads.make(args.workload, work, args.seed, tracer)
    t = time.time()
    wl.prepare()  # input generation: not the program's set-up
    gen_s = time.time() - t

    from dmi_ingestor_spark.registry import load_all
    from dmi_ingestor_spark.session import get_spark

    load_all()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        return _measure(args, spec, spark, wl, tracer, gen_s)
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def _measure(args, spec, spark, wl, tracer, gen_s) -> int:
    from pyspark import SparkContext

    from perfbench.workloads import geomean

    # generic warm-up: one SQL job, and one Python task per core so the
    # Python workers are running before the first timed operation
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(cpus, numPartitions=cpus).mapInPandas(lambda it: it, "id long").collect()
    t = time.time()
    wl.prepare()
    gen_s += time.time() - t
    wl.warm_up(spark)
    setup_s = time.time() - T_PROCESS - gen_s
    failed = wl.after_op(spark)  # the warm-up's output check, outside set-up
    attempted = wl.warm_up_ops

    tree = ProcessTree(SparkContext._gateway.proc.pid)
    per_op, walls, cpu, jvm_cpu, py_cpu, gc = [], [], [], [], [], []
    with RssSampler(tree) as rss:
        t_loop = time.perf_counter()
        while len(per_op) < wl.min_ops or time.perf_counter() - t_loop < args.seconds:
            wl.prepare()
            c0, g0 = tree.cpu(), jvm_gc_seconds(spark)
            t0 = time.perf_counter()
            tracer.trace_id = f"op-{len(per_op)}"
            try:
                items = wl.op(spark)
            except Exception as err:  # noqa: BLE001 - counted; the run stops
                print(f"perfbench: operation raised {type(err).__name__}: {err}", file=sys.stderr)
                failed += 1
                attempted += 1
                break
            walls.append(time.perf_counter() - t0)
            c1, g1 = tree.cpu(), jvm_gc_seconds(spark)
            cpu.append(c1["tree"] - c0["tree"])
            jvm_cpu.append(c1["jvm"] - c0["jvm"])
            py_cpu.append(c1["python_workers"] - c0["python_workers"])
            gc.append(g1 - g0)
            per_op.append(items)
            attempted += len(items)
            failed += wl.after_op(spark)
        loop_s = time.perf_counter() - t_loop
    # read before the checks and probes below, which run in this process
    python_peak, workers_peak, jvm_peak = rss.python_peak_mb(), rss.workers_peak_mb(), rss.jvm_peak_mb()
    t = time.perf_counter()
    failed += wl.finish(spark)
    check_s = time.perf_counter() - t
    layers = wl.layers(spark) if args.trace else {}

    med = statistics.median
    end_to_end = {
        "setup_s": setup_s,
        "op_s": med(walls) if walls else 0.0,
        "op_cpu_s": med(cpu) if cpu else 0.0,
        "op_geomean_s": geomean(wl.geomean_items(per_op)),
        "python_peak_rss_mb": python_peak,
    }
    layers.update(
        {
            "python_workers.cpu_s": med(py_cpu) if py_cpu else 0.0,
            "python_workers.peak_rss_mb": workers_peak,
            "jvm.cpu_s": med(jvm_cpu) if jvm_cpu else 0.0,
            "jvm.gc_s": med(gc) if gc else 0.0,
            "jvm.peak_rss_mb": jvm_peak,
            "trace.overhead_frac": tracer.overhead_s / loop_s,
            "failed_frac": failed / max(attempted, 1),
        }
    )
    chosen = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layers if args.trace else end_to_end
    metrics = {
        m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in chosen
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "ops": len(walls),
        "op_walls_s": walls,
        "per_op": per_op,
        "inputs_s": gen_s,
        "final_check_s": check_s,
        "end_to_end": end_to_end,
        "per_layer": layers,
        "spans": tracer.spans,
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, default=float)
    result = {
        "correct": failed == 0,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
