"""Benchmark of the similaripy_spark engine.

    python3 perfbench/run.py --workload index|matrix --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. One closed-loop client (this process)
drives a ``local[nproc]`` Spark session: every Spark action blocks its
caller, so the next operation starts when the previous one returns. The
inputs are generated from ``--seed``; sampled outputs of every operation are
checked against the repository's oracles and a mismatch counts as a failed
operation, as do exceptions and failed Spark tasks.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end metrics of ``BENCHMARK.json``; the line before it reports the
workload's operations by name, with units and sample counts. With
``--trace 1`` the metrics are the per-layer metrics, read from Spark's
status stores after the timed operations, and the spans of the run are
written to ``.perfbench/traces/``. All files the run writes stay under
``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: set-up is repeated this many times per run and its median reported
SETUP_REPEATS = 3
_REQUIRED = ("BENCHMARK.json", "similaripy_spark/__init__.py",
             "tests/oracle_fulltext.py", "tests/oracle_numpy.py")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("index", "matrix"))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1 << 20)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def start_spark(work: str):
    """A session sized to the machine it runs on: ``local[nproc]``,
    2×nproc shuffle partitions, at most a quarter of the memory (2–8 GB)
    for the driver heap, and every scratch file under ``work``. The heap
    starts at the JVM's default size and grows as the engine needs it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    from similaripy_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    driver_gb = int(max(2, min(8, _mem_total_gb() // 4)))
    return get_spark(
        app_name="perfbench",
        parallelism=cpus,
        shuffle_partitions=2 * cpus,
        extra_conf={
            "spark.driver.memory": f"{driver_gb}g",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it: the
    Python daemon and workers are the JVM's children and end with it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in _REQUIRED
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {ROOT} is not a similaripy_spark checkout "
              f"(missing {', '.join(missing)})", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result, report, spans = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        trace_dir = os.path.join(base, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"spans": spans, "layers": report}, f)
    names = spec["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in names}
    unknown = set(result["metrics"]) - set(units)
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {unknown}")
    result["metrics"] = {
        n: {"value": float(result["metrics"].get(n, 0.0)), "unit": u}
        for n, u in units.items()
    }
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "report": report}))
    print(json.dumps(result), flush=True)
    return 0


def run(args, work: str):
    from record import error_rate, summarize
    from status import StatusReader, jvm_heap_peak_mb

    t0 = time.time()
    spark = start_spark(work)
    import workloads
    from workloads import median

    t1 = time.time()
    try:
        h = workloads.Harness(spark, args.seed, bool(args.trace))
        h.span("session.start", t0, t1)
        wl = workloads.WORKLOADS[args.workload](h, os.path.join(work, "data"))
        wl.warm()
        t2 = time.time()
        gen = []
        for _ in range(SETUP_REPEATS):
            g0 = time.time()
            wl.setup_unit()
            gen.append(time.time() - g0)
        h.span("pages.generate", t2, time.time())
        t3 = time.time()
        wl.prepare()
        h.warm_cycles(wl.cycle, wl.WARM_CYCLES)
        t4 = time.time()
        h.span("session.warmup", t1, t4)
        warm_s = (t2 - t1) + (t4 - t3)
        setup_s = (t1 - t0) + warm_s + median(gen)

        m0 = time.time()
        h.measure(wl.cycle, args.seconds)
        h.span("measure", m0, m0 + h.measure_s)
        heap_mb = jvm_heap_peak_mb(spark)

        reader = StatusReader(spark)
        stats = {}

        def read_status():
            reader.drain()
            for r in h.ops:
                if args.trace:
                    stats[r["group"]] = reader.group(
                        r["group"], 1000 * r["start"], 1000 * r["end"])
                    failed = stats[r["group"]]["failed_tasks"]
                else:
                    failed = reader.failed_tasks(r["group"])
                if failed:
                    r["errors"].append(f"{failed} failed Spark tasks")

        h.collecting(read_status)
        v0 = time.time()
        wl.verify()
        verify_s = time.time() - v0
    finally:
        s0 = time.time()
        stop_spark(spark)
        stop_s = time.time() - s0

    print(f"perfbench: start {t1 - t0:.1f}s, warm-up {warm_s:.1f}s, "
          f"set-up units {sum(gen):.1f}s, measure {h.measure_s:.1f}s, "
          f"status {h.collect_s:.1f}s, verify {verify_s:.1f}s, "
          f"stop {stop_s:.1f}s", file=sys.stderr)
    for r in h.ops:
        for e in r["errors"][:3]:
            print(f"perfbench: {r['kind']} op failed: {e}", file=sys.stderr)
    attempted = len(h.ops)
    failed = sum(1 for r in h.ops if r["errors"])
    report = {name: dict(summarize(samples), unit=unit)
              for name, (samples, unit) in wl.report().items() if samples}
    report.update({
        "setup_s": {"p50": setup_s, "n": 1, "unit": "s",
                    "generate_s": summarize(gen)},
        "cycle_s": dict(summarize(h.cycles), unit="s"),
        "peak_memory_mb": {"value": heap_mb + h.pyworker_mb, "unit": "MB",
                           "jvm_heap_mb": heap_mb,
                           "pyworker_mb": h.pyworker_mb},
        "error_rate": {"value": error_rate(attempted, failed),
                       "unit": "ratio", "attempted": attempted,
                       "failed": failed},
    })
    if args.trace:
        metrics = {
            "session.start_s": t1 - t0,
            "session.warmup_s": warm_s,
            "pages.generate_s": median(gen),
            "pages.rows": wl.INPUT_ROWS,
            "spark.failed_tasks": sum(s["failed_tasks"]
                                      for s in stats.values()),
            "spark.stage_retries": sum(s["stage_retries"]
                                       for s in stats.values()),
            "trace.collect_s": h.collect_s,
            "trace.cycle_s": median(h.cycles),
        }
        metrics.update(wl.layers(stats))
        report = {"per_layer": metrics, "ops": report}
    else:
        metrics = {
            "setup_s": setup_s,
            "cycle_s": median(h.cycles),
            "heavy_op_s": median(h.walls(wl.HEAVY)),
            "light_op_s": median(h.walls(wl.LIGHT)),
            "peak_memory_mb": heap_mb + h.pyworker_mb,
        }
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return result, report, h.spans


if __name__ == "__main__":
    sys.exit(main())
