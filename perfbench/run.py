"""The repo's benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload {etl,query_mix} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. The command

1. generates the workload's inputs from the seed (``fixture.py``) under
   ``.perfbench_work/`` in the checkout;
2. loads the query registry and starts the engine's own session
   (``session.get_spark``);
3. warms up with one cold pass of the operations the timed passes run;
4. measures whole passes until ``--seconds`` seconds have passed and at
   least one pass has run (a pass in progress at the deadline finishes);
5. stops the engine, computes the expected results with DuckDB and checks
   what the last timed pass returned or wrote against them;
6. prints each metric by name and unit, then one JSON line:
   ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a separate
run over the same inputs that records spans around every call into an
engine layer, writes them to ``.perfbench_work/trace-<workload>-<seed>.jsonl``
and reports the per-layer metrics. A failed or wrong operation counts in
``failed`` and makes the exit code non-zero.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "chicago_business_owners_data_engineering_spark"
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

# Environment the engine already reads. The session's default 16g
# pre-touched heap cannot start on a 15 GB host; 3g commits here.
DRIVER_MEMORY = "3g"

# The whole run must end well inside 180 s.
RUN_TIMEOUT_S = 170


def engine_env(work: str) -> None:
    """Environment for the engine, its JVM and its Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # Python workers import the engine by module path; they do not
    # inherit the driver's sys.path.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # Keep scratch files inside the checkout.
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def kill_tree() -> None:
    from stats import descendants

    for pid in descendants(os.getpid())[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def start_watchdog() -> threading.Timer:
    def expire() -> None:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s; aborting", file=sys.stderr)
        kill_tree()
        os._exit(3)

    timer = threading.Timer(RUN_TIMEOUT_S, expire)
    timer.daemon = True
    timer.start()
    return timer


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it started, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - any wait failure: make sure it dies
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: float, traced: bool, work: str) -> dict:
    import fixture
    import layers
    from spans import SparkCounters, Tracer, counter_delta
    from stats import PeakRss
    from workloads import WORKLOADS, Ops

    cls = WORKLOADS[workload]
    data = os.path.join(work, "data")
    t = time.time()
    manifest = fixture.build(data, seed, cls.factor)
    gen_s = time.time() - t
    engine_env(work)

    rss = PeakRss().start()
    t = time.time()
    from chicago_business_owners_data_engineering_spark import registry

    registry.get_queries()
    registry_s = time.time() - t
    t = time.time()
    from chicago_business_owners_data_engineering_spark.session import get_spark

    spark = get_spark("perfbench")
    session_s = time.time() - t
    try:
        counters = SparkCounters(spark) if traced else None
        tracer = Tracer(counters)
        w = cls(spark, data, work, seed, tracer)
        ops = Ops()
        t = time.time()
        w.warm_up(ops)
        warmup_s = time.time() - t
        setup_s = time.time() - PROCESS_START - gen_s

        w.measuring = True
        before = counters.snapshot() if traced else None
        overhead0 = tracer.overhead_s
        t0 = time.perf_counter()
        deadline = t0 + seconds
        passes = 0
        while passes == 0 or time.perf_counter() < deadline:
            w.timed_pass(ops)
            passes += 1
        wall = time.perf_counter() - t0
        w.end_measuring()
        rss.stop()
        spark_delta = None
        if traced:
            after = counters.snapshot()
            spark_delta = counter_delta(before, after)
            spark_delta.update(counters.stage_bytes(before["stage_id"], after["stage_id"]))
    finally:
        rss.stop()
        stop_spark(spark)
    # Outside the measured region: the oracles and checks use neither the
    # set-up clock nor the sampled memory.
    t = time.time()
    w.check(ops, cls.expected_results(data))
    check_s = time.time() - t

    lat = w.latencies()
    result = {
        "correct": not ops.failures,
        "attempted": ops.attempted,
        "failed": len(ops.failures),
    }
    if traced:
        tracer.write_jsonl(os.path.join(WORK_ROOT, f"trace-{workload}-{seed}.jsonl"))
        result["metrics"] = layers.per_layer(
            w,
            session_s=session_s,
            registry_s=registry_s,
            warmup_s=warmup_s,
            spark_delta=spark_delta,
            ops=len(lat),
            wall=wall,
            cores=int(os.environ["SPARK_GRAFT_CPUS"]),
            overhead_s=tracer.overhead_s - overhead0,
        )
    else:
        result["metrics"] = layers.end_to_end(
            setup_s=setup_s, peak_rss=rss.peak, latencies=lat, wall=wall
        )
    print(
        f"workload={workload} seed={seed} factor={cls.factor} gen_s={gen_s:.3f} "
        f"warmup_s={warmup_s:.3f} check_s={check_s:.3f} measured_passes={passes} "
        f"ops={len(lat)} tables={json.dumps(manifest['tables'], sort_keys=True)}"
    )
    for msg in ops.failures:
        print(f"FAILED {msg}", file=sys.stderr)
    return result


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: engine package {ENGINE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(WORK_ROOT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    watchdog = start_watchdog()
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        watchdog.cancel()
    for name, m in result["metrics"].items():
        print(f"{name} = {m['value']} {m['unit']}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
