"""Benchmark runner: one workload, one seed, closed loop, one client.

Run from the repository root::

    python3 perfbench/run.py --workload olap-read --seed 1 --seconds 10 --trace 0

The runner generates the workload's input from ``--seed`` into a fresh
scratch dir under ``.perfbench_work/`` (all engine scratch, Spark local
dirs and temp files are redirected there and removed at exit), starts a
Spark session on ``local[<usable cores>]``, sets the workload up, then
runs its rounds from one client thread until ``--seconds`` of timed
operation wall has passed, always finishing the round it is in. Every
output is checked outside the timed region; a wrong answer counts as a
failed operation.

Standard output ends with one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The line before it,
prefixed ``perfbench-details``, holds what the metrics summarise:
per-operation-type latency, every timed latency, the tail sample count, the
bench.py host-noise canaries and, when traced, the per-layer table.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# bench.py's canaries (min of 2 after a warm-up), measured clean on a
# 4-core x86 container: a run whose canary exceeds CANARY_NOISE x its
# clean value ran on a contended host.
CLEAN_CANARY_S = 0.10
CLEAN_CANARY_PAR_S = 0.14
CANARY_NOISE = 1.5


# The tail: the mean latency of the slowest TAIL_SHARE of the timed
# operations, and never fewer than ten of them. An olap-read run
# times 40 operations and a dml-cdc run 22, so this is the slowest 16
# and 10: the operator-heavy reads in olap-read, every write, OPTIMIZE
# and the CDC poll in dml-cdc. A single high percentile would sit on
# the boundary between the read and write latency modes of dml-cdc
# and swing with whichever op lands there.
TAIL_SHARE = 0.4


def tail_mean(values: list[float]) -> tuple[float, int]:
    """Mean of the slowest max(10, ceil(TAIL_SHARE * n)) values, and
    that count."""
    k = min(len(values), max(10, math.ceil(TAIL_SHARE * len(values))))
    return statistics.fmean(sorted(values)[-k:]), k


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def jvm_memory(spark) -> dict:
    """The driver JVM's heap at workload end: the old generation's peak
    use over the run, then, after a forced full GC, the heap still in
    use and the persisted RDD count. A heap leak (RDDs persisted and
    never released, growing caches) raises the live heap, which the
    fixed, pre-touched heap hides from VmHWM."""
    import gc

    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    old_peak = 0
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getType().toString() == "Heap memory" and "Old" in pool.getName():
            old_peak = max(old_peak, pool.getPeakUsage().getUsed())
    gc.collect()  # drop Python-side handles so the JVM objects are free
    jvm.System.gc()
    time.sleep(0.2)  # the cleaner unpersists RDDs asynchronously
    jvm.System.gc()
    return {
        "old_gen_peak_mb": old_peak / 2**20,
        "heap_live_mb": mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20,
        "persisted_rdds": spark.sparkContext._jsc.getPersistentRDDs().size(),
    }


def tree_bytes(path: str, skip: str) -> int:
    """Bytes of the regular files under ``path``, leaving out the tree
    ``skip``. Spark's cleaner deletes checkpoint files asynchronously,
    so a file that goes away during the walk is not counted."""
    total = 0
    for dirpath, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if os.path.join(dirpath, d) != skip]
        for name in files:
            p = os.path.join(dirpath, name)
            try:
                if not os.path.islink(p):
                    total += os.path.getsize(p)
            except FileNotFoundError:
                pass
    return total


def measure(wl, seconds: float, tracer=None) -> dict:
    """Run whole rounds until ``seconds`` of timed op wall passed and
    at least the workload's ``min_rounds`` rounds ran.

    With a tracer, each read also runs once untraced right beside its
    traced run (alternating which goes first), so the two timings share
    the engine state; their wall ratio is the tracing overhead."""
    lat: list[tuple[str, float]] = []
    labels: list[str] = []
    shadow: list[tuple[float, float]] = []  # (traced, untraced) read wall
    failures: list[str] = []
    elapsed, rounds = 0.0, 0
    for rnd in wl.rounds():
        for op in rnd:
            n = len(lat)
            untraced_first = tracer is not None and op.kind == "read" and n % 2 == 1
            if untraced_first:
                untraced = _untraced_wall(op)
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    result = op.run()
                else:
                    with tracer.operation(n, op.label):
                        result = op.run()
                error = None
            except Exception as e:  # a failed op is counted, not fatal
                error = f"{op.kind} {op.label!r}: {type(e).__name__}: {e}"
            dt = time.perf_counter() - t0
            if tracer is not None:
                tracer.account()
                if op.kind == "read":
                    if not untraced_first:
                        untraced = _untraced_wall(op)
                    if error is None and untraced is not None:
                        shadow.append((dt, untraced))
            lat.append((op.kind, dt))
            labels.append(op.label[:40])
            elapsed += dt
            if error is None:
                try:
                    op.check(result)
                except Exception as e:
                    error = f"wrong answer {op.kind} {op.label!r}: {str(e)[:300]}"
            if error is not None:
                failures.append(error)
        rounds += 1
        if elapsed >= seconds and rounds >= wl.min_rounds:
            break
    return {
        "lat": lat, "labels": labels, "shadow": shadow, "failures": failures,
        "wall": elapsed, "rounds": rounds,
    }


def _untraced_wall(op) -> float | None:
    """Wall of one run of ``op`` outside any traced operation: the
    installed wrappers call straight through and record no span,
    deploy or routing."""
    t0 = time.perf_counter()
    try:
        op.run()
    except Exception:  # the traced run of the same op records the failure
        return None
    return time.perf_counter() - t0


def e2e_metrics(
    m: dict, setup_s: float, peak_rss_mb: float, heap_live_mb: float, disk_ratio: float
):
    lats = [d for _k, d in m["lat"]]
    reads = [d for k, d in m["lat"] if k == "read"]
    metrics = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(lats) / m["wall"], "1/s"),
        "op_p50_s": (statistics.median(lats), "s"),
        "op_tail_s": (tail_mean(lats)[0], "s"),
        "read_p50_s": (statistics.median(reads), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "heap_live_mb": (heap_live_mb, "MB"),
        "disk_bytes_per_input_byte": (disk_ratio, "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def per_kind(lat: list[tuple[str, float]]) -> dict:
    kinds: dict[str, list[float]] = {}
    for k, d in lat:
        kinds.setdefault(k, []).append(d)
    return {
        k: {"n": len(v), "p50_s": statistics.median(v), "max_s": max(v)}
        for k, v in sorted(kinds.items())
    }


def layer_metrics(tracer, traced: dict, persisted: int, cores: int):
    from spans import LAYERS

    n = len(traced["lat"])
    ops = set(range(n))
    table = tracer.layer_table(ops)
    sp = tracer.op_spark
    busy = sum(r.job_busy for r in sp)
    run = sum(r.run for r in sp)
    out = {
        "spark.jobs_per_op": (sum(r.jobs for r in sp) / n, "count"),
        "spark.stages_per_op": (sum(r.stages for r in sp) / n, "count"),
        "spark.tasks_per_op": (sum(r.tasks for r in sp) / n, "count"),
        "spark.job_busy_s": (busy / n, "s"),
        "spark.driver_gap_s": (sum(r.wall - r.job_busy for r in sp) / n, "s"),
        "spark.executor_run_s": (run / n, "s"),
        "spark.executor_cpu_s": (sum(r.cpu for r in sp) / n, "s"),
        "spark.core_util": (run / (busy * cores) if busy else 0.0, "ratio"),
        "spark.input_bytes": (sum(r.input_bytes for r in sp) / n, "B"),
        "spark.shuffle_write_bytes": (sum(r.shuffle_write_bytes for r in sp) / n, "B"),
        "spark.spill_bytes": (sum(r.spill_bytes for r in sp) / n, "B"),
        "spark.failed_tasks": (sum(r.failed_tasks for r in sp), "count"),
        "spark.persisted_rdds_end": (persisted, "count"),
    }
    for layer in LAYERS:
        if layer == "layouts.deploy":
            continue
        out[f"{layer}_s"] = (table[layer]["self_s"] / n, "s")
    out["sqlfront.routed_ratio"] = (
        tracer.routed_answered / tracer.routed_offered if tracer.routed_offered else 0.0,
        "ratio",
    )
    out["ddl.verbs"] = (sum(tracer.verbs.values()), "count")
    out["layouts.deploys"] = (tracer.deploys, "count")
    out["catalog.table_calls"] = (table["catalog.table"]["count"] / n, "count")
    out["session.parallel_legs"] = (tracer.parallel_legs, "count")
    out["trace.layer_errors"] = (sum(r["errors"] for r in table.values()), "count")
    # traced ÷ untraced ops/s over the paired reads
    pairs = traced["shadow"]
    out["trace.overhead_ratio"] = (
        sum(u for _t, u in pairs) / sum(t for t, _u in pairs), "ratio"
    )
    details = {
        "layers": {
            k: {kk: round(vv, 6) for kk, vv in v.items()} for k, v in table.items()
        },
        "ddl_verbs": dict(tracer.verbs),
        "jobs_match_group": all(r.jobs == r.group_jobs for r in sp),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}, details


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits at stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, work: str) -> dict:
    import datagen
    import workloads

    classes = {"olap-read": workloads.OlapRead, "dml-cdc": workloads.DmlCdc}
    cls = classes[args.workload]
    data = os.path.join(work, "data")
    cores = len(os.sched_getaffinity(0))

    t0 = time.perf_counter()
    input_bytes = datagen.write(args.seed, data, cls.scale)
    from bigdataproj_spark.engine import Engine
    from bigdataproj_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        **{
            "spark.driver.memory": "1g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed, pre-touched heap: the JVM's VmHWM then does not
            # depend on when G1 chose to grow the heap
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tempfile.gettempdir()} "
            "-Xms1g -XX:+AlwaysPreTouch",
        },
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        eng = Engine(spark, data)
        wl = cls(eng, data, args.seed, work)
        warm = wl.setup()
        setup_s = time.perf_counter() - t0
        failures = []
        for op, result in warm:
            try:
                op.check(result)
            except Exception as e:
                failures.append(f"wrong answer in set-up {op.label!r}: {str(e)[:300]}")
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            tracer.install()
            try:
                m = measure(wl, args.seconds, tracer)
            finally:
                tracer.uninstall()
        else:
            m = measure(wl, args.seconds)
        failures += m["failures"]
        attempted = len(warm) + len(m["lat"])
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = {"python": vm_hwm_kb(os.getpid()) / 1024, "jvm": vm_hwm_kb(jvm_pid) / 1024}
        # the warehouse: input, sandbox, layouts, cubes, snapshots and
        # CDC state; Spark's block/shuffle dirs are not part of it
        disk = tree_bytes(work, skip=os.path.join(work, "spark-local"))
        heap = jvm_memory(spark)
        if tracer is not None:
            metrics, layer_details = layer_metrics(
                tracer, m, heap["persisted_rdds"], cores
            )
        else:
            metrics = e2e_metrics(
                m, setup_s, sum(rss_mb.values()), heap["heap_live_mb"], disk / input_bytes
            )
        import bench

        canary = bench.run_canary(spark)
        canary_par = bench.run_canary_parallel(spark)
        wl.close()
    finally:
        stop_spark(spark)

    details = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "rounds": m["rounds"],
        "timed_wall_s": m["wall"],
        "input_bytes": input_bytes,
        "peak_rss_mb": rss_mb,
        "jvm_heap": heap,
        "per_kind": per_kind(m["lat"]),
        "canary_s": canary,
        "canary_par_s": canary_par,
        "host_noisy": canary > CANARY_NOISE * CLEAN_CANARY_S
        or canary_par > CANARY_NOISE * CLEAN_CANARY_PAR_S,
        "failures": failures[:10],
    }
    if tracer is None:
        details.update(
            samples=len(m["lat"]),
            tail_samples=tail_mean([d for _k, d in m["lat"]])[1],
            setup_s=setup_s,
            latencies=[
                [k, label, round(d, 4)] for (k, d), label in zip(m["lat"], m["labels"])
            ],
        )
    else:
        details.update(layer_details)
    print("perfbench-details " + json.dumps(details), flush=True)
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("olap-read", "dml-cdc"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (
        os.path.isdir(os.path.join(ROOT, "bigdataproj_spark"))
        and os.path.isfile(os.path.join(ROOT, "bench.py"))
    ):
        print(
            "perfbench: run from a checkout of the engine "
            f"(no bigdataproj_spark/ or bench.py under {ROOT})",
            file=sys.stderr,
        )
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # every engine scratch tree lives under tempfile.gettempdir() and
    # Spark's block dirs under SPARK_LOCAL_DIRS: both must point inside
    # the checkout before the engine is imported
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # glibc's per-thread malloc arenas make the JVM's resident memory
    # vary with thread scheduling (peak_rss_mb)
    os.environ["MALLOC_ARENA_MAX"] = "2"
    # HotSpot writes hsperfdata files to /tmp whatever TMPDIR says
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    tempfile.tempdir = tmp
    sys.path[:0] = [HERE, ROOT]
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
