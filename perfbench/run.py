"""Seeded end-to-end benchmark of the chunk→dedup engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload files_ae16k --seed 1 --seconds 10 --trace 0

Workloads (perfbench/workloads.py): ``files_ae16k`` and ``snapshot_sync``.
Each run generates its inputs from ``--seed`` and computes a reference
result without Spark, sets up a ``local[nproc]`` session ``SETUPS`` times,
makes the workload's untimed warm-up runs, then runs the workload as a
closed loop with one client for ``--seconds``. Every cache is cleared before
each operation, and each result is checked against the reference.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` makes one
untraced and one traced operation in a session with the Spark event log on,
prints the per-layer metrics and writes the spans to
``.perfbench_work/traces/``. The last stdout line is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it is a JSON report with the host, the sample counts and the raw samples.
Everything a run writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import sys
import threading
import time
import traceback

SETUPS = 7  # session set-ups per run; setup_s is their median
OP_TIMEOUT_S = 60.0  # an operation running longer is cancelled and fails
RUN_BUDGET_S = 62.0  # no new timed operation starts after this much of the run
SAMPLE_CAP = 16 << 20  # bytes of workload input for the single-thread kernel probe


def _configure_env(root: str, work: str, trace: bool) -> dict:
    """Pin the session to this host before the JVM launches: every core,
    a heap well below physical memory, scratch space inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    phys_gib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / (1 << 30)
    heap_gib = max(1, min(4, int(phys_gib // 4)))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_gib}g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp  # also where the native chunker kernels are compiled and cached
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the launcher JVM writes no /tmp file
    conf = [
        "--driver-java-options", f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    event_dir = None
    if trace:
        event_dir = os.path.join(work, "events")
        shutil.rmtree(event_dir, ignore_errors=True)
        os.makedirs(event_dir)
        for kv in (
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir={event_dir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ):
            conf += ["--conf", kv]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(conf + ["pyspark-shell"])
    sys.path.insert(0, root)
    return {"nproc": cpus, "heap_gib": heap_gib, "phys_gib": round(phys_gib, 1), "event_dir": event_dir}


def _setup():
    """One session set-up: get_spark, then pandas UDF tasks on every core
    slot so each Python worker has forked and imported its libraries.
    Returns (spark, get_spark seconds, worker warm-up seconds)."""
    t0 = time.perf_counter()
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from cdc_algorithms_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()

    @pandas_udf("long")
    def _warm(s):
        return s

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    spark.range(cpus * 64, numPartitions=cpus * 2).select(_warm(F.col("id"))).count()
    return spark, t1 - t0, time.perf_counter() - t1


def _reset_caches(spark) -> int:
    """Drop everything earlier operations persisted; returns the number of
    persisted RDDs still left (0 when the reset worked)."""
    from cdc_algorithms_spark import api

    spark.catalog.clearCache()
    api.release_probe_frames()
    jsc = spark.sparkContext._jsc
    left = jsc.getPersistentRDDs()
    for key in list(left.keySet().toArray()):
        left.get(key).unpersist(True)  # RDDs persisted outside the SQL cache
    return jsc.getPersistentRDDs().size()


def _op(spark, wl, tracer) -> tuple[float, float, list[str]]:
    """One operation: (wall s, process-tree CPU s, errors). A failure or a
    result different from the reference shows as a non-empty error list."""
    from probes import tree_cpu_s

    leftover = _reset_caches(spark)
    errors = [f"{leftover} persisted RDDs left before the run"] if leftover else []
    timer = threading.Timer(OP_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
    c0 = tree_cpu_s()
    t0 = time.perf_counter()
    timer.start()
    try:
        result = wl.run(spark, tracer)
        wall = time.perf_counter() - t0
        errors += wl.check(result)
    except Exception as exc:  # a failed operation is counted, the run goes on
        traceback.print_exc(file=sys.stderr)
        wall = time.perf_counter() - t0
        errors.append(f"{type(exc).__name__}: {exc}")
    finally:
        timer.cancel()
    if wall > OP_TIMEOUT_S:
        errors.append(f"timed out after {wall:.1f} s")
    return wall, tree_cpu_s() - c0, errors


def _await_batches(listener, n: int, timeout: float = 5.0) -> None:
    """Progress events reach the listener asynchronously; wait for ``n``."""
    deadline = time.monotonic() + timeout
    while len(listener.batches) < n and time.monotonic() < deadline:
        time.sleep(0.05)


def _cpu_stat() -> list[int]:
    """Host-wide jiffies from /proc/stat (user ... steal); the steal share
    shows how much other tenants of the machine slowed a run."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in 0..100) of a non-empty list."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def tail_percentile(n: int) -> int:
    """Highest of p99/p95/p90/p75 with at least ten samples beyond it;
    p50 when there are fewer than 40 samples."""
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            return p
    return 50


def _timed(spark, wl, listener, seconds: float, t_begin: float) -> dict:
    """The closed loop: operations back to back until ``seconds`` pass.
    For snapshot_sync an operation counted in attempted/failed is a
    micro-batch; for files_ae16k it is a run."""
    from probes import RssSampler, Tracer

    off = Tracer(False)
    walls, cpus, batches, errors = [], [], [], []
    attempted = failed = 0
    sampler = RssSampler(interval=1.0)  # each sample walks /proc, so sample rarely
    sampler.start()
    stat0 = _cpu_stat()
    t_stop = time.perf_counter() + seconds
    while True:
        n0 = len(listener.batches)
        wall, cpu, errs = _op(spark, wl, off)
        walls.append(wall)
        cpus.append(cpu)
        errors += errs
        if wl.stages:
            _await_batches(listener, n0 + wl.stages)
            got = listener.batches[n0:]
            batches += [b["trigger_s"] for b in got]
            n = max(len(got), wl.stages)  # a failed run fails all of its stages
            attempted += n
            failed += n if errs else 0
        else:
            attempted += 1
            failed += int(bool(errs))
        now = time.perf_counter()
        if now >= t_stop or now - t_begin > RUN_BUDGET_S:
            break
    sampler.stop()
    stat1 = _cpu_stat()

    mib = wl.input_bytes / (1 << 20)
    lat = batches if wl.stages else walls
    tail_p = tail_percentile(len(lat))
    return {
        "walls": walls,
        "cpus": cpus,
        "errors": errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "throughput_mibps": (statistics.median(mib / w for w in walls), "MiB/s"),
            "cpu_s_per_gib": (statistics.median(c / (mib / 1024) for c in cpus), "s/GiB"),
            "batch_p50_s": (statistics.median(lat), "s"),
        },
        # Too few batches fit in one run for a tail with ten samples beyond
        # it, and the JVM's resident size follows its collector more than the
        # program: both are reported, not gated.
        "report": {
            "batch_samples": len(lat),
            "batches_s": batches,
            "batch_tail_percentile": tail_p,
            "batch_tail_s": percentile(lat, tail_p),
            "peak_rss_mib": sampler.peak_mib,
            "host_steal_frac": (stat1[7] - stat0[7]) / max(1, sum(stat1) - sum(stat0)),
        },
    }


def _traced(spark, wl, listener) -> dict:
    """One untraced and one traced operation; the per-layer metrics come
    from the traced one (run id 1) and the Spark event log."""
    from probes import Tracer

    wall0, _, errs0 = _op(spark, wl, Tracer(False))
    tracer = Tracer(True)
    tracer.run_id = 1
    n0 = len(listener.batches)
    t0 = time.time()
    wall1, cpu1, errs1 = _op(spark, wl, tracer)
    window = (t0, time.time())
    if wl.stages:
        _await_batches(listener, n0 + wl.stages)
    m = _layer_metrics(wl, tracer, listener, listener.batches[n0:], cpu1)
    m["trace.overhead_frac"] = (wall1 / wall0 - 1.0, "frac")
    return {
        "walls": [wall0, wall1],
        "cpus": [cpu1],
        "errors": errs0 + errs1,
        "attempted": 2,
        "failed": int(bool(errs0)) + int(bool(errs1)),
        "metrics": m,
        "tracer": tracer,
        "window": window,
        "report": {},
    }


def _layer_metrics(wl, tracer, listener, batches: list[dict], op_cpu: float) -> dict:
    """Per-layer metrics of the traced operation. Layers the workload does
    not exercise read 0."""
    kernel = _kernel_mibps(wl.sample)
    kernel_core_s = sum(nbytes / (1 << 20) / kernel[k] for k, nbytes in wl.kernel_bytes().items())
    m = {
        "chunkers.ae16k_mibps": (kernel["ae16k"], "MiB/s"),
        "chunkers.fastcdc256_mibps": (kernel["fastcdc256"], "MiB/s"),
        "chunkers.cpu_share": (kernel_core_s / op_cpu if op_cpu > 0 else 0.0, "frac"),
    }
    for name in ("distributed.scan", "distributed.finish", "chunking.chunk", "dedup.stats"):
        m[f"{name}_s"] = (tracer.seconds(name, 1), "s")
    for name in ("distributed.chunks", "chunking.chunks"):
        m[name] = (tracer.counts.get(name, 0), "count")

    sync = dict.fromkeys(
        ("seed_s", "add_batch_s", "engine_s", "outside_batch_s", "batch_growth", "store_mib"), 0.0
    )
    sync["store_dirs"] = 0
    if batches:
        trig = [b["trigger_s"] for b in batches]
        add = [b["add_batch_s"] for b in batches]
        q = max(1, len(trig) // 4)
        start, end = tracer.window("sync.run", 1)
        store_bytes, store_dirs = wl.store_size()
        sync.update(
            seed_s=max(0.0, listener.started[-1] - start) if listener.started else 0.0,
            add_batch_s=statistics.median(add),
            engine_s=statistics.median(t - a for t, a in zip(trig, add)),
            outside_batch_s=(end - start) - sum(trig),
            batch_growth=statistics.median(trig[-q:]) / statistics.median(trig[:q]),
            store_mib=store_bytes / (1 << 20),
            store_dirs=store_dirs,
        )
    units = {"store_mib": "MiB", "store_dirs": "count", "batch_growth": "ratio"}
    for k, v in sync.items():
        m[f"sync.{k}"] = (v, units.get(k, "s"))
    return m


def _kernel_mibps(sample: bytes) -> dict:
    """Single-thread throughput of the public chunker kernels on the
    workload's own bytes (best of three)."""
    from cdc_algorithms_spark.chunkers import ae_bounds, fastcdc_cuts, make_params

    data = sample[:SAMPLE_CAP]
    out = {}
    for key, fn, params in (
        ("ae16k", ae_bounds, make_params("ae", 16384)),
        ("fastcdc256", fastcdc_cuts, make_params("fastcdc", 256)),
    ):
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            fn(data, params)
            best = min(best, time.perf_counter() - t0)
        out[key] = len(data) / (1 << 20) / best
    return out


def _spark_metrics(event_dir: str, tracer, window: tuple[float, float], nproc: int) -> dict:
    """Task metrics from the event log for the stages the traced operation
    submitted, and the dedup stage's shuffle bytes per chunk."""
    from probes import event_log_summary

    s = event_log_summary(event_dir, [window])
    m = {
        "spark.jobs": (s["jobs"], "count"),
        "spark.stages": (s["stages"], "count"),
        "spark.tasks": (s["tasks"], "count"),
        "spark.shuffle_write_mib": (s["shuffle_write_bytes"] / (1 << 20), "MiB"),
        "spark.spill_mib": (s["spill_bytes"] / (1 << 20), "MiB"),
        "spark.gc_s": (s["gc_s"], "s"),
        "spark.executor_cpu_s": (s["executor_cpu_s"], "s"),
        "spark.core_busy_frac": (s["executor_run_s"] / (nproc * (window[1] - window[0])), "frac"),
        "dedup.shuffle_bytes_per_chunk": (0.0, "B"),
    }
    dedup = tracer.window("dedup.stats", 1)
    n_chunks = tracer.counts.get("distributed.chunks") or tracer.counts.get("chunking.chunks")
    if dedup and n_chunks:
        shuffle = event_log_summary(event_dir, [dedup])["shuffle_write_bytes"]
        m["dedup.shuffle_bytes_per_chunk"] = (shuffle / n_chunks, "B")
    return m


def _shutdown(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
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
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_begin = time.perf_counter()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "cdc_algorithms_spark", "session.py")):
        print("perfbench: run from the root of a checkout: cdc_algorithms_spark/ is missing",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work")
    env = _configure_env(root, work, bool(args.trace))
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)

    import numpy as np

    from probes import Tracer, batch_listener

    wl = WORKLOADS[args.workload]()
    t0 = time.perf_counter()
    wl.generate(np.random.default_rng(args.seed), run_dir)
    generate_s = time.perf_counter() - t0

    spark = None
    try:
        get_spark_s, worker_s, setup_s = [], [], []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark, g, w = _setup()
            setup_s.append(time.perf_counter() - t0)
            get_spark_s.append(g)
            worker_s.append(w)
        listener = batch_listener(spark)
        from cdc_algorithms_spark.chunkers import native

        native_ok = int(native._load() is not None)

        t0 = time.perf_counter()
        warmup_errors = []
        for _ in range(wl.warmup_runs):
            warmup_errors += _op(spark, wl, Tracer(False))[2]
        warmup_runs_s = time.perf_counter() - t0

        if args.trace:
            res = _traced(spark, wl, listener)
        else:
            res = _timed(spark, wl, listener, args.seconds, t_begin)
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = res["metrics"]
    if args.trace:
        metrics.update(_spark_metrics(env["event_dir"], res["tracer"], res["window"], env["nproc"]))
        metrics.update({
            "session.cold_setup_s": (setup_s[0], "s"),
            "session.get_spark_s": (statistics.median(get_spark_s), "s"),
            "session.worker_warmup_s": (statistics.median(worker_s), "s"),
            "session.warmup_runs_s": (warmup_runs_s, "s"),
            "chunkers.native": (native_ok, "count"),
        })
        res["tracer"].dump(
            os.path.join(work, "traces", f"{args.workload}-seed{args.seed}.json"),
            {k: v for k, (v, _) in metrics.items()},
        )
    else:
        metrics["setup_s"] = (statistics.median(setup_s), "s")

    errors = warmup_errors + res["errors"]
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": env["nproc"],
        "heap_gib": env["heap_gib"],
        "chunkers.native": native_ok,
        "input_mib": wl.input_bytes / (1 << 20),
        "generate_s": generate_s,
        "setups_s": setup_s,
        "warmup_runs": wl.warmup_runs,
        "warmup_runs_s": warmup_runs_s,
        "op_walls_s": res["walls"],
        "failed_frac": res["failed"] / max(1, res["attempted"]),
        "errors": errors[:10],
        "run_s": time.perf_counter() - t_begin,
        **res["report"],
    }
    print(json.dumps(report))
    print(json.dumps({
        "correct": not errors,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
