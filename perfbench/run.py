"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload batch_sketch_probe --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The inputs are generated from ``--seed``
(perfbench/gen.py), the engine runs on ``local[nproc]`` through its public
functions, and every output is checked against the generator's truth.
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics and the tracing overhead. A line before the last one holds the
run's record: host and engine, seed, sample counts, accuracy and any
failed check. Everything the run writes stays under ``.perfbench_work/``
in the checkout. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "bloom_filters_count_min_sketch_spark_streaming_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
# Set-ups per run (setup_s is their median). The first operation of a
# session is 1.5x to 3x slower than later ones (JIT, codegen, the Python
# worker pool); the set-ups' first ops are the warm-up of the timed loop.
SETUPS = 3


def _host_env() -> dict:
    """Size the engine to this host and keep every file it writes inside
    the checkout. Must run before pyspark starts the JVM."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    # a fifth of the host, between 1 and 8 GiB: room for the Python
    # workers, and not the session factory's 24g default on a small host
    driver_mem = f"{max(1, min(8, mem_kb // (5 * 1024 * 1024)))}g"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": driver_mem,
        # Python workers import the package by name
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '{java_opts}' "
            f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} pyspark-shell"
        ),
    }
    os.environ.pop("SPARK_MASTER", None)
    os.environ.update(env)
    tempfile.tempdir = tmp
    return env


def _own_ckpt_dirs() -> list[str]:
    """Streaming checkpoints of this run, created where the runner puts
    them on a host without /dev/shm (a ``bfcms_ckpt_*`` mkdtemp under the
    temp dir, which is in the checkout) and deleted by ``_release``.

    A run writes only inside its checkout, so the runner's /dev/shm
    placement is not used. The session's own sweep is turned off: it
    globs for the checkpoint dirs of any process, and the list returned
    here holds this run's only."""
    from bloom_filters_count_min_sketch_spark_streaming_spark import session
    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming import runner

    mine: list[str] = []

    def ckpt() -> str:
        mine.append(tempfile.mkdtemp(prefix="bfcms_ckpt_"))
        return mine[-1]

    runner._ephemeral_ckpt = ckpt
    session._CKPT_GLOB_ROOTS[:] = []
    return mine


def _release(spark, ckpts: list[str]) -> None:
    """Between operations: unpersist every cached RDD and delete stage
    snapshots and this run's streaming checkpoints."""
    from bloom_filters_count_min_sketch_spark_streaming_spark.session import release_tmp_snapshots

    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for k in jmap.keySet().toArray():
        jmap.get(k).unpersist()
    release_tmp_snapshots()
    while ckpts:
        shutil.rmtree(ckpts.pop(), ignore_errors=True)


def _leaked_dirs(tmp: str) -> int:
    """Per-query dirs (checkpoints, snapshots) still on disk after release.
    The stream-source split cache is kept on purpose and not counted."""
    return sum(n.startswith("bfcms_") and n != "bfcms_stream_src" for n in os.listdir(tmp))


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state, ppid, ...),
    or None once the process is gone or a zombie waiting to be reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return None if fields[0] == "Z" else fields


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (e.g. the JVM's Python workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (fields := _stat(int(name))) is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in (it exits when its stdin
    closes), and wait until the JVM and every process it started (Python
    workers) have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    below = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while below and time.monotonic() < deadline:
        below = [p for p in below if _stat(p) is not None]
        time.sleep(0.05)
    for p in below:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _engine_record(spark, args, env) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {
        "nproc": int(env["SPARK_GRAFT_CPUS"]),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "driver_memory": sc.getConf().get("spark.driver.memory", ""),
        "pyspark": pyspark.__version__,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "seed": args.seed,
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: no {PKG}/ under {ROOT}; run from a checkout of the repo", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import gen

    if args.workload not in gen.SIZES:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(gen.SIZES)}", file=sys.stderr)
        return 2

    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "lock"), "w") as lock:
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            print("perfbench: another run holds .perfbench_work/lock in this checkout", file=sys.stderr)
            return 3
        return _run(args, gen)


def _run(args, gen) -> int:
    env = _host_env()
    tmp = env["TMPDIR"]
    # we hold the lock, so whatever an earlier run left here is garbage
    for name in os.listdir(tmp):
        shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)

    t_gen = time.perf_counter()
    data = gen.generate(args.workload, args.seed, os.path.join(WORK, "data"))
    gen_s = time.perf_counter() - t_gen

    import tracing
    import workloads

    from bloom_filters_count_min_sketch_spark_streaming_spark.session import get_spark
    from bloom_filters_count_min_sketch_spark_streaming_spark.streaming import runner

    ckpts = _own_ckpt_dirs()
    spans = tracing.Spans(enabled=False)

    # Set-up, SETUPS times, each in a fresh session: session start, the
    # stream-source split and the first (cold) operation, i.e. the time to
    # the first complete result. setup_s is the median. Ops outside the
    # timed loop are not timed, but their outputs are checked and counted
    # like any other op's: a defect that shows only on a cold session or a
    # first replay still fails the run.
    untimed, setups = [], []
    spark = None
    try:
        for n in range(SETUPS):
            if spark is not None:
                spark.stop()
            shutil.rmtree(runner._STREAM_CACHE_ROOT, ignore_errors=True)
            t_setup = time.perf_counter()
            spark = get_spark("perfbench")
            setup = {"session.start_s": time.perf_counter() - t_setup}
            progress = tracing.ProgressListener()
            spark.streams.addListener(progress)
            ctx = workloads.Ctx(spark, data, gen.SIZES[args.workload], spans, progress, args.seed)
            wl = workloads.WORKLOADS[args.workload](ctx)
            setup.update(wl.setup())
            untimed.append(_attempt(wl, -1 - n))
            setup["setup_s"] = time.perf_counter() - t_setup
            setups.append(setup)
            _release(spark, ckpts)

        ql = tracing.query_listener(spark) if args.trace else None
        cpu0 = _cpu_times()
        record = _measure(args, spark, wl, spans, ql, tracing, ckpts)
        cpu = [b - a for a, b in zip(cpu0, _cpu_times())]
        if args.trace:
            layer, extra_ops = _layer_metrics(record, setups, wl, args.seed, ctx, tracing)
            record["ops"] += extra_ops
        record["ops"] += untimed
        _release(spark, ckpts)
        leaked = _leaked_dirs(tmp)
        if args.trace:
            layer["session.leaked_dirs"] = leaked
            layer.update(tracing.peak_rss_mb(int(spark._jvm.java.lang.ProcessHandle.current().pid())))
        engine = _engine_record(spark, args, env)
    finally:
        if spark is not None:
            _stop(spark)

    ops = record["ops"]
    attempted = len(ops)
    failed = sum(1 for o in ops if o is None or not all(ok for _, ok, _ in o.checks))
    good = [o for o in ops if o is not None]
    timed = [o for o in ops[: record["timed"]] if o is not None]
    batch = [b for o in timed for b in o.batch_ms]
    tail = tracing.tail(batch)
    e2e = {
        "setup_s": tracing.median(x["setup_s"] for x in setups),
        "rows_per_s": tracing.median(o.rows / o.seconds for o in timed),
        "batch_ms_p50": tracing.median(batch),
        "ok_rate": (attempted - failed) / max(attempted, 1),
        "state_bytes": tracing.median(o.state_bytes for o in timed),
    }
    accuracy = {k: tracing.median(o.stats[k] for o in good if k in o.stats)
                for k in sorted({k for o in good for k in o.stats})}
    info = {
        "engine": engine,
        # CPU time the hypervisor gave to other guests while the timed loop
        # ran (the "steal" column of /proc/stat): a noisy host shows here
        "host_steal_share": cpu[7] / max(sum(cpu), 1),
        "loadavg_1m": os.getloadavg()[0],
        "gen_s": gen_s,
        "data_fingerprint": os.path.basename(data),
        "ops": attempted,
        "setup_seconds": [round(x["setup_s"], 4) for x in setups],
        "untimed_op_seconds": [None if o is None else round(o.seconds, 4) for o in untimed],
        "op_seconds": [round(o.seconds, 4) for o in timed],
        "batch_samples": len(batch),
        # reported, not gated: the gated run length gives too few samples
        "batch_ms_tail": None if tail is None else {"value": tail[0], "percentile": tail[1]},
        "leaked_dirs": leaked,
        "accuracy": accuracy,
        "failed_checks": sorted({f"{n}: {d}" for o in good for n, ok, d in o.checks if not ok})[:20],
    }
    print(json.dumps({"record": info}, default=float))
    values, units = (layer, LAYER_UNITS) if args.trace else (e2e, E2E_UNITS)
    metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _attempt(wl, i: int):
    """One operation; None if it raised (a failed op is counted, and the
    run goes on)."""
    try:
        return wl.op(i)
    except Exception:  # noqa: BLE001
        traceback.print_exc(file=sys.stderr)
        return None


def _measure(args, spark, wl, spans, ql, tracing, ckpts) -> dict:
    """The timed closed loop: operations back to back until ``--seconds``
    have passed. In a traced run, ops alternate between untraced and
    traced, so the run also measures what tracing costs."""
    ops, layers, plain_s, traced_s = [], [], [], []
    deadline = time.perf_counter() + args.seconds
    i = 0
    while True:
        # untraced, traced, traced, untraced, ...: a drift in op time over
        # the run (late JIT warm-up) then biases neither side
        traced = bool(args.trace) and i % 4 in (1, 2)
        spans.enabled, spans.op = traced, i
        group = f"perfbench-op-{i}"
        spark.sparkContext.setJobGroup(group, group)
        if traced:
            ql.records.clear()
            spark._jsparkSession.listenerManager().register(ql)
        try:
            res = _attempt(wl, i)
        finally:
            if traced:
                spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
                spark._jsparkSession.listenerManager().unregister(ql)
        ops.append(res)
        if res is not None and args.trace:
            (traced_s if traced else plain_s).append(res.seconds)
        if res is not None and traced:
            layer = dict(res.layer)
            layer.update(tracing.job_stats(spark, [group] + res.job_groups))
            layer.update(tracing.fold_queries(ql.records))
            layers.append(layer)
        _release(spark, ckpts)
        i += 1
        if time.perf_counter() >= deadline and (not args.trace or (plain_s and traced_s)):
            break
    spans.enabled = False
    return {"ops": ops, "timed": len(ops), "layers": layers, "plain_s": plain_s, "traced_s": traced_s}


# Every metric and its unit, as BENCHMARK.json lists them (selftest.py
# checks the two agree). README.md defines each one, and says which
# end-to-end metric each per-layer metric should move.
E2E_UNITS = {
    "setup_s": "s", "rows_per_s": "rows/s", "batch_ms_p50": "ms", "ok_rate": "fraction",
    "state_bytes": "bytes",
}
LAYER_UNITS = {
    "session.start_s": "s", "session.leaked_dirs": "count",
    "sources.scan_s": "s", "runner.split_s": "s",
    "runner.batches": "count", "runner.trigger_ms": "ms",
    "runner.latest_offset_ms": "ms", "runner.get_batch_ms": "ms", "runner.query_planning_ms": "ms",
    "runner.add_batch_ms": "ms", "runner.wal_commit_ms": "ms", "runner.commit_offsets_ms": "ms",
    "runner.phase_residual_ms": "ms", "runner.start_ms": "ms", "runner.drain_ms": "ms",
    "state.rows_total": "count", "state.rows_updated": "count", "state.memory_bytes": "bytes",
    "state.commit_ms": "ms",
    "floor.trigger_ms": "ms", "floor.query_planning_ms": "ms", "floor.add_batch_ms": "ms",
    "floor.wal_commit_ms": "ms", "floor.commit_offsets_ms": "ms", "floor.state_commit_ms": "ms",
    "cms.add_mkeys_per_s": "Mkeys/s", "stateful.codec_ms": "ms",
    "cms.build_s": "s", "cms.probe_s": "s", "cms.parse_ms": "ms", "cms.estimate_mkeys_per_s": "Mkeys/s",
    "cms.err_ratio": "ratio",
    "bloom.build_s": "s", "bloom.probe_s": "s", "bloom.probe_mkeys_per_s": "Mkeys/s",
    "bloom.fill_ratio": "fraction", "bloom.expected_fpr": "fraction", "bloom.observed_fpr": "fraction",
    "hashing.murmur3_mkeys_per_s": "Mkeys/s",
    "python.total_ms": "ms", "python.boot_ms": "ms", "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.shuffle_bytes": "bytes",
    "dedup.call_s": "s", "dedup.action_s": "s", "dedup.snapshot_bytes": "bytes", "dedup.pairs_out": "count",
    "dedup.pairs_recall": "fraction",
    "jvm.peak_rss_mb": "MB", "python.peak_rss_mb": "MB",
    "trace.overhead_pct": "%",
}

# per-op values folded by median over the traced ops
_PER_OP = [k for k in LAYER_UNITS if k.split(".")[0] in
           ("runner", "state", "python", "catalyst", "spark", "dedup")
           and k not in ("runner.split_s", "runner.phase_residual_ms", "python.peak_rss_mb")]
_SPANS = {
    "cms.build_s": "functions.cms.cms_build",
    "cms.probe_s": "functions.cms.exact_vs_approx",
    "bloom.build_s": "functions.bloom.bloom_build",
    "bloom.probe_s": "functions.bloom.bloom_might_contain",
}
_ACCURACY = {"cms.err_ratio": "cms_err_ratio", "bloom.observed_fpr": "bloom_fpr",
             "dedup.pairs_recall": "pairs_recall"}


def _layer_metrics(record, setups, wl, seed, ctx, tracing):
    """One value per per-layer metric, each the median over the traced ops
    of that op's figure. A layer the workload never calls reports 0.
    Returns the metrics and the ops the layer probes ran (their output
    checks count like any other op's)."""
    import numpy as np

    from bloom_filters_count_min_sketch_spark_streaming_spark.sources.io import load

    layers = record["layers"]
    out = dict.fromkeys(LAYER_UNITS, 0.0)
    for key in ("session.start_s", "runner.split_s"):
        out[key] = tracing.median(x[key] for x in setups if key in x)
    for key in _PER_OP:
        out[key] = tracing.median(l[key] for l in layers if key in l)
    if out["runner.batches"]:
        out["runner.phase_residual_ms"] = out["runner.trigger_ms"] - sum(
            out[k] for k in tracing.PHASES.values())
    for key, span in _SPANS.items():
        out[key] = tracing.median(ctx.spans.per_op(span))

    # after the timed loop: primitives at this workload's sizes, a full
    # scan of its input, and any layer the workload itself does not call
    keys = np.random.default_rng(seed).integers(0, 2**40, 1_000_000, dtype=np.int64)
    z = ctx.sizes
    out.update(tracing.micro_cms(z.get("eps", 0.001), z.get("confidence", 0.99), keys))
    out.update(tracing.micro_murmur3(keys))
    probe_metrics, extra_ops = wl.layer_probes(keys)
    out.update(probe_metrics)
    good = [o for o in record["ops"] + extra_ops if o is not None]
    for key, stat in _ACCURACY.items():
        out[key] = tracing.median(o.stats[stat] for o in good if stat in o.stats)
    t0 = time.perf_counter()
    load(ctx.spark, ctx.data, wl.table).write.format("noop").mode("overwrite").save()
    out["sources.scan_s"] = time.perf_counter() - t0
    out["trace.overhead_pct"] = 100.0 * (
        tracing.median(record["traced_s"]) / tracing.median(record["plain_s"]) - 1.0)
    return out, extra_ops


if __name__ == "__main__":
    sys.exit(main())
