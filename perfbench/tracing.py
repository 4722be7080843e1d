"""Tracing from outside the engine: spans around the benchmark's calls
into each layer, a streaming progress listener, a Catalyst/SQL-metric
listener, per-operation job statistics and primitive microbenchmarks.

Nothing here patches the engine. Spans are kept in memory and folded into
the per-layer record when the run ends.
"""

from __future__ import annotations

import json
import resource
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext

import numpy as np
from pyspark.sql.streaming import StreamingQueryListener

# Python-worker SQL metrics (summed over every plan node of a query) and
# the per-layer metric each feeds.
PLAN_METRICS = {
    "pythonTotalTime": "python.total_ms",
    "pythonBootTime": "python.boot_ms",
    "pythonDataSent": "python.bytes_sent",
    "pythonDataReceived": "python.bytes_received",
}
# The six micro-batch phases of a progress event's durationMs, and the
# per-layer metric name each feeds.
PHASES = {
    "latestOffset": "runner.latest_offset_ms",
    "getBatch": "runner.get_batch_ms",
    "queryPlanning": "runner.query_planning_ms",
    "addBatch": "runner.add_batch_ms",
    "walCommit": "runner.wal_commit_ms",
    "commitOffsets": "runner.commit_offsets_ms",
}


def median(xs) -> float:
    """The median, or 0.0 for no samples (a layer the workload never calls)."""
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float] | None:
    """The highest percentile with at least ten samples beyond it, as
    ``(value, percentile)`` (nearest rank), or None when fewer than 20
    samples put that percentile at or below the median."""
    xs = sorted(xs)
    n = len(xs)
    if n < 20:
        return None
    rank = n - 10  # 1-based rank of the reported sample
    return float(xs[rank - 1]), 100.0 * rank / n


class Spans:
    """Named spans with parents; a no-op when tracing is off."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.records: list[tuple[str, float, float, str | None, int]] = []
        self._stack: list[str] = []
        self.op = 0

    def span(self, name: str):
        return self._span(name) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.records.append((name, t0, time.perf_counter(), parent, self.op))
            self._stack.pop()

    def per_op(self, name: str) -> list[float]:
        """Seconds spent in ``name`` per operation, for ops that entered it."""
        acc: dict[int, float] = {}
        for n, t0, t1, _, op in self.records:
            if n == name:
                acc[op] = acc.get(op, 0.0) + (t1 - t0)
        return list(acc.values())


class ProgressListener(StreamingQueryListener):
    """Collects every streaming progress event, keyed by query name.

    Events arrive on Spark's listener bus asynchronously; ``take`` waits
    until the bus is empty before it hands a query's events over."""

    def __init__(self) -> None:
        self.events: dict[str, list[dict]] = {}
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.events.setdefault(p.get("name") or "", []).append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self, spark, name: str) -> list[dict]:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        with self._lock:
            return sorted(self.events.pop(name, []), key=lambda p: p["batchId"])


def _iter(jseq):
    it = jseq.iterator()
    while it.hasNext():
        yield it.next()


def plan_metrics(plan) -> dict[str, int]:
    """Sum PLAN_METRICS over every node of an executed physical plan,
    descending through adaptive and query-stage wrappers."""
    out = dict.fromkeys(PLAN_METRICS, 0)
    stack = [plan]
    while stack:
        p = stack.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(p.plan())
            continue
        for kv in _iter(p.metrics()):
            if kv._1() in out:
                out[kv._1()] += int(kv._2().value())
        stack.extend(_iter(p.children()))
        stack.extend(_iter(p.subqueries()))
    return out


class QueryListener:
    """A JVM QueryExecutionListener (via the py4j callback server) that
    records Catalyst phase times and Python-worker SQL metrics of every
    completed batch query."""

    def __init__(self) -> None:
        self.records: list[dict] = []

    def onSuccess(self, func_name, qe, duration_ns) -> None:
        phases = {kv._1(): int(kv._2().durationMs()) for kv in _iter(qe.tracker().phases())}
        rec = {"func": func_name, "ms": duration_ns / 1e6, "phases": phases}
        rec.update(plan_metrics(qe.executedPlan()))
        self.records.append(rec)

    def onFailure(self, func_name, qe, exception) -> None:
        pass  # the failing action raises in the op, which counts it

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def query_listener(spark) -> QueryListener:
    """A QueryListener ready to register with the session's listener
    manager (the py4j callback server it needs is started here)."""
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    return QueryListener()


def fold_queries(records: list[dict]) -> dict[str, float]:
    """Catalyst phase times and Python-worker SQL metrics, summed over the
    queries one operation ran."""
    out = {f"catalyst.{ph}_ms": float(sum(r["phases"].get(ph, 0) for r in records))
           for ph in ("analysis", "optimization", "planning")}
    for metric, key in PLAN_METRICS.items():
        out[key] = float(sum(r[metric] for r in records))
    return out


def job_stats(spark, groups: list[str]) -> dict[str, float]:
    """Jobs, stages and shuffle bytes written by every job of the given job
    groups (an op's own group, plus a stream's run id: stream execution
    threads run their jobs under that group)."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = [j for g in groups for j in st.getJobIdsForGroup(g)]
    stages = sorted({s for j in jobs if (info := st.getJobInfo(j)) for s in info.stageIds})
    shuffle = 0
    no_q = sc._gateway.new_array(sc._jvm.double, 0)
    for s in stages:
        for sd in _iter(store.stageData(s, False, sc._jvm.java.util.ArrayList(), False, no_q)):
            shuffle += int(sd.shuffleWriteBytes())
    return {"spark.jobs": float(len(jobs)), "spark.stages": float(len(stages)),
            "spark.shuffle_bytes": float(shuffle)}


def timeit(fn, reps: int = 5) -> float:
    """Median seconds of ``fn()`` over ``reps`` calls after one warm call."""
    fn()
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return median(ts)


def micro_cms(eps: float, confidence: float, keys: np.ndarray) -> dict[str, float]:
    """NumpyCMS add, and the per-key state codec (to_bytes + from_bytes) at
    a workload's sketch size."""
    from bloom_filters_count_min_sketch_spark_streaming_spark.functions.cms import NumpyCMS

    cms = NumpyCMS.from_params(eps, confidence, 42)
    add_s = timeit(lambda: cms.add_longs(keys))
    codec_s = timeit(lambda: NumpyCMS.from_bytes(cms.to_bytes()))
    return {"cms.add_mkeys_per_s": len(keys) / add_s / 1e6, "stateful.codec_ms": codec_s * 1e3}


def micro_cms_table(cms_bytes: bytes, keys: np.ndarray) -> dict[str, float]:
    """CountMinSketchTable parse and vectorised point queries."""
    from bloom_filters_count_min_sketch_spark_streaming_spark.functions.cms import CountMinSketchTable

    parse_s = timeit(lambda: CountMinSketchTable.from_bytes(cms_bytes))
    table = CountMinSketchTable.from_bytes(cms_bytes)
    est_s = timeit(lambda: table.estimate_longs(keys))
    return {"cms.parse_ms": parse_s * 1e3, "cms.estimate_mkeys_per_s": len(keys) / est_s / 1e6}


def micro_bloom(bloom_bytes: bytes, keys: np.ndarray) -> dict[str, float]:
    """Bloom probe throughput and health (fill ratio, implied FPR)."""
    from bloom_filters_count_min_sketch_spark_streaming_spark.functions.bloom import BloomFilterSketch

    sk = BloomFilterSketch.from_bytes(bloom_bytes)
    probe_s = timeit(lambda: sk.might_contain_longs(keys))
    ones = int(np.unpackbits(sk.words.view(np.uint8)).sum())
    fill = ones / sk.bit_size
    return {
        "bloom.probe_mkeys_per_s": len(keys) / probe_s / 1e6,
        "bloom.fill_ratio": fill,
        "bloom.expected_fpr": fill ** sk.num_hash_functions,
    }


def micro_murmur3(keys: np.ndarray) -> dict[str, float]:
    from bloom_filters_count_min_sketch_spark_streaming_spark.functions.hashing import murmur3_hash_long

    s = timeit(lambda: murmur3_hash_long(keys, 0))
    return {"hashing.murmur3_mkeys_per_s": len(keys) / s / 1e6}


def peak_rss_mb(jvm_pid: int) -> dict[str, float]:
    """VmHWM of the JVM and peak RSS of this Python process, in MB."""
    jvm = 0.0
    try:
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm = int(line.split()[1]) / 1024.0
    except OSError:
        pass
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    return {"jvm.peak_rss_mb": jvm, "python.peak_rss_mb": py}
