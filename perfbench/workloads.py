"""The four benchmark workloads, each driven through the engine's public
functions in a closed loop: one caller, and the next operation starts only
after the previous one returned and was checked.

A workload's ``setup`` runs once, inside the set-up time; ``op`` is one
timed operation and returns an :class:`OpResult`. Everything between the
timer stops and the next op starts (output checks, dropping sink views,
releasing snapshots) is outside the timed window.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import gen
import tracing

from bloom_filters_count_min_sketch_spark_streaming_spark import session
from bloom_filters_count_min_sketch_spark_streaming_spark.functions.bloom import (
    bloom_build,
    bloom_might_contain,
)
from bloom_filters_count_min_sketch_spark_streaming_spark.functions.cms import (
    CountMinSketchTable,
    cms_agg,
    cms_build,
    exact_vs_approx,
)
from bloom_filters_count_min_sketch_spark_streaming_spark.operators.dedup import minhash_lsh_pairs
from bloom_filters_count_min_sketch_spark_streaming_spark.sources.io import load
from bloom_filters_count_min_sketch_spark_streaming_spark.streaming import runner, stateful


@dataclass
class OpResult:
    rows: int  # input records the operation consumed
    seconds: float  # from the action's start to the complete result
    batch_ms: list[float]  # micro-batch triggerExecution; for a batch op, the op itself
    state_bytes: float
    checks: list = field(default_factory=list)
    stats: dict = field(default_factory=dict)  # accuracy figures
    layer: dict = field(default_factory=dict)  # per-layer values of this op
    job_groups: list = field(default_factory=list)  # Spark job groups beyond the op's own


@dataclass
class Ctx:
    spark: object
    data: str  # the generated inputs for this seed
    sizes: dict
    spans: tracing.Spans
    progress: tracing.ProgressListener
    seed: int


def _epoch_ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1e3


def _stream_layer(events: list[dict], call_wall: float, return_wall: float) -> dict:
    """Per-op runner and state-store figures from the query's progress."""
    layer = {"runner.batches": len(events)}
    for ph, key in tracing.PHASES.items():
        layer[key] = tracing.median(p["durationMs"].get(ph, 0) for p in events)
    layer["runner.trigger_ms"] = tracing.median(p["durationMs"].get("triggerExecution", 0) for p in events)
    if events:
        first, last = events[0], events[-1]
        layer["runner.start_ms"] = _epoch_ms(first["timestamp"]) - call_wall * 1e3
        end = _epoch_ms(last["timestamp"]) + last["durationMs"].get("triggerExecution", 0)
        layer["runner.drain_ms"] = return_wall * 1e3 - end
    ops = [p["stateOperators"][0] for p in events if p.get("stateOperators")]
    if ops:
        layer["state.rows_total"] = ops[-1]["numRowsTotal"]
        layer["state.rows_updated"] = tracing.median(o["numRowsUpdated"] for o in ops)
        layer["state.memory_bytes"] = ops[-1]["memoryUsedBytes"]
        layer["state.commit_ms"] = tracing.median(o["commitTimeMs"] for o in ops)
    return layer


class _Stream:
    """A bounded stream replayed through ``runner.run_available_now`` into
    a memory sink; the sink view is dropped once read."""

    table = ""
    output_mode = ""

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.z = ctx.sizes
        self.rows = int(self.z["events"])

    def setup(self) -> dict:
        t0 = time.perf_counter()
        with self.ctx.spans.span("runner.table_stream_source"):
            self.src = runner.table_stream_source(
                self.ctx.spark, self.ctx.data, self.table, "event_id", self.z["files"]
            )
        return {"runner.split_s": time.perf_counter() - t0}

    def query(self):
        raise NotImplementedError

    def read(self, sink):
        raise NotImplementedError

    def verify(self, out) -> tuple[list, dict]:
        raise NotImplementedError

    def op(self, i: int) -> OpResult:
        spark, spans = self.ctx.spark, self.ctx.spans
        name = f"perfbench_{self.table}_" + (f"op{i}" if i >= 0 else f"warmup{-i}")
        q = self.query()
        call_wall = time.time()
        t0 = time.perf_counter()
        try:
            with spans.span("streaming.runner.run_available_now"):
                sink = runner.run_available_now(q, self.output_mode, query_name=name)
            with spans.span("sink.read"):
                out = self.read(sink)
            seconds = time.perf_counter() - t0
            return_wall = time.time()
        finally:
            spark.catalog.dropTempView(name)
        events = self.ctx.progress.take(spark, name)
        cks, stats = self.verify(out)
        cks.append(checks.check("stream.progress", len(events) >= self.z["files"],
                                 f"{len(events)} progress events for {self.z['files']} files"))
        layer = _stream_layer(events, call_wall, return_wall)
        return OpResult(
            rows=self.rows, seconds=seconds,
            batch_ms=[float(p["durationMs"].get("triggerExecution", 0)) for p in events],
            state_bytes=float(layer.get("state.memory_bytes", 0)),
            checks=cks, stats=stats, layer=layer,
            job_groups=sorted({p["runId"] for p in events}),
        )

    def layer_probes(self, keys) -> tuple[dict, list]:
        return {}, []


def _probe_ctx(ctx: Ctx, workload: str) -> Ctx:
    """A context for running another workload as a layer probe, on inputs
    generated for the same seed."""
    data = gen.generate(workload, ctx.seed, os.path.dirname(ctx.data))
    return Ctx(ctx.spark, data, gen.SIZES[workload], ctx.spans, ctx.progress, ctx.seed)


# the runner and state-store figures a StreamFloor probe reports
FLOOR_METRICS = {
    "runner.trigger_ms": "floor.trigger_ms", "runner.query_planning_ms": "floor.query_planning_ms",
    "runner.add_batch_ms": "floor.add_batch_ms", "runner.wal_commit_ms": "floor.wal_commit_ms",
    "runner.commit_offsets_ms": "floor.commit_offsets_ms", "state.commit_ms": "floor.state_commit_ms",
}


class StreamKeyedSketch(_Stream):
    """Per-key running CMS (the reference's updateStateByKey + CMS) through
    ``stateful.running_cms_estimates``."""

    table = "keyed"
    output_mode = "append"

    def setup(self) -> dict:
        t = np.load(os.path.join(self.ctx.data, "truth.npz"))
        self.probes, self.exact, self.per_key = t["probes"], t["exact"], t["per_key"]
        return super().setup()

    def query(self):
        return stateful.running_cms_estimates(
            self.src, "k", "user_id", self.probes.tolist(),
            eps=self.z["eps"], confidence=self.z["confidence"],
        )

    def read(self, sink):
        return sink.toPandas()

    def verify(self, pdf):
        # estimates only grow, so a key's last emission is its largest
        final = pdf.groupby(["key", "probe_id"])["cms_est"].max()
        est = np.full(self.exact.shape, -1, dtype=np.int64)
        col = {int(p): j for j, p in enumerate(self.probes)}
        for (k, p), v in final.items():
            est[int(k), col[int(p)]] = v
        return checks.cms_checks(est, self.exact, self.z["eps"] * self.per_key[:, None],
                                 self.z["confidence"])

    def layer_probes(self, keys) -> tuple[dict, list]:
        """The micro-batch floor with no Python in the path: two
        ``StreamFloor`` ops (the first warms up) on the floor stream
        generated for this seed. Its runner and state-store figures are
        the ``floor.*`` metrics."""
        fctx = _probe_ctx(self.ctx, "stream_floor")
        floor = StreamFloor(fctx)
        floor.setup()
        ops = [floor.op(-100), floor.op(-101)]
        layer = ops[-1].layer
        out = {name: layer.get(k, 0.0) for k, name in FLOOR_METRICS.items()}
        return out, ops


class StreamFloor(_Stream):
    """Many ~1k-row micro-batches through a JVM-only windowed
    ``count_min_sketch`` aggregation in complete mode (the
    stream_windowed_cms_freq composition): the per-batch fixed cost."""

    table = "events"
    output_mode = "complete"

    def setup(self) -> dict:
        spark = self.ctx.spark
        t = np.load(os.path.join(self.ctx.data, "truth.npz"))
        types = np.unique(t["event_type"])
        # the build hashes string keys JVM-side; probe with the same hash
        rows = (
            spark.createDataFrame([(str(s),) for s in types], "event_type string")
            .select("event_type", F.xxhash64("event_type").alias("h"))
            .collect()
        )
        hashed = {r["event_type"]: r["h"] for r in rows}
        self.hashes = np.array([hashed[str(s)] for s in types], dtype=np.int64)
        self.windows = np.unique(t["window_us"])
        self.exact = np.zeros((len(self.windows), len(types)), dtype=np.int64)
        self.exact[np.searchsorted(self.windows, t["window_us"]),
                   np.searchsorted(types, t["event_type"])] = t["count"]
        return super().setup()

    def query(self):
        src = self.src
        return (
            src.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", f"{self.z['window_h']} hours"))
            .agg(cms_agg(src, "event_type", self.z["eps"], self.z["confidence"], 42).alias("sketch"))
        )

    def read(self, sink):
        return sink.select(F.unix_micros(F.col("window.start")).alias("w"), "sketch").collect()

    def verify(self, rows):
        got = {}
        est = np.zeros_like(self.exact)
        for r in rows:
            table = CountMinSketchTable.from_bytes(bytes(r["sketch"]))
            got[int(r["w"])] = table.total_count
            j = np.searchsorted(self.windows, r["w"])
            if j < len(self.windows) and self.windows[j] == r["w"]:
                est[j] = table.estimate_longs(self.hashes)
        totals = dict(zip(self.windows.tolist(), self.exact.sum(axis=1).tolist()))
        cks = checks.window_count_checks(got, totals)
        c2, stats = checks.cms_checks(est, self.exact, self.z["eps"] * self.exact.sum(axis=1)[:, None],
                                      self.z["confidence"])
        return cks + c2, stats


class BatchSketchProbe:
    """JVM sketch builds (``cms_build``, ``bloom_build``) and their
    Arrow/numpy probes (``exact_vs_approx``, a ``bloom_might_contain`` gate
    over every row, and a labelled member/absent probe)."""

    table = "keys"

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.z = ctx.sizes

    def setup(self) -> dict:
        spark, d = self.ctx.spark, self.ctx.data
        t = np.load(os.path.join(d, "truth.npz"))
        self.truth = {k: t[k] for k in t.files}
        self.keys = load(spark, d, "keys")
        self.members = load(spark, d, "members")
        self.labelled = load(spark, d, "labelled")
        return {}

    def op(self, i: int) -> OpResult:
        z, spans, tr = self.z, self.ctx.spans, self.truth
        t0 = time.perf_counter()
        with spans.span("functions.cms.cms_build"):
            cms_bytes = cms_build(self.keys, "k", z["eps"], z["confidence"], 42)
        with spans.span("functions.cms.exact_vs_approx"):
            rep = exact_vs_approx(self.keys, "k", z["eps"], z["confidence"], 42)
            rep = rep.select("k", "exact_cnt", "cms_est").toPandas()
        with spans.span("functions.bloom.bloom_build"):
            bloom_bytes = bloom_build(self.members, "k", int(tr["members"]), z["fpp"])
        with spans.span("functions.bloom.bloom_might_contain"):
            gate = bloom_might_contain(self.keys, "k", bloom_bytes).agg(
                F.sum(F.col("might_contain").cast("long")).alias("n")
            ).collect()[0]["n"]
            lab = {
                r["member"]: (r["hits"], r["n"])
                for r in bloom_might_contain(self.labelled, "k", bloom_bytes)
                .groupBy("member")
                .agg(F.sum(F.col("might_contain").cast("long")).alias("hits"), F.count("*").alias("n"))
                .collect()
            }
        seconds = time.perf_counter() - t0

        rep = rep.sort_values("k")
        keys = rep["k"].to_numpy(np.int64)
        j = np.searchsorted(keys, tr["probe_keys"]).clip(0, len(keys) - 1)
        found = keys[j] == tr["probe_keys"]
        cks = [checks.check("cms.exact_side", found.all() and
                             (rep["exact_cnt"].to_numpy()[j] == tr["probe_exact"]).all(),
                             f"{int(found.sum())} of {len(found)} probe keys with exact counts")]
        c2, stats = checks.cms_checks(rep["cms_est"].to_numpy()[j], tr["probe_exact"],
                                      z["eps"] * z["rows"], z["confidence"])
        m_hits, m_n = lab.get(True, (0, 0))
        a_hits, a_n = lab.get(False, (0, 0))
        c3, s3 = checks.bloom_checks(m_hits, m_n, a_hits, a_n, z["fpp"])
        if m_n != tr["members"] or a_n != tr["absent"]:
            c3.append(checks.check("bloom.probe_rows", False, f"{m_n}/{a_n} labelled rows read"))
        c4 = checks.gate_checks(int(gate or 0), int(tr["rows_member"]), z["rows"])
        stats.update(s3)
        self._last = (cms_bytes, bloom_bytes)
        return OpResult(
            rows=int(z["rows"]), seconds=seconds, batch_ms=[seconds * 1e3],
            state_bytes=float(len(cms_bytes) + len(bloom_bytes)),
            checks=cks + c2 + c3 + c4, stats=stats,
        )

    def layer_probes(self, keys) -> tuple[dict, list]:
        """Primitive microbenchmarks on the sketches the last op built, and
        the ``operators.dedup`` layer, which no gated workload calls: two
        ``minhash_lsh_pairs`` ops (the first warms up) over the near-dup
        corpus generated for this seed."""
        cms_bytes, bloom_bytes = self._last
        out = tracing.micro_cms_table(cms_bytes, keys)
        out.update(tracing.micro_bloom(bloom_bytes, keys))
        dedup = BatchNearDedup(_probe_ctx(self.ctx, "batch_near_dedup"))
        dedup.setup()
        ops = [dedup.op(0), dedup.op(1)]
        out.update(ops[-1].layer)
        return out, ops


class BatchNearDedup:
    """MinHash-LSH near-duplicate pairs (``operators.dedup.minhash_lsh_pairs``)
    over generated documents with planted near-duplicates."""

    table = "docs"

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.z = ctx.sizes

    def setup(self) -> dict:
        d = self.ctx.data
        self.docs = load(self.ctx.spark, d, "docs")
        self.texts = pq.read_table(os.path.join(d, "docs.parquet")).column("text").to_pylist()
        self.planted = np.load(os.path.join(d, "truth.npz"))["planted"]
        return {}

    def op(self, i: int) -> OpResult:
        spans, thr = self.ctx.spans, self.z["threshold"]
        known = len(session._TMP_SNAPSHOT_DIRS)
        t0 = time.perf_counter()
        with spans.span("operators.dedup.minhash_lsh_pairs"):
            pairs = minhash_lsh_pairs(self.docs, "doc_id", "text", threshold=thr)
        t1 = time.perf_counter()
        with spans.span("dedup.action"):
            pdf = pairs.toPandas()
        seconds = time.perf_counter() - t0
        snap = sum(
            os.path.getsize(os.path.join(r, f))
            for d in session._TMP_SNAPSHOT_DIRS[known:]  # this op's snapshots
            for r, _, fs in os.walk(d)
            for f in fs
        )
        cks, stats = checks.dedup_checks(
            pdf[["doc_a", "doc_b"]].to_numpy(), pdf["jaccard"].to_numpy(), self.texts, self.planted, thr
        )
        layer = {
            "dedup.call_s": t1 - t0, "dedup.action_s": seconds - (t1 - t0),
            "dedup.snapshot_bytes": float(snap), "dedup.pairs_out": float(len(pdf)),
        }
        return OpResult(
            rows=int(self.z["docs"]), seconds=seconds, batch_ms=[seconds * 1e3],
            state_bytes=float(snap), checks=cks, stats=stats, layer=layer,
        )

    def layer_probes(self, keys) -> tuple[dict, list]:
        return {}, []


WORKLOADS = {
    "stream_keyed_sketch": StreamKeyedSketch,
    "stream_floor": StreamFloor,
    "batch_sketch_probe": BatchSketchProbe,
    "batch_near_dedup": BatchNearDedup,
}
