"""SparkSession factory with engine defaults.

Used by tests and bench. The driver harness passes its own session into
``queries()`` callables, so every query must also work on a vanilla session;
this factory only encodes the *preferred* configuration (AQE, Arrow,
right-sized shuffle partitions).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "bfcms-engine") -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Scale notes (100 TB mandate): on a real cluster the same config applies
    except ``master`` comes from the environment and shuffle partitions
    should be ~2-3x total cores; AQE coalesces them back down at runtime, so
    oversizing is safe while undersizing causes spill.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        # AQE: runtime partition coalescing + skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Shuffle sizing for local[32]; AQE coalesces small stages.
        .config("spark.sql.shuffle.partitions", cpus)
        # Arrow for every JVM<->Python columnar hop (toPandas, pandas_udf).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamp rendering regardless of host TZ.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
    )
    return builder.getOrCreate()


import atexit
import shutil
import tempfile
from contextlib import contextmanager

# Per-invocation stage-snapshot dirs (guide §3.3 lineage truncation: a
# multiply-referenced intermediate written once to tmp parquet so every
# consumer subtree is a cheap scan with real file statistics). The returned
# query plan lazily scans its snapshot, so the writing operator can never
# delete it synchronously; r13 leaked these dirs (ADVICE r13 #2). Every
# snapshot now registers here and the sweep harnesses (bench.py,
# tools/check_oracle.py, tools/retime.py) release between queries, with an
# atexit sweep catching one-shot sessions.
_TMP_SNAPSHOT_DIRS: list[str] = []


def tmp_snapshot_dir(prefix: str = "bfcms_snap_", dir: str | None = None) -> str:
    """A fresh tmp dir for a stage snapshot, registered for deferred cleanup.

    Written FRESH inside the calling query on every invocation — never keyed
    on input paths, never reused across runs (reuse would be result caching,
    which the bench contract forbids). Callers write parquet under the
    returned dir and return a plan scanning it; release_tmp_snapshots()
    reclaims the dirs once the consuming action is done.
    """
    d = tempfile.mkdtemp(prefix=prefix, dir=dir)
    _TMP_SNAPSHOT_DIRS.append(d)
    return d


# Streaming checkpoint dirs (streaming/runner._ephemeral_ckpt) are swept by
# GLOB over this process's own prefix: the pid in the name is the owner, so
# a concurrently running session's live checkpoints (or a test's
# hand-made bfcms_ckpt_md_* dir) never match, whatever their mtime.
_CKPT_GLOB_ROOTS = ["/dev/shm", tempfile.gettempdir()]

# Query names of run_available_now memory sinks. Each sink stays a temp
# view, holding its rows on the driver, until release drops it.
_SINK_VIEWS: list[str] = []


def ckpt_prefix() -> str:
    """mkdtemp prefix of this process's streaming checkpoint dirs."""
    return f"bfcms_ckpt_{os.getpid()}_"


def register_sink_view(name: str) -> None:
    """Mark a memory-sink temp view for release_tmp_snapshots to drop."""
    _SINK_VIEWS.append(name)


def _drop_sink_views() -> None:
    """Drop every registered sink view through the active session; a no-op
    without one (never started, or stopped: the views died with it). A
    view the caller already dropped is skipped by dropTempView."""
    spark = SparkSession.getActiveSession()
    while _SINK_VIEWS:
        name = _SINK_VIEWS.pop()
        if spark is not None:
            spark.catalog.dropTempView(name)


def _release_dirs() -> None:
    while _TMP_SNAPSHOT_DIRS:
        shutil.rmtree(_TMP_SNAPSHOT_DIRS.pop(), ignore_errors=True)
    import glob

    for root in _CKPT_GLOB_ROOTS:
        for d in glob.glob(os.path.join(root, ckpt_prefix() + "*")):
            shutil.rmtree(d, ignore_errors=True)


def release_tmp_snapshots() -> None:
    """Delete every registered snapshot dir (call AFTER the query's action:
    the lazily returned plan references the snapshot until materialized),
    this process's ephemeral streaming-checkpoint dirs, and the registered
    memory-sink views."""
    _drop_sink_views()
    _release_dirs()


# The interpreter-exit sweep touches files only: by then the JVM may be
# gone, and its temp views with it.
atexit.register(_release_dirs)


@contextmanager
def checkpoint_scope(spark: SparkSession):
    """Unpersist every RDD persisted inside the scope on exit.

    ``df.localCheckpoint(eager=True)`` persists the checkpointed RDD in
    executor storage for the REST OF THE SESSION (there is no DataFrame
    API to release it), so a query that checkpoints a bounded intermediate
    leaks it into every later query of a bench/correctness sweep. Wrap the
    checkpoint-and-consume region in this scope and materialize the result
    (collect a bounded report, or write at rest) BEFORE the scope closes —
    the lazily returned plan must not reference the checkpoint afterward.

    Diffing getPersistentRDDs before/after scopes the unpersist to RDDs
    created inside (queries run serially in every harness here, so the
    diff cannot catch another query's cache)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    before = {int(k) for k in jmap.keySet().toArray()}
    try:
        yield
    finally:
        jafter = spark.sparkContext._jsc.getPersistentRDDs()
        for k in jafter.keySet().toArray():
            if int(k) not in before:
                jafter.get(k).unpersist()
