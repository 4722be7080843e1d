"""Query registry.

Every operator the engine claims (SURVEY.md §2) is exposed as a named query:
a callable ``(spark, sf_dir) -> DataFrame`` plus, where ANSI-SQL can express
the same computation, a DuckDB oracle SQL string. The driver harness compares
the two at sf0.01 (row count + schema + order-insensitive value hash), so:

- alias every computed column identically in both
- keep results deterministic (explicit seeds, explicit tie-breaks)
- round floating aggregates so cross-engine summation order can't flip bits
"""

from __future__ import annotations

import glob
import importlib
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Witness ledger (machine-readable, VERDICT r10 #6): every rows-only query
# (no DuckDB oracle) must either name the hash-checked exactness WITNESS that
# covers its code path in a degenerate-exact regime, or carry a documented
# impossibility reason. tests/test_witness_ledger.py walks these, so a new
# rows-only query without a marker fails CI instead of silently eroding the
# closed witness program.
WITNESSES: dict[str, str] = {}
NO_WITNESS_REASONS: dict[str, str] = {}

# The driver harness hash-checks only the FIRST 50 registry entries per round,
# so the prefix is rotated PROGRAMMATICALLY (VERDICT r5 item 6): a small pinned
# identity core stays first every round, and the remaining prefix slots are
# filled with oracle-backed queries that have never appeared in any recorded
# driver CORRECTNESS round (registration order, deterministic). Each driver
# round therefore expands driver-green coverage instead of re-proving a fixed
# 50; once every oracle-backed query has been driver-checked at least once,
# the prefix refills with the LEAST-RECENTLY-checked ones.
_DRIVER_PREFIX = 50

# Always-first identity queries: the probabilistic sketches the reference is
# named for, the relational flagships, and one representative each of the
# streaming-stateful and LLM-pipeline families. Kept small so ~37 prefix
# slots per round go to never-driver-checked queries.
_PINS = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "bloom_membership",
    "bloom_prefilter_join_counts",
    "cms_event_type_freq",
    "heavy_hitters_approx",
    "counting_bloom_delete_membership",
    "stream_windowed_counts",
    "stream_stateful_cms_per_key",
    # multi-batch replay canary: 4-batch state-trajectory fold stays under
    # the driver's hash gate every round (r11 verdict #6)
    "stream_4batch_replay_trajectory",
    "stream_minhash_lsh_dedup",
    "dedup_minhash_lsh_pairs",
    "knn_cosine_bruteforce",
]

# Pin retirement (r12 verdict #7): once the never-driver-checked tail drains
# (~r15 at 37 fresh checks/round), re-proving all 14 pins every round wastes
# slots the least-recently-checked tail could use. Pins listed here DEMOTE to
# ordinary rotation members — automatically, computed from the committed
# CORRECTNESS records, never hand-toggled — when BOTH hold:
#   (a) every oracle-backed registered query has at least one recorded
#       driver-green round (the never-checked tail is empty), and
#   (b) the pin itself has >= _PIN_RETIRE_MIN_GREEN_ROUNDS recorded green
#       rounds (it is long-proven, not newly added).
# Until then the prefix is bit-identical to the pre-retirement behavior.
# Kept pinned permanently: entry()'s flagship (q1), the 4-batch trajectory
# canary (multi-batch state semantics), and one representative per
# gate-critical family — Bloom membership, CMS frequency, stateful
# streaming, streaming + batch LSH dedup, ANN.
_PIN_RETIRE_ELIGIBLE = {
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "bloom_prefilter_join_counts",
    "heavy_hitters_approx",
    "counting_bloom_delete_membership",
    "stream_windowed_counts",
}
_PIN_RETIRE_MIN_GREEN_ROUNDS = 3


def _repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def driver_checked_rounds() -> dict[str, int]:
    """Map query name -> latest driver round number that checked it GREEN.

    Parsed from the committed CORRECTNESS_r*.json records at the repo root.
    A recorded FAILURE does not count as checked — a query that failed a
    driver round must rotate back into the prefix after its fix, not be
    hidden by the rotation. Changes only between rounds, so the derived
    prefix is stable for the duration of a round (the driver and the local
    gate see the same order).
    """
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(_repo_root(), "CORRECTNESS_r*.json"))):
        base = os.path.basename(path)
        try:
            rnd = int(base[len("CORRECTNESS_r") : -len(".json")])
            with open(path) as fh:
                records = json.load(fh)
        except (OSError, ValueError, json.JSONDecodeError):
            continue
        for n, rec in records.items():
            if isinstance(rec, dict) and (
                rec.get("err") is not None
                or rec.get("rows_match") is False
                or rec.get("schema_match") is False
                or rec.get("hash_match") is False
            ):
                continue  # failed check: stays eligible for rotation
            latest[n] = max(latest.get(n, 0), rnd)
    return latest


def driver_green_counts() -> dict[str, int]:
    """Map query name -> number of DISTINCT driver rounds that checked it
    green (same record parsing as driver_checked_rounds). Used by pin
    retirement: a pin demotes only once it is long-proven (>= 3 green
    rounds), so a freshly-added pin keeps its slot."""
    counts: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(_repo_root(), "CORRECTNESS_r*.json"))):
        base = os.path.basename(path)
        try:
            int(base[len("CORRECTNESS_r") : -len(".json")])
            with open(path) as fh:
                records = json.load(fh)
        except (OSError, ValueError, json.JSONDecodeError):
            continue
        for n, rec in records.items():
            if isinstance(rec, dict) and (
                rec.get("err") is not None
                or rec.get("rows_match") is False
                or rec.get("schema_match") is False
                or rec.get("hash_match") is False
            ):
                continue
            counts[n] = counts.get(n, 0) + 1
    return counts


def active_pins() -> list[str]:
    """The pins currently holding driver-prefix slots.

    Equal to _PINS (registered subset) while any oracle-backed query
    remains never-driver-checked; once that tail is empty, retire-eligible
    pins with >= _PIN_RETIRE_MIN_GREEN_ROUNDS recorded green rounds demote
    to ordinary rotation members (they are oracle-backed, so the
    least-recently-checked fill naturally re-proves them on a cycle).
    Deterministic: depends only on committed CORRECTNESS records and the
    loaded registry.
    """
    pins = [n for n in _PINS if n in QUERIES]
    checked = driver_checked_rounds()
    tail = [n for n in QUERIES if n in ORACLES and n not in checked]
    if tail:
        return pins
    counts = driver_green_counts()
    return [
        n
        for n in pins
        if n not in _PIN_RETIRE_ELIGIBLE
        or counts.get(n, 0) < _PIN_RETIRE_MIN_GREEN_ROUNDS
    ]

# Modules that register queries on import.
_QUERY_MODULES = [
    "bloom_filters_count_min_sketch_spark_streaming_spark.plans.relational",
    "bloom_filters_count_min_sketch_spark_streaming_spark.plans.relational_deep",
    "bloom_filters_count_min_sketch_spark_streaming_spark.plans.misc_queries",
    "bloom_filters_count_min_sketch_spark_streaming_spark.plans.semistructured_queries",
    "bloom_filters_count_min_sketch_spark_streaming_spark.plans.sketch_queries",
    "bloom_filters_count_min_sketch_spark_streaming_spark.plans.text_queries",
    "bloom_filters_count_min_sketch_spark_streaming_spark.plans.dedup_queries",
    "bloom_filters_count_min_sketch_spark_streaming_spark.plans.vector_queries",
    "bloom_filters_count_min_sketch_spark_streaming_spark.plans.streaming_queries",
    "bloom_filters_count_min_sketch_spark_streaming_spark.plans.pipeline_queries",
    "bloom_filters_count_min_sketch_spark_streaming_spark.plans.quality_queries",
    "bloom_filters_count_min_sketch_spark_streaming_spark.plans.graph_queries",
    "bloom_filters_count_min_sketch_spark_streaming_spark.plans.eval_queries",
]


def query(
    name: str,
    oracle: str | None = None,
    witness: str | None = None,
    no_witness_reason: str | None = None,
) -> Callable[[QueryFn], QueryFn]:
    """Register a named query, optionally with its DuckDB oracle SQL.

    Rows-only queries (``oracle=None``) MUST declare exactly one of:

    - ``witness``: the name of the oracle-backed exactness witness that runs
      the same code path in a regime where the approximation provably
      degenerates to exact (saturation / closed-form low-dim / identity);
    - ``no_witness_reason``: why no such regime exists (documented
      impossibility — e.g. a sampling estimator, or zlib with no SQL twin).

    Enforced by tests/test_witness_ledger.py against the live registry.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        if witness is not None:
            WITNESSES[name] = witness
        if no_witness_reason is not None:
            NO_WITNESS_REASONS[name] = no_witness_reason
        return fn

    return deco


def load_all_query_modules() -> None:
    for mod in _QUERY_MODULES:
        try:
            importlib.import_module(mod)
        except ModuleNotFoundError as exc:
            # Module not built yet (incremental construction); only swallow
            # the *registry module itself* being absent, not its deps.
            if exc.name != mod:
                raise
    _apply_priority_order()


# The committed freshness contract (tests/test_engine_features.py): the
# prefix must carry at least this many never-driver-checked queries while
# any remain, so the never-checked tail keeps draining even when a round
# rewrites many already-checked implementations.
_MIN_FRESH = 10


def _apply_priority_order() -> None:
    """Stable-reorder QUERIES/ORACLES: pins, then unverified-since-change
    oracle-backed queries (implementation changed after the query's last
    driver check, or never driver-checked at all — VERDICT r13 #1), then
    least-recently-checked, up to the driver's 50-entry prefix, then
    everything else in registration order.

    Unverified queries are bucketed by change recency (implfp: changed this
    round > changed last recorded round > older drift) so a rewrite enters
    the very next driver hash window instead of waiting out the staleness
    cycle; within a bucket never-checked queries sort before touched ones,
    and touched ones take turns by distinct change (implfp.changed_defs):
    each change's stalest dependent first, then each change's second, so a
    shared helper's edit spreads over rounds instead of filling the window.
    A floor of _MIN_FRESH never-checked entries is enforced so the fresh
    tail keeps draining regardless of how many rewrites a round makes.

    In-place (clear + update) so modules holding a reference to the dicts see
    the new iteration order. Deterministic within a round (depends only on
    committed CORRECTNESS files, git history, the working tree's module
    sources, and registration order) and idempotent.
    """
    from bloom_filters_count_min_sketch_spark_streaming_spark.plans import implfp

    checked = driver_checked_rounds()
    pins = active_pins()
    fill = max(0, _DRIVER_PREFIX - len(pins))
    candidates = [n for n in QUERIES if n not in pins and n in ORACLES]
    reg_index = {n: i for i, n in enumerate(QUERIES)}
    try:
        change = implfp.rotation_change_info(
            {n: QUERIES[n] for n in candidates}, checked
        )
        rewritten = sorted(
            (n for n, (_, t) in change.items() if t and n in checked),
            key=lambda n: (change[n][0], checked[n], reg_index[n]),
        )
        # Round-robin over distinct changes: the k-th stalest dependent of
        # a change gets rank k, so one shared helper's edit (every streaming
        # query after a runner change) cannot crowd a separate rewrite out
        # of the window. A query with no identifiable change set is its own.
        seen: dict[tuple, int] = {}
        rank: dict[str, int] = {}
        for n in rewritten:
            key = (change[n][0], implfp.changed_defs(QUERIES[n], checked[n]) or n)
            rank[n] = seen.get(key, 0)
            seen[key] = rank[n] + 1
    except Exception:  # pragma: no cover — git/parse failure must never
        # break query registration; degrade to pure staleness rotation.
        change, rank = {}, {}

    def sort_key(n: str) -> tuple:
        bucket, touched = change.get(n, (implfp.CHANGED_OLDER, False))
        never = n not in checked
        if never or touched:
            # unverified-since-change: recent changes first; never-checked
            # ahead of touched within a bucket; touched ranked round-robin
            # over distinct changes, then on staleness so the longest-
            # unverified rewrite re-enters first.
            return (
                0,
                bucket,
                1 if not never else 0,
                rank.get(n, 0),
                checked.get(n, 0),
                reg_index[n],
            )
        return (1, 0, 0, 0, checked[n], reg_index[n])

    candidates.sort(key=sort_key)
    head_fill = candidates[:fill]
    # Freshness floor: keep >= _MIN_FRESH never-checked entries in the fill
    # (capped by how many exist) by swapping out the lowest-priority
    # non-fresh entries for the highest-priority excluded fresh ones.
    never_all = [n for n in candidates if n not in checked]
    want_fresh = min(_MIN_FRESH, len(never_all))
    have_fresh = sum(1 for n in head_fill if n not in checked)
    if have_fresh < want_fresh:
        missing = [n for n in never_all if n not in head_fill]
        for n in missing[: want_fresh - have_fresh]:
            # drop the last non-fresh entry, insert the fresh one
            for i in range(len(head_fill) - 1, -1, -1):
                if head_fill[i] in checked:
                    head_fill.pop(i)
                    break
            head_fill.append(n)
    head = pins + head_fill
    for d in (QUERIES, ORACLES):
        ordered = {n: d[n] for n in head if n in d}
        ordered.update({n: v for n, v in d.items() if n not in ordered})
        d.clear()
        d.update(ordered)
