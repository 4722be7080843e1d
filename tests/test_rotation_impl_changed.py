"""Rotation must re-check rewritten implementations (VERDICT r13 #1).

The driver hash-checks only the first 50 registry entries per round. The
r13 verdict found the blind spot: a query REWRITTEN after its last driver
check kept its "recently checked" rank and the new code went unverified for
rounds. plans/implfp.py fingerprints each query's implementation at function
granularity (registering function + transitively referenced package defs)
and compares against the tree at the query's last-checked round commit;
_apply_priority_order boosts changed queries into the next prefix.

These tests pin: (a) the fingerprint is function-granular (editing an
UNRELATED function in the same module does not mark a query as touched,
editing a transitive dep does), (b) touched queries enter the prefix ahead
of the staleness cycle, (c) the never-checked freshness floor survives a
rewrite-heavy round.
"""

from __future__ import annotations

import os

from bloom_filters_count_min_sketch_spark_streaming_spark.plans import implfp, registry


class _FakeTree(implfp.TreeReader):
    def __init__(self, files: dict[str, str]) -> None:
        super().__init__(commit=None)
        self._files = files

    def read(self, rel: str) -> str | None:  # type: ignore[override]
        return self._files.get(rel)


PKG = implfp.PKG
PLANS = f"{PKG}/plans/fakeplans.py"
OPS = f"{PKG}/operators/fakeops.py"

PLANS_SRC = '''
from bloom_filters_count_min_sketch_spark_streaming_spark.operators import fakeops

def my_query(spark, sf_dir):
    return fakeops.transform(spark, 3)

def other_query(spark, sf_dir):
    return spark.range(1)
'''

OPS_SRC = '''
CONST = 7

def helper(x):
    return x + CONST

def transform(spark, n):
    return helper(n)

def unrelated(spark):
    return 42
'''


def test_fingerprint_function_granular() -> None:
    base = _FakeTree({PLANS: PLANS_SRC, OPS: OPS_SRC})
    fp0 = implfp.fingerprint(base, PLANS, "my_query")
    assert fp0 is not None

    # Editing an UNRELATED function in the operators module: no change.
    edited_unrelated = _FakeTree(
        {PLANS: PLANS_SRC, OPS: OPS_SRC.replace("return 42", "return 43")}
    )
    assert implfp.fingerprint(edited_unrelated, PLANS, "my_query") == fp0

    # Editing a transitively referenced helper: fingerprint shifts.
    edited_helper = _FakeTree(
        {PLANS: PLANS_SRC, OPS: OPS_SRC.replace("x + CONST", "x * CONST")}
    )
    assert implfp.fingerprint(edited_helper, PLANS, "my_query") != fp0

    # Editing a referenced module-level CONSTANT: fingerprint shifts.
    edited_const = _FakeTree(
        {PLANS: PLANS_SRC, OPS: OPS_SRC.replace("CONST = 7", "CONST = 8")}
    )
    assert implfp.fingerprint(edited_const, PLANS, "my_query") != fp0

    # Editing a different query in the same plans module: no change.
    edited_other = _FakeTree(
        {PLANS: PLANS_SRC.replace("spark.range(1)", "spark.range(2)"), OPS: OPS_SRC}
    )
    assert implfp.fingerprint(edited_other, PLANS, "my_query") == fp0


def test_fingerprint_decorators_hash_but_do_not_pull_registry() -> None:
    """Decorator TEXT (oracle SQL) is part of the fingerprint, but the
    registration plumbing behind the decorator name is not traversed —
    otherwise a registry.query() signature change would mark every query
    in the repo as touched (measured in r14: 271/385)."""
    deco_src = (
        "from bloom_filters_count_min_sketch_spark_streaming_spark.plans.registry"
        " import query\n\n"
        '@query("q", oracle="SELECT 1 AS x")\n'
        "def my_query(spark, sf_dir):\n"
        "    return spark.range(1)\n"
    )
    tree = _FakeTree({PLANS: deco_src})
    fp0 = implfp.fingerprint(tree, PLANS, "my_query")
    items_rel = {PLANS}
    # registry.py must not appear in the closure: same fingerprint whether
    # or not registry.py is readable at all.
    tree2 = _FakeTree({PLANS: deco_src, f"{PKG}/plans/registry.py": "BROKEN ("})
    assert implfp.fingerprint(tree2, PLANS, "my_query") == fp0, items_rel
    # ...but changing the oracle text in the decorator DOES shift it.
    tree3 = _FakeTree({PLANS: deco_src.replace("SELECT 1", "SELECT 2")})
    assert implfp.fingerprint(tree3, PLANS, "my_query") != fp0


def test_touched_queries_enter_prefix(monkeypatch) -> None:
    """A query whose implementation changed since its last driver check
    must appear in the driver's 50-entry prefix next round, ahead of the
    staleness rotation."""
    registry.load_all_query_modules()
    checked = registry.driver_checked_rounds()
    # pick a MID-RECENCY checked, non-pinned, oracle-backed query that the
    # plain staleness rotation would NOT select (there are never-checked
    # queries remaining, so any checked query is normally excluded)
    never = [n for n in registry.QUERIES if n in registry.ORACLES and n not in checked]
    if not never:
        return  # staleness alone would already pick checked queries
    victims = [
        n
        for n in registry.QUERIES
        if n in registry.ORACLES
        and n in checked
        and n not in registry.active_pins()
        and checked[n] == max(checked.values())
    ]
    assert victims, "no checked non-pinned oracle-backed query to test with"
    victim = victims[0]

    real_info = implfp.rotation_change_info

    def fake_info(query_fns, chk):
        out = real_info(query_fns, chk)
        if victim in out:
            out[victim] = (implfp.CHANGED_THIS_ROUND, True)
        return out

    monkeypatch.setattr(implfp, "rotation_change_info", fake_info)
    registry._apply_priority_order()
    try:
        prefix = list(registry.QUERIES)[:50]
        assert victim in prefix, (
            f"rewritten query {victim} (checked r{checked[victim]}) did not "
            "re-enter the driver prefix"
        )
        # freshness floor: never-checked queries still hold slots
        fresh = [n for n in prefix if n not in checked]
        assert len(fresh) >= min(registry._MIN_FRESH, len(never))
    finally:
        monkeypatch.undo()
        registry._apply_priority_order()


def test_changed_defs_names_the_edited_defs(monkeypatch) -> None:
    """changed_defs reports WHICH closure defs differ from a round's tree:
    the edited helper only, not the unrelated function or the caller."""
    from types import SimpleNamespace

    edited = OPS_SRC.replace("x + CONST", "x * CONST").replace("return 42", "return 43")
    trees = {
        None: _FakeTree({PLANS: PLANS_SRC, OPS: edited}),
        "c13": _FakeTree({PLANS: PLANS_SRC, OPS: OPS_SRC}),
    }
    monkeypatch.setattr(implfp, "_round_commit", {13: "c13"}.get)
    monkeypatch.setattr(implfp, "_tree_for", trees.__getitem__)
    path = os.path.join(implfp._repo_root(), PLANS)

    def fn(name: str) -> SimpleNamespace:
        return SimpleNamespace(__code__=SimpleNamespace(co_filename=path), __name__=name)

    assert implfp.changed_defs(fn("my_query"), 13) == {(OPS, "helper")}
    assert implfp.changed_defs(fn("other_query"), 13) == frozenset()
    assert implfp.changed_defs(fn("my_query"), 12) == frozenset()  # no commit


def test_shared_change_does_not_crowd_out_rewrite(monkeypatch) -> None:
    """One helper edit shared by more checked queries than the prefix holds
    must not push a separate rewrite out of the next window: distinct
    changes take turns, each entering with its stalest dependent."""
    registry.load_all_query_modules()
    checked = registry.driver_checked_rounds()
    never = [n for n in registry.QUERIES if n in registry.ORACLES and n not in checked]
    victim = next(
        n
        for n in registry.QUERIES
        if n in registry.ORACLES
        and n in checked
        and n not in registry.active_pins()
        and checked[n] == max(checked.values())
    )
    shared = frozenset({(f"{PKG}/streaming/runner.py", "run_available_now")})

    def flood_info(query_fns, chk):
        return {
            n: ((implfp.CHANGED_THIS_ROUND, True) if n in chk else (implfp.CHANGED_OLDER, False))
            for n in query_fns
        }

    def fake_defs(fn, rnd):
        return frozenset({(PLANS, victim)}) if fn is registry.QUERIES[victim] else shared

    monkeypatch.setattr(implfp, "rotation_change_info", flood_info)
    monkeypatch.setattr(implfp, "changed_defs", fake_defs)
    registry._apply_priority_order()
    try:
        prefix = list(registry.QUERIES)[:50]
        assert victim in prefix
        fresh = [n for n in prefix if n not in checked]
        assert len(fresh) >= min(registry._MIN_FRESH, len(never))
    finally:
        monkeypatch.undo()
        registry._apply_priority_order()


def test_freshness_floor_under_rewrite_flood(monkeypatch) -> None:
    """Even if EVERY checked query reads as rewritten-this-round, the
    prefix keeps >= _MIN_FRESH never-checked entries so the fresh tail
    drains."""
    registry.load_all_query_modules()
    checked = registry.driver_checked_rounds()
    never = [n for n in registry.QUERIES if n in registry.ORACLES and n not in checked]
    if not never:
        return

    def flood_info(query_fns, chk):
        return {
            n: ((implfp.CHANGED_THIS_ROUND, True) if n in chk else (implfp.CHANGED_OLDER, False))
            for n in query_fns
        }

    monkeypatch.setattr(implfp, "rotation_change_info", flood_info)
    registry._apply_priority_order()
    try:
        prefix = list(registry.QUERIES)[:50]
        fresh = [n for n in prefix if n not in checked]
        assert len(fresh) >= min(registry._MIN_FRESH, len(never))
    finally:
        monkeypatch.undo()
        registry._apply_priority_order()


def test_r13_rewrites_rotate_into_r14_window() -> None:
    """The concrete verdict deliverable: every r13-rewritten query named in
    VERDICT r13 #1 must be inside the driver's next hash window (as long as
    no CORRECTNESS_r14 record exists yet; once the driver checks them the
    boost self-clears because fingerprints then match the checked round)."""
    registry.load_all_query_modules()
    checked = registry.driver_checked_rounds()
    if max(checked.values(), default=0) > 13:
        return  # post-r14: the window legitimately moves on
    prefix = list(registry.QUERIES)[:50]
    for name in (
        "pagerank_nation_trade",
        "hits_trade_hubs",
        "lpa_trade_communities",
        "textrank_keywords",
        "bootstrap_mean_ci",
        "cer_generation_eval",
        "voptimal_saturated_exact",
        "dedup_keep_best_quality",
    ):
        assert name in prefix, f"r13 rewrite {name} missing from the r14 window"


def test_rotation_info_degrades_without_git(monkeypatch) -> None:
    """No git / no round commits -> everything reads unchanged and the
    rotation falls back to staleness ranking (no exception, no flood)."""
    monkeypatch.setattr(implfp, "_round_commit", lambda rnd: None)
    implfp._tree_for.cache_clear()
    registry.load_all_query_modules()
    info = implfp.rotation_change_info(
        dict(list(registry.QUERIES.items())[:5]), registry.driver_checked_rounds()
    )
    assert all(v == (implfp.CHANGED_OLDER, False) for v in info.values())
    monkeypatch.undo()
    implfp._tree_for.cache_clear()
    registry._apply_priority_order()


def test_rotation_info_falls_back_per_query_when_latest_round_unresolvable(
    monkeypatch,
) -> None:
    """While the newest round's correctness record is uncommitted its commit
    cannot be resolved; each query must still be compared against the tree
    of the round that last checked IT, so a rewrite since then is caught."""
    from types import SimpleNamespace

    current = _FakeTree({PLANS: PLANS_SRC, OPS: OPS_SRC})
    trees = {
        None: current,
        "c12": current,
        "c13": _FakeTree({PLANS: PLANS_SRC, OPS: OPS_SRC.replace("x + CONST", "x * CONST")}),
    }
    commits = {12: "c12", 13: "c13", 14: None}
    monkeypatch.setattr(implfp, "_round_commit", commits.get)
    monkeypatch.setattr(implfp, "_tree_for", trees.__getitem__)

    def fn(name: str) -> SimpleNamespace:
        path = os.path.join(implfp._repo_root(), PLANS)
        return SimpleNamespace(__code__=SimpleNamespace(co_filename=path), __name__=name)

    info = implfp.rotation_change_info(
        {
            "rewritten": fn("my_query"),
            "stable": fn("other_query"),
            "same_at_r12": fn("my_query"),
            "checked_latest": fn("my_query"),
            "never": fn("my_query"),
        },
        {"rewritten": 13, "stable": 13, "same_at_r12": 12, "checked_latest": 14},
    )
    assert info == {
        "rewritten": (implfp.CHANGED_OLDER, True),
        "stable": (implfp.CHANGED_OLDER, False),
        "same_at_r12": (implfp.CHANGED_OLDER, False),
        "checked_latest": (implfp.CHANGED_OLDER, False),
        "never": (implfp.CHANGED_OLDER, False),
    }
