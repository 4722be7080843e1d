"""Output checks against the generator's ground truth.

Each function takes the engine's output (as numpy arrays) and the truth,
and returns ``(checks, stats)``: ``checks`` is a list of ``(name, ok,
detail)`` and every failed check counts as one failed operation; ``stats``
holds the accuracy figures the record reports. Nothing here imports
pyspark, so ``selftest.py`` can prove each check fails on a corrupted
output without a session.
"""

from __future__ import annotations

import math

import numpy as np


def check(name: str, ok: bool, detail: str) -> tuple[str, bool, str]:
    return (name, bool(ok), detail)


def cms_checks(est: np.ndarray, exact: np.ndarray, eps_n: np.ndarray, confidence: float):
    """A Count-Min Sketch never underestimates, and overestimates by more
    than eps*N for at most a (1 - confidence) share of the probed keys
    (Cormode & Muthukrishnan 2005). ``eps_n`` broadcasts against ``est``."""
    est = np.asarray(est, dtype=np.int64)
    exact = np.asarray(exact, dtype=np.int64)
    over = est - exact
    eps_n = np.broadcast_to(np.asarray(eps_n, dtype=np.float64), over.shape)
    within = float(np.mean(over <= eps_n)) if over.size else 0.0
    checks = [
        check("cms.probed", over.size > 0, f"{over.size} probes"),
        check("cms.no_underestimate", over.size and over.min() >= 0,
               f"min overestimate {over.min() if over.size else 'n/a'}"),
        check("cms.within_eps_n", within >= confidence,
               f"{within:.4f} of probes within eps*N (need >= {confidence})"),
    ]
    stats = {"cms_err_ratio": float(np.mean(over / eps_n)) if over.size else math.nan,
             "cms_within_share": within}
    return checks, stats


def bloom_checks(member_hits: int, members: int, absent_hits: int, absent: int, fpp: float):
    """No false negatives on inserted keys; the false-positive rate on keys
    known to be absent stays within the configured fpp plus four binomial
    standard deviations."""
    fpr = absent_hits / absent if absent else math.nan
    limit = fpp + 4.0 * math.sqrt(fpp * (1.0 - fpp) / max(absent, 1))
    checks = [
        check("bloom.no_false_negative", members > 0 and member_hits == members,
               f"{members - member_hits} of {members} members missed"),
        check("bloom.fpr_within_fpp", absent > 0 and fpr <= limit,
               f"fpr {fpr:.5f} on {absent} absent keys (limit {limit:.5f})"),
    ]
    return checks, {"bloom_fpr": fpr}


def gate_checks(passed_rows: int, member_rows: int, total_rows: int):
    """The Bloom gate over every row keeps every member row (a superset
    gate) and cannot keep more rows than exist."""
    return [check("bloom.gate_superset", member_rows <= passed_rows <= total_rows,
                   f"gate passed {passed_rows}, member rows {member_rows}, rows {total_rows}")]


def window_count_checks(got: dict, exact: dict):
    """Each window's sketch total equals the window's exact event count."""
    bad = [w for w in exact if got.get(w) != exact[w]]
    extra = sorted(set(got) - set(exact))
    return [check("floor.window_totals", not bad and not extra,
                   f"{len(bad)} of {len(exact)} windows differ, {len(extra)} unexpected")]


def shingles(text: str, n: int = 3) -> set[str]:
    """The engine's shingle definition: lowercased whitespace tokens (empty
    ones dropped), every run of n consecutive tokens joined by one space."""
    toks = [w for w in text.lower().split(" ") if w]
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def dedup_checks(pairs: np.ndarray, reported_j: np.ndarray, texts: list[str],
                 planted: np.ndarray, threshold: float):
    """Every reported pair is a real near-duplicate (exact Jaccard at or above
    the threshold, equal to the reported value) and every planted pair whose
    exact Jaccard reaches the threshold is reported."""
    pairs = np.asarray(pairs, dtype=np.int64).reshape(-1, 2)
    cache: dict[int, set] = {}

    def sh(i: int) -> set:
        if i not in cache:
            cache[i] = shingles(texts[i])
        return cache[i]

    exact_j = np.array([jaccard(sh(a), sh(b)) for a, b in pairs], dtype=np.float64)
    below = int((exact_j < threshold).sum())
    mismatch = int((np.abs(exact_j - np.asarray(reported_j, dtype=np.float64)) > 1e-9).sum())
    found = {(int(a), int(b)) for a, b in pairs}
    due = [(int(a), int(b)) for a, b in planted if jaccard(sh(a), sh(b)) >= threshold]
    hit = sum(p in found for p in due)
    recall = hit / len(planted) if len(planted) else math.nan
    checks = [
        check("dedup.pairs_above_threshold", below == 0, f"{below} of {len(pairs)} below {threshold}"),
        check("dedup.jaccard_exact", mismatch == 0, f"{mismatch} reported values differ"),
        check("dedup.planted_found", len(due) > 0 and hit == len(due),
               f"{hit} of {len(due)} qualifying planted pairs found"),
    ]
    return checks, {"pairs_recall": recall, "pairs_out": len(pairs)}
