"""Self-test of the benchmark's own machinery; needs no Spark session.

    python3 perfbench/selftest.py

1. The generator is deterministic: the same seed gives byte-identical
   files, and another seed gives different ones.
2. Every output check passes on the generator's exact truth and fails on a
   deliberately corrupted copy of it.
3. BENCHMARK.json lists exactly the metrics run.py prints.

Exits 0 when all of it holds, 1 otherwise.
"""

from __future__ import annotations

import os
import sys
import tempfile

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(os.path.dirname(HERE), ".perfbench_work")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402


def _all_ok(cks) -> bool:
    return all(ok for _, ok, _ in cks)


def _fails(cks, name: str) -> bool:
    return any(n == name and not ok for n, ok, _ in cks)


def determinism(root: str) -> list[str]:
    errors = []
    for w in gen.SIZES:
        a = gen.content_hash(gen.generate(w, 7, os.path.join(root, "a")))
        b = gen.content_hash(gen.generate(w, 7, os.path.join(root, "b")))
        c = gen.content_hash(gen.generate(w, 8, os.path.join(root, "a")))
        if a != b:
            errors.append(f"{w}: seed 7 gave two different file hashes")
        if a == c:
            errors.append(f"{w}: seeds 7 and 8 gave the same file hash")
    return errors


def corrupted_outputs_fail(root: str) -> list[str]:
    errors = []

    def expect(label: str, cond: bool) -> None:
        if not cond:
            errors.append(label)

    # CMS: exact estimates pass; one underestimate, or overestimates beyond
    # eps*N on more than (1 - confidence) of the probes, fail
    t = np.load(os.path.join(gen.generate("stream_keyed_sketch", 7, root), "truth.npz"))
    z = gen.SIZES["stream_keyed_sketch"]
    exact, eps_n = t["exact"], z["eps"] * t["per_key"][:, None]
    expect("cms: exact estimates pass", _all_ok(checks.cms_checks(exact, exact, eps_n, z["confidence"])[0]))
    under = exact.copy()
    under[np.unravel_index(np.argmax(exact), exact.shape)] -= 1
    expect("cms: an underestimate fails",
           _fails(checks.cms_checks(under, exact, eps_n, z["confidence"])[0], "cms.no_underestimate"))
    over = exact + np.ceil(eps_n).astype(np.int64) + 1
    expect("cms: estimates beyond eps*N fail",
           _fails(checks.cms_checks(over, exact, eps_n, z["confidence"])[0], "cms.within_eps_n"))
    expect("cms: no probes fails",
           _fails(checks.cms_checks(exact[:0], exact[:0], 1.0, z["confidence"])[0], "cms.probed"))

    # Bloom: a missed member, or an FPR far above fpp, fails
    expect("bloom: clean passes", _all_ok(checks.bloom_checks(1000, 1000, 95, 10_000, 0.01)[0]))
    expect("bloom: a false negative fails",
           _fails(checks.bloom_checks(999, 1000, 95, 10_000, 0.01)[0], "bloom.no_false_negative"))
    expect("bloom: a high FPR fails",
           _fails(checks.bloom_checks(1000, 1000, 500, 10_000, 0.01)[0], "bloom.fpr_within_fpp"))
    expect("gate: superset passes", _all_ok(checks.gate_checks(600, 500, 1000)))
    expect("gate: dropping a member row fails", not _all_ok(checks.gate_checks(499, 500, 1000)))

    # window totals: exact passes, one count off fails
    t = np.load(os.path.join(gen.generate("stream_floor", 7, root), "truth.npz"))
    totals: dict[int, int] = {}
    for w, c in zip(t["window_us"].tolist(), t["count"].tolist()):
        totals[w] = totals.get(w, 0) + c
    expect("floor: exact totals pass", _all_ok(checks.window_count_checks(dict(totals), totals)))
    off = dict(totals)
    off[next(iter(off))] += 1
    expect("floor: a wrong window total fails", not _all_ok(checks.window_count_checks(off, totals)))

    # dedup: the planted pairs with their exact Jaccard pass; a pair below
    # the threshold, a wrong Jaccard value or a missing planted pair fails
    d = gen.generate("batch_near_dedup", 7, root)
    import pyarrow.parquet as pq

    texts = pq.read_table(os.path.join(d, "docs.parquet")).column("text").to_pylist()
    planted = np.load(os.path.join(d, "truth.npz"))["planted"]
    thr = gen.SIZES["batch_near_dedup"]["threshold"]
    js = np.array([checks.jaccard(checks.shingles(texts[a]), checks.shingles(texts[b])) for a, b in planted])
    keep = js >= thr
    good = planted[keep]
    expect("dedup: exact pairs pass", _all_ok(checks.dedup_checks(good, js[keep], texts, planted, thr)[0]))
    bad_pair = np.vstack([good, [[0, 2]]])
    bad_j = np.append(js[keep], checks.jaccard(checks.shingles(texts[0]), checks.shingles(texts[2])))
    expect("dedup: a pair below the threshold fails",
           _fails(checks.dedup_checks(bad_pair, bad_j, texts, planted, thr)[0], "dedup.pairs_above_threshold"))
    expect("dedup: a wrong Jaccard fails",
           _fails(checks.dedup_checks(good, js[keep] - 0.01, texts, planted, thr)[0], "dedup.jaccard_exact"))
    expect("dedup: a missing planted pair fails",
           _fails(checks.dedup_checks(good[1:], js[keep][1:], texts, planted, thr)[0], "dedup.planted_found"))
    return errors


def metric_lists() -> list[str]:
    """BENCHMARK.json names exactly the metrics run.py prints, with the
    same units."""
    import json

    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    errors = []
    for key, units in (("end_to_end", run.E2E_UNITS), ("per_layer", run.LAYER_UNITS)):
        listed = {m["name"]: m["unit"] for m in bench[key]}
        if listed != units:
            errors.append(f"BENCHMARK.json {key} differs from run.py: "
                          f"{sorted(set(listed.items()) ^ set(units.items()))}")
    for w in bench["workloads"]:
        if w["name"] not in gen.SIZES:
            errors.append(f"BENCHMARK.json workload {w['name']} is not in gen.SIZES")
    return errors


def main() -> int:
    os.makedirs(WORK, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=WORK) as root:
        errors = determinism(root) + corrupted_outputs_fail(os.path.join(root, "c")) + metric_lists()
    for e in errors:
        print(f"FAIL {e}")
    print("selftest:", "ok" if not errors else f"{len(errors)} failure(s)")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
