"""Seeded, single-process input generator for the benchmark workloads.

Every workload's inputs come from ``numpy.random.default_rng(seed)`` and
are written as parquet with pyarrow, so the engine only ever sees files.
The ground truth each output check needs is computed here too, from the
same arrays, and stored next to the parquet.

Outputs are cached per (workload, seed) under a directory named by a
fingerprint of this file's source and the workload's sizes: the same seed
reuses the files, and a change to the generator can never replay stale
inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per workload. Chosen so a timed operation takes a few seconds
# (several per run) while each still exercises the layer it is there for:
# at 2M rows most of batch_sketch_probe's probe time grows with the rows,
# and stream_keyed_sketch's batches are fixed-cost at any size near this
# one. README.md ("Layer shares") has the measurements.
SIZES = {
    "stream_keyed_sketch": dict(
        events=24_000, files=3, keys=64, users=200_000, zipf_s=1.1, probes=64,
        eps=0.001, confidence=0.99,
    ),
    "stream_floor": dict(
        events=4_000, files=4, types=3_000, zipf_s=1.1, hours=48, window_h=6,
        eps=0.001, confidence=0.99,
    ),
    "batch_sketch_probe": dict(
        rows=2_000_000, keys=200_000, zipf_s=1.1, probes=20_000,
        eps=0.0001, confidence=0.99, fpp=0.01,
    ),
    "batch_near_dedup": dict(
        docs=1_500, words=80, vocab=20_000, zipf_s=1.05, every=10, edits=1,
        threshold=0.8,
    ),
}


def fingerprint(workload: str, seed: int) -> str:
    """Names a (workload, seed) input directory; covers this file's source,
    so editing the generator never replays inputs it wrote before."""
    with open(__file__, "rb") as f:
        source = hashlib.sha256(f.read()).hexdigest()
    spec = json.dumps([workload, seed, SIZES[workload], source], sort_keys=True)
    return hashlib.sha256(spec.encode()).hexdigest()[:20]


def _zipf_ranks(rng: np.random.Generator, n: int, universe: int, s: float) -> np.ndarray:
    """n draws of a rank in [0, universe) with P(r) proportional to (r+1)^-s."""
    w = np.arange(1, universe + 1, dtype=np.float64) ** -s
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    return np.searchsorted(cdf, rng.random(n), side="right").astype(np.int64)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _gen_keyed(rng, z, out):
    n = z["events"]
    # ids are a seeded permutation of ranks, so frequency is not id order
    ids = rng.permutation(z["users"]).astype(np.int64) * 7919 + 13
    user = ids[_zipf_ranks(rng, n, z["users"], z["zipf_s"])]
    key = rng.integers(0, z["keys"], n, dtype=np.int32)
    _write(pa.table({"event_id": np.arange(n, dtype=np.int64), "k": key, "user_id": user}),
           os.path.join(out, "keyed.parquet"))
    # probes: the heaviest users, then random ids from the universe
    heavy = ids[: z["probes"] // 4]
    rest = rng.choice(ids[z["probes"] // 4 :], z["probes"] - len(heavy), replace=False)
    probes = np.concatenate([heavy, rest])
    exact = np.zeros((z["keys"], len(probes)), dtype=np.int64)
    order = np.argsort(probes)
    hit = np.isin(user, probes)
    col = order[np.searchsorted(probes[order], user[hit])]
    np.add.at(exact, (key[hit], col), 1)
    per_key = np.bincount(key, minlength=z["keys"]).astype(np.int64)
    np.savez(os.path.join(out, "truth.npz"), probes=probes, exact=exact, per_key=per_key)


def _gen_floor(rng, z, out):
    n = z["events"]
    types = np.array([f"t{i:05d}" for i in rng.permutation(z["types"])])
    etype = types[_zipf_ranks(rng, n, z["types"], z["zipf_s"])]
    base_us = 1_700_000_000 * 1_000_000
    ts_us = np.sort(base_us + rng.integers(0, z["hours"] * 3600 * 1_000_000, n))
    ts = pa.array(ts_us, type=pa.timestamp("us", tz="UTC"))
    _write(pa.table({"event_id": np.arange(n, dtype=np.int64), "ts": ts, "event_type": etype}),
           os.path.join(out, "events.parquet"))
    win_us = z["window_h"] * 3600 * 1_000_000
    win = (ts_us // win_us) * win_us
    uniq, counts = np.unique(np.stack([win.astype(np.str_), etype]).T, axis=0, return_counts=True)
    np.savez(
        os.path.join(out, "truth.npz"),
        window_us=uniq[:, 0].astype(np.int64), event_type=uniq[:, 1], count=counts.astype(np.int64),
    )


def _gen_probe(rng, z, out):
    n = z["rows"]
    ids = rng.permutation(z["keys"]).astype(np.int64) * 1_000_003 + 17
    key = ids[_zipf_ranks(rng, n, z["keys"], z["zipf_s"])]
    _write(pa.table({"k": key}), os.path.join(out, "keys.parquet"))
    distinct, counts = np.unique(key, return_counts=True)
    member = rng.random(len(distinct)) < 0.5
    _write(pa.table({"k": distinct[member]}), os.path.join(out, "members.parquet"))
    absent = np.setdiff1d(ids, distinct[member])
    _write(pa.table({"k": np.concatenate([distinct[member], absent]),
                     "member": np.arange(len(distinct[member]) + len(absent)) < member.sum()}),
           os.path.join(out, "labelled.parquet"))
    # CMS probes: heavy keys plus a uniform sample of the distinct keys
    order = np.argsort(-counts, kind="stable")
    heavy = order[: z["probes"] // 10]
    rest = rng.choice(order[z["probes"] // 10 :], z["probes"] - len(heavy), replace=False)
    pick = np.concatenate([heavy, rest])
    np.savez(
        os.path.join(out, "truth.npz"),
        probe_keys=distinct[pick], probe_exact=counts[pick].astype(np.int64),
        members=np.int64(member.sum()), absent=np.int64(len(absent)),
        rows_member=np.int64(np.isin(key, distinct[member]).sum()),
    )


def _gen_dedup(rng, z, out):
    n, m = z["docs"], z["words"]
    vocab = np.array([f"w{i}" for i in range(z["vocab"])])
    toks = _zipf_ranks(rng, n * m, z["vocab"], z["zipf_s"]).reshape(n, m)
    planted = []
    for i in range(z["every"] - 1, n, z["every"]):
        toks[i] = toks[i - 1]
        cols = rng.choice(m, z["edits"], replace=False)
        toks[i, cols] = rng.integers(0, z["vocab"], z["edits"])
        planted.append((i - 1, i))
    text = [" ".join(vocab[row]) for row in toks]
    _write(pa.table({"doc_id": np.arange(n, dtype=np.int64), "text": text}),
           os.path.join(out, "docs.parquet"))
    np.savez(os.path.join(out, "truth.npz"), planted=np.array(planted, dtype=np.int64))


_GEN = {
    "stream_keyed_sketch": _gen_keyed,
    "stream_floor": _gen_floor,
    "batch_sketch_probe": _gen_probe,
    "batch_near_dedup": _gen_dedup,
}


def generate(workload: str, seed: int, root: str) -> str:
    """Return the directory holding ``workload``'s inputs for ``seed``,
    generating them on first use. The directory is published by rename,
    so a reader never sees a partial one."""
    out = os.path.join(root, fingerprint(workload, seed))
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp-{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    try:
        _GEN[workload](np.random.default_rng(seed), SIZES[workload], tmp)
        os.rename(tmp, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def content_hash(path: str) -> str:
    """sha256 over every file under ``path`` (names and bytes, sorted)."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()
