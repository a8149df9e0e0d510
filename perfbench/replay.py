"""In-process replay of the Bloom build and probe kernels, without Spark.

Seeded int64 base-hash pairs are cut into 10k-row Arrow batches (the
session's ``maxRecordsPerBatch``) and fed, on one thread, through the same
per-partition build function a routed ``build_bloom`` task runs, then
through ``BloomFilterState.contains_hashes``.  The keys are restricted to
the shards one of ``nproc`` routed tasks would own, so each batch touches
as many shards, with as many rows each, as a task's batch does.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa

BATCH_ROWS = 10_000


def seeded_hashes(n: int, seed: int, n_shards: int, tasks: int) -> tuple[np.ndarray, np.ndarray]:
    from sparksketch.hashing import derive_shard
    rng = np.random.default_rng(seed)
    h1 = rng.integers(-2**63, 2**63 - 1, size=n * tasks, dtype=np.int64)
    h2 = rng.integers(-2**63, 2**63 - 1, size=n * tasks, dtype=np.int64)
    own = derive_shard(h1, n_shards) % tasks == 0
    return h1[own][:n], h2[own][:n]


def batches(h1: np.ndarray, h2: np.ndarray) -> list[pa.RecordBatch]:
    return [pa.RecordBatch.from_arrays([pa.array(h1[i:i + BATCH_ROWS]), pa.array(h2[i:i + BATCH_ROWS])],
                                       names=["_skh_a", "_skh_b"])
            for i in range(0, h1.shape[0], BATCH_ROWS)]


def build_state(cfg, n_shards: int, m0: int, arrow_batches):
    """Run the routed build kernel over ``arrow_batches`` and fold its
    per-shard state rows on the driver; return (state, kernel seconds)."""
    from sparksketch.bloom import BloomFilterState, _build_partition_fn
    fn = _build_partition_fn(cfg, n_shards, m0, None, None, frozenset())
    t0 = time.perf_counter()
    outs = list(fn(iter(arrow_batches)))
    kernel_s = time.perf_counter() - t0
    acc = BloomFilterState.empty(cfg, n_shards, m0)
    for out in outs:
        for blob in out.column("state").to_pylist():
            acc.merge_into(BloomFilterState.from_bytes(blob))
    return acc, kernel_s


def run(n_keys: int, seed: int, expected_keys: int, tasks: int) -> dict:
    """Time the build kernel and the probe over ``n_keys`` seeded keys."""
    from sparksketch.bloom import resolve_m0
    from sparksketch.config import BloomConfig
    cfg = BloomConfig()
    m0 = resolve_m0(cfg, cfg.shards, expected_keys)
    h1, h2 = seeded_hashes(n_keys, seed, cfg.shards, tasks)
    bs = batches(h1, h2)
    state, insert_s = build_state(cfg, cfg.shards, m0, bs)
    state.contains_hashes(h1[:1], h2[:1])  # builds the stacked probe index
    t0 = time.perf_counter()
    missing = sum(int((~state.contains_hashes(b.column(0).to_numpy(), b.column(1).to_numpy())).sum())
                  for b in bs)
    probe_s = time.perf_counter() - t0
    if missing:
        raise AssertionError(f"replayed filter lost {missing} inserted keys")
    return {"insert_keys_per_s": h1.shape[0] / insert_s,
            "probe_keys_per_s": h1.shape[0] / probe_s}
