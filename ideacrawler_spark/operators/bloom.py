"""Sharded Bloom-filter URL-seen state — Arrow-backed, vectorized numpy.

The reference's seen-set is one in-memory Go map guarded by a mutex
(job.duplicates, job.go:43,841-871) — at 10^10 URLs that is neither
memory-feasible nor parallel. Here:

- the seen-set's EXACT table stays authoritative (bit-for-bit guarantee):
  every round, checkpointed or not, drops seen rows with the plain
  anti-join (operators/dedup.py ``anti_join_seen``) and does NOT probe
  the filter — a probe here cannot prune, since every key in ``seen``
  is maybe-seen (no false negatives) and the exact join still has to
  test every candidate;
- a Bloom filter sharded by ``url_hash % n_shards`` mirrors the seen-set
  (superset invariant). A checkpointed crawl folds each round's new keys
  into it and commits the shard dir with the round; ``maybe_seen`` is its
  membership probe (False ⇒ PROVABLY unseen, True ⇒ check exactly);
- shards are numpy bitsets persisted per round next to the engine
  checkpoint (parquet+manifest here; Iceberg snapshots in production).
  The shard count fixes the file layout only: the fold runs at the
  caller's ``width`` (the engine's shuffle partitions), one
  ``applyInPandas`` group — one file write — per shard. Batches arrive as
  Arrow and every membership test is vectorized numpy (no per-row Python);
- ALL shard IO goes through ``operators/shardfs.py`` (pyarrow.fs), so a
  checkpoint dir on hdfs:// or s3:// works from executors without a
  shared local disk.

The probe and fold scaffolding below is shared with the cuckoo filter
(operators/cuckoo.py), which supplies its own per-shard kernels.

Bit addressing: k=7 indexes per key from the 64-bit xxhash via the
Kirsch-Mitzenmacher construction idx_i = (h1 + i*h2) mod m with
h1 = low 32 bits, h2 = high 32 bits | 1.
"""

from __future__ import annotations

import io
from typing import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ideacrawler_spark.operators import shardfs

N_SHARDS = 64
M_BITS = 1 << 22          # 4 Mbit/shard → 64 shards ≈ 32 MB; fpr ~1% at ~25M keys
K_HASHES = 7

# (shard_dir, shard) → membership test over that shard's int64 hashes
Member = Callable[[str, int], Callable[[np.ndarray], np.ndarray]]


def shard_of(hash_col, n_shards: int = N_SHARDS):
    return F.pmod(hash_col, F.lit(n_shards)).cast("int")


def fold_shards(keys: DataFrame, prev_dir: str | None, out_dir: str,
                prefix: str, fold_one: Callable[[str, int, np.ndarray], None],
                hash_col: str, n_shards: int, width: int) -> None:
    """Copy round r-1's shard files forward, then ``fold_one(out_dir,
    shard, hashes)`` each shard that has new keys, over ``width`` tasks.
    The copy overwrites through tmp + move, so a resumed round never
    keeps a shard torn by a crashed attempt."""
    shardfs.makedirs(out_dir)
    if prev_dir:
        for name in shardfs.listdir(prev_dir):
            if name.startswith(prefix) and not name.endswith(".tmp"):
                shardfs.copy_file(shardfs.join(prev_dir, name),
                                  shardfs.join(out_dir, name))

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        fold_one(out_dir, shard, pdf["h"].to_numpy())
        return pd.DataFrame({"shard": [shard], "n": [len(pdf)]})

    (
        keys.select(F.col(hash_col).alias("h"),
                    shard_of(F.col(hash_col), n_shards).alias("shard"))
        .repartition(width, "shard")
        .groupBy("shard")
        .applyInPandas(fold, schema="shard int, n long")
        .collect()
    )


def probe_shards(candidates: DataFrame, shard_dir: str, member: Member,
                 hash_col: str, n_shards: int) -> DataFrame:
    """Add ``_maybe_seen``: False ⇒ PROVABLY unseen, True ⇒ check exactly.
    One ``mapInPandas`` over ``n_shards`` partitions keyed by shard, so
    each task loads only the shards its rows hash to."""

    def probe(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        loaded: dict = {}
        for pdf in it:
            h = pdf[hash_col].to_numpy()
            shards = np.mod(h, n_shards)   # floor mod = Spark's pmod
            out = np.zeros(len(pdf), dtype=bool)
            for s in np.unique(shards).tolist():
                if s not in loaded:
                    loaded[s] = member(shard_dir, s)
                mask = shards == s
                out[mask] = loaded[s](h[mask])
            yield pdf.assign(_maybe_seen=out)

    # a fresh StructType: .add would mutate the candidate frame's schema
    schema = T.StructType(
        list(candidates.schema.fields)
        + [T.StructField("_maybe_seen", T.BooleanType())]
    )
    return candidates.repartition(
        n_shards, shard_of(F.col(hash_col), n_shards)
    ).mapInPandas(probe, schema=schema)


def _indexes(hashes: np.ndarray, m: int = M_BITS, k: int = K_HASHES) -> np.ndarray:
    """(n,) int64 hashes → (n, k) bit indexes."""
    h = hashes.astype(np.uint64)
    h1 = (h & np.uint64(0xFFFFFFFF)).astype(np.uint64)
    h2 = ((h >> np.uint64(32)) | np.uint64(1)).astype(np.uint64)
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(m)).astype(np.int64)


def _shard_path(bloom_dir: str, shard: int) -> str:
    return shardfs.join(bloom_dir, f"shard={shard:04d}.npy")


def _load_shard(bloom_dir: str, shard: int) -> np.ndarray:
    raw = shardfs.read_bytes(_shard_path(bloom_dir, shard))
    if raw is not None:
        return np.load(io.BytesIO(raw))
    return np.zeros(M_BITS // 8, dtype=np.uint8)


def _fold(out_dir: str, shard: int, h: np.ndarray) -> None:
    arr = _load_shard(out_dir, shard)
    flat = _indexes(h).reshape(-1)
    np.bitwise_or.at(arr, flat >> 3, (1 << (flat & 7)).astype(np.uint8))
    buf = io.BytesIO()
    np.save(buf, arr)
    shardfs.write_bytes_atomic(_shard_path(out_dir, shard), buf.getvalue())


def _member(bloom_dir: str, shard: int):
    arr = _load_shard(bloom_dir, shard)

    def test(h: np.ndarray) -> np.ndarray:
        idx = _indexes(h)
        return ((arr[idx >> 3] >> (idx & 7)) & 1).all(axis=1)

    return test


def update_shards(seen_new: DataFrame, prev_dir: str | None, out_dir: str,
                  hash_col: str = "key_hash", n_shards: int = N_SHARDS, *,
                  width: int) -> None:
    """Fold new keys into the Bloom shards: read round r-1 shards, write
    round r shards (untouched ones copied forward)."""
    fold_shards(seen_new, prev_dir, out_dir, "shard=", _fold,
                hash_col, n_shards, width)


def maybe_seen(candidates: DataFrame, bloom_dir: str,
               hash_col: str = "url_hash", n_shards: int = N_SHARDS) -> DataFrame:
    """Flag ``candidates`` against the Bloom shards in ``bloom_dir``."""
    return probe_shards(candidates, bloom_dir, _member, hash_col, n_shards)
