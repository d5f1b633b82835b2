"""The Bloom and cuckoo membership probes (``maybe_seen``) over three
shard states:

- an empty shard dir — every key is provably new;
- saturated shards (all-ones Bloom bits, cuckoo overflow) — every key is
  maybe-seen;
- shards folded from real keys at a fold width other than the shard
  count — every folded key is maybe-seen, almost no other key is, and
  each shard is still one file.
"""

import io
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from ideacrawler_spark.operators import bloom, cuckoo

N_SHARDS = 8
WIDTH = 3


def _saturate(mod, d):
    os.makedirs(d)
    for s in range(N_SHARDS):
        buf = io.BytesIO()
        if mod is bloom:
            np.save(buf, np.full(bloom.M_BITS // 8, 0xFF, dtype=np.uint8))
        else:
            np.savez(buf, table=np.zeros((cuckoo.N_BUCKETS, cuckoo.SLOTS),
                                         dtype=np.uint16),
                     overflow=np.uint8(1))
        with open(mod._shard_path(d, s), "wb") as f:
            f.write(buf.getvalue())


@pytest.mark.parametrize("mod", [bloom, cuckoo])
@pytest.mark.parametrize("state", ["empty", "saturated", "real"])
def test_maybe_seen_by_shard_state(spark, tmp_path, mod, state):
    d = str(tmp_path / "shards")
    if state == "saturated":
        _saturate(mod, d)
    elif state == "real":
        keys = spark.range(0, 300).select(F.xxhash64("id").alias("key_hash"))
        mod.update_shards(keys, None, d, n_shards=N_SHARDS, width=WIDTH)
        assert len(os.listdir(d)) == N_SHARDS

    cand = spark.range(0, 600).select("id", F.xxhash64("id").alias("url_hash"))
    flags = {r["id"]: r["_maybe_seen"]
             for r in mod.maybe_seen(cand, d, n_shards=N_SHARDS).collect()}
    assert len(flags) == 600
    if state == "empty":
        assert not any(flags.values())
    elif state == "saturated":
        assert all(flags.values())
    else:
        assert all(flags[i] for i in range(300))
        assert sum(flags[i] for i in range(300, 600)) < 10
