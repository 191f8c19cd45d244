"""Partitioned bloom shards for the URL-seen set (O9 at 10^10 scale).

The exact URL-seen check is a left-anti join against the history table
(``History/Dao.kt:80-86``). At a 10^10-row history that anti-join
shuffles the full candidate set every round; the bloom pre-filter makes
the common case ("never seen this URL") a shard-local test:

* history urls are double-hashed JVM-side (``xxhash64(url)`` and
  ``xxhash64(url, salt)`` — Arrow-vectorized, zero per-row Python) and
  folded into ``bloom_buckets`` fixed-size bit arrays, one per
  ``pmod(h1, buckets)`` shard, via numpy inside ``applyInPandas``.
* shard snapshots merge distributed: old ∪ delta →
  ``groupBy(bucket).applyInPandas`` OR-fold — shard bytes NEVER
  transit the driver, so a 10^10-URL / ~20 GB shard set merges with
  the same plan shape as the 1 MiB test set.
* candidates are CO-PARTITIONED with the shards: repartition by
  ``bucket``, then each task loads only the shard rows for its own
  buckets straight from the snapshot parquet (pyarrow filtered read,
  worker-side cache) and bit-tests its batch with numpy. No driver
  collect, no full-set broadcast — per-executor shard residency is
  ``total_shard_bytes / num_partitions``.
* probe negative ⇒ definitely unseen (blooms have no false negatives:
  correctness never depends on bloom tuning); probe positive ⇒ maybe
  seen → only that subset flows into the exact anti-join.

Shards are persisted with each round snapshot (``plans/store.py``)
once the probe is active (``bloom_activation_rows``; the first set is
built from the full history view), so a resumed job reloads them
instead of rescanning history — the "per-partition bloom shards
carried by Iceberg snapshot checkpoints" of the north rule.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import BLOOM

K_HASHES = 7
_SALT = 0x9E3779B9


def _with_hashes(df: DataFrame, url_col: str = "url") -> DataFrame:
    return df.withColumn("h1", F.xxhash64(F.col(url_col))).withColumn(
        "h2", F.xxhash64(F.col(url_col), F.lit(_SALT))
    )


def _bit_positions(h1: np.ndarray, h2: np.ndarray, m: int) -> np.ndarray:
    """(n, K_HASHES) bit indices via double hashing, vectorized."""
    h1 = h1.astype(np.uint64)
    h2 = h2.astype(np.uint64) | np.uint64(1)  # odd step → full period
    i = np.arange(K_HASHES, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m)).astype(np.int64)


def _set_bits(bits: np.ndarray, pos: np.ndarray) -> None:
    np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))


def _test_bits(bits: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """pos (n, k) → bool (n): all k bits set?"""
    got = (bits[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
    return got.all(axis=1)


def build_delta(
    urls: DataFrame,
    buckets: int,
    bits_per_bucket: int,
    url_col: str = "url",
) -> DataFrame:
    """Bloom shards covering just these urls (one round's history delta).
    Runs as a groupBy(bucket).applyInPandas — each shard built by the
    executor that owns that bucket's hash range."""
    m = bits_per_bucket
    hashed = _with_hashes(urls.select(url_col), url_col).withColumn(
        "bucket", F.pmod(F.col("h1"), F.lit(buckets)).cast("int")
    )

    def _build(pdf):
        import pandas as pd

        bits = np.zeros(m // 8, dtype=np.uint8)
        pos = _bit_positions(pdf["h1"].to_numpy(), pdf["h2"].to_numpy(), m)
        _set_bits(bits, pos)
        return pd.DataFrame({"bucket": [int(pdf["bucket"].iloc[0])], "bits": [bits.tobytes()]})

    return hashed.groupBy("bucket").applyInPandas(_build, schema=BLOOM)


def merge_shards(old: Optional[DataFrame], delta: DataFrame) -> DataFrame:
    """OR old and delta shard sets, fully distributed: one
    groupBy(bucket) shuffle of (bucket, bits) rows, numpy OR-fold per
    bucket. Nothing transits the driver — at 10^10 URLs the shard set
    is ~20 GB and this plan shape is unchanged. No old set ⇒ delta."""
    if old is None:
        return delta

    def _or(pdf):
        import pandas as pd

        acc: Optional[np.ndarray] = None
        for b in pdf["bits"]:
            a = np.frombuffer(b, dtype=np.uint8)
            acc = a.copy() if acc is None else (acc | a)
        return pd.DataFrame(
            {"bucket": [int(pdf["bucket"].iloc[0])], "bits": [acc.tobytes()]}
        )

    return old.unionByName(delta).groupBy("bucket").applyInPandas(_or, schema=BLOOM)


def probe(
    candidates: DataFrame,
    shard_dir: Optional[str],
    buckets: int,
    bits_per_bucket: int,
    url_col: str = "url",
    flag_col: str = "maybe_seen",
) -> DataFrame:
    """Adds ``maybe_seen`` to candidates, co-partitioned with the shard
    snapshot: candidates shuffle once on ``bucket`` and each task loads
    only its own buckets' shards from ``shard_dir`` (pyarrow filtered
    read, cached per worker process). Missing shard dir ⇒ all True
    (degenerates to the exact check — never a correctness risk)."""
    import os

    if shard_dir is None or not os.path.isdir(shard_dir):
        return candidates.withColumn(flag_col, F.lit(True))

    m = bits_per_bucket
    cols = [f.name for f in candidates.schema.fields]
    from pyspark.sql.types import BooleanType, StructType

    out_schema = StructType(list(candidates.schema.fields)).add(flag_col, BooleanType())

    hashed = _with_hashes(candidates, url_col).withColumn(
        "bucket", F.pmod(F.col("h1"), F.lit(buckets)).cast("int")
    ).repartition(F.col("bucket"))

    def _probe(batches: Iterator) -> Iterator:
        import pyarrow.dataset as ds

        loaded: dict = {}

        def shard_for(b: int):
            if b not in loaded:
                tbl = ds.dataset(shard_dir, format="parquet").to_table(
                    filter=ds.field("bucket") == int(b)
                )
                if tbl.num_rows == 0:
                    loaded[b] = None
                else:
                    loaded[b] = np.frombuffer(
                        tbl.column("bits")[0].as_py(), dtype=np.uint8
                    )
            return loaded[b]

        for pdf in batches:
            h1 = pdf["h1"].to_numpy()
            h2 = pdf["h2"].to_numpy()
            bkt = pdf["bucket"].to_numpy()
            res = np.ones(len(pdf), dtype=bool)
            pos = _bit_positions(h1, h2, m)
            for b in np.unique(bkt):
                mask = bkt == b
                bits = shard_for(int(b))
                if bits is None:
                    res[mask] = False  # empty shard → definitely unseen
                else:
                    res[mask] = _test_bits(bits, pos[mask])
            out = pdf[cols].copy()
            out[flag_col] = res
            yield out

    return hashed.mapInPandas(_probe, schema=out_schema)
