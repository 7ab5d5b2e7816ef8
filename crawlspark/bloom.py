"""Partitioned Bloom-filter URL-seen sidecar (SURVEY.md §2 C3, J3).

Required verbatim by BASELINE.json north_star: "a partitioned Bloom/cuckoo-
filter URL-seen set built with vectorized Arrow UDFs over canonicalized URL
hashes".  PySpark exposes no public DataFrame bloom API, so this is a
first-class engine operator:

* **build**: ``seen.groupBy(bucket).applyInPandas`` → one row per bucket
  ``(bucket, bitset: binary, n_items, version)``.  Bucket count is sized so
  one bucket's hashes fit a Python worker (10^10 urls / 4096 buckets ≈ 2.4M
  int64 ≈ 20 MB); bit positions are computed with numpy (Arrow-vectorized,
  no per-row Python).
* **probe**: frontier repartitioned by bucket into one wave of
  ``mapInArrow`` tasks (``defaultParallelism``); each task lazily loads
  only the bucket bitsets it touches from the sidecar parquet
  (partition-pruned read), so nothing is broadcast and nothing is joined —
  at 10^10 scale the ~12 GB sidecar never moves through a shuffle.

Invariant (property-tested): **no false negatives** — every hash inserted at
build time probes positive.  False positives are removed by the exact
anti-join (dedup.unseen) that always follows.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import config
from .schemas import BLOOM_SCHEMA

_MULT = np.uint64(0xFF51AFD7ED558CCD)  # murmur3 fmix64 constant
_ONE = np.uint64(1)


def _bitset_size_bits(n_items: int) -> int:
    """Power-of-two bit count ≈ n_items * BITS_PER_KEY (mask, not mod)."""
    target = max(config.BLOOM_MIN_BITS, n_items * config.BLOOM_BITS_PER_KEY)
    return 1 << int(target - 1).bit_length()


def _positions(hashes: np.ndarray, m_bits: int) -> np.ndarray:
    """(k, n) bit positions via double hashing; all-numpy, wrap-on-overflow."""
    h1 = hashes.astype(np.int64).view(np.uint64)
    h2 = (h1 ^ (h1 >> np.uint64(33))) * _MULT
    h2 = h2 | _ONE  # odd stride
    mask = np.uint64(m_bits - 1)
    ks = np.arange(config.BLOOM_NUM_HASHES, dtype=np.uint64)[:, None]
    return ((h1[None, :] + ks * h2[None, :]) & mask).astype(np.int64)


def _build_bitset(hashes: np.ndarray) -> bytes:
    m_bits = _bitset_size_bits(len(hashes))
    arr = np.zeros(m_bits // 8, dtype=np.uint8)
    if len(hashes):
        pos = _positions(hashes, m_bits).ravel()
        np.bitwise_or.at(arr, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
    return arr.tobytes()


def _probe_bitset(hashes: np.ndarray, bitset: bytes) -> np.ndarray:
    """Boolean membership mask for each hash."""
    if len(hashes) == 0:
        return np.zeros(0, dtype=bool)
    arr = np.frombuffer(bitset, dtype=np.uint8)
    m_bits = len(arr) * 8
    pos = _positions(hashes, m_bits)  # (k, n)
    bits = (arr[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
    return bits.all(axis=0)


def build(seen: DataFrame) -> DataFrame:
    """Build the per-bucket sidecar from a seen table (url_hash, bucket)."""
    import pandas as pd  # local import: runs inside executors too

    def _one_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        hashes = pdf["url_hash"].to_numpy(dtype=np.int64)
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "bitset": [_build_bitset(hashes)],
                "n_items": [len(hashes)],
                "version": [config.BLOOM_VERSION],
            }
        )

    return seen.groupBy("bucket").applyInPandas(_one_bucket, BLOOM_SCHEMA)


def absorb(filters: DataFrame, delta: DataFrame, seen: DataFrame) -> DataFrame:
    """Updated sidecar = previous filters ∪ this round's DISJOINT seen delta.

    The per-round sidecar rebuild was the last O(|seen|) snapshot cost
    (r5; the seen table itself commits as a delta, state.py).  Because bit
    positions depend only on the bitset size and the size rule only on the
    item count, OR-ing the delta's bits into the previous bitset is
    BYTE-IDENTICAL to a from-scratch build whenever the size rule keeps
    the bucket's bitset size (pytest-pinned).  Buckets the growth rule
    would resize — plus delta buckets with no previous row — rebuild from
    the full seen, pruned to just those buckets; with power-of-two sizing
    each bucket resizes O(log n) times over a crawl, so maintenance is
    amortized O(|delta|) per round.

    ``delta`` must be disjoint from the seen set the previous filters were
    built over (the crawl loop's absorb invariant) — double-inserting a
    hash is harmless for bloom bits but would double-count ``n_items`` and
    mistime the next resize.
    """
    import pandas as pd

    def _one(fpdf: pd.DataFrame, dpdf: pd.DataFrame) -> pd.DataFrame:
        if len(dpdf) == 0:
            return fpdf[["bucket", "bitset", "n_items", "version"]]
        bucket = int(dpdf["bucket"].iloc[0]) if len(fpdf) == 0 else int(fpdf["bucket"].iloc[0])
        if len(fpdf) == 0:
            # bucket never seen before: no row to grow — rebuild marker
            return pd.DataFrame(
                {"bucket": [bucket], "bitset": [b""], "n_items": [-1],
                 "version": [config.BLOOM_VERSION]}
            )
        bitset = fpdf["bitset"].iloc[0]
        n_new = int(fpdf["n_items"].iloc[0]) + len(dpdf)
        if _bitset_size_bits(n_new) != len(bitset) * 8:
            return pd.DataFrame(
                {"bucket": [bucket], "bitset": [b""], "n_items": [-1],
                 "version": [config.BLOOM_VERSION]}
            )
        arr = np.frombuffer(bitset, dtype=np.uint8).copy()
        pos = _positions(dpdf["url_hash"].to_numpy(dtype=np.int64), len(arr) * 8).ravel()
        np.bitwise_or.at(arr, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
        return pd.DataFrame(
            {"bucket": [bucket], "bitset": [arr.tobytes()], "n_items": [n_new],
             "version": [fpdf["version"].iloc[0]]}
        )

    updated = (
        filters.select("bucket", "bitset", "n_items", "version")
        .groupBy("bucket")
        .cogroup(delta.groupBy("bucket"))
        .applyInPandas(_one, BLOOM_SCHEMA)
        .localCheckpoint(eager=True)  # consumed twice: marker scan + write
    )
    need = [r["bucket"] for r in updated.filter("n_items < 0").select("bucket").collect()]
    good = updated.filter("n_items >= 0")
    if need:  # bounded by n_buckets rows — same class as the per-partition count collects
        good = good.unionByName(build(seen.filter(F.col("bucket").isin(need))))
    return good


def write_sidecar(bloom_df: DataFrame, path: str) -> None:
    """Persist the sidecar partitioned by bucket → per-bucket pruned reads."""
    bloom_df.write.mode("overwrite").partitionBy("bucket").parquet(path)


def _load_bucket_bitset(sidecar_path: str, bucket: int) -> bytes | None:
    """Read one bucket's bitset directly (partition-pruned, no Spark job).

    Local filesystem + pyarrow here; on a cluster the same layout is read
    through the storage filesystem (s3/hdfs via pyarrow.fs) — only this
    function changes.
    """
    import pyarrow.parquet as pq

    part_dir = os.path.join(sidecar_path, f"bucket={bucket}")
    files = sorted(glob.glob(os.path.join(part_dir, "*.parquet")))
    if not files:
        return None
    tbl = pq.read_table(files[0], columns=["bitset"])
    if tbl.num_rows == 0:
        return None
    return tbl.column("bitset")[0].as_py()


def probe(frontier: DataFrame, sidecar_path: str, keep_maybe_seen: bool = False) -> DataFrame:
    """Filter frontier rows to those NOT (probably) in the seen set.

    Repartitions by bucket into ``defaultParallelism`` partitions — one
    wave of mapInArrow tasks, since each Python task pays a fixed start-up
    cost before it reads a row — so each task touches few buckets and
    loads each bitset once (cached per task).  Rows whose bucket has no
    sidecar entry are trivially unseen.
    """
    def _probe_batches(batches):
        cache: dict[int, bytes | None] = {}
        for batch in batches:
            if batch.num_rows == 0:
                continue
            hashes = batch.column("url_hash").to_numpy(zero_copy_only=False).astype(np.int64)
            buckets = batch.column("bucket").to_numpy(zero_copy_only=False).astype(np.int64)
            maybe_seen = np.zeros(batch.num_rows, dtype=bool)
            for b in np.unique(buckets):
                key = int(b)
                if key not in cache:
                    cache[key] = _load_bucket_bitset(sidecar_path, key)
                bs = cache[key]
                if bs is None:
                    continue
                sel = buckets == b
                maybe_seen[sel] = _probe_bitset(hashes[sel], bs)
            if keep_maybe_seen:
                yield pa.RecordBatch.from_arrays(
                    list(batch.columns) + [pa.array(maybe_seen)],
                    names=list(batch.schema.names) + ["maybe_seen"],
                )
            else:
                # arrow-native filter keeps the input schema byte-exact
                yield batch.filter(pa.array(~maybe_seen))

    schema = frontier.schema
    if keep_maybe_seen:
        from pyspark.sql.types import BooleanType, StructField, StructType

        schema = StructType(list(schema.fields) + [StructField("maybe_seen", BooleanType(), False)])

    n_parts = frontier.sparkSession.sparkContext.defaultParallelism
    return frontier.repartition(n_parts, "bucket").mapInArrow(_probe_batches, schema)
