"""Partitioned cuckoo-filter URL-seen sidecar (BASELINE.json north_star:
"a partitioned Bloom/cuckoo-filter URL-seen set ... vectorized Arrow UDFs").

The deletable twin of :mod:`crawlspark.bloom`: same bucket partitioning and
sidecar layout, but each bucket holds a cuckoo table (Fan et al., "Cuckoo
Filter: Practically Better Than Bloom", CoNEXT 2014) — 4-way entries of
16-bit fingerprints — so seen-set *removals* (recrawl invalidation, TTL
expiry) are supported without rebuilding, which a bloom bitset cannot do.

Layout per seen-bucket: ``table`` = m×4 uint16 fingerprints (0 = empty),
``overflow`` = the few fingerprints the bounded kick loop could not place
(kept explicitly → the no-false-negative invariant stays unconditional).

Build is batch-vectorized: each placement round computes candidate entries
for ALL unplaced items with numpy (sort + cumcount capacity assignment);
only the residual tail (< ~1% at 0.84 load) goes through the sequential
kick loop.  Probe is pure numpy.  Deletion is a cogrouped applyInPandas
over (filter-bucket, delete-hashes-bucket) pairs.

Determinism: fingerprints/indices derive from the url hash only; eviction
victims are chosen by attempt counter, not RNG — same input, same filter.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

CUCKOO_VERSION = "cuckoo-v2:mixed-index"
SLOTS = 4  # fingerprints per table entry
MAX_KICKS = 500
TARGET_LOAD = 0.84  # classic 4-way cuckoo max sustainable load ~0.95; headroom

CUCKOO_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType(), False),
        StructField("table", BinaryType(), False),
        StructField("overflow", BinaryType(), False),
        StructField("n_items", LongType(), False),
        StructField("version", StringType(), False),
    ]
)

_MULT = np.uint64(0xFF51AFD7ED558CCD)


def _m_entries(n_items: int) -> int:
    """Power-of-two entry count sized for TARGET_LOAD at SLOTS-way."""
    need = max(16, int(n_items / (SLOTS * TARGET_LOAD)) + 1)
    return 1 << int(need - 1).bit_length()


def _fingerprint(hashes: np.ndarray) -> np.ndarray:
    """Nonzero 16-bit fingerprint from the top hash bits."""
    h = hashes.astype(np.int64).view(np.uint64)
    f = ((h >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
    return np.where(f == 0, np.uint16(1), f)


def _index1(hashes: np.ndarray, m: int) -> np.ndarray:
    """Primary entry index from MIXED hash bits (fmix64-style).

    v1 took the raw low bits (``h & (m-1)``) — but the seen table is
    bucketed by ``pmod(url_hash, n_buckets)``, so within one bucket every
    hash is congruent mod n_buckets; with n_buckets a power of two the raw
    low bits collapse all 10k+ items of a bucket onto m/n_buckets entries,
    degenerating placement into the sequential kick loop (measured: 6.7 s
    per 13k-item bucket, 11% overflow — the r5 filter bench's entire
    59 s cuckoo-over-bloom gap).  Multiply-xorshift mixing decorrelates
    the index from the bucketing residue; same fix shape as bloom's odd
    mixed stride (bloom.py _positions).
    """
    h = hashes.astype(np.int64).view(np.uint64)
    h = (h ^ (h >> np.uint64(33))) * _MULT
    h ^= h >> np.uint64(29)
    return (h & np.uint64(m - 1)).astype(np.int64)


def _alt_index(idx: np.ndarray, fp: np.ndarray, m: int) -> np.ndarray:
    """i2 = i1 XOR hash(fingerprint) — involution, so alt(alt(i)) == i."""
    fh = (fp.astype(np.uint64) * _MULT) & np.uint64(m - 1)
    return (idx.astype(np.uint64) ^ fh).astype(np.int64)


def _build_table(hashes: np.ndarray) -> tuple[bytes, bytes]:
    """(table bytes, overflow bytes) for one seen-bucket's hashes."""
    n = len(hashes)
    m = _m_entries(n)
    table = np.zeros((m, SLOTS), dtype=np.uint16)
    fp = _fingerprint(hashes)
    i1 = _index1(hashes, m)
    i2 = _alt_index(i1, fp, m)

    used = np.zeros(m, dtype=np.int64)
    unplaced = np.arange(n)
    # vectorized placement rounds: alternate preferred index; within one
    # round, items wanting the same entry are ranked (stable sort +
    # cumcount) and the first (capacity - used) of them are admitted.
    for rnd in range(8):
        if len(unplaced) == 0:
            break
        cand = i1[unplaced] if rnd % 2 == 0 else i2[unplaced]
        order = np.argsort(cand, kind="stable")
        sorted_cand = cand[order]
        # rank of each item within its candidate entry
        is_new = np.ones(len(sorted_cand), dtype=bool)
        is_new[1:] = sorted_cand[1:] != sorted_cand[:-1]
        grp_start = np.maximum.accumulate(np.where(is_new, np.arange(len(sorted_cand)), 0))
        rank = np.arange(len(sorted_cand)) - grp_start
        free = SLOTS - used[sorted_cand]
        admit = rank < free
        admitted = unplaced[order[admit]]
        slots = used[sorted_cand[admit]] + rank[admit]
        entries = sorted_cand[admit]
        table[entries, slots] = fp[admitted]
        np.add.at(used, entries, 1)
        unplaced = unplaced[order[~admit]]

    # residual tail: classic sequential kick loop, attempt-counter victims
    overflow = _insert_into_table(table, hashes[unplaced], m)
    return table.tobytes(), np.array(overflow, dtype=np.uint16).tobytes()


def _insert_into_table(table: np.ndarray, hashes: np.ndarray, m: int) -> list:
    """Sequential kick-loop insert of ``hashes`` into an EXISTING (m, SLOTS)
    table, in place; returns the fingerprints that could not be placed.
    Handles non-contiguous slot occupancy (deletions punch holes), so it is
    also the absorb path's insert."""
    fp = _fingerprint(hashes)
    i1 = _index1(hashes, m)
    overflow: list = []
    for j in range(len(hashes)):
        f = fp[j]
        idx = int(i1[j])
        placed = False
        for kick in range(MAX_KICKS):
            row = table[idx]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = f
                placed = True
                break
            victim_slot = kick % SLOTS
            f, row[victim_slot] = row[victim_slot], f
            idx = int(_alt_index(np.array([idx]), np.array([f], dtype=np.uint16), m)[0])
        if not placed:
            overflow.append(f)
    return overflow


def _probe_table(hashes: np.ndarray, table_b: bytes, overflow_b: bytes) -> np.ndarray:
    if len(hashes) == 0:
        return np.zeros(0, dtype=bool)
    table = np.frombuffer(table_b, dtype=np.uint16).reshape(-1, SLOTS)
    m = table.shape[0]
    fp = _fingerprint(hashes)
    i1 = _index1(hashes, m)
    i2 = _alt_index(i1, fp, m)
    hit = (table[i1] == fp[:, None]).any(axis=1) | (table[i2] == fp[:, None]).any(axis=1)
    if overflow_b:
        ovf = np.frombuffer(overflow_b, dtype=np.uint16)
        hit |= np.isin(fp, ovf)
    return hit


def _delete_from_table(
    hashes: np.ndarray, table: np.ndarray, overflow: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Remove one stored copy per hash (only delete what was inserted —
    the standard cuckoo-filter contract).  Sequential over the (rare)
    delete batch; each lookup is O(2·SLOTS)."""
    m = table.shape[0]
    fp = _fingerprint(hashes)
    i1 = _index1(hashes, m)
    i2 = _alt_index(i1, fp, m)
    ovf_list = overflow.tolist()
    for j in range(len(hashes)):
        f = fp[j]
        done = False
        for idx in (i1[j], i2[j]):
            slots = np.nonzero(table[idx] == f)[0]
            if len(slots):
                table[idx, slots[0]] = 0
                done = True
                break
        if not done and f in ovf_list:
            ovf_list.remove(f)
    return table, np.array(ovf_list, dtype=np.uint16)


def build(seen: DataFrame) -> DataFrame:
    """Per-bucket cuckoo sidecar from a seen table (url_hash, bucket)."""
    import pandas as pd

    def _one_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        hashes = pdf["url_hash"].to_numpy(dtype=np.int64)
        table_b, ovf_b = _build_table(hashes)
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "table": [table_b],
                "overflow": [ovf_b],
                "n_items": [len(hashes)],
                "version": [CUCKOO_VERSION],
            }
        )

    return seen.groupBy("bucket").applyInPandas(_one_bucket, CUCKOO_SCHEMA)


def remove(filters: DataFrame, deletes: DataFrame) -> DataFrame:
    """Delete url_hashes from a cuckoo sidecar — the operation bloom cannot do.

    Cogrouped applyInPandas: each (bucket) pair gets the bucket's filter row
    and its delete hashes; buckets with no deletes pass through unchanged.
    """
    import pandas as pd

    def _apply(fpdf: pd.DataFrame, dpdf: pd.DataFrame) -> pd.DataFrame:
        if len(fpdf) == 0:
            return pd.DataFrame(columns=[f.name for f in CUCKOO_SCHEMA.fields])
        row = fpdf.iloc[0]
        if len(dpdf) == 0:
            return fpdf
        table = np.frombuffer(row["table"], dtype=np.uint16).reshape(-1, SLOTS).copy()
        overflow = np.frombuffer(row["overflow"], dtype=np.uint16).copy()
        hashes = dpdf["url_hash"].to_numpy(dtype=np.int64)
        table, overflow = _delete_from_table(hashes, table, overflow)
        out = fpdf.copy()
        out.loc[out.index[0], "table"] = table.tobytes()
        out.loc[out.index[0], "overflow"] = overflow.tobytes()
        out.loc[out.index[0], "n_items"] = max(int(row["n_items"]) - len(hashes), 0)
        return out

    return (
        filters.groupBy("bucket")
        .cogroup(deletes.groupBy("bucket"))
        .applyInPandas(_apply, CUCKOO_SCHEMA)
    )


def absorb(filters: DataFrame, delta: DataFrame, seen: DataFrame) -> DataFrame:
    """Updated sidecar = previous filters ∪ this round's DISJOINT seen delta.

    Same contract and two-phase shape as :func:`crawlspark.bloom.absorb`
    (the r5 incremental-snapshot work): buckets whose sizing rule is
    unchanged insert the delta's fingerprints into the existing table
    in place (cuckoo tables support true insert — sequential kicks are
    O(1) amortized below TARGET_LOAD); buckets the rule would resize, or
    that have no previous row, rebuild from the full seen pruned to just
    those buckets.  Unlike bloom the absorbed bytes are not byte-identical
    to a from-scratch build (placement is insertion-order dependent), but
    the no-false-negative contract is unconditional either way and the
    delta is sorted first so the result is deterministic.
    """
    import pandas as pd

    def _one(fpdf: pd.DataFrame, dpdf: pd.DataFrame) -> pd.DataFrame:
        if len(dpdf) == 0:
            return fpdf[["bucket", "table", "overflow", "n_items", "version"]]
        if len(fpdf) == 0:
            bucket = int(dpdf["bucket"].iloc[0])
            return pd.DataFrame(
                {"bucket": [bucket], "table": [b""], "overflow": [b""],
                 "n_items": [-1], "version": [CUCKOO_VERSION]}
            )
        bucket = int(fpdf["bucket"].iloc[0])
        table_b = fpdf["table"].iloc[0]
        m = len(table_b) // (2 * SLOTS)
        n_new = int(fpdf["n_items"].iloc[0]) + len(dpdf)
        if _m_entries(n_new) != m:
            return pd.DataFrame(
                {"bucket": [bucket], "table": [b""], "overflow": [b""],
                 "n_items": [-1], "version": [CUCKOO_VERSION]}
            )
        table = np.frombuffer(table_b, dtype=np.uint16).reshape(m, SLOTS).copy()
        hashes = np.sort(dpdf["url_hash"].to_numpy(dtype=np.int64))
        ovf_new = _insert_into_table(table, hashes, m)
        overflow = np.concatenate(
            [np.frombuffer(fpdf["overflow"].iloc[0], dtype=np.uint16),
             np.array(ovf_new, dtype=np.uint16)]
        )
        return pd.DataFrame(
            {"bucket": [bucket], "table": [table.tobytes()],
             "overflow": [overflow.tobytes()], "n_items": [n_new],
             "version": [fpdf["version"].iloc[0]]}
        )

    updated = (
        filters.select("bucket", "table", "overflow", "n_items", "version")
        .groupBy("bucket")
        .cogroup(delta.groupBy("bucket"))
        .applyInPandas(_one, CUCKOO_SCHEMA)
        .localCheckpoint(eager=True)  # consumed twice: marker scan + write
    )
    need = [r["bucket"] for r in updated.filter("n_items < 0").select("bucket").collect()]
    good = updated.filter("n_items >= 0")
    if need:
        good = good.unionByName(build(seen.filter(F.col("bucket").isin(need))))
    return good


def write_sidecar(cuckoo_df: DataFrame, path: str) -> None:
    cuckoo_df.write.mode("overwrite").partitionBy("bucket").parquet(path)


def _load_bucket(sidecar_path: str, bucket: int) -> tuple[bytes, bytes] | None:
    import pyarrow.parquet as pq

    part_dir = os.path.join(sidecar_path, f"bucket={bucket}")
    files = sorted(glob.glob(os.path.join(part_dir, "*.parquet")))
    if not files:
        return None
    tbl = pq.read_table(files[0], columns=["table", "overflow"])
    if tbl.num_rows == 0:
        return None
    return tbl.column("table")[0].as_py(), tbl.column("overflow")[0].as_py()


def probe(frontier: DataFrame, sidecar_path: str, keep_maybe_seen: bool = False) -> DataFrame:
    """Identical contract to bloom.probe — one wave of ``defaultParallelism``
    mapInArrow tasks, per-task bucket-pruned sidecar reads, nothing
    broadcast, nothing shuffled beyond the bucket partition."""

    def _probe_batches(batches):
        cache: dict[int, tuple[bytes, bytes] | None] = {}
        for batch in batches:
            if batch.num_rows == 0:
                continue
            hashes = batch.column("url_hash").to_numpy(zero_copy_only=False).astype(np.int64)
            buckets = batch.column("bucket").to_numpy(zero_copy_only=False).astype(np.int64)
            maybe_seen = np.zeros(batch.num_rows, dtype=bool)
            for b in np.unique(buckets):
                key = int(b)
                if key not in cache:
                    cache[key] = _load_bucket(sidecar_path, key)
                entry = cache[key]
                if entry is None:
                    continue
                sel = buckets == b
                maybe_seen[sel] = _probe_table(hashes[sel], entry[0], entry[1])
            if keep_maybe_seen:
                yield pa.RecordBatch.from_arrays(
                    list(batch.columns) + [pa.array(maybe_seen)],
                    names=list(batch.schema.names) + ["maybe_seen"],
                )
            else:
                yield batch.filter(pa.array(~maybe_seen))

    schema = frontier.schema
    if keep_maybe_seen:
        from pyspark.sql.types import BooleanType

        schema = StructType(
            list(schema.fields) + [StructField("maybe_seen", BooleanType(), False)]
        )

    n_parts = frontier.sparkSession.sparkContext.defaultParallelism
    return frontier.repartition(n_parts, "bucket").mapInArrow(_probe_batches, schema)
