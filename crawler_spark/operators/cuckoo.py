"""Partitioned cuckoo filter over 64-bit URL hashes — the crawl engine's
URL-seen prefilter (operators/dedup.py ``url_seen_filter``), switched on
once the seen set reaches ``CrawlEngine.bloom_threshold``.

Why a cuckoo and not a bloom (SURVEY §2.2 D1): **deletion**. A bloom
bitset can only grow; evicting a URL (recrawl after a TTL, a site asking
for re-fetch, rolling a retention window at 10^10-URL scale) forces a full
rebuild. The cuckoo filter stores 16-bit fingerprints in 4-slot buckets
and supports remove-one-occurrence, so the crawl frontier can expire
seen-entries incrementally while keeping the no-false-negative prefilter
contract. It is only ever a PREFILTER: the exact left-anti join decides
every drop, so false positives cost a shuffle row, never correctness.

Layout per shard: a ``(num_buckets, 4)`` uint16 table (fingerprint 0 =
empty slot) plus a tiny overflow stash for eviction-chain failures. A
fingerprint's two candidate buckets follow the standard partial-key
cuckoo hashing scheme (Fan et al., "Cuckoo Filter: Practically Better
Than Bloom", CoNLL 2014): ``i2 = i1 XOR h(fp)`` with power-of-two bucket
counts, so the alternate bucket is computable from (bucket, fp) alone —
no need to re-derive the original 64-bit hash when relocating entries.

All build/probe math is vectorized numpy inside Arrow batches
(groupBy(shard).applyInPandas / cogroup — fully distributed: each task
only ever holds ONE shard's table, nothing is collected or broadcast).
Bulk inserts place ~all items in two vectorized passes (first-choice then
second-choice bucket, rank-within-bucket slotting); only the residue that
needs eviction chains walks a per-item loop, bounded by the ≤0.7 build
load factor. Deletion is the cold administrative path and documented as
such. Builds sort hashes first, so shard bytes are DETERMINISTIC under
any partitioning — required for byte-stable checkpoints.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructType

SLOTS = 4  # fingerprints per bucket
_FP_SEED = np.uint64(0x5BD1E995)  # bucket-derivation multiplier for fp
_MAX_KICKS = 500  # eviction-chain bound before the stash catches the entry
_LOAD_FACTOR = 0.7  # build-time sizing target (occupancy of table slots)


def _derive(hashes_i64: np.ndarray, num_buckets: int):
    """(fp uint16, i1 int64, i2 int64) from signed-int64 xxhash64 values.

    fp = low 16 bits (0 remapped to 1 so 0 can mean 'empty slot');
    i1 = next 48 bits masked to the power-of-two bucket range;
    i2 = i1 XOR h(fp) — an involution, so alt(alt(b)) == b.
    """
    h = hashes_i64.astype(np.int64).view(np.uint64)
    fp = (h & np.uint64(0xFFFF)).astype(np.uint16)
    fp = np.where(fp == 0, np.uint16(1), fp)
    mask = np.uint64(num_buckets - 1)
    i1 = ((h >> np.uint64(16)) & mask).astype(np.int64)
    alt = (fp.astype(np.uint64) * _FP_SEED) & mask
    i2 = (i1.astype(np.uint64) ^ alt).astype(np.int64)
    return fp, i1, i2


def _alt_bucket(bucket: int, fp: int, num_buckets: int) -> int:
    mask = np.uint64(num_buckets - 1)
    return int(np.uint64(bucket) ^ ((np.uint64(fp) * _FP_SEED) & mask))


class CuckooFilter:
    """One shard's table + stash. ``table`` is (num_buckets, SLOTS) uint16;
    ``stash`` is a small 1-D uint16 array of overflow fingerprints (probed
    via isin — conservative: may add false positives, never negatives)."""

    def __init__(self, table: np.ndarray, stash: np.ndarray):
        assert table.ndim == 2 and table.shape[1] == SLOTS
        self.table = table
        self.stash = stash
        self.num_buckets = table.shape[0]

    # -- sizing ----------------------------------------------------------
    @staticmethod
    def buckets_for(expected_items: int) -> int:
        """Power-of-two bucket count targeting _LOAD_FACTOR occupancy."""
        need = max(1, int(np.ceil(expected_items / (SLOTS * _LOAD_FACTOR))))
        return 1 << max(3, int(np.ceil(np.log2(need))))

    @classmethod
    def empty(cls, num_buckets: int) -> "CuckooFilter":
        return cls(
            np.zeros((num_buckets, SLOTS), dtype=np.uint16),
            np.zeros(0, dtype=np.uint16),
        )

    # -- (de)serialization ----------------------------------------------
    def to_bytes(self) -> tuple[bytes, bytes]:
        return self.table.tobytes(), self.stash.tobytes()

    @classmethod
    def from_bytes(cls, table_raw: bytes, stash_raw: bytes) -> "CuckooFilter":
        table = np.frombuffer(table_raw, dtype=np.uint16).copy()
        return cls(
            table.reshape(-1, SLOTS),
            np.frombuffer(stash_raw, dtype=np.uint16).copy(),
        )

    # -- insert ----------------------------------------------------------
    def _occupancy(self) -> np.ndarray:
        return (self.table != 0).sum(axis=1).astype(np.int64)

    def insert_np(self, hashes_i64: np.ndarray) -> None:
        """Bulk insert; sorts first so the resulting bytes are independent
        of input order (determinism under repartitioning). Two vectorized
        placement passes (first/second-choice bucket), then a bounded
        eviction walk for the residue; chain overflow lands in the stash."""
        if hashes_i64.shape[0] == 0:
            return
        h = np.sort(hashes_i64.astype(np.int64).view(np.uint64)).view(np.int64)
        fp, i1, i2 = _derive(h, self.num_buckets)
        occ = self._occupancy()
        placed = _bulk_place(self.table, occ, fp, i1)
        rem = np.flatnonzero(~placed)
        if rem.size:
            placed2 = _bulk_place(self.table, occ, fp[rem], i2[rem])
            rem = rem[~placed2]
        for j in rem:
            self._insert_one(occ, int(fp[j]), int(i1[j]), int(i2[j]))

    def _insert_one(self, occ: np.ndarray, fp: int, b1: int, b2: int) -> None:
        for b in (b1, b2):
            if occ[b] < SLOTS:
                self.table[b, occ[b]] = fp
                occ[b] += 1
                return
        # Deterministic eviction walk: kick slot cycles 0..SLOTS-1.
        cur, b = fp, b2
        for kick in range(_MAX_KICKS):
            slot = kick % SLOTS
            victim = int(self.table[b, slot])
            self.table[b, slot] = cur
            cur = victim
            b = _alt_bucket(b, cur, self.num_buckets)
            if occ[b] < SLOTS:
                self.table[b, occ[b]] = cur
                occ[b] += 1
                return
        self.stash = np.append(self.stash, np.uint16(cur))

    # -- probe -----------------------------------------------------------
    def might_contain_np(self, hashes_i64: np.ndarray) -> np.ndarray:
        """Vectorized membership: True = maybe seen (no false negatives
        for every hash ever inserted and not deleted)."""
        if hashes_i64.shape[0] == 0:
            return np.zeros(0, dtype=bool)
        fp, i1, i2 = _derive(hashes_i64, self.num_buckets)
        hit = (self.table[i1] == fp[:, None]).any(axis=1)
        hit |= (self.table[i2] == fp[:, None]).any(axis=1)
        if self.stash.size:
            hit |= np.isin(fp, self.stash)
        return hit

    # -- delete ----------------------------------------------------------
    def delete_np(self, hashes_i64: np.ndarray) -> np.ndarray:
        """Remove ONE stored occurrence per hash (bool mask: removed?).
        Cold administrative path (recrawl eviction / retention roll) —
        per-item loop is acceptable here; build/probe stay vectorized.

        Standard cuckoo-filter deletion contract (Fan et al. §3.3): only
        delete items that were actually inserted. Duplicate inserts keep
        one slot each, so counting semantics hold; deleting a never-
        inserted hash could evict another item sharing its (fp, bucket)
        and break the no-false-negative guarantee."""
        fp, i1, i2 = _derive(hashes_i64, self.num_buckets)
        out = np.zeros(hashes_i64.shape[0], dtype=bool)
        for j in range(hashes_i64.shape[0]):
            f = fp[j]
            done = False
            for b in (i1[j], i2[j]):
                slots = np.flatnonzero(self.table[b] == f)
                if slots.size:
                    self.table[b, slots[0]] = 0
                    # Re-pack the bucket: placement (_bulk_place /
                    # _insert_one) writes at slot index occupancy, which
                    # assumes filled slots are a prefix — a mid-bucket
                    # hole left by deletion would make the next insert
                    # OVERWRITE the last live fingerprint (a false
                    # negative on a still-inserted item).
                    live = self.table[b][self.table[b] != 0]
                    self.table[b] = 0
                    self.table[b, : live.size] = live
                    done = True
                    break
            if not done and self.stash.size:
                pos = np.flatnonzero(self.stash == f)
                if pos.size:
                    self.stash = np.delete(self.stash, pos[0])
                    done = True
            out[j] = done
        return out


def _bulk_place(
    table: np.ndarray, occ: np.ndarray, fp: np.ndarray, buckets: np.ndarray
) -> np.ndarray:
    """Vectorized one-pass placement: items grouped by target bucket get
    consecutive free slots (rank within bucket + current occupancy); items
    that would overflow SLOTS are left unplaced. Returns the placed mask
    aligned with ``fp``/``buckets``. Updates ``table`` and ``occ``."""
    n = buckets.shape[0]
    if n == 0:
        return np.zeros(0, dtype=bool)
    order = np.argsort(buckets, kind="stable")
    bs = buckets[order]
    fps = fp[order]
    first = np.empty(n, dtype=bool)
    first[0] = True
    np.not_equal(bs[1:], bs[:-1], out=first[1:])
    run_start = np.maximum.accumulate(np.where(first, np.arange(n), 0))
    rank = np.arange(n) - run_start
    slot = occ[bs] + rank
    ok = slot < SLOTS
    table[bs[ok], slot[ok]] = fps[ok]
    np.add.at(occ, bs[ok], 1)
    placed = np.zeros(n, dtype=bool)
    placed[order[ok]] = True
    return placed


# ---------------------------------------------------------------------------
# Sharded (distributed) build / merge / delete / probe: one row per shard,
# each task touches exactly one shard.
# ---------------------------------------------------------------------------

CUCKOO_SHARDS_SCHEMA = (
    "shard int, tbl binary, stash binary, num_buckets long, num_shards int"
)


def _shard_col(hash_col: str, num_shards: int):
    return F.pmod(F.col(hash_col), F.lit(num_shards)).cast("int")


def _row(shard: int, flt: CuckooFilter, num_shards: int) -> pd.DataFrame:
    tbl, stash = flt.to_bytes()
    return pd.DataFrame(
        {
            "shard": [shard],
            "tbl": [tbl],
            "stash": [stash],
            "num_buckets": [flt.num_buckets],
            "num_shards": [num_shards],
        }
    )


def build_cuckoo_sharded(
    df: DataFrame,
    hash_col: str,
    num_shards: int,
    expected_items: int | None = None,
) -> DataFrame:
    """One cuckoo table per hash-mod shard, built fully distributed via
    groupBy(shard).applyInPandas. Each shard is sized for its expected
    share of ``expected_items`` at the build load factor; nothing is
    collected or broadcast whole."""
    if expected_items is None:
        expected_items = df.count()
    num_buckets = CuckooFilter.buckets_for(
        max(1, expected_items // num_shards)
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        flt = CuckooFilter.empty(num_buckets)
        flt.insert_np(pdf["h"].to_numpy(dtype=np.int64))
        return _row(int(pdf["shard"].iloc[0]), flt, num_shards)

    return (
        df.select(
            _shard_col(hash_col, num_shards).alias("shard"),
            F.col(hash_col).alias("h"),
        )
        .groupBy("shard")
        .applyInPandas(build, CUCKOO_SHARDS_SCHEMA)
    )


def _apply_delta(
    existing: DataFrame,
    delta: DataFrame,
    hash_col: str,
    num_shards: int,
    num_buckets: int,
    op: str,
) -> DataFrame:
    """Shared cogroup kernel for incremental insert ('merge') and delete:
    per shard the stored table is deserialized once, the delta hashes are
    applied, and one updated row comes back. O(delta + touched shards)."""

    def apply_shard(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if right.empty:
            flt = CuckooFilter.empty(num_buckets)
            shard = int(left["shard"].iloc[0])
        else:
            stored = int(right["num_shards"].iloc[0])
            if stored != num_shards:
                raise ValueError(
                    f"cuckoo shard-count mismatch: delta modulus {num_shards}"
                    f" != build modulus {stored}"
                )
            flt = CuckooFilter.from_bytes(
                right["tbl"].iloc[0], right["stash"].iloc[0]
            )
            shard = int(right["shard"].iloc[0])
        if not left.empty:
            h = left["h"].to_numpy(dtype=np.int64)
            if op == "insert":
                flt.insert_np(h)
            else:
                flt.delete_np(np.sort(h.view(np.uint64)).view(np.int64))
        return _row(shard, flt, num_shards)

    delta_keyed = delta.select(
        _shard_col(hash_col, num_shards).alias("shard"),
        F.col(hash_col).alias("h"),
    )
    # cogroup forms the UNION of group keys, so shards with no delta rows
    # still flow through apply_shard (left empty → row passes unchanged).
    return (
        delta_keyed.groupBy("shard")
        .cogroup(existing.groupBy("shard"))
        .applyInPandas(apply_shard, CUCKOO_SHARDS_SCHEMA)
    )


def merge_cuckoo_shards(
    existing: DataFrame,
    delta: DataFrame,
    hash_col: str,
    num_shards: int,
    num_buckets: int,
) -> DataFrame:
    """Insert a batch's new hashes into the stored shard tables — the
    incremental maintenance path, reversible via delete_cuckoo_shards."""
    return _apply_delta(existing, delta, hash_col, num_shards, num_buckets, "insert")


def delete_cuckoo_shards(
    existing: DataFrame,
    deletions: DataFrame,
    hash_col: str,
    num_shards: int,
    num_buckets: int,
) -> DataFrame:
    """Remove one stored occurrence per deletion hash — the operation a
    bloom cannot do. Used for recrawl eviction: expire URLs from the
    seen-filter without rebuilding it from the full history."""
    return _apply_delta(existing, deletions, hash_col, num_shards, num_buckets, "delete")


def cuckoo_probe_sharded(
    candidates: DataFrame,
    shards: DataFrame,
    hash_col: str,
    num_shards: int | None = None,
) -> DataFrame:
    """Candidates cogrouped with their shard's table (Arrow batches) →
    ``_maybe`` boolean, True = possibly seen. A shard with no stored row
    never had an insert → all its candidates are definitely new.
    ``num_shards=None`` derives the modulus from the stored rows; an
    explicit value is asserted against them (a mismatched modulus would
    silently produce false negatives)."""
    if num_shards is None:
        row = shards.select(F.max("num_shards").alias("n")).collect()[0]
        if row.n is None:
            return candidates.withColumn("_maybe", F.lit(False))
        num_shards = int(row.n)

    out_schema = StructType(list(candidates.schema.fields)).add(
        "_maybe", BooleanType()
    )
    in_cols = [f.name for f in candidates.schema.fields]
    expected_shards = num_shards

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        out = left.drop(columns=["_shard"])
        if right.empty:
            out["_maybe"] = False
            return out
        stored = int(right["num_shards"].iloc[0])
        if stored != expected_shards:
            raise ValueError(
                f"cuckoo shard-count mismatch: probe modulus {expected_shards}"
                f" != build modulus {stored} (would cause false negatives)"
            )
        flt = CuckooFilter.from_bytes(
            right["tbl"].iloc[0], right["stash"].iloc[0]
        )
        out["_maybe"] = flt.might_contain_np(
            left[hash_col].to_numpy(dtype=np.int64)
        )
        return out

    cand = candidates.withColumn("_shard", _shard_col(hash_col, num_shards))
    return (
        cand.groupBy("_shard")
        .cogroup(shards.groupBy("shard"))
        .applyInPandas(probe, out_schema)
        .select(*in_cols, "_maybe")
    )
