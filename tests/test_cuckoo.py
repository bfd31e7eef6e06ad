"""Cuckoo-filter URL-seen tier invariants (SURVEY §2.2 D1, north-star
"bloom-filter/cuckoo-filter URL-seen set"): ZERO false negatives ever,
bounded false positives, deterministic bytes under any input order, and —
the capability a bloom lacks — deletion that preserves the
no-false-negative contract for the surviving members."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from crawler_spark.operators.cuckoo import (
    CuckooFilter,
    build_cuckoo_sharded,
    cuckoo_probe_sharded,
    delete_cuckoo_shards,
    merge_cuckoo_shards,
)


def _hashes(seed: int, n: int) -> np.ndarray:
    return np.random.RandomState(seed).randint(
        -(2**63), 2**63 - 1, size=n, dtype=np.int64
    )


# -- pure numpy kernel -------------------------------------------------------

def test_kernel_no_false_negatives_and_fp_bound():
    ins = _hashes(1, 50_000)
    neg = np.setdiff1d(_hashes(2, 50_000), ins)
    f = CuckooFilter.empty(CuckooFilter.buckets_for(ins.shape[0]))
    f.insert_np(ins)
    assert (~f.might_contain_np(ins)).sum() == 0
    assert f.might_contain_np(neg).mean() < 0.01


def test_kernel_deterministic_under_input_order():
    ins = _hashes(3, 20_000)
    nb = CuckooFilter.buckets_for(ins.shape[0])
    a = CuckooFilter.empty(nb)
    a.insert_np(ins)
    b = CuckooFilter.empty(nb)
    b.insert_np(ins[::-1].copy())
    assert a.to_bytes() == b.to_bytes()


def test_kernel_delete_preserves_survivors():
    ins = _hashes(4, 30_000)
    f = CuckooFilter.empty(CuckooFilter.buckets_for(ins.shape[0]))
    f.insert_np(ins)
    gone = ins[:3_000]
    assert f.delete_np(gone).all()
    kept = np.setdiff1d(ins, gone)
    # survivors keep the no-false-negative guarantee ...
    assert (~f.might_contain_np(kept)).sum() == 0
    # ... and the deleted hashes mostly read not-seen again
    assert f.might_contain_np(gone).mean() < 0.01


def test_kernel_insert_after_delete_keeps_survivors():
    """Regression: deletion used to leave a mid-bucket hole while
    placement writes at slot index = occupancy (prefix-packing
    assumption), so the next insert into that bucket OVERWROTE the last
    live fingerprint — a false negative on a still-inserted item. The
    bucket is re-packed on delete; this pins it with a fully colliding
    bucket (same i1, distinct fps)."""
    nb = 8
    f = CuckooFilter.empty(nb)
    mk = lambda fp: np.array([(3 << 16) | fp], dtype=np.int64)  # bucket 3
    for fp in (1, 2, 3):
        f.insert_np(mk(fp))
    assert f.delete_np(mk(1)).all()
    f.insert_np(mk(4))  # would have clobbered fp=3 pre-fix
    for fp in (2, 3, 4):
        assert f.might_contain_np(mk(fp)).all(), fp
    assert not f.might_contain_np(mk(1)).any()
    # interleaved delete/insert churn at volume: survivors never lost
    ins = _hashes(7, 20_000)
    g = CuckooFilter.empty(CuckooFilter.buckets_for(ins.shape[0]))
    g.insert_np(ins[:15_000])
    assert g.delete_np(ins[:5_000]).all()
    g.insert_np(ins[15_000:])
    kept = np.setdiff1d(ins, ins[:5_000])
    assert (~g.might_contain_np(kept)).sum() == 0


def test_kernel_stash_catches_overflow():
    """An undersized table forces eviction-chain failures; the stash must
    keep the no-false-negative contract anyway."""
    ins = _hashes(5, 4_000)
    f = CuckooFilter.empty(64)  # 64*4 slots for 4k items -> saturated
    f.insert_np(ins)
    assert f.stash.size > 0
    assert (~f.might_contain_np(ins)).sum() == 0


def test_kernel_roundtrip_bytes():
    ins = _hashes(6, 10_000)
    f = CuckooFilter.empty(CuckooFilter.buckets_for(ins.shape[0]))
    f.insert_np(ins)
    tbl, stash = f.to_bytes()
    g = CuckooFilter.from_bytes(tbl, stash)
    assert np.array_equal(f.table, g.table)
    assert np.array_equal(f.stash, g.stash)


# -- sharded (distributed) build / probe / merge / delete --------------------

def test_sharded_probe_no_false_negatives(spark):
    n = 5_000
    members = spark.range(n).select(F.xxhash64("id").alias("h"))
    shards = build_cuckoo_sharded(members, "h", num_shards=8, expected_items=n)
    probed = cuckoo_probe_sharded(members, shards, "h")
    assert probed.filter(~F.col("_maybe")).count() == 0
    non = spark.range(n, 3 * n).select(F.xxhash64("id").alias("h"))
    fp = cuckoo_probe_sharded(non, shards, "h").filter(F.col("_maybe")).count()
    assert fp / (2 * n) < 0.02


def test_sharded_merge_matches_scratch_membership(spark):
    """Incremental insert == from-scratch build over the union, by
    MEMBERSHIP (table bytes may differ — insert order differs — but every
    member of either input must probe positive and FPs stay bounded)."""
    a = spark.range(3_000).select(F.xxhash64("id").alias("h"))
    b = spark.range(3_000, 5_000).select(F.xxhash64("id").alias("h"))
    base = build_cuckoo_sharded(a, "h", num_shards=4, expected_items=6_000)
    nb = int(base.select(F.max("num_buckets")).collect()[0][0])
    merged = merge_cuckoo_shards(base, b, "h", num_shards=4, num_buckets=nb)
    both = a.unionByName(b)
    assert cuckoo_probe_sharded(both, merged, "h").filter(
        ~F.col("_maybe")
    ).count() == 0
    non = spark.range(5_000, 9_000).select(F.xxhash64("id").alias("h"))
    fp = cuckoo_probe_sharded(non, merged, "h").filter(F.col("_maybe")).count()
    assert fp / 4_000 < 0.02
    # untouched shards pass through: same shard count as the base build
    assert merged.count() == base.count()


def test_sharded_delete_evicts_without_rebuild(spark):
    n = 4_000
    members = spark.range(n).select(F.xxhash64("id").alias("h"))
    shards = build_cuckoo_sharded(members, "h", num_shards=4, expected_items=n)
    nb = int(shards.select(F.max("num_buckets")).collect()[0][0])
    expired = spark.range(1_000).select(F.xxhash64("id").alias("h"))
    kept = spark.range(1_000, n).select(F.xxhash64("id").alias("h"))
    after = delete_cuckoo_shards(shards, expired, "h", num_shards=4, num_buckets=nb)
    assert cuckoo_probe_sharded(kept, after, "h").filter(
        ~F.col("_maybe")
    ).count() == 0
    # deleted hashes read (mostly) not-seen again — the filter forgot them
    still = cuckoo_probe_sharded(expired, after, "h").filter(
        F.col("_maybe")
    ).count()
    assert still / 1_000 < 0.02


def test_probe_shard_count_mismatch_raises(spark):
    import pytest

    members = spark.range(1_000).select(F.xxhash64("id").alias("h"))
    shards = build_cuckoo_sharded(members, "h", num_shards=4)
    with pytest.raises(Exception, match="shard-count mismatch"):
        cuckoo_probe_sharded(members, shards, "h", num_shards=8).collect()


def test_probe_derives_num_shards(spark):
    """num_shards=None derives the modulus from the stored shard rows —
    callers cannot desynchronize what they never supply."""
    members = spark.range(1_000).select(F.xxhash64("id").alias("h"))
    shards = build_cuckoo_sharded(members, "h", num_shards=4)
    pos = cuckoo_probe_sharded(members, shards, "h")
    assert pos.filter(~F.col("_maybe")).count() == 0


def test_url_seen_filter_cuckoo_matches_exact(spark):
    """The engine-facing contract: cuckoo prefilter + exact anti-join
    drops EXACTLY the seen set (bit-identical to the plain exact filter),
    honoring dont_filter — including a dont_filter row whose URL is seen,
    and canonicalized hashes as the crawl loop computes them."""
    from crawler_spark.functions.urlnorm import canonicalize_col
    from crawler_spark.operators.dedup import url_seen_filter

    def page(ids):
        return F.concat(F.lit("https://s.example/p"), ids).alias("url")

    canon = F.xxhash64(canonicalize_col(F.col("url")))
    inputs = [
        # 2k synthetic URLs, every third seen, every 97th dont_filter
        (
            spark.range(2_000)
            .select(page(F.col("id")),
                    (F.col("id") % 97 == 0).alias("dont_filter"))
            .withColumn("url_hash", F.xxhash64("url")),
            spark.range(0, 2_000, 3).select(page(F.col("id")))
            .withColumn("url_hash", F.xxhash64("url")),
            None,
        ),
        # seen 0..199, candidates 150..249 plus a dont_filter probe of a
        # seen URL
        (
            spark.createDataFrame(
                [(f"http://s/{i}", False) for i in range(150, 250)]
                + [("http://s/42", True)],
                "url string, dont_filter boolean",
            ).withColumn("url_hash", canon),
            spark.createDataFrame(
                [(f"http://s/{i}",) for i in range(200)], "url string"
            ).withColumn("url_hash", canon),
            {f"http://s/{i}" for i in range(200, 250)} | {"http://s/42"},
        ),
    ]
    for cand, seen, expect in inputs:
        shards = build_cuckoo_sharded(seen, "url_hash", num_shards=4)
        got = sorted(
            (r.url, r.dont_filter)
            for r in url_seen_filter(spark, cand, seen, shards).collect()
        )
        want = sorted(
            (r.url, r.dont_filter)
            for r in url_seen_filter(spark, cand, seen).collect()
        )
        assert got == want
        if expect is not None:
            assert {u for u, _ in got} == expect
