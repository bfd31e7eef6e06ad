"""BloomFilter kernel invariants (the streaming URL-seen state's bitset):
ZERO false negatives ever; false-positive rate within a sane bound of the
configured fpp; bits independent of how and when the inserts are split."""

import numpy as np

from crawler_spark.operators.bloom import BloomFilter


def _hashes(seed: int, n: int) -> np.ndarray:
    return np.random.RandomState(seed).randint(
        -(2**63), 2**63 - 1, size=n, dtype=np.int64
    )


def _empty(n: int, fpp: float = 0.01) -> BloomFilter:
    num_bits, k = BloomFilter.sized_for(n, fpp)
    return BloomFilter(np.zeros(num_bits // 64, dtype=np.uint64), k)


def test_no_false_negatives_and_fp_bound():
    n = 5000
    members = _hashes(1, n)
    flt = _empty(n)
    flt.add_np(members)

    # every member must probe positive
    assert flt.might_contain_np(members).all()

    # non-members: FP rate near fpp (generous 5x bound for small samples)
    non = np.setdiff1d(_hashes(2, 2 * n), members)
    assert flt.might_contain_np(non).mean() < 0.05


def test_partitioned_build_matches_single_partition():
    """Adding the hashes in 8 chunks into separate bitsets and OR-ing them
    gives the same bits as one add — the streaming state may fold a host's
    URLs in over any number of micro-batches."""
    h = _hashes(3, 2000)
    one = _empty(2000)
    one.add_np(h)
    merged = np.zeros_like(one.bits)
    for chunk in np.array_split(h, 8):
        part = _empty(2000)
        part.add_np(chunk)
        merged |= part.bits
    assert np.array_equal(merged, one.bits)
    assert one.bits.any()


def test_incremental_merge_matches_from_scratch():
    """Adding a base set and then two deltas in place gives the bits of
    one add over the union — the streaming state's per-trigger update."""
    h = _hashes(4, 2000)
    inc = _empty(2000)
    for part in (h[:1000], h[1000:1600], h[1600:]):
        inc.add_np(part)
    full = _empty(2000)
    full.add_np(h)
    assert np.array_equal(inc.bits, full.bits)
