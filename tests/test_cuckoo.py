"""Cuckoo-filter URL-seen sidecar (operators/cuckoo.py): the north_star's
"Bloom/cuckoo filter maintained per host-hash partition via mapInPandas" —
the deletable half. Kernel properties + distributed build/upsert/delete/
prefilter exactness against the plain anti-join."""

import numpy as np
from pyspark.sql import functions as F

from webcrawler_spark.operators.cuckoo import (
    chain_contains_hashed,
    chain_delete_hashed,
    chain_insert_hashed,
    cuckoo_new,
    cuckoo_prefilter,
    cuckoo_sidecar_build,
    cuckoo_sidecar_delete,
    cuckoo_sidecar_upsert,
    dedup_against_seen_cuckoo,
    _to_bytes,
)


# ---------------------------------------------------------------------------
# kernel


def _hashes(n, seed):
    rng = np.random.default_rng(seed)
    return (
        rng.integers(-2**63, 2**63 - 1, n, dtype=np.int64),
        rng.integers(-2**63, 2**63 - 1, n, dtype=np.int64),
    )


def test_kernel_no_false_negatives_and_low_fp():
    h1, h2 = _hashes(5000, 7)
    chain = [cuckoo_new(1 << 11)]
    assert chain_insert_hashed(chain, h1, h2) == 5000
    assert len(chain) == 1
    assert chain_contains_hashed(chain, h1, h2).all()
    g1, g2 = _hashes(100_000, 8)
    assert chain_contains_hashed(chain, g1, g2).mean() < 0.005


def test_kernel_delete_exact():
    h1, h2 = _hashes(4000, 11)
    chain = [cuckoo_new(1 << 11)]
    chain_insert_hashed(chain, h1, h2)
    assert len(chain) == 1
    deleted = chain_delete_hashed(chain, h1[:2000], h2[:2000])
    assert deleted.all()
    # survivors keep the no-false-negative contract
    assert chain_contains_hashed(chain, h1[2000:], h2[2000:]).all()


def test_kernel_bytes_are_order_independent():
    h1, h2 = _hashes(5000, 13)
    perm = np.random.default_rng(1).permutation(5000)
    a, b = [cuckoo_new(1 << 11)], [cuckoo_new(1 << 11)]
    chain_insert_hashed(a, h1, h2)
    chain_insert_hashed(b, h1[perm], h2[perm])
    assert len(a) == len(b) == 1
    assert _to_bytes(a[0]) == _to_bytes(b[0])


def test_kernel_eviction_path_at_high_load():
    h1, h2 = _hashes(int(4096 * 0.9), 3)
    chain = [cuckoo_new(1 << 10)]
    assert chain_insert_hashed(chain, h1, h2) == len(h1)
    assert len(chain) == 1  # 90% load fits by displacement, no growth
    assert chain_contains_hashed(chain, h1, h2).all()


# ---------------------------------------------------------------------------
# distributed


def _seen(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("https://h"), (F.col("id") % 13).cast("string"),
                 F.lit(".example.com/p/"), F.col("id").cast("string")).alias("url"),
        F.xxhash64(F.lit("h"), (F.col("id") % 13)).alias("host_hash"),
    )


def test_prefilter_matches_anti_join(spark):
    seen = _seen(spark, 0, 3000)
    cand = _seen(spark, 2000, 5000).select("url", "host_hash")
    side = cuckoo_sidecar_build(seen, n_buckets=8, m_buckets=1 << 11)
    got = dedup_against_seen_cuckoo(
        cand, seen.select("url"), side, n_buckets=8
    )
    want = cand.join(seen.select("url"), "url", "left_anti")
    assert sorted(r.url for r in got.collect()) == sorted(r.url for r in want.collect())


def test_prefilter_no_false_negatives(spark):
    """Every truly-seen candidate must land in the maybe branch."""
    seen = _seen(spark, 0, 2000)
    side = cuckoo_sidecar_build(seen, n_buckets=8, m_buckets=1 << 11)
    new, maybe = cuckoo_prefilter(seen.select("url", "host_hash"), side, n_buckets=8)
    assert new.count() == 0
    assert maybe.count() == 2000


def test_upsert_equals_full_rebuild_membership(spark):
    base = _seen(spark, 0, 1500)
    delta = _seen(spark, 1500, 2500)
    side0 = cuckoo_sidecar_build(base, n_buckets=8, m_buckets=1 << 11)
    side1 = cuckoo_sidecar_upsert(side0, delta, n_buckets=8, m_buckets=1 << 11)
    allk = _seen(spark, 0, 2500)
    new, maybe = cuckoo_prefilter(allk.select("url", "host_hash"), side1, n_buckets=8)
    assert new.count() == 0 and maybe.count() == 2500
    # per-bucket key accounting carried through the upsert
    assert (
        side1.agg(F.sum("n_keys")).collect()[0][0] == 2500
    )


def test_delete_makes_urls_readmittable(spark):
    seen = _seen(spark, 0, 2000)
    evict = seen.filter(F.xxhash64("url") % 5 == 0)
    side = cuckoo_sidecar_build(seen, n_buckets=8, m_buckets=1 << 11)
    side2 = cuckoo_sidecar_delete(side, evict, n_buckets=8)
    new, maybe = cuckoo_prefilter(
        evict.select("url", "host_hash"), side2, n_buckets=8
    )
    # evicted urls read definitely-new again (fp collisions aside: this
    # corpus has none at 16-bit fingerprints — asserted exactly)
    assert maybe.count() == 0
    assert new.count() == evict.count()
    # non-evicted urls still have no false negatives
    keep = seen.join(evict.select("url"), "url", "left_anti")
    n2, m2 = cuckoo_prefilter(keep.select("url", "host_hash"), side2, n_buckets=8)
    assert n2.count() == 0


def test_build_deterministic_across_partitioning(spark):
    seen = _seen(spark, 0, 3000)
    a = cuckoo_sidecar_build(seen.repartition(2), n_buckets=4, m_buckets=1 << 11)
    b = cuckoo_sidecar_build(seen.repartition(17), n_buckets=4, m_buckets=1 << 11)
    ra = {r.bucket: tuple(bytes(t) for t in r.tables) for r in a.collect()}
    rb = {r.bucket: tuple(bytes(t) for t in r.tables) for r in b.collect()}
    assert ra == rb


# ---------------------------------------------------------------------------
# chained growth (hot-bucket skew: the sidecar grows instead of aborting)


def test_chain_grows_past_single_table_capacity():
    from webcrawler_spark.operators.cuckoo import (
        chain_contains_hashed,
        chain_delete_hashed,
        chain_insert_hashed,
    )

    # 3000 keys into a 128-bucket (512-slot) first table: must chain
    h1, h2 = _hashes(3000, 21)
    chain = [cuckoo_new(1 << 7)]
    assert chain_insert_hashed(chain, h1, h2) == 3000
    assert len(chain) >= 2                      # grew
    assert chain[1].shape[0] == 2 * chain[0].shape[0]   # doubled
    assert chain_contains_hashed(chain, h1, h2).all()   # no false negatives
    g1, g2 = _hashes(50_000, 22)
    assert chain_contains_hashed(chain, g1, g2).mean() < 0.02
    # delete across sub-filters: every key removable exactly once
    assert chain_delete_hashed(chain, h1, h2).all()
    assert not chain_contains_hashed(chain, h1, h2).any() or \
        chain_contains_hashed(chain, h1, h2).mean() < 0.02


def test_chain_bytes_order_independent():
    from webcrawler_spark.operators.cuckoo import chain_insert_hashed, _to_bytes

    h1, h2 = _hashes(2000, 31)
    perm = np.random.default_rng(2).permutation(2000)
    a, b = [cuckoo_new(1 << 7)], [cuckoo_new(1 << 7)]
    chain_insert_hashed(a, h1, h2)
    chain_insert_hashed(b, h1[perm], h2[perm])
    assert [_to_bytes(t) for t in a] == [_to_bytes(t) for t in b]


def test_try_insert_failure_leaves_table_unchanged():
    from webcrawler_spark.operators.cuckoo import _fingerprints, _i1, _try_insert

    h1, h2 = _hashes(480, 41)  # 93.75% of a 128-bucket table: fits
    chain = [cuckoo_new(1 << 7)]
    chain_insert_hashed(chain, h1, h2)
    assert len(chain) == 1
    t = chain[0]
    g1, g2 = _hashes(200, 42)
    failed = 0
    for f, i in zip(_fingerprints(g2).tolist(), _i1(g1, t.shape[0]).tolist()):
        before = _to_bytes(t)
        if not _try_insert(t, f, i):
            # the failing insert undid its whole displacement path
            assert _to_bytes(t) == before
            failed += 1
    assert failed  # 680 keys > 512 slots: some insert must fail
    # members inserted before (and around) the failures are still present
    assert chain_contains_hashed(chain, h1, h2).all()


def test_distributed_upsert_grows_hot_bucket(spark):
    """A hot bucket (everything hashes to few buckets) upserted past the
    base capacity chains instead of raising — the 4M-page bench failure
    mode, reproduced small."""
    base = _seen(spark, 0, 400)
    side0 = cuckoo_sidecar_build(base, n_buckets=2, m_buckets=1 << 6)
    delta = _seen(spark, 400, 1600)
    side1 = cuckoo_sidecar_upsert(side0, delta, n_buckets=2, m_buckets=1 << 6)
    rows = side1.collect()
    assert sum(r.n_keys for r in rows) == 1600
    assert any(len(r.tables) > 1 for r in rows)         # chained
    allk = _seen(spark, 0, 1600)
    new, maybe = cuckoo_prefilter(allk.select("url", "host_hash"), side1, n_buckets=2)
    assert new.count() == 0 and maybe.count() == 1600   # no false negatives


def test_chain_reinsert_missing_repairs_collateral_strips():
    """The chained-delete collision repair (ADVICE r4 low): simulate a
    collateral strip — a kept key's only copy removed by a colliding
    delete — and verify chain_reinsert_missing restores membership for
    every surviving key while leaving genuinely-deleted keys to the safe
    false-positive path."""
    import numpy as np
    from webcrawler_spark.operators.cuckoo import (
        chain_contains_hashed,
        chain_delete_hashed,
        chain_insert_hashed,
        chain_reinsert_missing,
        cuckoo_new,
    )

    rng = np.random.default_rng(11)
    h1 = rng.integers(-(2**62), 2**62, size=3000, dtype=np.int64)
    h2 = rng.integers(-(2**62), 2**62, size=3000, dtype=np.int64)
    chain = [cuckoo_new(256)]  # tiny first table: forces real chain growth
    chain_insert_hashed(chain, h1, h2)
    assert len(chain) > 1

    # delete a slice of due keys, then simulate the worst case: strip a few
    # KEPT keys' copies directly (what a fingerprint collision does)
    due = slice(0, 300)
    kept1, kept2 = h1[300:], h2[300:]
    chain_delete_hashed(chain, h1[due], h2[due])
    chain_delete_hashed(chain, kept1[:5], kept2[:5])  # the collateral strips

    assert not chain_contains_hashed(chain, kept1[:5], kept2[:5]).any()
    n_fixed = chain_reinsert_missing(chain, kept1, kept2)
    assert n_fixed >= 5
    # contract restored: every surviving key answers "maybe" again
    assert chain_contains_hashed(chain, kept1, kept2).all()


def test_skewed_delete_touches_only_its_bucket(spark):
    """Deletions confined to one of 8 buckets: the repair's kept side is
    semi-joined to that bucket, so every other bucket's row passes through
    byte for byte, no kept key goes false-negative, and the bucket's
    n_keys drops by exactly the deleted count."""
    seen = _seen(spark, 0, 3000)
    bucket = (F.col("host_hash") % 8).cast("int")
    hot = seen.select(bucket.alias("b")).first()["b"]
    evict = seen.filter((bucket == hot) & (F.xxhash64("url") % 3 == 0))
    kept = seen.join(evict.select("url"), "url", "left_anti")
    side = cuckoo_sidecar_build(seen, n_buckets=8, m_buckets=1 << 6).localCheckpoint()
    side2 = cuckoo_sidecar_delete(side, evict, n_buckets=8, kept=kept)

    def rows(df):
        return {r.bucket: (r.m_buckets, tuple(bytes(t) for t in r.tables), r.n_keys)
                for r in df.collect()}

    before, after = rows(side), rows(side2)
    assert set(before) == set(after) and len(before) > 1
    assert len(before[hot][1]) > 1  # the touched bucket has really chained
    for b in before:
        if b != hot:
            assert after[b] == before[b]
    n_evict = evict.count()
    assert n_evict > 0
    assert before[hot][2] - after[hot][2] == n_evict
    new, _ = cuckoo_prefilter(kept.select("url", "host_hash"), side2, n_buckets=8)
    assert new.count() == 0
