"""Cuckoo-filter seen set: membership, deletion, merge, distributed build,
and anti-join equivalence with the exact path."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from eget_spark.operators.cuckoo import ShardedCuckoo, build_cuckoo
from eget_spark.operators.seen import anti_join_seen

URLS = [f"https://h{i % 17}.example.com/p/{i}" for i in range(5000)]
OTHERS = [f"https://h{i % 13}.example.net/q/{i}" for i in range(5000)]


def test_no_false_negatives_and_low_fp():
    cf = ShardedCuckoo.sized(len(URLS), n_shards=16)
    cf.add_many(URLS)
    assert cf.contains_many(URLS).all()
    fp_rate = cf.contains_many(OTHERS).mean()
    assert fp_rate < 0.02, fp_rate


def test_delete_restores_nonmembership():
    cf = ShardedCuckoo.sized(2000, n_shards=8)
    cf.add_many(URLS[:2000])
    victims = URLS[500:700]
    assert cf.delete_many(victims) == len(victims)
    # non-deleted URLs still all present (deletion never disturbs others)
    keep = URLS[:500] + URLS[700:2000]
    assert cf.contains_many(keep).all()
    # deleted ones are gone modulo fingerprint collisions (<2%)
    assert cf.contains_many(victims).mean() < 0.05


def test_stash_keeps_correctness_when_overfull():
    # tiny filter, ~2x overload: inserts must never drop membership
    cf = ShardedCuckoo(2, 64)  # capacity 2*64*4 = 512 slots
    urls = URLS[:800]
    cf.add_many(urls)
    assert cf.contains_many(urls).all()
    assert cf.load_factor() >= 1.0  # table full, overflow in stash


def test_merge_equals_union():
    a = ShardedCuckoo.sized(4000, n_shards=8)
    b = ShardedCuckoo.sized(4000, n_shards=8)
    a.add_many(URLS[:2000])
    b.add_many(URLS[2000:4000])
    a.merge(b)
    assert a.contains_many(URLS[:4000]).all()


def test_none_handling():
    cf = ShardedCuckoo.sized(10)
    cf.add_many(["x", None, "y"])
    got = cf.contains_many([None, "x", "z" * 3, "y"])
    assert got[0] == False and got[1] and got[3]  # noqa: E712


def test_distributed_build_matches_driver_build(spark):
    df = spark.createDataFrame([(u,) for u in URLS[:3000]], "url string")
    dist = build_cuckoo(df, "url", expected=3000, n_shards=8)
    assert dist.contains_many(URLS[:3000]).all()
    local = ShardedCuckoo.sized(3000, n_shards=8)
    local.add_many(URLS[:3000])
    # same membership on members AND on a probe set (same routing/fp math)
    probe = URLS[:3000] + OTHERS[:1000]
    assert (dist.contains_many(probe) == local.contains_many(probe)).all()


def test_distributed_delta_merge(spark):
    base = build_cuckoo(
        spark.createDataFrame([(u,) for u in URLS[:1000]], "url string"),
        "url",
        expected=4000,
        n_shards=8,
    )
    delta = build_cuckoo(
        spark.createDataFrame([(u,) for u in URLS[1000:2000]], "url string"),
        "url",
        like=base,
    )
    base.merge(delta)
    assert base.contains_many(URLS[:2000]).all()


def test_anti_join_equals_exact(spark):
    cand = spark.createDataFrame([(u,) for u in URLS[:1500]], "url string")
    seen = spark.createDataFrame([(u,) for u in URLS[1000:1250]], "url string")
    cf = build_cuckoo(seen, "url", expected=1000, n_shards=8)
    got = sorted(
        r["url"]
        for r in anti_join_seen(cand, seen, "url", prefilter=cf).collect()
    )
    want = sorted(set(URLS[:1500]) - set(URLS[1000:1250]))
    assert got == want


def test_broadcast_cached_until_mutation(spark):
    cf = ShardedCuckoo.sized(100)
    cf.add_many(URLS[:100])
    b1 = cf.spark_broadcast(spark)
    b2 = cf.spark_broadcast(spark)
    assert b1 is b2
    cf.add_many(URLS[100:110])
    b3 = cf.spark_broadcast(spark)
    assert b3 is not b1


def test_delete_is_table_first_not_stash_first():
    """Round-3 advice regression (high): deleting a TABLE-resident member
    while an unrelated member with a colliding 16-bit fp sits in the stash
    must clear the table copy and leave the stash entry alone.  The old
    stash-first order consumed the stash entry (false negative for the
    stashed member) and left the deleted member's copy alive."""
    from eget_spark.operators.cuckoo import CuckooShard

    s = CuckooShard(64)  # mask 63; fp=7 displaces by 19, so orbit(3,7)={3,16}
    s.insert(3, 7)       # member A, table-resident at bucket 3
    s.stash.append((5, 7))  # member B: colliding fp, OFF A's orbit
    assert s.delete(3, 7) is True
    assert s.table[3].tolist().count(7) == 0, "A's table copy must be cleared"
    assert s.stash == [(5, 7)], "B's stash entry must survive A's delete"


def test_delete_stash_matches_own_orbit_only():
    from eget_spark.operators.cuckoo import CuckooShard

    # stash-resident member on its own orbit is deletable via either bucket
    s = CuckooShard(64)
    s.stash.append((16, 7))  # orbit(3,7) = {3, 16}
    assert s.delete(3, 7) is True and s.stash == []
    # off-orbit stash entry is a DIFFERENT member: delete must miss it
    s2 = CuckooShard(64)
    s2.stash.append((5, 7))
    assert s2.delete(3, 7) is False and s2.stash == [(5, 7)]


def test_contains_stash_orbit_constrained():
    """Stash probes match (fp, bucket-orbit), not fp alone — symmetric with
    delete() and strictly fewer false positives."""
    from eget_spark.operators.cuckoo import CuckooShard

    s = CuckooShard(64)
    s.stash.append((5, 7))  # a member whose buckets include 5
    on = s.contains_batch(np.array([5], dtype=np.uint64), np.array([7], dtype=np.uint16))
    off = s.contains_batch(np.array([3], dtype=np.uint64), np.array([7], dtype=np.uint16))
    assert bool(on[0]) and not bool(off[0])


def test_expire_dedupes_duplicate_rows(spark):
    """Round-3 advice regression (low): duplicate URLs in the expiry input
    must delete each member once — extra deletes would strip OTHER members'
    colliding fingerprints (false negatives) and inflate the count."""
    from eget_spark.operators.cuckoo import expire_from_filter

    cf = ShardedCuckoo.sized(1000, n_shards=4)
    cf.add_many(URLS[:1000])
    dup = spark.createDataFrame(
        [(u,) for u in URLS[100:150] * 5] + [(None,)], "url string"
    )
    assert expire_from_filter(cf, dup, "url") == 50
    keep = URLS[:100] + URLS[150:1000]
    assert cf.contains_many(keep).all(), "non-expired members must survive"


def test_null_urls_never_members(spark):
    """Round-3 advice regression (low): xxhash64(NULL) is the seed sentinel;
    builds must skip null rows and probes must report null as not-seen."""
    df = spark.createDataFrame(
        [(u,) for u in URLS[:200]] + [(None,)] * 3, "url string"
    )
    cf = build_cuckoo(df, "url", expected=200, n_shards=4)
    probe = spark.createDataFrame([(None,), (URLS[0],)], "url string")
    got = (
        probe.withColumn("hit", cf.maybe_contains(spark, F.col("url")))
        .orderBy(F.col("url").asc_nulls_first())
        .collect()
    )
    assert got[0]["hit"] is False and got[1]["hit"] is True


def test_cuckoo_set_semantics_property():
    """Property: after ANY interleaving of adds and member-deletes, every
    current member is still reported present (no false negatives — the
    D1 correctness contract the crawl's exact-confirm path relies on)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    universe = [f"https://u{i}.test/p/{i}" for i in range(60)]

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(
            st.tuples(st.booleans(), st.integers(min_value=0, max_value=59)),
            max_size=150,
        )
    )
    def run(ops):
        cf = ShardedCuckoo(4, 64)
        members: set[str] = set()
        for is_add, i in ops:
            u = universe[i]
            if is_add:
                cf.add_many([u])
                members.add(u)
            elif u in members:
                # delete only members (deleting a non-member may evict a
                # colliding fingerprint - documented cuckoo caveat)
                cf.delete_many([u])
                members.discard(u)
        if members:
            assert cf.contains_many(sorted(members)).all()

    run()
