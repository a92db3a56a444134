"""D1: Bloom filter correctness — no false negatives ever; anti-join with
bloom pre-filter is exactly equal to the exact anti-join."""

from __future__ import annotations

from eget_spark.operators.seen import BloomFilter, anti_join_seen, build_bloom


def test_bloom_no_false_negatives(spark):
    urls = [f"https://h{i % 7}.example.com/p/{i:05d}" for i in range(2000)]
    df = spark.createDataFrame([(u,) for u in urls], "url string").repartition(8)
    bloom = build_bloom(df, "url", expected=2000, fpp=0.01)
    assert all(bloom.contains(u) for u in urls)
    fp = sum(bloom.contains(f"https://other/{i}") for i in range(2000))
    assert fp < 2000 * 0.05  # fpp honored within slack


def test_bloom_merge_equals_single_build():
    a, b = BloomFilter.sized(100, 0.01), BloomFilter.sized(100, 0.01)
    a.add_many([f"u{i}" for i in range(50)])
    b.add_many([f"u{i}" for i in range(50, 100)])
    a.merge(b)
    assert all(a.contains(f"u{i}") for i in range(100))


def test_anti_join_with_bloom_equals_exact(spark):
    cand = spark.createDataFrame(
        [(f"u{i}",) for i in range(500)], "url string"
    ).repartition(4)
    seen = spark.createDataFrame(
        [(f"u{i}",) for i in range(0, 500, 3)], "url string"
    ).repartition(4)
    # high fpp to force the exact-confirm path to do real work
    bloom = build_bloom(seen, "url", expected=64, fpp=0.3)
    exact = {r["url"] for r in cand.join(seen, "url", "left_anti").collect()}
    with_bloom = {
        r["url"]
        for r in anti_join_seen(cand, seen, "url", prefilter=bloom).collect()
    }
    assert with_bloom == exact


def test_bloom_delta_like_build(spark):
    """Per-round delta path: build_bloom(like=) yields a merge-compatible
    filter; merged result contains base+delta with no driver URL collection."""
    base = spark.createDataFrame([(f"a{i}",) for i in range(300)], "url string")
    delta = spark.createDataFrame([(f"b{i}",) for i in range(300)], "url string")
    bloom = build_bloom(base, "url", expected=4096, fpp=0.01)
    d = build_bloom(delta, "url", like=bloom)
    assert (d.m_bits, d.k) == (bloom.m_bits, bloom.k)
    bloom.merge(d)
    assert all(bloom.contains(f"a{i}") for i in range(300))
    assert all(bloom.contains(f"b{i}") for i in range(300))


def test_bloom_null_urls_never_members(spark):
    """Round-3 advice regression: xxhash64(NULL) returns the seed, so null
    rows would all hash to one sentinel; build skips them and the probe
    column reports null as not-seen (the documented None -> False
    contract of the driver-side APIs, now held on DataFrames too)."""
    from pyspark.sql import functions as F

    urls = [f"https://n{i}.example.com/{i}" for i in range(300)]
    df = spark.createDataFrame([(u,) for u in urls] + [(None,)] * 4, "url string")
    bloom = build_bloom(df, "url", expected=300, fpp=0.01)
    probe = spark.createDataFrame([(None,), (urls[0],), (urls[299],)], "url string")
    got = (
        probe.withColumn("hit", bloom.maybe_contains(spark, F.col("url")))
        .orderBy(F.col("url").asc_nulls_first())
        .collect()
    )
    assert got[0]["hit"] is False and got[1]["hit"] and got[2]["hit"]


def test_bloom_vectorized_matches_scalar():
    bf = BloomFilter.sized(500, 0.01)
    vals = [f"u{i}" for i in range(200)]
    bf.add_many(vals)
    import numpy as np

    got = bf.contains_many(vals + ["nope", None])
    assert got[:200].all()
    assert not got[-1]  # None -> False
    assert bool(got[200]) == bf.contains("nope")


def test_bloom_broadcast_cached_until_mutation(spark):
    bf = BloomFilter.sized(100, 0.01)
    bf.add_many(["x"])
    b1 = bf.spark_broadcast(spark)
    b2 = bf.spark_broadcast(spark)
    assert b1 is b2  # no rebroadcast between mutations (verdict fix #8)
    bf.add_many(["y"])
    b3 = bf.spark_broadcast(spark)
    assert b3 is not b1


def test_python_xxh64_matches_spark_xxhash64(spark):
    """The driver-side hash derivation must be bit-identical to the JVM
    url_hash_exprs columns — the whole filter contract (list API inserts
    must be findable by DataFrame probes and vice versa) rests on this."""
    from pyspark.sql import functions as F

    from eget_spark.operators.seen import url_hash_exprs, xxh64_url

    urls = [
        "", "a", "abc", "abcd", "abcdefg", "abcdefgh",
        "https://h0.example.com/p/00000",
        "x" * 31, "y" * 32, "z" * 33, "w" * 100,
        "unicode-✓-café-\U0001f40d",
    ]
    h1e, h2e = url_hash_exprs("url")
    rows = (
        spark.createDataFrame([(u,) for u in urls], "url string")
        .select("url", h1e.alias("h1"), h2e.alias("h2"))
        .collect()
    )
    mask = (1 << 64) - 1
    for r in rows:
        p1, p2 = xxh64_url(r["url"])
        assert p1 == r["h1"] & mask, r["url"]
        assert p2 == r["h2"] & mask, r["url"]


def test_bloom_list_and_dataframe_paths_interoperate(spark):
    """Members inserted by the distributed (JVM-hash) build are found by
    the driver-list probe API and vice versa."""
    from pyspark.sql import functions as F

    urls = [f"https://h{i % 3}.example.com/p/{i:05d}" for i in range(400)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    bf = build_bloom(df, "url", expected=1000)
    # driver-list probes see the DataFrame-built members
    assert bf.contains_many(urls).all()
    # DataFrame probes see driver-list inserts
    bf.add_many(["https://extra.example.com/only-driver"])
    probe = spark.createDataFrame(
        [("https://extra.example.com/only-driver",), ("https://nope.example.com/x",)],
        "url string",
    ).select("url", bf.maybe_contains(spark, F.col("url")).alias("hit"))
    got = {r["url"]: r["hit"] for r in probe.collect()}
    assert got["https://extra.example.com/only-driver"] is True
