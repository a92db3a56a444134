"""Distributed global sequencing == single-partition orderBy rank."""

from __future__ import annotations

import random

from eget_spark.operators.sequence import (
    with_global_prefix_sums,
    with_global_seq,
)


def test_global_seq_matches_sorted_order(spark):
    rng = random.Random(7)
    rows = [(rng.randrange(10**6), f"u{rng.randrange(10**9):09d}") for _ in range(5000)]
    rows = list({(a, b) for a, b in rows})  # unique keys (ties not allowed)
    df = spark.createDataFrame(rows, "parent_seq long, url string").repartition(16)
    sr = with_global_seq(df, ["parent_seq", "url"], start=42)
    got = [
        (r["parent_seq"], r["url"], r["seq"])
        for r in sr.df.orderBy("seq").collect()
    ]
    want = sorted(rows)
    assert [g[:2] for g in got] == want
    assert [g[2] for g in got] == list(range(42, 42 + len(rows)))
    assert sr.total == len(rows)
    sr.unpersist()


def test_global_seq_empty(spark):
    df = spark.createDataFrame([], "parent_seq long, url string")
    sr = with_global_seq(df, ["parent_seq", "url"], start=0)
    assert sr.df.count() == 0
    assert sr.total == 0
    sr.unpersist()


def test_prefix_sums_small_path_matches_scale_path(spark):
    """Round 6: with_global_prefix_sums is size-adaptive.  The small-input
    single-window path must produce exactly the same cumulative sums,
    totals, and column contract (`_pid` included — the Wasserstein caller
    windows by it) as the forced range-exchange scale path."""
    import random

    from eget_spark.operators.sequence import with_global_prefix_sums

    rng = random.Random(13)
    keys = random.Random(13).sample(range(10**6), 3000)
    rows = [(k, rng.randrange(100), rng.randrange(100)) for k in keys]
    df = spark.createDataFrame(rows, "v long, ca long, cb long").repartition(8)
    small = with_global_prefix_sums(df, ["v"], ["ca", "cb"])
    big = with_global_prefix_sums(df, ["v"], ["ca", "cb"], small_threshold=0)
    cols = ["v", "ca", "cb", "ca_cum", "cb_cum"]
    got_s = [tuple(r[c] for c in cols) for r in small.df.orderBy("v").collect()]
    got_b = [tuple(r[c] for c in cols) for r in big.df.orderBy("v").collect()]
    assert got_s == got_b
    assert small.totals == big.totals
    assert small.totals["ca"] == sum(r[1] for r in rows)
    assert "_pid" in small.df.columns and "_pid" in big.df.columns
    small.unpersist()
    big.unpersist()


def test_prefix_sums_empty(spark):
    df = spark.createDataFrame([], "v long, ca long")
    res = with_global_prefix_sums(df, ["v"], ["ca"])
    assert res.df.count() == 0
    assert res.totals == {"ca": 0}
    res.unpersist()


def test_global_seq_bucketed_matches_range_path(spark):
    """The bucketed strategy (monotone bucket_expr, no sampling pass) must
    produce the exact same global ranks as the range-exchange path."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(11)
    rows = list(
        {(rng.randrange(5000), f"u{rng.randrange(10**9):09d}") for _ in range(4000)}
    )
    df = spark.createDataFrame(rows, "parent_seq long, url string").repartition(8)
    a = with_global_seq(df, ["parent_seq", "url"], start=7)
    b = with_global_seq(
        df,
        ["parent_seq", "url"],
        start=7,
        bucket_expr=F.floor(F.col("parent_seq") / 64),
    )
    got_a = [(r["parent_seq"], r["url"], r["seq"]) for r in a.df.orderBy("seq").collect()]
    got_b = [(r["parent_seq"], r["url"], r["seq"]) for r in b.df.orderBy("seq").collect()]
    assert got_a == got_b
    assert b.total == len(rows)
    a.unpersist()
    b.unpersist()


def test_global_seq_bucket_failure_restores_aqe(spark):
    """A bucket_expr that does not resolve raises, and the session's AQE
    setting is what it was before the call (the bucket branch's AQE-off
    scope restores it on the way out)."""
    import pytest
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    df = spark.createDataFrame([(1,), (2,)], "k long")
    with pytest.raises(AnalysisException):
        with_global_seq(df, ["k"], bucket_expr=F.col("nope"))
    assert spark.conf.get(key) == before


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_offset_tables_plan_as_local_relations(spark):
    """The driver-side offset and prefix-seed tables are inline local
    relations: over a ``spark.range`` input neither result plan reads a
    Python-built RDD (``Scan ExistingRDD``), and each shows the
    ``LocalTableScan`` its broadcast join reads."""
    from pyspark.sql import functions as F

    df = spark.range(2000).select(
        (F.col("id") * 7 % 2000).alias("k"), (F.col("id") % 5).alias("c")
    )
    results = [
        with_global_seq(df, ["k"], bucket_expr=F.floor(F.col("k") / 64)),
        with_global_seq(df, ["k"], num_partitions=4, small_threshold=0),
        with_global_prefix_sums(df, ["k"], ["c"], num_partitions=4, small_threshold=0),
    ]
    for res in results:
        plan = _executed_plan(res.df)
        assert "ExistingRDD" not in plan
        assert "LocalTableScan" in plan
        res.unpersist()
