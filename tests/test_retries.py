"""Bounded per-URL fetch retries (CrawlConfig.max_retries — the SURVEY
§2 mapping of the reference's tenacity x3 retry: per-URL re-enqueue next
round, bounded)."""

from __future__ import annotations

from pyspark.sql import functions as F

from eget_spark.plans.crawl import CrawlConfig, crawl

_DDL = (
    "doc_id string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>"
)


def _corpus(spark):
    def link(url, off):
        return ("link", "anchor", url, off)  # target rides in media_ref (X1)

    def text(t, off):
        return ("text", t, "", off)

    a, b, dead = (
        "http://h0.example.com/0",
        "http://h0.example.com/1",
        "http://h0.example.com/dead",
    )
    rows = [
        (a, [text("root page", 0), link(b, 1), link(dead, 2)]),
        (b, [text("leaf page", 0)]),
        # `dead` is linked but absent from the corpus -> a permanent miss
    ]
    return spark.createDataFrame(rows, _DDL), a, b, dead


def test_retries_reattempt_and_emit_one_missing_row(spark):
    docs, a, b, dead = _corpus(spark)
    cfg = CrawlConfig(
        seed_urls=[a], max_depth=3, max_pages=100,
        respect_robots_txt=False, max_retries=2,
    )
    res = crawl(spark, docs, cfg, robots=None)
    # the dead URL is attempted in rounds 2, 3, 4 (admission + 2 retries):
    # attempted totals are 1 (seed), 2 (b + dead), 1 (retry), 1 (retry)
    assert [s.attempted for s in res.stats] == [1, 2, 1, 1]
    assert [s.failed for s in res.stats] == [0, 1, 1, 1]
    # exactly ONE missing page row, at the LAST attempt round
    miss = res.pages.where(F.col("status") == "missing").collect()
    assert len(miss) == 1 and miss[0]["url"] == dead and miss[0]["round"] == 4
    # ok pages and seen set are unaffected by the retry machinery
    assert {r["url"] for r in res.pages.where("status = 'ok'").collect()} == {a, b}
    assert res.seen.count() == 3


def test_retries_off_matches_previous_single_attempt_behavior(spark):
    docs, a, b, dead = _corpus(spark)
    cfg = CrawlConfig(
        seed_urls=[a], max_depth=3, max_pages=100, respect_robots_txt=False,
    )
    res = crawl(spark, docs, cfg, robots=None)
    assert [s.attempted for s in res.stats] == [1, 2]
    miss = res.pages.where(F.col("status") == "missing").collect()
    assert len(miss) == 1 and miss[0]["url"] == dead and miss[0]["round"] == 2


def test_retries_table_mode_emits_missing_once_after_exhaustion(spark, tmp_path):
    docs, a, b, dead = _corpus(spark)
    cfg = CrawlConfig(
        seed_urls=[a], max_depth=3, max_pages=100,
        respect_robots_txt=False, max_retries=1,
    )
    res = crawl(spark, docs, cfg, robots=None, table_dir=str(tmp_path / "run"))
    miss = res.pages.where(F.col("status") == "missing").collect()
    assert len(miss) == 1 and miss[0]["url"] == dead and miss[0]["round"] == 3
    # retry attempts are visible in the stats trail
    assert [s.attempted for s in res.stats] == [1, 2, 1]


def _pages(res):
    return sorted((r["url"], r["status"], r["round"]) for r in res.pages.collect())


def test_resume_keeps_in_flight_retries(spark, tmp_path):
    """A crawl stopped while the dead URL's retries are in flight resumes
    with its attempt count (carried by the committed pending row): same
    pages, same per-round attempts as a straight run."""
    docs, a, b, dead = _corpus(spark)
    kw = dict(
        seed_urls=[a], max_depth=3, max_pages=100,
        respect_robots_txt=False, max_retries=2,
    )
    straight = crawl(spark, docs, CrawlConfig(**kw), robots=None)
    d = str(tmp_path / "run")
    crawl(spark, docs, CrawlConfig(**kw, max_rounds=2), robots=None, table_dir=d)
    resumed = crawl(
        spark, docs, CrawlConfig(**kw), robots=None, table_dir=d, resume=True
    )
    assert _pages(resumed) == _pages(straight)
    assert [s.attempted for s in resumed.stats] == [s.attempted for s in straight.stats]


# Spark jobs of the 4-round max_retries=2 crawl of _corpus in memory, on
# local[4]: 18, warm or not (30 when each round checkpointed the
# misses' attempt counts and a ledger of in-flight retries); one more
# job per round breaks the ceiling
RETRY_JOB_CEILING = 18


def test_retry_crawl_job_budget(spark):
    docs, a, b, dead = _corpus(spark)
    cfg = CrawlConfig(
        seed_urls=[a], max_depth=3, max_pages=100,
        respect_robots_txt=False, max_retries=2,
    )
    sc = spark.sparkContext
    group = "retry-budget"
    sc.setJobGroup(group, "in-memory retry crawl")
    try:
        res = crawl(spark, docs, cfg, robots=None)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(res.stats) == 4
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= RETRY_JOB_CEILING
