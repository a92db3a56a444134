"""Durable crawl rounds (plans/tables.py): one idempotent commit per round.

- Crash injection: a durable crawl fails at each step of a round's commit
  in turn (before the data write, after it, after the log row, after the
  rename); the resumed crawl must equal a straight-through one in order,
  seen set, pages (no round written twice) and RoundStats.  Runs on the
  parquet backend and on a stubbed Iceberg catalog that really stores
  rows, where a plain ``append()`` would duplicate a re-run round's docs.
- Parity: a durable crawl returns the same pages, order, seen set and
  RoundStats as the in-memory crawl (both end each round in the same
  tagged, observed row set), with politeness deferrals, with retries and
  with a per-host cap; and both sides of the broadcast fetch-join gate
  give the same result in both modes.
- Job budget: a two-round durable crawl commits through exactly
  ``rounds + 1`` ``RoundTable.append`` calls, its read-backs run no Spark
  job, and the whole crawl stays under a pinned job ceiling; a two-round
  in-memory crawl stays under its own ceiling and runs no ``count()``.
"""

from __future__ import annotations

import os

import pytest

import eget_spark.plans.crawl as plan_crawl
from eget_spark.plans.crawl import CrawlConfig, crawl
from eget_spark.plans.tables import CrawlRun, RoundTable
from eget_spark.synth import doc_url

SEED = doc_url(0, 0)
CFG = dict(seed_urls=[SEED], max_depth=3, max_pages=40)
CRASH_ROUND = 1
# Spark jobs of the two-round durable crawl in the budget test, on
# local[4]: 23 warm, 24 when it is the session's first crawl (48-49 when
# each row kind was its own write and round state was checkpointed and
# counted); one more job per round breaks the ceiling
JOB_CEILING = 24
# Spark jobs of the same crawl in memory, on local[4]: 18, warm or not
# (29-30 when each round also ran fetch-count, frontier-checkpoint and
# frontier-count jobs); one more job per round breaks the ceiling
MEMORY_JOB_CEILING = 18
# config variants the durable and in-memory crawls must agree on, beyond
# CFG itself; robots_small gives host 2 a 0.5 s crawl delay, so a crawl
# of that host with a 1 s round window fetches 2 pages a round and defers
# the rest
PARITY = {
    "retries": dict(max_retries=1),
    "host_cap": dict(max_pages_per_host=5),
    "deferrals": dict(seed_urls=[doc_url(2, 0)], max_pages=8, round_window=1.0),
}


class _Crash(Exception):
    pass


# step -> (RoundTable method, crash before calling it?)
STEPS = {
    "before_data_write": ("_stage_rows", True),
    "after_data_write": ("_stage_rows", False),
    "after_log_row": ("_stage_log", False),
    "after_rename": ("_publish", False),
}


def _install_iceberg_stub(spark, monkeypatch, root):
    """A catalog that stores each table as a parquet directory under
    ``root``, partitioned by round and kind: ``overwritePartitions()``
    replaces the partitions its rows touch, ``append()`` appends, writes
    to a missing table fail the way Spark reports it, and ``spark.table``
    reads the directory."""

    def write_to(df, full):
        return _StubWriter(os.path.join(root, full), full, df)

    def table(session, name):
        return session.read.parquet(os.path.join(root, name))

    monkeypatch.setattr(type(spark.range(1)), "writeTo", write_to)
    monkeypatch.setattr(type(spark), "table", table)


class _StubWriter:
    def __init__(self, path, full, df):
        self.path, self.full, self.df = path, full, df
        self.cols = ()

    def _existing(self):
        if not os.path.isdir(self.path):
            raise RuntimeError(
                f"[TABLE_OR_VIEW_NOT_FOUND] The table or view `{self.full}` "
                "cannot be found."
            )
        return self.df.write.partitionBy("round", "kind")

    def overwritePartitions(self):
        self._existing().mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(self.path)

    def append(self):
        self._existing().mode("append").parquet(self.path)

    def using(self, fmt):
        return self

    def partitionedBy(self, *cols):
        self.cols = cols
        return self

    def create(self):
        self.df.write.partitionBy(*self.cols).parquet(self.path)


def _crawl(spark, docs, robots, table_dir, catalog, monkeypatch, cfg=CFG, **kw):
    if catalog is not None:
        _install_iceberg_stub(spark, monkeypatch, os.path.join(table_dir, "warehouse"))
    return crawl(
        spark, docs, CrawlConfig(**cfg), robots=robots,
        table_dir=table_dir, catalog=catalog, **kw,
    )


def _stats(res):
    return [
        (s.round, s.attempted, s.success, s.failed, s.admitted, s.deferred,
         s.seen_total, s.success_total)
        for s in res.stats
    ]


def _returned(res):
    """What a crawl returns: admission order, seen set, pages (a list, so
    a duplicated row shows) and the per-round counters."""
    return {
        "order": sorted(
            (r["seq"], r["url"], r["depth"], r["parent_url"])
            for r in res.order.collect()
        ),
        "seen": sorted(r["url"] for r in res.seen.collect()),
        "pages": sorted(
            (r["url"], r["status"], r["round"], r["markdown"])
            for r in res.pages.collect()
        ),
        "stats": _stats(res),
    }


def _outcome(spark, docs, res, table_dir, catalog):
    """Everything a resumed crawl must reproduce: what it returns plus the
    committed docs rows (a list, so a duplicated round shows)."""
    run = CrawlRun(spark, table_dir, docs.schema["spans"].dataType, catalog)
    committed = sorted(
        (r["url"], r["status"], r["round"])
        for r in run.read("docs").collect()
    )
    return {**_returned(res), "docs": committed}


@pytest.fixture(
    scope="module", params=[None, "stubcat"], ids=["parquet", "iceberg_stub"]
)
def backend(request, spark, docs_small, robots_small, tmp_path_factory):
    """(catalog, outcome of a straight-through crawl) of one backend."""
    catalog = request.param
    if catalog is not None:
        spark.conf.set(f"spark.sql.catalog.{catalog}", "stub.Catalog")
    d = str(tmp_path_factory.mktemp("straight"))
    with pytest.MonkeyPatch.context() as mp:
        res = _crawl(spark, docs_small, robots_small, d, catalog, mp)
        want = _outcome(spark, docs_small, res, d, catalog)
    yield catalog, want
    if catalog is not None:
        spark.conf.unset(f"spark.sql.catalog.{catalog}")


def test_durable_stats_equal_in_memory(
    spark, docs_small, robots_small, backend, tmp_path, monkeypatch
):
    """Pages, order, seen and RoundStats of a durable crawl equal the
    in-memory crawl's, for CFG and each PARITY variant."""
    catalog, want = backend
    assert len(want["stats"]) > CRASH_ROUND + 1  # rounds follow the crash
    in_memory = crawl(spark, docs_small, CrawlConfig(**CFG), robots=robots_small)
    assert want["stats"] == _stats(in_memory)
    got = _returned(in_memory)
    for key in ("order", "seen", "pages"):
        assert got[key] == want[key], key
    for name, extra in PARITY.items():
        cfg = {**CFG, **extra}
        durable = _returned(
            _crawl(
                spark, docs_small, robots_small, str(tmp_path / name), catalog,
                monkeypatch, cfg=cfg,
            )
        )
        in_memory = _returned(
            crawl(spark, docs_small, CrawlConfig(**cfg), robots=robots_small)
        )
        for key in durable:
            assert durable[key] == in_memory[key], (name, key)
        if name == "deferrals":
            assert any(s[5] > 0 for s in durable["stats"])  # it did defer


@pytest.mark.parametrize("durable", [False, True], ids=["in_memory", "durable"])
def test_shuffle_fetch_join_equals_broadcast(
    spark, docs_small, robots_small, tmp_path, monkeypatch, durable
):
    """Both sides of the fetch join's size gate: with no frontier small
    enough to broadcast, every round takes the shuffle join and the crawl
    returns what the broadcast join gives."""

    def run(name):
        d = str(tmp_path / name) if durable else None
        res = crawl(
            spark, docs_small, CrawlConfig(**CFG, max_retries=1),
            robots=robots_small, table_dir=d,
        )
        return _returned(res)

    broadcast = run("broadcast")
    monkeypatch.setattr(plan_crawl, "BROADCAST_FRONTIER_ROWS", 0)
    shuffled = run("shuffle")
    assert any(s[3] > 0 for s in broadcast["stats"])  # a round had misses
    for key in broadcast:
        assert shuffled[key] == broadcast[key], key


@pytest.mark.parametrize("step", list(STEPS))
def test_crash_at_each_commit_step_then_resume_equals_straight_run(
    spark, docs_small, robots_small, tmp_path, monkeypatch, backend, step
):
    catalog, want = backend
    d = str(tmp_path / "run")
    method, before = STEPS[step]
    orig = getattr(RoundTable, method)
    calls = []

    def crashing(self, *args, **kwargs):
        calls.append(method)
        at_crash = len(calls) == CRASH_ROUND + 1  # round 0 is call 1
        if before and at_crash:
            raise _Crash(step)
        out = orig(self, *args, **kwargs)
        if at_crash:
            raise _Crash(step)
        return out

    with monkeypatch.context() as m:
        m.setattr(RoundTable, method, crashing)
        with pytest.raises(_Crash):
            _crawl(spark, docs_small, robots_small, d, catalog, m)
    resumed = _crawl(
        spark, docs_small, robots_small, d, catalog, monkeypatch, resume=True
    )
    got = _outcome(spark, docs_small, resumed, d, catalog)
    for key in want:
        assert got[key] == want[key], key


def test_durable_crawl_job_budget(
    spark, docs_small, robots_small, tmp_path, monkeypatch
):
    """Two rounds, one commit each plus round 0's: ``rounds + 1`` appends,
    no job from a read-back, and a pinned ceiling on the crawl's jobs."""
    sc = spark.sparkContext
    group, read_group = "durable-budget", "durable-budget-reads"
    appends = []
    orig_append = RoundTable.append

    def counted_append(self, *args, **kwargs):
        appends.append(args[1] if len(args) > 1 else kwargs["round_no"])
        return orig_append(self, *args, **kwargs)

    def in_read_group(fn):
        def call(*args, **kwargs):
            sc.setJobGroup(read_group, "round-table reads")
            try:
                return fn(*args, **kwargs)
            finally:
                sc.setJobGroup(group, "durable crawl")

        return call

    monkeypatch.setattr(RoundTable, "append", counted_append)
    for name in ("read_round", "read_upto"):
        monkeypatch.setattr(RoundTable, name, in_read_group(getattr(RoundTable, name)))
    cfg = CrawlConfig(**CFG, max_rounds=2)
    sc.setJobGroup(group, "durable crawl")
    try:
        res = crawl(
            spark, docs_small, cfg, robots=robots_small,
            table_dir=str(tmp_path / "run"),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    assert len(res.stats) == 2
    assert appends == [0, 1, 2]
    assert tracker.getJobIdsForGroup(read_group) == []
    assert len(tracker.getJobIdsForGroup(group)) <= JOB_CEILING


def test_in_memory_crawl_job_budget(spark, docs_small, robots_small, monkeypatch):
    """The two-round crawl of the durable budget test, in memory: every
    round ends in one observed checkpoint, so no counter job is left (no
    ``DataFrame.count`` call at all) and the crawl stays under its
    pinned job ceiling."""
    sc = spark.sparkContext
    group = "memory-budget"
    counts = []
    orig_count = type(docs_small).count

    def counted(self):
        counts.append(self)
        return orig_count(self)

    monkeypatch.setattr(type(docs_small), "count", counted)
    sc.setJobGroup(group, "in-memory crawl")
    try:
        res = crawl(
            spark, docs_small, CrawlConfig(**CFG, max_rounds=2), robots=robots_small
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(res.stats) == 2
    assert counts == []
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= MEMORY_JOB_CEILING
