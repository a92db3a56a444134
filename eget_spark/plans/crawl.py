"""The crawl loop: iterative BFS frontier expansion (SURVEY.md §2.10).

Re-expresses the reference's asyncio loop
(/root/reference/services/crawler/crawler_service.py:91-184 +
queue_manager.py:34-83) as a driver-side loop over DataFrames; each round is

    fetch-join (J1) -> link harvest (X1) -> normalize (F1) ->
    filter chain (F2-F5) -> depth/page gates (F6/F7) ->
    intra-round dedup (D2/D3) -> seen anti-join (J4/D1) ->
    admission sequencing -> politeness schedule (O3) -> append sinks (S6)

Determinism contract (SURVEY.md §2.10): the reference's observable order is
reproducible only with one worker and sorted link iteration; under that
contract the crawl is exact FIFO BFS with first-seen-wins admission and the
``len(seen) < max_pages`` cap applied at *admission* (queue_manager.py:49).
The engine reproduces it exactly:

- per-parent link sets sorted => candidate order (parent_seq, url)
- first-seen-wins across parents => min parent_seq wins (row_number)
- global admission sequence => exact distributed rank (sequence.py), so a
  candidate is admitted iff its 0-based seq < max_pages

Scale notes (the 10^10 story):
- fetch join shuffles on url — uniform (xxhash of url), hot hosts do not
  skew it; the only host-keyed operator is the politeness window, which is
  salted (politeness.py).  For repeated crawls over one corpus snapshot,
  pass a table written by ``tables.write_bucketed_corpus`` as ``docs`` —
  the corpus side then scans in bucket order with NO exchange (pinned by
  test_bucketed.py); only the frontier shuffles
- seen membership: Bloom pre-filter + exact anti-join (seen.py)
- one round tail in both modes, which keeps plan lineage O(1) across
  rounds: every round ends in ``_commit_round``, which tags the round's
  rows by kind (emitted pages, admitted URLs, the next frontier) and
  counts them with one ``Observation`` inside the one job that commits
  them.  Every ``RoundStats`` field is that Observation plus driver
  arithmetic, and all crawl state is read from the commits: the next
  frontier (pending rows, which carry retry attempts), the admitted
  history (the order; ``seen`` is ``prior_seen`` plus its URLs; the
  per-host and trap histograms count it) and the pages.  Seeds commit as
  round 0, so a fresh and a resumed crawl load their state the same
  way, and the history's per-round parts are compacted into one
  checkpoint past ``SEEN_COMPACT_PARTS``.  The modes differ in that job
  only: with ``table_dir`` set (durable mode) it writes the rows
  (protocol and layout: plans/tables.py; Iceberg with a catalog); in
  memory it is one eager localCheckpoint of them, minus the ok page
  rows, which stay in the round's hits checkpoint
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from ..functions.spans import assemble_markdown, link_targets
from ..functions.urls import (
    SAFE_ABS_URL_RE,
    host_of,
    normalize_absolute_expr,
    normalize_url,
)
from ..operators.cuckoo import ShardedCuckoo, build_cuckoo
from ..operators.links import matches_any, robots_allowed, should_include
from ..operators.politeness import schedule_round
from ..operators.seen import BloomFilter, anti_join_seen, build_bloom
from ..operators.sequence import with_global_seq
from ..operators.traps import url_template
from .tables import FRONTIER_COLS, KIND_COLS, CrawlRun, kind_rows, round_schema

PAGE_COLS = [
    "url", "host", "depth", "parent_url", "seq", "round", "status", "markdown", "spans",
]
# frontier under this -> broadcast fetch join (measured: broadcasting a
# 130k-row frontier costs ~1s while a shuffle join re-shuffles the
# multi-GB span corpus every round); above it, pre-bucket the corpus on
# doc_id so only the frontier side shuffles
BROADCAST_FRONTIER_ROWS = 500_000
# plan hygiene: the admitted history's per-round parts are compacted into
# one checkpoint whenever their count exceeds this, keeping the every-round
# seen anti-join (and the final order union) O(1)-wide instead of
# O(rounds) (a 10^4-round politeness crawl would otherwise rebuild an
# ever-wider union each round)
SEEN_COMPACT_PARTS = 64


@dataclass
class CrawlConfig:
    """Mirrors CrawlerRequest (models/crawler_request.py:19-25) + engine knobs."""

    seed_urls: list[str]
    max_depth: int = 3
    max_pages: int = 100
    exclude_patterns: list[str] = field(default_factory=list)
    include_patterns: list[str] = field(default_factory=list)
    respect_robots_txt: bool = True
    # engine extensions
    restrict_domain: bool = True  # False: whole-web crawl (multi-host fleets)
    # per-domain admission cap (spider-trap / crawl-equity control): at most
    # this many pages ever admitted per host. None = unlimited (reference
    # parity). Enforced at admission in candidate order, so semantics equal
    # the sequential reference loop with a host counter (tests/oracle.py).
    max_pages_per_host: int | None = None
    # automatic spider-trap throttle (operators/traps.py wired in as crawl
    # control, round-3 verdict item #3): after each round the admitted
    # history's URL-template histogram is updated; a host whose dominant
    # template reaches this share (with >= auto_trap_min_urls admitted) is
    # excluded from ALL future admission — its already-admitted pages
    # still fetch (at full speed unless trap_fetch_budget is also set),
    # and other hosts are untouched.  The template collapse
    # is pure map-side regexp_replace; the exclusion is a tiny broadcast
    # anti-join, so a flagged calendar/faceted-search host costs O(1) per
    # round instead of flooding the frontier.  None = off (default;
    # reference parity — eGet has no such control).
    auto_trap_threshold: float | None = None
    auto_trap_min_urls: int = 50
    # round-5 (verdict item #8): optionally throttle a flagged trap
    # host's RESIDUAL fetches too — its already-admitted pages fetch at
    # most this many per round, expressed as a synthetic politeness
    # crawl-delay of round_window/budget so the standard scheduler
    # (deferral, FIFO order, salting) applies unchanged; a host that
    # also has a real robots delay keeps the stricter (larger) delay.
    # Non-trap hosts are byte-identical either way.  None = off.
    trap_fetch_budget: int | None = None
    fast_normalize: bool = False  # True: native #?-strip (absolute-URL corpora)
    round_window: float = 10.0  # politeness budget horizon per round
    # False: exact anti-join only. True: bloom prefilter from round 0.
    # "auto": engage the bloom once the seen set crosses
    # bloom_auto_threshold — small crawls pay nothing, web-scale crawls
    # stop re-shuffling the whole seen set each round without a knob.
    use_bloom: bool | str = False
    bloom_auto_threshold: int = 1_000_000
    bloom_fpp: float = 0.01
    # which approximate seen-set backs the prefilter when use_bloom engages:
    # "bloom" (OR-mergeable bits) or "cuckoo" (fingerprints; supports
    # delete for recrawl/expiry — operators/cuckoo.py). Same correctness
    # contract either way: prefilter + exact anti-join confirm.
    seen_filter: str = "bloom"
    max_rounds: int = 10_000
    salt_threshold: int = 100_000
    # bounded per-URL fetch retries (SURVEY §2 mapping of the reference's
    # tenacity x3 retry, scraper.py:252-278): a missed URL re-enqueues
    # into the NEXT round's frontier (keeping its admission seq, flowing
    # through politeness like any frontier row) until it has been
    # attempted 1 + max_retries times; only then does its `missing` page
    # row emit.  0 = off (reference-parity single attempt; the corpus-
    # as-network model makes misses deterministic, so the default stays
    # off and the mechanism is what a live-network fetcher would use).
    # A retried row carries its attempt count in the committed pending
    # rows, so a resumed crawl retries exactly as a straight one does.
    max_retries: int = 0

    @property
    def base_domain(self) -> str:
        from urllib.parse import urlparse

        return urlparse(self.seed_urls[0]).netloc


@dataclass
class RoundStats:
    round: int
    attempted: int
    success: int
    failed: int
    admitted: int
    deferred: int
    seen_total: int
    success_total: int
    duration_sec: float


@dataclass
class CrawlResult:
    pages: DataFrame  # emitted page rows (successes + fetch misses), lineage cols
    order: DataFrame  # admission order: (seq, url, host, depth, parent_url, round)
    seen: DataFrame  # final seen set
    stats: list[RoundStats]
    bloom_bits: int | None = None  # m_bits of the final filter; None = exact-only


def _checkpoint(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


# admission sequencing / checkpoint sizing: rows per partition small enough
# to sort in memory, partition count capped by the session's shuffle setting
# (a cluster submit raises that; tiny BFS rounds collapse to 1 partition so
# later rounds' seen-union scans don't schedule hundreds of empty tasks)
_SEQ_ROWS_PER_PARTITION = 20_000
_FANOUT_ESTIMATE = 20


def _seq_partitions(spark: SparkSession, frontier_count: int) -> int:
    cap = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    est_kids = max(1, frontier_count) * _FANOUT_ESTIMATE
    return max(1, min(cap, -(-est_kids // _SEQ_ROWS_PER_PARTITION)))


def apply_host_cap(
    kids: DataFrame, host_counts: DataFrame, cap: int
) -> DataFrame:
    """Per-host admission cap for one round's candidates: prior admitted
    count (``host_counts`` = (host, _n)) + this round's exact per-host
    candidate rank must stay within ``cap``.

    Pre-filter first (round-2 advice): candidates of ALREADY-FULL hosts
    are dropped by a broadcast anti-join BEFORE the rank window — once a
    spider-trap host hits its cap, its (potentially 10^8) future
    candidates cost an anti-join probe, not a single-reducer sort.
    Semantics unchanged: a full host admits nothing either way, and the
    rank stays exact for the remaining hosts (the exactness the cap
    determinism oracle requires).  Pinned by
    tests/test_crawl.py::test_apply_host_cap_prefilters_full_hosts."""
    full_hosts = host_counts.where(F.col("_n") >= cap).select(
        F.col("host").alias("_khost")
    )
    w_h = Window.partitionBy("_khost").orderBy("parent_seq", "url")
    return (
        kids.withColumn("_khost", host_of(F.col("url")))
        .join(F.broadcast(full_hosts), "_khost", "left_anti")
        .join(host_counts.withColumnRenamed("host", "_khost"), "_khost", "left")
        .withColumn("_hrk", F.row_number().over(w_h))
        .where(F.coalesce(F.col("_n"), F.lit(0)) + F.col("_hrk") <= cap)
        .drop("_khost", "_n", "_hrk")
    )


def _count_by(rows: DataFrame, keys: list[str]) -> DataFrame:
    """(keys..., _n) histogram of ``rows``."""
    return rows.groupBy(*keys).agg(F.count("*").cast("long").alias("_n"))


def _add_counts(counts: DataFrame, rows: DataFrame, keys: list[str]) -> DataFrame:
    """Fold this round's admitted ``rows`` into a (keys..., _n) histogram:
    union, re-aggregate so the histogram keeps ONE row per key, and
    checkpoint so its lineage stays one round deep."""
    return _checkpoint(
        counts.unionByName(_count_by(rows, keys))
        .groupBy(*keys)
        .agg(F.sum("_n").cast("long").alias("_n"))
    )


def _trap_hosts(tmpl_counts: DataFrame, config: "CrawlConfig") -> DataFrame:
    """(host) rows flagged by the auto-trap rule: a host with >=
    auto_trap_min_urls admitted whose dominant URL template holds >=
    auto_trap_threshold of them.  A tiny per-host aggregate over the
    checkpointed (host, template, _n) histogram — O(hosts x templates)."""
    return (
        tmpl_counts.groupBy("host")
        .agg(F.sum("_n").alias("_tot"), F.max("_n").alias("_top"))
        .where(
            (F.col("_tot") >= config.auto_trap_min_urls)
            & (F.col("_top") >= F.lit(config.auto_trap_threshold) * F.col("_tot"))
        )
        .select("host")
    )


def crawl(
    spark: SparkSession,
    docs: DataFrame,
    config: CrawlConfig,
    robots: DataFrame | None = None,
    table_dir: str | None = None,
    resume: bool = False,
    catalog: str | None = None,
    priorities: DataFrame | None = None,
    seed_frontier: DataFrame | None = None,
    prior_seen: DataFrame | None = None,
) -> CrawlResult:
    """Run a full crawl of the corpus graph; see module docstring.

    Seeds (round 0) and every round end the same way: one job commits the
    round's rows, an Observation on that job yields its ``RoundStats``,
    and the next round reads its state from the commit.  With
    ``table_dir`` set that job is a write through the RoundTable layer
    (plans/tables.py): parquet round partitions by default, Iceberg when
    ``catalog`` names a configured Iceberg catalog.  Without it the job is
    one eager ``localCheckpoint``.

    ``priorities`` — optional (url, priority) DataFrame (e.g. PageRank from
    operators/graph.py): under a constrained politeness budget, each host
    fetches its highest-priority pending URLs first (priority desc, then
    FIFO seq) instead of pure FIFO — the north-star's per-host priority
    queue.  Admission order/seq semantics are unchanged; priority only
    decides who wins a round's budget.

    ``seed_frontier`` — distributed alternative to ``config.seed_urls``
    for seeds too large to enumerate on the driver (the recrawl/TTL path:
    10^8 expired URLs are a DataFrame, never a Python list).  Columns:
    ``url`` required; ``depth``/``parent_url`` optional (default 0/NULL);
    ``order`` optional long defining enumeration order for first-wins
    dedup and cap semantics (default: url sort).  The same admission
    rules as the list path apply — first-occurrence dedup, global
    ``max_pages`` and ``max_pages_per_host`` caps in enumeration order —
    but relationally (windows + with_global_seq), no driver loop.

    ``prior_seen`` — URLs already crawled in an earlier run that must NOT
    be re-fetched (the still-fresh cache subset under TTL semantics).
    They pre-seed the seen set: any seed or discovered link hitting them
    is dropped by the normal anti-join.  Both caps budget THIS run's
    admissions; prior-run pages don't count against them."""
    spans_type = docs.schema["spans"].dataType
    run = CrawlRun(spark, table_dir, spans_type, catalog) if table_dir else None
    schema = round_schema(spans_type)  # of the rows each round commits
    if priorities is not None:
        # uniqueness guard: the table is arbitrary user parquet
        # (jobs/crawl_job.py --priorities); duplicate urls would multiply
        # frontier rows through the left join below — duplicate fetches,
        # duplicate page emissions, inflated attempted counters. One
        # max-agg makes the join key provably unique (round-2 advice).
        priorities = priorities.groupBy("url").agg(
            F.max("priority").alias("priority")
        )
    if not config.respect_robots_txt:
        robots_f = None
    else:
        robots_f = robots

    loaded = _load_commit(run) if run is not None and resume else None
    if loaded is None:
        sr0 = None  # the seed sequencing's persist, freed after the commit
        if seed_frontier is None and prior_seen is not None:
            # list seeds + a warm seen set: route through the DataFrame seed
            # path so fresh (cached) seeds are anti-joined out and the
            # remaining ones get a compact admission sequence
            seed_frontier = spark.createDataFrame(
                [(u, i) for i, u in enumerate(dict.fromkeys(config.seed_urls))],
                "url string, order long",
            )
        if seed_frontier is not None:
            # S1, distributed: the same admission rules as the list path —
            # first-occurrence dedup, max_pages + per-host caps in enumeration
            # order — expressed as windows over the seed DataFrame (the
            # recrawl path seeds from a 10^8-row expired table, never a list)
            sf = seed_frontier
            if "depth" not in sf.columns:
                sf = sf.withColumn("depth", F.lit(0))
            if "parent_url" not in sf.columns:
                sf = sf.withColumn("parent_url", F.lit(None).cast("string"))
            if "order" not in sf.columns:
                sf = sf.withColumn("order", F.lit(0).cast("long"))
            sf = sf.where(F.col("depth") <= config.max_depth)
            if prior_seen is not None:
                sf = sf.join(prior_seen.select("url"), "url", "left_anti")
            w_dup = Window.partitionBy("url").orderBy("order")
            sf = (
                sf.withColumn("_rn", F.row_number().over(w_dup))
                .where(F.col("_rn") == 1)
                .drop("_rn")
                .withColumn("host", host_of(F.col("url")))
            )
            if config.max_pages_per_host is not None:
                w_h = Window.partitionBy("host").orderBy("order", "url")
                sf = (
                    sf.withColumn("_hrk", F.row_number().over(w_h))
                    .where(F.col("_hrk") <= config.max_pages_per_host)
                    .drop("_hrk")
                )
            sr0 = with_global_seq(
                sf,
                ["order", "url"],
                start=0,
                num_partitions=_seq_partitions(spark, 1),
                # monotone in the leading key -> one hash exchange, no
                # range-sampling pass that would compute the seed pipeline
                # twice (same trick as the kids sequencing). Callers seeding
                # 10^8 rows (recrawl) supply a spread-out `order` (prior
                # seq); a constant default order degrades to one bucket,
                # which is fine at list-seed sizes.
                bucket_expr=F.floor(F.col("order") / F.lit(1024)),
            )
            seeds = sr0.df.where(F.col("seq") < config.max_pages)
            row_bound = 1
        else:
            # S1 seed ingestion: add_url(url, 0, None) per seed; duplicate
            # seeds dedup first-occurrence-wins exactly like add_url's seen
            # check (queue_manager.py:46-57); caps (global + per-host) apply
            # in enumeration order like the sequential admit loop
            from urllib.parse import urlparse as _urlparse

            kept: list[str] = []
            _hc: dict[str, int] = {}
            for u in dict.fromkeys(config.seed_urls):
                if len(kept) >= config.max_pages:
                    break
                if config.max_pages_per_host is not None:
                    h = _urlparse(u).netloc
                    if _hc.get(h, 0) >= config.max_pages_per_host:
                        continue
                    _hc[h] = _hc.get(h, 0) + 1
                kept.append(u)
            rows = [(u, 0, None, i) for i, u in enumerate(kept) if 0 <= config.max_depth]
            seeds = spark.createDataFrame(
                rows, "url string, depth int, parent_url string, seq long"
            ).withColumn("host", host_of(F.col("url")))
            row_bound = len(rows)
        loaded = _commit_seeds(
            spark, run, schema, seeds.select(FRONTIER_COLS), row_bound
        )
        if sr0 is not None:
            sr0.unpersist()

    # the one state loader: fresh and resumed crawls alike take every loop
    # variable from the committed rounds — their log rows (counters), the
    # last round's pending rows (frontier, with retry attempts) and the
    # admitted history (admission order; with ``prior_seen``, the seen set)
    log, frontier, history, pages_parts = loaded
    last = log[-1]
    round_no = last["round"]
    frontier_count = last["pending"]
    admitted_total = last["admitted_total"]
    success_total = last["success_total"]
    stats = [_round_stats(x, 0.0) for x in log if x["round"] > 0]
    # per-round parts of the admitted history, compacted past
    # SEEN_COMPACT_PARTS; `seen` is their url union, no O(|seen|)
    # re-materialization per round
    order_parts = [history]

    # per-host admission counters (max_pages_per_host) and the spider-trap
    # throttle's (host, template, _n) histogram both count the admitted
    # history; trap hosts are derived from the latter lazily each round —
    # a tiny aggregate over a checkpointed frame, O(hosts x templates)
    host_counts: DataFrame | None = None
    if config.max_pages_per_host is not None:
        host_counts = _checkpoint(_count_by(history, ["host"]))
    tmpl_counts: DataFrame | None = None
    if config.auto_trap_threshold is not None:
        tmpl_counts = _checkpoint(
            _count_by(
                history.select("host", url_template(F.col("url")).alias("template")),
                ["host", "template"],
            )
        )

    def seen_df() -> DataFrame:
        prior = [] if prior_seen is None else [prior_seen.select("url")]
        return _union_all(prior + [p.select("url") for p in order_parts])

    def want_bloom(total: int) -> bool:
        if config.use_bloom == "auto":
            return total >= config.bloom_auto_threshold
        return bool(config.use_bloom)

    def bloom_expected(total: int) -> int:
        # size for the known page bound when it is real, else grow with the
        # seen set (saturation rebuilds double capacity as needed); the
        # upfront allocation is capped so an unbounded max_pages does not
        # allocate a max-size filter on round 0
        return max(1024, total * 4, min(config.max_pages, 1 << 26))

    def build_filter(df, expected, like=None):
        if config.seen_filter == "cuckoo":
            return build_cuckoo(df, "url", expected=expected, like=like)
        return build_bloom(df, "url", expected=expected, fpp=config.bloom_fpp, like=like)

    bloom: BloomFilter | ShardedCuckoo | None = None
    if want_bloom(admitted_total):
        bloom = build_filter(seen_df(), bloom_expected(admitted_total))

    # politeness applies only if some host actually has a crawl delay
    if robots_f is not None and robots_f.where(F.col("crawl_delay") > 0).isEmpty():
        politeness_robots = None
    else:
        politeness_robots = robots_f

    while frontier_count > 0 and success_total < config.max_pages and round_no < config.max_rounds:
        round_no += 1
        t0 = time.monotonic()
        sr = None  # this round's sequencing persist, freed after the commit

        # trap-host residual throttle: flagged hosts become synthetic
        # politeness entries with delay round_window/(budget+0.5), i.e.
        # exactly `budget` fetches/round through the standard scheduler
        # (the +0.5 keeps floor() from rounding float division down to
        # budget-1); a real robots delay that is stricter (larger) wins
        effective_robots = politeness_robots
        if tmpl_counts is not None and config.trap_fetch_budget is not None:
            trap_delays = _trap_hosts(tmpl_counts, config).select(
                "host",
                F.lit(
                    config.round_window / (config.trap_fetch_budget + 0.5)
                ).alias("crawl_delay"),
            )
            base = (
                politeness_robots.select("host", "crawl_delay")
                if politeness_robots is not None
                else trap_delays.limit(0)
            )
            effective_robots = (
                base.unionByName(trap_delays)
                .groupBy("host")
                .agg(F.max("crawl_delay").alias("crawl_delay"))
            )

        # O3: politeness split (priority-ordered budgets when given)
        if priorities is not None and effective_robots is not None:
            fr = frontier.join(
                priorities.select("url", F.col("priority").alias("_priority")),
                "url",
                "left",
            ).withColumn("_priority", F.coalesce(F.col("_priority"), F.lit(0.0)))
            fetch_now, deferred = schedule_round(
                fr,
                effective_robots,
                config.round_window,
                config.salt_threshold,
                order_cols=[F.desc("_priority"), "seq"],
            )
            fetch_now = fetch_now.drop("_priority")
            deferred = deferred.drop("_priority")
        else:
            fetch_now, deferred = schedule_round(
                frontier, effective_robots, config.round_window, config.salt_threshold
            )
        politeness_active = effective_robots is not None

        # J1: fetch = join frontier against the corpus ("the corpus IS the
        # network"); broadcast the frontier side when small
        small_frontier = frontier_count <= BROADCAST_FRONTIER_ROWS
        if small_frontier:
            hits = docs.join(
                F.broadcast(fetch_now), docs["doc_id"] == fetch_now["url"], "inner"
            ).drop("doc_id")
        else:
            joined = fetch_now.join(docs, fetch_now["url"] == docs["doc_id"], "left")
            hits = joined.where(F.col("doc_id").isNotNull()).drop("doc_id")
            misses = joined.where(F.col("doc_id").isNull()).select(
                *[fetch_now[c] for c in KIND_COLS["pending"]]
            )

        # non-eager: materializes inside the sequencing job below (one fewer
        # job launch per round); lineage is truncated on first computation
        hits = hits.select(
            "url", fetch_now["host"], "depth", "parent_url", "seq", "spans"
        ).localCheckpoint(eager=False)
        if small_frontier:
            # probes the checkpoint, not a second fetch join
            misses = fetch_now.join(
                F.broadcast(hits.select("url")), "url", "left_anti"
            )

        # bounded retries: a missed URL re-enqueues (same frontier row,
        # same seq) with its pending row's attempt count + 1 until it has
        # been attempted 1+max_retries times; deferred rows keep their
        # count (they were not attempted this round)
        retry_next = None
        exhausted = misses
        if config.max_retries > 0:
            tried = F.coalesce(F.col("attempt"), F.lit(0))
            retry_next = misses.where(tried < config.max_retries).withColumn(
                "attempt", tried + 1
            )
            exhausted = misses.where(tried >= config.max_retries)
        # S6: the round's rows, tagged by kind — emitted pages (fetch hits
        # and exhausted misses), admitted URLs and the next frontier —
        # committed by _commit_round, whose Observation yields every
        # counter.  Markdown (X7) is assembled in ONE projection: over the
        # final union in memory, over each round's commit in durable mode
        # — a per-round column would plan one ArrowEvalPython node per
        # union branch, and every consumer task then opens a Python
        # channel per branch it reads: measured 2x on the 30k-page
        # markdown pass
        pid = "spark_partition_id()"
        parts = [
            (("docs",), hits, {"status": "'ok'", "partition_id": pid}),
            (
                ("docs",), exhausted,
                {"status": "'missing'", "partition_id": pid, "attempt": "NULL"},
            ),
        ]
        n_admitted = 0
        if admitted_total < config.max_pages:
            # once the page budget is exhausted no candidate can pass the
            # seq < max_pages admission gate, so the remaining politeness-
            # drain rounds skip harvest/normalize/dedup/sequencing
            # (measured: ~20 s/round at the 30k-page bench once the cap
            # binds)
            # X1 + F1-F5: harvest, normalize, filter
            parents = hits.where(F.col("depth") < config.max_depth)
            kids = parents.select(
                F.col("url").alias("base"),
                F.col("seq").alias("parent_seq"),
                F.col("depth").alias("parent_depth"),
                F.explode(link_targets(F.col("spans"))).alias("href"),
            )
            if config.fast_normalize:
                # corpus guarantees absolute http(s) hrefs: stay in codegen
                kids = kids.withColumn("url", normalize_absolute_expr(F.col("href")))
            else:
                # hybrid normalize (round 6, guide §4.1): hrefs provably
                # equivalent under the native strip (SAFE_ABS_URL_RE —
                # absolute lowercase-http(s), no params/control chars)
                # stay in codegen; only the rest crosses the Python
                # boundary.  On absolute-link corpora the pandas UDF
                # sees zero rows — it was the largest single cost of a
                # crawl round (measured: ~55 s of the harvest stage's
                # 64-task time at the 30k-page bench).  NULL hrefs drop
                # in both forms (rlike(NULL) excludes them from both
                # branches; the UDF mapped them to NULL then filtered).
                safe = F.col("href").rlike(SAFE_ABS_URL_RE)
                fast = kids.where(safe).withColumn(
                    "url", normalize_absolute_expr(F.col("href"))
                )
                # coalesce the UDF branch: each ArrowEvalPython task pays
                # a Python round-trip even over zero rows (measured
                # ~0.2 s/task), so don't run one per corpus partition —
                # the branch carries only the rare non-trivial hrefs
                slow = (
                    kids.where(~safe)
                    .coalesce(max(2, spark.sparkContext.defaultParallelism // 4))
                    .withColumn(
                        "url", normalize_url(F.col("href"), F.col("base"))
                    )
                    .where(F.col("url").isNotNull())
                )
                kids = fast.unionByName(slow)
            if config.restrict_domain:
                kids = kids.where(
                    should_include(
                        F.col("url"),
                        config.base_domain,
                        config.exclude_patterns,
                        config.include_patterns,
                    )
                )
            else:
                # web-scale mode: same pipeline minus the F2 domain equality
                if config.exclude_patterns:
                    kids = kids.where(~matches_any(F.col("url"), config.exclude_patterns))
                if config.include_patterns:
                    kids = kids.where(matches_any(F.col("url"), config.include_patterns))
            kids = robots_allowed(kids, robots_f, config.respect_robots_txt)

            # D2 per-page set semantics + D3 first-seen-wins across parents,
            # fused into ONE url-partitioned window (rows tied on parent_seq are
            # same-page duplicates — identical in every kept column — so a
            # single keep-first covers both dedups with a single shuffle)
            w = Window.partitionBy("url").orderBy("parent_seq")
            kids = (
                kids.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .drop("_rn", "href")
            )

            # J4/D1: not yet seen
            kids = anti_join_seen(kids, seen_df(), "url", prefilter=bloom)

            # automatic spider-trap exclusion: candidates of flagged hosts
            # drop via a broadcast anti-join BEFORE sequencing (same shape
            # as the full-host pre-filter below) — the template collapse
            # that feeds the flag is map-side regexp_replace over the
            # admitted history, never this round's candidate set
            if tmpl_counts is not None:
                trap_hosts = _trap_hosts(tmpl_counts, config).select(
                    F.col("host").alias("_thost")
                )
                kids = (
                    kids.withColumn("_thost", host_of(F.col("url")))
                    .join(F.broadcast(trap_hosts), "_thost", "left_anti")
                    .drop("_thost")
                )

            # per-host admission cap: prior admitted count + this round's exact
            # per-host candidate rank must stay within the cap. One shuffle on
            # host; rejected hosts stay full forever, so this equals the
            # sequential host-counter admit loop (oracle). A pathologically hot
            # host makes this window skewed — at whole-web scale pair it with
            # exclude_patterns or accept the single-reducer cost for that host
            # (the rank must be exact for cap determinism; cf. politeness
            # salting where budgets may be split approximately).
            if config.max_pages_per_host is not None:
                kids = apply_host_cap(
                    kids, host_counts, config.max_pages_per_host
                )

            # F7 + O1: global admission sequence; admit while seq < max_pages.
            # The sequencing collect also yields the candidate total, so
            # n_admitted = clamp(cap headroom) bounds the commit's partition
            # count; the round's counters come from the commit.
            # bucket = floor(parent_seq / 1024): monotone in the leading order
            # key, so per-bucket ranks + bucket prefix offsets give the exact
            # global rank with ONE hash exchange — no range-bound sampling pass
            # (which would re-run this whole candidate pipeline) and a constant
            # literal, so the generated code is identical every round
            sr = with_global_seq(
                kids,
                ["parent_seq", "url"],
                start=admitted_total,
                num_partitions=_seq_partitions(spark, frontier_count),
                bucket_expr=F.floor(F.col("parent_seq") / F.lit(1024)),
            )
            admitted = sr.df.where(F.col("seq") < config.max_pages).select(
                F.col("url"),
                host_of(F.col("url")).alias("host"),
                (F.col("parent_depth") + 1).alias("depth"),
                F.col("base").alias("parent_url"),
                F.col("seq"),
            )
            parts.append((("admitted", "pending"), admitted, {}))
            n_admitted = min(sr.total, max(0, config.max_pages - admitted_total))
        if retry_next is not None:
            parts.append((("pending",), retry_next, {"_src": "'retry'"}))
        if politeness_active:
            parts.append((("pending",), deferred, {"_src": "'deferred'"}))
        # ONE job commits the round; the next round's state is read back
        # from the commit instead of checkpointed and counted
        logged, committed = _commit_round(
            spark, run, schema, round_no, parts,
            frontier_count + n_admitted, admitted_total, success_total,
        )
        if sr is not None:
            sr.unpersist()
        admitted = committed("admitted")
        frontier = committed("pending")
        frontier_count = logged["pending"]
        n_admitted = logged["admitted"]
        admitted_total = logged["admitted_total"]
        success_total = logged["success_total"]
        pages_parts.append(
            committed("docs").selectExpr(
                *FRONTIER_COLS, f"{round_no} AS round", *PAGE_COLS[6:]
            )
        )
        if run is None:
            # in memory the ok page rows stay in the round's hits checkpoint
            pages_parts.append(
                hits.selectExpr(
                    *FRONTIER_COLS, f"{round_no} AS round", "'ok' AS status",
                    "CAST(NULL AS string) AS markdown", "spans",
                )
            )
        if n_admitted > 0:
            order_parts.append(admitted.withColumn("round", F.lit(round_no)))
            if len(order_parts) > SEEN_COMPACT_PARTS:
                order_parts = [_checkpoint(_union_all(order_parts))]
        if bloom is not None and n_admitted > 0:
            # distributed delta: same shape as the running filter, built
            # over the committed admitted set and merged — only shard
            # tables / bit chunks reach the driver, never URLs (verdict
            # fix #1). Once the filter saturates rebuild larger.
            if not bloom.saturated(admitted_total):
                bloom.merge(build_filter(admitted, 0, like=bloom))
            else:
                bloom = None  # saturated: rebuild distributed from seen below
        if config.max_pages_per_host is not None and n_admitted > 0:
            host_counts = _add_counts(host_counts, admitted, ["host"])
        if tmpl_counts is not None and n_admitted > 0:
            tmpl_counts = _add_counts(
                tmpl_counts,
                admitted.select("host", url_template(F.col("url")).alias("template")),
                ["host", "template"],
            )
        if bloom is None and want_bloom(admitted_total):
            bloom = build_filter(seen_df(), bloom_expected(admitted_total))
        stats.append(_round_stats(logged, time.monotonic() - t0))

    if pages_parts:
        # the union stacks every round's checkpoint partitions (rounds x
        # corpus partitions — 455 for the 30k-page bench), so consumers
        # pay per-task overhead (and the markdown pandas UDF a Python
        # round-trip per task) on mostly-tiny partitions; shuffle-free
        # coalesce to 2x cluster parallelism (coalesce never increases a
        # smaller count, and on a real cluster defaultParallelism scales
        # with the executor fleet)
        pages = _union_all(pages_parts).coalesce(
            2 * spark.sparkContext.defaultParallelism
        )
        if run is None:
            # single markdown projection over the coalesced union;
            # assemble_markdown(NULL spans) is NULL, so miss rows come
            # out identical to the literal-NULL form
            pages = pages.withColumn("markdown", assemble_markdown(F.col("spans")))
    else:
        pages = (
            spark.createDataFrame([], schema)
            .withColumn("round", F.lit(None).cast("int"))
            .select(PAGE_COLS)
        )
    order = _union_all(order_parts)
    return CrawlResult(
        pages=pages,
        order=order,
        seen=seen_df(),
        stats=stats,
        bloom_bits=bloom.bit_size() if bloom is not None else None,
    )


def _union_all(parts: list[DataFrame]) -> DataFrame:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _commit_round(
    spark: SparkSession,
    run: CrawlRun | None,
    schema: StructType,
    round_no: int,
    parts: list[tuple[tuple[str, ...], DataFrame, dict]],
    row_bound: int,
    admitted_before: int,
    success_before: int,
) -> tuple[dict, Callable[[str], DataFrame]]:
    """End one crawl round: build its rows, tag them by kind, count them
    with one Observation inside the one job that commits them, and return
    the round's log row plus a reader of its rows by kind.

    ``parts`` are (kinds, rows, columns): the rows become rows of
    ``schema`` once per kind from one scan (admitted rows are also the
    next round's pending ones), with ``columns`` overriding row columns;
    a ``_src`` column (retry or deferred) marks pending rows for the
    counters only.  Every counter comes from the Observation: attempted =
    successes + exhausted misses + retries.  The partition count comes
    from ``row_bound`` (rows the driver knows the round holds at most), so
    a request-sized round commits one partition per kind.

    With ``run`` (durable) the rows are written in one job and read back
    from the commit (plans/tables.py).  In memory they are checkpointed
    in one eager job, minus the ok page rows: the Observation counts those
    before the ``where``, and they stay in the round's hits checkpoint, so
    no later seen union rescans their spans.  The checkpoint must be eager:
    an Observation on a lazy one reports 0."""
    obs = Observation()
    counters = {
        "admitted": "kind = 'admitted'",
        "pending": "kind = 'pending'",
        "success": "status = 'ok'",
        "exhausted": "status = 'missing'",
        "retry": "_src = 'retry'",
        "deferred": "_src = 'deferred'",
    }
    rows = (
        _union_all(
            [
                kind_rows(schema, df, *kinds, **{"_src": "CAST(NULL AS string)", **cols})
                for kinds, df, cols in parts
            ]
        )
        .observe(obs, *[F.expr(f"count_if({c}) AS {k}") for k, c in counters.items()])
        .drop("_src")
        .coalesce(_seq_partitions(spark, row_bound))
    )

    def log() -> dict:
        m = obs.get
        attempted = m["success"] + m["exhausted"] + m["retry"]
        return {
            "round": round_no,
            "attempted": attempted,
            "success": m["success"],
            "failed": attempted - m["success"],
            "admitted": m["admitted"],
            "deferred": m["deferred"],
            "admitted_total": admitted_before + m["admitted"],
            "success_total": success_before + m["success"],
            "pending": m["pending"],  # the next frontier's size
        }

    if run is None:
        kept = _checkpoint(rows.where("NOT (status <=> 'ok')"))

        def read(kind: str) -> DataFrame:
            return kept.where(f"kind = '{kind}'").select(KIND_COLS[kind])

        return log(), read
    if any("docs" in kinds for kinds, _, _ in parts):
        # one markdown projection over the coalesced rows: per docs input
        # partition it would cost a Python round-trip each, serially in
        # the coalesced task; NULL spans (every non-docs and miss row)
        # assemble to NULL
        rows = rows.withColumn("markdown", assemble_markdown(F.col("spans")))
    return run.append(rows, round_no, log), lambda kind: run.read_round(round_no, kind)


def _commit_seeds(
    spark: SparkSession,
    run: CrawlRun | None,
    schema: StructType,
    seeds: DataFrame,
    row_bound: int,
):
    """Round 0: commit the admitted seeds as both ``admitted`` and
    ``pending``; returns what :func:`_load_commit` returns, read from
    this commit."""
    logged, committed = _commit_round(
        spark, run, schema, 0, [(("admitted", "pending"), seeds, {})], row_bound, 0, 0
    )
    history = committed("admitted").withColumn("round", F.lit(0))
    return [logged], committed("pending"), history, []


def _load_commit(run: CrawlRun):
    """Resume from the latest committed round: the log rows (read on the
    driver), its pending rows, the admitted history and the pages
    emitted so far; None when no round is committed."""
    log = run.log_rows()
    if not log:
        return None
    r = log[-1]["round"]
    return (
        log,
        run.read_round(r, "pending"),
        run.read_upto(r, "admitted"),
        [run.read_upto(r, "docs").select(PAGE_COLS)],
    )


def _round_stats(log: dict, duration_sec: float) -> RoundStats:
    return RoundStats(
        log["round"], log["attempted"], log["success"], log["failed"], log["admitted"],
        log["deferred"], log["admitted_total"], log["success_total"], duration_sec,
    )


def recrawl(
    spark: SparkSession,
    docs: DataFrame,
    config: CrawlConfig,
    prior: CrawlResult,
    expired: DataFrame,
    robots: DataFrame | None = None,
    seen_cuckoo: "ShardedCuckoo | None" = None,
    table_dir: str | None = None,
    catalog: str | None = None,
    priorities: DataFrame | None = None,
) -> CrawlResult:
    """TTL/recrawl flow — the dataflow form of the reference's 24h Redis
    cache TTL (cache_service.py:77-99: SET ... EX ttl; an expired key
    means the next scrape refetches).

    ``expired`` — a DataFrame whose ``url`` column names the TTL-expired
    subset of ``prior`` (the caller's predicate, e.g.
    ``pages.where(F.col("fetched_at") < cutoff)``; the engine stores no
    wall-clock column, so expiry is the caller's policy).  Semantics:

    - expired URLs are re-admitted at their PRIOR crawl position (depth,
      parent, admission order from ``prior.order``) and refetched;
    - still-fresh URLs are the cache: carried into the seen set, never
      refetched, and never re-admitted via links on refetched pages;
    - links discovered on refetched pages that were never seen at all
      (corpus changed since the prior crawl) are crawled normally, BFS
      from the refetched parents.

    With an unchanged corpus the refetched set is EXACTLY the expired
    subset (pinned by the q50 oracle and tests/test_crawl_recrawl).

    ``seen_cuckoo`` — optional persistent seen filter from the prior
    crawl: the expired fingerprints are deleted from it distributedly
    (operators/cuckoo.expire_from_filter — the delete capability that
    justifies cuckoo over bloom) so the same filter object can keep
    serving an incremental-crawl fleet without a rebuild."""
    exp = expired.select("url").dropDuplicates(["url"])
    carried = _checkpoint(prior.seen.select("url").join(exp, "url", "left_anti"))
    if seen_cuckoo is not None:
        from ..operators.cuckoo import expire_from_filter

        expire_from_filter(seen_cuckoo, exp, "url")
    seeds = prior.order.join(exp, "url", "left_semi").select(
        "url", "depth", "parent_url", F.col("seq").alias("order")
    )
    return crawl(
        spark,
        docs,
        config,
        robots=robots,
        table_dir=table_dir,
        catalog=catalog,
        priorities=priorities,
        seed_frontier=seeds,
        prior_seen=carried,
    )
