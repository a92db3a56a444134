"""Crawl-order, seen-set, span-sequence and stats equality vs the oracle
(SURVEY.md §5.2-5.3) across config variants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import eget_spark.plans.crawl as plan_crawl
from eget_spark.plans.crawl import CrawlConfig, crawl
from eget_spark.synth import doc_url
from tests.oracle import OracleConfig, oracle_crawl, oracle_markdown

SEED = doc_url(0, 0)


def run_both(spark, docs_small, corpus_small, robots_df, robots_dict, **kw):
    cfg = CrawlConfig(seed_urls=[SEED], **kw)
    ocfg = OracleConfig(seed_urls=[SEED], **kw)
    res = crawl(spark, docs_small, cfg, robots=robots_df)
    ores = oracle_crawl(corpus_small, ocfg, robots=robots_dict)
    return res, ores


def assert_equal(res, ores):
    got_order = [
        (r["seq"], r["url"], r["depth"], r["parent_url"])
        for r in res.order.orderBy("seq").collect()
    ]
    want_order = [(s, u, d, p) for (s, u, d, p, _) in ores.order]
    assert got_order == want_order
    got_seen = {r["url"] for r in res.seen.collect()}
    assert got_seen == ores.seen
    ok = sum(1 for r in res.pages.collect() if r["status"] == "ok")
    assert ok == ores.success_count
    assert res.pages.count() - ok == ores.failed_count


@pytest.mark.parametrize(
    "kw",
    [
        dict(max_depth=2, max_pages=100),
        dict(max_depth=3, max_pages=50),  # max_pages truncation mid-round
        dict(max_depth=1, max_pages=10),
        dict(max_depth=3, max_pages=80, exclude_patterns=[r"/p/000[0-4]\d$"]),
        dict(max_depth=3, max_pages=60, include_patterns=[r"/p/\d+$"]),
        dict(
            max_depth=2,
            max_pages=120,
            exclude_patterns=[r"/p/.*9$"],
            include_patterns=[r"/p/0\d+"],
        ),
        dict(max_depth=2, max_pages=100, respect_robots_txt=False),
    ],
)
def test_crawl_matches_oracle(
    spark, docs_small, corpus_small, robots_small, robots_dict, kw
):
    res, ores = run_both(spark, docs_small, corpus_small, robots_small, robots_dict, **kw)
    assert_equal(res, ores)


def test_crawl_robots_disallow(spark, docs_small, corpus_small, robots_small, robots_dict):
    """Seed on h1 whose robots disallows /p/0001 (pages 00010-00019)."""
    seed = doc_url(1, 0)
    cfg = CrawlConfig(seed_urls=[seed], max_depth=3, max_pages=100)
    res = crawl(spark, docs_small, cfg, robots=robots_small)
    ores = oracle_crawl(
        corpus_small,
        OracleConfig(seed_urls=[seed], max_depth=3, max_pages=100),
        robots=robots_dict,
    )
    assert_equal(res, ores)
    for r in res.seen.collect():
        assert "/p/0001" not in r["url"][len("https://h1.example.com"):][:7] or r["url"] == seed


def test_crawl_politeness_budget(spark, docs_small, corpus_small, robots_small, robots_dict):
    """Seed on h2 (crawl_delay=0.5 -> budget 20/round at window 10s):
    deferred URLs carry over with original seq; final result identical."""
    seed = doc_url(2, 0)
    kw = dict(max_depth=3, max_pages=40, round_window=5.0)  # budget 10/round
    cfg = CrawlConfig(seed_urls=[seed], **kw)
    res = crawl(spark, docs_small, cfg, robots=robots_small)
    ores = oracle_crawl(
        corpus_small, OracleConfig(seed_urls=[seed], **kw), robots=robots_dict
    )
    assert_equal(res, ores)
    # politeness actually bit: more rounds than the BFS depth
    assert len(res.stats) > 3


def test_crawl_multihost_webscale(spark, docs_small, corpus_small, robots_small, robots_dict):
    """restrict_domain=False + multi-host seeds: the whole-web fleet mode."""
    seeds = [doc_url(i, 0) for i in range(4)]
    kw = dict(max_depth=2, max_pages=150, restrict_domain=False)
    res = crawl(
        spark, docs_small, CrawlConfig(seed_urls=seeds, **kw), robots=robots_small
    )
    ores = oracle_crawl(
        corpus_small, OracleConfig(seed_urls=seeds, **kw), robots=robots_dict
    )
    assert_equal(res, ores)
    hosts = {r["host"] for r in res.seen.join(
        docs_small.select(F.col("doc_id").alias("url"), "host"), "url").collect()}
    assert len(hosts) > 1  # cross-host links actually followed


def test_crawl_span_sequences_match_corpus(spark, docs_small, corpus_small, robots_small):
    """input_hint invariant: every emitted doc's (kind,text,media_ref,offset)
    sequence equals the corpus ground truth, and markdown equals the oracle
    render."""
    cfg = CrawlConfig(seed_urls=[SEED], max_depth=2, max_pages=60)
    res = crawl(spark, docs_small, cfg, robots=robots_small)
    rows = res.pages.where(F.col("status") == "ok").select(
        "url", "spans", "markdown"
    ).collect()
    assert rows
    for r in rows:
        want = corpus_small[r["url"]]
        got = [s.asDict() for s in r["spans"]]
        assert sorted(got, key=lambda s: s["offset"]) == sorted(
            want, key=lambda s: s["offset"]
        )
        assert r["markdown"] == oracle_markdown(want)


def test_crawl_duplicate_seeds(spark, docs_small, corpus_small, robots_small, robots_dict):
    """Duplicate seeds dedup first-occurrence-wins BEFORE the max_pages cap
    (reference add_url admits each URL once — queue_manager.py:46-57), so a
    duplicate never displaces a distinct seed under the cap."""
    seeds = [SEED, doc_url(0, 1), SEED, doc_url(0, 1), doc_url(0, 2)]
    kw = dict(max_depth=2, max_pages=4)
    res = crawl(spark, docs_small, CrawlConfig(seed_urls=seeds, **kw), robots=robots_small)
    ores = oracle_crawl(corpus_small, OracleConfig(seed_urls=seeds, **kw), robots=robots_dict)
    assert_equal(res, ores)
    assert res.order.count() == 4  # 3 distinct seeds + 1 crawled admission


def test_crawl_loop_never_collects_urls():
    """Scale guard (round-1 verdict fix #1): the crawl loop must not collect
    URL rows to the driver — bloom deltas are built distributed, admission
    counts derive from the sequencing offsets."""
    import inspect

    from eget_spark.plans import crawl as crawl_mod

    src = inspect.getsource(crawl_mod.crawl)
    assert ".collect()" not in src


def test_crawl_bloom_equals_exact(spark, docs_small, corpus_small, robots_small, robots_dict):
    kw = dict(max_depth=2, max_pages=100)
    res_exact, ores = run_both(
        spark, docs_small, corpus_small, robots_small, robots_dict, **kw
    )
    cfg = CrawlConfig(seed_urls=[SEED], use_bloom=True, bloom_fpp=0.2, **kw)
    res_bloom = crawl(spark, docs_small, cfg, robots=robots_small)
    assert_equal(res_bloom, ores)


def test_crawl_resume_identical(spark, docs_small, robots_small, tmp_path):
    """Kill after round k, resume from lineage -> identical docs/seen/order
    (SURVEY.md §5.6)."""
    kw = dict(max_depth=3, max_pages=80)
    full = crawl(spark, docs_small, CrawlConfig(seed_urls=[SEED], **kw), robots=robots_small)

    d = str(tmp_path / "run")
    cfg = CrawlConfig(seed_urls=[SEED], max_rounds=2, **{k: v for k, v in kw.items()})
    partial = crawl(spark, docs_small, cfg, robots=robots_small, table_dir=d)
    assert len(partial.stats) == 2

    cfg2 = CrawlConfig(seed_urls=[SEED], **kw)
    resumed = crawl(spark, docs_small, cfg2, robots=robots_small, table_dir=d, resume=True)

    want_order = [
        (r["seq"], r["url"], r["depth"], r["parent_url"])
        for r in full.order.orderBy("seq").collect()
    ]
    got_order = [
        (r["seq"], r["url"], r["depth"], r["parent_url"])
        for r in spark.read.option("basePath", f"{d}/rounds")
        .parquet(f"{d}/rounds/round=*/kind=admitted")
        .orderBy("seq")
        .collect()
    ]
    assert got_order == want_order
    got_seen = {r["url"] for r in resumed.seen.collect()}
    assert got_seen == {r["url"] for r in full.seen.collect()}
    full_pages = {
        (r["url"], r["status"]) for r in full.pages.collect()
    }
    resumed_pages = {
        (r["url"], r["status"])
        for r in spark.read.option("basePath", f"{d}/rounds")
        .parquet(f"{d}/rounds/round=*/kind=docs")
        .collect()
    }
    assert resumed_pages == full_pages
    # the RETURNED handles must also cover pre-resume rounds (round-1 advice
    # fix: pages/order used to silently omit rounds before the resume point)
    got_order_handle = [
        (r["seq"], r["url"], r["depth"], r["parent_url"])
        for r in resumed.order.orderBy("seq").collect()
    ]
    assert got_order_handle == want_order
    assert {
        (r["url"], r["status"]) for r in resumed.pages.collect()
    } == full_pages


def test_crawl_resume_keeps_prior_seen(spark, docs_small, robots_small, tmp_path):
    """A crawl with ``prior_seen`` stopped after round 1 and resumed with
    the same ``prior_seen`` equals the straight run: the prior URLs stay
    in ``seen`` and stay out of admission.  They are first linked from
    pages fetched in round 2, after the resume point."""
    kw = dict(max_depth=3, max_pages=80)
    base = crawl(spark, docs_small, CrawlConfig(seed_urls=[SEED], **kw), robots=robots_small)
    prior_urls = [
        r["url"] for r in base.order.where("round = 2").orderBy("seq").limit(5).collect()
    ]
    assert prior_urls
    prior = spark.createDataFrame([(u,) for u in prior_urls], "url string")

    def outcome(res):
        return {
            "order": sorted(
                (r["seq"], r["url"], r["depth"], r["parent_url"])
                for r in res.order.collect()
            ),
            "seen": sorted(r["url"] for r in res.seen.collect()),
            "pages": sorted(
                (r["url"], r["status"], r["round"]) for r in res.pages.collect()
            ),
        }

    straight = outcome(
        crawl(
            spark, docs_small, CrawlConfig(seed_urls=[SEED], **kw),
            robots=robots_small, prior_seen=prior,
        )
    )
    assert set(prior_urls) <= set(straight["seen"])
    assert not set(prior_urls) & {u for _, u, _, _ in straight["order"]}

    d = str(tmp_path / "run")
    partial = crawl(
        spark, docs_small, CrawlConfig(seed_urls=[SEED], max_rounds=1, **kw),
        robots=robots_small, table_dir=d, prior_seen=prior,
    )
    assert len(partial.stats) == 1
    resumed = crawl(
        spark, docs_small, CrawlConfig(seed_urls=[SEED], **kw),
        robots=robots_small, table_dir=d, resume=True, prior_seen=prior,
    )
    got = outcome(resumed)
    for key in straight:
        assert got[key] == straight[key], key


def test_crawl_auto_bloom(spark, docs_small, corpus_small, robots_small, robots_dict):
    """use_bloom='auto': exact-only below the threshold, bloom engaged (and
    results still oracle-identical) once the seen set crosses it."""
    kw = dict(max_depth=2, max_pages=100)
    ores = oracle_crawl(corpus_small, OracleConfig(seed_urls=[SEED], **kw), robots=robots_dict)
    cold = crawl(
        spark, docs_small,
        CrawlConfig(seed_urls=[SEED], use_bloom="auto", bloom_auto_threshold=10**9, **kw),
        robots=robots_small,
    )
    assert cold.bloom_bits is None  # never crossed: pure exact anti-join
    assert_equal(cold, ores)
    hot = crawl(
        spark, docs_small,
        CrawlConfig(seed_urls=[SEED], use_bloom="auto", bloom_auto_threshold=5, **kw),
        robots=robots_small,
    )
    assert hot.bloom_bits is not None  # engaged mid-crawl
    assert_equal(hot, ores)


def test_crawl_cuckoo_equals_exact(spark, docs_small, corpus_small, robots_small, robots_dict):
    """seen_filter='cuckoo': same crawl result as the exact path (the
    cuckoo prefilter + exact confirm contract, mirroring the bloom test)."""
    kw = dict(max_depth=2, max_pages=100)
    _, ores = run_both(spark, docs_small, corpus_small, robots_small, robots_dict, **kw)
    cfg = CrawlConfig(seed_urls=[SEED], use_bloom=True, seen_filter="cuckoo", **kw)
    res = crawl(spark, docs_small, cfg, robots=robots_small)
    assert_equal(res, ores)
    assert res.bloom_bits  # a cuckoo family actually engaged


def test_crawl_priority_budget(spark, docs_small, robots_small):
    """Priority crawl: under a 1-fetch/round politeness budget, the
    highest-priority pending URL wins the budget instead of FIFO; the
    final page set is unchanged."""
    seed = doc_url(2, 0)  # h2 has crawl_delay -> budget 1 at window 0.4
    kw = dict(max_depth=1, max_pages=30, round_window=0.4)
    base = crawl(spark, docs_small, CrawlConfig(seed_urls=[seed], **kw), robots=robots_small)
    fetched = {
        r["url"]: r["round"]
        for r in base.pages.where(F.col("status") == "ok").collect()
    }
    kids = {u: rnd for u, rnd in fetched.items() if u != seed}
    assert len(set(kids.values())) > 1  # budget 1: children spread over rounds
    victim = max(kids, key=lambda u: (kids[u], u))  # FIFO-last child
    assert kids[victim] > min(kids.values())
    pri = spark.createDataFrame([(victim, 9.9)], "url string, priority double")
    res = crawl(
        spark, docs_small, CrawlConfig(seed_urls=[seed], **kw),
        robots=robots_small, priorities=pri,
    )
    got = {
        r["url"]: r["round"]
        for r in res.pages.where(F.col("status") == "ok").collect()
    }
    assert set(got) == set(fetched)  # same pages eventually
    assert got[victim] == min(rnd for u, rnd in got.items() if u != seed)


def test_crawl_host_cap_matches_oracle(spark, docs_small, corpus_small, robots_small, robots_dict):
    """max_pages_per_host: admission-order host caps equal the sequential
    oracle's host counter (whole-web multi-seed mode), and the cap binds."""
    seeds = [doc_url(i, 0) for i in range(4)]
    kw = dict(max_depth=3, max_pages=120, restrict_domain=False, max_pages_per_host=10)
    res = crawl(spark, docs_small, CrawlConfig(seed_urls=seeds, **kw), robots=robots_small)
    ores = oracle_crawl(corpus_small, OracleConfig(seed_urls=seeds, **kw), robots=robots_dict)
    assert_equal(res, ores)
    per_host = {r["host"]: r["n"] for r in
                res.order.groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert max(per_host.values()) <= 10
    assert 10 in per_host.values()


def test_crawl_seen_compaction_identical(
    spark, docs_small, corpus_small, robots_small, robots_dict, monkeypatch
):
    """seen-part compaction (plan-hygiene for long crawls) must not change
    any result: force it every 2 rounds on a multi-round politeness crawl."""
    monkeypatch.setattr(plan_crawl, "SEEN_COMPACT_PARTS", 2)
    seed = doc_url(2, 0)
    kw = dict(max_depth=3, max_pages=40, round_window=5.0)
    cfg = CrawlConfig(seed_urls=[seed], **kw)
    res = crawl(spark, docs_small, cfg, robots=robots_small)
    ores = oracle_crawl(
        corpus_small, OracleConfig(seed_urls=[seed], **kw), robots=robots_dict
    )
    assert_equal(res, ores)
    assert len(res.stats) > 3  # multiple compactions actually occurred


def test_crawl_edge_cases(spark, docs_small, robots_small):
    """Pins the verify-probe edges: missing seed (clean stop, one failed
    page), max_pages=1 (seed only), max_depth=0 (no child generation)."""
    miss = crawl(
        spark, docs_small,
        CrawlConfig(seed_urls=["https://h0.example.com/p/99999"], max_depth=2, max_pages=10),
        robots=robots_small,
    )
    assert len(miss.stats) == 1
    assert (miss.stats[0].attempted, miss.stats[0].success, miss.stats[0].failed) == (1, 0, 1)
    rows = miss.pages.collect()
    assert len(rows) == 1 and rows[0]["status"] == "missing"

    one = crawl(
        spark, docs_small,
        CrawlConfig(seed_urls=[SEED], max_depth=3, max_pages=1),
        robots=robots_small,
    )
    assert one.order.count() == 1 and one.seen.count() == 1
    assert one.pages.where(F.col("status") == "ok").count() == 1

    shallow = crawl(
        spark, docs_small,
        CrawlConfig(seed_urls=[SEED], max_depth=0, max_pages=10),
        robots=robots_small,
    )
    assert shallow.order.count() == 1
    assert shallow.pages.count() == 1


def test_apply_host_cap_prefilters_full_hosts(spark):
    """The spider-trap guard: candidates of an already-full host are
    anti-joined away BEFORE the per-host rank window (plan shows the
    broadcast LeftAnti below the window), and the admitted rows equal the
    sequential host-counter semantics."""
    from pyspark.sql import functions as F

    from eget_spark.plans.crawl import apply_host_cap

    # hot host h0 already at cap 3; h1 has headroom 1 of 3
    host_counts = spark.createDataFrame(
        [("h0.example.com", 3), ("h1.example.com", 2)], "host string, _n long"
    )
    kids = spark.createDataFrame(
        [(f"https://h0.example.com/p/{i:05d}", 10 + i) for i in range(50)]
        + [(f"https://h1.example.com/p/{i:05d}", 100 + i) for i in range(5)]
        + [(f"https://h2.example.com/p/{i:05d}", 200 + i) for i in range(4)],
        "url string, parent_seq long",
    )
    out = apply_host_cap(kids, host_counts, cap=3)
    got = sorted(r["url"] for r in out.collect())
    # h0 full -> nothing; h1 -> exactly 1 (lowest parent_seq); h2 -> 3 of 4
    assert got == [
        "https://h1.example.com/p/00000",
        "https://h2.example.com/p/00000",
        "https://h2.example.com/p/00001",
        "https://h2.example.com/p/00002",
    ]
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the anti-join must sit BELOW the window (pre-filter, not post)
    anti = plan.find("LeftAnti")
    win = plan.find("Window")
    assert anti != -1 and win != -1
    assert anti > win  # physical plans print top-down: deeper = later
    assert "BroadcastHashJoin" in plan


# --- automatic spider-trap throttle (operators/traps.py as crawl control) ----

_TRAP_DDL = (
    "doc_id string, spans array<struct<"
    "kind string, text string, media_ref string, offset int>>"
)


def _link_doc(url, targets):
    spans = [("heading", "t", "", 0)] + [
        ("link", f"l{i}", t, i + 1) for i, t in enumerate(targets)
    ]
    return (url, spans)


def _trap_corpus(spark):
    """One calendar-trap host (an unbounded ?day=N family) plus one normal
    host with digit-free, template-diverse paths."""
    T = "https://trap.example.com"
    G = "https://good.example.com"
    # path-segment trap (/cal/12): the reference's normalization strips
    # query strings, so ?day=N families are already collapsed by F1 —
    # digit path segments are the family that actually reaches admission
    rows = [_link_doc(f"{T}/idx", [f"{T}/cal/{k}" for k in range(1, 6)])]
    for k in range(1, 61):
        rows.append(_link_doc(f"{T}/cal/{k}", [f"{T}/cal/{k + 5}"]))
    rows.append(_link_doc(f"{G}/idx", [f"{G}/alpha", f"{G}/beta"]))
    rows.append(_link_doc(f"{G}/alpha", [f"{G}/alpha/x", f"{G}/alpha/y"]))
    rows.append(_link_doc(f"{G}/beta", [f"{G}/beta/x", f"{G}/beta/y"]))
    for leaf in ("alpha/x", "alpha/y", "beta/x", "beta/y"):
        rows.append(_link_doc(f"{G}/{leaf}", []))
    return spark.createDataFrame(rows, _TRAP_DDL), T, G


def test_auto_trap_throttles_trap_host_only(spark):
    """Once the trap host's dominant URL template crosses the threshold
    with enough admissions, its future candidates are excluded — the
    non-trap host's crawl (urls, depths, lineage) is untouched."""
    docs, T, G = _trap_corpus(spark)
    base = dict(max_depth=10, max_pages=500, restrict_domain=False)
    seeds = [f"{T}/idx", f"{G}/idx"]
    off = crawl(spark, docs, CrawlConfig(seed_urls=seeds, **base))
    on = crawl(
        spark,
        docs,
        CrawlConfig(
            seed_urls=seeds, auto_trap_threshold=0.8, auto_trap_min_urls=10, **base
        ),
    )

    def by_host(res, host):
        return {
            (r["url"], r["depth"], r["parent_url"])
            for r in res.order.collect()
            if r["host"] == host
        }

    assert by_host(on, "good.example.com") == by_host(off, "good.example.com")
    # untouched crawl admits the whole depth-10 calendar chain: idx + day1..50
    assert len(by_host(off, "trap.example.com")) == 51
    # throttled: after round 2 the histogram is 11 urls with the /cal/N
    # template at 10/11 > 0.8 -> flagged; rounds 3+ admit nothing new
    assert len(by_host(on, "trap.example.com")) == 11


def test_auto_trap_inert_without_traps(spark):
    """A corpus with no trap host crawls identically (order, pages,
    markdown) with the policy on or off — the control is zero-impact
    until the trap signature actually appears."""
    docs, T, G = _trap_corpus(spark)
    good_only = docs.where(F.col("doc_id").startswith("https://good"))
    base = dict(
        seed_urls=[f"{G}/idx"], max_depth=10, max_pages=500, restrict_domain=False
    )
    off = crawl(spark, good_only, CrawlConfig(**base))
    on = crawl(
        spark,
        good_only,
        CrawlConfig(auto_trap_threshold=0.8, auto_trap_min_urls=10, **base),
    )

    def order_rows(res):
        return [
            (r["seq"], r["url"], r["host"], r["depth"], r["parent_url"])
            for r in res.order.orderBy("seq").collect()
        ]

    def page_rows(res):
        return sorted(
            (r["url"], r["status"], r["markdown"]) for r in res.pages.collect()
        )

    assert order_rows(on) == order_rows(off)
    assert page_rows(on) == page_rows(off)


def test_trap_fetch_budget_throttles_residual_fetches(spark):
    """Round-5 (verdict item #8): with trap_fetch_budget set, a flagged
    host's ALREADY-ADMITTED pages fetch at most budget-per-round through
    the standard politeness scheduler (deferral preserves FIFO order);
    the admitted set is unchanged vs auto-trap alone, every admitted page
    still gets fetched eventually, and the non-trap host is
    byte-identical."""
    docs, T, G = _trap_corpus(spark)
    base = dict(max_depth=10, max_pages=500, restrict_domain=False)
    seeds = [f"{T}/idx", f"{G}/idx"]
    trap_cfg = dict(auto_trap_threshold=0.8, auto_trap_min_urls=10)
    on = crawl(spark, docs, CrawlConfig(seed_urls=seeds, **trap_cfg, **base))
    bud = crawl(
        spark,
        docs,
        CrawlConfig(seed_urls=seeds, trap_fetch_budget=2, **trap_cfg, **base),
    )

    def by_host(res, host):
        return {
            (r["url"], r["depth"], r["parent_url"])
            for r in res.order.collect()
            if r["host"] == host
        }

    # same admissions either way; good host untouched
    assert by_host(bud, "good.example.com") == by_host(on, "good.example.com")
    assert by_host(bud, "trap.example.com") == by_host(on, "trap.example.com")
    # every admitted trap page still fetched (delayed, not dropped)
    trap_pages = bud.pages.where(
        (F.col("host") == "trap.example.com") & (F.col("status") == "ok")
    )
    assert trap_pages.count() == 11
    # flagging lands after round 2 (11 admitted, 10/11 > 0.8): from round
    # 3 on, the trap host fetches at most 2 per round — and must actually
    # defer (more rounds than the unbudgeted run)
    per_round = {
        r["round"]: r["cnt"]
        for r in trap_pages.groupBy("round").agg(F.count("*").alias("cnt")).collect()
    }
    assert all(c <= 2 for rnd, c in per_round.items() if rnd >= 3), per_round
    assert len(bud.stats) > len(on.stats)
    # FIFO within the throttled host: fetch order follows admission seq
    rounds_by_seq = [
        r["round"]
        for r in trap_pages.orderBy("seq").select("round").collect()
    ]
    assert rounds_by_seq == sorted(rounds_by_seq)
