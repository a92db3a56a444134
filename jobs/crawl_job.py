"""Cluster entrypoint: run a crawl via spark-submit (the north rule's
deployment shape).

    zip -r /tmp/eget_spark.zip eget_spark
    spark-submit --py-files /tmp/eget_spark.zip jobs/crawl_job.py \
        --corpus hdfs://.../docs_parquet \
        --robots hdfs://.../robots_parquet \
        --seeds  https://example.com/ \
        --table-dir hdfs://.../crawl_run_01 \
        --max-depth 4 --max-pages 1000000 \
        --use-bloom auto --shuffle-partitions 2048

No ``master`` is set here — spark-submit / the cluster manager owns it; in
local test runs spark-submit defaults to local[*]. Executor sizing,
dynamic allocation, and the Iceberg catalog (``--catalog``) are likewise
submit-time concerns. The job prints one JSON line of crawl stats and, if
``--table-dir`` is given, leaves resumable round-partitioned state there
(re-submit with ``--resume`` after an interruption to continue).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="eget_spark crawl job")
    p.add_argument("--corpus", required=True, help="parquet/Iceberg path of the docs corpus (doc_id, spans, ...)")
    p.add_argument("--seeds", required=True, nargs="+", help="seed URL(s)")
    p.add_argument("--robots", default=None, help="parquet path of the robots table (host, disallow_prefixes, crawl_delay[, rules])")
    p.add_argument("--table-dir", default=None, help="directory/catalog namespace for resumable round state")
    p.add_argument("--catalog", default=None, help="Iceberg catalog name configured on the session")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--max-depth", type=int, default=3)
    p.add_argument("--max-pages", type=int, default=100)
    p.add_argument("--exclude", nargs="*", default=[])
    p.add_argument("--include", nargs="*", default=[])
    p.add_argument("--no-robots-txt", action="store_true")
    p.add_argument("--whole-web", action="store_true", help="do not restrict to the seed domain")
    p.add_argument("--use-bloom", default="auto", choices=["auto", "true", "false"])
    p.add_argument("--seen-filter", default="bloom", choices=["bloom", "cuckoo"],
                   help="approximate seen-set backing (cuckoo supports expiry deletes)")
    p.add_argument("--max-pages-per-host", type=int, default=None,
                   help="per-domain admission cap (spider-trap control)")
    p.add_argument("--auto-trap-threshold", type=float, default=None,
                   help="auto spider-trap throttle: exclude a host from "
                        "future admission once its dominant URL-template "
                        "share reaches this fraction (operators/traps.py "
                        "wired into the loop)")
    p.add_argument("--auto-trap-min-urls", type=int, default=50,
                   help="minimum admitted URLs before a host can be "
                        "trap-flagged")
    p.add_argument("--priorities", default=None,
                   help="parquet path of a (url, priority) table (e.g. PageRank) — "
                        "politeness budgets then go priority-first per host")
    p.add_argument("--round-window", type=float, default=10.0)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--output", default=None, help="optional parquet path for the final pages table")
    p.add_argument("--recrawl-expired-where", default=None,
                   help="TTL recrawl: SQL predicate over the PRIOR run's pages "
                        "table at --table-dir (e.g. \"round <= 2\"); matching "
                        "URLs are refetched at their prior crawl position, the "
                        "rest served from cache. The recrawl itself writes "
                        "round state to --recrawl-table-dir if given.")
    p.add_argument("--recrawl-table-dir", default=None,
                   help="round-state dir for the recrawl run (optional)")
    return p.parse_args(argv)


def main(argv: list[str], spark=None) -> int:
    args = parse_args(argv)
    owns_session = spark is None
    if owns_session:
        from pyspark.sql import SparkSession

        b = SparkSession.builder.appName("eget_spark_crawl")
        if args.shuffle_partitions:
            b = b.config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
        b = (
            b.config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
        )
        spark = b.getOrCreate()

    from eget_spark.plans.crawl import CrawlConfig, crawl

    docs = spark.read.parquet(args.corpus)
    robots = spark.read.parquet(args.robots) if args.robots else None
    cfg = CrawlConfig(
        seed_urls=args.seeds,
        max_depth=args.max_depth,
        max_pages=args.max_pages,
        exclude_patterns=args.exclude,
        include_patterns=args.include,
        respect_robots_txt=not args.no_robots_txt,
        restrict_domain=not args.whole_web,
        round_window=args.round_window,
        use_bloom={"auto": "auto", "true": True, "false": False}[args.use_bloom],
        seen_filter=args.seen_filter,
        max_pages_per_host=args.max_pages_per_host,
        auto_trap_threshold=args.auto_trap_threshold,
        auto_trap_min_urls=args.auto_trap_min_urls,
    )
    priorities = spark.read.parquet(args.priorities) if args.priorities else None
    t0 = time.monotonic()
    if args.recrawl_expired_where:
        # TTL recrawl against a completed prior run's round state
        if not args.table_dir:
            raise SystemExit("--recrawl-expired-where requires --table-dir "
                             "of the prior run")
        from eget_spark.plans.crawl import CrawlResult, recrawl
        from eget_spark.plans.tables import CrawlRun

        prior_run = CrawlRun(
            spark, args.table_dir, docs.schema["spans"].dataType, args.catalog
        )
        prior_pages = prior_run.read("docs").drop("partition_id")
        prior_order = prior_run.read("admitted")
        prior = CrawlResult(
            pages=prior_pages,
            order=prior_order,
            seen=prior_order.select("url"),
            stats=[],
        )
        expired = prior_pages.where(args.recrawl_expired_where).select("url")
        res = recrawl(
            spark, docs, cfg, prior, expired, robots=robots,
            table_dir=args.recrawl_table_dir, catalog=args.catalog,
            priorities=priorities,
        )
    else:
        res = crawl(
            spark, docs, cfg, robots=robots,
            table_dir=args.table_dir, resume=args.resume, catalog=args.catalog,
            priorities=priorities,
        )
    if args.output:
        res.pages.write.mode("overwrite").parquet(args.output)
        n_pages = spark.read.parquet(args.output).count()
    else:
        n_pages = res.pages.count()
    wall = time.monotonic() - t0
    last = res.stats[-1] if res.stats else None
    print(
        json.dumps(
            {
                "rounds": len(res.stats),
                "pages": n_pages,
                "seen": last.seen_total if last else 0,
                "success": last.success_total if last else 0,
                "wall_sec": round(wall, 3),
                "urls_per_sec": round((last.seen_total if last else 0) / max(wall, 1e-9), 2),
                "bloom_bits": res.bloom_bits,
            }
        )
    )
    if owns_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
