"""The benchmark's workloads and the checks on their outputs.

Every workload drives ``eget_spark`` through its public entry points, as
one client in a closed loop: the next request goes out when the previous
one has returned.  A workload is two functions:

- ``prepare(ctx, rng)`` draws the run's inputs from the seed and works out
  what every output must be, once, before anything is timed;
- ``iterate(ctx, inputs)`` runs one iteration: a fixed list of operations
  on those inputs.  Every iteration of a run does the same work.

An operation that raises or whose output differs from the expectation
counts as failed and the run goes on.  Expectations come without Spark:
``tests/oracle.py`` for crawl admission order, seen set and markdown, the
corpus generator for page spans, the generating blocks for converted
files, and DuckDB oracle digests (``prepare.py``) for curation queries.
"""

from __future__ import annotations

import json
import os
import random
import re
import shutil
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import __spark_entry__ as entry
import eget_spark.api as api
import eget_spark.plans.crawl as plan_crawl
import eget_spark.plans.tables as plan_tables
from eget_spark.operators.chunker import semantic_chunks
from eget_spark.sources.converters import convert_files
from eget_spark.sources.ooxml import build_docx_bytes, build_xlsx_bytes
from eget_spark.sources.pdfmini import build_pdf_bytes
from eget_spark.synth import SCALES, build_robots, doc_url, gen_doc, host_name
from tests.oracle import OracleConfig, oracle_crawl, oracle_markdown

from bench_proc import CpuMeter
from bench_stats import frame_digest
from prepare import CORPUS_SCALE, CURATE_QUERIES

SPEC = SCALES[CORPUS_SCALE]

# batch: one seed page per host, whole-web BFS, robots off.  The page cap
# binds on every seed, so each crawl admits the same number of URLs in
# three rounds.  Then the chunk service's request size.
WIDE_MAX_DEPTH = 2
WIDE_MAX_PAGES = 1000
CHUNK_URLS = 16

# api_mix: the convert endpoint's request size, and one site crawl as the
# crawl endpoint gets it, cut to depth 1
CONVERT_FILES = 6  # two each of docx, xlsx, pdf
SITE_MAX_DEPTH = 1
SITE_MAX_PAGES = 100
SITE_EXCLUDE = r"/p/0000\d$"  # one exclude pattern: pages 0-9 of a host
SITE_MIN_ADMITTED = 3  # a seed page with at least two same-host links

_WORDS = (
    "alpha bravo delta gamma harbor island jungle kernel lemon meadow "
    "nectar orbit pepper quartz river saddle timber velvet willow yonder"
).split()

_URL_RE = re.compile(r"^https://h(\d+)\.example\.com/p/(\d{5})$")


class SynthCorpus:
    """``url -> spans`` of the synthetic corpus, generated on demand with
    the same generator the Spark corpus comes from (what the oracle crawl
    reads instead of a fetch)."""

    def __init__(self):
        self._memo: dict[str, list[dict] | None] = {}

    def get(self, url: str, default=None):
        if url not in self._memo:
            self._memo[url] = self._gen(url)
        spans = self._memo[url]
        return default if spans is None else spans

    @staticmethod
    def _gen(url: str):
        m = _URL_RE.match(url)
        if not m:
            return None
        host, page = int(m.group(1)), int(m.group(2))
        if host >= SPEC.n_hosts or page >= SPEC.pages_of(host):
            return None
        return gen_doc(SPEC, host, page)["spans"]


@dataclass
class Op:
    """One timed operation of an iteration."""

    kind: str  # crawl, site_crawl, chunk, curate or convert
    name: str = ""  # the span it runs in (a curation op: curate.<query>)
    seconds: float = 0.0
    cpu_s: float = 0.0  # CPU seconds of the driver, JVM and Python workers
    ok: bool = False
    items: int = 0  # URLs fetched or chunked, rows curated or files converted
    md_bytes: int = 0  # markdown bytes a crawl's pages came to
    error: str = ""
    stats: list = field(default_factory=list)  # crawl RoundStats
    table_files: int = 0  # files a durable crawl left in its table_dir
    table_bytes: int = 0


@dataclass
class Context:
    spark: object
    tracer: object  # bench_trace.Tracer; its spans only tag jobs when tracing
    cache_dir: str  # a ready prepare.py cache
    work_dir: str  # scratch space of this run (durable crawl tables)
    corpus: SynthCorpus = field(default_factory=SynthCorpus)
    cpu: CpuMeter = field(default_factory=CpuMeter)
    docs: object = None
    robots: object = None
    robots_map: dict = field(default_factory=dict)  # host -> (disallow, delay)
    expected: dict = field(default_factory=dict)  # curation query -> digest
    check: bool = True  # off during warm-up: its outputs are not checked
    _tables: int = 0


def load_data(ctx: Context) -> None:
    """Set-up: read the corpus into memory and make the robots table."""
    ctx.docs = ctx.spark.read.parquet(os.path.join(ctx.cache_dir, "docs")).persist()
    ctx.docs.count()
    ctx.robots = build_robots(ctx.spark, CORPUS_SCALE)
    with open(os.path.join(ctx.cache_dir, "expected.json")) as fh:
        ctx.expected = json.load(fh)
    ctx.robots_map = {
        r["host"]: (list(r["disallow_prefixes"]), float(r["crawl_delay"]))
        for r in ctx.robots.collect()
    }


def _run_op(ctx: Context, kind: str, call, check, name: str = "") -> Op:
    """Time ``call`` (the program's work) and then, unless ``ctx.check`` is
    off, ``check`` its result (the benchmark's work, not timed).  Any
    exception fails the op."""
    op = Op(kind, name or f"op.{kind}")
    cpu0 = ctx.cpu.read()
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span(op.name):
            out = call(op)
        op.seconds = time.perf_counter() - t0
        op.cpu_s = ctx.cpu.read() - cpu0
        problem = check(op, out) if ctx.check else None
        op.ok = problem is None
        op.error = problem or ""
    except Exception as exc:  # a failed op is recorded, the run goes on
        op.seconds = time.perf_counter() - t0
        op.error = f"{type(exc).__name__}: {exc}"
        traceback.print_exc()
    return op


# ---------------------------------------------------------------------------
# crawls
# ---------------------------------------------------------------------------


@dataclass
class CrawlCase:
    """One crawl request and what it must produce."""

    shape: dict  # CrawlConfig / OracleConfig fields
    durable: bool  # with table_dir: round state goes through plans.tables
    want_order: list  # sorted (seq, url, depth, parent_url)
    want_seen: set
    want_md: dict  # url -> markdown of every page fetched


def crawl_case(ctx: Context, shape: dict, durable: bool) -> CrawlCase:
    robots = ctx.robots_map if shape.get("respect_robots_txt", True) else None
    want = oracle_crawl(ctx.corpus, OracleConfig(**shape), robots)
    return CrawlCase(
        shape=shape,
        durable=durable,
        want_order=sorted((s, u, d, p) for s, u, d, p, _ in want.order),
        want_seen=set(want.seen),
        want_md={
            url: oracle_markdown(ctx.corpus.get(url))
            for url, status, _ in want.pages
            if status == "ok"
        },
    )


def _run_crawl(ctx: Context, case: CrawlCase, op: Op):
    tr = ctx.tracer
    cfg = plan_crawl.CrawlConfig(**case.shape)
    robots = ctx.robots if case.shape.get("respect_robots_txt", True) else None
    table_dir = None
    if case.durable:
        ctx._tables += 1
        table_dir = os.path.join(ctx.work_dir, "tables", str(ctx._tables))
    with tr.span("crawl"):
        res = plan_crawl.crawl(ctx.spark, ctx.docs, cfg, robots=robots, table_dir=table_dir)
    # the pages as the crawl endpoint returns them: every page's markdown
    with tr.span("spans.markdown_pass"):
        md = {
            r["url"]: r["markdown"]
            for r in res.pages.where(F.col("status") == "ok")
            .select("url", "markdown")
            .collect()
        }
    op.stats = res.stats
    op.items = sum(s.attempted for s in res.stats)
    op.md_bytes = sum(len((m or "").encode()) for m in md.values())
    if table_dir is not None:
        files = [os.path.join(d, f) for d, _, fs in os.walk(table_dir) for f in fs]
        op.table_files = len(files)
        op.table_bytes = sum(os.path.getsize(f) for f in files)
    return res, md


def _check_crawl(case: CrawlCase, res, md) -> str | None:
    got_order = sorted(
        (r["seq"], r["url"], r["depth"], r["parent_url"])
        for r in res.order.select("seq", "url", "depth", "parent_url").collect()
    )
    if got_order != case.want_order:
        return f"admission order differs ({len(got_order)} vs {len(case.want_order)} rows)"
    got_seen = {r["url"] for r in res.seen.collect()}
    if got_seen != case.want_seen:
        return f"seen set differs ({len(got_seen)} vs {len(case.want_seen)} urls)"
    if md.keys() != case.want_md.keys():
        return f"fetched pages differ ({len(md)} vs {len(case.want_md)})"
    bad = [u for u, m in case.want_md.items() if md[u] != m]
    if bad:
        return f"markdown differs for {len(bad)} pages, e.g. {bad[0]}"
    return None


def crawl_op(ctx: Context, case: CrawlCase, kind: str) -> Op:
    def call(op):
        return _run_crawl(ctx, case, op)

    def check(op, out):
        return _check_crawl(case, *out)

    try:
        return _run_op(ctx, kind, call, check)
    finally:
        shutil.rmtree(os.path.join(ctx.work_dir, "tables"), ignore_errors=True)


# ---------------------------------------------------------------------------
# batch: a whole-web crawl, chunking and curation queries
# ---------------------------------------------------------------------------


def _sample_urls(rng: random.Random, n: int) -> list[str]:
    urls: list[str] = []
    while len(urls) < n:
        h = rng.randrange(SPEC.n_hosts)
        u = doc_url(h, rng.randrange(SPEC.pages_of(h)))
        if u not in urls:
            urls.append(u)
    return urls


def clean_markdown_py(md: str) -> str:
    """The reference's chunk-service markdown cleaning, in Python."""
    c = re.sub(r"\s+", " ", md)
    c = re.sub(r"(#{1,6})([^#\s])", r"\1 \2", c)
    c = re.sub(r"\n{3,}", "\n\n", c)
    c = re.sub(r"(\n\s*)-([^\s])", r"\1- \2", c)
    c = re.sub(r"(?s)<!--.*?-->", "", c)
    c = c.replace("&nbsp;", " ").replace("\xa0", " ")
    return re.sub(r"[ \t]+(\n|$)", r"\1", c)


def chunk_op(ctx: Context, urls: list[str], want: list[tuple]) -> Op:
    def call(op):
        op.items = len(urls)
        df = ctx.spark.createDataFrame([(u,) for u in urls], "url string")
        # every output column, as the endpoint returns them: a narrower
        # select would let column pruning skip work
        return api.chunk(df, ctx.docs).collect()

    def check(op, rows):
        got = sorted((r["doc_id"], r["position"], r["content"]) for r in rows)
        return None if got == want else f"chunks differ ({len(got)} vs {len(want)})"

    return _run_op(ctx, "chunk", call, check)


def curate_op(ctx: Context, query: str) -> Op:
    build = entry.queries()[query]
    sf_dir = os.path.join(ctx.cache_dir, "sf")

    def call(op):
        # every output column, so column pruning cannot skip work
        return build(ctx.spark, sf_dir).toPandas()

    def check(op, pdf):
        op.items = len(pdf)
        got = frame_digest(pdf)
        want = ctx.expected[query]
        return None if got == want else f"{query} digest {got} vs oracle {want}"

    return _run_op(ctx, "curate", call, check, name=f"curate.{query}")


def batch_prepare(ctx: Context, rng: random.Random) -> dict:
    seeds = [doc_url(h, rng.randrange(SPEC.pages_of(h))) for h in range(SPEC.n_hosts)]
    shape = dict(
        seed_urls=seeds,
        max_depth=WIDE_MAX_DEPTH,
        max_pages=WIDE_MAX_PAGES,
        respect_robots_txt=False,
        restrict_domain=False,
    )
    chunk_urls = _sample_urls(rng, CHUNK_URLS)
    queries = list(CURATE_QUERIES)
    rng.shuffle(queries)
    return {
        "crawl": crawl_case(ctx, shape, durable=False),
        "chunk_urls": chunk_urls,
        "chunks": sorted(
            (u, c["position"], c["content"])
            for u in chunk_urls
            for c in semantic_chunks(
                clean_markdown_py(oracle_markdown(ctx.corpus.get(u))), 1500, 200, False
            )
        ),
        "queries": queries,
    }


def batch_iterate(ctx: Context, inputs: dict) -> list[Op]:
    ops = [crawl_op(ctx, inputs["crawl"], "crawl")]
    ops.append(chunk_op(ctx, inputs["chunk_urls"], inputs["chunks"]))
    ops += [curate_op(ctx, q) for q in inputs["queries"]]
    return ops


# ---------------------------------------------------------------------------
# api_mix: the reference's crawl and convert endpoints
# ---------------------------------------------------------------------------


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi)))


def make_files(rng: random.Random, n: int) -> list[tuple[str, bytes, list[tuple]]]:
    """(path, bytes, expected (kind, text) spans) for ``n`` files cycling
    docx, xlsx and pdf.  The expectation is written from the blocks that
    generate each file."""
    out = []
    for i in range(n):
        kind = ("docx", "xlsx", "pdf")[i % 3]
        want: list[tuple] = []
        if kind == "docx":
            blocks = []
            for _ in range(rng.randint(3, 6)):
                level = rng.randint(1, 3)
                title = _words(rng, 2, 4).capitalize()
                body = _words(rng, 8, 30) + "."
                blocks.append({"type": "heading", "text": title, "level": level})
                blocks.append(
                    {"type": "paragraph", "runs": [(body, False, False, False)]}
                )
                want += [("heading", "#" * level + " " + title), ("paragraph", body)]
            data = build_docx_bytes(blocks)
        elif kind == "xlsx":
            sheets = []
            for s in range(rng.randint(1, 3)):
                rows = [["name", "count", "note"]] + [
                    [rng.choice(_WORDS), rng.randint(0, 999), _words(rng, 1, 3)]
                    for _ in range(rng.randint(3, 12))
                ]
                sheets.append((f"Sheet{s + 1}", rows))
                want += [
                    ("heading", f"## Sheet: Sheet{s + 1}"),
                    ("table", "\n".join("\t".join(str(c) for c in r) for r in rows)),
                ]
            data = build_xlsx_bytes(sheets)
        else:
            pages = []
            for p in range(rng.randint(1, 3)):
                lines = [_words(rng, 4, 10) + "." for _ in range(rng.randint(2, 5))]
                pages.append("\n".join([f"Chapter {p + 1}", *lines]))
                want += [
                    ("heading", f"## Page {p + 1}"),
                    ("heading", f"# Chapter {p + 1}"),
                    ("paragraph", " ".join(lines)),
                ]
            data = build_pdf_bytes(pages)
        out.append((f"upload/f{i:02d}-{rng.randrange(10**6):06d}.{kind}", data, want))
    return out


def convert_op(ctx: Context, files: list[tuple[str, bytes, list[tuple]]]) -> Op:
    def call(op):
        op.items = len(files)
        df = ctx.spark.createDataFrame(
            [(p, bytearray(b)) for p, b, _ in files], "path string, content binary"
        )
        return convert_files(df).collect()

    def check(op, rows):
        got = {
            r["doc_id"]: [
                (s["kind"], s["text"]) for s in sorted(r["spans"], key=lambda s: s["offset"])
            ]
            for r in rows
        }
        for path, _, want in files:
            if got.get(path) != want:
                return f"converted spans differ for {path}"
        return None

    return _run_op(ctx, "convert", call, check)


def site_crawl_case(ctx: Context, rng: random.Random) -> CrawlCase:
    """A reference-shaped site crawl: one seed on a host whose robots rules
    disallow a prefix, robots on, one exclude pattern, ``table_dir`` set.
    The seed page is drawn until it links to at least two pages of its own
    host, so every seed gives a crawl of the same shape (two rounds)."""
    hosts = [h for h in range(SPEC.n_hosts) if ctx.robots_map[host_name(h)][0]]
    while True:
        h = rng.choice(hosts)
        shape = dict(
            seed_urls=[doc_url(h, rng.randrange(10, SPEC.pages_of(h)))],
            max_depth=SITE_MAX_DEPTH,
            max_pages=SITE_MAX_PAGES,
            exclude_patterns=[SITE_EXCLUDE],
            respect_robots_txt=True,
            restrict_domain=True,
        )
        case = crawl_case(ctx, shape, durable=True)
        if len(case.want_order) >= SITE_MIN_ADMITTED:
            return case


def api_mix_prepare(ctx: Context, rng: random.Random) -> dict:
    kinds = ["convert", "site_crawl"]
    rng.shuffle(kinds)
    return {
        "kinds": kinds,
        "files": make_files(rng, CONVERT_FILES),
        "site": site_crawl_case(ctx, rng),
    }


def api_mix_iterate(ctx: Context, inputs: dict) -> list[Op]:
    requests = {
        "convert": lambda: convert_op(ctx, inputs["files"]),
        "site_crawl": lambda: crawl_op(ctx, inputs["site"], "site_crawl"),
    }
    return [requests[kind]() for kind in inputs["kinds"]]


# name -> (prepare, iterate)
WORKLOADS = {
    "batch": (batch_prepare, batch_iterate),
    "api_mix": (api_mix_prepare, api_mix_iterate),
}
# the traced run patches these names where plans.crawl imported them, and
# the round-table methods plans.crawl calls through CrawlRun
TRACED_OPERATORS = [
    (plan_crawl, "anti_join_seen", "seen.anti_join_seen"),
    (plan_crawl, "with_global_seq", "sequence.with_global_seq"),
    (plan_crawl, "schedule_round", "politeness.schedule_round"),
    (plan_crawl, "robots_allowed", "links.robots_allowed"),
    (plan_tables.RoundTable, "append", "tables.append"),
    (plan_tables.RoundTable, "read", "tables.read"),
    (plan_tables.RoundTable, "read_round", "tables.read"),
]
